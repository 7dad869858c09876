"""Perceptual image near-duplicate detection: dHash + Hamming-LSH.

Multimodal training pipelines (LAION-style) dedup images BEFORE
training: the same picture re-encoded at a different JPEG quality,
recompressed, or lightly resized is a near-duplicate that exact
byte-hashing misses. The pipeline here is the image analog of the
text MinHash-LSH ladder (operators/dedup.py):

  image_dhash           payload → 64-bit perceptual difference hash
                        (core/imagecodec.dhash64 — the repo's own
                        PNG/JPEG decoders, luminance grid, gradient
                        bits). Scan-side mapInPandas: payloads never
                        shuffle, the output is one (ref, long) row.
  hamming_band_buckets  64-bit hash → 8 bands of 8 bits; two hashes
                        within Hamming distance d share ≥ 1 identical
                        band whenever d ≤ 7 (pigeonhole over 8 blocks)
                        — the banded pre-filter that avoids the
                        all-pairs O(n²) distance join.
  image_dup_pairs       bucket → blocking.bucket_pairs (the shared
                        JVM expansion, no Python stage) with the exact
                        Hamming distance computed IN the pair row (the
                        (ref, hash) struct rides the bucket, so no
                        join back to the hash table re-derives the
                        decode) → distance ≤ max_distance pairs.
  image_dup_clusters    connected components over the pairs — delegates
                        to dedup.dedup_clusters' adaptive pointer-jump
                        loop, keeper = min ref.

Scale discipline (the dedup.py contract): banding bounds candidate
generation, max_bucket_size drops pathological buckets before
expansion (a solid-color meme template shared by millions of images
lands one bucket) with image_oversize_buckets as the quarantine
metadata sink — both through operators/blocking.py — and every
stage past the hash is narrow (ref + long). Reference parity: none —
the reference treats media as opaque URLs; this is the LLM-pipeline
brief (VERDICT r5 'What's missing #1').
"""

from __future__ import annotations

import posixpath
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .._pyworker import python_stage
from .blocking import bucket_pairs, oversize_buckets

IMAGE_HASH = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("dhash", LongType(), True),
        StructField("ahash", LongType(), True),
        StructField("decode_ok", StringType(), False),  # ok | stubbed | error
    ]
)


def image_dhash(media: DataFrame) -> DataFrame:
    """(media_ref, dhash, ahash, decode_ok) for kind='image' payloads.

    Both perceptual hashes from ONE decode (imagecodec.perceptual_
    hashes): dhash64 — 9×8 luminance grid, 64 gradient bits — keys on
    local structure; ahash64 — 8×8 cells vs the integer mean — keys
    on global layout and holds where dHash's zero-margin ties flip
    (flat meme-style images). Run the pair search on either column
    (hash_col=), or on both and union — the standard belt-and-braces
    pairing. Non-image / undecodable payloads degrade per-row to
    decode_ok='stubbed' (NotImplementedError ladder) or
    'error: <type>' — poison isolation, same as the other media
    operators. mapInPandas on the scan side: the image bytes are read
    once and never shuffle; everything downstream moves ~24 bytes/row."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.imagecodec import perceptual_hashes

        for batch in batches:
            records = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    dh, ah = perceptual_hashes(raw)
                    records.append(
                        {
                            "media_ref": ref,
                            "dhash": dh,
                            "ahash": ah,
                            "decode_ok": "ok",
                        }
                    )
                except (NotImplementedError, ValueError):
                    records.append(
                        {
                            "media_ref": ref,
                            "dhash": None,
                            "ahash": None,
                            "decode_ok": "stubbed",
                        }
                    )
                except Exception as exc:  # noqa: BLE001 — poison isolation
                    records.append(
                        {
                            "media_ref": ref,
                            "dhash": None,
                            "ahash": None,
                            "decode_ok": f"error: {type(exc).__name__}",
                        }
                    )
            yield pd.DataFrame.from_records(records)

    return (
        media.filter(F.col("modality") == "image")
        .select("media_ref", "payload")
        .mapInPandas(python_stage(hash_batch), schema=IMAGE_HASH)
    )


IMAGE_PDCT = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("pdct", LongType(), True),
        StructField("decode_ok", StringType(), False),
    ]
)


def image_pdct(media: DataFrame) -> DataFrame:
    """(media_ref, pdct, decode_ok): the DCT perceptual hash
    (core/imagecodec.pdct64 — fixed-point integer DCT-II over a 32×32
    luminance grid, median-thresholded low-frequency block) for
    kind='image' payloads. This is the hash to reach for on flat-heavy
    corpora where dHash's zero-margin tie bits jitter under lossy
    re-encode: quantization noise is high-frequency, the 8×8 DCT block
    is not. Needs images ≥ 32×32 (smaller payloads degrade to
    'stubbed' like any unsupported input). Same scan-side mapInPandas
    shape as image_dhash — payloads never shuffle — and the output
    plugs straight into the banded pair search
    (image_dup_pairs(hashes, hash_col='pdct'))."""

    def hash_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.imagecodec import pdct64

        for batch in batches:
            records = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                raw = bytes(payload) if payload is not None else b""
                try:
                    records.append(
                        {"media_ref": ref, "pdct": pdct64(raw), "decode_ok": "ok"}
                    )
                except (NotImplementedError, ValueError):
                    records.append(
                        {"media_ref": ref, "pdct": None, "decode_ok": "stubbed"}
                    )
                except Exception as exc:  # noqa: BLE001 — poison isolation
                    records.append(
                        {
                            "media_ref": ref,
                            "pdct": None,
                            "decode_ok": f"error: {type(exc).__name__}",
                        }
                    )
            yield pd.DataFrame.from_records(records)

    return (
        media.filter(F.col("modality") == "image")
        .select("media_ref", "payload")
        .mapInPandas(python_stage(hash_batch), schema=IMAGE_PDCT)
    )


def hamming_band_buckets(
    hashes: DataFrame,
    n_bands: int = 8,
    ref_col: str = "media_ref",
    hash_col: str = "dhash",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """(band_idx, band_val, members) buckets with ≥ 2 members, where
    members is the ref-sorted array of (ref, h, *carry) structs sharing
    the band value. Guarantee: Hamming(a, b) ≤ n_bands − 1 ⇒ a and b
    share at least one band (pigeonhole over the 64/n_bands-bit
    blocks). Arithmetic band extraction — (hash >> 8·b) & 255 is
    sign-safe on the two's-complement long — so the whole stage is
    codegen. One shuffle, keyed on (band_idx, band_val): 8 narrow rows
    per image, never the payload. `carry` names extra columns that
    ride in each member, so a verify step can run in the expanded row
    instead of joining back (video_dup_pairs carries each video's
    frame signature)."""
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    rows = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.struct(
            F.col(ref_col).alias("ref"),
            F.col(hash_col).alias("h"),
            *[F.col(c) for c in carry],
        ).alias("m"),
        *[
            F.shiftrightunsigned(F.col(hash_col), band_bits * b)
            .bitwiseAND(F.lit(mask))
            .alias(f"b{b}")
            for b in range(n_bands)
        ],
    )
    stack_args = ", ".join(f"{b}, b{b}" for b in range(n_bands))
    bands = rows.selectExpr(
        "m", f"stack({n_bands}, {stack_args}) AS (band_idx, band_val)"
    )
    return (
        bands.groupBy("band_idx", "band_val")
        .agg(F.sort_array(F.collect_list("m")).alias("members"))
        .filter(F.size("members") >= 2)
    )


def image_dup_pairs(
    hashes: DataFrame,
    max_distance: int = 3,
    n_bands: int = 8,
    max_bucket_size: int | None = 50,
    ref_col: str = "media_ref",
    hash_col: str = "dhash",
) -> DataFrame:
    """(ref_a, ref_b, distance) near-duplicate image pairs, ref_a <
    ref_b, exact Hamming distance ≤ max_distance.

    Banding finds every pair with distance ≤ n_bands − 1 (defaults:
    8 bands ⇒ complete for the max_distance=3 default with room to
    raise it). blocking.bucket_pairs drops buckets above
    max_bucket_size (image_oversize_buckets records them) and expands
    the rest in the JVM; each member carries its hash, so the exact
    xor+bit_count check runs in the pair row — no join back through
    the decode pipeline. distinct collapses pairs found by several
    bands."""
    buckets = hamming_band_buckets(hashes, n_bands, ref_col, hash_col)
    return (
        bucket_pairs(buckets, "members", max_bucket_size)
        .select(
            F.col("a.ref").alias("ref_a"),
            F.col("b.ref").alias("ref_b"),
            F.bit_count(F.col("a.h").bitwiseXOR(F.col("b.h")))
            .cast("long")
            .alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
        .distinct()
    )


def image_oversize_buckets(
    hashes: DataFrame,
    n_bands: int = 8,
    max_bucket_size: int = 50,
    ref_col: str = "media_ref",
    hash_col: str = "dhash",
) -> DataFrame:
    """The buckets image_dup_pairs dropped: (band_idx, band_val,
    n_refs) metadata for the quarantine/lineage sink."""
    buckets = hamming_band_buckets(hashes, n_bands, ref_col, hash_col)
    return oversize_buckets(
        buckets, "members", max_bucket_size, ("band_idx", "band_val"), "n_refs"
    )


def image_dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """(media_ref, cluster_id) connected components over near-dup
    image pairs, cluster_id = min ref of the component — the canonical
    keeper a curation pass retains. Delegates to the text ladder's
    dedup_clusters (adaptive pointer-jump min-agg loop) — identical
    exactness and scale behavior; only the id column names differ."""
    from .dedup import dedup_clusters

    renamed = pairs.select(
        F.col("ref_a").alias("doc_a"), F.col("ref_b").alias("doc_b")
    )
    return dedup_clusters(renamed, max_iterations).select(
        F.col("doc_id").alias("media_ref"), F.col("cluster_id")
    )


# --- incremental image-hash index (manifest-snapshot lifecycle) -----------

BAND_BITS = 8  # 64-bit hash / 8 bands — matches hamming_band_buckets


def _band_key_cols(hash_col: str, n_bands: int = 8) -> list:
    """band_key = band_idx·2^band_bits + band_val — ONE partition
    column (0..n_bands·256-1), so the generic snapshot compactor can
    treat this index kind exactly like the LSH bucket layout."""
    band_bits = 64 // n_bands
    mask = (1 << band_bits) - 1
    return [
        (
            F.lit(b * (1 << band_bits))
            + F.shiftrightunsigned(F.col(hash_col), band_bits * b).bitwiseAND(
                F.lit(mask)
            )
        ).cast("int").alias(f"bk{b}")
        for b in range(n_bands)
    ]


def _band_rows(
    hashes: DataFrame,
    n_bands: int = 8,
    ref_col: str = "media_ref",
    hash_col: str = "dhash",
) -> DataFrame:
    """(band_key, ref, h): the banded layout — n_bands narrow rows per
    image, partitionable and joinable on one int key."""
    rows = hashes.filter(F.col(hash_col).isNotNull()).select(
        F.col(ref_col).alias("ref"),
        F.col(hash_col).alias("h"),
        *_band_key_cols(hash_col, n_bands),
    )
    stack_args = ", ".join(f"bk{b}" for b in range(n_bands))
    return rows.selectExpr(
        "ref", "h", f"stack({n_bands}, {stack_args}) AS band_key"
    ).select("band_key", "ref", "h")


def build_image_hash_index(
    hashes: DataFrame,
    root: str,
    n_bands: int = 8,
    hash_col: str = "dhash",
    retain_snapshots: int = 1,
    mark_batch: tuple[str, int] | None = None,
) -> None:
    """Materialize the perceptual-hash index at `root`: banded rows
    partitioned by band_key under a fresh snapshot, committed through
    the same manifest protocol as every ANN index (exclusive-create
    publish, snapshot GC) — the store an INCREMENTAL crawl dedups new
    images against without rescanning history. ~n_bands·24 bytes per
    image; the payloads never enter the index.

    `mark_batch=(stream_id, batch_id)` records the committing
    micro-batch in the manifest's `applied` map IN the same atomic
    publish, so a foreachBatch replay (at-least-once) can detect the
    batch already landed and skip the re-append (streaming/
    image_stream.py's exactly-once-per-batch index discipline)."""
    from .ann_index import _gc_previous_snapshots, _new_data_dir, _publish_manifest

    ddir = _new_data_dir()
    _band_rows(hashes, n_bands, hash_col=hash_col).write.mode(
        "overwrite"
    ).partitionBy("band_key").parquet(posixpath.join(root, ddir))
    published = dict(kind="imghash", dirs=[ddir], n_bands=n_bands)
    if mark_batch is not None:
        published["applied"] = {mark_batch[0]: mark_batch[1]}
    published["version"] = _publish_manifest(root, published)
    _gc_previous_snapshots(root, published, retain=retain_snapshots)


def applied_batch(root: str, stream_id: str) -> int:
    """Last micro-batch id a `mark_batch` commit recorded for
    `stream_id` in the current manifest (-1 if none) — the replay
    guard the streaming gate consults before appending."""
    from .ann_index import current_manifest

    m = current_manifest(root)
    if m is None:
        return -1
    return int(m.get("applied", {}).get(stream_id, -1))


def append_to_image_hash_index(
    hashes: DataFrame,
    root: str,
    hash_col: str = "dhash",
    mark_batch: tuple[str, int] | None = None,
) -> None:
    """Incremental maintenance: band the new batch with the SAME
    layout (n_bands rides the manifest) and commit it as a new data
    dir via a MERGING publish — a racing committer that loses the
    exclusive create rebuilds over the winner's dirs (the
    append_to_ivf_index lost-update discipline). `mark_batch` rides
    the same publish (see build_image_hash_index) and is a NO-OP
    guard: if the current manifest already records this batch as
    applied, the append is skipped entirely (foreachBatch replay)."""
    from .ann_index import _new_data_dir, _publish_manifest, current_manifest

    m = current_manifest(root)
    if m is None:
        raise FileNotFoundError(f"no published index snapshot under {root}")
    if mark_batch is not None:
        sid, bid = mark_batch
        if int(m.get("applied", {}).get(sid, -1)) >= bid:
            return  # replayed batch: its data dir is already committed
    n_bands = int(m.get("n_bands", 8))
    ddir = _new_data_dir()
    _band_rows(hashes, n_bands, hash_col=hash_col).write.mode(
        "overwrite"
    ).partitionBy("band_key").parquet(posixpath.join(root, ddir))

    def _body(cur):
        base = cur or m
        body = dict(
            kind="imghash",
            dirs=base["dirs"] + [ddir],
            n_bands=n_bands,
        )
        applied = dict(base.get("applied", {}))
        if mark_batch is not None:
            applied[mark_batch[0]] = mark_batch[1]
        if applied:
            body["applied"] = applied
        return body

    _publish_manifest(root, _body)


def image_index_dedup(
    spark,
    root: str,
    new_hashes: DataFrame,
    max_distance: int = 3,
    hash_col: str = "dhash",
    broadcast_queries: bool = True,
    version: int | None = None,
    include_same_ref: bool = False,
) -> DataFrame:
    """(new_ref, stored_ref, distance): near-duplicates of the NEW
    batch against the STORED index — the incremental-crawl gate (drop
    or cluster the matches, then append_to_image_hash_index the
    survivors).

    Plan: the new batch bands in-row (n_bands small rows each); its
    DISTINCT band keys — a documented tiny driver collect, ≤ n_bands ×
    batch size values — become a STATIC partition filter pushed into
    every data dir of the snapshot scan (the ivf_knn_join workaround:
    DPP does not descend a Union), so the index read touches only the
    probed band directories. The banded equi-join then carries both
    hashes in-row; the exact xor+bit_count distance and the distinct
    collapse never re-touch the store. broadcast_queries=True (default)
    broadcasts the new side — right whenever the batch is
    crawl-batch-sized; False flips to the shuffle-hash regime for
    bulk-vs-bulk backfills.

    include_same_ref: by default a probe whose ref EQUALS a stored ref
    is filtered out — the streaming gate depends on this so a
    foreachBatch REPLAY re-probing a store that already holds this
    batch's hashes reproduces the original novel/dup split. A batch
    re-ingestion job (media_job --index-root) flips it to True so a
    re-crawl of an already-stored ref reads as a distance-0 stored
    dup instead of silently re-entering the index."""
    from .ann_index import current_manifest, read_index

    m = current_manifest(root, version)
    if m is None:
        raise FileNotFoundError(f"no published index snapshot under {root}")
    n_bands = int(m.get("n_bands", 8))
    probe = _band_rows(new_hashes, n_bands, hash_col=hash_col).select(
        "band_key", F.col("ref").alias("new_ref"), F.col("h").alias("new_h")
    )
    keys = [r["band_key"] for r in probe.select("band_key").distinct().collect()]
    stored = read_index(spark, root, m).filter(F.col("band_key").isin(keys))
    if broadcast_queries:
        probe = F.broadcast(probe)
    joined = stored.join(probe, "band_key")
    if not include_same_ref:
        joined = joined.filter(F.col("ref") != F.col("new_ref"))
    return (
        joined
        .select(
            "new_ref",
            F.col("ref").alias("stored_ref"),
            F.bit_count(F.col("h").bitwiseXOR(F.col("new_h")))
            .cast("long")
            .alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
        .distinct()
    )


def canonicalize_media_refs(
    df: DataFrame,
    clusters: DataFrame,
    broadcast_map: bool | None = None,
    broadcast_map_max: int = 2_000_000,
) -> DataFrame:
    """Rewrite the interleaved span corpus so every near-duplicate
    image points at its cluster's CANONICAL media_ref — the storage
    dedup that makes perceptual clustering pay off in the data model
    itself: after this pass the media store keeps ONE payload per
    visual cluster and every document still renders, because the spans
    (kind, text, media_ref, offset) keep their order and only the ref
    strings move. `clusters` is image_dup_clusters' (media_ref,
    cluster_id); refs outside any cluster pass through untouched.

    Two regimes, identical output (differential-tested):
      broadcast_map=True: the (dup ref → canonical) pairs collect to a
        broadcast dict and a scan-side mapInPandas rewrites each doc's
        span array in place. Documents NEVER shuffle; this is the
        trie-encoder broadcast pattern, and the collect is the
        documented driver agg of this operator.
      broadcast_map=False: the shuffle regime for when the dup set
        outgrows the driver — (doc_id, spans) explodes, left-joins the
        mapping on media_ref, and regroups by position; the span
        CONTENT pays one shuffle.
      broadcast_map=None (default): AUTO — count the mapping (one
        narrow agg over the already-narrow cluster table) and take the
        broadcast path only when it holds ≤ broadcast_map_max entries.
        At 100 TB the duplicate-ref set is exactly what gets huge
        (crawls are majority-dup), so the unguarded driver collect is
        never the default; the explicit booleans remain as overrides
        for callers that already know their mapping size."""
    mapping = clusters.filter(F.col("media_ref") != F.col("cluster_id")).select(
        "media_ref", "cluster_id"
    )
    if broadcast_map is None:
        broadcast_map = mapping.count() <= broadcast_map_max
    if broadcast_map:
        lut = {
            r["media_ref"]: r["cluster_id"] for r in mapping.collect()
        }
        spark = df.sparkSession
        bc = spark.sparkContext.broadcast(lut)
        schema = df.schema

        def rewrite(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            m = bc.value
            for pdf in batches:
                pdf = pdf.copy()
                pdf["spans"] = [
                    [
                        dict(s, media_ref=m.get(s["media_ref"], s["media_ref"]))
                        for s in spans
                    ]
                    if spans is not None
                    else None
                    for spans in pdf["spans"]
                ]
                yield pdf

        return df.mapInPandas(python_stage(rewrite), schema=schema)

    span_type = df.schema["spans"].dataType
    exploded = df.select("doc_id", F.posexplode("spans").alias("pos", "s"))
    rejoined = (
        exploded.join(mapping, exploded["s.media_ref"] == mapping["media_ref"], "left")
        .select(
            "doc_id",
            "pos",
            F.struct(
                F.col("s.kind").alias("kind"),
                F.col("s.text").alias("text"),
                F.coalesce(F.col("cluster_id"), F.col("s.media_ref")).alias(
                    "media_ref"
                ),
                F.col("s.offset").alias("offset"),
            ).alias("s"),
        )
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "s"))),
                lambda x: x["s"],
            ).alias("_rw")
        )
    )
    # empty/null span rows vanish through the explode — restore them
    # from the original column so both regimes are bit-equal
    return (
        df.withColumnRenamed("spans", "_orig")
        .join(rejoined, "doc_id", "left")
        .withColumn(
            "spans",
            F.when(F.col("_orig").isNull(), F.lit(None).cast(span_type)).otherwise(
                F.coalesce(F.col("_rw"), F.array().cast(span_type))
            ),
        )
        .drop("_orig", "_rw")
    )


def image_dup_pairs_both(
    hashes: DataFrame,
    max_distance: int = 3,
    n_bands: int = 8,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """The belt-and-braces detector the image_dhash docstring promises:
    pairs within `max_distance` on EITHER perceptual hash, with both
    distances reported — (ref_a, ref_b, dhash_distance,
    ahash_distance), a distance NULL when that hash alone would not
    have flagged the pair. dHash catches gradient/structure dups that
    aHash's global mean washes out; aHash catches flat-heavy dups
    whose dHash tie bits jitter — the union is the standard production
    policy. Two independent banded searches over the SAME narrow hash
    table (no extra decode), merged on the pair key."""
    d = image_dup_pairs(
        hashes, max_distance, n_bands, max_bucket_size, hash_col="dhash"
    ).withColumnRenamed("distance", "dhash_distance")
    a = image_dup_pairs(
        hashes, max_distance, n_bands, max_bucket_size, hash_col="ahash"
    ).withColumnRenamed("distance", "ahash_distance")
    return d.join(a, ["ref_a", "ref_b"], "full").select(
        "ref_a", "ref_b", "dhash_distance", "ahash_distance"
    )
