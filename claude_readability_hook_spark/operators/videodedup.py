"""Temporal video near-duplicate detection: per-frame perceptual
hashes → per-video signatures → banded candidate search → aligned
exact verify.

The missing modality in the dedup ladder (text MinHash-LSH in
dedup.py, image Hamming-LSH in imagededup.py): the same clip
re-encoded, re-muxed, or lightly recompressed is a near-duplicate
that byte-hashing misses and single-thumbnail image dedup sees only
one frame of. The ladder here:

  video_frame_hashes   MP4 payload → demux (core/mp4codec) → decode
                       each frame with the image ladder (MJPEG/PNG
                       samples; H.264 degrades per-frame to 'stubbed'
                       exactly like extract_video_frames) → 64-bit
                       dHash per frame. Scan-side mapInPandas: the
                       video bytes are read once and never shuffle;
                       output is ~32 bytes per frame.
  video_dup_candidates frame hashes → ONE aggregate to a per-video
                       signature (media_ref, sorted (sample_idx,
                       fhash) list) → the SAME 8-band Hamming-LSH as
                       images over the signature's frames (two frames
                       within Hamming distance 7 share a band,
                       pigeonhole), the signature carried in each
                       bucket member → one member per video →
                       blocking.bucket_pairs → distinct candidate
                       VIDEO pairs. Any video pair with ≥1 close
                       frame pair becomes a candidate, so the final
                       criterion below loses nothing (it requires ≥1
                       aligned frame within max_frame_distance ≤ 7).
  video_dup_pairs      candidate pairs with both signatures in the
                       row → exact aligned verify IN the row:
                       matched_frames (aligned frames within
                       max_frame_distance), n_frames = max(frame
                       counts), match_frac — keep pairs with
                       match_frac ≥ min_match_frac. No join back to
                       the frame table, so the decode runs once per
                       query.
  video_dup_clusters   connected components over the pairs (the
                       shared dedup_clusters pointer-jump loop),
                       keeper = min ref.

Scale discipline (the imagededup.py contract): banding bounds
candidate generation — no all-pairs video join anywhere; bucket caps
quarantine degenerate buckets (a station ident shared by millions of
clips); everything past the frame hash is narrow (ref, idx, long) —
the carried signature is at most max_frames (idx, long) structs, so
each bucket member stays O(max_frames) longs. The verify is an
O(max_frames²) in-row loop per CANDIDATE pair, the image ladder's
carry-the-hash shape: the plan is one linear chain from the decode,
with no second branch that would re-run it. Reference
parity: none — the reference treats media as opaque URLs; this is the
LLM-pipeline brief (VERDICT r6 'Next round #3').
"""

from __future__ import annotations

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
from .imagededup import hamming_band_buckets

VIDEO_FRAME_HASH = StructType(
    [
        StructField("media_ref", StringType(), False),
        StructField("sample_idx", LongType(), True),
        StructField("timestamp_ms", LongType(), True),
        StructField("fhash", LongType(), True),
        StructField("frame_ok", StringType(), False),
    ]
)


def video_frame_hashes(media: DataFrame, max_frames: int = 8) -> DataFrame:
    """(media_ref, sample_idx, timestamp_ms, fhash, frame_ok) for
    kind='video' payloads: demux the MP4 sample table, decode each
    frame with the image ladder (JPEG — MJPEG-in-MP4 — or PNG-in-MP4),
    and dHash the decoded luminance plane. Frames in codecs we don't
    carry degrade per-FRAME to frame_ok='stubbed' with real sampling
    metadata (the extract_video_frames honesty contract); undemuxable
    payloads emit one stubbed row. max_frames bounds work per video —
    at 8 frames the signature already separates re-encodes from
    distinct content, and the frame table stays O(8) rows/video."""

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..core.imagecodec import _decoded_lum, _dhash_from_plane
        from ..core.mp4codec import demux_mp4, is_mp4

        def frame_row(ref, idx, ts, raw):
            rec = {
                "media_ref": ref, "sample_idx": idx, "timestamp_ms": ts,
                "fhash": None, "frame_ok": "stubbed",
            }
            try:
                w, h, lum = _decoded_lum(raw)
                rec.update(fhash=_dhash_from_plane(w, h, lum), frame_ok="ok")
            except (NotImplementedError, ValueError):
                pass
            except Exception as exc:  # noqa: BLE001 — poison isolation
                rec["frame_ok"] = f"frame error: {type(exc).__name__}"
            return rec

        for batch in batches:
            records = []
            for ref, payload in zip(batch["media_ref"], batch["payload"]):
                raw = bytes(payload) if payload is not None else b""
                if not is_mp4(raw):
                    records.append(frame_row(ref, None, None, b""))
                    continue
                try:
                    parsed = demux_mp4(raw)
                    vid = [t for t in parsed["tracks"] if t["handler"] == "vide"]
                    if not vid:
                        records.append(frame_row(ref, None, None, b""))
                        continue
                    for i, (off, size, _ts, pts, _sync) in enumerate(
                        vid[0]["samples"][:max_frames]
                    ):
                        records.append(
                            frame_row(ref, i, pts, raw[off : off + size])
                        )
                except NotImplementedError:
                    records.append(frame_row(ref, None, None, b""))
                except Exception as exc:  # noqa: BLE001
                    records.append(
                        dict(
                            frame_row(ref, None, None, b""),
                            frame_ok=f"demux error: {type(exc).__name__}",
                        )
                    )
            yield pd.DataFrame.from_records(records)

    return (
        media.filter(F.col("modality") == "video")
        .select("media_ref", "payload")
        .mapInPandas(python_stage(decode), schema=VIDEO_FRAME_HASH)
    )


def video_dup_candidates(
    frame_hashes: DataFrame,
    n_bands: int = 8,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """Distinct (ref_a, ref_b) candidate video pairs, ref_a < ref_b:
    every pair of videos with at least one cross-video frame pair
    within Hamming distance n_bands − 1 (banding pigeonhole), via the
    image ladder's hamming_band_buckets on the frame-hash column. A
    video's OWN frames sharing a bucket (static shots) never pair.
    Buckets above max_bucket_size are dropped before the O(m²)
    expansion (video_oversize_buckets records them)."""
    return (
        _candidate_signatures(frame_hashes, n_bands, max_bucket_size)
        .select(F.col("a.ref").alias("ref_a"), F.col("b.ref").alias("ref_b"))
        .distinct()
    )


def _candidate_signatures(
    frame_hashes: DataFrame, n_bands: int, max_bucket_size: int | None
) -> DataFrame:
    """One row per (shared bucket, video pair): (a, b) structs of
    (ref, frames) signatures, a.ref < b.ref, frames the video's sorted
    (sample_idx, fhash) list. One aggregate builds the signatures;
    their frames are banded with the signature carried in each bucket
    member, so callers verify in-row instead of joining back to the
    frame table. The cap counts one member per decoded frame — the
    buckets video_oversize_buckets reports — and only then do the kept
    buckets collapse to one member per video and expand through
    blocking.bucket_pairs."""
    sigs = (
        frame_hashes.filter(F.col("frame_ok") == "ok")
        .groupBy("media_ref")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("sample_idx", "fhash"))
            ).alias("frames")
        )
    )
    grouped = hamming_band_buckets(
        sigs.select("media_ref", "frames", F.explode("frames.fhash").alias("fhash")),
        n_bands,
        ref_col="media_ref",
        hash_col="fhash",
        carry=("frames",),
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("members") <= max_bucket_size)
    # one member per video: a static shot's repeated frames collapse,
    # and refs come out strictly ascending (members sort on ref first),
    # so every expanded pair is a cross-video pair; a bucket left with
    # one video expands to no pair
    videos = grouped.select(
        F.array_distinct(
            F.transform(
                "members",
                lambda m: F.struct(m["ref"].alias("ref"), m["frames"].alias("frames")),
            )
        ).alias("members")
    )
    return bucket_pairs(videos, "members", None)


def video_oversize_buckets(
    frame_hashes: DataFrame,
    n_bands: int = 8,
    max_bucket_size: int = 50,
) -> DataFrame:
    """The buckets video_dup_candidates dropped: (band_idx, band_val,
    n_refs) quarantine metadata, one member per decoded frame."""
    ok = frame_hashes.filter(F.col("frame_ok") == "ok")
    buckets = hamming_band_buckets(ok, n_bands, hash_col="fhash")
    return oversize_buckets(
        buckets, "members", max_bucket_size, ("band_idx", "band_val"), "n_refs"
    )


def video_dup_pairs(
    frame_hashes: DataFrame,
    max_frame_distance: int = 3,
    min_match_frac: float = 0.5,
    n_bands: int = 8,
    max_bucket_size: int | None = 50,
) -> DataFrame:
    """(ref_a, ref_b, matched_frames, n_frames, match_frac) temporal
    near-duplicate video pairs, ref_a < ref_b.

    Semantics: align frames by sample_idx (re-encodes and re-muxes
    preserve sample order; trims are a different operator), count
    aligned frame pairs whose dHashes sit within max_frame_distance,
    normalize by n_frames = max of the two videos' decoded frame
    counts — so a short clip matching a prefix of a longer one does
    NOT score 1.0 — and keep pairs with match_frac ≥ min_match_frac
    (6dp-rounded; IEEE division is exactly rounded, so the DuckDB
    oracle reproduces the frac bit-for-bit).

    Plan: the candidate pairs carry both videos' frame signatures
    (_candidate_signatures), so the exact aligned verify runs IN the
    expanded row — no join back to the frame table, hence one decode
    per query however the plan is pruned. Three shuffles: signature,
    band, distinct."""
    fa, fb = F.col("a.frames"), F.col("b.frames")
    # per aligned (equal sample_idx) frame pair within distance — the
    # count an equi-join on (ref, sample_idx) would produce
    matched = F.aggregate(
        fa,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.size(
            F.filter(
                fb,
                lambda y: (y["sample_idx"] == x["sample_idx"])
                & (
                    F.bit_count(x["fhash"].bitwiseXOR(y["fhash"]))
                    <= max_frame_distance
                ),
            )
        ),
    )
    return (
        _candidate_signatures(frame_hashes, n_bands, max_bucket_size)
        .select(
            F.col("a.ref").alias("ref_a"),
            F.col("b.ref").alias("ref_b"),
            matched.alias("matched_frames"),
            F.greatest(F.size(fa), F.size(fb)).cast("long").alias("n_frames"),
        )
        .withColumn(
            "match_frac",
            F.round(
                F.col("matched_frames").cast("double")
                / F.col("n_frames").cast("double"),
                6,
            ),
        )
        .filter(F.col("match_frac") >= min_match_frac)
        .distinct()
    )


def video_dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """(media_ref, cluster_id) connected components over temporal
    near-dup pairs, cluster_id = min ref — the canonical keeper.
    Delegates to the shared dedup_clusters adaptive pointer-jump
    loop, same as image_dup_clusters."""
    from .dedup import dedup_clusters

    renamed = pairs.select(
        F.col("ref_a").alias("doc_a"), F.col("ref_b").alias("doc_b")
    )
    return dedup_clusters(renamed, max_iterations).select(
        F.col("doc_id").alias("media_ref"),
        F.col("cluster_id"),
    )
