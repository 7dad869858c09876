"""Perceptual image dedup (operators/imagededup.py + imagecodec.dhash64):
re-encode robustness (the LAION-style use case: same picture at a
different JPEG quality), Hamming-LSH completeness, bucket-cap
quarantine, cluster composition, and poison isolation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from claude_readability_hook_spark.core.imagecodec import (
    dhash64,
    encode_png,
)
from claude_readability_hook_spark.core.jpegcodec import encode_jpeg_gray


def _grid(seed: int, w: int = 24, h: int = 16):
    # smooth photo-like ramp: adjacent 9×8 samples differ by ≥ 16
    # luminance steps, so every dHash bit has real margin (exact-tie
    # bits — large perfectly flat regions — are coin flips under
    # lossy re-encode noise by construction, for ANY comparison hash;
    # the dhash64 docstring documents that boundary)
    if seed % 2:
        return [
            [max(0, 230 - 8 * x - 4 * y) for x in range(w)] for y in range(h)
        ]
    return [[min(255, 8 * x + 4 * y) for x in range(w)] for y in range(h)]


def _dist(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_dhash_deterministic_and_signed_roundtrip():
    png = encode_png(_grid(0))
    assert dhash64(png) == dhash64(png)
    # signed two's complement: value fits a 64-bit long either sign
    assert -(1 << 63) <= dhash64(png) < (1 << 63)


def test_dhash_survives_jpeg_reencode_at_two_qualities():
    """The core near-dup property: the SAME pixels re-encoded as JPEG
    (lossy, two different quant tables) stay within a few bits of the
    lossless PNG hash, while a different image is far away."""
    g = _grid(0)
    h_png = dhash64(encode_png(g))
    h_q1 = dhash64(encode_jpeg_gray(g, quant=[1] * 64))
    h_q4 = dhash64(encode_jpeg_gray(g, quant=[4] * 64))
    assert _dist(h_png, h_q1) <= 3
    assert _dist(h_png, h_q4) <= 3
    h_other = dhash64(encode_png(_grid(1)))
    assert _dist(h_png, h_other) > 10


def test_dhash_rejects_non_images_and_tiny_images():
    with pytest.raises(ValueError):
        dhash64(b"\x00" * 64)
    with pytest.raises(ValueError):
        dhash64(encode_png([[1, 2], [3, 4]]))  # smaller than the grid


def test_image_dhash_spark_poison_isolation(spark):
    from claude_readability_hook_spark.operators.imagededup import image_dhash
    from claude_readability_hook_spark.operators.multimodal import MEDIA

    rows = [
        {
            "media_ref": "good", "modality": "image",
            "payload": encode_png(_grid(0)), "width": 24, "height": 16,
            "duration_ms": None, "mime": "image/png",
        },
        {
            "media_ref": "junk", "modality": "image",
            "payload": b"\x00" * 99, "width": None, "height": None,
            "duration_ms": None, "mime": "image/png",
        },
        {
            "media_ref": "notimg", "modality": "audio",
            "payload": b"RIFF", "width": None, "height": None,
            "duration_ms": None, "mime": "audio/wav",
        },
    ]
    out = {
        r["media_ref"]: (r["dhash"], r["ahash"], r["decode_ok"])
        for r in image_dhash(spark.createDataFrame(rows, schema=MEDIA)).collect()
    }
    assert out["good"][2] == "ok"
    assert out["good"][0] is not None and out["good"][1] is not None
    assert out["junk"] == (None, None, "stubbed")
    assert "notimg" not in out  # modality filter


def _hash_df(spark, items):
    return spark.createDataFrame(
        [(r, h) for r, h in items], "media_ref string, dhash long"
    )


def test_pairs_exact_distance_and_banding_completeness(spark):
    """Every pair within distance ≤ 3 is found (8-band LSH is complete
    to distance 7), with the EXACT Hamming distance; far pairs are
    absent."""
    from claude_readability_hook_spark.operators.imagededup import (
        image_dup_pairs,
    )

    def signed(v):
        v &= (1 << 64) - 1
        return v - (1 << 64) if v >= (1 << 63) else v

    base = 0x0123456789ABCDEF
    items = [
        ("a", signed(base)),
        ("b", signed(base ^ 0b111)),      # distance 3 from a
        ("c", signed(base ^ (1 << 63))),  # distance 1 from a (sign bit!)
        ("d", signed(~base)),             # complement: distance 64
    ]
    pairs = image_dup_pairs(_hash_df(spark, items), max_distance=3)
    got = {(r["ref_a"], r["ref_b"]): r["distance"] for r in pairs.collect()}
    # buckets expand through blocking.bucket_pairs' JVM generators
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "posexplode" in plan and "sequence(" not in plan
    assert got[("a", "b")] == 3
    assert got[("a", "c")] == 1
    assert ("b", "c") not in got  # distance 4 > max_distance
    assert all("d" not in pair for pair in got)


def test_bucket_cap_drops_and_quarantines(spark):
    """A degenerate bucket (many identical hashes — the meme-template
    case) is dropped by the cap and surfaces in the oversize metadata
    sink instead of exploding to O(m²) pairs."""
    from claude_readability_hook_spark.operators.imagededup import (
        image_dup_pairs,
        image_oversize_buckets,
    )

    items = [(f"m{i}", 42) for i in range(30)] + [("x", 1 << 40), ("y", (1 << 40) ^ 1)]
    # cap + 1 refs whose hash puts them in 8 buckets of their own
    items += [(f"e{i:02d}", 0x0303030303030303) for i in range(11)]
    hashes = _hash_df(spark, items)
    pairs = image_dup_pairs(hashes, max_distance=3, max_bucket_size=10)
    got = {(r["ref_a"], r["ref_b"]) for r in pairs.collect()}
    assert got == {("x", "y")}  # the meme clique and the 11 were capped away
    over = image_oversize_buckets(hashes, max_bucket_size=10).collect()
    # the meme clique (30 refs) plus x/y's zero bands where they overlap
    assert over and all(r["n_refs"] in (30, 32, 11) for r in over)
    assert sum(r["n_refs"] == 11 for r in over) == 8
    # and without the cap the cliques expand fully: 30·29/2 + 11·10/2
    uncapped = image_dup_pairs(hashes, max_distance=3, max_bucket_size=None)
    assert uncapped.count() == 30 * 29 // 2 + 1 + 11 * 10 // 2


def test_clusters_transitive_closure(spark):
    """A ≈ B ≈ C chains into one cluster keyed by the min ref, via the
    shared connected-components loop."""
    from claude_readability_hook_spark.operators.imagededup import (
        image_dup_clusters,
        image_dup_pairs,
    )

    base = 0x7EADBEEF0BADF00D
    items = [
        ("imgA", base),
        ("imgB", base ^ 0b11),        # d(A,B)=2
        ("imgC", base ^ 0b11 ^ 0xC),  # d(B,C)=2, d(A,C)=4 — chain only
        ("imgZ", base ^ ((1 << 50) - 1)),
    ]
    pairs = image_dup_pairs(_hash_df(spark, items), max_distance=3)
    got = {
        r["media_ref"]: r["cluster_id"] for r in image_dup_clusters(pairs).collect()
    }
    assert got == {"imgA": "imgA", "imgB": "imgA", "imgC": "imgA"}


def test_planted_twin_fixture_distance(spark):
    """The driver fixture's invariant: anagram-prefix twins ('ia:N' /
    'ai:N' share the ascii-sum seed) sit at Hamming distance ≤ 1."""
    from claude_readability_hook_spark.operators.imagededup import image_dhash
    from claude_readability_hook_spark.operators.multimodal import (
        synthesize_media_table,
    )

    base = synthesize_media_table(
        spark, [f"ia:{i}" for i in range(6)], real_png_dhash=True
    )
    twin = synthesize_media_table(
        spark, [f"ai:{i}" for i in range(6)], real_png_dhash=True, dhash_twin=True
    )
    hashes = {
        r["media_ref"]: r["dhash"]
        for r in image_dhash(base.unionByName(twin)).collect()
    }
    for i in range(6):
        assert _dist(hashes[f"ia:{i}"], hashes[f"ai:{i}"]) <= 1


def test_ahash_survives_reencode_on_flat_blocky_images():
    """The case dHash's tie bits are unstable on (documented boundary):
    a flat-blocky meme-style image re-encoded as JPEG. aHash cells sit
    far from the global mean (strong 40/200 contrast), so the re-encode
    noise never crosses it — distance ~0 where dHash jitters."""
    from claude_readability_hook_spark.core.imagecodec import ahash64

    blocky = [
        [200 if (x // 6 + y // 4) % 2 else 40 for x in range(24)]
        for y in range(16)
    ]
    h_png = ahash64(encode_png(blocky))
    h_jpg = ahash64(encode_jpeg_gray(blocky))
    assert _dist(h_png, h_jpg) <= 3
    inverted = [[240 - v for v in row] for row in blocky]
    assert _dist(h_png, ahash64(encode_png(inverted))) > 40


def test_pair_search_on_ahash_column(spark):
    """The banding machinery is hash-generic: hash_col='ahash' runs the
    identical pair search on the average hash."""
    from claude_readability_hook_spark.operators.imagededup import (
        image_dup_pairs,
    )

    df = spark.createDataFrame(
        [("a", 7, 100), ("b", 7 ^ 1, 101), ("c", 7, -100)],
        "media_ref string, dhash long, ahash long",
    )
    got = {
        (r["ref_a"], r["ref_b"]): r["distance"]
        for r in image_dup_pairs(df, max_distance=3, hash_col="ahash").collect()
    }
    assert got == {("a", "b"): bin(100 ^ 101).count("1")}


def test_perceptual_hashes_one_decode_matches_singles():
    from claude_readability_hook_spark.core.imagecodec import (
        ahash64,
        dhash64,
        perceptual_hashes,
    )

    png = encode_png(_grid(0))
    assert perceptual_hashes(png) == (dhash64(png), ahash64(png))


def test_image_hash_index_lifecycle(spark, tmp_path):
    """Build → probe → append → probe → compact → probe: the
    incremental-crawl gate. Matches survive every lifecycle step,
    the probe scan carries a static band_key partition filter, and
    compaction collapses the appended dirs into one while carrying
    n_bands through the manifest."""
    from claude_readability_hook_spark.operators.ann_index import (
        compact_ivf_index,
        current_manifest,
    )
    from claude_readability_hook_spark.operators.imagededup import (
        append_to_image_hash_index,
        build_image_hash_index,
        image_index_dedup,
    )

    root = str(tmp_path / "imgidx")
    stored = _hash_df(
        spark, [("s1", 1000), ("s2", 1 << 50), ("s3", -12345)]
    )
    build_image_hash_index(stored, root)

    new = _hash_df(spark, [("n1", 1000 ^ 0b11), ("n2", 777777)])
    got = {
        (r["new_ref"], r["stored_ref"]): r["distance"]
        for r in image_index_dedup(spark, root, new).collect()
    }
    assert got == {("n1", "s1"): 2}

    # plan: the probe pushes a static band_key IN (...) partition filter
    plan = image_index_dedup(spark, root, new)._jdf.queryExecution().executedPlan().toString()
    assert "band_key" in plan

    # append a second batch; probes see both dirs
    append_to_image_hash_index(_hash_df(spark, [("s4", 777777 ^ 1)]), root)
    m = current_manifest(root)
    assert len(m["dirs"]) == 2 and m["n_bands"] == 8
    got2 = {
        (r["new_ref"], r["stored_ref"]): r["distance"]
        for r in image_index_dedup(spark, root, new).collect()
    }
    assert got2 == {("n1", "s1"): 2, ("n2", "s4"): 1}

    # generic compaction collapses to one dir, results identical
    compact_ivf_index(spark, root)
    m2 = current_manifest(root)
    assert len(m2["dirs"]) == 1 and m2["n_bands"] == 8
    got3 = {
        (r["new_ref"], r["stored_ref"]): r["distance"]
        for r in image_index_dedup(spark, root, new).collect()
    }
    assert got3 == got2

    # shuffle regime agrees with the broadcast default
    got4 = {
        (r["new_ref"], r["stored_ref"]): r["distance"]
        for r in image_index_dedup(
            spark, root, new, broadcast_queries=False
        ).collect()
    }
    assert got4 == got2


def test_canonicalize_media_refs_both_regimes(spark):
    """Span rewrite: dup refs move to the cluster keeper, keepers and
    unclustered refs pass through, span order/text/offsets untouched,
    non-span columns preserved — broadcast and shuffle regimes
    bit-equal."""
    from claude_readability_hook_spark.operators.imagededup import (
        canonicalize_media_refs,
    )

    clusters = spark.createDataFrame(
        [("imgA", "imgA"), ("imgB", "imgA"), ("imgC", "imgA")],
        "media_ref string, cluster_id string",
    )
    docs = spark.createDataFrame(
        [
            (
                "d1",
                "k1",
                [
                    ("text", "hello", "", 0),
                    ("media", "", "imgB", 1),
                    ("media", "", "imgZ", 2),
                ],
            ),
            ("d2", "k2", [("media", "", "imgC", 0), ("media", "", "imgA", 1)]),
            ("d3", "k3", []),
        ],
        "doc_id string, extra string, spans array<struct<kind string, "
        "text string, media_ref string, offset int>>",
    )

    def norm(df):
        return sorted(
            (
                r["doc_id"],
                r["extra"],
                tuple(map(tuple, r["spans"])) if r["spans"] is not None else None,
            )
            for r in df.collect()
        )

    a = norm(canonicalize_media_refs(docs, clusters, broadcast_map=True))
    b = norm(canonicalize_media_refs(docs, clusters, broadcast_map=False))
    assert a == b
    byid = {d: s for d, _x, s in a}
    assert byid["d1"] == (
        ("text", "hello", "", 0),
        ("media", "", "imgA", 1),   # dup -> keeper
        ("media", "", "imgZ", 2),   # unclustered passthrough
    )
    assert byid["d2"] == (("media", "", "imgA", 0), ("media", "", "imgA", 1))
    assert byid["d3"] == ()

    # AUTO regime (default): picks broadcast under the threshold,
    # flips to the shuffle plan when the mapping outgrows it — the
    # driver collect is never unguarded.
    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    small = canonicalize_media_refs(docs, clusters)  # 2 dup refs <= default max
    assert "MapInPandas" in plan(small)
    big = canonicalize_media_refs(docs, clusters, broadcast_map_max=1)
    assert "MapInPandas" not in plan(big)
    assert norm(small) == a
    assert norm(big) == a


def test_dual_hash_pairs_union_semantics(spark):
    """image_dup_pairs_both: a pair flagged by only one hash carries a
    NULL for the other; pairs flagged by both carry both distances."""
    from claude_readability_hook_spark.operators.imagededup import (
        image_dup_pairs_both,
    )

    df = spark.createDataFrame(
        [
            ("a", 100, 5000),
            ("b", 101, 5001),          # close on BOTH
            ("c", 100 ^ 0b11, 1 << 40),  # close on dhash only
            ("d", 1 << 30, 5000 ^ 0b1),  # close on ahash only (to a)
        ],
        "media_ref string, dhash long, ahash long",
    )
    got = {
        (r["ref_a"], r["ref_b"]): (r["dhash_distance"], r["ahash_distance"])
        for r in image_dup_pairs_both(df, max_distance=3).collect()
    }
    assert got[("a", "b")] == (1, 1)
    assert got[("a", "c")] == (2, None)
    assert got[("a", "d")] == (None, 1)
    assert ("c", "d") not in got


def test_pdct_flat_heavy_robustness():
    """The r6 dHash-tie lesson, closed: on a flat-heavy image a
    checkerboard ±1 'lossy re-encode' perturbation flips many dHash
    bits (zero-margin ties) but ≤2 pDCT bits — quantization noise is
    high-frequency, the median-thresholded 8×8 DCT block is not."""
    from claude_readability_hook_spark.core.imagecodec import (
        dhash64,
        encode_png,
        pdct64,
    )

    w, h = 48, 40
    grid = [[200] * w for _ in range(h)]
    for y in range(10, 22):
        for x in range(14, 26):
            grid[y][x] = 60
    twin = [
        [min(255, v + ((x + y) % 2)) for x, v in enumerate(row)]
        for y, row in enumerate(grid)
    ]

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    d_flips = ham(dhash64(encode_png(grid)), dhash64(encode_png(twin)))
    p_flips = ham(pdct64(encode_png(grid)), pdct64(encode_png(twin)))
    assert d_flips > 10  # the motivating failure: tie bits jitter
    assert p_flips <= 2  # pDCT holds
    # and distinct images stay far apart (no degenerate collapse)
    other = encode_png([[(7 * x + 13 * y) % 256 for x in range(w)] for y in range(h)])
    assert ham(pdct64(encode_png(grid)), pdct64(other)) > 10


def test_image_pdct_operator_and_pairs(spark):
    """image_pdct over synthesized payloads: valid ≥32×32 images hash
    'ok', undersized ones degrade to 'stubbed', and the existing banded
    pair search runs unchanged on hash_col='pdct' (twin images land at
    distance ≤ 2)."""
    from claude_readability_hook_spark.core.imagecodec import encode_png
    from claude_readability_hook_spark.operators.imagededup import (
        image_dup_pairs,
        image_pdct,
    )
    from claude_readability_hook_spark.operators.multimodal import MEDIA

    def row(ref, grid):
        return {
            "media_ref": ref, "modality": "image", "payload": encode_png(grid),
            "width": len(grid[0]), "height": len(grid), "duration_ms": None,
            "mime": "image/png",
        }

    flat = [[200] * 40 for _ in range(36)]
    for y in range(8, 18):
        for x in range(10, 20):
            flat[y][x] = 60
    noisy = [
        [min(255, v + ((x + y) % 2)) for x, v in enumerate(r)]
        for y, r in enumerate(flat)
    ]
    grad = [[(120 + 3 * x + 5 * y) % 256 for x in range(40)] for y in range(36)]
    tiny = [[9] * 8 for _ in range(8)]  # below the 32×32 grid
    media = spark.createDataFrame(
        [row("f", flat), row("f2", noisy), row("g", grad), row("t", tiny)],
        schema=MEDIA,
    )
    hashes = image_pdct(media)
    got = {r["media_ref"]: r for r in hashes.collect()}
    assert got["f"]["decode_ok"] == "ok" and got["f"]["pdct"] is not None
    assert got["t"]["decode_ok"] == "stubbed" and got["t"]["pdct"] is None
    ok = hashes.filter("decode_ok = 'ok'")
    pairs = {
        (r["ref_a"], r["ref_b"]): r["distance"]
        for r in image_dup_pairs(ok, max_distance=3, hash_col="pdct").collect()
    }
    assert ("f", "f2") in pairs and pairs[("f", "f2")] <= 2
    assert ("f", "g") not in pairs and ("f2", "g") not in pairs
