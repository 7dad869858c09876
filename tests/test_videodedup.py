"""Temporal video dedup (operators/videodedup.py): frame-hash
extraction shape/determinism, planted-twin recovery, prefix
normalization (short clip vs long clip never scores 1.0), bucket-cap
quarantine, cluster closure, and poison isolation — the imagededup
test contract lifted to the video modality."""

from __future__ import annotations

from pyspark.sql import functions as F

from claude_readability_hook_spark.core.imagecodec import encode_png
from claude_readability_hook_spark.core.mp4codec import encode_minimal_mp4
from claude_readability_hook_spark.operators.multimodal import (
    synthesize_media_table,
)
from claude_readability_hook_spark.operators.videodedup import (
    video_dup_candidates,
    video_dup_clusters,
    video_dup_pairs,
    video_frame_hashes,
    video_oversize_buckets,
)


def _gradient_mp4(seed: int, n_frames: int, w: int = 24, h: int = 16) -> bytes:
    frames = [
        encode_png(
            [[(seed + 17 * f + 5 * x + 11 * y) % 256 for x in range(w)] for y in range(h)]
        )
        for f in range(n_frames)
    ]
    return encode_minimal_mp4(sample_payloads=frames)


def _media_df(spark, rows):
    return spark.createDataFrame(
        [
            {
                "media_ref": r[0],
                "modality": "video",
                "payload": r[1],
                "width": 24,
                "height": 16,
                "duration_ms": 40,
                "mime": "video/mp4",
            }
            for r in rows
        ]
    )


def test_frame_hashes_shape_and_determinism(spark):
    media = synthesize_media_table(
        spark, [f"va:{i}" for i in range(4)], real_png_mp4=True
    )
    fh = video_frame_hashes(media)
    rows = fh.orderBy("media_ref", "sample_idx").collect()
    # per-fixture frame count is 3 + seed % 3 — every frame decodes
    by_ref: dict[str, list] = {}
    for r in rows:
        by_ref.setdefault(r.media_ref, []).append(r)
    assert set(by_ref) == {f"va:{i}" for i in range(4)}
    for ref, frames in by_ref.items():
        assert all(f.frame_ok == "ok" for f in frames)
        assert [f.sample_idx for f in frames] == list(range(len(frames)))
        assert 3 <= len(frames) <= 5
        # pts strictly ascending (delta 40 ms from the synthesizer)
        ts = [f.timestamp_ms for f in frames]
        assert ts == sorted(ts) and len(set(ts)) == len(ts)
    again = video_frame_hashes(media).orderBy("media_ref", "sample_idx").collect()
    assert [r.fhash for r in again] == [r.fhash for r in rows]


def test_max_frames_bounds_signature_work(spark):
    media = _media_df(spark, [("v:long", _gradient_mp4(7, 6))])
    fh = video_frame_hashes(media, max_frames=2)
    assert fh.count() == 2
    assert fh.agg(F.max("sample_idx")).first()[0] == 1


def test_planted_twin_recovered_and_prefix_not_full_score(spark):
    base = synthesize_media_table(
        spark, [f"va:{i}" for i in range(6)], real_png_mp4=True
    )
    twin = synthesize_media_table(
        spark, [f"av:{i}" for i in range(6)], real_png_mp4=True, video_twin=True
    )
    fh = video_frame_hashes(base.unionByName(twin))
    pairs = video_dup_pairs(fh).collect()
    found = {(r.ref_a, r.ref_b) for r in pairs}
    for i in range(6):
        a, b = sorted([f"va:{i}", f"av:{i}"])
        assert (a, b) in found
    # twin differs by one low-order bit of ONE frame at most: every
    # aligned frame matches at distance ≤ 3 ⇒ frac 1.0 on the twin pair
    twin_rows = [
        r
        for r in pairs
        if {r.ref_a, r.ref_b} == {"va:0", "av:0"}
    ]
    assert twin_rows and twin_rows[0].match_frac == 1.0
    assert twin_rows[0].n_frames == twin_rows[0].matched_frames


def test_pairs_plan_decodes_once(spark):
    # the pairs plan is one chain from the decode: signature aggregate,
    # banding with the signature carried, in-row verify — no branch
    # joins back to the frame table and re-runs the Python decode
    base = synthesize_media_table(
        spark, [f"va:{i}" for i in range(4)], real_png_mp4=True
    )
    twin = synthesize_media_table(
        spark, [f"av:{i}" for i in range(4)], real_png_mp4=True, video_twin=True
    )
    pairs = video_dup_pairs(video_frame_hashes(base.unionByName(twin)))
    assert len(pairs.collect()) == 4
    # with AQE on, the top-level string also prints the initial plan;
    # the inner executedPlan is the final one that ran
    final = pairs._jdf.queryExecution().executedPlan().executedPlan().toString()
    assert final.count("MapInPandas") == 1
    # the collapsed buckets expand through JVM generators
    assert "posexplode" in final and "sequence(" not in final


def test_prefix_clip_normalized_by_longer_video(spark):
    # same content, one video carries 3 extra frames: matched_frames
    # = 3 aligned, n_frames = 6 ⇒ frac 0.5 (kept at the default
    # threshold, but NOT 1.0 — the max() normalization contract)
    media = _media_df(
        spark,
        [("v:short", _gradient_mp4(3, 3)), ("v:longer", _gradient_mp4(3, 6))],
    )
    fh = video_frame_hashes(media)
    rows = video_dup_pairs(fh).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.ref_a, r.ref_b) == ("v:longer", "v:short")
    assert r.matched_frames == 3 and r.n_frames == 6
    assert abs(r.match_frac - 0.5) < 1e-9


def test_bucket_cap_quarantines_degenerate_bucket(spark):
    # 12 videos sharing identical frames (a station ident): with the
    # cap below the bucket size every candidate is dropped AND the
    # quarantine table reports the oversize buckets
    # — and cap + 1 one-frame videos of other content are dropped too
    checker = [[255 * ((x // 3 + y // 2) % 2) for x in range(24)] for y in range(16)]
    clip = encode_minimal_mp4(sample_payloads=[encode_png(checker)])
    edge = [(f"v:edge{i}", clip) for i in range(6)]
    media = _media_df(
        spark, [(f"v:ident{i:02d}", _gradient_mp4(1, 3)) for i in range(12)] + edge
    )
    fh = video_frame_hashes(media)
    assert video_dup_candidates(fh, max_bucket_size=5).count() == 0
    assert video_dup_pairs(fh, max_bucket_size=5).count() == 0
    over = video_oversize_buckets(fh, max_bucket_size=5)
    assert over.count() > 0
    assert over.agg(F.max("n_refs")).first()[0] >= 12
    assert over.filter(F.col("n_refs") == 6).count() > 0
    # and without the cap the same buckets expand to all pairs
    assert video_dup_candidates(fh, max_bucket_size=None).count() == 66 + 15


def test_clusters_transitive_closure_min_ref_keeper(spark):
    media = _media_df(
        spark,
        [
            ("v:a", _gradient_mp4(9, 4)),
            ("v:b", _gradient_mp4(9, 4)),
            ("v:c", _gradient_mp4(9, 4)),
            ("v:solo", _gradient_mp4(123, 4)),
        ],
    )
    pairs = video_dup_pairs(video_frame_hashes(media))
    clusters = video_dup_clusters(pairs).collect()
    assign = {r.media_ref: r.cluster_id for r in clusters}
    assert assign == {"v:a": "v:a", "v:b": "v:a", "v:c": "v:a"}


def test_poison_isolation_non_mp4_and_truncated(spark):
    good = _gradient_mp4(3, 3)
    media = _media_df(
        spark,
        [
            ("v:ok", good),
            ("v:junk", b"\x00" * 64),
            ("v:trunc", good[: len(good) // 3]),
        ],
    )
    fh = video_frame_hashes(media)
    rows = {r.media_ref: r for r in fh.filter(F.col("frame_ok") != "ok").collect()}
    assert set(rows) == {"v:junk", "v:trunc"}
    for r in rows.values():
        assert r.fhash is None
    # the good video still decodes fully alongside the poison rows
    assert fh.filter(
        (F.col("media_ref") == "v:ok") & (F.col("frame_ok") == "ok")
    ).count() == 3
