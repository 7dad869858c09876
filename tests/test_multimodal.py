"""Multimodal plumbing tests: schema, batch shape, stubbed decode
fallback, span-order preservation through the feature join."""

from __future__ import annotations

import pytest

from claude_readability_hook_spark.operators.extract import extract_spans, strip_metrics
from claude_readability_hook_spark.operators import multimodal
from claude_readability_hook_spark.operators.multimodal import (
    FEATURE_DIM,
    MEDIA,
    _fake_feature,
    extract_media_features,
    join_media_features,
    media_spans,
    synthesize_media_table,
)
from claude_readability_hook_spark.sources.corpus import fixtures_df


@pytest.fixture(scope="module")
def media_refs():
    return ["img:1", "img:2"]


@pytest.fixture(scope="module")
def features(spark, media_refs):
    media = synthesize_media_table(spark, media_refs)
    return extract_media_features(media).collect()


def test_feature_schema_and_stub_path(features):
    assert {r["media_ref"] for r in features} == {"img:1", "img:2"}
    for r in features:
        assert r["decode_ok"] == "stubbed"  # no image libs in container
        assert len(r["feature"]) == FEATURE_DIM
        assert abs(sum(r["feature"]) - 1.0) < 1e-6  # L1-normalized histogram
        assert r["n_bytes"] > 0
        assert len(r["sha"]) == 16


def test_fake_feature_deterministic():
    assert _fake_feature(b"abc") == _fake_feature(b"abc")
    assert _fake_feature(b"") == [0.0] * FEATURE_DIM


def test_feature_join_preserves_span_order(spark, media_refs):
    extracted = strip_metrics(extract_spans(fixtures_df(spark)))
    spans = media_spans(extracted).collect()
    assert {(r["media_ref"], r["offset"]) for r in spans} == {("img:1", 1), ("img:2", 3)}

    media = synthesize_media_table(spark, media_refs)
    feats = extract_media_features(media)
    joined = join_media_features(extracted, feats).collect()
    assert [(r["media_ref"], r["offset"]) for r in joined] == [("img:1", 1), ("img:2", 3)]
    assert all(r["feature"] is not None for r in joined)
    assert all(r["modality"] == "image" for r in joined)


@pytest.mark.parametrize(
    "kind",
    [
        {"real_png_dhash": True, "dhash_twin": True},
        {"real_wav_am": True, "wav_am_twin": True},
        {"real_png_mp4": True, "video_twin": True},
    ],
)
def test_media_table_is_a_jvm_scan_with_the_list_path_rows(spark, monkeypatch, kind):
    refs = [f"m:{i}" for i in range(6)]
    media = synthesize_media_table(spark, refs, **kind)
    rows = media.collect()
    # Arrow-built: a LocalTableScan, not a Python re-pickle of local rows
    plan = media._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan

    monkeypatch.setattr(
        multimodal,
        "local_frame",
        lambda spark, rows, schema: spark.createDataFrame(rows, schema=schema),
    )
    listed = synthesize_media_table(spark, refs, **kind)
    assert media.schema == listed.schema == MEDIA
    assert media.rdd.getNumPartitions() == listed.rdd.getNumPartitions()
    assert sorted(rows) == sorted(listed.collect())
