"""Golden span-sequence tests for the remaining FIXTURES.md §4/§5 seed
documents (the first five are covered in test_pipeline.py). The
invariant: exact (kind, text, media_ref, order) sequences per doc."""

from __future__ import annotations

import pytest

from claude_readability_hook_spark.operators.extract import extract_spans, strip_metrics
from claude_readability_hook_spark.schemas import DOCUMENTS
from claude_readability_hook_spark.sources.corpus import fixture_rows, fixtures_df


@pytest.fixture(scope="module")
def rows(spark):
    df = strip_metrics(extract_spans(fixtures_df(spark)))
    return {r["doc_id"]: r.asDict(recursive=True) for r in df.collect()}


def test_fixture_frame_has_the_list_path_rows(spark):
    # the Arrow-built fixture frame is a JVM scan with the same schema,
    # partitions and rows as createDataFrame over the row list
    arrow = fixtures_df(spark)
    listed = spark.createDataFrame(fixture_rows(), schema=DOCUMENTS)
    plan = arrow._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert arrow.schema == listed.schema == DOCUMENTS
    assert arrow.rdd.getNumPartitions() == listed.rdd.getNumPartitions()
    assert sorted(arrow.collect()) == sorted(listed.collect())


def _spans(row):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]]


def test_simple_article(rows):
    row = rows["simple_article"]
    assert row["success"]
    assert row["title"] == "Example Title"
    spans = _spans(row)
    assert spans == [
        ("text", "Example Title\n\nHello world. This is a sample content.", "", 0)
    ]
    assert row["engine"] == "recall"


def test_amp_page(rows):
    row = rows["amp_page"]
    assert row["success"]
    assert row["needs_ssr"] is False  # AMP page with content ≠ SSR
    text = " ".join(s[1] for s in _spans(row) if s[0] == "text")
    assert "Real article content" in text


def test_heavy_noscript_flagged(rows):
    row = rows["heavy_noscript"]
    # >50 chars of noscript text + script ⇒ SSR signal fires
    assert row["needs_ssr"] is True
    # noscript is stripped as boilerplate: no 'Content line' prose kept
    text = " ".join(s[1] for s in _spans(row) if s[0] == "text")
    assert "Content line" not in text


def test_boilerplate_rich(rows):
    row = rows["boilerplate_rich"]
    assert row["success"]
    assert row["title"] == "Boilerplate Rich"
    text = "\n".join(s[1] for s in _spans(row) if s[0] == "text")
    assert "First real paragraph" in text
    assert "Second real paragraph" in text
    for debris in (
        "Home", "Click this amazing offer", "Related A",
        "Great post", "Copyright", "trackPageView",
    ):
        assert debris not in text, debris


def test_inline_code_spliced_into_prose(spark):
    """Inline <code> rejoins the sentence as `backticks`; block-level
    <pre> stays a span (code-block-preserver.ts:60-63 semantics)."""
    from claude_readability_hook_spark.core.extractor import extract_document

    html = (
        "<article><p>Call <code>fetch()</code> before you parse, always.</p>"
        "<pre><code>const x = 1;</code></pre>"
        "<p>Then use <code>json()</code> on the result, finally.</p></article>"
    )
    r = extract_document("inline", [{"kind": "html", "text": html, "media_ref": "", "offset": 0}])
    kinds = [s["kind"] for s in r.spans]
    assert kinds == ["text", "code", "text"]
    assert "`fetch()`" in r.spans[0]["text"]
    assert r.spans[1]["text"] == "const x = 1;"
    assert "`json()`" in r.spans[2]["text"]


def test_so_thread_golden(rows):
    row = rows["so_thread"]
    assert row["success"]
    assert row["engine"] == "so-api"
    assert row["title"] == "How to foo in bar?"
    spans = _spans(row)
    assert len(spans) == 1 and spans[0][0] == "text" and spans[0][3] == 0
    text = spans[0][1]
    assert text.startswith("# Question\nI want to foo.")
    assert "\n## Answer 1\nUse foo()." in text
    assert "\n## Answer 2 (HTML)\n<p>Another HTML answer</p>" in text
    # A3: 200 + 2·180 + 3 authors·120 + len·0.45
    assert row["score"] == pytest.approx(200 + 360 + 360 + len(text) * 0.45)


def test_reddit_thread_golden(rows):
    row = rows["reddit_thread"]
    assert row["success"]
    assert row["engine"] == "reddit-json"
    assert row["title"] == "Sample Reddit Thread"
    spans = _spans(row)
    assert len(spans) == 1 and spans[0][3] == 0
    text = spans[0][1]
    assert text.startswith("# Sample Reddit Thread")
    assert "_u/op in r/test_\n\nTop post body" in text
    assert "## Comment 1 (score:10, by:u1)\nTop comment 1" in text
    assert "## Comment 3 (score:2, by:u3)\nreply A" in text
    # A4: 3·100 + 17·2 + 3·80 + len·0.3
    assert row["score"] == pytest.approx(300 + 34 + 240 + len(text) * 0.3)
