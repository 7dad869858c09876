"""End-to-end Spark pipeline tests: golden span-sequence equality
(the north_rule invariant) plus resume and lineage behavior."""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from claude_readability_hook_spark.config import EngineConfig
from claude_readability_hook_spark.operators.extract import extract_spans, strip_metrics
from claude_readability_hook_spark.plans.pipeline import run_extraction
from claude_readability_hook_spark.sources.catalog import TableCatalog
from claude_readability_hook_spark.sources.corpus import fixtures_df


def _spans_of(rows, doc_id):
    row = next(r for r in rows if r["doc_id"] == doc_id)
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row["spans"]], row


@pytest.fixture(scope="module")
def extracted_rows(spark):
    df = strip_metrics(extract_spans(fixtures_df(spark)))
    return [r.asDict(recursive=True) for r in df.collect()]


def test_simple_article_golden(extracted_rows):
    spans, row = _spans_of(extracted_rows, "simple")
    assert row["success"]
    assert row["title"] == "Test Article"
    assert spans == [
        (
            "text",
            "Simple Article\n\nThis is a simple test article with some content "
            "that should be extracted properly.",
            "",
            0,
        )
    ]
    # default threshold 50 > A1 max ⇒ recall engine wins (reference contract)
    assert row["engine"] == "recall"
    assert row["score"] == pytest.approx(len(spans[0][1]) * 0.8)


def test_code_block_spans_golden(extracted_rows):
    spans, row = _spans_of(extracted_rows, "with_code_block")
    assert row["success"]
    kinds = [s[0] for s in spans]
    assert kinds == ["text", "code", "text"]
    code = spans[1]
    assert code[2].startswith("__CODEBLOCK_0__")
    assert ":python" in code[2]
    # 250 lines → 200 kept + truncation marker
    assert code[1].endswith("... [truncated 50 lines] ...")
    assert code[1].count("\n") == 200
    assert [s[3] for s in spans] == [0, 1, 2]


def test_interleaved_media_order_preserved(extracted_rows):
    spans, row = _spans_of(extracted_rows, "interleaved_media")
    assert row["success"]
    assert [(s[0], s[2]) for s in spans] == [
        ("text", ""),
        ("media", "img:1"),
        ("text", ""),
        ("media", "img:2"),
        ("text", ""),
    ]
    assert [s[3] for s in spans] == [0, 1, 2, 3, 4]


def test_spa_shell_flagged_and_low_content(extracted_rows):
    spans, row = _spans_of(extracted_rows, "spa_markers")
    assert row["needs_ssr"] is True
    # an SPA shell has no extractable prose: either failure or near-empty
    text = " ".join(s[1] for s in spans if s[0] == "text")
    assert len(text) < 50


def test_empty_whitespace_quarantined(extracted_rows):
    spans, row = _spans_of(extracted_rows, "empty_whitespace")
    assert row["success"] is False
    assert row["error"]
    assert spans == []


def test_precision_engine_wins_at_low_threshold(spark):
    cfg = EngineConfig(score_threshold=3.0)
    df = strip_metrics(extract_spans(fixtures_df(spark), cfg))
    row = df.filter("doc_id = 'simple'").collect()[0]
    assert row["engine"] == "precision"
    assert row["score"] >= 3.0


def test_resume_anti_join_skips_done(spark, tmp_path):
    catalog = TableCatalog(spark, str(tmp_path), use_iceberg=False)
    src = fixtures_df(spark)

    first = run_extraction(spark, src, catalog=catalog, num_partitions=2, run_id="r1")
    n1 = first.extracted.count()
    assert n1 == src.count()

    # Second run: everything already committed → nothing re-extracted.
    second = run_extraction(spark, src, catalog=catalog, num_partitions=2, run_id="r2")
    assert second.extracted.count() == n1  # no duplicates appended

    lineage = catalog.read("_lineage")
    r2 = [r.asDict() for r in lineage.filter("run_id = 'r2'").collect()]
    assert sum(r["docs_in"] for r in r2) == 0


def test_oversize_docs_quarantined_not_extracted(spark, tmp_path):
    from pyspark.sql import functions as F

    from claude_readability_hook_spark.config import EngineConfig
    from claude_readability_hook_spark.schemas import DOCUMENTS

    cfg = EngineConfig(max_html_bytes=1000)
    big = "<p>" + "x" * 5000 + "</p>"
    small = "<article><p>Small enough document, with a comma, kept fine.</p></article>"
    src = spark.createDataFrame(
        [
            {"doc_id": "big", "url": None, "host": None, "n_bytes": None,
             "spans": [{"kind": "html", "text": big, "media_ref": "", "offset": 0}]},
            {"doc_id": "small", "url": None, "host": None, "n_bytes": None,
             "spans": [{"kind": "html", "text": small, "media_ref": "", "offset": 0}]},
        ],
        schema=DOCUMENTS,
    )
    catalog = TableCatalog(spark, str(tmp_path), use_iceberg=False)
    result = run_extraction(spark, src, catalog=catalog, cfg=cfg, num_partitions=2, run_id="q1")
    assert [r["doc_id"] for r in result.extracted.collect()] == ["small"]
    quarantined = catalog.read("_quarantine").collect()
    assert [(r["doc_id"], r["reason"]) for r in quarantined] == [("big", "oversize")]
    assert quarantined[0]["n_bytes"] > 1000


def test_cache_hits_complement(spark):
    from claude_readability_hook_spark.operators.resume import cache_hits, remaining_documents

    src = fixtures_df(spark)
    done = src.filter("doc_id in ('simple', 'spa_markers')").select("doc_id")
    hits = cache_hits(src, done)
    todo = remaining_documents(src, done)
    assert hits.count() == 2
    assert all(r["cached"] for r in hits.collect())
    assert hits.count() + todo.count() == src.count()


def test_partial_write_resume_converges(spark, tmp_path):
    """Kill-after-partial-write semantics (SURVEY §5.3.4): if only a
    subset of docs was committed before a crash, the rerun extracts
    exactly the remainder and the union equals a single clean run."""
    catalog = TableCatalog(spark, str(tmp_path), use_iceberg=False)
    src = fixtures_df(spark)

    # simulate the partial commit: extract 2 docs and write them as if a
    # run died after their task committed
    from claude_readability_hook_spark.operators.extract import extract_spans

    # a real crashed run commits stamped rows (the pipeline stamps
    # before append) — unstamped rows would be policy-stale by design
    from claude_readability_hook_spark.config import DEFAULT as _CFG

    partial = strip_metrics(
        extract_spans(src.filter("doc_id in ('simple', 'with_code_block')"))
    ).withColumn("engine_version", F.lit(_CFG.engine_version)).withColumn(
        "extracted_at", F.current_timestamp()
    )
    catalog.append(partial, "extracted")

    result = run_extraction(spark, src, catalog=catalog, num_partitions=2, run_id="r2")
    lineage = [r.asDict() for r in result.lineage.collect()]
    assert sum(r["docs_in"] for r in lineage) == src.count() - 2  # only remainder ran

    final = catalog.read("extracted")
    assert final.count() == src.count()  # no dupes, no gaps
    assert final.select("doc_id").distinct().count() == src.count()


def test_lineage_accounts_for_every_doc(spark, tmp_path):
    catalog = TableCatalog(spark, str(tmp_path), use_iceberg=False)
    src = fixtures_df(spark)
    result = run_extraction(spark, src, catalog=catalog, num_partitions=2, run_id="rX")
    rows = [r.asDict() for r in result.lineage.collect()]
    assert sum(r["docs_in"] for r in rows) == src.count()
    # empty_whitespace + spa shell + heavy_noscript (all content inside
    # stripped <noscript>) are genuine no-content documents
    assert sum(r["failures"] for r in rows) == 3
    assert all(r["run_id"] == "rX" for r in rows)
    assert sum(r["engine_recall"] for r in rows) >= 3


def _half_committed(spark, tmp_path):
    """A warehouse already holding half the fixture corpus, the full
    corpus as the next run's source, and how many docs that run has
    left to extract."""
    catalog = TableCatalog(spark, str(tmp_path), use_iceberg=False)
    src = fixtures_df(spark)
    ids = sorted(r["doc_id"] for r in src.select("doc_id").collect())
    run_extraction(spark, src.filter(F.col("doc_id").isin(ids[::2])), catalog=catalog, run_id="r1")
    return catalog, src, len(ids[1::2])


def test_resume_without_oversize_writes_no_quarantine(spark, tmp_path):
    catalog, src, _ = _half_committed(spark, tmp_path)
    run_extraction(spark, src, catalog=catalog, run_id="r2")
    assert not catalog.exists("_quarantine")
    assert not (tmp_path / "_quarantine").exists()


def test_resume_run_job_count(spark, tmp_path):
    """The commit path evaluates each plan once: one sizing aggregate
    (which also counts oversize docs), no quarantine append when there
    is nothing to quarantine, and no read-back of _lineage or the
    output table. Jobs for this run on local[4] with AQE: 15 before
    the sizing and quarantine passes were merged and the read-backs
    dropped, 10 after."""
    catalog, src, _ = _half_committed(spark, tmp_path)
    sc = spark.sparkContext
    group = f"job-count-{tmp_path.name}"
    sc.setJobGroup(group, group)
    try:
        run_extraction(spark, src, catalog=catalog, run_id="r2")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 10


def test_run_lineage_equals_committed_lineage(spark, tmp_path):
    catalog, src, todo = _half_committed(spark, tmp_path)
    result = run_extraction(spark, src, catalog=catalog, run_id="r2")
    committed = catalog.read("_lineage").filter("run_id = 'r2'")
    assert sorted(result.lineage.collect()) == sorted(committed.collect())
    assert sum(r["docs_in"] for r in result.lineage.collect()) == todo


def test_resume_ignores_duplicate_done_rows(spark):
    from claude_readability_hook_spark.operators.resume import cache_hits, remaining_documents

    src = fixtures_df(spark)
    once = src.filter("doc_id in ('simple', 'spa_markers')").select("doc_id")
    twice = once.unionByName(src.filter("doc_id = 'simple'").select("doc_id"))
    for op in (remaining_documents, cache_hits):
        assert sorted(op(src, twice).collect()) == sorted(op(src, once).collect())
