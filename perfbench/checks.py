"""Output checks, all run outside the clock.

- The in-process ``core`` pass: ``extract_document`` per document on
  span rows pulled with ``toArrow()``; its span sequences are the
  reference for the Spark output, and its timings are the L0 numbers.
- The ``operators.extract`` boundary pass: ``make_extract_arrow_fn``
  over the same Arrow batches, in-process.
- DuckDB oracles from ``__spark_entry__.oracle_sql()``, normalised the
  way ``tests/test_oracle_parity.py`` normalises them.
"""

from __future__ import annotations

import math
import os
import time

from harness import cores, percentile


def _norm_value(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if hasattr(v, "as_tuple"):  # Decimal
        return round(float(v), 6)
    return v


def normalize(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm_value(r[i]) for i in order) for r in rows)


def duck_rows(sql: str, sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {cores()}")
    path = os.path.join(sf_dir, "documents.parquet")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    con.close()
    return cols, rows


def mismatches(spark_cols, spark_rows, duck_cols, duck_rows_) -> tuple[int, int]:
    """(rows that differ, rows checked) between two result sets,
    compared as multisets after normalisation."""
    s_cols, s_vals = normalize(spark_cols, spark_rows)
    d_cols, d_vals = normalize(duck_cols, duck_rows_)
    checked = max(len(s_vals), len(d_vals), 1)
    if s_cols != d_cols:
        return checked, checked
    from collections import Counter

    a, b = Counter(s_vals), Counter(d_vals)
    return sum(((a - b) + (b - a)).values()), checked


def span_key(spans) -> tuple:
    return tuple((s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans or ())


def core_pass(batches, giant) -> dict:
    """extract_document on every row of the Arrow batches, timed per
    document. ``giant(doc_id)`` marks the giant-doc stripe."""
    from claude_readability_hook_spark.config import DEFAULT
    from claude_readability_hook_spark.core.extractor import extract_document

    us, giant_us, spans, crashes = [], [], {}, 0
    for batch in batches:
        for r in batch.to_pylist():
            doc_id = str(r["doc_id"])
            t0 = time.perf_counter()
            try:
                res = extract_document(doc_id, r["spans"], DEFAULT)
                spans[doc_id] = span_key(res.spans)
            except Exception:  # noqa: BLE001 — counted, like the UDF does
                crashes += 1
                spans[doc_id] = ()
            dt = (time.perf_counter() - t0) * 1e6
            us.append(dt)
            if giant(doc_id):
                giant_us.append(dt)
    return {
        "spans": spans,
        "core.doc_us_p50": percentile(us, 50),
        "core.doc_us_p99": percentile(us, 99),
        "core.giant_doc_us_p50": percentile(giant_us, 50),
        "core.crashes": crashes,
        "core_us_mean": sum(us) / max(len(us), 1),
    }


def arrow_fn_pass(batches) -> float:
    """µs per document of the mapInArrow function body run in-process."""
    from claude_readability_hook_spark.operators.extract import make_extract_arrow_fn

    fn = make_extract_arrow_fn()
    n = sum(b.num_rows for b in batches)
    t0 = time.perf_counter()
    for _ in fn(iter(batches)):
        pass
    return (time.perf_counter() - t0) * 1e6 / max(n, 1)
