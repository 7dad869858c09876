"""The extraction operator: mapInArrow over span rows.

One Python invocation per Arrow record batch; each batch converts to
plain dicts through pyarrow's C path (spans arrive as lists of
dicts). All per-document logic lives in core/ (pure Python); this
module is only the Spark plumbing: schema contract, batching,
row-level error isolation, and per-partition metrics emission.

Row-level error isolation is load-bearing at scale (SURVEY §4): a
poison document becomes a success=false row, never a task failure —
the analog of the reference's per-request try/except
(trafilatura_extractor.py:39-43).
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._pyworker import python_stage
from ..config import DEFAULT, EngineConfig
from ..core.extractor import extract_document
from ..schemas import EXTRACTED_WITH_METRICS


def _extract_one(doc_id: str, span_records: list[dict], partition_id: int, cfg) -> dict:
    bytes_in = sum(len(s.get("text") or "") for s in span_records)
    try:
        result = extract_document(doc_id, span_records, cfg)
        row = {
            "doc_id": result.doc_id,
            "title": result.title,
            "engine": result.engine,
            "score": float(result.score),
            "success": bool(result.success),
            "error": result.error,
            "needs_ssr": bool(result.needs_ssr),
            "spans": result.spans,
        }
    except Exception as exc:  # noqa: BLE001 — poison-row isolation
        row = {
            "doc_id": doc_id,
            "title": None,
            "engine": "recall",
            "score": 0.0,
            "success": False,
            "error": f"extractor crash: {type(exc).__name__}: {exc}",
            "needs_ssr": False,
            "spans": [],
        }
    row["partition_id"] = partition_id
    row["bytes_in"] = bytes_in
    return row


def make_extract_arrow_fn(cfg: EngineConfig = DEFAULT):
    """The mapInArrow body: RecordBatch → list-of-dicts → RecordBatch,
    all through pyarrow's C conversion paths. A mapInPandas route
    would materialize every nested span struct as Python objects
    through pandas' block manager twice (in and out); arrow→pylist→
    arrow skips that (measured ~30% of UDF wall)."""

    def extract_batches(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        arrow_schema = _arrow_output_schema()
        ctx = TaskContext.get()
        partition_id = ctx.partitionId() if ctx is not None else -1

        # Byte-bounded sub-batching: maxRecordsPerBatch is a ROW cap,
        # so a giant-doc stripe (salted_repartition groups >1 MB docs
        # together) could hand us a multi-GB batch; to_pylist would
        # materialize it as Python objects at ~5-10× the Arrow bytes.
        # Slicing by buffer size bounds peak Python memory regardless
        # of the session's row cap.
        max_slice_bytes = cfg.target_partition_bytes

        def slices(batch):
            if batch.nbytes <= max_slice_bytes or batch.num_rows <= 1:
                yield batch
                return
            n_slices = -(-batch.nbytes // max_slice_bytes)
            step = max(1, batch.num_rows // n_slices)
            for off in range(0, batch.num_rows, step):
                yield batch.slice(off, step)

        for full_batch in batches:
            for batch in slices(full_batch):
                t0 = time.monotonic()
                rows = batch.to_pylist()
                records = [
                    _extract_one(str(r["doc_id"]), r["spans"], partition_id, cfg)
                    for r in rows
                ]
                wall_ms = int((time.monotonic() - t0) * 1000)
                n = max(len(records), 1)
                for i, r in enumerate(records):
                    r["udf_wall_ms"] = wall_ms // n + (1 if i < wall_ms % n else 0)
                yield pa.RecordBatch.from_pylist(records, schema=arrow_schema)

    return extract_batches


def _arrow_output_schema():
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(EXTRACTED_WITH_METRICS)


def extract_spans(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """documents(doc_id, spans, ...) → EXTRACTED_WITH_METRICS rows.

    Selects only (doc_id, spans) first so Catalyst prunes every other
    column out of the scan — the batch analog of the reference's
    renderer resource-blocking (SURVEY §4)."""
    return df.select("doc_id", "spans").mapInArrow(
        python_stage(make_extract_arrow_fn(cfg)), schema=EXTRACTED_WITH_METRICS
    )


def strip_metrics(df: DataFrame) -> DataFrame:
    """Drop the bookkeeping columns to get the public EXTRACTED shape."""
    return df.drop("partition_id", "bytes_in", "udf_wall_ms")


def split_engines(extracted: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Convenience: (accepted, fallback) split by engine, the external
    view of the reference's threshold branch (usecase.ts:150-156)."""
    return (
        extracted.filter(F.col("engine") == "precision"),
        extracted.filter(F.col("engine") != "precision"),
    )
