"""The flagship extraction job (SURVEY §3.1 Spark lifecycle).

  read span table
    → resume anti-join against committed output       (O5/J1)
    → byte size + oversize flag column exprs          (S2; codegen)
    → byte-salted repartition                         (skew, §4.1)
    → mapInArrow extraction with in-UDF fallback      (F4-F7, §2.12)
    → output append + per-partition lineage append    (S7/S8)

The reference's two HTTP hops and thread pool (§3.1 boundaries)
collapse into Spark's executor↔Python-worker Arrow channels.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from functools import cached_property
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig
from ..operators.extract import extract_spans, strip_metrics
from ..operators.lineage import lineage_rollup
from ..operators.resume import remaining_documents
from ..operators.skew import partitions_for_bytes, salted_repartition, with_doc_bytes
from ..sources.catalog import TableCatalog

EXTRACTED_TABLE = "extracted"
LINEAGE_TABLE = "_lineage"
QUARANTINE_TABLE = "_quarantine"


def validated(df: DataFrame, cfg: EngineConfig = DEFAULT) -> DataFrame:
    """Attach n_bytes and the oversize flag BEFORE the expensive UDF
    (Catalyst can't reorder across a UDF black box — SURVEY §4). Only
    columns the run reads are built: extraction prunes to (doc_id,
    spans), so URL/host routing exprs here would cost driver-side
    expression building and never reach the plan."""
    # Oversize docs route to quarantine instead of killing tasks (S2).
    return with_doc_bytes(df).withColumn("oversize", F.col("n_bytes") > cfg.max_html_bytes)


def _parse_bytes_conf(v: str) -> int:
    """Parse Spark size confs like '134217728b' / '128m' / '1g'."""
    s = v.strip().lower().rstrip("b")
    mult = 1
    if s and s[-1] in "kmgt":
        mult = 1024 ** ("kmgt".index(s[-1]) + 1)
        s = s[:-1]
    return int(s) * mult if s else 128 * 1024 * 1024


def _estimated_scan_partitions(spark: SparkSession, df: DataFrame) -> int | None:
    """Estimate how many scan partitions the plan's leaf files yield,
    WITHOUT df.rdd (which forces plan analysis on the driver and hides
    the plan from AQE): leaf file bytes / maxPartitionBytes. Returns
    None when the plan already contains an explicit repartition — the
    caller's partitioning is authoritative then. Returns 0 ("unknown —
    assume unusable") when no leaf files resolve (in-memory frames,
    UDF-synthesized sources): a wrong "fine" guess there leaves the
    heavy UDF stage on a single task, which costs far more than one
    possibly-redundant salted shuffle of a source that small. When leaf
    files DO resolve but none can be sized (exotic FS), returns None —
    a real file scan already yields byte-bounded splits."""
    try:
        logical = df._jdf.queryExecution().logical().toString()
        if "Repartition" in logical:  # Repartition / RepartitionByExpression
            return None
    except Exception:
        pass
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if not files:
        return 0
    import os
    from urllib.parse import urlparse

    total = 0
    sized = 0
    jvm_fs_conf = None
    for f in files:
        scheme = urlparse(f).scheme
        if scheme in ("", "file"):
            path = urlparse(f).path or f
            try:
                total += os.path.getsize(path)
                sized += 1
            except OSError:
                pass
        else:
            # s3://, hdfs://, ... — size through the Hadoop FileSystem
            # API; os.path.getsize on a URL path always raises, which
            # used to zero the estimate and force a full salted shuffle
            # of the corpus on every remote-storage run (ADVICE r2).
            try:
                if jvm_fs_conf is None:
                    jvm_fs_conf = spark._jsc.hadoopConfiguration()
                jpath = spark._jvm.org.apache.hadoop.fs.Path(f)
                fs = jpath.getFileSystem(jvm_fs_conf)
                total += fs.getFileStatus(jpath).getLen()
                sized += 1
            except Exception:
                pass
    if sized == 0:
        # files exist but none could be sized: the scan's own
        # byte-bounded splits (maxPartitionBytes) are a better default
        # than forcing a shuffle off a zero estimate — treat the
        # caller's partitioning as authoritative.
        return None
    max_pb = _parse_bytes_conf(
        str(spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b"))
    )
    return max(1, -(-total // max_pb))


@dataclass
class RunResult:
    """What one run_extraction call produced.

    lineage: this run's per-partition rollup, computed from the run's
    own materialized output (the localCheckpoint) — the same rows the
    run appended to _lineage, without reading the table back.

    extracted: without a catalog, this run's output. With a catalog,
    the raw committed table, read (and its files listed) on first
    access — after a staleness-driven re-extraction it contains
    superseded rows too; operators.resume.latest_extractions (or
    catalog.merge_latest) resolves to one row per doc."""

    run_id: str
    lineage: DataFrame
    load_extracted: Callable[[], DataFrame] = field(repr=False)

    @cached_property
    def extracted(self) -> DataFrame:
        return self.load_extracted()


def run_extraction(
    spark: SparkSession,
    src: DataFrame,
    catalog: TableCatalog | None = None,
    cfg: EngineConfig = DEFAULT,
    num_partitions: int | None = None,
    run_id: str | None = None,
    repartition: str = "auto",
) -> RunResult:
    """Execute the flagship pipeline. With a catalog, commits output +
    lineage and resumes from whatever is already committed.

    repartition: 'auto' shuffles only when the source partitioning is
    unusable; 'force'/'skip' override. Rationale: a parquet/Iceberg
    scan already yields byte-bounded splits (maxPartitionBytes), so
    re-shuffling every HTML byte before the UDF doubles the stage's
    I/O for nothing (measured: the shuffle cost 2-4× the extraction
    compute). The salted shuffle earns its cost only when the input
    arrives in few/skewed partitions (a handful of giant files, or a
    filter that gutted most partitions).

    With a catalog, oversize documents (cfg.max_html_bytes) are
    recorded in _quarantine; a run that quarantines nothing writes no
    _quarantine files, so the table may not exist."""
    run_id = run_id or uuid.uuid4().hex[:12]

    df = validated(src, cfg)

    done = None
    if catalog is not None and catalog.exists(EXTRACTED_TABLE):
        done = catalog.read(EXTRACTED_TABLE)
    # "absent OR stale": older engine_version (and, if configured,
    # rows past the TTL) are re-extracted — the reference's 24h cache
    # TTL (lib/cache.ts:12-22) as a batch policy.
    todo = remaining_documents(
        df, done, engine_version=cfg.engine_version, max_age_hours=cfg.reextract_ttl_hours
    )

    # One aggregate over the anti-join sizes the run AND tells whether
    # anything needs quarantining, so the quarantine append (which
    # replays the anti-join) runs only when it has rows to write.
    n_oversize = 0
    nparts = num_partitions
    if catalog is not None or nparts is None:
        sizing = todo.agg(
            F.sum(F.when(~F.col("oversize"), F.col("n_bytes"))).alias("b"),
            F.count(F.when(F.col("oversize"), 1)).alias("n_oversize"),
        ).collect()[0]
        n_oversize = sizing["n_oversize"]
        nparts = nparts or partitions_for_bytes(sizing["b"] or 0, cfg)

    quarantined = todo.filter(F.col("oversize"))
    todo = todo.filter(~F.col("oversize"))

    # Logical-plan partition estimate (no .rdd conversion — that would
    # sidestep AQE's view of the plan and force an analysis round-trip
    # on the driver): leaf scan partitions from the file sizes. The
    # estimate runs on the SOURCE plan (df), not todo — todo's leaf
    # files include the committed-output side of the resume anti-join,
    # which would inflate the estimate and wrongly skip the shuffle.
    src_parts = _estimated_scan_partitions(spark, df)
    needs_shuffle = repartition == "force" or (
        repartition == "auto"
        and src_parts is not None
        and (src_parts < max(nparts // 2, 1) or src_parts > nparts * 4)
    )
    if needs_shuffle:
        todo = salted_repartition(todo, nparts, cfg)

    with_metrics = extract_spans(todo, cfg)
    with_metrics = with_metrics.withColumn(
        "engine_version", F.lit(cfg.engine_version)
    ).withColumn("extracted_at", F.current_timestamp())

    if catalog is not None:
        # Materialize ONCE via localCheckpoint, not persist: appending to
        # the output table refreshes Spark's cache for every plan that
        # scans that path — a persisted plan containing the resume
        # anti-join would be invalidated by its own commit and silently
        # recompute to zero rows. The checkpoint truncates lineage, so
        # the materialized rows have no file-scan dependency to refresh,
        # and extraction runs exactly once per run.
        with_metrics = with_metrics.localCheckpoint(eager=True)
        lineage = lineage_rollup(with_metrics, run_id)
        catalog.append(strip_metrics(with_metrics), EXTRACTED_TABLE)
        catalog.append(lineage, LINEAGE_TABLE)
        if n_oversize > 0:
            # Oversize docs (S2 byte cap) go to a quarantine table instead
            # of killing tasks — metadata only, never the giant payload.
            catalog.append(
                quarantined.select(
                    F.lit(run_id).alias("run_id"),
                    "doc_id",
                    "n_bytes",
                    F.lit("oversize").alias("reason"),
                ),
                QUARANTINE_TABLE,
            )
        return RunResult(run_id, lineage, lambda: catalog.read(EXTRACTED_TABLE))

    extracted = strip_metrics(with_metrics)
    return RunResult(run_id, lineage_rollup(with_metrics, run_id), lambda: extracted)
