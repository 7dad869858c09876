"""Checkpoint-based resume: the anti-join that replaces the LRU cache.

The reference short-circuits on a 24h-TTL LRU cache hit
(lib/cache.ts:12-22,45-57; usecase.ts:41-46). In batch, "cached" ≡
already committed to the output table AND still fresh:

  absent    doc_id not in the committed output      → extract
  stale     committed by an older engine_version,   → re-extract
            or extracted_at older than the TTL
  fresh     current version, within TTL             → skip (cache hit)

Resume = left_anti join of the source against the FRESH subset only
(SURVEY §2.2 O5 / §2.3 J1). Commit atomicity comes from the writer
(sources/catalog.py); rerunning a partially-failed job converges to
the single-run output, and bumping EngineConfig.engine_version
re-extracts exactly the older rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def fresh_extractions(
    done: DataFrame,
    engine_version: int | None = None,
    max_age_hours: float | None = None,
    now: Column | None = None,
) -> DataFrame:
    """The committed rows that still count as cache hits. Rows from a
    table written before the stamp columns existed are treated as
    STALE when a policy is requested (they predate the policy, so an
    engine bump re-extracts them exactly once — after which they carry
    stamps). NULL stamps from mixed-schema reads fail the filters the
    same way."""
    fresh = done
    if engine_version is not None:
        if "engine_version" not in done.columns:
            return done.filter(F.lit(False))
        fresh = fresh.filter(F.col("engine_version") >= engine_version)
    if max_age_hours is not None:
        if "extracted_at" not in done.columns:
            return done.filter(F.lit(False))
        cutoff = (now if now is not None else F.current_timestamp()) - F.expr(
            f"INTERVAL {int(max_age_hours * 3600)} SECONDS"
        )
        fresh = fresh.filter(F.col("extracted_at") >= cutoff)
    return fresh


def remaining_documents(
    src: DataFrame,
    done: DataFrame | None,
    engine_version: int | None = None,
    max_age_hours: float | None = None,
    now: Column | None = None,
) -> DataFrame:
    """src minus the still-fresh already-extracted doc_ids.

    The done-side is projected to doc_id only (after the cheap
    staleness filters, which prune at the scan) before the join so the
    anti-join ships one string column. It is not deduplicated: a
    left_anti join's result does not depend on how often a key repeats
    on the right, so a distinct() would only add a shuffle stage. AQE
    picks broadcast vs sort-merge from the actual size at runtime — at
    10^12 docs the done set is NOT broadcastable and must sort-merge on
    doc_id."""
    if done is None:
        return src
    fresh = fresh_extractions(done, engine_version, max_age_hours, now)
    return src.join(fresh.select("doc_id"), on="doc_id", how="left_anti")


def latest_extractions(done: DataFrame) -> DataFrame:
    """Read-side view after re-extraction appends: one row per doc_id,
    preferring the newest (engine_version, extracted_at) — each stamp
    column orders independently when present (a TTL-only table without
    engine_version still resolves by timestamp). With neither stamp the
    pick is arbitrary-but-deterministic-per-plan; callers needing a
    guarantee must write stamps. Iceberg analog: MERGE at write time."""
    order = []
    if "engine_version" in done.columns:
        order.append(F.col("engine_version").desc_nulls_last())
    if "extracted_at" in done.columns:
        order.append(F.col("extracted_at").desc_nulls_last())
    if not order:
        order = [F.lit(1)]
    w = Window.partitionBy("doc_id").orderBy(*order)
    return (
        done.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def cache_hits(
    src: DataFrame,
    done: DataFrame,
    engine_version: int | None = None,
    max_age_hours: float | None = None,
    now: Column | None = None,
) -> DataFrame:
    """The exact complement of remaining_documents under the same
    staleness policy — previously extracted AND still-fresh rows (the
    'cached=true' responses of the reference), for metrics parity:
    hits ∪ remaining == src, disjoint."""
    fresh = fresh_extractions(done, engine_version, max_age_hours, now)
    return src.join(fresh.select("doc_id"), on="doc_id", how="left_semi").withColumn(
        "cached", F.lit(True)
    )
