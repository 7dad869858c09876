"""Declared Spark schemas for the interleaved-span data model.

The reference declares its schemas with zod / pydantic and validates at
service boundaries (reference: apps/gateway/src/core/types.ts:1-21,
apps/extractor/app/models.py:6-33). Here the same contract is a set of
StructTypes enforced by Arrow serialization of pandas-UDF output and by
the writer.

Input table shape is authoritative from BASELINE.json `input_hint`:
  doc_id:string,
  spans:array<struct<kind:string, text:string, media_ref:string, offset:int>>
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# One interleaved span: (kind, text, media_ref, offset).
# kind ∈ {'text','html','code','media','so_json','reddit_json'}
# media_ref: placeholder id for media/code spans ('' otherwise) — the direct
# analog of the reference's __CODEBLOCK_<n>__ placeholders
# (code-block-preserver.ts:31-32,76-78).
SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

SPANS = ArrayType(SPAN, containsNull=False)

# Input documents table (+ top-level pushdown columns, SURVEY §4: keep
# n_bytes / route info out of the array so built-in scan pruning works).
DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("url", StringType(), True),
        StructField("host", StringType(), True),
        StructField("n_bytes", LongType(), True),
        StructField("spans", SPANS, False),
    ]
)

# Output of the extraction pipeline — mirrors ExtractResponse
# (reference: core/types.ts:5-13) plus the extracted span sequence.
EXTRACTED = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("title", StringType(), True),
        StructField("engine", StringType(), False),
        StructField("score", DoubleType(), False),
        StructField("success", BooleanType(), False),
        StructField("error", StringType(), True),
        StructField("needs_ssr", BooleanType(), False),
        StructField("spans", SPANS, False),
    ]
)

# EXTRACTED plus bookkeeping columns used by the lineage rollup; the
# extraction UDF emits these and `plans.pipeline` strips/aggregates them.
EXTRACTED_WITH_METRICS = StructType(
    EXTRACTED.fields
    + [
        StructField("partition_id", IntegerType(), False),
        StructField("bytes_in", LongType(), False),
        StructField("udf_wall_ms", LongType(), False),
    ]
)

# Per-partition lineage/metrics table (north_rule: checkpoint-based resume
# with per-partition lineage + metrics). Replaces the reference's
# Prometheus counters (lib/metrics.ts:23-82).
LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("partition_id", IntegerType(), False),
        StructField("docs_in", LongType(), False),
        StructField("docs_out", LongType(), False),
        StructField("bytes_in", LongType(), False),
        StructField("failures", LongType(), False),
        StructField("wall_ms", LongType(), False),
        StructField("engine_precision", LongType(), False),
        StructField("engine_recall", LongType(), False),
        StructField("engine_so", LongType(), False),
        StructField("engine_reddit", LongType(), False),
    ]
)

# Parsed-JSON schemas for the domain handlers (from_json targets).
# StackOverflow (reference: handlers/stackoverflow/schemas.ts:3-21).
SO_OWNER = StructType(
    [
        StructField("display_name", StringType(), True),
        StructField("user_id", LongType(), True),
    ]
)
SO_ITEM = StructType(
    [
        StructField("title", StringType(), True),
        StructField("body", StringType(), True),
        StructField("body_markdown", StringType(), True),
        StructField("link", StringType(), True),
        StructField("score", LongType(), True),
        StructField("owner", SO_OWNER, True),
    ]
)
SO_RESPONSE = StructType(
    [
        StructField("items", ArrayType(SO_ITEM), True),
        StructField("has_more", BooleanType(), True),
    ]
)

# Reddit (reference: handlers/reddit/schemas.ts:3-32). The recursive
# comment type is unrolled to depth 2 — the reference itself only reads
# replies at depth 0 and never recurses past depth 1
# (handlers/reddit/usecase.ts:166-173).
REDDIT_POST = StructType(
    [
        StructField("title", StringType(), True),
        StructField("selftext", StringType(), True),
        StructField("author", StringType(), True),
        StructField("subreddit", StringType(), True),
    ]
)


def _reddit_comment(depth: int) -> StructType:
    fields = [
        StructField("body", StringType(), True),
        StructField("author", StringType(), True),
        StructField("score", LongType(), True),
    ]
    if depth > 0:
        fields.append(
            StructField(
                "replies",
                StructType(
                    [
                        StructField(
                            "data",
                            StructType(
                                [
                                    StructField(
                                        "children",
                                        ArrayType(
                                            StructType(
                                                [
                                                    StructField("kind", StringType(), True),
                                                    StructField(
                                                        "data", _reddit_comment(depth - 1), True
                                                    ),
                                                ]
                                            )
                                        ),
                                        True,
                                    )
                                ]
                            ),
                            True,
                        )
                    ]
                ),
                True,
            )
        )
    return StructType(fields)


REDDIT_COMMENT = _reddit_comment(2)


def _listing(item: StructType) -> StructType:
    return StructType(
        [
            StructField(
                "data",
                StructType(
                    [
                        StructField(
                            "children",
                            ArrayType(
                                StructType(
                                    [
                                        StructField("kind", StringType(), True),
                                        StructField("data", item, True),
                                    ]
                                )
                            ),
                            True,
                        )
                    ]
                ),
                True,
            )
        ]
    )


REDDIT_POSTS_LISTING = _listing(REDDIT_POST)
REDDIT_COMMENTS_LISTING = _listing(REDDIT_COMMENT)


def local_frame(
    spark: SparkSession, rows: list[dict], schema: StructType
) -> DataFrame:
    """Driver-local rows as a DataFrame built from one Arrow table. Its
    scan is a JVM LocalTableScan; `createDataFrame(rows, schema)` would
    instead start a Python stage on every scan just to re-pickle them."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist(rows, schema=to_arrow_schema(schema))
    return spark.createDataFrame(table, schema=schema)
