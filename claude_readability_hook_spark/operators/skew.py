"""Byte-skew-aware repartitioning for the extraction stage.

Extraction cost is ∝ bytes, not rows (SURVEY §4.1). A uniform
``repartition(n)`` hash-partitions by row and leaves byte-skewed
partitions when a few giant documents land together; AQE only fixes
shuffle-read/join skew, not UDF compute skew, so this is explicit:

  - normal docs hash into one of P buckets by doc_id
  - giant docs (n_bytes > threshold) each get their own salt key, so
    the hash partitioner spreads them uniformly instead of letting a
    hot bucket accumulate several

This is the batch analog of the reference's bounded concurrency — its
semaphore(8) kept one slow page from starving the rest
(apps/extractor/app/api.py:15); here one giant page must not starve a
partition.

KEY skew (a join/group key owned by a giant group, not a giant row)
is the second axis: hot_key_salted_repartition detects heavy keys
with the count-min sketch (operators/sketch.py — bounded d×w state)
and stripes exactly those keys over (key, salt), leaving the long
tail un-fanned. operators/sessions.sessionize_auto is the windowed
consumer: detected hot users route through the salted exact plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT, EngineConfig

def span_bytes_expr():
    return F.aggregate(
        "spans",
        F.lit(0).cast("long"),
        lambda acc, s: acc + F.coalesce(F.length(s["text"]).cast("long"), F.lit(0)),
    )


def with_doc_bytes(df: DataFrame) -> DataFrame:
    """Materialize n_bytes from the span array if absent. At ingest this
    should be a stored top-level column (scan pushdown, SURVEY §4);
    computing it here is the fallback for raw span tables."""
    if "n_bytes" in df.columns:
        # column may exist but be unpopulated (raw ingest) — fill nulls
        return df.withColumn("n_bytes", F.coalesce(F.col("n_bytes"), span_bytes_expr()))
    return df.withColumn("n_bytes", span_bytes_expr())


def salted_repartition(
    df: DataFrame, num_partitions: int, cfg: EngineConfig = DEFAULT
) -> DataFrame:
    """Repartition so each partition carries a comparable byte load.

    Both classes hash on the FULL-WIDTH xxhash64(doc_id) — deterministic
    (no rand ⇒ resume-safe) and continuous. Quantizing the key to
    num_partitions values first (the obvious 'bucket = hash % P') is a
    trap: hashing 128 distinct bucket values into 128 partitions leaves
    ~1/e of partitions empty and stacks 3-5 buckets on others (measured:
    74/128 occupied, 5× doc skew). A continuous key makes per-partition
    load Poisson-concentrated (±4% at 625 docs/partition).

    Giants (n_bytes > threshold) go through their own shuffle so a
    giant never lands on top of a full normal partition: the giant
    branch's partitions hold only giants (0-3 each at a <1% giant
    rate), bounding byte-load variance without counting them first
    (a count would be an extra full scan at 10^12 rows; empty giant
    partitions cost nothing). Union of the two shuffles = the
    extraction stage reads 2×num_partitions tasks, half of them tiny."""
    df = with_doc_bytes(df)
    is_giant = F.col("n_bytes") > cfg.giant_doc_bytes
    key = F.xxhash64(F.col("doc_id"))
    normals = df.filter(~is_giant).repartition(num_partitions, key)
    giants = df.filter(is_giant).repartition(num_partitions, key)
    return normals.unionByName(giants)


def salt_hot_keys(
    df: DataFrame,
    key_col: str,
    hot_keys: DataFrame,
    n_salts: int = 8,
    salt_from: str = "doc_id",
) -> DataFrame:
    """Stripe a DETECTED hot-key set: rows whose `key_col` is in
    `hot_keys` (the count-min output — operators/sketch.cms_hot_keys)
    get salt = h32(salt_from) % n_salts, spreading one reducer's worth
    of a hot key over n_salts stripes; cold keys keep salt 0 (one
    stripe — no fan-out cost on the long tail). The hot set broadcasts
    (it is threshold-bounded: at most total_rows/threshold keys can be
    hot). Deterministic — no rand(), so resume-safe like
    salted_repartition. Downstream per-key ops group on
    (key, salt) partials and merge, the sessionize_salted pattern."""
    from .dedup import h32_expr

    hot = hot_keys.select(F.col("key").alias(key_col)).withColumn(
        "_hot", F.lit(True)
    )
    return (
        df.join(F.broadcast(hot), [key_col], "left")
        .withColumn(
            "salt",
            F.when(
                F.col("_hot").isNotNull(),
                (h32_expr(F.col(salt_from).cast("string")) % n_salts).cast("int"),
            ).otherwise(F.lit(0)),
        )
        .drop("_hot")
    )


def hot_key_salted_repartition(
    df: DataFrame,
    key_col: str,
    num_partitions: int,
    threshold: int,
    n_salts: int = 8,
    salt_from: str = "doc_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """KEY-skew-aware repartitioning (the consumer the count-min
    sketch's docstring promises): build the CMS over df's keys
    (bounded d×w state, constant in corpus AND key cardinality), probe
    it for keys whose estimated count clears `threshold`, stripe those
    with salt_hot_keys, and hash-repartition on (key, salt). A hot key
    now occupies up to n_salts partitions instead of drowning one;
    cold keys land exactly where a plain repartition(key) would put
    them (salt 0 is constant, so (key, 0) hashes are still uniform).
    Pass `candidates` (a bounded sample) at scale — the default probe
    distincts the keys, which is key-cardinality-bounded (documented
    in cms_hot_keys)."""
    from .sketch import cms_hot_keys

    hot = cms_hot_keys(
        df.select(F.col(key_col).alias("key")),
        threshold=threshold,
        candidates=candidates,
    )
    salted = salt_hot_keys(df, key_col, hot, n_salts, salt_from)
    return salted.repartition(num_partitions, F.col(key_col), F.col("salt"))


def partitions_for_bytes(total: int, cfg: EngineConfig = DEFAULT, minimum: int = 8) -> int:
    """Size the partition count so a partition ≈ target_partition_bytes
    of HTML (one well-sized Arrow batch, SURVEY §4 'bounded concurrency')."""
    return max(minimum, int(total // cfg.target_partition_bytes) + 1)


def partitions_for(df: DataFrame, cfg: EngineConfig = DEFAULT, minimum: int = 8) -> int:
    """partitions_for_bytes over df's total n_bytes.

    Driver-side single-row agg — cheap (sum pushes down columnar)."""
    df = with_doc_bytes(df)
    total = df.agg(F.sum("n_bytes").alias("b")).collect()[0]["b"] or 0
    return partitions_for_bytes(total, cfg, minimum)
