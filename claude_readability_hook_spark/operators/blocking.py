"""Block purging and pair expansion for every near-dup family.

Entity resolution splits into blocking, block purging and comparison
(SparkER). Each family blocks its own rows into buckets — minhash bands
and shingles in dedup.py, Hamming bands in imagededup.py (image, audio)
and videodedup.py — and compares its pairs in-row as plain Columns over
`a`/`b`; the step in between is bucket_pairs, and oversize_buckets
reports what it purged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def bucket_pairs(
    buckets: DataFrame, members: str, max_bucket_size: int | None
) -> DataFrame:
    """(a, b) for every i < j of each bucket's `members` array, so a
    sorted array yields a < b. Buckets with more than max_bucket_size
    members are dropped before any pair is built (None keeps every
    bucket; oversize_buckets reports the dropped ones).

    Two codegen'd generators, no Python stage: posexplode(members)
    gives (i, a), then explode(slice(members, i + 2, size)) gives every
    later member b. Pairs stream through the JVM row by row, so no
    bucket's m² pair list is ever held. A pair shared by several
    buckets comes out once per bucket; callers distinct or count it."""
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size(members) <= max_bucket_size)
    m = F.col(members)
    return buckets.select(m, F.posexplode(m).alias("_i", "a")).select(
        "a", F.explode(F.slice(m, F.col("_i") + 2, F.size(m))).alias("b")
    )


def oversize_buckets(
    buckets: DataFrame,
    members: str,
    max_bucket_size: int,
    keys: tuple[str, ...],
    n_name: str,
) -> DataFrame:
    """The buckets bucket_pairs drops at max_bucket_size: the `keys`
    columns plus the member count as long column `n_name`, for the
    quarantine/lineage sink — metadata only, never the member list."""
    return buckets.filter(F.size(members) > max_bucket_size).select(
        *keys, F.size(members).cast("long").alias(n_name)
    )
