"""Skew-mitigation primitives for hot-key joins at scale.

AQE's skew-join handles moderate skew by splitting oversized partitions,
but a single pathological key (one H3 cell holding an airport, one
boilerplate LSH bucket) still serializes on one task pair. Salting is
the classic fix: spread the hot key across N synthetic sub-keys.

``salted_join`` is a semantics-preserving inner equi-join:
every big-side row carries ONE deterministic salt, and the small side
is replicated across ALL salts, so each big row still meets every
matching small row exactly once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    salts: int = 16,
) -> DataFrame:
    """Inner equi-join with the big side salted across ``salts`` sub-keys.

    The salt is derived deterministically from the big side's full row
    hash (xxhash64), so repeated runs produce identical partitioning —
    no RNG in the plan. The small side explodes ×salts (keep it the
    genuinely-small side; for a broadcastable dim prefer F.broadcast —
    salting is for mid-size × mid-size joins with hot keys).
    """
    big_s = big.withColumn(
        SALT_COL, F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(salts))
    )
    small_s = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    ).withColumn(SALT_COL, F.col(SALT_COL).cast("long"))
    return big_s.join(small_s, [*on, SALT_COL]).drop(SALT_COL)


def key_skew_report(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Diagnostic: per-key row counts + share of total for the 10
    hottest keys — the thing to run before deciding between broadcast,
    AQE, or salting for a join."""
    total = df.count()
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .withColumn("share", F.round(F.col("n_rows") / F.lit(total), 6))
        .orderBy(F.col("n_rows").desc(), *key_cols)
        .limit(10)
    )


def two_stage_distinct_count(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Exact COUNT(DISTINCT user_id) that survives a hot key: stage 1
    dedups (key, user_id) pairs — partitioned by the PAIR, so a key holding
    half the corpus still spreads across every reducer — and stage 2
    counts the surviving pairs per key (input already key-distinct,
    so the second shuffle moves one row per distinct value, not per
    event). The naive single-pass ``countDistinct`` plans the same
    two exchanges but is worth pinning as an explicit primitive:
    at 100 TB the stage-1 partial aggregation (map-side dedup) is
    what caps the shuffle at distinct-pairs, and this shape
    generalizes to multi-column distincts and to sketch swap-ins
    (HLL) when exactness can be traded.

    → key_cols + (n_distinct,)"""
    pairs = df.select(*key_cols, "user_id").distinct()
    return pairs.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )
