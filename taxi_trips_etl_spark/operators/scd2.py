"""SCD Type-2 (slowly-changing dimension) apply on plain parquet.

The dimension-history primitive every warehouse pipeline eventually
needs: rows carry (valid_from, valid_to NULL=open); applying a batch of
updates closes the open version of each changed key and opens a new
one. No table format required — pure DataFrame ops + an overwrite of
the dimension table (which is small by definition; the 100 TB side of
the join is never the dimension).

One shuffle on the business key; change detection compares a md5 over
the tracked attributes so adding attributes never changes the shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _attr_hash(attrs: list[str]):
    return F.md5(F.concat_ws("\x1f", *[
        F.coalesce(F.col(a).cast("string"), F.lit("\x00")) for a in attrs
    ]))


def scd2_apply(dim: DataFrame, updates: DataFrame, attrs: list[str]) -> DataFrame:
    """Apply ``updates`` (c_custkey, attrs…, effective_ts) to an SCD2
    ``dim`` (c_custkey, attrs…, valid_from, valid_to).

    - unchanged keys (same attr hash) and closed history: pass through;
    - changed keys: open row closes at the update's effective_ts and a
      new open row starts there;
    - brand-new keys: open row starts at effective_ts.

    ``updates`` must hold ONE row per key (pre-aggregate a batch to its
    latest update first).
    """
    key = "c_custkey"
    u = updates.select(
        F.col(key),
        *[F.col(a).alias(f"__u_{a}") for a in attrs],
        F.col("effective_ts").alias("__eff"),
        _attr_hash(attrs).alias("__u_hash"),
    )
    d = dim.withColumn("__hash", _attr_hash(attrs))

    open_rows = d.filter(F.col("valid_to").isNull())
    closed_rows = d.filter(F.col("valid_to").isNotNull()).drop("__hash")

    j = open_rows.join(u, key, "full_outer")

    untouched_open = j.filter(
        F.col("__eff").isNull() | (F.col("__hash") == F.col("__u_hash"))
    ).filter(F.col("valid_from").isNotNull()).select(
        key, *attrs, "valid_from", "valid_to"
    )
    closed_now = j.filter(
        F.col("__eff").isNotNull()
        & F.col("__hash").isNotNull()
        & (F.col("__hash") != F.col("__u_hash"))
    ).select(
        key, *attrs, "valid_from", F.col("__eff").alias("valid_to")
    )
    new_versions = j.filter(
        F.col("__eff").isNotNull()
        & (F.col("__hash").isNull() | (F.col("__hash") != F.col("__u_hash")))
    ).select(
        key,
        *[F.col(f"__u_{a}").alias(a) for a in attrs],
        F.col("__eff").alias("valid_from"),
        F.lit(None).cast(dim.schema["valid_to"].dataType).alias("valid_to"),
    )
    return closed_rows.unionByName(untouched_open).unionByName(
        closed_now
    ).unionByName(new_versions)


def pit_join(fact: DataFrame, history: DataFrame) -> DataFrame:
    """Point-in-time (temporal) join: each fact row (``o_custkey``,
    ``o_ts``) picks the ``c_custkey`` dimension VERSION that was valid
    at its timestamp — the read-side
    counterpart of scd2_apply, and the operation that makes SCD2
    history worth keeping (training-data reproducibility: joining
    features "as of" the label's time, never the future's).

    Well-formed SCD2 history has non-overlapping [valid_from,
    valid_to) ranges per key with NULL = open, so exactly one version
    matches; the range predicate rides the equi-join on the business
    key (a hash join + residual filter — never a cartesian), and the
    history side is dimension-sized.
    """
    cond = (
        (fact["o_custkey"] == history["c_custkey"])
        & (fact["o_ts"] >= history["valid_from"])
        & (
            history["valid_to"].isNull()
            | (fact["o_ts"] < history["valid_to"])
        )
    )
    return fact.join(history, cond)
