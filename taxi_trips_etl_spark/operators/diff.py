"""Snapshot diff: classify rows between two table versions.

The table-audit primitive (what changed between yesterday's load and
today's?): FULL OUTER join the snapshots on the business key and
classify each key as added / removed / changed (attribute hash
differs) — unchanged keys drop out of the report. One shuffle on the
key; attribute comparison is a single md5 over the tracked columns so
widening the table never changes the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _row_hash(attrs: list[str]):
    return F.md5(F.concat_ws("\x1f", *[
        F.coalesce(F.col(a).cast("string"), F.lit("\x00")) for a in attrs
    ]))


def snapshot_diff(old: DataFrame, new: DataFrame, attrs: list[str]) -> DataFrame:
    """→ (c_custkey, change_type ∈ {added, removed, changed}) for every
    key that differs between the snapshots."""
    key = "c_custkey"
    o = old.select(
        F.col(key).alias("__ok"), _row_hash(attrs).alias("__oh")
    )
    n = new.select(
        F.col(key).alias("__nk"), _row_hash(attrs).alias("__nh")
    )
    j = o.join(n, o["__ok"] == n["__nk"], "full_outer")
    return (
        j.select(
            F.coalesce("__ok", "__nk").alias(key),
            F.when(F.col("__ok").isNull(), "added")
            .when(F.col("__nk").isNull(), "removed")
            .when(F.col("__oh") != F.col("__nh"), "changed")
            .alias("change_type"),
        )
        .filter(F.col("change_type").isNotNull())
    )
