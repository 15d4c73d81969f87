"""As-of join and range join — operators Spark's API lacks natively,
composed from built-in DataFrame ops (no UDFs, no driver loops).

**As-of join** (``left.ts >= right.ts``, latest right wins, per key):
the union trick — tag both sides into one relation, sort per key by
(ts, side) with right-side rows first at equal timestamps (inclusive
semantics), and carry the most recent right payload forward with
``last(..., ignorenulls=True)`` over a running ROWS frame. ONE shuffle
(the per-key window), no range explosion, no skew beyond the key's own
distribution — the canonical Spark formulation. Matches DuckDB's
``ASOF LEFT JOIN`` exactly (oracle-checked).

**Range join** (point ∈ [start, end], no equi key): naive Spark planning
gives BroadcastNestedLoop (O(n·m) compares). Bucketing restores an
equi-join: intervals explode to the fixed-width buckets they overlap,
points hash to their single bucket, and the exact BETWEEN predicate
filters after the bucket equi-join. Completeness: t ∈ [s,e] ⇒
bucket(t) ∈ [bucket(s), bucket(e)], so no pair is missed; each
(point, interval) pair meets in exactly one bucket (the point's), so
no duplicates. Bucket width trades replication (long intervals explode
more) against bucket population — size it near the median interval
length.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
) -> DataFrame:
    """For every left row, attach the latest right row with
    ``right.ts <= left.ts`` sharing the key columns (left-join
    semantics: no prior right row → NULL payload).

    ``right`` must be unique per (key, ts) — pre-aggregate if not, or
    ties make "latest" ill-defined on any engine.
    """
    right_payload = [c for c in right.columns if c not in {*on, "ts"}]
    payload_struct = F.struct(
        F.col("ts").alias("__asof_ts"),
        *[F.col(c) for c in right_payload],
    )
    l_tag = left.select(
        *on,
        F.col("ts").alias("__t"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__left_row"),
        F.lit(None).cast(
            right.select(payload_struct).schema[0].dataType
        ).alias("__right_payload"),
    )
    r_tag = right.select(
        *on,
        F.col("ts").alias("__t"),
        F.lit(0).alias("__is_left"),
        F.lit(None)
        .cast(left.select(F.struct(*[F.col(c) for c in left.columns])).schema[0].dataType)
        .alias("__left_row"),
        payload_struct.alias("__right_payload"),
    )
    # Right rows sort BEFORE left rows at equal __t → inclusive (>=).
    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("__t"), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = (
        l_tag.unionByName(r_tag)
        .withColumn("__match", F.last("__right_payload", ignorenulls=True).over(w))
        .filter(F.col("__is_left") == 1)
    )
    return carried.select("__left_row.*", "__match.*")


BUCKET_SECONDS = 7200  # range_join_points' equi-join bucket width


def range_join_points(points: DataFrame, intervals: DataFrame) -> DataFrame:
    """INNER join of point rows (``ts``) to every interval containing
    them (``[w_start, w_end]``, inclusive), without an equi key, via a
    fixed-width time-bucket equi-join."""
    point_ts, start_ts, end_ts = "ts", "w_start", "w_end"
    bucket_seconds = BUCKET_SECONDS
    b_pt = F.floor(F.col(point_ts).cast("timestamp").cast("long") / bucket_seconds)
    b_lo = F.floor(F.col(start_ts).cast("timestamp").cast("long") / bucket_seconds)
    b_hi = F.floor(F.col(end_ts).cast("timestamp").cast("long") / bucket_seconds)
    p = points.withColumn("__bucket", b_pt.cast("long"))
    iv = intervals.withColumn(
        "__bucket", F.explode(F.sequence(b_lo.cast("long"), b_hi.cast("long")))
    )
    cond = (
        (F.col(point_ts) >= F.col(start_ts))
        & (F.col(point_ts) <= F.col(end_ts))
    )
    return p.join(iv, "__bucket").filter(cond).drop("__bucket")
