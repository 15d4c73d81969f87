"""Gaps-and-islands: merge overlapping per-key intervals.

The canonical sessionless interval union (calendar busy-time, sensor
uptime, trip coverage): each event opens an interval [t, t+duration);
overlapping or touching intervals per key merge into islands.

Plan shape: ONE shuffle on the key serves both windows (the running
max-end and the island-id cumsum share partitioning and ordering, so
Spark plans a single Window operator stack over one Exchange) plus
the final groupBy, which reuses the same partitioning. All arithmetic
is exact integer microseconds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


DURATION_US = 300_000_000  # each event's interval: 5 minutes


def merge_overlapping_intervals(events: DataFrame) -> DataFrame:
    """Merge per-``user_id`` intervals [ts, ts+DURATION_US) into islands.

    An event starts a new island iff its start strictly exceeds the
    max end of ALL earlier intervals (running max — a later-starting
    but shorter interval must not end an island a longer earlier one
    still covers). Touching intervals (start == previous end) merge,
    matching half-open semantics.

    Returns (user_id, island_id, start_us, end_us, n_events).
    """
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    e = events.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts")).alias("t"),
        (F.unix_micros(F.col("ts")) + DURATION_US).alias("e_end"),
    )
    flagged = e.withColumn(
        "prev_end",
        F.max("e_end").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        ),
    ).withColumn(
        "is_new",
        F.when(
            F.col("prev_end").isNull()
            | (F.col("t") > F.col("prev_end")),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island_id",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )
    return islands.groupBy("user_id", "island_id").agg(
        F.min("t").cast("long").alias("start_us"),
        F.max("e_end").cast("long").alias("end_us"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
