"""Stream-static enrichment: a streaming fact joined to a batch
dimension, then watermark-windowed aggregation.

The canonical "enrich events with the customer/zone dim" topology: the
static side is re-read per micro-batch (so a dim refresh lands without
restarting the query) and broadcast — the stream side never shuffles
for the join, exactly like the flagship's zone enrichment. Spark
supports stream-static inner/left joins natively; no state is kept for
the static side.

``Trigger.AvailableNow`` + a memory sink make runs deterministic and
oracle-comparable: the same query pointed at a live prefix runs
continuously unchanged (same posture as streaming/rollup.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.streaming.state import drain, event_stream


def streaming_static_enrich(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
) -> DataFrame:
    """Streaming DF: events ⋈ broadcast(dim on c_custkey) → per
    (1-day window, nation, event_type) counts and value totals."""
    stream = event_stream(spark, events_dir)
    d = F.broadcast(dim.select("c_custkey", "c_nationkey"))
    return (
        stream.withWatermark("ts", "1 day")
        .join(d, stream["user_id"] == d["c_custkey"])
        .groupBy(
            F.window("ts", "1 day").alias("day_window"),
            F.col("c_nationkey"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def run_streaming_static_enrich(
    spark: SparkSession,
    events_dir: str,
    dim: DataFrame,
    sink_table: str = "static_enrich",
) -> DataFrame:
    """Run to completion (AvailableNow) → flat table.

    ``complete`` output mode is for the static-directory oracle
    comparison only (append would withhold windows newer than the
    final watermark); a continuous deployment uses append, where the
    watermark closes windows and bounds state.
    """
    # r13: pin the state-store width (streaming/state.py sizing rule);
    # the windowed aggregation keeps one store per shuffle partition.
    drain(
        spark,
        streaming_static_enrich(spark, events_dir, dim)
        .writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete"),
        partitions=8,
    )
    return spark.table(sink_table).select(
        F.date_format("day_window.start", "yyyy-MM-dd").alias("day"),
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        "event_type",
        "n_events",
        "total_value",
    )
