"""Structured Streaming rollup — the "instant results" variant.

The reference is daily batch and explicitly *discusses but does not
build* an event-driven instant-results architecture
(/root/reference/README.md:60-64, 96-98). This module builds it the
Spark way: ``readStream`` over the events table's directory →
watermarked tumbling-window aggregation (late data handled by the
watermark, state bounded) → sink. SURVEY.md §2.9/§7 optional extension.

``Trigger.AvailableNow`` makes runs deterministic and testable: process
everything currently in the source, then stop — the same query, pointed
at a live object-store prefix, runs continuously unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.functions.scalar import daypart
from taxi_trips_etl_spark.streaming.state import drain, event_stream


def streaming_daypart_rollup(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming DF: per (1-day window, daypart, event_type) counts."""
    # events parquet ts type varies by generation (nanos / NTZ micros);
    # event_stream normalizes it to TIMESTAMP (watermarks reject NTZ).
    stream = event_stream(spark, events_dir)
    return (
        stream.withWatermark("ts", "1 day")
        .groupBy(
            F.window("ts", "1 day").alias("day_window"),
            daypart(F.col("ts")).alias("daypart"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("event_count"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


def run_streaming_daypart_rollup(
    spark: SparkSession, events_dir: str, sink_table: str = "daypart_rollup"
) -> DataFrame:
    """Run the rollup with AvailableNow into a memory sink; return result.

    Output is flattened to plain columns (window start as a string) so
    downstream/batch consumers see a normal relational table.
    """
    # r13: pin the state-store width (streaming/state.py sizing rule);
    # the windowed aggregation keeps one store per shuffle partition.
    drain(
        spark,
        streaming_daypart_rollup(spark, events_dir)
        .writeStream.format("memory")
        .queryName(sink_table)
        .outputMode("complete"),
        partitions=8,
    )
    return spark.table(sink_table).select(
        F.date_format("day_window.start", "yyyy-MM-dd").alias("day"),
        "daypart",
        "event_type",
        "event_count",
        "total_value",
    )
