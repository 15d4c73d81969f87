"""Streaming NATIVE session windows (F.session_window + watermark).

The streaming twin of the batch ``session_window_agg`` query: Spark's
dedicated session-window state store merges/extends sessions as events
arrive — no applyInPandasWithState needed when the per-session output
is an aggregate (the arbitrary-state sessionizer in sessionize.py
remains the tool when per-session custom payloads are required).

State at scale: keyed by (user_id, session). In **append** mode — the
production path for a continuous stream — the watermark finalizes and
EVICTS sessions whose end precedes it, so state is bounded by active
sessions, not history. The oracle harness below instead runs
**complete** mode, where the watermark never evicts aggregation state:
with ``Trigger.AvailableNow`` over a static directory, append would
withhold every session newer than the final watermark, while complete
emits all of them, making the output equal the batch query bit-for-bit
— which is exactly what the shared DuckDB oracle asserts. Complete mode
therefore retains ALL session state and is only for this bounded
oracle-comparison use; a real stream would write in append mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.streaming.state import drain, event_stream


def streaming_session_window(spark: SparkSession, events_dir: str) -> DataFrame:
    """Streaming DF: (user_id, session_window, n_events)."""
    stream = event_stream(spark, events_dir)
    return (
        stream.withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def run_streaming_session_window(spark: SparkSession, events_dir: str) -> DataFrame:
    """Run to completion (AvailableNow) in complete mode → flat table.

    Complete mode is for the static-directory oracle comparison (see
    module docstring — append would withhold sessions newer than the
    final watermark). Eight state partitions size the session state
    store — see streaming/state.py for the sizing rule.
    """
    drain(
        spark,
        streaming_session_window(spark, events_dir)
        .writeStream.format("memory")
        .queryName("session_windows")
        .outputMode("complete"),
        partitions=8,
    )
    return spark.table("session_windows").select(
        "user_id",
        F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
    )
