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
oracle-comparison use; pass ``output_mode="append"`` on a real stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.streaming.state import drain, event_stream


def streaming_session_window(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DF: (user_id, session_window, n_events).

    ``max_files_per_trigger`` rate-limits the file source so a static
    directory becomes a deterministic multi-batch run — the knob the
    append-mode watermark-eviction test uses to make the watermark
    advance BETWEEN batches.
    """
    stream = event_stream(
        spark, events_dir, max_files_per_trigger=max_files_per_trigger
    )
    return (
        stream.withWatermark("ts", "1 day")
        .groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


def run_streaming_session_window(
    spark: SparkSession,
    events_dir: str,
    sink_table: str = "session_windows",
    output_mode: str = "complete",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Run to completion (AvailableNow) → flat table.

    Default ``output_mode="complete"`` exists for the static-directory
    oracle comparison (see module docstring — append would withhold
    sessions newer than the final watermark). On a continuous stream,
    pass ``"append"`` so the watermark actually closes sessions and
    bounds the state store (tests/test_stateful_streaming.py drives a
    two-batch append run and asserts the watermark-finalized session is
    emitted). Eight state partitions size the session state store — see
    streaming/state.py for the sizing rule.
    """
    drain(
        spark,
        streaming_session_window(
            spark, events_dir, max_files_per_trigger=max_files_per_trigger
        )
        .writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode),
        partitions=8,
    )
    return spark.table(sink_table).select(
        "user_id",
        F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n_events",
    )
