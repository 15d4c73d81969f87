"""Streaming CDC apply: foreachBatch merge of an event feed into a
keyed target — the streaming twin of ``operators/upsert.py`` /
``cdc_upsert_apply``.

``foreachBatch`` is THE portable sink for merge semantics on OSS Spark
(no Delta/Iceberg in this container): each micro-batch runs an
arbitrary batch transaction against the target. The merge rule here is
latest-state-per-key with "latest" = max (ts, event_id) — crucially a
COMMUTATIVE, ASSOCIATIVE reduction, so the final target state is
independent of how the source files split into micro-batches and of
batch arrival order. That is what makes the run oracle-checkable (and
what makes retries/redelivery safe in production: re-applying an old
batch is a no-op).

Scale shape per batch: reduce the batch to latest-per-key (map-side
combinable max_by), then one full-outer merge shuffle on the key
against the target — or zero shuffles when the target is bucketed on
the key (sources.writers.write_bucketed). Target lineage is truncated
every batch via :func:`materialize`, the same guard the iterative
graph ops use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize, release
from taxi_trips_etl_spark.sources.localrel import local_rows
from taxi_trips_etl_spark.streaming.state import drain, event_stream

# Final state per user: the row of the (ts, event_id)-max event.
_STATE_SCHEMA = (
    "user_id long, last_event_id long, last_ts timestamp, "
    "last_type string, last_value double"
)


def _latest_per_key(events: DataFrame) -> DataFrame:
    """Reduce any event set to one state row per user_id.

    max_by with a (ts, event_id) struct ordering key: event_id is a
    unique tiebreaker, so the argmax is total and deterministic — and
    the whole reduction is a hash aggregate (map-side combinable), not
    a window sort.
    """
    ordk = F.struct(F.col("ts"), F.col("event_id")).alias("ordk")
    row = F.struct("event_id", "ts", "event_type", "value").alias("row")
    return (
        events.select("user_id", ordk, row)
        .groupBy("user_id")
        .agg(F.max_by("row", "ordk").alias("r"))
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("r.event_id").cast("long").alias("last_event_id"),
            F.col("r.ts").alias("last_ts"),
            F.col("r.event_type").alias("last_type"),
            F.col("r.value").alias("last_value"),
        )
    )


def run_streaming_cdc_upsert(
    spark: SparkSession,
    events_dir: str,
) -> DataFrame:
    """Stream ``events_dir`` in micro-batches (one file per trigger by
    default) and merge each batch into an accumulating per-user state
    table; return the final state.

    The per-batch merge unions the incoming batch-latest rows with the
    current target and re-reduces — equivalent to a conditional
    MERGE INTO ... WHEN MATCHED AND source newer THEN UPDATE, but
    expressed as the commutative reduction so replays are no-ops.
    """
    stream = event_stream(
        spark, events_dir, max_files_per_trigger=1
    )
    state = {"df": None}

    def apply_batch(batch: DataFrame, _batch_id: int) -> None:
        upd = _latest_per_key(batch)
        cur = state["df"]
        merged = upd if cur is None else _latest_from_states(cur, upd)
        # Eager truncate: later batches must not re-trigger this one's
        # lineage, and the memory footprint is one row per key.
        state["df"] = materialize(merged, eager=True)
        # The new state is computed, so the previous batch's checkpoint
        # blocks are dead weight — free them NOW instead of waiting for
        # Python GC + ContextCleaner (an unbounded stream would retain
        # one RDD per micro-batch otherwise).
        if cur is not None:
            release(cur)

    drain(spark, stream.writeStream.foreachBatch(apply_batch))
    out = state["df"]
    if out is None:  # empty source
        return local_rows(spark, [], _STATE_SCHEMA)
    return out


def _latest_from_states(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two state tables, newer (ts, event_id) wins per key."""
    ordk = F.struct(F.col("last_ts"), F.col("last_event_id")).alias("ordk")
    row = F.struct(
        "last_event_id", "last_ts", "last_type", "last_value"
    ).alias("row")
    return (
        a.unionByName(b)
        .select("user_id", ordk, row)
        .groupBy("user_id")
        .agg(F.max_by("row", "ordk").alias("r"))
        .select(
            "user_id",
            F.col("r.last_event_id").alias("last_event_id"),
            F.col("r.last_ts").alias("last_ts"),
            F.col("r.last_type").alias("last_type"),
            F.col("r.last_value").alias("last_value"),
        )
    )
