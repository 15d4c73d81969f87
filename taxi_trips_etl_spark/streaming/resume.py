"""Checkpoint RESUME semantics, pinned end-to-end.

Every other streaming entry drains a staged source in ONE query run.
This module pins the property production actually depends on: a
stopped query restarted against the SAME checkpoint continues from
its recorded offsets and state — already-processed files are not
re-read, accumulated aggregation state carries forward, and the
final answer equals the one-shot batch aggregation exactly once.

The drain runs the same windowed count TWICE as separate
StreamingQuery lifecycles sharing one checkpoint dir: run 1 sees
only file A; file B then lands in the source dir; run 2 resumes and
processes ONLY B (the offset log proves A is done). foreachBatch in
complete mode overwrites the sink parquet with the full state each
batch, so the final file holds counts over A ∪ B — exactly once. A
broken resume double-counts A (state restored but offsets lost) or
loses it (state lost), and either breaks the oracle hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _daily_counts(spark: SparkSession, src: str, schema) -> DataFrame:
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )


def run_resumable_drain(
    spark: SparkSession,
    src: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    state_partitions: int = 2,
) -> None:
    """One StreamingQuery lifecycle: drain whatever is currently in
    ``src`` (AvailableNow), overwriting ``out_path`` with the full
    aggregation state each batch. Call again after adding files —
    the shared checkpoint resumes offsets + state."""
    from taxi_trips_etl_spark.streaming.state import state_partitions as _pin

    def sink(batch: DataFrame, _bid: int) -> None:
        batch.write.mode("overwrite").parquet(out_path)

    with _pin(spark, state_partitions):
        q = (
            _daily_counts(spark, src, schema)
            .writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", checkpoint_path)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
