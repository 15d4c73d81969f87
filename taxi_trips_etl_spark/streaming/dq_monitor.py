"""Streaming data-quality monitor: per-micro-batch constraint checks.

Production ingests fail SLOWLY — a schema drift or an upstream bug
shows up as a rising violation rate, not a crash. This runs the same
declarative rules as ``dataprep.profile.validate_constraints`` inside
``foreachBatch`` and appends (batch_id, rule, violations) to a parquet
log: the violations time series a pipeline dashboard alerts on.

Per batch the cost is one conditional-aggregate pass + one tiny
groupBy per unique-key rule — O(|batch|), state-free (the log lives in
storage), and the checked stream itself is passed through untouched,
so the monitor composes in front of any sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.profile import validate_constraints
from taxi_trips_etl_spark.streaming.state import drain


def monitor_batch(
    batch: DataFrame,
    batch_id: int,
    log_path: str,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> None:
    """The foreachBatch body (callable directly for batch backfills)."""
    report = validate_constraints(
        batch, not_null=not_null, unique=unique, ranges=ranges
    ).withColumn("batch_id", F.lit(batch_id).cast("long"))
    report.write.mode("append").parquet(log_path)


def run_streaming_dq_monitor(
    spark: SparkSession,
    source_path: str,
    schema,
    log_path: str,
    checkpoint_path: str,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> None:
    """Drain ``source_path`` (AvailableNow; 1 file per micro-batch so
    the log has per-ingest granularity) writing the DQ time series."""
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(source_path)
    drain(
        spark,
        stream.writeStream.foreachBatch(
            lambda df, epoch: monitor_batch(
                df, epoch, log_path,
                not_null=not_null, unique=unique, ranges=ranges,
            )
        ).option("checkpointLocation", checkpoint_path),
    )
