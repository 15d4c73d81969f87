"""Sinks and write dispositions (SURVEY.md §2.1, S4-S9).

Reference semantics being re-expressed:

- WRITE_TRUNCATE / WRITE_APPEND dispositions
  (``/root/reference/taxi_trips_etl.py:36-40``) → Spark save modes.
- Query-result → destination table (``taxi_trips_etl.py:100-109``) →
  ``df.write`` to a parquet table path.
- Per-day table names ``trips_YYYYMMDD`` (``taxi_trips_etl.py:124``)
  → ONE table partitioned by ``run_date``. At 100 TB this is the load-
  bearing difference: a date-partitioned parquet table gives native
  partition pruning (a query for one day scans one directory), schema
  evolution across days, and no table-name string mangling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_overwrite(df: DataFrame, path: str) -> None:
    """S4/S6: WRITE_TRUNCATE → destination (creates if needed, S5)."""
    df.write.mode("overwrite").parquet(path)


def write_append(df: DataFrame, path: str) -> None:
    """S4: WRITE_APPEND."""
    df.write.mode("append").parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    buckets: int = 32,
    sort_cols: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Bucketed (hash-clustered) table: the co-located-join primitive.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle — at 100 TB that turns every recurring fact↔fact
    join on the bucket key into a local zipper (add sortBy to skip the
    sort too). Requires ``saveAsTable`` (bucket metadata lives in the
    catalog, not the parquet files).
    """
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_partitioned_by_run_date(df: DataFrame, path: str, ds: str) -> None:
    """S9: replaces the reference's ``trips_{yyyymmdd}`` name mangling.

    Dynamic partition overwrite so re-running a day (Airflow retry /
    backfill, reference ``retries=1``) replaces only that day's
    partition — idempotent daily runs at any scale.
    """
    (
        df.withColumn("run_date", F.lit(ds))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("run_date")
        .parquet(path)
    )


ROWS_PER_FILE = 100  # compact_small_files' target rows per output file


def compact_small_files(
    spark: SparkSession, in_path: str, out_path: str
) -> DataFrame:
    """Small-file compaction — the table-maintenance pass every
    long-lived ingest needs: streaming sinks and per-day appends leave
    thousands of KB-sized parquet files whose per-file open/footer
    cost dominates scans at 100 TB (and whose task count explodes the
    scheduler). Rewrites ``in_path`` into ceil(n_rows / ROWS_PER_FILE)
    files via repartition.

    The file target is derived from ROW count, not byte size, so the
    plan is deterministic and engine-checkable; a byte target would set
    ROWS_PER_FILE from target_bytes / avg_row_bytes. Returns a 1-row
    audit frame (n_rows, n_files_before, n_files_after_planned) —
    n_files_after_planned is also the exact written file count for a
    non-empty input (repartition(n) emits n non-empty parts when
    n <= rows).
    """
    import math

    df = spark.read.parquet(in_path)
    n_rows = df.count()
    n_before = df.select(F.input_file_name()).distinct().count()
    n_after = max(1, math.ceil(n_rows / ROWS_PER_FILE))
    df.repartition(n_after).write.mode("overwrite").parquet(out_path)
    from taxi_trips_etl_spark.sources.localrel import local_rows

    return local_rows(
        spark,
        [(int(n_rows), int(n_before), int(n_after))],
        "n_rows long, n_files_before long, n_files_after long",
    )
