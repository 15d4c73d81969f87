"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` single-JVM, but every
config here is chosen for the 100 TB / 1000-executor target:

- AQE on (runtime partition coalescing, skew-join splitting, dynamic
  join-strategy downgrade to broadcast when a side turns out small).
- ``spark.sql.shuffle.partitions`` is only the *initial* shuffle
  parallelism — AQE coalesces; on a real cluster set it ~2-3x total
  cores and let AQE shrink.
- Arrow enabled so the Python-worker paths batch-transfer instead of
  pickling rows: the ``mapInPandas`` kernels (``unigram_tok``,
  ``pca_power``, ``heavy_hitters``, ``lcs``, ``multimodal``), the
  ``similarity`` grouped and cogrouped maps, one ``applyInPandas`` and
  one ``mapInArrow`` entry, and the ``applyInPandasWithState``
  sessionizer.
- ``spark.python.daemon.module`` is ``worker_daemon``: Python workers
  import pyspark from its installed package directory, not from
  ``pyspark.zip`` and the spark-core jar, whose directories every task
  would otherwise re-read in ``importlib.invalidate_caches()``. Where
  no plain pyspark of the archive's version is importable (an executor
  with only ``SPARK_HOME``) it leaves the path as Spark built it.
- Runtime bloom-filter join pruning
  (``spark.sql.optimizer.runtime.bloomFilter.enabled`` +
  ``runtimeFilter.semiJoinReduction``) is deliberately NOT set here:
  enabling it globally hung the Structured Streaming suite (injected
  filter subqueries don't compose with stream-stream joins in this
  build — measured: test_models_and_streaming 16s → timeout). On a
  batch-only 100 TB cluster session, pass it via ``extra_conf`` —
  it prunes the probe side of selective fact-fact joins by the build
  side's selectivity with no operator changes.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def spark_cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "taxi_trips_etl_spark",
    master: str | None = None,
    shuffle_partitions: int = DEFAULT_SHUFFLE_PARTITIONS,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults."""
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{spark_cpus()}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        # Events parquet has carried TIMESTAMP(NANOS) in some testdata
        # generations; pin the legacy fallback at session build so
        # readers can *require* it instead of mutating session conf
        # mid-flight (readers.require_nanos_as_long).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "taxi_trips_etl_spark.worker_daemon")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
