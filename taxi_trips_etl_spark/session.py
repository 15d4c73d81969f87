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
- ``spark.sql.streaming.checkpointFileManagerClass`` is
  ``FileSystemBasedCheckpointFileManager``: streaming checkpoints
  (state-store deltas, offsets, commits, source logs) commit through
  Hadoop's ``FileSystem`` API instead of ``FileContext``. Without a
  native libhadoop, ``FileContext``'s local rename forks ``readlink``
  (``RawLocalFileSystem.getFileLinkStatus``) every time, and each
  state-store task waits on those forks; ``FileSystem`` renames with a
  plain Java rename. The checks stay: every file keeps Spark's
  checkpoint checksum (``fileChecksum.enabled`` is left at its
  default) and Hadoop's ``.crc``. On a cluster: Spark itself falls
  back to this manager for schemes that have no ``FileContext``; HDFS
  renames atomically through either API; object stores are non-atomic
  under both.
- ``spark.hadoop.fs.file.impl`` is ``NioLocalFileSystem``, compiled
  from the package's one ``.java`` file and put first on
  ``spark.driver.extraClassPath`` (``local_fs``). Without a native
  libhadoop, Hadoop's local file system forks ``chmod`` to set the mode
  of every file it creates and every directory it makes: checkpoint
  files and their ``.crc``, partition files, committer directories,
  the event log. The class keeps ``LocalFileSystem``'s checksum layer
  and sets modes within ``0777`` through ``java.nio``, so files,
  ``.crc`` side files and modes stay the same. Both settings are left
  unset where there is no ``javac``, the compile fails, or the master
  is not ``local``. The checkpoint manager setting above stays:
  ``FileContext`` builds its own raw local file system
  (``fs.AbstractFileSystem.file.impl``), which this class does not
  replace, so its renames would still fork ``readlink``.
- ``spark.python.sql.dataFrameDebugging.enabled`` is ``false``. With
  it on (Spark's default), PySpark wraps every ``functions.*`` and
  ``Column`` call in ``pyspark.errors.utils._with_origin``, which walks
  the Python stack for the call site and sets and clears it in the JVM
  through py4j; Spark's own description of the conf warns of "a
  non-trivial performance overhead". Measured on a 4-vCPU VM: ``F.col``
  0.63 → 0.21 ms per call. What is lost: an analysis or runtime error
  no longer names the Python file and line in its DataFrame context;
  the message and the JVM stack trace are unchanged. PySpark reads the
  setting once per process, on the first wrapped call
  (``is_debugging_enabled``), so it is fixed here at session build and
  cannot be turned back on in a running process.
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

from taxi_trips_etl_spark import local_fs


def spark_cpus() -> str:
    return os.environ.get("SPARK_GRAFT_CPUS", "*")


def get_spark(
    app_name: str = "taxi_trips_etl_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults;
    ``extra_conf`` overrides any of them."""
    master = master or f"local[{spark_cpus()}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", "32")
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
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.python.daemon.module", "taxi_trips_etl_spark.worker_daemon")
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    extra = dict(extra_conf or {})
    fs_conf = local_fs.session_conf(master, extra.pop(local_fs.CLASS_PATH, None))
    for k, v in {**fs_conf, **extra}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
