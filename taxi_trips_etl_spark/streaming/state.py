"""Shared streaming-runner helpers.

Every bounded, file-fed drive in this package is built from the same
four pieces, all defined here:

- :func:`event_stream` — the events parquet as a file stream;
- :func:`stage_file` — land a DataFrame in a source dir as ONE file;
- :func:`state_partitions` — pin the state-store width;
- :func:`drain` — run a configured writer once with
  ``Trigger.AvailableNow`` and wait, bounded, for it to finish.
"""

from __future__ import annotations

import os
import shutil
import tempfile
from contextlib import contextmanager, nullcontext

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

# Upper bound on one drain's wall time. The slowest drive at sf0.1
# finishes in a few seconds; a drain still running after this is stuck
# (e.g. a timeout-driven stateful operator that never goes idle).
DRAIN_TIMEOUT_S = 300


def event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """The events parquet at ``path`` (a file or a directory) as a
    streaming DataFrame with ``ts`` normalized to TIMESTAMP.

    The schema comes from the footer. The streaming file source wants a
    directory, so a single file streams its parent dir with a glob
    filter on the filename. ``max_files_per_trigger`` rate-limits the
    source; AvailableNow honours it, so a many-file source becomes a
    deterministic multi-batch run.
    """
    from taxi_trips_etl_spark.sources.readers import (
        normalize_event_ts,
        require_nanos_as_long,
        require_utc_session,
    )

    # Do NOT silently flip session conf: entry points pin UTC +
    # nanosAsLong, and a mis-configured session RAISES rather than
    # having a reader mutate a global conf mid-session.
    require_nanos_as_long(spark)
    require_utc_session(spark)
    reader = spark.readStream.schema(spark.read.parquet(path).schema)
    if max_files_per_trigger is not None:
        reader = reader.option(
            "maxFilesPerTrigger", str(max_files_per_trigger)
        )
    if os.path.isfile(path):
        path, fname = os.path.split(path)
        reader = reader.option("pathGlobFilter", fname)
    return normalize_event_ts(reader.parquet(path))


def stage_file(df: DataFrame, src_dir: str, name: str) -> str:
    """Write ``df`` as exactly one ``{src_dir}/{name}.parquet`` file and
    return its path.

    The write goes to a temp dir next to ``src_dir`` and the part file
    is then renamed in, so a file stream listing ``src_dir`` never sees
    a partial file or Spark's ``_SUCCESS``/``.crc`` side files.
    """
    os.makedirs(src_dir, exist_ok=True)
    dest = f"{src_dir}/{name}.parquet"
    with tempfile.TemporaryDirectory(
        prefix=f"stage_{name}_",
        dir=os.path.dirname(os.path.abspath(src_dir)),
        ignore_cleanup_errors=True,
    ) as tmp:
        df.coalesce(1).write.parquet(f"{tmp}/out")
        part = next(
            f for f in os.listdir(f"{tmp}/out") if f.endswith(".parquet")
        )
        shutil.move(f"{tmp}/out/{part}", dest)
    return dest


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` for a streaming query's
    lifetime, restoring the batch setting afterwards.

    Stateful operators keep one state store PER shuffle partition, each
    committing a checkpoint delta every micro-batch — so partition
    count multiplies commit overhead whether or not the partitions hold
    data. On the local file system one store's commit costs ~5 ms
    through the ``FileSystem`` checkpoint manager ``get_spark`` sets,
    against ~60–85 ms through Spark's default ``FileContext`` manager,
    which forks ``readlink`` per rename (``stream_replay`` drives, 8
    partitions, 4-vCPU VM; SCALE.md, "Streaming checkpoint commits on
    the local file system"). Size it to key cardinality × event rate,
    not to the batch shuffle width. The conf must be set BEFORE
    ``start()`` (state stores cannot be re-partitioned without a
    checkpoint rebuild), and the query keeps its width after the conf
    is restored.

    The conf is session-global: a batch query planned on the same
    session while the scope is open inherits the pinned width, so do
    not overlap a drain with other planning on its session.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain(
    spark: SparkSession,
    writer: DataStreamWriter,
    partitions: int | None = None,
) -> None:
    """Start ``writer`` with ``Trigger.AvailableNow`` and wait until it
    has processed everything currently in its source.

    ``partitions`` pins the state-store width (:func:`state_partitions`)
    across both ``start()`` and the wait; leave it ``None`` for
    stateless drives. A failing query re-raises here. A query still
    running after :data:`DRAIN_TIMEOUT_S` is stopped and
    ``TimeoutError`` is raised.
    """
    scope = (
        nullcontext()
        if partitions is None
        else state_partitions(spark, partitions)
    )
    with scope:
        q = writer.trigger(availableNow=True).start()
        if not q.awaitTermination(DRAIN_TIMEOUT_S):
            q.stop()
            raise TimeoutError(
                f"streaming drive {q.name or q.id} did not finish "
                f"within {DRAIN_TIMEOUT_S} s"
            )
