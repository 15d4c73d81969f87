"""Shared streaming-runner helpers."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession


@contextmanager
def state_partitions(spark: SparkSession, n: int):
    """Pin ``spark.sql.shuffle.partitions`` for a streaming query's
    lifetime, restoring the batch setting afterwards.

    Stateful operators keep one state store PER shuffle partition, each
    committing a checkpoint delta every micro-batch — so partition
    count multiplies commit overhead whether or not the partitions hold
    data. Size it to key cardinality × event rate, not to the batch
    shuffle width. The conf must be set BEFORE ``start()`` (state
    stores cannot be re-partitioned without a checkpoint rebuild), and
    the query keeps its width after the conf is restored.

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
