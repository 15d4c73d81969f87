"""Stable global row ids without a single-reducer sort.

``row_number() OVER (ORDER BY …)`` — the obvious way to mint dense ids —
funnels the entire table through ONE partition (Spark plans a global
sort into a single-task window). At 100 TB that task never finishes.
The scalable equivalent is the classic two-pass rank:

1. range-partition on the order key (parallel sort, each partition owns
   a contiguous key range);
2. rank locally inside each partition;
3. add each partition's exclusive prefix offset (one tiny aggregate over
   n_partitions rows, broadcast back).

The result equals the global ``row_number`` EXACTLY — every partition's
keys all sort before the next partition's keys, so global rank = local
rank + preceding-partition count — provided the order key is unique
(range partitioning keeps equal keys together, but a non-unique key
would leave tie order partition-dependent; callers must pass a
tie-breaking unique suffix, same rule the registry applies before any
LIMIT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize


def assign_global_ids(
    df: DataFrame,
    order_cols: list[str],
    id_col: str = "global_id",
) -> DataFrame:
    """→ ``df`` + ``id_col`` = 1-based dense rank by ``order_cols``.

    ``order_cols`` must be a unique key (see module docstring). The
    prefix-offset frame is n_partitions rows — its window sort is
    driver-trivial and the join back is a broadcast.
    """
    cols = [F.col(c) for c in order_cols]
    ranged = df.repartitionByRange(*cols)
    # r13: materialize the ranked frame — it feeds both the offsets
    # aggregate and the final join, and the differently-pruned subtrees
    # get no ReusedExchange, so the lazy plan ran the scan + range
    # shuffle + sort TWICE (interleaved sf0.1 A/B on orders: 0.84s →
    # 0.43s per fresh call, 2 scans/2 sorts → checkpoint-read).
    local = materialize(
        ranged.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__lrk",
            F.row_number().over(Window.partitionBy("__pid").orderBy(*cols)),
        ),
        eager=False,
    )
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w_off = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(id_col, (F.col("__off") + F.col("__lrk")).cast("long"))
        .drop("__pid", "__lrk", "__off")
    )


def assign_prefix_sums(df: DataFrame, order_cols: list[str]) -> DataFrame:
    """→ ``df`` + ``cum`` = inclusive running sum of ``rev_cents``
    by ``order_cols`` — the scalable twin of
    ``sum(x) OVER (ORDER BY …)``, which Spark plans as a
    SinglePartition window. Same two-pass scheme as
    :func:`assign_global_ids`: range-partition on the order key,
    local running sum, add each partition's exclusive value prefix
    (broadcast). ``order_cols`` must be a unique key (module
    docstring)."""
    value_col = "rev_cents"
    cols = [F.col(c) for c in order_cols]
    ranged = df.repartitionByRange(*cols)
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # r13: same double-consumption as assign_global_ids above — the
    # totals aggregate and the final join each re-ran the ranged sort.
    local = materialize(
        ranged.withColumn("__pid", F.spark_partition_id()).withColumn(
            "__lsum", F.sum(value_col).over(w_local)
        ),
        eager=False,
    )
    totals = local.groupBy("__pid").agg(
        F.sum(value_col).alias("__t")
    )
    w_off = Window.orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__pid",
        F.coalesce(F.sum("__t").over(w_off), F.lit(0)).alias("__voff"),
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumn(
            "cum", (F.col("__voff") + F.col("__lsum")).cast("long")
        )
        .drop("__pid", "__lsum", "__voff")
    )
