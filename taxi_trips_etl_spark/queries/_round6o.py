# Round-6 batch 18: financial-audit analytics — rapid-reorder burst
# detection (same customer, orders within a time window) and
# ABC inventory classification (cumulative-revenue-share classes on
# the scalable global rank). Pure integer paths.
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.queries._registry import _t, register

__all__ = [
    "q_rapid_reorder_audit",
    "q_inventory_abc_classification",
]

_DUP_WINDOW_DAYS = 7

RAPID_REORDER_ORACLE = f"""
WITH o AS (
    SELECT o_orderkey, o_custkey, CAST(o_orderdate AS DATE) AS d
    FROM orders
),
pairs AS (
    SELECT a.o_custkey AS custkey,
           abs(date_diff('day', a.d, b.d)) AS gap_days
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey
     AND a.o_orderkey < b.o_orderkey
     AND abs(date_diff('day', a.d, b.d)) <= {_DUP_WINDOW_DAYS}
)
SELECT custkey,
       CAST(count(*) AS BIGINT) AS n_rapid_pairs,
       CAST(min(gap_days) AS BIGINT) AS min_gap_days
FROM pairs GROUP BY 1
"""


@register("rapid_reorder_audit", RAPID_REORDER_ORACLE)
def q_rapid_reorder_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rapid-reorder burst audit: customers placing multiple orders
    within {_DUP_WINDOW_DAYS} days of each other, with pair count and
    tightest gap — the retry-storm / double-submission screen in
    payments ops (with an amount column carrying real collisions,
    tighten the join key to (customer, amount_cents); this corpus's
    synthetic prices are collision-free, so the registered key is the
    customer alone).

    Scale shape: self-join on the customer key — one co-partitioned
    shuffle; the date window is a residual filter and candidate
    fanout is bounded by per-customer order count (which
    join_multiplicity_hotspots measures first). Integers only."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
    )
    a = o.selectExpr(
        "o_orderkey AS order_a", "o_custkey AS custkey", "d AS da"
    )
    b = o.selectExpr("o_orderkey AS order_b", "o_custkey AS ck2", "d AS db")
    pairs = a.join(
        b,
        (F.col("custkey") == F.col("ck2"))
        & (F.col("order_a") < F.col("order_b"))
        & (
            F.abs(F.datediff(F.col("db"), F.col("da")))
            <= _DUP_WINDOW_DAYS
        ),
    ).select(
        "custkey",
        F.abs(F.datediff(F.col("db"), F.col("da"))).alias("gap_days"),
    )
    return pairs.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rapid_pairs"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
    )


ABC_ORACLE = """
WITH rev AS (
    SELECT l_partkey,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                AS BIGINT) AS rev_cents
    FROM lineitem GROUP BY 1
),
ranked AS (
    SELECT l_partkey, rev_cents,
           CAST(sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
           CAST(sum(rev_cents) OVER () AS BIGINT) AS total
    FROM rev
),
classed AS (
    SELECT l_partkey, rev_cents,
           CASE WHEN CAST(floor(1000.0 * CAST(cum AS DOUBLE) / total + 0.5)
                          AS BIGINT) <= 800 THEN 'A'
                WHEN CAST(floor(1000.0 * CAST(cum AS DOUBLE) / total + 0.5)
                          AS BIGINT) <= 950 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
)
SELECT abc_class,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_cents) AS BIGINT) AS rev_cents
FROM classed GROUP BY 1
"""


@register("inventory_abc_classification", ABC_ORACLE)
def q_inventory_abc_classification(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ABC inventory classification: parts ranked by revenue
    descending, class A = the head covering ≤80% of cumulative
    revenue (at milli-rounded share), B to 95%, C the tail — the
    80/20 workhorse for assortment, stocking, and (in data-pipeline
    form) cache/tiering policy. Class boundaries compare INTEGER
    milli-shares so both engines draw the same lines.

    Scale shape: BOTH ordered passes (descending rank and the
    cumulative revenue) ride the two-pass range-partition scheme
    (operators/ids.py assign_prefix_sums — built for this entry) —
    no SinglePartition window over the parts at any catalog width;
    the class aggregate is 3 rows."""
    from taxi_trips_etl_spark.operators.ids import assign_prefix_sums

    rev = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("rev_cents"),
        )
        .withColumn("neg_rev", -F.col("rev_cents"))
    )
    cum = assign_prefix_sums(rev, ["neg_rev", "l_partkey"])
    wall = Window.partitionBy()
    shared = cum.select(
        "l_partkey",
        "rev_cents",
        "cum",
        F.sum("rev_cents").over(wall).cast("long").alias("total"),
    )
    classed = shared.selectExpr(
        "l_partkey",
        "rev_cents",
        "CASE WHEN CAST(floor(1000.0 * CAST(cum AS DOUBLE) / total + 0.5)"
        " AS BIGINT) <= 800 THEN 'A'"
        " WHEN CAST(floor(1000.0 * CAST(cum AS DOUBLE) / total + 0.5)"
        " AS BIGINT) <= 950 THEN 'B'"
        " ELSE 'C' END AS abc_class",
    )
    return classed.groupBy("abc_class").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev_cents").cast("long").alias("rev_cents"),
    )
