from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from taxi_trips_etl_spark.dataprep.materialize import materialize  # noqa: F401
from taxi_trips_etl_spark.dataprep import dedup, multimodal, similarity, text  # noqa: F401
from taxi_trips_etl_spark.functions.scalar import daypart, timestamp_diff_minutes  # noqa: F401
from taxi_trips_etl_spark.operators.normalize import normalize_trips  # noqa: F401
from taxi_trips_etl_spark.plans.models import taxi_models  # noqa: F401
from taxi_trips_etl_spark.sources.taxi_testdata import (  # noqa: F401
    N_ZONES,
    _zone_wkt,
    trips_from_lineitem,
)
from taxi_trips_etl_spark.queries._dedup_sim_text import _simhash_fp_sql  # noqa: F401
from taxi_trips_etl_spark.queries._mm_streaming import _COMPONENTS_SQL  # noqa: F401
from taxi_trips_etl_spark.queries._mm_streaming import _EMB_PAIRS_SQL  # noqa: F401
from taxi_trips_etl_spark.queries._registry import (  # noqa: F401
    DAYPART_SQL,
    GRAMS_SQL,
    NORM_SQL,
    TOKS_SQL,
    TRIPS_SQL,
    _ORACLES,
    _QUERIES,
    _events,
    _norm_trips,
    _t,
    _ts_str,
    _utc,
    register,
)

# ===========================================================================
# Flagship (geo path). Oracle: the hex cells come from centroid_cell
# (run on the driver over the deduped zone dim), and on the synthetic
# zone dim that mapping is knowable at import time — the same
# pure-Python function bakes a zone_id→cell VALUES list into
# FLAGSHIP_KNOWN_ZONES_SQL (_relational), so the REAL pipeline output
# (run_taxi_pipeline, geo enrichment and all) is pinned exactly; only
# the output aliases differ.
# ===========================================================================

from taxi_trips_etl_spark.queries._relational import (  # noqa: E402
    FLAGSHIP_KNOWN_ZONES_SQL,
)

FLAGSHIP_MOST_POPULARS_SQL = f"""
    SELECT popularity,
           route_pickup_cell AS route_pickup_hex,
           route_dropoff_cell AS route_dropoff_hex,
           route_count, dropoff_hexagon, dropoff_count,
           pickup_hexagon, pickup_count
    FROM ({FLAGSHIP_KNOWN_ZONES_SQL})
"""


@register("flagship_most_populars", FLAGSHIP_MOST_POPULARS_SQL)
def q_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    from taxi_trips_etl_spark.plans.pipeline import run_taxi_pipeline

    df = run_taxi_pipeline(spark, sf_dir)
    assert df is not None
    return df.select(
        F.col("popularity").cast("long").alias("popularity"),
        F.col("route.pickup_hexagons").alias("route_pickup_hex"),
        F.col("route.dropoff_hexagons").alias("route_dropoff_hex"),
        "route_count",
        "dropoff_hexagon",
        "dropoff_count",
        "pickup_hexagon",
        "pickup_count",
    )


# ===========================================================================
# TPC-H derived batch (beyond-reference relational coverage).
#
# The testdata is TPC-H-ish but misses some spec columns
# (l_commitdate/l_receiptdate/l_shipmode, partsupp, c_phone), so each
# query keeps the SPEC'S PLAN SHAPE (the join graph, the agg, the
# correlation) while adapting predicates to the columns that exist.
# Money follows the repo rule: round to integer units per row BEFORE
# summing (double sums are partition-order-dependent; integer sums are
# exact and portable across engines).
# ===========================================================================

_REV_E4 = "CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"


@register(
    "tpch_order_priority",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q_tpch_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS decorrelates to a LEFT SEMI join on
    l_orderkey (lineitem never widens the orders rows), then a 5-group
    partial-agg. The spec's commit<receipt lateness test is adapted to
    shipped->30-days-after-order (those columns don't exist here); the
    semi-join + tiny-agg plan is identical."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (li["l_orderkey"] == o["o_orderkey"])
        & (li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_local_supplier_volume",
    f"""
    SELECT n_name, CAST(sum({_REV_E4}) AS BIGINT) AS revenue_e4
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue_e4 DESC, n_name
    """,
)
def q_tpch_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the region->nation chain broadcasts (tiny) and
    prunes supplier BEFORE the fact joins; lineitem then joins orders
    on l_orderkey (the one big shuffle) and the c_nationkey=s_nationkey
    'local' correlation rides the customer join as an extra equi-key.
    Output is <=25 rows no matter the input size."""
    n = (
        _t(spark, sf_dir, "nation")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
            ),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_nationkey", "n_name")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(o.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(s), li["l_suppkey"] == F.col("s_suppkey"))
        .join(
            c,
            (F.col("o_custkey") == c["c_custkey"])
            & (F.col("s_nationkey") == c["c_nationkey"]),
        )
        .groupBy("n_name")
        .agg(F.sum(rev).alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("n_name"))
    )


@register(
    "tpch_forecast_revenue",
    """
    SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                         AS BIGINT)) AS BIGINT) AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.04
      AND l_quantity < 24
    """,
)
def q_tpch_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-side predicate (all three filters push
    to parquet row-group stats) feeding a single global agg — zero
    joins, one 2-column exchange of partial sums. The canonical
    'is the filter actually pushed down' probe."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.02)
        & (F.col("l_discount") <= 0.04)
        & (F.col("l_quantity") < 24)
    )
    rev = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 10000
    ).cast("long")
    return li.agg(
        F.sum(rev).alias("revenue_e4"), F.count(F.lit(1)).alias("n_lines")
    )


@register(
    "tpch_volume_shipping",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum({_REV_E4}) AS BIGINT) AS revenue_e4
    FROM lineitem l
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
        OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two aliased broadcasts of the SAME tiny nation
    dim (supplier-side and customer-side roles), the disjunctive
    nation-pair predicate evaluated after both joins, and a
    (nation,nation,year) partial-agg. The supplier dim is nation-pruned
    before touching the fact table."""
    sn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    cn = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    s = _t(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "supp_nation")
    c = _t(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey", "cust_nation")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_suppkey", "l_shipdate",
             "l_extendedprice", "l_discount")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == F.col("s_suppkey"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(rev).alias("revenue_e4"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "tpch_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           CAST(sum({_REV_E4}) AS BIGINT) AS revenue_e4,
           CAST(round(c.c_acctbal * 100) AS BIGINT) AS acctbal_cents,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue_e4 DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def q_tpch_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returnflag filter rides the lineitem scan, the
    quarter filter prunes orders, the join tree aggregates per customer
    and TakeOrderedAndProject keeps 20 — the global sort never
    materializes. c_custkey tie-break pins the LIMIT set."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(o.select("o_orderkey", "o_custkey"),
                li["l_orderkey"] == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .join(n, c["c_nationkey"] == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(rev).alias("revenue_e4"))
        .select(
            "c_custkey", "c_name", "revenue_e4",
            F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
            "n_name",
        )
        .orderBy(F.desc("revenue_e4"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_customer_distribution",
    """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey)
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q_tpch_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT join keeps order-less customers (their
    count is 0, not a dropped row), first agg keys on c_custkey, the
    second collapses to the tiny count-of-counts histogram. count() of
    the RIGHT side's key is what makes the zero-order rows count 0."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_promo_effect",
    f"""
    SELECT round(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                                  THEN {_REV_E4} ELSE 0 END)
                 / sum({_REV_E4}), 4) AS promo_revenue_pct
    FROM lineitem l
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def q_tpch_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: month-filtered lineitem joins the part dim
    (broadcast — part is orders of magnitude smaller than lineitem),
    conditional-sum ratio in ONE agg pass. Integer-e4 revenue keeps the
    ratio's numerator/denominator bit-identical across engines; the
    final division is one double op on two exact integers."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    p = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_type"))
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0))
    return (
        li.join(p, li["l_partkey"] == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(promo) / F.sum(rev), 4
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_small_qty_revenue",
    """
    SELECT CAST(floor(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
                      / 7.0) AS BIGINT) AS avg_yearly_cents
    FROM lineitem l
    JOIN (SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_threshold
          FROM lineitem GROUP BY l_partkey) t
      ON l.l_partkey = t.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#12'
      AND l.l_quantity < t.qty_threshold
    """,
)
def q_tpch_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: the correlated 'below 20% of this part's mean
    quantity' subquery decorrelates to a per-part aggregate joined back
    on l_partkey. Quantities are small integers, so the double avg is
    exact and the 0.2x threshold compares identically in both engines.
    At scale both sides shuffle on l_partkey — one co-partitioned
    exchange each; the brand filter broadcasts via the part dim."""
    li = _t(spark, sf_dir, "lineitem")
    thresholds = li.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        (0.2 * F.avg("l_quantity")).alias("qty_threshold")
    )
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#12")
        .select("p_partkey")
    )
    return (
        li.join(p, li["l_partkey"] == F.col("p_partkey"))
        .join(thresholds, li["l_partkey"] == F.col("t_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.floor(
                F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / 7
            )
            .cast("long")
            .alias("avg_yearly_cents")
        )
    )


@register(
    "tpch_large_volume_customer",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           CAST(sum(CAST(round(l.l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                           GROUP BY l_orderkey
                           HAVING sum(l_quantity) > 150)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY totalprice_cents DESC, o.o_orderkey ASC
    LIMIT 100
    """,
)
def q_tpch_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: the HAVING subquery is a self-aggregation of
    lineitem reused as a LEFT SEMI join on l_orderkey; at scale the
    semi-join's key set is tiny (only pathological orders survive), so
    AQE turns it into a broadcast. Top-100 runs as
    TakeOrderedAndProject with o_orderkey tie-break."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sq"))
        .filter(F.col("sq") > 150)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big["l_orderkey"], "left_semi"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"))
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            F.round(F.col("o_totalprice") * 100).cast("long")
            .alias("totalprice_cents"),
            "sum_qty",
        )
        .orderBy(F.desc("totalprice_cents"), F.asc("o_orderkey"))
        .limit(100)
    )


# ===========================================================================
# Training-data curation batch (r3): Gopher rules, duplicated-span
# diagnostics, DSIR importance weights, perplexity-proxy bucketing.
# ===========================================================================

_GOPHER_SQL = f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks, text FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_words,
                 CAST(list_sum(list_transform(toks, w -> length(w)))
                      AS DOUBLE) / len(toks) AS mean_len,
                 len(list_filter(toks, w -> contains(w, '#')
                                         OR contains(w, '...'))) AS n_symbols,
                 len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
                     AS n_alpha,
                 len(list_intersect(list_distinct(toks),
                     ['the','be','to','of','and','that','have','with']))
                     AS n_stop
          FROM t)
    SELECT doc_id,
           CAST(n_words >= 10 AND n_words <= 100000 AS BIGINT)
               AS ok_word_count,
           CAST(mean_len >= 2 AND mean_len <= 10 AS BIGINT)
               AS ok_mean_word_len,
           CAST(n_symbols < n_words * 0.1 AS BIGINT) AS ok_symbol_ratio,
           CAST(n_alpha >= n_words * 0.8 AS BIGINT) AS ok_alpha_words,
           CAST(n_stop >= 2 AS BIGINT) AS ok_stopwords,
           CAST(n_words >= 10 AND n_words <= 100000
                AND mean_len >= 2 AND mean_len <= 10
                AND n_symbols < n_words * 0.1
                AND n_alpha >= n_words * 0.8
                AND n_stop >= 2 AS BIGINT) AS keep
    FROM m
"""


@register("gopher_quality_filter", _GOPHER_SQL)
def q_gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule gate (Rae et al. 2021) — see
    dataprep/text.py:gopher_quality_filter for the rule inventory."""
    from taxi_trips_etl_spark.dataprep.text import gopher_quality_filter

    return gopher_quality_filter(_t(spark, sf_dir, "documents"))


_DUPCOV_N = 8
_DUPCOV_SQL = f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(
                     generate_series(1, len(toks) - {_DUPCOV_N - 1}),
                     i -> array_to_string(toks[i:i + {_DUPCOV_N - 1}], ' ')
                 ))) AS gram
          FROM t WHERE len(toks) >= {_DUPCOV_N}),
    gd AS (SELECT gram, count(DISTINCT doc_id) AS n_docs FROM g GROUP BY 1)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_grams,
           round(CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS dup_coverage
    FROM g JOIN gd USING (gram)
    GROUP BY doc_id
"""


@register("dup_ngram_coverage", _DUPCOV_SQL)
def q_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lee et al. 2021 duplicated-span diagnostics — fraction of each
    doc's 8-grams shared with at least one other doc. Posting-list shuffle on the
    gram key; see dataprep/text.py:dup_ngram_coverage."""
    from taxi_trips_etl_spark.dataprep.text import dup_ngram_coverage

    return dup_ngram_coverage(_t(spark, sf_dir, "documents"), n=_DUPCOV_N)


_DSIR_SQL = f"""
    WITH t AS (SELECT doc_id, source = 'src0' AS is_target,
                      unnest({TOKS_SQL}) AS tok
               FROM documents),
    m AS (SELECT tok,
                 CAST(sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_t,
                 count(*) AS n_all
          FROM t GROUP BY 1),
    tot AS (SELECT sum(n_t) AS tot_t, sum(n_all) AS tot_all,
                   count(*) AS vocab FROM m),
    r AS (SELECT tok,
                 ln(CAST(n_t + 1 AS DOUBLE) / (tot_t + vocab))
                 - ln(CAST(n_all + 1 AS DOUBLE) / (tot_all + vocab))
                     AS log_ratio
          FROM m CROSS JOIN tot)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(avg(log_ratio), 6) + 0.0 AS importance_weight
    FROM t JOIN r USING (tok)
    GROUP BY doc_id
"""
# ^ the `+ 0.0` normalizes the SIGN OF ZERO on both engines: the score
#   is a float mean whose summation order differs between engines (and
#   between Spark plan variants), so a true value of ~0 can round to
#   -0.0 on one side and 0.0 on the other (observed at sf0.1 — an
#   r13-inherited latent mismatch). x + 0.0 is the IEEE identity for
#   every value except -0.0, which it canonicalizes to +0.0.


@register("dsir_importance_weights", _DSIR_SQL)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR unigram importance weights targeting source 'src0' — see
    dataprep/text.py:dsir_importance_weights."""
    from taxi_trips_etl_spark.dataprep.text import dsir_importance_weights

    return dsir_importance_weights(
        _t(spark, sf_dir, "documents")
    )


_PPL_SQL = f"""
    WITH t AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents),
    m AS (SELECT tok, count(*) AS n FROM t GROUP BY 1),
    tot AS (SELECT sum(n) AS tot, count(*) AS vocab FROM m),
    p AS (SELECT tok, ln(CAST(n + 1 AS DOUBLE) / (tot + vocab)) AS lp
          FROM m CROSS JOIN tot),
    s AS (SELECT doc_id, round(avg(lp), 6) AS mean_logprob
          FROM t JOIN p USING (tok) GROUP BY 1),
    r AS (SELECT min(mean_logprob) AS lo, max(mean_logprob) AS hi FROM s)
    SELECT doc_id, mean_logprob,
           CAST(least(3, floor((mean_logprob - lo) / ((hi - lo) / 4)))
                AS BIGINT) AS ppl_bucket
    FROM s CROSS JOIN r
"""


@register("unigram_logprob_buckets", _PPL_SQL)
def q_unigram_logprob_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing with a corpus-fit unigram LM —
    see dataprep/text.py:unigram_logprob_score."""
    from taxi_trips_etl_spark.dataprep.text import unigram_logprob_score

    return unigram_logprob_score(_t(spark, sf_dir, "documents"))


_SESSION_WINDOW_SQL = """
    WITH o AS (SELECT user_id, epoch_us(ts) AS us, ts FROM events),
    gaps AS (
        SELECT user_id, us, ts,
               CASE WHEN lag(us) OVER w IS NULL
                         OR us - lag(us) OVER w >= 1800000000
                    THEN 1 ELSE 0 END AS new_session
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY us)
    ),
    s AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY us
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS sid
        FROM gaps
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S')
               AS session_end,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
"""


@register("session_window_agg", _SESSION_WINDOW_SQL)
def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-NATIVE session windows (F.session_window): unlike the
    lag+cumsum islands of ``sessionize_events``, this runs Spark's
    dedicated session-window operator — one shuffle on user_id, sessions
    merged inside the aggregate (and in streaming, a purpose-built
    session state store — no arbitrary-state UDF needed). Semantics
    pinned by the oracle: events merge iff gap < 30 min STRICTLY
    (window end is exclusive), session_end = last event + gap.
    """
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            _ts_str(F.col("session_window.start"), "session_start"),
            _ts_str(F.col("session_window.end"), "session_end"),
            "n_events",
        )
    )


def _hll_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.profile import hll_portable_oracle_sql

    inner = hll_portable_oracle_sql()
    return f"""
    SELECT k AS event_type, approx_distinct, registers_set,
           n_partials_merged
    FROM ({inner})
    """


@register("hll_distinct_rollup", _hll_oracle())
def q_hll_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct users via per-day HLL register partials
    merged upward. Oracle-bearing since round 5: the registry entry
    runs the PORTABLE md5-register variant whose register derivation
    and estimate arithmetic DuckDB replays exactly (see
    dataprep/profile.py:hll_portable_rollup for the bit-exactness
    argument); the DataSketches production variant
    (hll_distinct_rollup) keeps its pytest error-bound/merge pins."""
    from taxi_trips_etl_spark.dataprep.profile import hll_portable_rollup

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    return hll_portable_rollup(ev, ["event_type"])


@register(
    "tpch_market_share",
    f"""
    SELECT o_year,
           round(CAST(sum(CASE WHEN nation = 'NATION_1' THEN volume_e4
                               ELSE 0 END) AS DOUBLE)
                 / sum(volume_e4), 4) AS mkt_share
    FROM (SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
                 {_REV_E4.replace('l_extendedprice', 'l.l_extendedprice')
                         .replace('l_discount', 'l.l_discount')} AS volume_e4,
                 n2.n_name AS nation
          FROM lineitem l
          JOIN part p     ON p.p_partkey = l.l_partkey
          JOIN supplier s ON s.s_suppkey = l.l_suppkey
          JOIN orders o   ON o.o_orderkey = l.l_orderkey
          JOIN customer c ON c.c_custkey = o.o_custkey
          JOIN nation n1  ON n1.n_nationkey = c.c_nationkey
          JOIN nation n2  ON n2.n_nationkey = s.s_nationkey
          JOIN region r   ON r.r_regionkey = n1.n_regionkey
          WHERE r.r_name = 'ASIA'
            AND p.p_type = 'PROMO'
            AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: the deepest join tree in the suite (lineitem ×
    part × supplier × orders × customer × nation×2 × region). Dims all
    broadcast; the only big shuffle is lineitem⋈orders on l_orderkey.
    The supplier-side nation (n2) survives to the conditional sum —
    market share = NATION_1's fraction of promo volume into ASIA
    customers. Integer-e4 volume keeps the ratio bit-portable."""
    li = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
        .select("p_partkey")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    s = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select("s_suppkey", "nation")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    n1 = _t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia_cust = F.broadcast(
        _t(spark, sf_dir, "customer")
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    vol = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(p, li["l_partkey"] == F.col("p_partkey"))
        .join(s, li["l_suppkey"] == F.col("s_suppkey"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
              li["l_orderkey"] == F.col("o_orderkey"))
        .join(asia_cust, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_1", vol).otherwise(0))
                .cast("double")
                / F.sum(vol),
                4,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


def _pca4_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.pca_power import (
        power_iteration_pca_oracle_sql,
    )

    return power_iteration_pca_oracle_sql()


@register("embedding_pca_project", _pca4_oracle())
def q_embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA to 4 components via deflated integer-exact power iteration
    (dataprep/pca_power.py:power_iteration_pca) — DuckDB replays the
    full trajectory (moments → covariance → per-component recursive
    iteration → Rayleigh deflation), so the hash pins all four
    projections.

    Output is posexploded to scalar (vec_id, component_idx, value) rows
    per the registry's BIGINT/DOUBLE/VARCHAR portability rule — array
    cells are unhashable in pandas-side canonicalization."""
    from taxi_trips_etl_spark.dataprep.pca_power import power_iteration_pca

    emb = _t(spark, sf_dir, "embeddings")
    return power_iteration_pca(emb)


@register(
    "fuzzy_match_fastss",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def q_fuzzy_match_fastss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-linkage fuzzy join. The ORACLE is the brute-force O(n²)
    Levenshtein join; the Spark side uses symmetric-deletion blocking
    (dedup.py:fastss_pairs) — hash-equality between them PROVES the
    blocking loses no pairs while doing O(n·len) work."""
    from taxi_trips_etl_spark.dataprep.dedup import fastss_pairs

    return fastss_pairs(_t(spark, sf_dir, "customer"))


@register(
    "tpch_top_supplier",
    f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum({_REV_E4}) AS BIGINT) AS total_revenue_e4
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue_e4
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue_e4 = (SELECT max(total_revenue_e4) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def q_tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the revenue 'view' is built once and consumed
    twice (per-supplier totals + the scalar max) — a lazy checkpoint
    materializes it once, mirroring the spec's CREATE VIEW, and the
    scalar max comes back as a broadcast filter, not a second
    aggregation of lineitem."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev).alias("total_revenue_e4"))
        .transform(materialize, eager=False)
    )
    best = revenue.agg(F.max("total_revenue_e4").alias("mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        revenue.join(F.broadcast(best),
                     F.col("total_revenue_e4") == F.col("mx"))
        .join(s, F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue_e4")
        .orderBy("s_suppkey")
    )


@register("streaming_session_window", _SESSION_WINDOW_SQL)
def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of session_window_agg: same oracle — AvailableNow
    over the static events dir must equal the batch session windows."""
    from taxi_trips_etl_spark.streaming.session_window import (
        run_streaming_session_window,
    )

    return run_streaming_session_window(spark, f"{sf_dir}/events.parquet")


@register(
    "dedup_canonicalize",
    f"""
    SELECT d.doc_id, d.lang, d.source
    FROM documents d
    LEFT JOIN ({_COMPONENTS_SQL}) c ON d.doc_id = c.doc_id
    WHERE c.doc_id IS NULL OR c.doc_id = c.component_id
    """,
)
def q_dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end component-aware dedup: SimHash pairs → connected
    components → keep exactly the component minimum per near-dup
    cluster (plus every untouched doc). Unlike keep-first pair
    dropping, cliques/chains lose all but ONE member — the oracle is
    the recursive-CTE closure, so the whole LSH→components→survivors
    composition is hash-verified."""
    from taxi_trips_etl_spark.dataprep.components import (
        canonicalize_near_dups,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_duplicates(docs)
    return canonicalize_near_dups(docs, pairs).select(
        "doc_id", "lang", "source"
    )


_SPLIT_CASE = (
    "CASE WHEN CAST(concat('0x', substr(md5('split:' || "
    "CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) < "
    f"{int(0.2 * (1 << 32))} THEN 'test' ELSE 'train' END"
)


@register(
    "split_leakage_audit",
    f"""
    WITH fp AS ({_simhash_fp_sql()}),
    banded AS (
        SELECT doc_id, simhash, b.band_id,
               (simhash >> (b.band_id * 15)) & 32767 AS band_val
        FROM fp, (SELECT unnest(generate_series(0, 3)) AS band_id) b
    ),
    prs AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    sp AS (SELECT doc_id, {_SPLIT_CASE} AS split FROM documents)
    SELECT CAST(count(*) AS BIGINT) AS n_near_dup_pairs,
           CAST(sum(CASE WHEN sa.split != sb.split THEN 1 ELSE 0 END)
                AS BIGINT) AS n_leaked_pairs
    FROM prs
    JOIN sp sa ON prs.doc_id_a = sa.doc_id
    JOIN sp sb ON prs.doc_id_b = sb.doc_id
    """,
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination audit: near-dup pairs whose members
    land on OPPOSITE sides of the hash split are eval-set leakage (the
    reason dedup-then-split must key on the canonical id). One number
    to alert on per corpus build; the pair side reuses the SimHash
    candidate shuffle, the split side is a scan-side hash expression."""
    from taxi_trips_etl_spark.dataprep.sampling import split_expr

    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.simhash_near_duplicates(docs)
    # split is a PURE content-hash of doc_id (train_test_split keyed on
    # doc_id), so both members' labels derive inline from the pair
    # columns — the old shape joined the corpus-side split assignment
    # back in TWICE (2 documents scans + 2 corpus-sized join passes at
    # the 100 TB posture; the inner joins never dropped rows because
    # every pair id comes from the same docs table).
    return (
        pairs.select(
            split_expr(F.col("doc_id_a")).alias("split_a"),
            split_expr(F.col("doc_id_b")).alias("split_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_near_dup_pairs"),
            F.sum(
                (F.col("split_a") != F.col("split_b")).cast("long")
            ).alias("n_leaked_pairs"),
        )
    )


_EMB_COMPONENTS_SQL = f"""
    WITH RECURSIVE prs AS ({_EMB_PAIRS_SQL}),
    sym AS (SELECT vec_id_a AS a, vec_id_b AS b FROM prs
            UNION SELECT vec_id_b, vec_id_a FROM prs),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT re.node, s.b FROM reach re JOIN sym s ON re.r = s.a
    )
    SELECT node AS vec_id, min(r) AS component_id FROM reach GROUP BY node
"""


@register(
    "embedding_canonicalize",
    f"""
    SELECT em.vec_id, CAST(em.label AS BIGINT) AS label
    FROM embeddings em
    LEFT JOIN ({_EMB_COMPONENTS_SQL}) c ON em.vec_id = c.vec_id
    WHERE c.vec_id IS NULL OR c.vec_id = c.component_id
    """,
)
def q_embedding_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space dedup end to end: sign-LSH cosine near-dup
    pairs → connected components → keep one vector (the component
    minimum) per semantic cluster. The embedding twin of
    dedup_canonicalize, hash-verified through the same recursive-CTE
    closure oracle."""
    from taxi_trips_etl_spark.dataprep.components import (
        canonicalize_near_dups,
    )
    from taxi_trips_etl_spark.dataprep.similarity import (
        embedding_near_dup_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_near_dup_pairs(emb)
    return canonicalize_near_dups(
        emb, pairs, id_col="vec_id", a_col="vec_id_a", b_col="vec_id_b"
    ).select("vec_id", F.col("label").cast("long").alias("label"))


@register(
    "event_transition_matrix",
    """
    WITH o AS (
        SELECT user_id, event_type, epoch_us(ts) AS us, event_id
        FROM events
    ),
    seq AS (
        SELECT user_id,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY us, event_id) AS from_type,
               event_type AS to_type
        FROM o
    ),
    t AS (SELECT from_type, to_type, count(*) AS n
          FROM seq WHERE from_type IS NOT NULL GROUP BY 1, 2)
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM t
    """,
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type Markov transitions: lag over (ts, event_id)
    builds the bigram stream, one partial-agg shuffle counts the
    |types|² matrix, and row-normalized probabilities come from a
    window over the TINY aggregated matrix — never the event stream.
    The classic session-behavior feature for recommendation/anomaly
    models."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    seq = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"),
    ).filter(F.col("from_type").isNotNull())
    t = seq.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    w_row = Window.partitionBy("from_type")
    return t.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w_row), 6).alias(
            "p"
        ),
    )


@register(
    "kfold_assignment",
    f"""
    SELECT fold, count(*) AS n, min(doc_id) AS min_doc
    FROM (SELECT doc_id,
                 CAST(concat('0x', substr(md5('fold:' ||
                      CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 AS fold
          FROM documents)
    GROUP BY 1
    """,
)
def q_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed 5-fold CV assignment (append-stable, RNG-free) —
    the k-fold sibling of train_test_split."""
    from taxi_trips_etl_spark.dataprep.sampling import kfold_assign

    return (
        kfold_assign(_t(spark, sf_dir, "documents"))
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("min_doc"))
    )


@register(
    "tpch_disjunctive_pricing",
    f"""
    SELECT CAST(sum({_REV_E4}) AS BIGINT) AS revenue_e4,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def q_tpch_disjunctive_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: an OR-of-ANDs join predicate. Catalyst must
    extract the common join key (equi on p_partkey), push the
    quantity-range disjunction's union bounds (1..30) to the lineitem
    scan, and evaluate the full disjunction post-join — the predicate
    never degrades the join to a nested loop. Adapted to the available
    columns (no p_container/l_shipmode in this testdata)."""
    li = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(_t(spark, sf_dir, "part").select("p_partkey", "p_brand"))
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30))
    )
    return (
        li.join(p, li["l_partkey"] == F.col("p_partkey"))
        .filter(cond)
        .agg(F.sum(rev).alias("revenue_e4"),
             F.count(F.lit(1)).alias("n_lines"))
    )


@register(
    "window_range_interval",
    """
    SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                      RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing_30d_cents
    FROM orders
    """,
)
def q_window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time (not ROWS): per customer, revenue in
    the trailing 30 DAYS — the frame is value-based, so same-day orders
    aggregate together and gaps matter, unlike a row-count frame.
    Spark's rangeBetween needs a numeric ordering key → order by epoch
    seconds with a 2 592 000-second preceding bound; the oracle uses
    the identical numeric frame, making the semantics engine-portable
    by construction."""
    o = _t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-2592000, 0)
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return o.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        F.sum(cents).over(w).alias("trailing_30d_cents"),
    )


@register(
    "unpivot_metrics",
    """
    WITH wide AS (
        SELECT l_returnflag,
               CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                   AS total_qty,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
        FROM lineitem GROUP BY 1)
    SELECT l_returnflag, metric, value FROM wide
    UNPIVOT (value FOR metric IN (total_qty, n_lines, n_orders))
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide→long reshape): the inverse of pivot_event_types.
    Spark's native unpivot keeps it one narrow projection (each input
    row fans out to n_metrics rows — no shuffle beyond the upstream
    agg); metric/value long form is what plotting and metric-store
    sinks consume."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.sum(F.round("l_quantity").cast("long")).alias("total_qty"),
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["total_qty", "n_lines", "n_orders"],
        variableColumnName="metric",
        valueColumnName="value",
    )


_BM25_TERMS = ("join", "hash", "filter")
_BM25_SQL = f"""
    WITH lens AS (
        SELECT doc_id, CAST(len({TOKS_SQL}) AS DOUBLE) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM lens),
    posting AS (
        SELECT doc_id, tok AS term
        FROM (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents)
        WHERE tok IN ('join', 'hash', 'filter')
    ),
    tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
           FROM posting GROUP BY 1, 2),
    dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
    idf AS (SELECT term,
                   ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
            FROM dfx CROSS JOIN stats)
    SELECT doc_id, round(sum(idf * tf / (tf + 1.2 * (1 - 0.75 + 0.75 * dl
                   / avgdl))), 6) AS bm25
    FROM tf JOIN idf USING (term) JOIN lens USING (doc_id)
    GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id ASC
    LIMIT 20
"""


@register("bm25_keyword_search", _BM25_SQL)
def q_bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query {join, hash, filter} — see
    dataprep/text.py:bm25_search."""
    from taxi_trips_etl_spark.dataprep.text import bm25_search

    return bm25_search(
        _t(spark, sf_dir, "documents"), list(_BM25_TERMS)
    )


@register(
    "tpch_sales_opportunity",
    """
    SELECT c.c_nationkey,
           CAST(count(*) AS BIGINT) AS numcust,
           CAST(sum(CAST(round(c.c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS totacctbal_cents
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer
                         WHERE c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= DATE '2000-01-01')
    GROUP BY c.c_nationkey
    ORDER BY c.c_nationkey
    """,
)
def q_tpch_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (adapted — no c_phone country codes in this
    testdata): above-average-balance customers with no RECENT orders
    (lapsed since 2000 — this testdata has no order-less customers at
    all, so the unscoped anti-join made the green row vacuous). The
    scalar subquery evaluates once and broadcasts as a filter; NOT
    EXISTS decorrelates to a LEFT ANTI join on o_custkey with the date
    predicate pushed into the anti-side scan. Both are the shapes that
    keep this one scan of each table."""
    c = _t(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("ab"))
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.to_date("o_orderdate") >= F.lit("2000-01-01"))
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long")).alias(
                "totacctbal_cents"
            ),
        )
        .orderBy("c_nationkey")
    )


@register(
    "string_agg_ordered",
    """
    SELECT l_returnflag, l_linestatus,
           string_agg(DISTINCT l_shipmode_proxy, ','
                      ORDER BY l_shipmode_proxy) AS modes
    FROM (SELECT l_returnflag, l_linestatus,
                 concat('M', CAST(l_linenumber % 4 AS VARCHAR))
                     AS l_shipmode_proxy
          FROM lineitem)
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_string_agg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/STRING_AGG): collect_set →
    array_sort → concat_ws gives deterministic order regardless of
    partitioning — the portable form of an ORDER BY inside an
    aggregate (Spark's collect_list order is partition-dependent;
    sorting after the fact is the engine-safe idiom)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        F.concat(F.lit("M"), (F.col("l_linenumber") % 4).cast("string")).alias(
            "mode"
        ),
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("mode"))).alias(
                "modes"
            )
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register(
    "forward_fill_gaps",
    """
    WITH spine AS (
        SELECT unnest(generate_series(DATE '1996-01-01', DATE '1996-03-31',
                                      INTERVAL 1 DAY))::DATE AS day
    ),
    daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS revenue_cents
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
        GROUP BY 1
    )
    SELECT strftime(s.day, '%Y-%m-%d') AS day,
           coalesce(d.revenue_cents,
                    last_value(d.revenue_cents IGNORE NULLS)
                        OVER (ORDER BY s.day ROWS BETWEEN UNBOUNDED
                              PRECEDING AND 1 PRECEDING),
                    0) AS revenue_cents_filled,
           CAST(d.revenue_cents IS NULL AS BIGINT) AS was_gap
    FROM spine s LEFT JOIN daily d ON s.day = d.day
    """,
)
def q_forward_fill_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling over a date spine: LEFT join daily aggregates onto a
    generated calendar, then forward-fill missing days with the LAST
    known value (last_value IGNORE NULLS over the preceding frame) —
    the standard time-series densification before ML featurization.
    The spine is sequence()-generated — no data dependency. The fill
    window is global-unpartitioned BY DESIGN: it runs on the
    post-aggregation calendar (rows = days, not orders), the repo's
    bounded-cardinality window rule; per-entity fills would partition
    by the entity key."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        )
    )
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1996-01-01").cast("date"),
                F.lit("1996-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    return (
        spine.join(daily, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce(
                F.col("revenue_cents"),
                F.last("revenue_cents", ignorenulls=True).over(w),
                F.lit(0),
            ).alias("revenue_cents_filled"),
            F.col("revenue_cents").isNull().cast("long").alias("was_gap"),
        )
    )


