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
from taxi_trips_etl_spark.queries._flagship_tpch import _REV_E4  # noqa: F401
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
# TPC-H shape batch 4 (round 4): Q2 / Q9 / Q11 / Q12 adapted to this
# testdata's columns (no partsupp table; no l_shipmode column)
# ===========================================================================


@register(
    "tpch_min_cost_supplier",
    """
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               CAST(min(round(l_extendedprice * 100 / l_quantity)) AS BIGINT)
                   AS unit_cost_cents
        FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p.p_partkey, s.s_suppkey, s.s_name, n.n_name, c.unit_cost_cents
    FROM cost c
    JOIN part p ON c.l_partkey = p.p_partkey
    JOIN supplier s ON c.l_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE p.p_size <= 5
      AND c.unit_cost_cents = (SELECT min(c2.unit_cost_cents) FROM cost c2
                               WHERE c2.l_partkey = c.l_partkey)
    """,
)
def q_tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted — no partsupp: the observed minimum unit
    price from lineitem stands in for ps_supplycost): for each small
    part, every supplier achieving the part's minimum unit cost. The
    correlated min subquery decorrelates to a window-min over the
    already-aggregated (part, supplier) table — the window input is the
    post-agg cardinality, not the fact table — and ties survive, as Q2
    requires. Unit cost is one IEEE divide then cents-rounded, so both
    engines derive bit-identical integers."""
    li = _t(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            F.round(F.col("l_extendedprice") * 100 / F.col("l_quantity"))
            .cast("long")
        ).alias("unit_cost_cents")
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn(
        "_min_cp", F.min("unit_cost_cents").over(w)
    ).filter(F.col("unit_cost_cents") == F.col("_min_cp"))
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_size") <= 5)
        .select("p_partkey")
    )
    s = F.broadcast(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    )
    n = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    return (
        best.join(p, best["l_partkey"] == p["p_partkey"])
        .join(s, best["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .select("p_partkey", "s_suppkey", "s_name", "n_name", "unit_cost_cents")
    )


@register(
    "tpch_product_profit",
    f"""
    SELECT nation, o_year, CAST(sum(amount_e4) AS BIGINT) AS profit_e4
    FROM (
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
               {_REV_E4}
                 - CAST(round(p.p_retailprice * 100) AS BIGINT)
                   * CAST(l.l_quantity AS BIGINT) * 10 AS amount_e4
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN part p ON l.l_partkey = p.p_partkey
        WHERE p.p_name LIKE '%red%'
    )
    GROUP BY nation, o_year
    """,
)
def q_tpch_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted — 10% of p_retailprice stands in for
    ps_supplycost): profit by supplier nation x order year over
    name-filtered parts. The one real shuffle is lineitem ⋈ orders on
    orderkey; part/supplier/nation broadcast, and the p_name filter
    prunes the broadcast BEFORE the fact join so Catalyst turns it into
    a semi-join reduction on the fact side. Money stays integer-e4."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%red%"))
        .select("p_partkey", "p_retailprice")
    )
    s = F.broadcast(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    )
    n = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    rev_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    cost_e4 = (
        F.round(F.col("p_retailprice") * 100).cast("long")
        * F.col("l_quantity").cast("long")
        * F.lit(10).cast("long")
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(n, s["s_nationkey"] == n["n_nationkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(rev_e4 - cost_e4).alias("profit_e4"))
    )


@register(
    "tpch_important_parts",
    f"""
    WITH val AS (
        SELECT l_partkey, CAST(sum({_REV_E4}) AS BIGINT) AS value_e4
        FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey = 7
        GROUP BY l_partkey
    )
    SELECT l_partkey, value_e4
    FROM val
    WHERE value_e4 > (SELECT sum(value_e4) * 0.001 FROM val)
    """,
)
def q_tpch_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted — revenue through one nation's
    suppliers stands in for partsupp stock value): parts whose value
    exceeds a fraction of the national total. The HAVING-style global
    threshold is a 1-row broadcast crossJoin onto the per-part
    aggregate (never a single-partition window); the per-part agg is
    the only full shuffle and the fraction compare is BIGINT-vs-double
    on exact integer sums, identical in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_nationkey") == 7)
        .select("s_suppkey")
    )
    rev_e4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    val = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(rev_e4).alias("value_e4"))
    )
    threshold = val.agg((F.sum("value_e4") * 0.001).alias("_thr"))
    return (
        val.crossJoin(F.broadcast(threshold))
        .filter(F.col("value_e4") > F.col("_thr"))
        .select("l_partkey", "value_e4")
    )


@register(
    "tpch_shipmode_priority",
    """
    SELECT shipmode_proxy,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM (SELECT l_orderkey,
                 concat('M', CAST(l_linenumber % 4 AS VARCHAR))
                     AS shipmode_proxy
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
            AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00') l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY shipmode_proxy
    """,
)
def q_tpch_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted — the linenumber-derived shipmode proxy
    this repo's string_agg query also uses, since the testdata carries
    no l_shipmode): per-mode counts of high- vs low-priority order
    lines in a shipdate year. The date filter is pushed to the lineitem
    scan; the priority CASE runs as two conditional sums in ONE agg
    pass after the orderkey join (fact-fact shuffle, no broadcast —
    orders is the same magnitude as lineitem)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select(
        "l_orderkey",
        F.concat(
            F.lit("M"), (F.col("l_linenumber") % 4).cast("string")
        ).alias("shipmode_proxy"),
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("shipmode_proxy")
        .agg(
            F.sum(is_high.cast("long")).alias("high_line_count"),
            F.sum((~is_high).cast("long")).alias("low_line_count"),
        )
    )


@register(
    "semantic_decontaminate",
    """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    ev AS (
        SELECT vec_id AS eval_id, v AS w,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS wn
        FROM e WHERE vec_id < 50
    ),
    co AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS vn
        FROM e WHERE vec_id >= 50
    ),
    scored AS (
        SELECT co.vec_id, ev.eval_id,
               round(list_sum(list_transform(generate_series(1, len(v)),
                                             i -> v[i] * w[i]))
                     / (vn * wn), 6) AS cos_r
        FROM co CROSS JOIN ev
    ),
    best AS (
        SELECT vec_id, eval_id, cos_r,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY cos_r DESC, eval_id) AS rn
        FROM scored
    )
    SELECT vec_id, CAST(eval_id AS BIGINT) AS matched_eval_id,
           cos_r AS max_cosine
    FROM best WHERE rn = 1 AND cos_r >= 0.4
    """,
)
def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination: corpus vectors (vec_id ≥ 50)
    whose cosine to ANY eval vector (vec_id < 50) reaches 0.4 — the
    semantic sibling of corpus_decontaminate's n-gram overlap. Eval
    side broadcasts (bounded benchmark suite); corpus streams once;
    argmax collapses map-side. See similarity.semantic_decontaminate."""
    from taxi_trips_etl_spark.dataprep.similarity import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_decontaminate(
        emb.filter(F.col("vec_id") >= 50),
        emb.filter(F.col("vec_id") < 50).select(
            F.col("vec_id").alias("eval_id"), "embedding"
        ),
    )


# ---------------------------------------------------------------------------
# round 4: warehouse mutation ops, skew-proof join, quantization, graphs
# ---------------------------------------------------------------------------

_SCD2_UPD = """
    SELECT c_custkey AS k,
           CASE WHEN c_custkey % 4 = 0 THEN c_mktsegment || '-V2'
                ELSE c_mktsegment END AS u_seg,
           c_nationkey AS u_nat
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT c_custkey + 10000000, 'NEWSEG', c_nationkey
    FROM customer WHERE c_custkey % 50 = 0
"""


@register(
    "scd2_customer_history",
    f"""
    WITH upd AS ({_SCD2_UPD}),
    j AS (
        SELECT d.c_custkey AS dk, d.c_mktsegment AS seg,
               d.c_nationkey AS nat, u.k AS uk, u.u_seg, u.u_nat
        FROM customer d FULL OUTER JOIN upd u ON d.c_custkey = u.k
    )
    SELECT dk AS c_custkey, seg AS c_mktsegment,
           CAST(nat AS BIGINT) AS c_nationkey,
           '1990-01-01 00:00:00' AS valid_from_s,
           CAST(NULL AS VARCHAR) AS valid_to_s
    FROM j WHERE dk IS NOT NULL
      AND (uk IS NULL OR (seg = u_seg AND nat = u_nat))
    UNION ALL
    SELECT dk, seg, CAST(nat AS BIGINT),
           '1990-01-01 00:00:00', '1996-06-01 00:00:00'
    FROM j WHERE dk IS NOT NULL AND uk IS NOT NULL
      AND NOT (seg = u_seg AND nat = u_nat)
    UNION ALL
    SELECT uk, u_seg, CAST(u_nat AS BIGINT),
           '1996-06-01 00:00:00', CAST(NULL AS VARCHAR)
    FROM j WHERE uk IS NOT NULL
      AND (dk IS NULL OR NOT (seg = u_seg AND nat = u_nat))
    """,
)
def q_scd2_customer_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 apply (operators/scd2.py): a deterministic update
    batch (half the keys, a quarter of them actually changed, plus a
    tranche of brand-new keys) hits an all-open customer dimension;
    output is the full version history. The oracle replays the three
    branch outcomes (untouched / closed / opened) with a direct
    attribute compare — proving the md5 change-hash decides exactly
    like attribute equality. One full-outer shuffle on the business
    key; the dimension is small by definition at 100 TB (the fact side
    never enters this op)."""
    from taxi_trips_etl_spark.operators.scd2 import scd2_apply

    c = _t(spark, sf_dir, "customer")
    dim = c.select(
        "c_custkey",
        "c_mktsegment",
        "c_nationkey",
        F.lit("1990-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    upd = (
        c.filter(F.col("c_custkey") % 2 == 0)
        .select(
            "c_custkey",
            F.when(
                F.col("c_custkey") % 4 == 0,
                F.concat(F.col("c_mktsegment"), F.lit("-V2")),
            )
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            "c_nationkey",
            F.lit("1996-06-01 00:00:00").cast("timestamp").alias(
                "effective_ts"
            ),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 50 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.lit("NEWSEG").alias("c_mktsegment"),
                "c_nationkey",
                F.lit("1996-06-01 00:00:00").cast("timestamp").alias(
                    "effective_ts"
                ),
            )
        )
    )
    hist = scd2_apply(dim, upd, ["c_mktsegment", "c_nationkey"])
    return hist.select(
        "c_custkey",
        "c_mktsegment",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        _ts_str(F.col("valid_from"), "valid_from_s"),
        _ts_str(F.col("valid_to"), "valid_to_s"),
    )


_CDC_UPD = """
    SELECT c_custkey AS k, c_name AS u_name, c_nationkey AS u_nat,
           c_acctbal + 1000.0 AS u_bal, 'UPDATED' AS u_seg
    FROM customer WHERE c_custkey % 5 = 0
    UNION ALL
    SELECT c_custkey + 10000000, 'NEW#' || CAST(c_custkey AS VARCHAR),
           c_nationkey, 0.0, 'INSERTED'
    FROM customer WHERE c_custkey % 100 = 0
"""


@register(
    "cdc_upsert_apply",
    f"""
    WITH upd AS ({_CDC_UPD})
    SELECT COALESCE(t.c_custkey, u.k) AS c_custkey,
           CASE WHEN u.k IS NOT NULL THEN u.u_name ELSE t.c_name END
               AS c_name,
           CAST(CASE WHEN u.k IS NOT NULL THEN u.u_nat
                     ELSE t.c_nationkey END AS BIGINT) AS c_nationkey,
           CAST(round(CASE WHEN u.k IS NOT NULL THEN u.u_bal
                           ELSE t.c_acctbal END * 100) AS BIGINT)
               AS acctbal_cents,
           CASE WHEN u.k IS NOT NULL THEN u.u_seg ELSE t.c_mktsegment END
               AS c_mktsegment
    FROM customer t FULL OUTER JOIN upd u ON t.c_custkey = u.k
    """,
)
def q_cdc_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-INTO semantics on plain parquet (operators/upsert.py): a
    CDC batch (updates to every 5th key + inserts of new keys) applied
    via full-outer join — updates win per key, unmatched target rows
    survive, unmatched source rows insert. The oracle IS the merge
    spec, so the green row proves the portable-MERGE formulation. One
    shuffle on the merge key (zero if both sides are bucketed on it);
    money compared as exact integer cents."""
    from taxi_trips_etl_spark.operators.upsert import upsert

    c = _t(spark, sf_dir, "customer")
    upd = (
        c.filter(F.col("c_custkey") % 5 == 0)
        .select(
            "c_custkey",
            "c_name",
            "c_nationkey",
            (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
            F.lit("UPDATED").alias("c_mktsegment"),
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 100 == 0).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.concat(
                    F.lit("NEW#"), F.col("c_custkey").cast("string")
                ).alias("c_name"),
                "c_nationkey",
                F.lit(0.0).alias("c_acctbal"),
                F.lit("INSERTED").alias("c_mktsegment"),
            )
        )
    )
    merged = upsert(c, upd, ["c_custkey"])
    return merged.select(
        "c_custkey",
        "c_name",
        F.col("c_nationkey").cast("long").alias("c_nationkey"),
        F.round(F.col("c_acctbal") * 100).cast("long").alias("acctbal_cents"),
        "c_mktsegment",
    )


@register(
    "skew_salted_join",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted hot-key join (operators/skew.py): the big side carries
    ONE deterministic xxhash64-derived salt, the small side replicates
    across all 8 salts, and the equi-join runs on (key, salt) — so a
    pathological key spreads over 8 tasks instead of serializing on
    one. The oracle is the PLAIN join: the green row proves salting is
    semantics-preserving (every big row still meets every matching
    small row exactly once). For a broadcastable dim prefer
    F.broadcast; salting is the mid×mid fallback AQE's skew handling
    can't split (single hot KEY, not partition)."""
    from taxi_trips_etl_spark.operators.skew import salted_join

    big = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_custkey").alias("ck"),
        "o_totalprice",
    )
    small = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("ck"), "c_mktsegment"
    )
    joined = salted_join(big, small, ["ck"], salts=8)
    return joined.select(
        "o_orderkey",
        F.col("ck").alias("o_custkey"),
        "c_mktsegment",
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "totalprice_cents"
        ),
    )


@register(
    "embedding_int8_quantize",
    """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ),
    x0 AS (
        SELECT vec_id,
               unnest(generate_series(1, len(v))) AS i,
               unnest(v) AS val
        FROM e
    ),
    x AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim_idx, val FROM x0),
    stats AS (
        SELECT dim_idx, min(val) AS mn, max(val) AS mx
        FROM x GROUP BY dim_idx
    )
    SELECT x.vec_id, x.dim_idx,
           CASE WHEN mx = mn THEN 0
                ELSE CAST(least(255, greatest(0,
                         round((val - mn) / ((mx - mn) / 255.0))))
                     AS BIGINT) - 128 END AS code
    FROM x JOIN stats USING (dim_idx)
    """,
)
def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization (dataprep/quantize.py): per-DIMENSION
    affine codebook (64 rows, one narrow agg) broadcast back onto the
    corpus — float32 vectors become 4x-smaller int8 codes with zero
    corpus-side shuffles. All-IEEE-double arithmetic in an identical
    op order on both engines, so the code values hash-match exactly;
    this is the fully-SQL-expressible end of the quantization spectrum
    (PQ — similarity_pq_topk — is the trained end)."""
    from taxi_trips_etl_spark.dataprep.quantize import quantize_int8

    return quantize_int8(_t(spark, sf_dir, "embeddings"))


def _pagerank_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.graph import ITERS, TOTAL

    head = f"""
    WITH reps AS (
        SELECT o.o_custkey, o.o_orderkey, o.o_orderdate,
               min(l.l_suppkey) AS rep
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2, 3
    ),
    seqd AS (
        SELECT o_custkey, rep,
               lag(rep) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS prev
        FROM reps
    ),
    edges AS (
        SELECT DISTINCT prev AS src, rep AS dst FROM seqd
        WHERE prev IS NOT NULL AND prev <> rep
    ),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    params AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    r0 AS (SELECT node, {TOTAL} // (SELECT n FROM params) AS r FROM nodes)"""
    steps = []
    for k in range(1, ITERS + 1):
        steps.append(f"""
    r{k} AS (
        SELECT n.node,
               (15 * {TOTAL}) // (100 * (SELECT n FROM params))
               + (85 * COALESCE(s.insum, 0)) // 100 AS r
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS node, SUM(r.r // d.d) AS insum
            FROM edges e
            JOIN r{k - 1} r ON r.node = e.src
            JOIN deg d ON d.src = e.src
            GROUP BY e.dst
        ) s ON s.node = n.node
    )""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT node, CAST(r AS BIGINT) AS rank_e12 FROM r{ITERS}
    """
    )


@register("graph_pagerank", _pagerank_oracle())
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (dataprep/graph.py) over the supplier-transition graph
    (per customer, consecutive orders' representative suppliers form a
    directed edge) — the link-importance signal web-corpus curation
    pipelines use for page filtering. Integer fixed-point arithmetic
    (1e12 scale, integer division everywhere) makes 10 power
    iterations bit-reproducible regardless of summation order — which
    is what lets a 10-step unrolled-CTE oracle hash-match it exactly.
    Small graphs route to a driver union-loop (same recurrence);
    at scale each round is one ranks⋈edges broadcast join + one
    groupBy(dst) with map-side partial sums, lineage truncated per
    round."""
    from taxi_trips_etl_spark.dataprep.graph import pagerank_auto

    return pagerank_auto(supplier_transition_edges(spark, sf_dir))


def supplier_transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed supplier-transition edges: per customer, consecutive
    orders' representative (min) suppliers. Shared by graph_pagerank
    and its forced-distributed bench twin."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    reps = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.min("l_suppkey").alias("rep"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        reps.select("rep", F.lag("rep").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("rep")))
        .select(F.col("prev").alias("src"), F.col("rep").alias("dst"))
        .distinct()
    )


def _bpe_learn_oracle() -> str:
    """Unrolled-CTE replay of BPE merge learning (the kmeans/PageRank
    pattern applied to a per-round ARGMAX + greedy rewrite): each
    round counts adjacent pairs over the current segmentation
    (freq-weighted, ALL adjacencies — matching the engine's counter),
    picks the (count DESC, pair ASC) argmax as a 1-row CTE, then
    rewrites the segmentation with the greedy left-to-right merge.

    The greedy fold is SQL-expressible because cascades cannot occur
    (the merged token a||b is strictly longer than a, so it never
    equals the left symbol within the same round) — which reduces it
    to: for a ≠ b merge EVERY adjacency (they can never overlap,
    since overlap forces a = b), and for a = a merge the even offsets
    of each maximal run (gaps-and-islands on the flag column). CTEs
    are MATERIALIZED — inlining would re-expand the round chain into
    an exponential scan tree."""
    from taxi_trips_etl_spark.dataprep.bpe import N_MERGES

    head = """
    WITH wf0 AS MATERIALIZED (
        SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
            SELECT unnest(regexp_extract_all(lower(text), '[a-z]+'))
                AS word
            FROM documents
        ) GROUP BY word
    ),
    wf AS MATERIALIZED (
        SELECT row_number() OVER (ORDER BY word) AS wid, word, freq
        FROM wf0
    ),
    seg0 AS MATERIALIZED (
        SELECT wid, i AS pos, word[i] AS tok
        FROM wf, unnest(generate_series(1, len(word))) AS t(i)
    )"""
    ctes = []
    for r in range(1, N_MERGES + 1):
        p = r - 1
        ctes.append(f"""
    pr{r} AS MATERIALIZED (
        SELECT s1.tok AS a, s2.tok AS b, sum(f.freq) AS cnt
        FROM seg{p} s1
        JOIN seg{p} s2 ON s1.wid = s2.wid AND s2.pos = s1.pos + 1
        JOIN wf f ON f.wid = s1.wid
        GROUP BY 1, 2
    ),
    best{r} AS MATERIALIZED (
        SELECT a, b, cnt FROM pr{r} ORDER BY cnt DESC, a, b LIMIT 1
    ),
    fl{r} AS MATERIALIZED (
        SELECT wid, pos, tok,
               CASE WHEN tok = (SELECT a FROM best{r})
                     AND lead(tok) OVER (PARTITION BY wid ORDER BY pos)
                         = (SELECT b FROM best{r})
                    THEN 1 ELSE 0 END AS flag
        FROM seg{p}
    ),
    tk{r} AS MATERIALIZED (
        SELECT wid, pos, tok, flag,
               CASE WHEN flag = 1 AND (pos - min(pos) OVER (
                        PARTITION BY wid, pos - frn)) % 2 = 0
                    THEN 1 ELSE 0 END AS take
        FROM (
            SELECT wid, pos, tok, flag,
                   CASE WHEN flag = 1 THEN row_number() OVER (
                       PARTITION BY wid, flag ORDER BY pos) END AS frn
            FROM fl{r}
        )
    ),
    seg{r} AS MATERIALIZED (
        SELECT wid,
               row_number() OVER (PARTITION BY wid ORDER BY pos) AS pos,
               CASE WHEN take = 1
                    THEN (SELECT a FROM best{r})
                         || (SELECT b FROM best{r})
                    ELSE tok END AS tok
        FROM (SELECT *, coalesce(lag(take) OVER (
                  PARTITION BY wid ORDER BY pos), 0) AS ptake
              FROM tk{r})
        WHERE ptake = 0
    )""")
    finals = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS merge_rank, a AS tok_a,"
        f" b AS tok_b, CAST(cnt AS BIGINT) AS pair_count FROM best{r}"
        for r in range(1, N_MERGES + 1)
    )
    return head + "," + ",".join(ctes) + "\n    " + finals


@register("bpe_learn_merges", _bpe_learn_oracle())
def q_bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule learning (dataprep/bpe.py): 8 merges over the
    documents word-frequency table — the tokenizer-training half of
    the LLM pipeline (tokenize_with_vocab is the applying half). The
    corpus-sized work is ONE word-count agg; every iteration after
    that touches only the bounded vocabulary. Oracle-bearing since
    round 5: the data-dependent per-round argmax unrolls into CTEs
    (see _bpe_learn_oracle — the kmeans replay pattern), so what was
    rows-only now hash-verifies; pytest still pins distributed ≡
    driver ≡ hand-computed example."""
    from taxi_trips_etl_spark.dataprep.bpe import learn_bpe_auto

    return learn_bpe_auto(_t(spark, sf_dir, "documents"))


@register(
    "fuzzy_match_fastss2",
    """
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS edit_dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE a.c_mktsegment = 'BUILDING' AND b.c_mktsegment = 'BUILDING'
      AND levenshtein(a.c_name, b.c_name) <= 2
    """,
)
def q_fuzzy_match_fastss2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FastSS at distance 2 (dataprep/dedup.py fastss_pairs
    max_dist=2): depth-2 symmetric-deletion neighborhoods (self +
    1-deletions + position-pair 2-deletions) meet in an equi-join;
    real levenshtein() verifies survivors, so bucket collisions cost a
    compare, never a wrong answer. O(n·len²) candidate rows vs the
    O(n²) all-pairs matrix the DuckDB oracle brute-forces — the green
    row is the recall proof. Input bounded to one market segment to
    keep the quadratic oracle honest at sf0.1."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return dedup.fastss_pairs(c, max_dist=2)


