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
from taxi_trips_etl_spark.queries._dedup_sim_text import (  # noqa: F401
    _MINHASH_BANDS_SQL,
    _MINHASH_SIG_SQL,
)
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

# ---------------------------------------------------------------------------
# Round 4: chunk-level exact dedup, weighted sampling, entropy/feature
# hashing/bigram-LM text ops, z-score standardization, robust stats,
# time-series windows, skyline, triangles, and the Q21 shape.
# ---------------------------------------------------------------------------

_CHUNK_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"

@register(
    "chunk_dedup_docs",
    f"""
    WITH toks AS (
        SELECT doc_id, {_CHUNK_TOKS} AS t FROM documents
    ),
    chunks AS (
        SELECT doc_id, i - 1 AS chunk_idx,
               array_to_string(
                   list_slice(t, (i - 1) * 10 + 1, (i - 1) * 10 + 10), ' '
               ) AS chunk
        FROM (SELECT doc_id, t,
                     unnest(generate_series(1, ((len(t) - 1) // 10) + 1)) AS i
              FROM toks)
    ),
    marked AS (
        SELECT doc_id, chunk_idx, chunk,
               row_number() OVER (PARTITION BY chunk
                                  ORDER BY doc_id, chunk_idx) AS rn
        FROM chunks
    )
    SELECT doc_id,
           coalesce(string_agg(CASE WHEN rn = 1 THEN chunk END, ' '
                               ORDER BY chunk_idx), '') AS text_dedup,
           CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_chunks_kept,
           CAST(count(*) FILTER (WHERE rn > 1) AS BIGINT) AS n_chunks_dropped
    FROM marked GROUP BY doc_id
    """,
)
def q_chunk_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact chunk dedup (dataprep/dedup.py:chunk_dedup —
    Lee et al. 2021 restricted to aligned 10-token windows): every
    later byte-identical chunk is dropped, documents reassemble from
    survivors. Two minimal shuffles: first-wins window on md5(chunk),
    ordered reassembly on doc_id. The oracle replays the exact
    first-occurrence rule in DuckDB."""
    return dedup.chunk_dedup(_t(spark, sf_dir, "documents"))


@register(
    "weighted_priority_sample",
    f"""
    SELECT c_custkey, weight_cents, priority_key FROM (
        SELECT c_custkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS weight_cents,
               CAST(CAST(concat('0x', substr(
                        md5('wps:' || CAST(c_custkey AS VARCHAR)), 1, 8))
                    AS BIGINT) AS DOUBLE)
                   / CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS DOUBLE)
                   AS priority_key
        FROM customer
        WHERE CAST(round(c_acctbal * 100) AS BIGINT) > 0
    ) ORDER BY priority_key, c_custkey LIMIT 100
    """,
)
def q_weighted_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (dataprep/sampling.py:weighted_priority_sample — priority sampling,
    Duffield-Lund-Thorup): priority = hash-uniform / weight, keep the
    100 smallest. One IEEE division of exact integers per row keeps the
    key bit-identical across engines (no -ln(u) transcendental); the
    global top-k compiles to TakeOrderedAndProject (per-partition
    heaps), never a full sort."""
    from taxi_trips_etl_spark.dataprep.sampling import (
        weighted_priority_sample,
    )

    return weighted_priority_sample(
        _t(spark, sf_dir, "customer"), F.round(F.col("c_acctbal") * 100)
    )


@register(
    "token_entropy_by_source",
    f"""
    WITH c AS (
        SELECT source, tok, count(*) AS c FROM (
            SELECT source, unnest({_CHUNK_TOKS}) AS tok FROM documents
        ) GROUP BY source, tok
    )
    SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_distinct,
           round(log2(CAST(sum(c) AS DOUBLE))
                 - sum(c * log2(CAST(c AS DOUBLE)))
                   / CAST(sum(c) AS DOUBLE), 6) AS entropy_bits
    FROM c GROUP BY source ORDER BY source
    """,
)
def q_token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-distribution Shannon entropy
    (dataprep/text.py:token_entropy) — the corpus-diversity /
    template-spam signal. Single-pass H = log2(N) − Σ c·log2 c / N
    rearrangement: one map-side-combined shuffle on (source, token),
    then a reduce over ≤ vocab rows; round(6) absorbs ~1e-12
    summation-order noise."""
    from taxi_trips_etl_spark.dataprep.text import token_entropy

    return token_entropy(_t(spark, sf_dir, "documents"))


@register(
    "feature_hash_counts",
    f"""
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64
                AS BIGINT) AS bucket,
           count(*) AS n
    FROM (SELECT doc_id, unnest({_CHUNK_TOKS}) AS tok FROM documents)
    GROUP BY 1, 2
    """,
)
def q_feature_hash_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization (dataprep/text.py:feature_hash_counts,
    Weinberger et al. 2009): md5(token) mod 64 buckets → sparse integer
    count vectors with fixed dimensionality, no vocab build, no OOV.
    All-integer output; one explode + one combined shuffle."""
    from taxi_trips_etl_spark.dataprep.text import feature_hash_counts

    return feature_hash_counts(_t(spark, sf_dir, "documents"))


@register(
    "bigram_lm_topk",
    f"""
    WITH t AS (
        SELECT doc_id, {_CHUNK_TOKS} AS t FROM documents
        WHERE len({_CHUNK_TOKS}) >= 2
    ),
    pairs AS (
        SELECT t[i] AS w1, t[i + 1] AS w2, count(*) AS pair_n
        FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM t)
        GROUP BY 1, 2
    ),
    heads AS (
        SELECT w1, CAST(sum(pair_n) AS BIGINT) AS head_n
        FROM pairs GROUP BY w1
    ),
    top_heads AS (SELECT w1 FROM heads ORDER BY head_n DESC, w1 LIMIT 20)
    SELECT w1, w2, CAST(pair_n AS BIGINT) AS pair_n, head_n,
           CAST(pair_n AS DOUBLE) / CAST(head_n AS DOUBLE) AS cond_p
    FROM (
        SELECT p.w1, p.w2, p.pair_n, h.head_n,
               row_number() OVER (PARTITION BY p.w1
                                  ORDER BY p.pair_n DESC, p.w2) AS rn
        FROM pairs p JOIN heads h USING (w1) JOIN top_heads USING (w1)
    ) WHERE rn <= 3
    """,
)
def q_bigram_lm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM summary (dataprep/text.py:bigram_lm_topk): top-3
    successors with P(w2|w1) for the 20 most frequent heads. Bigrams
    come from a token-array zip (no self-join); windows run over the
    vocab² aggregate, never the corpus; the head cut is a broadcast
    TakeOrderedAndProject semi-join, not a global window. Exact counts,
    one IEEE division per probability."""
    from taxi_trips_etl_spark.dataprep.text import bigram_lm_topk

    return bigram_lm_topk(_t(spark, sf_dir, "documents"))


@register(
    "embedding_zscore",
    """
    WITH xs AS (
        SELECT vec_id, i - 1 AS dim_idx, CAST(embedding[i] AS DOUBLE) AS x
        FROM (SELECT vec_id, embedding,
                     unnest(generate_series(1, len(embedding))) AS i
              FROM embeddings)
    ),
    st AS (
        SELECT dim_idx, sum(x) / CAST(count(*) AS DOUBLE) AS mu,
               sqrt(greatest(
                   sum(x * x) / CAST(count(*) AS DOUBLE)
                   - (sum(x) / CAST(count(*) AS DOUBLE))
                     * (sum(x) / CAST(count(*) AS DOUBLE)), 0.0)) AS sigma
        FROM xs GROUP BY dim_idx
    )
    SELECT CAST(xs.vec_id AS BIGINT) AS vec_id,
           CAST(xs.dim_idx AS BIGINT) AS dim_idx,
           round(CASE WHEN sigma = 0 THEN 0.0
                      ELSE (x - mu) / sigma END, 6) AS z
    FROM xs JOIN st USING (dim_idx)
    WHERE vec_id < 5
    """,
)
def q_embedding_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization
    (dataprep/similarity.py:standardize_dims) — the feature-scaling
    step ahead of k-means/PCA/ANN. Stats are one posexplode +
    map-side-combined groupBy(dim) over ALL vectors; the d-row stats
    table joins back as a broadcast; output sampled to vec_id < 5.
    round(6) absorbs partial-sum-order noise (~1e-12)."""
    from taxi_trips_etl_spark.dataprep.similarity import standardize_dims

    return standardize_dims(_t(spark, sf_dir, "embeddings"), id_below=5)


@register(
    "mad_outliers",
    """
    WITH pts AS (
        SELECT c_nationkey,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        FROM customer
    ),
    m AS (SELECT c_nationkey, median(bal_cents) AS med
          FROM pts GROUP BY c_nationkey),
    d AS (SELECT p.c_nationkey, p.bal_cents, m.med,
                 abs(p.bal_cents - m.med) AS dev
          FROM pts p JOIN m USING (c_nationkey)),
    md AS (SELECT c_nationkey, median(dev) AS mad
           FROM d GROUP BY c_nationkey)
    SELECT d.c_nationkey, round(max(d.med), 1) AS med_cents,
           round(max(md.mad), 1) AS mad_cents,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(count(*) FILTER (WHERE d.dev > 3 * md.mad) AS BIGINT)
               AS n_outliers
    FROM d JOIN md USING (c_nationkey)
    GROUP BY d.c_nationkey ORDER BY d.c_nationkey
    """,
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation robust outlier screen per nation — the
    heavy-tail-safe sibling of iqr_outliers. One shuffle on nation,
    then three in-partition window passes over the SAME partitioning
    (exact median, MAD of deviations, threshold count) — Spark reuses
    the single Exchange for all three windows, so robust stats cost no
    more shuffles than a plain groupBy. Medians are exact interpolated
    percentiles (integer cents → .0/.5 values, engine-portable)."""
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    w = Window.partitionBy("c_nationkey")
    d = c.withColumn(
        "med", F.percentile("bal_cents", F.lit(0.5)).over(w)
    ).withColumn("dev", F.abs(F.col("bal_cents") - F.col("med")))
    d = d.withColumn("mad", F.percentile("dev", F.lit(0.5)).over(w))
    return (
        d.groupBy("c_nationkey")
        .agg(
            F.round(F.max("med"), 1).alias("med_cents"),
            F.round(F.max("mad"), 1).alias("mad_cents"),
            F.count(F.lit(1)).cast("long").alias("n_cust"),
            F.sum((F.col("dev") > 3 * F.col("mad")).cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("c_nationkey")
    )


# Exponential weights 0.7^j, j=0..19, generated once by repeated
# multiplication and inlined as IDENTICAL double literals on both
# engines — pow() is transcendental and libm-dependent, literals are
# not. Index convention: _EWMA_W[0] weights the CURRENT row.
_EWMA_W = [0.7 ** j for j in range(20)]
_EWMA_W_SQL = "[" + ", ".join(repr(w) for w in _EWMA_W) + "]"


@register(
    "ewma_daily_revenue",
    f"""
    WITH daily AS (
        SELECT c.c_nationkey,
               strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS day,
               CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS daily_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    win AS (
        SELECT c_nationkey, day, daily_cents,
               list(daily_cents) OVER (
                   PARTITION BY c_nationkey ORDER BY day
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS xs
        FROM daily
    )
    SELECT c_nationkey, day, daily_cents,
           round(
               list_sum(list_transform(generate_series(1, len(xs)),
                   i -> (CAST(xs[i] AS DOUBLE) / 100.0)
                        * ({_EWMA_W_SQL})[len(xs) - i + 1]))
               / list_sum(list_transform(generate_series(1, len(xs)),
                   i -> ({_EWMA_W_SQL})[len(xs) - i + 1])), 4) AS ewma
    FROM win
    """,
)
def q_ewma_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue per nation
    (trailing 20 observations, decay 0.7) — the smoothing primitive for
    monitoring/seasonality features. The weights are PRE-COMPUTED
    literals shared verbatim with the oracle, and both engines fold the
    SAME trailing list left-to-right, so the float result is
    bit-identical before the insurance round(4). One shuffle on nation
    builds the daily series; the window frame is rows-based (20
    elements max), so state per row is O(20) at any scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    daily = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(
            "c_nationkey",
            F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias(
                "day"
            ),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("daily_cents")
        )
    )
    w = (
        Window.partitionBy("c_nationkey")
        .orderBy("day")
        .rowsBetween(-19, Window.currentRow)
    )
    ws = "array(" + ", ".join(repr(x) + "D" for x in _EWMA_W) + ")"
    ewma = F.expr(
        f"round(aggregate(sequence(0, size(xs) - 1), 0.0D, (acc, i) -> "
        f"acc + (CAST(element_at(xs, i + 1) AS DOUBLE) / 100.0D) "
        f"* element_at({ws}, size(xs) - i)) / "
        f"aggregate(sequence(0, size(xs) - 1), 0.0D, (acc, i) -> "
        f"acc + element_at({ws}, size(xs) - i)), 4)"
    )
    return (
        daily.withColumn("xs", F.collect_list("daily_cents").over(w))
        .select("c_nationkey", "day", "daily_cents", ewma.alias("ewma"))
    )


@register(
    "rolling_corr_revenue",
    """
    WITH g AS (
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               CAST(sum(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    n1 AS (
        SELECT strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS day,
               CAST(sum(CAST(round(o.o_totalprice) AS BIGINT)) AS BIGINT) AS x
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey = 1 GROUP BY 1
    ),
    j AS (SELECT n1.day, CAST(n1.x AS HUGEINT) AS x,
                 CAST(g.y AS HUGEINT) AS y FROM n1 JOIN g USING (day)),
    w AS (
        -- HUGEINT operands: sum() only promotes its ACCUMULATOR, the
        -- x*x / x*y products would still be evaluated in int64 and
        -- overflow around sf 30 — cast the inputs so every product
        -- and sum is int128, matching Spark's decimal(38,0) envelope.
        SELECT day, x, y,
               count(*) OVER tw AS n,
               sum(x) OVER tw AS sx, sum(y) OVER tw AS sy,
               sum(x * y) OVER tw AS sxy,
               sum(x * x) OVER tw AS sxx, sum(y * y) OVER tw AS syy,
               row_number() OVER (ORDER BY day) AS rn
        FROM j
        WINDOW tw AS (ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT day,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6) AS corr
    FROM w
    WHERE rn >= 30 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    """,
)
def q_rolling_corr_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-30-observation Pearson correlation between nation 1's
    daily revenue and the global daily total — the co-movement monitor.
    The five sufficient statistics are EXACT wide integers — Spark
    carries them as decimal(38,0), the oracle as HUGEINT (int128),
    because plain int64 products of daily-revenue squares wrap/overflow
    around sf 3-30 — and only the final sqrt/divide touches floats
    (identical operands → identical result; round(6) is insurance).
    Window state is O(1) per row via running sums — no list
    materialization at scale. Degenerate (zero-variance) windows are
    filtered, as are the first 29 partial windows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    day = F.date_format(F.to_date("o_orderdate"), "yyyy-MM-dd").alias("day")
    dollars = F.round(F.col("o_totalprice")).cast("long")
    g = o.groupBy(day).agg(F.sum(dollars).cast("long").alias("y"))
    n1 = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .filter(F.col("c_nationkey") == 1)
        .groupBy(day)
        .agg(F.sum(dollars).cast("long").alias("x"))
    )
    j = n1.join(g, "day")
    tw = Window.orderBy("day").rowsBetween(-29, Window.currentRow)
    rw = Window.orderBy("day")
    # Sufficient statistics in DECIMAL, not long: DuckDB's sum(BIGINT)
    # promotes to HUGEINT (int128) while a long sum in Spark would
    # silently WRAP once daily-revenue squares grow past 2^63 (reached
    # around sf 3-10) — the engines would diverge exactly at scale.
    # decimal(38,0) keeps every product/sum exact to 1e38 (centuries
    # of headroom past 100 TB) and converts to the same double.
    xd = F.col("x").cast("decimal(20,0)")
    yd = F.col("y").cast("decimal(20,0)")
    wdf = j.select(
        "day",
        F.count(F.lit(1)).over(tw).alias("n"),
        F.sum(xd).over(tw).alias("sx"),
        F.sum(yd).over(tw).alias("sy"),
        F.sum(xd * yd).over(tw).alias("sxy"),
        F.sum(xd * xd).over(tw).alias("sxx"),
        F.sum(yd * yd).over(tw).alias("syy"),
        F.row_number().over(rw).alias("rn"),
    )
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        wdf.filter((F.col("rn") >= 30) & (varx > 0) & (vary > 0))
        .select(
            "day",
            F.round(
                num.cast("double")
                / (F.sqrt(varx.cast("double")) * F.sqrt(vary.cast("double"))),
                6,
            ).alias("corr"),
        )
    )


@register(
    "pareto_frontier",
    """
    WITH pts AS (
        SELECT c.c_nationkey, c.c_custkey,
               CAST(round(c.c_acctbal * 100) AS BIGINT) AS bal_cents,
               CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders
        FROM customer c LEFT JOIN (
            SELECT o_custkey, count(*) AS n FROM orders GROUP BY o_custkey
        ) o ON c.c_custkey = o.o_custkey
    )
    SELECT c_nationkey, c_custkey, bal_cents, n_orders FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.c_nationkey = p.c_nationkey
          AND q.bal_cents >= p.bal_cents AND q.n_orders >= p.n_orders
          AND (q.bal_cents > p.bal_cents OR q.n_orders > p.n_orders)
    )
    """,
)
def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline per nation: customers not dominated on (balance,
    order count). The ORACLE is the literal O(n²) NOT-EXISTS dominance
    test; the Spark side is the sort-based linear scan — two window
    maxima over ONE shuffle on nation (max orders over strictly-higher
    balances via a range frame, max among balance peers), dominated iff
    either beats the row. Hash equality between the two is the proof
    the O(n log n) plan computes the same frontier."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pts = c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
        "c_nationkey",
        "c_custkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_orders"),
    )
    w_high = (
        Window.partitionBy("c_nationkey")
        .orderBy("bal_cents")
        .rangeBetween(1, Window.unboundedFollowing)
    )
    w_peer = Window.partitionBy("c_nationkey", "bal_cents")
    dominated = (
        F.coalesce(
            F.max("n_orders").over(w_high) >= F.col("n_orders"), F.lit(False)
        )
    ) | (F.max("n_orders").over(w_peer) > F.col("n_orders"))
    return (
        pts.withColumn("dom", dominated)
        .filter(~F.col("dom"))
        .select("c_nationkey", "c_custkey", "bal_cents", "n_orders")
    )


@register(
    "graph_triangles",
    """
    WITH reps AS (
        SELECT o_custkey, o_orderkey, o_orderdate, min(l_suppkey) AS rep
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        GROUP BY 1, 2, 3
    ),
    tr AS (
        SELECT rep, lag(rep) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS prev
        FROM reps
    ),
    edges AS (
        SELECT DISTINCT least(prev, rep) AS lo, greatest(prev, rep) AS hi
        FROM tr WHERE prev IS NOT NULL AND prev <> rep
    ),
    tris AS (
        SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
        FROM edges e1
        JOIN edges e2 ON e1.hi = e2.lo
        JOIN edges e3 ON e3.lo = e1.lo AND e3.hi = e2.hi
    ),
    corners AS (
        SELECT a AS node FROM tris
        UNION ALL SELECT b FROM tris
        UNION ALL SELECT c FROM tris
    )
    SELECT node, count(*) AS n_triangles
    FROM corners GROUP BY node ORDER BY node
    """,
)
def q_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts (dataprep/graph.py:triangle_count) over
    the same supplier-transition graph graph_pagerank walks, taken
    undirected — the local-clustering / link-farm signal. Compact-
    forward enumeration (a<b<c) produces each triangle exactly once
    through two hash equi-joins on a checkpointed canonical edge list;
    the oracle replays the identical enumeration declaratively."""
    from taxi_trips_etl_spark.dataprep.graph import triangle_count

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    reps = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.min("l_suppkey").alias("rep"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    edges = (
        reps.select("rep", F.lag("rep").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("rep")))
        .select(F.col("prev").alias("src"), F.col("rep").alias("dst"))
    )
    return triangle_count(edges)


@register(
    "tpch_suppliers_waiting",
    """
    WITH li AS (
        SELECT l_orderkey, l_suppkey,
               (l_suppkey % 45) > (l_partkey % 30) AS late
        FROM lineitem
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM li l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
                  AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.late
      AND EXISTS (SELECT 1 FROM li l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM li l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name LIMIT 20
    """,
)
def q_tpch_suppliers_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting), adapted: no
    commit/receipt dates in this testdata, so lateness derives
    deterministically from key arithmetic on both engines. The ORACLE
    keeps the spec's correlated EXISTS / NOT-EXISTS pair; the Spark
    side replaces BOTH with one per-order pre-aggregation — distinct
    suppliers and distinct LATE suppliers per order — joined once:
    'another supplier exists' ⇔ n_supp ≥ 2, 'no other late supplier' ⇔
    n_late_supp = 1 (the row's own supplier is late). Two scans of
    lineitem total, vs four in the naive decorrelation — the
    agg-then-join rewrite is the scale win this entry pins."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        ((F.col("l_suppkey") % 45) > (F.col("l_partkey") % 30)).alias("late"),
    )
    # Two-level aggregate instead of the double countDistinct: Spark
    # plans multi-distinct via Expand (every row duplicated per
    # distinct group → 2× the shuffle bytes). The (orderkey, suppkey)
    # grain with max(late) is partial-aggregable map-side, and the two
    # counts fall out of it exactly — count(*) of the grain IS
    # countDistinct(suppkey), and a supplier is late iff any of its
    # lines is (max over booleans), so sum(late) IS
    # countDistinct(when(late, suppkey)).
    per_pair = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("late").alias("late")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"),
        F.sum(F.col("late").cast("long")).alias("n_late_supp"),
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = F.broadcast(_t(spark, sf_dir, "supplier").select("s_suppkey", "s_name"))
    return (
        li.filter(F.col("late"))
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@register(
    "streaming_static_enrich",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(c.c_nationkey AS BIGINT) AS c_nationkey,
           e.event_type,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2, 3
    """,
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming/static_enrich.py): the event
    stream broadcast-joins the customer dim per micro-batch (dim
    refreshes land without a restart; the stream side never shuffles
    for the join), then a watermarked 1-day-window aggregation. The
    AvailableNow complete-mode output must equal the one-shot batch
    join+aggregate — the oracle IS that batch query."""
    from taxi_trips_etl_spark.streaming.static_enrich import (
        run_streaming_static_enrich,
    )

    return run_streaming_static_enrich(
        spark,
        f"{sf_dir}/events.parquet",
        _t(spark, sf_dir, "customer"),
        sink_table="static_enrich_oracle_run",
    )


@register(
    "streaming_cdc_upsert",
    """
    SELECT user_id, last_event_id, last_ts, last_type, last_value FROM (
        SELECT user_id,
               event_id AS last_event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               event_type AS last_type,
               value AS last_value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
)
def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch CDC apply (streaming/stream_upsert.py): micro-batches
    of the event feed merge into a per-user state table, newest
    (ts, event_id) wins. The merge is a commutative/associative
    reduction, so the final state is independent of batch splits and
    arrival order — which is exactly why the whole-feed argmax oracle
    can hash-match it (and why redelivered batches are no-ops in
    production). Multi-batch splitting is pytest-pinned equal to this
    single-batch run."""
    from taxi_trips_etl_spark.streaming.stream_upsert import (
        run_streaming_cdc_upsert,
    )

    out = run_streaming_cdc_upsert(spark, f"{sf_dir}/events.parquet")
    return out.select(
        "user_id",
        "last_event_id",
        _ts_str(F.col("last_ts"), "last_ts"),
        "last_type",
        "last_value",
    )


@register(
    "quality_classifier_score",
    f"""
    WITH feat AS (
        SELECT doc_id,
               CAST(CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64
                    AS BIGINT) AS bucket,
               count(*) AS n
        FROM (SELECT doc_id, unnest({_CHUNK_TOKS}) AS tok FROM documents)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT doc_id,
               sum(n * ((bucket * 37 + 11) % 21 - 10)) AS margin_scaled,
               sum(n) AS n_tokens
        FROM feat GROUP BY doc_id
    )
    SELECT doc_id,
           CAST(margin_scaled AS BIGINT) AS margin_scaled,
           CAST(margin_scaled AS DOUBLE) / (10.0 * CAST(n_tokens AS DOUBLE))
               AS margin,
           CASE WHEN margin_scaled > 0 THEN 'keep' ELSE 'drop' END AS label
    FROM scored
    """,
)
def q_quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier inference at scale (the fasttext-style
    filter every web-corpus pipeline runs): hashed token features ×
    a weight vector → per-document margin and keep/drop label. Weights
    here are the deterministic literal family w_b = ((37b+11) mod 21
    − 10)/10 so both engines share them exactly; the margin accumulates
    as an EXACT INTEGER (count × integer weight) and floats appear only
    in one final division. Composition: feature_hash_counts → one more
    map-side-combined groupBy(doc_id) — the corpus is touched once, and
    a real trained weight vector drops in as a literal array the same
    way (broadcast-free, codegen-friendly)."""
    from taxi_trips_etl_spark.dataprep.text import feature_hash_counts

    feats = feature_hash_counts(_t(spark, sf_dir, "documents"))
    w_int = (F.col("bucket") * 37 + 11) % 21 - 10
    return (
        feats.groupBy("doc_id")
        .agg(
            F.sum(F.col("n") * w_int).cast("long").alias("margin_scaled"),
            F.sum("n").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "margin_scaled",
            (
                F.col("margin_scaled").cast("double")
                / (F.lit(10.0) * F.col("n_tokens").cast("double"))
            ).alias("margin"),
            F.when(F.col("margin_scaled") > 0, "keep")
            .otherwise("drop")
            .alias("label"),
        )
    )


@register(
    "month_over_month_growth",
    """
    WITH monthly AS (
        SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                   AS month_start,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS revenue_cents
        FROM orders GROUP BY 1
    )
    SELECT month_start, revenue_cents,
           CAST(revenue_cents - lag(revenue_cents)
                    OVER (ORDER BY month_start) AS BIGINT) AS delta_cents,
           round(CAST(revenue_cents - lag(revenue_cents)
                          OVER (ORDER BY month_start) AS DOUBLE)
                 / CAST(lag(revenue_cents)
                            OVER (ORDER BY month_start) AS DOUBLE), 6)
               AS mom_growth
    FROM monthly
    """,
)
def q_month_over_month_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the period-over-period KPI
    family (lag over a calendar aggregate). Revenue is exact integer
    cents; growth is one IEEE division of those integers (round 6 is
    insurance only). The window is global but CALENDAR-BOUNDED (≤ one
    row per month regardless of fact size), the same
    aggregate-then-window posture as the popularity rank; the first
    month yields NULLs by definition."""
    o = _t(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
        .alias("month_start")
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("revenue_cents")
    )
    w = Window.orderBy("month_start")
    prev = F.lag("revenue_cents").over(w)
    return monthly.select(
        "month_start",
        "revenue_cents",
        (F.col("revenue_cents") - prev).cast("long").alias("delta_cents"),
        F.round(
            (F.col("revenue_cents") - prev).cast("double")
            / prev.cast("double"),
            6,
        ).alias("mom_growth"),
    )


@register(
    "constraint_quarantine",
    f"""
    SELECT strftime(pickup_datetime, '%Y-%m-%d %H:%M:%S') AS pickup_ts,
           passenger_count, trip_distance,
           CAST(round(fare_amount * 100) AS BIGINT) AS fare_cents,
           concat_ws(',',
               CASE WHEN pickup_datetime = dropoff_datetime
                    THEN 'zero_duration' END,
               CASE WHEN passenger_count IS NULL OR passenger_count = 0
                    THEN 'no_passengers' END,
               CASE WHEN trip_distance IS NULL OR trip_distance = 0
                    THEN 'zero_distance' END,
               CASE WHEN fare_amount = 0 THEN 'zero_fare' END
           ) AS reasons
    FROM ({TRIPS_SQL})
    WHERE pickup_datetime = dropoff_datetime
       OR passenger_count IS NULL OR passenger_count = 0
       OR trip_distance IS NULL OR trip_distance = 0
       OR fare_amount = 0
    """,
)
def q_constraint_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalize filter's REJECT side, with per-row reason labels —
    the quarantine/dead-letter pattern (SURVEY §2.2's predicate run in
    reverse; validate_constraints gives the counts, this gives the
    rows). One scan, one codegen span: each CASE re-tests one predicate
    and concat_ws drops the NULLs of passed checks, so the reason
    string is deterministic and engine-portable. At 100 TB the rejects
    sink to their own partitioned table for triage while the pass side
    flows on — nothing recomputes."""
    trips = trips_from_lineitem(_t(spark, sf_dir, "lineitem"))
    zero_dur = F.col("pickup_datetime") == F.col("dropoff_datetime")
    no_pass = F.col("passenger_count").isNull() | (
        F.col("passenger_count") == 0
    )
    zero_dist = F.col("trip_distance").isNull() | (
        F.col("trip_distance") == 0
    )
    zero_fare = F.col("fare_amount") == 0
    return trips.filter(zero_dur | no_pass | zero_dist | zero_fare).select(
        _ts_str(F.col("pickup_datetime"), "pickup_ts"),
        "passenger_count",
        "trip_distance",
        F.round(F.col("fare_amount") * 100).cast("long").alias("fare_cents"),
        F.concat_ws(
            ",",
            F.when(zero_dur, "zero_duration"),
            F.when(no_pass, "no_passengers"),
            F.when(zero_dist, "zero_distance"),
            F.when(zero_fare, "zero_fare"),
        ).alias("reasons"),
    )


@register(
    "weighted_sample_per_group",
    """
    SELECT source, doc_id, weight, priority_key FROM (
        SELECT source, doc_id, weight, priority_key,
               row_number() OVER (PARTITION BY source
                                  ORDER BY priority_key, doc_id) AS rn
        FROM (
            SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
                   CAST(CAST(concat('0x', substr(
                            md5('wpg:' || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) AS DOUBLE) / CAST(n_chars AS DOUBLE)
                       AS priority_key
            FROM documents WHERE n_chars > 0
        )
    ) WHERE rn <= 5
    """,
)
def q_weighted_sample_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group weighted sampling without replacement (5 docs per
    source, weight = document length) — the domain-balanced corpus
    draw: every domain contributes a fixed quota, length-weighted
    within. Same bit-exact priority key as weighted_priority_sample
    (hash-uniform / integer weight, one IEEE division), but the top-k
    runs PER GROUP via a row_number window over the group partition —
    one shuffle on source, heap-free, no global sort anywhere."""
    d = _t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wpg:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    pk = u.cast("double") / F.col("n_chars").cast("double")
    w = Window.partitionBy("source").orderBy("priority_key", "doc_id")
    return (
        d.select(
            "source",
            "doc_id",
            F.col("n_chars").cast("long").alias("weight"),
            pk.alias("priority_key"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("source", "doc_id", "weight", "priority_key")
    )


@register(
    "rolling_active_users",
    """
    WITH act AS (
        SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    spine AS (SELECT DISTINCT d FROM act)
    SELECT strftime(s.d, '%Y-%m-%d') AS day,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS active_users_28d
    FROM spine s JOIN act a
      ON a.d <= s.d AND a.d >= s.d - INTERVAL 27 DAY
    GROUP BY s.d
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 28-day active users per day — the MAU/WAU engagement KPI
    family. A windowed COUNT DISTINCT cannot ride a frame (distinct
    doesn't decompose into running state), so the scale shape is:
    reduce the event stream to the DAY-GRANULAR activity table
    (distinct (day, user) — bounded by days × users, not event
    volume), broadcast the ~calendar-sized day spine against it as a
    range join, and count distinct per spine day. The corpus-sized
    work is one distinct; everything after is calendar-bounded."""
    ev = (
        _events(spark, sf_dir)
        .select(F.to_date("ts").alias("d"), "user_id")
        .distinct()
    )
    spine = F.broadcast(ev.select("d").distinct().alias("s"))
    a = ev.alias("a")
    j = spine.join(
        a,
        (F.col("a.d") <= F.col("s.d"))
        & (F.col("a.d") >= F.date_sub(F.col("s.d"), 27)),
    )
    return (
        j.groupBy("s.d")
        .agg(F.countDistinct("a.user_id").cast("long").alias(
            "active_users_28d"
        ))
        .select(F.date_format("d", "yyyy-MM-dd").alias("day"),
                "active_users_28d")
    )


# GPT-2-style pre-tokenizer, simplified to constructs whose semantics
# are identical in Java regex (Spark) and RE2 (DuckDB): runs of
# letters, runs of digits, single other-non-space chars. The
# whitespace set is ENUMERATED rather than \s because the engines'
# \s differ at the edge (Java includes vertical tab \x0B, RE2 does
# not) — with the explicit class, \x0B counts as punctuation on both.
_PRETOK_RE = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\f\\r]"


@register(
    "regex_pretokenize_counts",
    f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), '{_PRETOK_RE}'))
                AS BIGINT) AS n_subtokens,
           CAST(len(string_split_regex(trim(lower(text)),
                                       '[ \t\n\f\r]+')) AS BIGINT)
               AS n_ws_tokens,
           CAST(len(list_distinct(
                    regexp_extract_all(lower(text), '{_PRETOK_RE}')))
                AS BIGINT) AS n_distinct_subtokens
    FROM documents
    """,
)
def q_regex_pretokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style regex pre-tokenization counts (the GPT-2 pattern's
    portable core: letter runs | digit runs | single punctuation) next
    to the whitespace tokenization — the token-budget estimator run
    before committing to a tokenizer. Pure JVM regexp_extract_all in
    one codegen span; the pattern is restricted to constructs where
    Java regex and RE2 agree, which is what lets the oracle share it
    verbatim."""
    docs = _t(spark, sf_dir, "documents")
    # NOTE: the function form with a lit() pattern, not an F.expr SQL
    # string — Spark's single-quoted SQL literals consume backslash
    # escapes ('\\s' arrives as 's'), which silently turned the
    # negated class into one that MATCHES spaces. The whitespace split
    # below enumerates its class for the same Java-\s ⊃ RE2-\s reason
    # as _PRETOK_RE (vertical tab).
    sub = F.regexp_extract_all(
        F.lower(F.col("text")), F.lit(_PRETOK_RE), 0
    )
    return docs.select(
        "doc_id",
        F.size(sub).cast("long").alias("n_subtokens"),
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"[ \t\n\f\r]+"))
        .cast("long")
        .alias("n_ws_tokens"),
        F.size(F.array_distinct(sub))
        .cast("long")
        .alias("n_distinct_subtokens"),
    )


@register(
    "source_distinctive_terms",
    f"""
    WITH tok AS (
        SELECT source, tok, count(*) AS a FROM (
            SELECT source, unnest({_CHUNK_TOKS}) AS tok FROM documents
        ) GROUP BY 1, 2
    ),
    tot AS (SELECT tok, sum(a) AS t FROM tok GROUP BY tok),
    src AS (SELECT source, sum(a) AS sa FROM tok GROUP BY source),
    all_n AS (SELECT sum(a) AS n FROM tok)
    SELECT source, tok,
           CAST(a AS BIGINT) AS n_in_source,
           CAST(t - a AS BIGINT) AS n_elsewhere,
           round(ln((a + 1.0) / (sa - a + 1.0))
                 - ln((t - a + 1.0) / ((n - sa) - (t - a) + 1.0)), 6)
               AS log_odds,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
        SELECT tok.source, tok.tok, tok.a, tot.t, src.sa, all_n.n,
               row_number() OVER (
                   PARTITION BY tok.source
                   ORDER BY ln((tok.a + 1.0) / (src.sa - tok.a + 1.0))
                            - ln((tot.t - tok.a + 1.0)
                                 / ((all_n.n - src.sa)
                                    - (tot.t - tok.a) + 1.0)) DESC,
                            tok.tok) AS rnk
        FROM tok JOIN tot USING (tok) JOIN src USING (source)
                 CROSS JOIN all_n
    ) WHERE rnk <= 5
    """,
)
def q_source_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source via smoothed log-odds (Monroe et
    al.'s 'Fightin' Words' without the prior variance term) — the
    domain-fingerprinting op behind corpus mixing decisions. Exact
    integer counts feed ln() on identical operands; window ranks run
    over the vocab-bounded aggregate; the corpus-wide stats (per-term
    totals, per-source totals, grand total) join back as broadcasts.
    Ties (uniform synthetic text makes many) break on the term, so
    top-5 is deterministic."""
    docs = _t(spark, sf_dir, "documents")
    spark_tok = (
        # spread() on high-cardinality doc_id, NOT source: hashing
        # into ~20 source values would cap the CPU-heavy split+explode
        # at 20 tasks (the tokens_table docstring trap).
        dedup.spread(
            docs.select(
                "doc_id", "source", dedup.tokens_col().alias("toks")
            )
        )
        .select("source", F.explode("toks").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("a"))
        # r13: four consumers (tot, src, n, the final join) each re-ran
        # the tokenize→explode→agg corpus pass in the lazy plan; the
        # (source, tok) table is vocab-bounded — materialize it once.
        .transform(materialize, eager=False)
    )
    tot = spark_tok.groupBy("tok").agg(F.sum("a").alias("t"))
    src = spark_tok.groupBy("source").agg(F.sum("a").alias("sa"))
    n = spark_tok.agg(F.sum("a").alias("n"))
    j = (
        spark_tok.join(F.broadcast(tot), "tok")
        .join(F.broadcast(src), "source")
        .crossJoin(F.broadcast(n))
    )
    log_odds = F.log((F.col("a") + 1.0) / (F.col("sa") - F.col("a") + 1.0)) - F.log(
        (F.col("t") - F.col("a") + 1.0)
        / ((F.col("n") - F.col("sa")) - (F.col("t") - F.col("a")) + 1.0)
    )
    w = Window.partitionBy("source").orderBy(log_odds.desc(), F.asc("tok"))
    return (
        j.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "source",
            "tok",
            F.col("a").cast("long").alias("n_in_source"),
            (F.col("t") - F.col("a")).cast("long").alias("n_elsewhere"),
            F.round(log_odds, 6).alias("log_odds"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    "time_weighted_average",
    """
    WITH seq AS (
        SELECT user_id, value, ts,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS next_ts
        FROM events
    ),
    seg AS (
        SELECT user_id, value,
               CAST(date_diff('second', ts, next_ts) AS BIGINT) AS dur_s
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT user_id,
           CAST(sum(dur_s) AS BIGINT) AS total_s,
           round(sum(value * CAST(dur_s AS DOUBLE))
                 / CAST(sum(dur_s) AS DOUBLE), 4) AS twap
    FROM seg WHERE dur_s > 0
    GROUP BY user_id
    """,
)
def q_time_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of an irregular event series per user (the
    TWAP/sensor-integration primitive): each reading holds until the
    next one, so it weighs by its holding duration. Durations are
    EXACT integer seconds (epoch diffs) and the only floats are the
    value×duration products and one final division — round(4) absorbs
    the summation-order difference between Spark's partial aggregates
    and the oracle's sequential sum. One shuffle on user_id serves the
    lead window; the aggregation reuses the same partitioning (zero
    extra exchanges)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = (
        ev.select(
            "user_id",
            "value",
            F.unix_timestamp("ts").alias("t"),
            F.unix_timestamp(F.lead("ts").over(w)).alias("next_t"),
        )
        .filter(F.col("next_t").isNotNull())
        .select(
            "user_id",
            "value",
            (F.col("next_t") - F.col("t")).alias("dur_s"),
        )
        .filter(F.col("dur_s") > 0)
    )
    return seg.groupBy("user_id").agg(
        F.sum("dur_s").cast("long").alias("total_s"),
        F.round(
            F.sum(F.col("value") * F.col("dur_s").cast("double"))
            / F.sum("dur_s").cast("double"),
            4,
        ).alias("twap"),
    )


@register(
    "streaming_ingest_dedup",
    f"""
    WITH shingled AS ({GRAMS_SQL}),
    sig AS (SELECT doc_id, {_MINHASH_SIG_SQL} FROM shingled),
    bands AS ({_MINHASH_BANDS_SQL}),
    dups AS (
        SELECT DISTINCT b.doc_id FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
    )
    SELECT d.doc_id FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dups)
    """,
)
def q_streaming_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming corpus ingestion with incremental near-dup rejection
    (streaming/ingest_dedup.py): each micro-batch LSH-pairs ONLY
    against the accumulated band index (plus itself), never
    corpus×corpus, and clean docs append to the sink. Drained here
    with AvailableNow over the documents table; the keep rule — a doc
    survives unless it band-collides with an earlier-ingested/lower-id
    doc — is replayed by the oracle's one-shot LSH over the whole
    corpus (single-source drain ⇒ identical semantics; multi-batch
    splits are pytest-pinned in test_streaming_ingest_dedup)."""
    import shutil
    import tempfile

    from taxi_trips_etl_spark.streaming.ingest_dedup import (
        run_streaming_ingest_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="ingest_dedup_q_", ignore_cleanup_errors=True
    ) as work:
        # The file-stream source wants a directory; stage the single
        # parquet file into one.
        src = f"{work}/source"
        import os as _os

        _os.makedirs(src)
        shutil.copy(f"{sf_dir}/documents.parquet", src)
        run_streaming_ingest_dedup(
            spark,
            src,
            docs.schema,
            index_path=f"{work}/index",
            clean_path=f"{work}/clean",
            checkpoint_path=f"{work}/ckpt",
        )
        kept = [
            r["doc_id"]
            for r in spark.read.parquet(f"{work}/clean")
            .select("doc_id")
            .collect()
        ]
    from taxi_trips_etl_spark.sources.localrel import local_rows

    return local_rows(
        spark, [(int(i),) for i in sorted(kept)], "doc_id long"
    )


@register(
    "streaming_dq_monitor",
    """
    SELECT 'not_null:user_id' AS rule,
           CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS violations,
           CAST(0 AS BIGINT) AS batch_id
    FROM events
    UNION ALL
    SELECT 'range:value:[0.0,90.0]',
           CAST(sum(CASE WHEN value IS NULL OR value < 0.0 OR value > 90.0
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(0 AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'unique:event_id',
           CAST(coalesce((SELECT sum(c) FROM (
               SELECT count(*) AS c FROM events GROUP BY event_id
               HAVING count(*) > 1)), 0) AS BIGINT),
           CAST(0 AS BIGINT)
    """,
)
def q_streaming_dq_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality monitor (streaming/dq_monitor.py): the
    same declarative rules as validate_constraints run per micro-batch
    via foreachBatch, appending a (rule, violations, batch_id) time
    series a dashboard alerts on. Drained single-batch here so the
    whole-feed oracle replays each rule; the range rule is
    deliberately violated by the testdata (~3% of values exceed 90) so
    the green row is non-vacuous. Per-batch cost: one conditional-
    aggregate scan + one narrow groupBy per unique rule."""
    import shutil
    import tempfile

    from taxi_trips_etl_spark.streaming.dq_monitor import (
        run_streaming_dq_monitor,
    )

    _events(spark, sf_dir)  # sets nanosAsLong for the schema read below
    with tempfile.TemporaryDirectory(
        prefix="dq_monitor_q_", ignore_cleanup_errors=True
    ) as work:
        src = f"{work}/source"
        import os as _os

        _os.makedirs(src)
        shutil.copy(f"{sf_dir}/events.parquet", src)
        run_streaming_dq_monitor(
            spark,
            src,
            spark.read.parquet(f"{sf_dir}/events.parquet").schema,
            log_path=f"{work}/log",
            checkpoint_path=f"{work}/ckpt",
            not_null=["user_id"],
            unique=[["event_id"]],
            ranges={"value": (0.0, 90.0)},
        )
        rows = [
            (r["rule"], int(r["violations"]), int(r["batch_id"]))
            for r in spark.read.parquet(f"{work}/log").collect()
        ]
    from taxi_trips_etl_spark.sources.localrel import local_rows

    return local_rows(
        spark, sorted(rows), "rule string, violations long, batch_id long"
    )
