"""Round-5d batch: KMV set-overlap sketches.

Registered AFTER _round5c (registration order is the rotation
tie-breaker — see queries/__init__.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with sibling batches)

from taxi_trips_etl_spark.queries._registry import (
    _events,
    _t,
    register,
)

__all__ = [
    "q_kmv_user_overlap",
    "q_global_ids_orders",
    "q_k_anonymity_audit",
    "q_dp_noisy_counts",
    "q_interpolate_user_daily",
    "q_duplicated_substring_spans",
    "q_hard_negative_mining",
    "q_temperature_mixture_weights",
    "q_histogram_quantile_estimate",
    "q_pca_power_projection",
]


def _kmv_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.kmv import kmv_oracle_sql

    return kmv_oracle_sql(
        "SELECT event_type, user_id FROM events",
        set_col="event_type",
        value_col="user_id",
        k=256,
    )


@register("kmv_user_overlap", _kmv_oracle())
def q_kmv_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user overlap between every pair of event types via KMV
    (k-minimum-values) sketches — the mergeable-intersection complement
    to ``hll_distinct_rollup`` (HLL unions well but intersects badly).
    One uniform-key distinct + two bounded top-k windows build all
    sketches; the pairwise stage touches only n_sets·k sketch rows, so
    the estimate cost is data-volume-independent past the single scan.
    See dataprep/kmv.py for the estimator and the exactness argument
    DuckDB replays."""
    from taxi_trips_etl_spark.dataprep.kmv import kmv_pairwise_overlap

    ev = _events(spark, sf_dir)
    return kmv_pairwise_overlap(
        ev, set_col="event_type", value_col="user_id", k=256
    )


@register(
    "global_ids_orders",
    """
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_orderdate, o_orderkey)
                AS BIGINT) AS global_id
    FROM orders
    """,
)
def q_global_ids_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 1-based ids by (o_orderdate, o_orderkey) via the two-pass
    range-partition rank (operators/ids.py) — the oracle IS the
    single-reducer row_number the operator refuses to run; hash equality
    proves the scalable plan computes the identical function."""
    from taxi_trips_etl_spark.operators.ids import assign_global_ids

    orders = _t(spark, sf_dir, "orders")
    return assign_global_ids(
        orders, ["o_orderdate", "o_orderkey"]
    ).select("o_orderkey", "global_id")


@register(
    "k_anonymity_audit",
    """
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey, c_mktsegment,
           class_size, 8 - class_size AS deficit
    FROM (SELECT c_nationkey, c_mktsegment,
                 CAST(count(*) AS BIGINT) AS class_size
          FROM customer GROUP BY 1, 2)
    WHERE class_size < 8
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quasi-identifier equivalence classes below k=8 on
    (nation, market segment) — the table-level re-identification audit
    (dataprep/privacy.py) complementing the row-level PII scrub."""
    from taxi_trips_etl_spark.dataprep.privacy import k_anonymity_audit

    cust = _t(spark, sf_dir, "customer").withColumn(
        "c_nationkey", F.col("c_nationkey").cast("long")
    )
    return k_anonymity_audit(cust, ["c_nationkey", "c_mktsegment"], k=8)


@register(
    "dp_noisy_counts",
    """
    WITH g AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS c
               FROM events GROUP BY 1),
    u AS (SELECT event_type, c,
                 -- CAST to DOUBLE *before* the +0.5: DuckDB's 0.5 literal
                 -- is DECIMAL, and BIGINT+DECIMAL adds exactly where
                 -- Spark's double add rounds — a one-ulp divergence the
                 -- hash compare catches (it did).
                 (CAST(CAST(concat('0x', substr(md5('dp' || event_type),
                                                1, 15)) AS BIGINT)
                       AS DOUBLE) + 0.5)
                     / 1152921504606846976.0 - 0.5 AS ctr
          FROM g)
    SELECT event_type,
           round(c + (-1.0) * sign(ctr) * ln(1.0 - 2.0 * abs(ctr)), 4)
               AS noisy_count
    FROM u
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace(1/ε)-noised per-type event counts, ε=1, noise drawn by
    salted-hash inverse CDF so the full mechanism is oracle-replayable —
    see dataprep/privacy.py:dp_noisy_counts for the honest caveat on
    seeded vs secret randomness."""
    from taxi_trips_etl_spark.dataprep.privacy import dp_noisy_counts

    ev = _events(spark, sf_dir)
    return dp_noisy_counts(ev, ["event_type"], epsilon=1.0, salt="dp")


@register(
    "interpolate_user_daily",
    """
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE)
                   / count(*) AS v
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (
        SELECT u.user_id,
               unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN bounds
    ),
    j AS (
        SELECT s.user_id, s.day,
               CAST(s.day - DATE '1970-01-01' AS BIGINT) AS t, d.v
        FROM spine s LEFT JOIN daily d
          ON d.user_id = s.user_id AND d.day = s.day
    ),
    anch AS (
        SELECT user_id, day, t, v,
               last_value(v IGNORE NULLS) OVER wp AS pv,
               last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                   OVER wp AS pt,
               first_value(v IGNORE NULLS) OVER wn AS nv,
               first_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
                   OVER wn AS nt
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               wn AS (PARTITION BY user_id ORDER BY t
                      ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           round(CASE WHEN v IS NOT NULL THEN v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                      THEN pv + (CAST(t - pt AS DOUBLE)
                                 / CAST(nt - pt AS DOUBLE)) * (nv - pv)
                      WHEN pv IS NOT NULL THEN pv
                      ELSE nv END, 4) AS v_filled,
           CAST(v IS NULL AS BIGINT) AS was_gap
    FROM anch
    """,
)
def q_interpolate_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily mean event value (exact integer cents / count)
    densified onto a (user x day) spine and LINEARLY interpolated
    across gap days (operators/resample.py) — the trajectory
    counterpart to forward_fill_gaps' last-known-state fill. Edge gaps
    extrapolate flat from the nearest anchor."""
    from taxi_trips_etl_spark.operators.resample import (
        daily_spine,
        interpolate_gaps,
    )

    from taxi_trips_etl_spark.dataprep.materialize import materialize

    ev = _events(spark, sf_dir)
    # daily feeds THREE consumers (the spine's bounds aggregate, the
    # spine's key distinct, and the left join) with no ReusedExchange —
    # the events scan + groupBy re-ran per consumer (r13: events scans
    # 3 → 1). The frame is (user, active-day) grain — tiny next to the
    # fact.
    daily = materialize(
        ev.groupBy("user_id", F.to_date("ts").alias("day")).agg(
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / F.count(F.lit(1))
            ).alias("v")
        ),
        eager=False,
    )
    spine = daily_spine(daily, ["user_id"], "day")
    j = spine.join(daily, ["user_id", "day"], "left").withColumn(
        "t", F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")).cast("long")
    )
    out = interpolate_gaps(j, ["user_id"], "t", "v")
    return out.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "v_filled",
        "was_gap",
    )


@register(
    "duplicated_substring_spans",
    """
    WITH toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ts
        FROM documents
    ),
    posts AS (
        SELECT doc_id, i AS pos,
               md5(array_to_string(ts[i : i + 7], ' ')) AS h
        FROM toks, LATERAL unnest(generate_series(1, len(ts) - 7)) AS t(i)
        WHERE len(ts) >= 8
    ),
    capped AS (
        SELECT doc_id, pos, h FROM
            (SELECT *, count(*) OVER (PARTITION BY h) AS n FROM posts)
        WHERE n <= 20
    ),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.pos AS pos_a, b.pos AS pos_b, a.pos - b.pos AS diag
        FROM capped a JOIN capped b
          ON a.h = b.h AND a.doc_id < b.doc_id
    ),
    runs AS (
        SELECT *, CASE WHEN pos_a - lag(pos_a) OVER w = 1 THEN 0 ELSE 1
                  END AS brk
        FROM pairs
        WINDOW w AS (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a)
    ),
    isl AS (
        SELECT *, sum(brk) OVER (PARTITION BY doc_a, doc_b, diag
                                 ORDER BY pos_a ROWS BETWEEN UNBOUNDED
                                 PRECEDING AND CURRENT ROW) AS island
        FROM runs
    ),
    spans AS (
        SELECT doc_a, doc_b, diag, island,
               min(pos_a) AS a_start, max(pos_a) AS a_end,
               min(pos_b) AS b_start
        FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, CAST(a_start AS BIGINT) AS a_start,
           CAST(b_start AS BIGINT) AS b_start,
           CAST(a_end - a_start + 8 AS BIGINT) AS span_tokens
    FROM spans WHERE a_end - a_start + 8 >= 12
    """,
)
def q_duplicated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-doc duplicated token spans (>= 12 tokens under an
    8-token sliding window) with start offsets in BOTH docs — the
    attribution-level output of Lee et al.'s suffix-array dedup pass,
    recomposed as postings-join + diagonal gaps-and-islands
    (dataprep/substring.py). Hot windows are capped at 20 postings
    deterministically, so Spark and the oracle drop the same
    boilerplate."""
    from taxi_trips_etl_spark.dataprep.substring import duplicated_spans

    docs = _t(spark, sf_dir, "documents")
    return duplicated_spans(docs, w=8, min_len=12, max_postings=20)


def _hard_negative_oracle() -> str:
    from taxi_trips_etl_spark.queries._dedup_sim_text import _COS_SQL

    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
               FROM embeddings),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cos
        FROM e a JOIN e b ON a.label != b.label
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS r
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
           CAST(r AS BIGINT) AS hn_rank
    FROM ranked WHERE r <= 2
    """


@register("hard_negative_mining", _hard_negative_oracle())
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 cross-label nearest neighbors per embedding — the
    contrastive hard negatives (dataprep/similarity.py:
    hard_negative_topk). Exact at registry scale; the 100 TB path
    fronts it with the IVF coarse quantizer per the docstring."""
    from taxi_trips_etl_spark.dataprep.similarity import hard_negative_topk

    return hard_negative_topk(_t(spark, sf_dir, "embeddings"), k=2)


@register(
    "temperature_mixture_weights",
    """
    WITH per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split_regex(trim(text), '\\s+')))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY 1
    ),
    pw AS (
        SELECT *, CAST(round(pow(CAST(n_tokens AS DOUBLE), 0.7) * 1e6)
                       AS BIGINT) AS p
        FROM per
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS DOUBLE) AS tot_tokens,
                   CAST(sum(p) AS DOUBLE) AS tot_p
            FROM pw)
    SELECT source, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / tot_tokens, 6) AS raw_share,
           round(CAST(p AS DOUBLE) / tot_p, 6) AS weight,
           round(CAST(p AS DOUBLE) / tot_p * 10000, 4) AS expected_docs
    FROM pw CROSS JOIN tot
    """,
)
def q_temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentiated (temperature alpha=0.7) source-mixing weights over
    token shares — the multilingual-LM up-sampling rule for
    low-resource sources (dataprep/sampling.py:
    temperature_mixture_weights). pow() partials quantize to integer
    micro-units before the cross-source sum so the result is
    addition-order-independent."""
    from taxi_trips_etl_spark.dataprep.sampling import (
        temperature_mixture_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_mixture_weights(
        docs, alpha=0.7, budget_docs=10000
    )


@register(
    "histogram_quantile_estimate",
    """
    WITH b AS (
        SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
               CAST(max(l_extendedprice) AS DOUBLE) AS hi,
               CAST(count(l_extendedprice) AS DOUBLE) AS n
        FROM lineitem
    ),
    binned AS (
        SELECT least(127, CAST(floor((CAST(l_extendedprice AS DOUBLE) - lo)
                                     / (hi - lo) * 128) AS BIGINT)) AS bin
        FROM lineitem CROSS JOIN b
    ),
    hist AS (
        SELECT bin, CAST(count(*) AS DOUBLE) AS c FROM binned GROUP BY 1
    ),
    cum AS (
        SELECT bin, c,
               sum(c) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
        FROM hist
    ),
    t AS (
        SELECT q.quantile, bin, c, cum, cum - c AS cum_prev, lo, hi, n
        FROM cum
        CROSS JOIN (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9, 0.99])
                             AS DOUBLE) AS quantile) q
        CROSS JOIN b
        WHERE cum >= q.quantile * n
    ),
    first_hit AS (
        SELECT * FROM
            (SELECT *, row_number() OVER (PARTITION BY quantile
                                          ORDER BY bin) AS rk
             FROM t)
        WHERE rk = 1
    )
    SELECT quantile,
           round(lo + (CAST(bin AS DOUBLE)
                       + (quantile * n - cum_prev) / c)
                      * ((hi - lo) / 128.0), 4) AS estimate
    FROM first_hit
    """,
)
def q_histogram_quantile_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-data quantile estimates from a 128-bin equi-width
    histogram (dataprep/profile.py:histogram_quantiles) — the MERGEABLE
    quantile path: bin counts are persistable partials that sum across
    partitions/days, so any quantile is answered without re-shuffling
    raw values the way percentiles_exact must."""
    from taxi_trips_etl_spark.dataprep.profile import histogram_quantiles

    li = _t(spark, sf_dir, "lineitem")
    return histogram_quantiles(li, "l_extendedprice")


def _pca_power_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.pca_power import (
        power_iteration_oracle_sql,
    )

    return power_iteration_oracle_sql(dim=64, iterations=12)


@register("pca_power_projection", _pca_power_oracle())
def q_pca_power_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-principal-component projection via INTEGER-exact power
    iteration (dataprep/pca_power.py) — the one-component form of
    embedding_pca_project, without deflation: quantized int64 moments (order-free sums), integer iteration
    state, engine-matched half-away rounding. DuckDB replays the whole
    trajectory through a recursive CTE and hash-matches bit-exactly."""
    from taxi_trips_etl_spark.dataprep.pca_power import power_iteration_pc1

    return power_iteration_pc1(
        _t(spark, sf_dir, "embeddings"), iterations=12
    )
