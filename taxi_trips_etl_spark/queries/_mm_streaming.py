# Auto-split from the original monolithic queries.py (round 5, registry
# hygiene): registration ORDER is load-bearing (the driver-rotation sort
# key includes registration index), so queries/__init__.py imports the
# batch modules in the exact order the monolith registered them.
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from taxi_trips_etl_spark.dataprep.materialize import materialize  # noqa: F401
from taxi_trips_etl_spark.dataprep import dedup, multimodal, similarity, text  # noqa: F401
from taxi_trips_etl_spark.functions.scalar import daypart, timestamp_diff_minutes  # noqa: F401
from taxi_trips_etl_spark.operators.normalize import normalize_trips  # noqa: F401
from taxi_trips_etl_spark.operators.popularity import ranked_counts  # noqa: F401
from taxi_trips_etl_spark.plans.models import taxi_models  # noqa: F401
from taxi_trips_etl_spark.sources.taxi_testdata import (  # noqa: F401
    N_ZONES,
    _zone_wkt,
    trips_from_lineitem,
)
from taxi_trips_etl_spark.queries._dedup_sim_text import (  # noqa: F401
    _COS_SQL,
    _simhash_fp_sql,
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

# ===========================================================================
# Multimodal plumbing (north-star) — mapInPandas vs pure-SQL oracle
# ===========================================================================


@register(
    "multimodal_meta",
    """
    SELECT doc_id AS media_id, 'text/plain' AS media_type,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CASE WHEN text LIKE 'RIFF%' THEN 'riff'
                WHEN text LIKE 'GIF8%' THEN 'gif'
                ELSE 'unknown' END AS magic
    FROM documents
    """,
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.attach_payload(_t(spark, sf_dir, "documents"))
    return multimodal.extract_meta(media)


_FEATURE_COLS_SQL = ",\n           ".join(
    f"CAST(COALESCE(sum(n) FILTER (WHERE bucket = {i}), 0) AS BIGINT) AS c{i}"
    for i in range(16)
)


@register(
    "multimodal_features",
    f"""
    WITH ch AS (SELECT doc_id AS media_id, unnest(string_split(text, '')) AS c
                FROM documents WHERE length(text) > 0),
    p AS (SELECT media_id, ord(c) // 16 AS bucket, count(*) AS n
          FROM ch GROUP BY 1, 2)
    SELECT media_id,
           {_FEATURE_COLS_SQL}
    FROM p GROUP BY media_id
    """,
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column
    (byte-value histogram, 16 exact integer buckets) — the numpy
    mapInPandas kernel vs a character-codepoint oracle (payloads here
    are utf-8 of ASCII text, so bytes ≡ codepoints; a real image corpus
    would be rows-only)."""
    docs = _t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    return multimodal.extract_features(multimodal.attach_payload(docs))


# ===========================================================================
# Streaming (north-star / README.md:96-98 "instant results" variant)
# ===========================================================================


@register(
    "streaming_daypart_rollup",
    f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           {DAYPART_SQL.format(t="strftime(ts, '%H:%M:%S')")} AS daypart,
           event_type,
           count(*) AS event_count,
           round(sum(value), 2) AS total_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming job (AvailableNow) whose complete-mode output
    must equal the batch aggregation — the oracle IS that batch query."""
    from taxi_trips_etl_spark.streaming.rollup import run_streaming_daypart_rollup

    return run_streaming_daypart_rollup(
        spark, f"{sf_dir}/events.parquet", sink_table="daypart_rollup_oracle_run"
    )


# Banded sign-LSH (6 bands × 10 planes over disjoint dim ranges; see
# similarity.embedding_near_dup_pairs for why a single short prefix is
# an occupancy/recall knife-edge): candidates agree on ALL 10 signs of
# ANY band; DISTINCT collapses multi-band collisions.
_EMB_PAIRS_SQL = """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, embedding
        FROM embeddings
    ),
    bk AS (
        SELECT vec_id, emb, j AS band_id,
               array_to_string(list_transform(
                   embedding[(j*10+1):(j*10+10)],
                   x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '')
                   AS band_key
        FROM e, unnest([0, 1, 2, 3, 4, 5]) AS t(j)
    )
    SELECT DISTINCT vec_id_a, vec_id_b, cosine FROM (
        SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
               round(
                   list_sum(list_transform(generate_series(1, len(a.emb)),
                                           i -> a.emb[i] * b.emb[i]))
                   / (sqrt(list_sum(list_transform(generate_series(1, len(a.emb)),
                                                   i -> a.emb[i] * a.emb[i])))
                      * sqrt(list_sum(list_transform(generate_series(1, len(b.emb)),
                                                     i -> b.emb[i] * b.emb[i])))),
                   6) AS cosine
        FROM bk a JOIN bk b ON a.band_id = b.band_id
                           AND a.band_key = b.band_key
                           AND a.vec_id < b.vec_id
    ) WHERE cosine >= 0.3
"""


@register(
    "embedding_near_dup",
    _EMB_PAIRS_SQL,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: sign-LSH bucket candidates + exact
    cosine verify (threshold tuned to the synthetic corpus)."""
    return similarity.embedding_near_dup_pairs(_t(spark, sf_dir, "embeddings"))


@register(
    "similarity_lsh_multiprobe",
    f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               array_to_string(list_transform(embedding[1:8],
                   x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS bucket
        FROM embeddings
    ),
    probes AS (
        SELECT vec_id AS query_id, emb AS q_vec,
               unnest([bucket] || list_transform(generate_series(1, 8),
                   i -> substr(bucket, 1, i - 1)
                        || (CASE WHEN substr(bucket, i, 1) = '1'
                                 THEN '0' ELSE '1' END)
                        || substr(bucket, i + 1, 8 - i))) AS probe
        FROM e WHERE vec_id < 10
    ),
    scored AS (
        SELECT p.query_id, b.vec_id AS neighbor_id,
               list_sum(list_transform(generate_series(1, len(p.q_vec)),
                                       i -> p.q_vec[i] * b.emb[i]))
               / (sqrt(list_sum(list_transform(generate_series(1, len(p.q_vec)),
                                               i -> p.q_vec[i] * p.q_vec[i])))
                  * sqrt(list_sum(list_transform(generate_series(1, len(b.emb)),
                                                 i -> b.emb[i] * b.emb[i])))) AS cos
        FROM probes p JOIN e b
          ON p.probe = b.bucket AND p.query_id != b.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS knn_rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
           CAST(knn_rank AS BIGINT) AS knn_rank
    FROM ranked WHERE knn_rank <= 3
    """,
)
def q_similarity_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH: probe own bucket + all hamming-1 buckets."""
    return similarity.cosine_topk_lsh_multiprobe(_t(spark, sf_dir, "embeddings"))


_IVF_COS = _COS_SQL.replace("a.emb", "{a}").replace("b.emb", "{b}")


@register(
    "similarity_ivf_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cents AS (SELECT vec_id AS cent_id, emb AS cent_vec FROM e WHERE vec_id < 8),
    scored_cells AS (
        SELECT a.vec_id, a.emb, cents.cent_id,
               {_IVF_COS.format(a="a.emb", b="cents.cent_vec")} AS ccos
        FROM e a CROSS JOIN cents
    ),
    ranked_cells AS (
        SELECT vec_id, emb, cent_id,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY ccos DESC, cent_id) AS cell_rank
        FROM scored_cells
    ),
    assignment AS (
        SELECT vec_id AS neighbor_id, emb AS c_vec, cent_id
        FROM ranked_cells WHERE cell_rank = 1
    ),
    probes AS (
        SELECT vec_id AS query_id, emb AS q_vec, cent_id
        FROM ranked_cells WHERE vec_id < 10 AND cell_rank <= 2
    ),
    scored AS (
        SELECT p.query_id, a.neighbor_id,
               {_IVF_COS.format(a="p.q_vec", b="a.c_vec")} AS cos
        FROM probes p JOIN assignment a USING (cent_id)
        WHERE p.query_id != a.neighbor_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS knn_rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
           CAST(knn_rank AS BIGINT) AS knn_rank
    FROM ranked WHERE knn_rank <= 3
    """,
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: sampled-centroid coarse quantizer + nprobe=2 search."""
    return similarity.ivf_topk(_t(spark, sf_dir, "embeddings"))


@register(
    "sql_ordinal_sort",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem GROUP BY 1, 2 ORDER BY 3 DESC, 1, 2
    """,
)
def q_sql_ordinal_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: ordinal GROUP BY / ORDER BY through the spark.sql surface
    (spark.sql.orderByOrdinal/groupByOrdinal, default on — the
    reference's `ORDER BY 2 desc` idiom, taxi_trips_etl.py:169)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, count(*) AS n "
        "FROM v_lineitem GROUP BY 1, 2 ORDER BY 3 DESC, 1, 2"
    )


@register(
    "sessionize_events",
    """
    WITH o AS (
        SELECT user_id, event_id,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec, ts
        FROM events
    ),
    gaps AS (
        SELECT user_id, event_id, sec, ts,
               CASE WHEN sec - lag(sec) OVER w > 1800
                         OR lag(sec) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM o WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)
    ),
    sessions AS (
        SELECT user_id, event_id, ts,
               sum(new_session) OVER (PARTITION BY user_id
                                      ORDER BY sec, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW) AS session_idx
        FROM gaps
    )
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           count(*) AS n_events,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
    FROM sessions GROUP BY 1, 2
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via LAG + cumulative SUM windows (30-min gap).

    Covers the window families the reference lacks (lag, running sum
    with an explicit ROWS frame) and is the batch twin of the stateful
    streaming sessionizer. Epoch seconds are truncated identically on
    both engines (cast ≡ floor for positive epochs).
    """
    ev = _events(spark, sf_dir).select(
        "user_id", "event_id", "ts", F.col("ts").cast("long").alias("sec")
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(
            (F.col("sec") - F.lag("sec").over(w) > 1800)
            | F.lag("sec").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    cum = Window.partitionBy("user_id").orderBy("sec", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sessions = gaps.withColumn("session_idx", F.sum("new_session").over(cum))
    return sessions.groupBy(
        "user_id", F.col("session_idx").cast("long").alias("session_idx")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _ts_str(F.min("ts"), "session_start"),
        _ts_str(F.max("ts"), "session_end"),
    )


_PROFILE_COLS = ("passenger_count", "trip_distance", "pickup_location_id", "fare_amount")
_PROFILE_ORACLE = " UNION ALL ".join(
    f"""SELECT '{c}' AS column_name, count(*) AS n_rows,
        CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
        count(DISTINCT {c}) AS n_distinct
        FROM ({TRIPS_SQL})"""
    for c in _PROFILE_COLS
)


@register("profile_columns", _PROFILE_ORACLE)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile: per-column nulls + exact distincts in one
    aggregate pass over the (un-normalized) trips table."""
    from taxi_trips_etl_spark.dataprep.profile import profile_table

    trips = trips_from_lineitem(_t(spark, sf_dir, "lineitem"))
    return profile_table(trips, list(_PROFILE_COLS))


@register(
    "asof_join_purchases",
    """
    WITH purchases AS (
        SELECT user_id, ts, max(value) AS purchase_value
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT e.user_id, e.event_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
           p.purchase_value
    FROM events e ASOF LEFT JOIN purchases p
      ON e.user_id = p.user_id AND e.ts >= p.ts
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every event annotated with the user's most recent
    prior-or-equal purchase (union+window composition vs DuckDB's
    native ASOF LEFT JOIN)."""
    from taxi_trips_etl_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    left = ev.select("user_id", "event_id", "ts")
    out = asof_join(left, purchases, on=["user_id"])
    return out.select(
        "user_id",
        "event_id",
        _ts_str(F.col("ts"), "event_ts"),
        _ts_str(F.col("__asof_ts"), "purchase_ts"),
        "purchase_value",
    )


@register(
    "range_join_windows",
    """
    WITH windows AS (
        SELECT user_id AS w_user, ts AS w_start, ts + INTERVAL 2 HOUR AS w_end
        FROM events WHERE event_type = 'purchase' AND user_id < 10
    )
    SELECT e.event_id, w.w_user,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(w.w_start, '%Y-%m-%d %H:%M:%S') AS window_start
    FROM events e JOIN windows w
      ON e.ts >= w.w_start AND e.ts <= w.w_end
    WHERE e.event_type = 'click'
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join with NO equi key: clicks falling inside any purchase
    window — bucketed equi-join composition vs DuckDB's IEJoin."""
    from taxi_trips_etl_spark.operators.asof import range_join_points

    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select("event_id", "ts")
    windows = (
        ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 10))
        .select(
            F.col("user_id").alias("w_user"),
            F.col("ts").alias("w_start"),
            F.timestamp_add("HOUR", F.lit(2), F.col("ts")).alias("w_end"),
        )
    )
    out = range_join_points(clicks, windows, "ts", "w_start", "w_end")
    return out.select(
        "event_id",
        "w_user",
        _ts_str(F.col("ts"), "click_ts"),
        _ts_str(F.col("w_start"), "window_start"),
    )


@register(
    "json_extract_props",
    """
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_sum,
           CAST(max(CAST(props ->> 'k' AS BIGINT)) AS BIGINT) AS k_max,
           CAST(count(CASE WHEN CAST(props ->> 'k' AS BIGINT) > 50
                           THEN 1 END) AS BIGINT) AS k_over_50
    FROM events GROUP BY 1
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column path: JSON payload → typed field →
    aggregate (get_json_object stays JVM-side; from_json with an
    explicit schema is the stricter variant for fixed shapes)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("k_sum"),
        F.max(k).alias("k_max"),
        F.count(F.when(k > 50, 1)).alias("k_over_50"),
    )


@register(
    "string_functions",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_upper,
           substr(p_name, 1, 8) AS name_prefix,
           replace(p_type, ' ', '_') AS type_snake,
           CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1 AS BIGINT)
               AS name_words,
           concat(p_brand, '#', CAST(p_size AS VARCHAR)) AS brand_size,
           regexp_extract(p_type, '([A-Z]+)$', 1) AS type_last_word
    FROM part
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function battery (upper/substr/replace/concat/regexp),
    all whole-stage-codegen built-ins."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        (
            F.length("p_name")
            - F.length(F.replace(F.col("p_name"), F.lit(" "), F.lit("")))
            + 1
        ).cast("long").alias("name_words"),
        F.concat(F.col("p_brand"), F.lit("#"), F.col("p_size").cast("string")).alias(
            "brand_size"
        ),
        F.regexp_extract("p_type", r"([A-Z]+)$", 1).alias("type_last_word"),
    )


@register(
    "pivot_event_types",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
    FROM events GROUP BY 1
    """,
)
def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: long→wide per-day event-type counts. Explicit value list
    keeps it one pass (no distinct-values pre-query) — the scalable form."""
    ev = _events(spark, sf_dir)
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy(F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"))
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves NULL for empty cells; the oracle's count(CASE) gives 0
    return out.select(
        "day", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )


@register(
    "explode_top_tokens",
    f"""
    SELECT tok, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents)
    GROUP BY 1 ORDER BY n DESC, tok LIMIT 50
    """,
)
def q_explode_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode (lateral view) + aggregate: corpus token frequencies."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.explode(dedup.tokens_col("text")).alias("tok"))
        .groupBy("tok")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n").desc(), "tok")
        .limit(50)
    )


@register(
    "collect_set_agg",
    """
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',')
               AS event_types,
           count(*) AS n_events
    FROM events GROUP BY 1
    """,
)
def q_collect_set_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_set → sorted → joined: order-insensitive array aggregate
    rendered portably (raw collect_set order is engine/partition-defined,
    so normalize before comparing anything)."""
    return (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("event_type"))).alias(
                "event_types"
            ),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "semi_anti_join",
    """
    SELECT 'has_orders' AS segment, count(*) AS n,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS balance_cents
    FROM customer WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT 'no_orders' AS segment, count(*) AS n,
           CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS balance_cents
    FROM customer WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI / LEFT ANTI joins (EXISTS / NOT EXISTS): existence
    filtering without fanout — the dedup-free way to segment a fact
    table by presence in another."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")

    def seg(df: DataFrame, label: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n"), F.sum(cents).alias("balance_cents")
        ).select(F.lit(label).alias("segment"), "n", "balance_cents")

    semi = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
    anti = c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    return seg(semi, "has_orders").unionByName(seg(anti, "no_orders"))


@register(
    "null_safe_join",
    """
    WITH t AS (SELECT l_orderkey, l_linenumber,
                      nullif(l_discount, 0.0) AS d FROM lineitem)
    SELECT count(*) AS n_pairs
    FROM t a JOIN t b
      ON a.d IS NOT DISTINCT FROM b.d
     AND a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
    """,
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> ≡ IS NOT DISTINCT FROM): NULL keys
    match each other instead of vanishing — self-join here must return
    every row (incl. the NULL-discount ones a plain ``=`` would drop)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.nullif("l_discount", F.lit(0.0)).alias("d")
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            F.col("a.d").eqNullSafe(F.col("b.d"))
            & (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") == F.col("b.l_linenumber")),
        )
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@register(
    "filter_clause_agg",
    """
    SELECT l_returnflag,
           count(*) AS n,
           count(*) FILTER (WHERE l_quantity > 25) AS n_big,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                FILTER (WHERE l_discount > 0.05) AS BIGINT) AS discounted_cents
    FROM lineitem GROUP BY 1
    """,
)
def q_filter_clause_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-clause conditional aggregation through the SQL surface."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_li_filter")
    return spark.sql(
        """
        SELECT l_returnflag,
               count(*) AS n,
               count(*) FILTER (WHERE l_quantity > 25) AS n_big,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                    FILTER (WHERE l_discount > 0.05) AS BIGINT) AS discounted_cents
        FROM v_li_filter GROUP BY 1
        """
    )


@register(
    "anomaly_zscore_days",
    """
    WITH daily AS (
        SELECT strftime(ts, '%Y-%m-%d') AS d,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    st AS (
        SELECT d, n,
               avg(n) OVER w AS mu,
               stddev_samp(n) OVER w AS sigma,
               count(*) OVER w AS n_base
        FROM daily
        WINDOW w AS (ORDER BY d ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT d, n, round(mu, 4) AS trailing_mean,
           round((n - mu) / sigma, 4) AS zscore,
           CAST((n - mu) / sigma > 3.0 OR (n - mu) / sigma < -3.0
                AS BIGINT) AS is_anomaly
    FROM st
    WHERE n_base >= 7 AND sigma > 0
    """,
)
def q_anomaly_zscore_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-anomaly detection: each day's event count z-scored against
    its OWN trailing 7-day window (current row excluded — yesterday's
    spike must not mask today's). Post-aggregation window: the frame
    runs over ~365 rows/year regardless of event volume, so the global
    sort is safe at any scale; at multi-entity grain add PARTITION BY."""
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("d")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("d").rowsBetween(-7, -1)
    st = daily.select(
        "d",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_samp("n").over(w).alias("sigma"),
        F.count(F.lit(1)).over(w).alias("n_base"),
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return st.filter((F.col("n_base") >= 7) & (F.col("sigma") > 0)).select(
        "d",
        "n",
        F.round("mu", 4).alias("trailing_mean"),
        F.round(z, 4).alias("zscore"),
        ((z > 3.0) | (z < -3.0)).cast("long").alias("is_anomaly"),
    )


@register(
    "window_moving_sum",
    """
    WITH daily AS (
        SELECT l_suppkey, strftime(l_shipdate, '%Y-%m-%d') AS d,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
        FROM lineitem GROUP BY 1, 2
    )
    SELECT l_suppkey, d, cents,
           CAST(sum(cents) OVER (PARTITION BY l_suppkey ORDER BY d
                                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS trailing7_cents
    FROM daily
    """,
)
def q_window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving aggregate with an explicit ROWS frame (trailing-7 revenue
    per supplier) — the running-metric window family."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    daily = li.groupBy(
        "l_suppkey", F.date_format("l_shipdate", "yyyy-MM-dd").alias("d")
    ).agg(F.sum(cents).alias("cents"))
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("d")
        .rowsBetween(-6, Window.currentRow)
    )
    return daily.withColumn("trailing7_cents", F.sum("cents").over(w))


@register(
    "window_distribution",
    """
    WITH s AS (SELECT l_suppkey, count(*) AS supp_count FROM lineitem GROUP BY 1)
    SELECT l_suppkey, supp_count,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM s WINDOW w AS (ORDER BY supp_count DESC, l_suppkey)
    """,
)
def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows: ntile / percent_rank / cume_dist over a
    deterministic total order (exact k/n rationals — portable doubles)."""
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("supp_count"))
    )
    w = Window.orderBy(F.col("supp_count").desc(), "l_suppkey")
    return s.select(
        "l_suppkey",
        "supp_count",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "window_distribution_approx",
    """
    WITH s AS (SELECT l_suppkey, count(*) AS supp_count FROM lineitem GROUP BY 1),
    b AS (SELECT percentile_disc(0.25) WITHIN GROUP (ORDER BY supp_count) AS b25,
                 percentile_disc(0.50) WITHIN GROUP (ORDER BY supp_count) AS b50,
                 percentile_disc(0.75) WITHIN GROUP (ORDER BY supp_count) AS b75
          FROM s)
    SELECT l_suppkey, supp_count,
           CAST(1 + CASE WHEN supp_count > b25 THEN 1 ELSE 0 END
                  + CASE WHEN supp_count > b50 THEN 1 ELSE 0 END
                  + CASE WHEN supp_count > b75 THEN 1 ELSE 0 END AS BIGINT)
               AS value_quartile
    FROM s, b
    """,
)
def q_window_distribution_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass distribution bucketing — the scale swap-in for
    ``window_distribution``'s global ntile.

    The global window needs EVERY supplier in one sorted partition; at
    extreme supplier cardinality that single reducer is the bottleneck.
    This variant computes the three quartile boundaries as an aggregate
    (``percentile_disc`` — exact, and discrete so the integer
    boundaries are engine-portable), ships them back as three literals,
    and assigns value-based quartiles in a narrow whole-stage-codegen
    projection — no global sort, no single-partition exchange. Ties
    share a bucket (value semantics) instead of being row-split the way
    ntile does, which is what you want for distribution analysis. At
    cardinalities where even the exact percentile agg is too heavy,
    swap ``percentile_disc`` for ``percentile_approx`` — same plan
    shape, sketch-mergeable partials.
    """
    s = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("supp_count"))
    )
    # quartile breakpoints ride as a 1-row broadcast, not a driver
    # collect — no extra job, and the plan stays fully declarative
    b = s.selectExpr(
        "percentile_disc(0.25) WITHIN GROUP (ORDER BY supp_count) AS b25",
        "percentile_disc(0.50) WITHIN GROUP (ORDER BY supp_count) AS b50",
        "percentile_disc(0.75) WITHIN GROUP (ORDER BY supp_count) AS b75",
    )
    quartile = (
        F.lit(1)
        + F.when(F.col("supp_count") > F.col("b25"), 1).otherwise(0)
        + F.when(F.col("supp_count") > F.col("b50"), 1).otherwise(0)
        + F.when(F.col("supp_count") > F.col("b75"), 1).otherwise(0)
    )
    return s.crossJoin(F.broadcast(b)).select(
        "l_suppkey",
        "supp_count",
        quartile.cast("long").alias("value_quartile"),
    )


@register(
    "window_first_last",
    """
    SELECT l_orderkey, l_linenumber,
           first_value(l_quantity) OVER w AS first_qty,
           last_value(l_quantity) OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber, l_quantity
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_qty
    FROM lineitem
    WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber, l_quantity)
    """,
)
def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value with the unbounded-following frame gotcha
    (default frame ends at CURRENT ROW — last_value needs the explicit
    full frame)."""
    li = _t(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is NOT unique in this data — order by
    # quantity too, so first/last are well-defined on any engine.
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber", "l_quantity")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.first("l_quantity").over(w).alias("first_qty"),
        F.last("l_quantity").over(w_full).alias("last_qty"),
    )


@register(
    "rollup_agg",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS price_cents
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (flag → flag+status → grand total) with
    grouping_id disambiguating synthetic NULLs — one pass, Expand-based."""
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("price_cents"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "price_cents")
    )


@register(
    "cube_agg",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations in one Expand pass."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("long").alias("gid"), F.count(F.lit(1)).alias("n"))
        .select("o_orderstatus", "o_orderpriority", "gid", "n")
    )


@register(
    "percentiles_exact",
    """
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75,
           count(*) AS n
    FROM lineitem GROUP BY 1
    """,
)
def q_percentiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles per group (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``). The approx_percentile
    sketch is the swap-in at extreme cardinality."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr("percentile(l_quantity, 0.25)").alias("p25"),
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "set_ops",
    """
    SELECT 'with_orders' AS segment, count(*) AS n FROM (
        SELECT c_custkey FROM customer
        INTERSECT
        SELECT o_custkey FROM orders)
    UNION ALL
    SELECT 'without_orders' AS segment, count(*) AS n FROM (
        SELECT c_custkey FROM customer
        EXCEPT
        SELECT o_custkey FROM orders)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (§2.7 — absent in the reference, part of a
    complete relational surface)."""
    cust = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    ords = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    with_orders = cust.intersect(ords).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("with_orders").alias("segment"), "n"
    )
    without = cust.exceptAll(ords.distinct()).distinct().agg(
        F.count(F.lit(1)).alias("n")
    ).select(F.lit("without_orders").alias("segment"), "n")
    return with_orders.unionByName(without)


_SESSIONIZE_ORACLE = _ORACLES["sessionize_events"]


@register("streaming_sessionize_stateful", _SESSIONIZE_ORACLE)
def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState gap-sessionizer, run to completion over the
    static events dir. Its append-mode output (closed sessions + the
    timeout flush) must equal the batch LAG/SUM sessionization — so it
    shares that query's oracle: a custom stateful streaming operator
    that is still exactly hash-verified."""
    from taxi_trips_etl_spark.streaming.sessionize import run_streaming_sessionize

    out = run_streaming_sessionize(
        spark, f"{sf_dir}/events.parquet", sink_table="sessions_oracle_run"
    )
    return out.select(
        "user_id",
        "session_idx",
        "n_events",
        _ts_str(F.col("session_start"), "session_start"),
        _ts_str(F.col("session_end"), "session_end"),
    )


@register(
    "streaming_click_attribution",
    """
    SELECT c.user_id, c.event_id AS click_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           p.event_id AS purchase_id,
           strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND c.ts >= p.ts AND c.ts <= p.ts + INTERVAL 2 HOUR
    """,
)
def q_streaming_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream inner join (clicks × purchases within
    2h, per user); AvailableNow over static data must equal the batch
    join — which IS the oracle."""
    from taxi_trips_etl_spark.streaming.stream_join import (
        run_streaming_click_attribution,
    )

    out = run_streaming_click_attribution(
        spark,
        f"{sf_dir}/events.parquet",
        sink_table="click_attr_oracle_run",
        # testdata posture: ~1k users in state, and a stream-stream
        # join commits FOUR stores per partition per batch — 2 beats
        # the runner's production-default 8 here (2.7s → 2.2s at
        # sf0.1, identical 746 rows). Size to keys-in-state at scale.
        state_partitions=2,
    )
    return out.select(
        "user_id",
        "click_id",
        _ts_str(F.col("click_ts"), "click_ts"),
        "purchase_id",
        _ts_str(F.col("purchase_ts"), "purchase_ts"),
    )


_COMPONENTS_SQL = f"""
    WITH RECURSIVE fp AS ({_simhash_fp_sql()}),
    banded AS (
        SELECT doc_id, simhash, b.band_id,
               (simhash >> (b.band_id * 15)) & 32767 AS band_val
        FROM fp, (SELECT unnest(generate_series(0, 3)) AS band_id) b
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ),
    sym AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs
            UNION SELECT doc_id_b, doc_id_a FROM pairs),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT re.node, s.b FROM reach re JOIN sym s ON re.r = s.a
    )
    SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node
"""


@register("dedup_components", _COMPONENTS_SQL)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over SimHash near-dup pairs → canonical
    component id per doc. The iterative star contraction is verified
    EXACTLY against a DuckDB recursive-CTE transitive closure (min
    reachable id per node) — feasible because near-dup components are
    small; chain/clique correctness and min-label≡star equality are
    additionally pytest-verified.

    Routed via connected_components_auto — the production posture:
    near-dup pair graphs are corpus-tiny (hundreds of edges here, ≪
    the corpus at any scale), so below the edge cap the identical
    union-find runs driver-side in milliseconds instead of paying
    per-round Spark job overhead; past the cap it escalates to star
    contraction (O(log n) rounds, depth-proof; measured ~25% faster
    than min-label at sf0.1). Driver ≡ star ≡ min-label is
    pytest-pinned, so the oracle covers every path."""
    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    pairs = dedup.simhash_near_duplicates(_t(spark, sf_dir, "documents"))
    return connected_components_auto(pairs)


def _random_projection_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.similarity import random_projection_sql

    exprs = random_projection_sql(64, 16, dialect="duckdb")
    cols = ",\n           ".join(
        f"round({e}, 6) AS rp_{j}" for j, e in enumerate(exprs)
    )
    return f"SELECT vec_id,\n           {cols}\nFROM embeddings"


@register("embedding_random_projection", _random_projection_oracle())
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss projection 64→16 dims (deterministic
    Achlioptas ±1 signs, one shared expression generator for Spark and
    the oracle) — the scan-shrinking preprocessor for ANN/dedup."""
    from taxi_trips_etl_spark.dataprep.similarity import random_projection

    return random_projection(
        _t(spark, sf_dir, "embeddings"), in_dim=64, out_dim=16
    )


def _pq_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.pq_exact import pq_oracle_sql

    return pq_oracle_sql(
        dim=64, m=8, ksub=16, k=3, query_ids_below=5, train_iters=3
    )


@register("similarity_pq_topk", _pq_oracle())
def q_similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-Quantization ANN: m-byte codes + ADC lookup scoring —
    the compressed-scan ANN shape for 100 TB corpora. This entry runs
    the INTEGER-EXACT training/encoding twin (dataprep/pq_exact.py:
    quantized coords, integer Lloyd's, int64 ADC in 1e-12 units) so
    DuckDB replays the whole trajectory and the hash pins it."""
    from taxi_trips_etl_spark.dataprep.pq_exact import pq_topk_replayable

    return pq_topk_replayable(
        _t(spark, sf_dir, "embeddings"), m=8, ksub=16, k=3, query_ids_below=5
    )


# Lloyd's unrolled in DuckDB CTEs: the Spark side's fixed init (k
# lowest-id vectors) + fixed 3 iterations make the whole trajectory
# deterministic, so the oracle replays it — init c0, three
# assign/update rounds, final assignment, summary. Floating-point
# accumulation order differs (DuckDB avg vs Spark partial sums), but
# the synthetic blobs are well-separated so argmin assignments agree
# and the rounded inertia absorbs the ~1e-12 noise.
_KM_DIST = (
    "list_sum(list_transform(generate_series(1, len(v)),"
    " i -> (v[i] - c[i]) * (v[i] - c[i])))"
)


def _km_assign(prev: str) -> str:
    return f"""
  SELECT vec_id, cluster_id, d FROM (
    SELECT vec_id, cluster_id, d,
           row_number() OVER (PARTITION BY vec_id ORDER BY d, cluster_id) AS rn
    FROM (
      SELECT vecs.vec_id, {prev}.cluster_id, {_KM_DIST} AS d
      FROM vecs CROSS JOIN {prev}
    )
  ) WHERE rn = 1
"""


def _km_update(assign: str, prev: str) -> str:
    return f"""
  SELECT {prev}.cluster_id, coalesce(m.c, {prev}.c) AS c
  FROM {prev} LEFT JOIN (
    SELECT cluster_id, list(mi ORDER BY i) AS c FROM (
      SELECT cluster_id, i, avg(x) AS mi FROM (
        SELECT a.cluster_id,
               unnest(generate_series(1, len(v))) AS i,
               unnest(v) AS x
        FROM {assign} a JOIN vecs USING (vec_id)
      ) GROUP BY cluster_id, i
    ) GROUP BY cluster_id
  ) m USING (cluster_id)
"""


KMEANS_ORACLE_SQL = f"""
WITH vecs AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster_id, v AS c
  FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 8)
),
a1 AS ({_km_assign('c0')}),
c1 AS ({_km_update('a1', 'c0')}),
a2 AS ({_km_assign('c1')}),
c2 AS ({_km_update('a2', 'c1')}),
a3 AS ({_km_assign('c2')}),
c3 AS ({_km_update('a3', 'c2')}),
afinal AS ({_km_assign('c3')})
SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
       count(*) AS n_vectors,
       round(sum(round(d, 6)), 4) AS inertia
FROM afinal GROUP BY cluster_id
"""


@register("embedding_kmeans", KMEANS_ORACLE_SQL)
def q_embedding_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic DataFrame k-means over the embeddings table —
    per-cluster sizes + inertia. Iterative (Lloyd's, 3 rounds); the
    fixed init (k lowest-id vectors) makes the trajectory replayable,
    so the oracle unrolls the same three Lloyd iterations in DuckDB
    CTEs (KMEANS_ORACLE_SQL above) and checks the final summary."""
    from taxi_trips_etl_spark.dataprep.clustering import (
        cluster_summary,
        kmeans_assign,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return cluster_summary(kmeans_assign(emb, k=8, iterations=3))


@register(
    "topk_per_group",
    """
    SELECT nation_key, l_partkey, revenue_cp, part_rank
    FROM (
        SELECT s_nationkey AS nation_key, l_partkey,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                        * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                    AS BIGINT) AS revenue_cp,
               CAST(row_number() OVER (
                   PARTITION BY s_nationkey
                   ORDER BY sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
                            DESC, l_partkey) AS BIGINT) AS part_rank
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY s_nationkey, l_partkey
    ) WHERE part_rank <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 parts per nation by discounted revenue: broadcast-dim join →
    partial+final hash agg → per-group row_number → rank filter. The
    per-group-top-k idiom (vs the reference's global top-100,
    taxi_trips_etl.py:169): the window runs over the *aggregated* rows
    (≈ nations × parts), never the fact table, so the sort state per
    partition stays tiny at any scale. Revenue is exact integer
    cent·percent units (no float sums — see module docstring)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
    )
    agg = (
        li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nation_key"), "l_partkey")
        .agg(F.sum(rev).cast("long").alias("revenue_cp"))
    )
    w = Window.partitionBy("nation_key").orderBy(
        F.col("revenue_cp").desc(), F.col("l_partkey")
    )
    return (
        agg.withColumn("part_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("part_rank") <= 3)
        .select("nation_key", "l_partkey", "revenue_cp", "part_rank")
    )


@register(
    "hopping_window_counts",
    """
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, count(*) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM (
        SELECT time_bucket(INTERVAL '30 minutes', ts) AS window_start,
               event_type, value FROM events
        UNION ALL
        SELECT time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes',
               event_type, value FROM events
    )
    GROUP BY window_start, event_type
    """,
)
def q_hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch hopping-window aggregation (1h windows sliding every 30min)
    via ``F.window`` — the batch twin of the streaming rollup. Each
    event lands in exactly size/slide = 2 windows; Spark expands them
    JVM-side before the hash agg (no Python, no explode of user data).
    Oracle: union of the two 30-min-grid buckets each event covers
    (both engines' grids are epoch-aligned, so buckets coincide)."""
    ev = _events(spark, sf_dir)
    win = F.window("ts", "1 hour", "30 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long"))
            .cast("long")
            .alias("value_cents"),
        )
        .select(
            _ts_str(F.col("w.start"), "window_start"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )


@register(
    "latest_by_key",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def q_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest record per key via ``max_by`` over a (ts, event_id) struct:
    a single hash aggregation with partial (map-side) combine. At scale
    this beats the window row_number=1 idiom (which the oracle uses, as
    the SQL statement of the same semantics): no per-partition sort, no
    full-row shuffle — only one candidate row per key per map task
    crosses the wire. event_id breaks ts ties deterministically."""
    ev = _events(spark, sf_dir)
    picked = F.max_by(
        F.struct("event_id", "event_type", "ts"),
        F.struct("ts", "event_id"),
    ).alias("last")
    return (
        ev.groupBy("user_id")
        .agg(picked)
        .select(
            "user_id",
            F.col("last.event_id").alias("last_event_id"),
            F.col("last.event_type").alias("last_event_type"),
            _ts_str(F.col("last.ts"), "last_ts"),
        )
    )


@register(
    "date_functions",
    """
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
           strftime(date_trunc('month', o_orderdate) + INTERVAL '1 month',
                    '%Y-%m-%d') AS next_month_start,
           CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
           count(*) AS n_orders,
           CAST(count(DISTINCT isodow(o_orderdate)) AS BIGINT) AS n_weekdays
    FROM orders
    GROUP BY 1, 2, 3, 4
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-function battery (F9-adjacent): date_trunc / last_day /
    add_months / quarter / ISO weekday, aggregated per month. All
    JVM-side built-ins; dates render as yyyy-MM-dd strings so both
    engines hash identical values. Spark ``weekday`` is Monday=0, DuckDB
    ``isodow`` Monday=1 — hence the +1."""
    o = _t(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    return (
        o.groupBy(
            F.date_format(month, "yyyy-MM-dd").alias("month_start"),
            F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias(
                "month_end"
            ),
            F.date_format(F.add_months(month, 1), "yyyy-MM-dd").alias(
                "next_month_start"
            ),
            F.quarter("o_orderdate").cast("long").alias("qtr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct(F.weekday("o_orderdate") + F.lit(1))
            .cast("long")
            .alias("n_weekdays"),
        )
    )


@register(
    "grouping_sets_agg",
    """
    SELECT coalesce(o_orderpriority, 'ALL') AS priority,
           coalesce(o_orderstatus, 'ALL') AS status,
           CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                AS BIGINT) AS gid,
           count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                            (o_orderpriority, o_orderstatus), ())
    """,
)
def q_grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (beyond the rollup/cube entries): four
    explicit sets in ONE Expand+hash-agg pass — at scale this reads the
    fact table once instead of unioning four separate aggregations.
    grouping() markers disambiguate 'ALL' labels from real values."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_gs")
    return spark.sql(
        """
        SELECT coalesce(o_orderpriority, 'ALL') AS priority,
               coalesce(o_orderstatus, 'ALL') AS status,
               CAST(grouping(o_orderpriority) * 2 + grouping(o_orderstatus)
                    AS BIGINT) AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS total_cents
        FROM v_orders_gs
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus),
                                (o_orderpriority, o_orderstatus), ())
        """
    )


@register(
    "correlated_scalar_subquery",
    """
    SELECT o_orderkey, o_custkey,
           CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders o
    WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
    """,
)
def q_correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (each order compared to its customer's
    own maximum). Catalyst de-correlates this into an aggregate + join —
    the physical plan is one extra hash agg on (custkey, max), never a
    per-row re-scan, so the idiom is safe on an arbitrarily large fact
    table. Ties (two max-price orders for one customer) are all kept —
    deterministic without a limit."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_corr")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey,
               CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        FROM v_orders_corr o
        WHERE o_totalprice = (SELECT max(o2.o_totalprice) FROM v_orders_corr o2
                              WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "recursive_cte_date_spine",
    """
    WITH RECURSIVE months(m, stop) AS (
        SELECT date_trunc('month', max(o_orderdate)) - INTERVAL '11 months',
               date_trunc('month', max(o_orderdate))
        FROM orders
        UNION ALL
        SELECT m + INTERVAL '1 month', stop FROM months WHERE m < stop
    )
    SELECT strftime(m, '%Y-%m-%d') AS month_start,
           coalesce(n_orders, 0) AS n_orders
    FROM months
    LEFT JOIN (SELECT date_trunc('month', o_orderdate) AS om,
                      count(*) AS n_orders
               FROM orders GROUP BY 1) o ON om = m
    """,
)
def q_recursive_cte_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE date spine (Spark 4 recursive CTE): generate the
    12 months ending at the newest order date, then left-join monthly
    counts so empty months surface as 0 — the standard gap-filling
    pattern for time series. The recursion is bounded (12 driver-side
    iterations carrying the stop bound along, clear of the default
    100-level recursion limit regardless of data span); the fact table
    is aggregated exactly once."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_spine")
    return spark.sql(
        """
        WITH RECURSIVE months(m, stop) AS (
            SELECT date_trunc('month', max(o_orderdate)) - INTERVAL '11' MONTH,
                   date_trunc('month', max(o_orderdate))
            FROM v_orders_spine
            UNION ALL
            SELECT m + INTERVAL '1' MONTH, stop FROM months WHERE m < stop
        )
        SELECT date_format(m, 'yyyy-MM-dd') AS month_start,
               coalesce(n_orders, CAST(0 AS BIGINT)) AS n_orders
        FROM months
        LEFT JOIN (SELECT date_trunc('month', o_orderdate) AS om,
                          count(*) AS n_orders
                   FROM v_orders_spine GROUP BY 1) o ON om = m
        """
    )


@register(
    "udtf_split_sentences",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(list_transform(string_split_regex(text, '[.!?]'),
                                        s -> trim(s, ' ' || chr(9) || chr(10)
                                                       || chr(13))),
                         s -> s != '') AS sents
      FROM documents
    )
    SELECT doc_id, CAST(s.i - 1 AS BIGINT) AS sent_idx, s.x AS sentence
    FROM (SELECT doc_id,
                 unnest(list_transform(sents,
                        (x, i) -> struct_pack(x := x, i := i))) AS s
          FROM toks)
    """,
)
def q_udtf_split_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function) + LATERAL join: one input
    row → N output rows, the table-function analogue of the two scalar
    UDFs. UDTFs are Python-slow-path, so this belongs on *document*
    grain (the row-multiplying parse), never on the fact table — the
    same placement rule as the geo UDFs. The pytest covers multi-
    sentence splitting; this table is single-sentence so the oracle
    pins the pass-through shape."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sentence: string, sent_idx: bigint")
    class SplitSentences:
        def eval(self, text: str):  # noqa: ANN001 — UDTF protocol
            if text is None:
                return
            import re

            parts = [p.strip(" \t\n\r") for p in re.split(r"[.!?]", text)]
            for i, p in enumerate(s for s in parts if s):
                yield p, i

    spark.udtf.register("split_sentences", SplitSentences)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("v_docs_udtf")
    return spark.sql(
        """
        SELECT doc_id, s.sent_idx, s.sentence
        FROM v_docs_udtf, LATERAL split_sentences(text) s
        """
    )


@register(
    "array_functions",
    """
    SELECT vec_id,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))),
                 6) AS elem_sum,
           CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(list_max(embedding) AS DOUBLE) AS max_elem,
           CAST(list_position(embedding, list_max(embedding)) AS BIGINT)
               AS argmax_pos
    FROM embeddings
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array battery over the embedding column — transform
    / filter / aggregate / array_max / array_position, all JVM-side
    lambdas (no Python, no explode: the 64-float array never leaves the
    row). Elements are cast to double *before* the fold so both engines
    run the identical left-to-right IEEE sum; the one float-accumulated
    output is rounded to 6 places per the similarity-family convention."""
    emb = _t(spark, sf_dir, "embeddings")
    as_double = F.expr("transform(embedding, x -> cast(x as double))")
    return emb.select(
        "vec_id",
        F.round(
            F.aggregate(as_double, F.lit(0.0), lambda a, x: a + x), 6
        ).alias("elem_sum"),
        F.expr("cast(size(filter(embedding, x -> x > 0)) as bigint)").alias(
            "n_pos"
        ),
        F.expr("cast(array_max(embedding) as double)").alias("max_elem"),
        F.expr(
            "cast(array_position(embedding, array_max(embedding)) as bigint)"
        ).alias("argmax_pos"),
    )


@register(
    "variant_json_shred",
    """
    SELECT event_type, count(*) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_sum,
           CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
               AS k_max
    FROM events GROUP BY event_type
    """,
)
def q_variant_json_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured shredding through VariantType (Spark 4):
    parse_json once per row into a variant, then typed variant_get
    extraction — the open-schema path for ingesting JSON whose shape
    isn't known at write time (vs get_json_object's per-field string
    re-parse in the json_extract_props entry). Aggregates stay exact
    (integer k)."""
    _events(spark, sf_dir).createOrReplaceTempView("v_events_variant")
    return spark.sql(
        """
        SELECT event_type, count(*) AS n_events,
               sum(variant_get(parse_json(props), '$.k', 'long')) AS k_sum,
               max(variant_get(parse_json(props), '$.k', 'long')) AS k_max
        FROM v_events_variant GROUP BY event_type
        """
    )


@register(
    "lag_lead_order_gaps",
    """
    WITH o AS (
        SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od,
               lag(CAST(o_orderdate AS DATE)) OVER w AS prev_date,
               lead(CAST(o_orderdate AS DATE)) OVER w AS next_date
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE),
                     o_orderkey)
    )
    SELECT o_custkey, o_orderkey, strftime(od, '%Y-%m-%d') AS order_date,
           CAST(date_diff('day', prev_date, od) AS BIGINT) AS days_since_prev,
           CAST(date_diff('day', od, next_date) AS BIGINT) AS days_until_next
    FROM o
    """,
)
def q_lag_lead_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead inter-event deltas (days between a customer's consecutive
    orders) — the purchase-recency / inter-arrival-time window family.
    One shuffle on o_custkey serves both offsets; NULL at each edge."""
    od = F.to_date("o_orderdate")
    w = Window.partitionBy("o_custkey").orderBy(od, "o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.date_format(od, "yyyy-MM-dd").alias("order_date"),
        F.datediff(od, F.lag(od).over(w)).cast("long").alias("days_since_prev"),
        F.datediff(F.lead(od).over(w), od).cast("long").alias("days_until_next"),
    )


@register(
    "numeric_histogram",
    """
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin_id,
           CAST(floor(o_totalprice / 25000.0) AS BIGINT) * 25000.0 AS bin_lo,
           count(*) AS n,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders GROUP BY 1
    """,
)
def q_numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram binning (floor-divide → groupBy) — the
    distribution-profiling primitive. The bin id is computed with one
    IEEE divide+floor on identical operands, so it is engine-portable;
    map-side partial aggregation makes this one narrow shuffle of at
    most n_bins rows per partition regardless of input size."""
    o = _t(spark, sf_dir, "orders")
    bin_id = F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("long")
    return (
        o.groupBy(bin_id.alias("bin_id"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            "bin_id",
            (F.col("bin_id") * F.lit(25000.0)).alias("bin_lo"),
            "n",
            "total_cents",
        )
    )


@register(
    "iqr_outliers",
    """
    WITH q AS (
        SELECT o_orderpriority,
               quantile_disc(o_totalprice, 0.25) AS q1,
               quantile_disc(o_totalprice, 0.75) AS q3
        FROM orders GROUP BY 1
    )
    SELECT o.o_orderpriority, count(*) AS n,
           CAST(sum(CASE WHEN o_totalprice < q1 - 1.5 * (q3 - q1)
                           OR o_totalprice > q3 + 1.5 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           min(q1) AS q1, min(q3) AS q3
    FROM orders o JOIN q USING (o_orderpriority)
    GROUP BY 1
    """,
)
def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per group: discrete quartiles
    (percentile_disc picks an actual element — bit-identical across
    engines, unlike interpolated quantiles), fences in plain IEEE
    arithmetic, then a broadcast join back to the fact and a counting
    aggregate. The per-group quartile table is tiny (one row per group),
    so the fact table is scanned exactly twice with no wide shuffle."""
    o = _t(spark, sf_dir, "orders")
    o.createOrReplaceTempView("v_orders_iqr")
    q = spark.sql(
        """
        SELECT o_orderpriority,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY o_totalprice) AS q1,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY o_totalprice) AS q3
        FROM v_orders_iqr GROUP BY o_orderpriority
        """
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    is_out = (F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi)
    return (
        o.join(F.broadcast(q), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(is_out.cast("long")).alias("n_outliers"),
            F.min("q1").alias("q1"),
            F.min("q3").alias("q3"),
        )
    )


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix: users grouped by first-activity
    week; each cell counts cohort members active N weeks later.

    Two partial-agg passes: (user → cohort week) is one groupBy-min;
    activity distinct-collapses to (user, week) BEFORE the join, so
    the cohort join fans out on weeks-per-user (bounded), never raw
    events. All shuffles key on user_id."""
    ev = _events(spark, sf_dir).select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    cohort = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    active = ev.distinct()
    return (
        active.join(cohort, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .select(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            "week_offset",
            F.col("n_users").cast("long"),
        )
    )


register(
    "retention_cohorts",
    """
    WITH ev AS (SELECT user_id, date_trunc('week', ts) AS week FROM events),
    cohort AS (SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY 1),
    active AS (SELECT DISTINCT user_id, week FROM ev)
    SELECT strftime(c.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', c.cohort_week, a.week) / 7 AS BIGINT)
               AS week_offset,
           CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM active a JOIN cohort c USING (user_id)
    GROUP BY 1, 2
    """,
)(q_retention_cohorts)


@register(
    "funnel_conversion",
    """
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v USING (user_id)
        WHERE e.event_type = 'click' AND e.ts > v.t_view GROUP BY 1
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts > c.t_click GROUP BY 1
    )
    SELECT 'view' AS funnel_stage, count(*) AS n_users FROM v
    UNION ALL
    SELECT 'view_click', count(*) FROM c
    UNION ALL
    SELECT 'view_click_purchase', count(*) FROM p
    """,
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step funnel analysis (view → click → purchase): each
    stage is the earliest qualifying event strictly after the previous
    stage's timestamp. Three min-aggregates and two equi-joins on
    user_id — every shuffle is on the same key; no window sort over
    raw events. r13: each stage table (user-grain, small next to raw
    events) is materialized — the lazy plan otherwise re-derived v
    under c and its own count, and c under p and its own count, for
    6 filtered events scans; now each event_type filter scans events
    exactly once (the per-stage-filter floor, 3 scans)."""
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    ev = _events(spark, sf_dir)

    def stage(etype: str, prev: DataFrame | None, prev_ts: str, out: str) -> DataFrame:
        s = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            s = s.join(prev, "user_id").filter(F.col("ts") > F.col(prev_ts))
        return (
            s.groupBy("user_id")
            .agg(F.min("ts").alias(out))
            .transform(materialize, eager=False)
        )

    v = stage("view", None, "", "t_view")
    c = stage("click", v, "t_view", "t_click")
    p = stage("purchase", c, "t_click", "t_purchase")
    counts = [
        v.agg(F.lit("view").alias("funnel_stage"), F.count(F.lit(1)).alias("n_users")),
        c.agg(F.lit("view_click").alias("funnel_stage"), F.count(F.lit(1)).alias("n_users")),
        p.agg(
            F.lit("view_click_purchase").alias("funnel_stage"),
            F.count(F.lit(1)).alias("n_users"),
        ),
    ]
    out = counts[0]
    for nxt in counts[1:]:
        out = out.unionByName(nxt)
    return out


@register(
    "activity_streaks",
    """
    WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    isl AS (
        SELECT user_id, d,
               d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                        AS BIGINT) * INTERVAL 1 DAY AS anchor
        FROM days
    ),
    streaks AS (
        SELECT user_id, anchor, count(*) AS streak_len
        FROM isl GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(max(streak_len) AS BIGINT) AS longest_streak,
           CAST(sum(streak_len) AS BIGINT) AS n_active_days,
           count(*) AS n_streaks
    FROM streaks GROUP BY 1
    """,
)
def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: longest consecutive-day activity streak per
    user via the date-minus-row_number anchor trick. The distinct
    collapses raw events to at most (users × days) rows BEFORE the
    window sort, so the expensive ordered pass runs on the reduced set."""
    ev = _events(spark, sf_dir)
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.withColumn(
        "anchor", F.date_sub(F.col("d"), F.row_number().over(w))
    )
    streaks = isl.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").alias("longest_streak"),
        F.sum("streak_len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


