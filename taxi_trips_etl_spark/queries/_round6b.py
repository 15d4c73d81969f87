# Round-6 batch 5: SemDeDup semantic pruning, DPO preference-pair
# mining, bucketed co-located join (the zero-shuffle fact-fact join as
# an oracle-checked registry entry, not just a pytest). Every entry
# oracle-bearing from birth.
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.queries._registry import TOKS_SQL, _t, register
from taxi_trips_etl_spark.queries._mm_streaming import _km_assign, _km_update
from taxi_trips_etl_spark.dataprep.unigram_tok import MAX_PIECE_LEN, TOP_MULTI

MAX_WORD = 8  # longest word the unrolled Viterbi oracle segments
_EN_STOP_SQL = "('the', 'a', 'of', 'and', 'is', 'to')"

# Within-cluster cosine on the kmeans-final assignment, replaying the
# SAME deterministic 3-iteration Lloyd trajectory as KMEANS_ORACLE_SQL
# (queries/_mm_streaming.py). MATERIALIZED on every stage: DuckDB
# inlines CTEs per reference, and this chain is consumed twice by the
# pair join — without it the recursive re-evaluation is exponential.
SEMDEDUP_ORACLE_SQL = f"""
WITH vecs AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
c0 AS MATERIALIZED (
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cluster_id, v AS c
  FROM (SELECT vec_id, v FROM vecs ORDER BY vec_id LIMIT 8)
),
a1 AS MATERIALIZED ({_km_assign('c0')}),
c1 AS MATERIALIZED ({_km_update('a1', 'c0')}),
a2 AS MATERIALIZED ({_km_assign('c1')}),
c2 AS MATERIALIZED ({_km_update('a2', 'c1')}),
a3 AS MATERIALIZED ({_km_assign('c2')}),
c3 AS MATERIALIZED ({_km_update('a3', 'c2')}),
afinal AS MATERIALIZED ({_km_assign('c3')}),
assigned AS MATERIALIZED (
  SELECT a.vec_id, a.cluster_id, vecs.v
  FROM afinal a JOIN vecs USING (vec_id)
),
pairs AS (
  SELECT b.vec_id, b.cluster_id, a.vec_id AS keeper_id,
         CAST(floor(
             1000.0 * list_sum(list_transform(
                 generate_series(1, len(a.v)), i -> a.v[i] * b.v[i]))
             / (sqrt(list_sum(list_transform(
                    generate_series(1, len(a.v)), i -> a.v[i] * a.v[i])))
                * sqrt(list_sum(list_transform(
                    generate_series(1, len(b.v)), i -> b.v[i] * b.v[i]))))
             + 0.5) AS BIGINT) AS cos_milli
  FROM assigned a JOIN assigned b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
)
SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id, keeper_id,
       cos_milli
FROM (SELECT vec_id, cluster_id, keeper_id, cos_milli,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY keeper_id) AS rn
      FROM pairs WHERE cos_milli >= 350)
WHERE rn = 1
"""


@register("semdedup_prune", SEMDEDUP_ORACLE_SQL)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means shards the corpus, and
    only cluster-mates are cosine-compared — a vector with a lower-id
    mate at or over threshold is pruned, keeping the smallest such
    mate as its representative. The paper's production threshold is
    ~0.95; the registered entry runs 0.350 because the synthetic
    embeddings table's MAX pairwise cosine is ~0.51 (no true near-dups
    by construction) and a 0-row pin would be vacuous. The oracle
    replays the identical deterministic Lloyd trajectory (shared with
    embedding_kmeans) and the within-cluster pair scan in SQL; the
    integer cos_milli threshold keeps both engines on the same in/out
    decision."""
    from taxi_trips_etl_spark.dataprep.similarity import semdedup_prune

    return semdedup_prune(_t(spark, sf_dir, "embeddings"), threshold_milli=350)


@register(
    "dpo_preference_pairs",
    f"""
    WITH q AS (
        SELECT d.doc_id, d.source, d.lang,
               round(least(1.0, len({TOKS_SQL}) / 50.0) * 0.4
                     + round(CAST(length(regexp_replace(text, '[^a-zA-Z]',
                                                        '', 'g')) AS DOUBLE)
                             / length(text), 4) * 0.4
                     + least(1.0,
                             round(CAST(len(list_filter({TOKS_SQL},
                                           w -> w IN {_EN_STOP_SQL}))
                                        AS DOUBLE) / len({TOKS_SQL}), 4)
                             * 5) * 0.2, 4) AS q
        FROM documents d
    ),
    ranked AS (
        SELECT source, lang, doc_id, q,
               row_number() OVER (PARTITION BY source, lang
                                  ORDER BY q DESC, doc_id) AS rk_best,
               row_number() OVER (PARTITION BY source, lang
                                  ORDER BY q ASC, doc_id) AS rk_worst,
               count(*) OVER (PARTITION BY source, lang) AS n_group
        FROM q
    )
    SELECT b.source, b.lang,
           b.doc_id AS chosen_id, w.doc_id AS rejected_id,
           round(b.q - w.q, 4) AS margin,
           CAST(b.n_group AS BIGINT) AS n_group
    FROM (SELECT * FROM ranked WHERE rk_best = 1) b
    JOIN (SELECT * FROM ranked WHERE rk_worst = 1) w
      USING (source, lang)
    WHERE b.doc_id != w.doc_id AND round(b.q - w.q, 4) >= 0.05
    """,
)
def q_dpo_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair mining: within each (source, lang)
    prompt group, the highest-quality document is `chosen` and the
    lowest `rejected` (quality = the oracle-replayable composite from
    text.quality_scores; ties break to the lower doc_id on both
    ends), kept only when the quality margin clears 0.05 — degenerate
    pairs teach a preference model nothing. One narrow projection for
    scoring + two windows over the same partitioning (one shuffle);
    margins subtract two round-4 doubles and re-round, so both
    engines land on identical values."""
    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.dataprep.text import quality_scores

    docs = _t(spark, sf_dir, "documents")
    q = quality_scores(docs).select("doc_id", "quality_score").join(
        docs.select("doc_id", "source", "lang"), "doc_id"
    )
    grp = Window.partitionBy("source", "lang")
    # ranked feeds the best AND worst picks — without a checkpoint the
    # quality-scoring join + double-rank window spine re-ran under each
    # (r13: documents scans 4 → 2, both inside the one checkpoint
    # fill; the frame is seven narrow columns per doc).
    ranked = materialize(q.select(
        "source", "lang", "doc_id", F.col("quality_score").alias("q"),
        F.row_number().over(
            grp.orderBy(F.col("quality_score").desc(), "doc_id")
        ).alias("rk_best"),
        F.row_number().over(
            grp.orderBy(F.col("quality_score").asc(), "doc_id")
        ).alias("rk_worst"),
        F.count(F.lit(1)).over(grp).alias("n_group"),
    ), eager=False)
    best = ranked.filter(F.col("rk_best") == 1).select(
        "source", "lang", F.col("doc_id").alias("chosen_id"),
        F.col("q").alias("q_best"), "n_group",
    )
    worst = ranked.filter(F.col("rk_worst") == 1).select(
        "source", "lang", F.col("doc_id").alias("rejected_id"),
        F.col("q").alias("q_worst"),
    )
    margin = F.round(F.col("q_best") - F.col("q_worst"), 4)
    return (
        best.join(worst, ["source", "lang"])
        .filter(
            (F.col("chosen_id") != F.col("rejected_id"))
            & (margin >= 0.05)
        )
        .select(
            "source", "lang", "chosen_id", "rejected_id",
            margin.alias("margin"),
            F.col("n_group").cast("long").alias("n_group"),
        )
    )


@register(
    "bucketed_colocated_join",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS revenue_cents
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_bucketed_colocated_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The zero-shuffle fact-fact join: orders and lineitem are
    written as bucketed tables (sources/writers.py:write_bucketed,
    hash-clustered on the order key with equal bucket counts), so the
    join's Exchange disappears from the physical plan — at 100 TB
    that converts every recurring join on the bucket key from a
    full-corpus shuffle into per-bucket local zippers. The pytest
    twin (tests/test_bucketing.py) asserts the no-Exchange plan;
    this entry pins the RESULT equivalence against the plain-join
    oracle, so the bucketed read path is correctness-checked too."""
    import os
    import shutil
    import tempfile

    from taxi_trips_etl_spark.sources.catalog import drop_table
    from taxi_trips_etl_spark.sources.writers import write_bucketed

    # External tables at a fixed path under the system temp dir, not
    # managed ones in the session warehouse (which defaults to
    # ``spark-warehouse/`` of the working directory). The returned plan
    # reads them lazily, so they outlive this call; the next call
    # replaces them.
    root = os.path.join(tempfile.gettempdir(), "taxi_trips_etl_spark")
    for t in ("r6b_orders_bucketed", "r6b_lineitem_bucketed"):
        drop_table(spark, t)
        shutil.rmtree(os.path.join(root, t), ignore_errors=True)

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    write_bucketed(
        orders, "r6b_orders_bucketed", ["o_orderkey"], buckets=8,
        sort_cols=["o_orderkey"],
        path=os.path.join(root, "r6b_orders_bucketed"),
    )
    write_bucketed(
        li, "r6b_lineitem_bucketed", ["l_orderkey"], buckets=8,
        sort_cols=["l_orderkey"],
        path=os.path.join(root, "r6b_lineitem_bucketed"),
    )
    o = spark.table("r6b_orders_bucketed")
    l = spark.table("r6b_lineitem_bucketed")
    return (
        o.join(l, o["o_orderkey"] == l["l_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("long")
            ).cast("long").alias("revenue_cents"),
        )
    )


def _viterbi_oracle() -> str:
    """Unrolled Viterbi DP replay (the bpe_learn_merges technique):
    d_i holds, per word, the best integer-micro-nat score reaching
    character position i and the piece path that achieves it; each
    stage is a row_number argmax over the <= MAX_PIECE_LEN predecessor
    stages. MATERIALIZED throughout — DuckDB inlines CTEs, and the
    stage fan-in is exponential without it. Words of up to ``MAX_WORD``
    characters are segmented."""
    stages = []
    for i in range(1, MAX_WORD + 1):
        prevs = " UNION ALL ".join(
            f"SELECT * FROM d{j}" for j in range(max(0, i - MAX_PIECE_LEN), i)
        )
        stages.append(f"""
d{i} AS MATERIALIZED (
  SELECT word, word_n, pos, best, segp FROM (
    SELECT p.word, p.word_n, {i} AS pos, p.best + v.score_micro AS best,
           CASE WHEN p.segp = '' THEN v.piece
                ELSE p.segp || ' ' || v.piece END AS segp,
           row_number() OVER (PARTITION BY p.word
                              ORDER BY p.best + v.score_micro DESC,
                                       p.pos ASC) AS rn
    FROM ({prevs}) p
    JOIN vocab v ON v.piece = substring(p.word, p.pos + 1, {i} - p.pos)
    WHERE len(p.word) >= {i}
  ) WHERE rn = 1
)""")
    alld = " UNION ALL ".join(
        f"SELECT * FROM d{i}" for i in range(1, MAX_WORD + 1)
    )
    return f"""
WITH toks AS MATERIALIZED (SELECT {TOKS_SQL} AS t FROM documents),
words AS MATERIALIZED (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS word_n
  FROM (SELECT unnest(t) AS w FROM toks) GROUP BY 1
),
subs AS MATERIALIZED (
  SELECT substring(word, s, l) AS piece, CAST(sum(word_n) AS BIGINT) AS c
  FROM words,
       UNNEST(generate_series(1, len(word))) AS ss(s),
       UNNEST(generate_series(1, least({MAX_PIECE_LEN}, len(word) - s + 1)))
           AS ll(l)
  GROUP BY 1
),
vraw AS MATERIALIZED (
  SELECT piece, c FROM subs WHERE len(piece) = 1
  UNION ALL
  SELECT piece, c FROM (
    SELECT piece, c FROM subs WHERE len(piece) >= 2
    ORDER BY c DESC, piece LIMIT {TOP_MULTI})
),
vocab AS MATERIALIZED (
  SELECT piece, c,
         CAST(floor(1e6 * ln(c / t.t) + 0.5) AS BIGINT) AS score_micro
  FROM vraw, (SELECT CAST(sum(c) AS DOUBLE) AS t FROM vraw) t
),
d0 AS (SELECT word, word_n, 0 AS pos, CAST(0 AS BIGINT) AS best,
              '' AS segp FROM words),
{",".join(stages)}
SELECT word, word_n,
       CAST(len(string_split(segp, ' ')) AS BIGINT) AS n_pieces,
       segp AS segmentation, best AS score_micro
FROM ({alld}) WHERE pos = len(word)
"""


@register("unigram_viterbi_segment", _viterbi_oracle())
def q_unigram_viterbi_segment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SentencePiece-style unigram-LM segmentation (Kudo 2018): every
    distinct corpus word split into the maximum-likelihood piece
    sequence under the deterministic seed vocabulary (all chars +
    top-40 substrings by weighted occurrence). Integer micro-nat
    scores make the Viterbi DP exact; the oracle replays the DP as an
    unrolled argmax CTE chain (dataprep/unigram_tok.py)."""
    from taxi_trips_etl_spark.dataprep.unigram_tok import (
        unigram_viterbi_segment,
    )

    return unigram_viterbi_segment(_t(spark, sf_dir, "documents"))


@register(
    "skewed_distinct_count",
    """
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
        AS n_distinct
    FROM events GROUP BY event_type
    """,
)
def q_skewed_distinct_count(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact distinct-users-per-event-type via the two-stage shape
    (operators/skew.py:two_stage_distinct_count): stage 1 partitions
    by the (key, user) PAIR so a hot event_type spreads over every
    reducer, stage 2 moves one row per distinct pair."""
    from taxi_trips_etl_spark.operators.skew import (
        two_stage_distinct_count,
    )
    from taxi_trips_etl_spark.queries._registry import _events

    return two_stage_distinct_count(_events(spark, sf_dir), ["event_type"])


@register(
    "partition_pruned_scan",
    """
    WITH d AS (SELECT strftime(min(date_trunc('day', ts)), '%Y-%m-%d')
                   AS day0
               FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events, d
    WHERE strftime(date_trunc('day', ts), '%Y-%m-%d') = d.day0
    GROUP BY event_type
    """,
)
def q_partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning end-to-end: events land
    partitioned by day (the S9 writer shape), and a day-literal
    filter on the readback never opens the other days' files — the
    scan's PartitionFilters do the pruning, no row-level work. At
    100 TB this is the difference between reading one day and reading
    three years. The pytest twin asserts the PartitionFilters plan;
    this entry pins the pruned RESULT against an unpartitioned
    oracle."""
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.queries._registry import _events

    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    with tempfile.TemporaryDirectory(
        prefix="part_prune_", ignore_cleanup_errors=True
    ) as work:
        ev.write.mode("overwrite").partitionBy("day").parquet(
            f"{work}/events_by_day"
        )
        # deliberate 1-value collect: STATIC partition pruning — the
        # point of this entry — needs a literal partition filter; a
        # broadcast-column filter would be DPP, a different plan
        day0 = ev.agg(F.min("day")).collect()[0][0]
        back = spark.read.parquet(f"{work}/events_by_day").filter(
            F.col("day") == day0
        )
        out = materialize(
            back.groupBy("event_type").agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).cast("long").alias("value_cents"),
            ),
            eager=True,
        )
    return out


@register(
    "compact_small_files_audit",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(32 AS BIGINT) AS n_files_before,
           CAST(ceil(count(*) / 100.0) AS BIGINT) AS n_files_after
    FROM documents
    """,
)
def q_compact_small_files_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Small-file compaction audit (sources/writers.py:
    compact_small_files): a 32-way fragmented copy of documents is
    rewritten at 100 rows/file; the audit row pins rows preserved,
    fragment count seen, and the deterministic row-derived file
    target. The pytest twin counts the parquet files actually
    written."""
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.sources.writers import compact_small_files

    docs = _t(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="compact_", ignore_cleanup_errors=True
    ) as work:
        docs.repartition(32).write.mode("overwrite").parquet(
            f"{work}/frag"
        )
        out = materialize(
            compact_small_files(spark, f"{work}/frag", f"{work}/compact"),
            eager=True,
        )
    return out


@register(
    "schema_evolution_merge",
    """
    WITH v1 AS (SELECT doc_id, text, source FROM documents
                WHERE doc_id % 2 = 0),
    v2 AS (SELECT doc_id, text, source, lang, n_chars FROM documents
           WHERE doc_id % 2 = 1)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(lang) AS BIGINT) AS n_with_lang,
           CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS chars_v2_only
    FROM (SELECT doc_id, text, source, NULL AS lang,
                 CAST(NULL AS BIGINT) AS n_chars FROM v1
          UNION ALL
          SELECT doc_id, text, source, lang, n_chars FROM v2)
    GROUP BY source
    """,
)
def q_schema_evolution_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read (``mergeSchema``): an old writer's
    files lack the columns a new writer added — the lake reality every
    long-lived table hits. Half of documents lands with the v1 schema
    (doc_id, text, source), half with the v2 schema (+lang, +n_chars)
    in the SAME directory; the merged read reconciles to the superset
    schema with NULLs for v1's missing columns, which the per-source
    aggregate makes observable (n_with_lang counts only v2 rows). At
    100 TB the alternative — rewriting history to the new schema — is
    a full-corpus copy; mergeSchema is a footer union. (Production
    note: enable per-read as here, not globally — footer merging
    scales with file count.)"""
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize

    docs = _t(spark, sf_dir, "documents")
    with tempfile.TemporaryDirectory(
        prefix="schema_evo_", ignore_cleanup_errors=True
    ) as work:
        docs.filter(F.col("doc_id") % 2 == 0).select(
            "doc_id", "text", "source"
        ).write.mode("overwrite").parquet(f"{work}/t/v1")
        docs.filter(F.col("doc_id") % 2 == 1).select(
            "doc_id", "text", "source", "lang", "n_chars"
        ).write.mode("overwrite").parquet(f"{work}/t/v2")
        merged = spark.read.option("mergeSchema", "true").parquet(
            f"{work}/t/v1", f"{work}/t/v2"
        )
        out = materialize(
            merged.groupBy("source").agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.count("lang").cast("long").alias("n_with_lang"),
                F.coalesce(F.sum("n_chars"), F.lit(0))
                .cast("long")
                .alias("chars_v2_only"),
            ),
            eager=True,
        )
    return out


@register(
    "dynamic_partition_pruning_join",
    """
    WITH counts AS (
        SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS n_days FROM counts),
    busy AS (
        SELECT day FROM counts, tot WHERE n * n_days >= total
    )
    SELECT e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events e
    JOIN busy b
      ON strftime(date_trunc('day', e.ts), '%Y-%m-%d') = b.day
    GROUP BY e.event_type
    """,
)
def q_dynamic_partition_pruning_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dynamic partition pruning: the fact side is day-partitioned,
    and the pruning days are only known at RUNTIME (the above-average
    days, n·n_days >= total — an exact-integer predicate both engines
    replay) — static PartitionFilters can't help, so Catalyst injects
    the broadcast dim's day set as a dynamicpruning subquery INTO the
    fact scan and skips every other day's files. (DPP requires a
    SELECTIVE dim-side Filter — a bare LIMIT/aggregate is rejected by
    the rule's benefit check, measured here.) The static-literal twin
    is partition_pruned_scan; the pytest asserts the dynamicpruning
    expression. At 100 TB this is the star-join pattern: the dim
    filter decides which fact partitions the scan ever opens."""
    import tempfile

    from taxi_trips_etl_spark.dataprep.materialize import materialize
    from taxi_trips_etl_spark.queries._registry import _events

    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    with tempfile.TemporaryDirectory(
        prefix="dpp_", ignore_cleanup_errors=True
    ) as work:
        ev.write.mode("overwrite").partitionBy("day").parquet(
            f"{work}/events_by_day"
        )
        counts = ev.groupBy("day").agg(
            F.count(F.lit(1)).cast("long").alias("n")
        )
        # Threshold as collected integer LITERALS: DPP's benefit check
        # wants a selective literal Filter on the dim side — the
        # crossJoin-broadcast scalar shape defeats it (measured). A
        # 2-long driver scalar is the kmeans-centroid-sized exception
        # to the no-collect rule.
        total, n_days = counts.agg(
            F.sum("n").cast("long"), F.count(F.lit(1)).cast("long")
        ).collect()[0]
        busy = counts.filter(
            F.col("n") * F.lit(int(n_days)) >= F.lit(int(total))
        ).select("day")
        fact = spark.read.parquet(f"{work}/events_by_day")
        out = materialize(
            fact.join(F.broadcast(busy), "day")
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_events"),
                F.sum(
                    F.round(F.col("value") * 100).cast("long")
                ).cast("long").alias("value_cents"),
            ),
            eager=True,
        )
    return out


@register(
    "pandas_api_groupby",
    """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(min(o_orderkey) AS BIGINT) AS min_orderkey,
           CAST(max(o_orderkey) AS BIGINT) AS max_orderkey,
           CAST(sum(o_custkey) AS BIGINT) AS custkey_sum
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_pandas_api_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas API on Spark (pyspark.pandas): the third user surface
    next to DataFrame and SQL — a pandas groupby/agg that PLANS as
    the same distributed HashAggregate (no driver materialization;
    ps frames are lazy Spark plans with an attached index). Integer
    aggregates only, so no float-summation order enters the hash.
    The demo matters for migration: pandas ETL scripts run unchanged
    at cluster scale."""
    import pyspark.pandas as ps

    pdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
    out = (
        pdf.groupby("o_orderpriority")
        .agg(
            n_orders=("o_orderkey", "count"),
            min_orderkey=("o_orderkey", "min"),
            max_orderkey=("o_orderkey", "max"),
            custkey_sum=("o_custkey", "sum"),
        )
        .reset_index()
    )
    sdf = out.to_spark()
    return sdf.select(
        "o_orderpriority",
        F.col("n_orders").cast("long"),
        F.col("min_orderkey").cast("long"),
        F.col("max_orderkey").cast("long"),
        F.col("custkey_sum").cast("long"),
    )
