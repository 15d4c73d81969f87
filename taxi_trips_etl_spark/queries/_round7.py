# Round-7 batch: physical-layout keys (Hilbert curve, rendezvous
# hashing), cross-shard dedup planning, corpus growth laws (Heaps,
# Zipf, n-gram novelty), feature engineering (leave-one-out target
# encoding, winsorization, equal-frequency binning), graph degree
# assortativity, and a deterministic subsampling confidence interval.
# Every statistic is located in exact integers (or a single final IEEE
# division / round(6) log-sum), so the DuckDB oracle hashes
# bit-identically; every mirrored formula additionally ships an
# independent plain-Python recomputation pytest
# (tests/test_round7_ops.py) per the registry review checklist.
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.queries._registry import (
    GRAMS_SQL,
    TOKS_SQL,
    _t,
    register,
)
from taxi_trips_etl_spark.queries._round5c import _KCORE_EDGES_SQL

__all__ = [
    "q_hilbert_layout_audit",
    "q_rendezvous_shard_assignment",
    "q_cross_shard_dedup_audit",
    "q_heaps_vocab_growth",
    "q_ngram_novelty_decay",
    "q_charclass_profile_by_source",
    "q_target_encode_loo",
    "q_winsorize_by_group",
    "q_quantile_bin_features",
    "q_graph_degree_assortativity",
    "q_zipf_rank_frequency_fit",
    "q_subsample_ci_revenue",
]


# ---------------------------------------------------------------------------
# 1. Hilbert-curve layout audit
# ---------------------------------------------------------------------------

_HILBERT_BITS = 8
_HILBERT_BUCKETS = 16


def _hilbert_oracle() -> str:
    """Unrolled per-bit Hilbert walk as chained CTEs (DECLARATIVE twin
    of dataprep/layout.py:hilbert_index — independently written SQL,
    plus the pure-Python xy2d recomputation in tests guards the
    mirrored-structure blind spot). Each step consumes (d, x, y) and
    emits (nd, nx, ny), renamed in a wrapper SELECT so no lateral alias
    ever shadows an input column."""
    steps = []
    prev = "h_in"
    for i, b in enumerate(range(_HILBERT_BITS - 1, -1, -1)):
        s = 1 << b
        steps.append(f"""
    h{i} AS (
        SELECT x0, y0, nd AS d, nx AS x, ny AS y FROM (
            SELECT x0, y0,
                   d + CASE WHEN (x & {s}) > 0 AND (y & {s}) > 0
                                THEN {2 * s * s}
                            WHEN (x & {s}) > 0 THEN {3 * s * s}
                            WHEN (y & {s}) > 0 THEN {s * s}
                            ELSE 0 END AS nd,
                   CASE WHEN (y & {s}) > 0 THEN x
                        WHEN (x & {s}) > 0 THEN {s - 1} - y
                        ELSE y END AS nx,
                   CASE WHEN (y & {s}) > 0 THEN y
                        WHEN (x & {s}) > 0 THEN {s - 1} - x
                        ELSE x END AS ny
            FROM {prev}
        )
    )""")
        prev = f"h{i}"
    side = 1 << _HILBERT_BITS
    span = (side * side) // _HILBERT_BUCKETS
    return f"""
    WITH p AS (
        SELECT DISTINCT CAST(l_partkey % {side} AS INTEGER) AS x0,
                        CAST(l_suppkey % {side} AS INTEGER) AS y0
        FROM lineitem
    ),
    h_in AS (SELECT x0, y0, CAST(0 AS BIGINT) AS d, x0 AS x, y0 AS y
             FROM p),
    {",".join(steps)},
    j AS (
        SELECT h.d, h.x0, h.y0
        FROM lineitem l
        JOIN {prev} h ON h.x0 = l.l_partkey % {side}
                     AND h.y0 = l.l_suppkey % {side}
    )
    SELECT CAST(d // {span} AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(d) AS BIGINT) AS d_lo, CAST(max(d) AS BIGINT) AS d_hi,
           CAST(min(x0) AS BIGINT) AS x_lo, CAST(max(x0) AS BIGINT) AS x_hi,
           CAST(min(y0) AS BIGINT) AS y_lo, CAST(max(y0) AS BIGINT) AS y_hi
    FROM j GROUP BY 1 ORDER BY 1
    """


@register("hilbert_layout_audit", _hilbert_oracle())
def q_hilbert_layout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout key + locality audit
    (dataprep/layout.py:hilbert_index). Maps (l_partkey, l_suppkey)
    onto a 256×256 grid, computes the Hilbert distance on the DISTINCT
    coordinate pairs only (≤ 65 536 rows — the unrolled bit walk runs
    on a dimension, broadcast back to the fact), then audits 16
    equal-width curve-range buckets: each aligned range must cover a
    compact 64×64 tile (x_hi−x_lo ≤ 63), which is exactly why sorting
    100 TB of files by this key lets a 2-column range predicate prune
    to a tile instead of a stripe. Completes the layout family next to
    zorder_key_customers (Z-order jumps at quadrant seams; Hilbert
    neighbors are always spatially adjacent)."""
    from taxi_trips_etl_spark.dataprep.layout import hilbert_index

    side = 1 << _HILBERT_BITS
    span = (side * side) // _HILBERT_BUCKETS
    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_partkey") % side).cast("int").alias("x0"),
        (F.col("l_suppkey") % side).cast("int").alias("y0"),
    )
    pairs = hilbert_index(li.distinct(), bits=_HILBERT_BITS)
    j = li.join(F.broadcast(pairs), ["x0", "y0"])
    return (
        j.groupBy(F.expr(f"hd div {span}").alias("bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("hd").cast("long").alias("d_lo"),
            F.max("hd").cast("long").alias("d_hi"),
            F.min("x0").cast("long").alias("x_lo"),
            F.max("x0").cast("long").alias("x_hi"),
            F.min("y0").cast("long").alias("y_lo"),
            F.max("y0").cast("long").alias("y_hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# 2. Rendezvous (highest-random-weight) shard assignment
# ---------------------------------------------------------------------------

_N_SHARDS = 8


@register(
    "rendezvous_shard_assignment",
    f"""
    WITH cand AS (
        SELECT d.doc_id, d.n_chars, s.shard,
               md5(concat(CAST(d.doc_id AS VARCHAR), '#',
                          CAST(s.shard AS VARCHAR))) AS h
        FROM documents d,
             (SELECT unnest(generate_series(0, {_N_SHARDS - 1})) AS shard) s
    ),
    best AS (
        SELECT doc_id, n_chars, shard,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY h DESC, shard) AS r
        FROM cand
    )
    SELECT CAST(shard AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM best WHERE r = 1 GROUP BY 1 ORDER BY 1
    """,
)
def q_rendezvous_shard_assignment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Rendezvous / highest-random-weight sharding (Thaler & Ravishankar
    1998): each doc goes to argmax_s md5(doc_id # s). Unlike mod-N
    hashing, adding or removing one shard moves only ~1/N of the keys —
    the property that matters when a 100 TB corpus is re-sharded
    across a changed worker fleet. The argmax is a width-N explode +
    one per-doc window (no shuffle beyond the doc_id hash partition);
    output is the per-shard load audit. Ties are impossible in
    practice (md5 collision) and broken by shard id deterministically."""
    docs = _t(spark, sf_dir, "documents")
    cand = docs.select(
        "doc_id",
        "n_chars",
        F.explode(F.sequence(F.lit(0), F.lit(_N_SHARDS - 1))).alias("shard"),
    ).withColumn(
        "h",
        F.md5(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit("#"),
                F.col("shard").cast("string"),
            )
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("h").desc(), "shard")
    return (
        cand.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") == 1)
        .groupBy(F.col("shard").cast("long").alias("shard_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# 3. Cross-shard exact-dup audit
# ---------------------------------------------------------------------------


@register(
    "cross_shard_dedup_audit",
    f"""
    WITH s AS (
        SELECT doc_id,
               md5(array_to_string(
                   list_slice({TOKS_SQL}, 1, 12), ' ')) AS sig,
               CAST(CAST(concat('0x',
                    substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                    % {_N_SHARDS} AS BIGINT) AS shard
        FROM documents
    ),
    g AS (
        SELECT sig, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT shard) AS BIGINT) AS n_shards
        FROM s GROUP BY 1 HAVING count(*) > 1
    )
    SELECT n_shards AS n_shards_touched,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_docs) AS BIGINT) AS n_dup_docs
    FROM g GROUP BY 1 ORDER BY 1
    """,
)
def q_cross_shard_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight for shard-local dedup: coarse dup groups (md5 of the
    12-token prefix — the cheap fingerprint crawl dedup uses before
    full-text hashing) crossed with a hash-shard assignment,
    histogrammed by how many shards each group's copies land on.
    Groups with n_shards_touched > 1 are exactly the duplicates a
    shard-local pass CANNOT see — the number that decides whether a
    100 TB dedup needs the global signature shuffle or can run
    embarrassingly parallel per shard. One scan, two grouped
    aggregations, all integers."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_col

    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        F.md5(F.array_join(F.slice(tokens_col(), 1, 12), " ")).alias("sig"),
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long")
            % _N_SHARDS
        ).alias("shard"),
    )
    g = (
        s.groupBy("sig")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("shard").cast("long").alias("n_shards"),
        )
        .filter(F.col("n_docs") > 1)
    )
    return (
        g.groupBy(F.col("n_shards").alias("n_shards_touched"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum("n_docs").cast("long").alias("n_dup_docs"),
        )
        .orderBy("n_shards_touched")
    )


# ---------------------------------------------------------------------------
# 4. Heaps'-law vocabulary growth
# ---------------------------------------------------------------------------


@register(
    "heaps_vocab_growth",
    f"""
    WITH b AS (
        SELECT doc_id,
               CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS bucket
        FROM documents
    ),
    tok AS (
        SELECT doc_id, tok FROM (
            SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents
        ) WHERE tok <> ''
    ),
    occ AS (
        SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_tok
        FROM tok t JOIN b ON b.doc_id = t.doc_id GROUP BY 1
    ),
    firsts AS (SELECT tok, min(doc_id) AS doc_id FROM tok GROUP BY 1),
    nv AS (
        SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_new
        FROM firsts f JOIN b ON b.doc_id = f.doc_id GROUP BY 1
    )
    SELECT bucket,
           CAST(sum(n_tok) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens,
           CAST(sum(n_new) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab
    FROM (
        SELECT o.bucket, o.n_tok, coalesce(nv.n_new, 0) AS n_new
        FROM occ o LEFT JOIN nv ON nv.bucket = o.bucket
    ) ORDER BY bucket
    """,
)
def q_heaps_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law curve: cumulative distinct vocabulary vs cumulative
    token count across 10 corpus deciles (doc_id order) — the
    diminishing-returns signal that sizes tokenizer vocabularies and
    predicts how much NEW text a crawl must add to grow coverage.
    First occurrences are a min-aggregate per token (one shuffle, no
    ordering of the token table); the cumulative window runs over 10
    rows. At 100 TB the decile assignment comes from range boundaries
    (range_partition_plan), not a global ntile sort."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    docs = _t(spark, sf_dir, "documents")
    b = docs.select(
        "doc_id",
        F.ntile(10).over(Window.orderBy("doc_id")).cast("long").alias("bucket"),
    )
    tok = (
        tokens_table(docs)
        .select("doc_id", F.explode("toks").alias("tok"))
        .filter(F.col("tok") != "")
    )
    # ONE tokenize pass for both curves: aggregate to (bucket, tok)
    # grain (≤ 10×vocab rows, materialized) and derive both sides from
    # it — occurrence totals are the per-bucket cnt sums, and because
    # ntile(10) OVER (ORDER BY doc_id) is monotone in doc_id, the
    # bucket of a token's FIRST doc is exactly min(bucket), so the
    # first-occurrence count per bucket needs no second tokenize +
    # min(doc_id) pass (r13: the lazy plan ran the corpus tokenize
    # spine and the doc-bucket window twice each, scans 4 → 2).
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    tb = materialize(
        tok.join(b, "doc_id")
        .groupBy("bucket", "tok")
        .agg(F.count(F.lit(1)).alias("cnt")),
        eager=False,
    )
    occ = tb.groupBy("bucket").agg(
        F.sum("cnt").cast("long").alias("n_tok")
    )
    nv = (
        tb.groupBy("tok")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    )
    d = (
        occ.join(nv, "bucket", "left")
        .select("bucket", "n_tok", F.coalesce("n_new", F.lit(0)).alias("n_new"))
    )
    w = Window.orderBy("bucket")
    return d.select(
        "bucket",
        F.sum("n_tok").over(w).cast("long").alias("cum_tokens"),
        F.sum("n_new").over(w).cast("long").alias("cum_vocab"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# 5. N-gram novelty decay
# ---------------------------------------------------------------------------


@register(
    "ngram_novelty_decay",
    f"""
    WITH b AS (
        SELECT doc_id,
               CAST(ntile(20) OVER (ORDER BY doc_id) AS BIGINT) AS bucket
        FROM documents
    ),
    g AS (SELECT doc_id, unnest(grams) AS gram FROM ({GRAMS_SQL})),
    per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams
            FROM g GROUP BY 1),
    fg AS (SELECT gram, min(doc_id) AS doc_id FROM g GROUP BY 1),
    nw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_new
           FROM fg GROUP BY 1),
    d AS (
        SELECT b.bucket,
               coalesce(p.n_grams, 0) AS n_grams,
               coalesce(n.n_new, 0) AS n_new
        FROM b LEFT JOIN per p ON p.doc_id = b.doc_id
               LEFT JOIN nw n ON n.doc_id = b.doc_id
    )
    SELECT bucket, CAST(sum(n_grams) AS BIGINT) AS n_grams,
           CAST(sum(n_new) AS BIGINT) AS n_new,
           CAST((2000 * sum(n_new) + sum(n_grams))
                // (2 * sum(n_grams)) AS BIGINT) AS novelty_milli
    FROM d GROUP BY 1 HAVING sum(n_grams) > 0 ORDER BY bucket
    """,
)
def q_ngram_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vigintile novelty: what fraction of each corpus slice's
    distinct 3-grams has never appeared in ANY earlier document —
    the curve data-curation uses to decide when additional crawl of a
    source stops adding information (novelty_milli decays toward the
    source's template floor). First-seen is one min-aggregate over the
    per-doc distinct gram table (same spine as dup_ngram_coverage);
    novelty_milli is integer round-half-up, CAST against DuckDB's
    HUGEINT sum arithmetic per the registry portability rule."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table, word_ngrams

    docs = _t(spark, sf_dir, "documents")
    # The per-doc gram count is size(word_ngrams(toks, 3)) — a narrow
    # per-row expression — so it rides the SAME pass as the vigintile
    # assignment instead of a second tokenize→explode→groupBy spine
    # (r13: documents scans 3 → 2, gram explode+shuffle passes 2 → 1;
    # explode drops empty-gram docs from `g`, so counting its rows per
    # doc equals the array length for every doc the old left join
    # could see a row for, and the coalesce(0) covers the rest either
    # way).
    per = tokens_table(docs).select(
        "doc_id",
        F.size(word_ngrams(F.col("toks"), 3)).cast("long").alias("n_grams"),
    )
    # n_grams is projected BELOW the ntile window so the
    # single-partition ordering exchange carries two longs per doc,
    # never the token arrays.
    b = per.withColumn(
        "bucket",
        F.ntile(20).over(Window.orderBy("doc_id")).cast("long"),
    )
    g = (
        tokens_table(docs)
        .select("doc_id", F.explode(word_ngrams(F.col("toks"), 3)).alias("gram"))
    )
    fg = g.groupBy("gram").agg(F.min("doc_id").alias("doc_id"))
    nw = fg.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_new"))
    d = (
        b.join(nw, "doc_id", "left")
        .select(
            "bucket",
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce("n_new", F.lit(0)).alias("n_new"),
        )
    )
    return (
        d.groupBy("bucket")
        .agg(
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_new").cast("long").alias("n_new"),
        )
        .filter(F.col("n_grams") > 0)
        .select(
            "bucket",
            "n_grams",
            "n_new",
            F.expr("(2000 * n_new + n_grams) div (2 * n_grams)")
            .cast("long")
            .alias("novelty_milli"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# 6. Character-class profile
# ---------------------------------------------------------------------------


@register(
    "charclass_profile_by_source",
    """
    SELECT source,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
                AS BIGINT) AS n_alpha,
           CAST(sum(length(regexp_replace(text, '[^0-9]', '', 'g')))
                AS BIGINT) AS n_digit,
           CAST(sum(length(regexp_replace(text, '[^ ]', '', 'g')))
                AS BIGINT) AS n_space,
           CAST(sum(length(text))
                - sum(length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
                - sum(length(regexp_replace(text, '[^0-9]', '', 'g')))
                - sum(length(regexp_replace(text, '[^ ]', '', 'g')))
                AS BIGINT) AS n_other
    FROM documents GROUP BY 1 ORDER BY 1
    """,
)
def q_charclass_profile_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source character-class census (ASCII letters / digits /
    spaces / other) — the cheap script-and-noise profile that routes
    documents to the right language-ID and quality models and catches
    binary-junk sources before tokenization. Counting by deleting the
    complement class (length(regexp_replace(…, '', g))) keeps it one
    JVM-side scan, no explode; n_other is derived by subtraction so
    the four classes always sum to n_chars."""
    docs = _t(spark, sf_dir, "documents")

    def keep(pat: str):
        return F.length(F.regexp_replace(F.col("text"), pat, ""))

    return (
        docs.groupBy("source")
        .agg(
            F.sum(F.length("text")).cast("long").alias("n_chars"),
            F.sum(keep("[^A-Za-z]")).cast("long").alias("n_alpha"),
            F.sum(keep("[^0-9]")).cast("long").alias("n_digit"),
            F.sum(keep("[^ ]")).cast("long").alias("n_space"),
        )
        .select(
            "source",
            "n_chars",
            "n_alpha",
            "n_digit",
            "n_space",
            (
                F.col("n_chars") - F.col("n_alpha") - F.col("n_digit")
                - F.col("n_space")
            ).cast("long").alias("n_other"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# 7. Leave-one-out target encoding
# ---------------------------------------------------------------------------


@register(
    "target_encode_loo",
    """
    WITH o AS (
        SELECT o_orderkey, CAST(c.c_nationkey AS BIGINT) AS nation_key,
               CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1
                         ELSE 0 END AS BIGINT) AS target
        FROM orders JOIN customer c ON c.c_custkey = o_custkey
    ),
    s AS (
        SELECT nation_key, CAST(sum(target) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM o GROUP BY 1
    )
    SELECT o.o_orderkey, o.nation_key, o.target,
           CAST((2000 * (s.s - o.target) + (s.n - 1))
                // (2 * (s.n - 1)) AS BIGINT) AS loo_rate_milli
    FROM o JOIN s ON s.nation_key = o.nation_key
    WHERE o.o_orderkey % 101 = 0 AND s.n > 1
    ORDER BY o.o_orderkey
    """,
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of customer nation against the
    is-urgent order label — the standard high-cardinality categorical
    feature for tabular models, with the row's OWN label excluded so
    the feature can't leak the target it encodes. Exact integer milli
    rate (2000·(S−t)+(n−1)) div (2·(n−1)); group statistics are a
    25-row aggregate broadcast back to the fact side, so the encode
    adds no shuffle beyond the customer join it rides."""
    o = (
        _t(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "o_orderkey",
            F.col("c_nationkey").cast("long").alias("nation_key"),
            F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            .otherwise(0)
            .cast("long")
            .alias("target"),
        )
    )
    s = o.groupBy("nation_key").agg(
        F.sum("target").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        o.join(F.broadcast(s.filter(F.col("n") > 1)), "nation_key")
        .filter(F.col("o_orderkey") % 101 == 0)
        .select(
            "o_orderkey",
            "nation_key",
            "target",
            F.expr("(2000 * (s - target) + (n - 1)) div (2 * (n - 1))")
            .cast("long")
            .alias("loo_rate_milli"),
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# 8. Winsorization by group
# ---------------------------------------------------------------------------


@register(
    "winsorize_by_group",
    """
    WITH o AS (
        SELECT o_orderkey, CAST(c.c_nationkey AS BIGINT) AS nk,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders JOIN customer c ON c.c_custkey = o_custkey
    ),
    r AS (
        SELECT nk, cents,
               row_number() OVER (PARTITION BY nk
                                  ORDER BY cents, o_orderkey) AS r,
               CAST(count(*) OVER (PARTITION BY nk) AS BIGINT) AS n
        FROM o
    ),
    q AS (
        SELECT nk, CAST(max(n) AS BIGINT) AS n_orders,
               CAST(max(CASE WHEN r = (n * 5 + 99) // 100
                             THEN cents END) AS BIGINT) AS lo_cents,
               CAST(max(CASE WHEN r = (n * 95 + 99) // 100
                             THEN cents END) AS BIGINT) AS hi_cents
        FROM r GROUP BY 1
    )
    SELECT o.nk AS nation_key, q.n_orders, q.lo_cents, q.hi_cents,
           CAST(sum(o.cents) AS BIGINT) AS raw_sum_cents,
           CAST(sum(CASE WHEN o.cents < q.lo_cents THEN q.lo_cents
                         WHEN o.cents > q.hi_cents THEN q.hi_cents
                         ELSE o.cents END) AS BIGINT) AS wins_sum_cents
    FROM o JOIN q ON q.nk = o.nk
    GROUP BY 1, 2, 3, 4 ORDER BY 1
    """,
)
def q_winsorize_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation winsorization of order totals at the exact empirical
    [p05, p95]: the robust-mean preprocessing that tames heavy-tailed
    revenue before averaging, with the clip points defined by rank
    (value at ceil(0.05·n), deterministic tie order by orderkey) so
    both engines pick the identical cents. One per-group sort window
    for the quantile ranks, then a 25-row broadcast back for the
    clipped re-aggregate — the fact table is scanned, never re-sorted,
    for the second pass."""
    o = (
        _t(spark, sf_dir, "orders")
        .join(
            F.broadcast(
                _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "o_orderkey",
            F.col("c_nationkey").cast("long").alias("nk"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    wr = Window.partitionBy("nk").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("nk")
    r = o.select(
        "nk",
        "cents",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    q = r.groupBy("nk").agg(
        F.max("n").cast("long").alias("n_orders"),
        F.max(F.when(F.col("r") == F.expr("(n * 5 + 99) div 100"), F.col("cents")))
        .cast("long")
        .alias("lo_cents"),
        F.max(F.when(F.col("r") == F.expr("(n * 95 + 99) div 100"), F.col("cents")))
        .cast("long")
        .alias("hi_cents"),
    )
    return (
        o.join(F.broadcast(q), "nk")
        .groupBy(
            F.col("nk").alias("nation_key"), "n_orders", "lo_cents", "hi_cents"
        )
        .agg(
            F.sum("cents").cast("long").alias("raw_sum_cents"),
            F.sum(
                F.when(F.col("cents") < F.col("lo_cents"), F.col("lo_cents"))
                .when(F.col("cents") > F.col("hi_cents"), F.col("hi_cents"))
                .otherwise(F.col("cents"))
            )
            .cast("long")
            .alias("wins_sum_cents"),
        )
        .orderBy("nation_key")
    )


# ---------------------------------------------------------------------------
# 9. Equal-frequency binning
# ---------------------------------------------------------------------------


@register(
    "quantile_bin_features",
    """
    WITH v AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               l_orderkey, l_linenumber
        FROM lineitem
    ),
    b AS (
        SELECT cents,
               CAST(ntile(10) OVER (ORDER BY cents, l_orderkey, l_linenumber)
                    AS BIGINT) AS bin
        FROM v
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           CAST(min(cents) AS BIGINT) AS lo_cents,
           CAST(max(cents) AS BIGINT) AS hi_cents,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def q_quantile_bin_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-frequency (decile) binning of line-item price — the
    deterministic counterpart of QuantileDiscretizer for feature
    pipelines that must reproduce bin edges bit-identically across
    runs and engines. ntile over a TOTAL order (ties broken by the
    composite row key) makes bin populations differ by at most one
    row. The global sort is the cost; at 100 TB the same output comes
    from sampled_range_partition_plan boundaries + one partition-local
    pass, trading exactness of the edge rows for no global sort."""
    v = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        "l_orderkey",
        "l_linenumber",
    )
    b = v.select(
        "cents",
        F.ntile(10)
        .over(Window.orderBy("cents", "l_orderkey", "l_linenumber"))
        .cast("long")
        .alias("bin"),
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("cents").cast("long").alias("lo_cents"),
            F.max("cents").cast("long").alias("hi_cents"),
            F.sum("cents").cast("long").alias("sum_cents"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# 10. Degree assortativity
# ---------------------------------------------------------------------------


@register(
    "graph_degree_assortativity",
    "WITH "
    + _KCORE_EDGES_SQL
    + """,
    deg AS (SELECT a AS v, CAST(count(*) AS BIGINT) AS deg
            FROM e0 GROUP BY 1),
    xy AS (
        SELECT da.deg AS x, db.deg AS y
        FROM e0 JOIN deg da ON da.v = e0.a JOIN deg db ON db.v = e0.b
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS m,
               CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(x * x) AS BIGINT) AS sxx,
               CAST(sum(y * y) AS BIGINT) AS syy,
               CAST(sum(x * y) AS BIGINT) AS sxy
        FROM xy
    )
    SELECT m AS m_directed_edges, sx AS sum_deg, sxy AS sum_deg_prod,
           round((CAST(m AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(m AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(m AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS assortativity
    FROM s
    """,
)
def q_graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity (Newman 2002) of the supplier-transition
    graph: the Pearson correlation of endpoint degrees over all
    directed edge instances — positive means hubs link hubs (social
    topology), negative means hubs fan out to leaves (infrastructure
    topology); the single scalar that characterizes whether skew-join
    pressure on this graph concentrates or disperses. All five moment
    sums are exact integers on the symmetrized edge list (same spine
    as graph_kcore); the only floats are the final closed form's
    IEEE ops, identical expression tree on both engines, round(6)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    reps = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_custkey", "o_orderkey", "o_orderdate")
        .agg(F.min("l_suppkey").alias("rep"))
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dedges = (
        reps.select("rep", F.lag("rep").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("prev") != F.col("rep")))
        .select(F.col("prev").alias("src"), F.col("rep").alias("dst"))
    )
    canon = dedges.select(
        F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
    ).distinct()
    # canon is the smallest fact-derived frame but fans out into e0's
    # two arms × (deg + both xy joins): the round-11 plan audit found
    # the orders⨝lineitem→window→distinct spine instantiated 12× in
    # the lazy plan with zero exchange reuse. One lazy checkpoint
    # collapses that to a single execution (pagerank/kcore pattern).
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    canon = canon.transform(materialize, eager=False)
    e0 = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = e0.groupBy(F.col("a").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    xy = (
        e0.join(deg.select(F.col("v").alias("a"), F.col("deg").alias("x")), "a")
        .join(deg.select(F.col("v").alias("b"), F.col("deg").alias("y")), "b")
        .select("x", "y")
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    return s.select(
        F.col("m").alias("m_directed_edges"),
        F.col("sx").alias("sum_deg"),
        F.col("sxy").alias("sum_deg_prod"),
        F.round(
            (F.col("m").cast("double") * F.col("sxy")
             - F.col("sx").cast("double") * F.col("sy"))
            / F.sqrt(
                (F.col("m").cast("double") * F.col("sxx")
                 - F.col("sx").cast("double") * F.col("sx"))
                * (F.col("m").cast("double") * F.col("syy")
                   - F.col("sy").cast("double") * F.col("sy"))
            ),
            6,
        ).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# 11. Zipf rank-frequency fit
# ---------------------------------------------------------------------------


@register(
    "zipf_rank_frequency_fit",
    f"""
    WITH c AS (
        SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest({TOKS_SQL}) AS tok FROM documents
        ) WHERE tok <> '' GROUP BY 1
    ),
    top AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rnk
        FROM c
    ),
    sel AS (
        SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(cnt AS DOUBLE)) AS y
        FROM top WHERE rnk <= 200
    ),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy
        FROM sel
    )
    SELECT n AS n_ranks,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
           round((sy - (CAST(n AS DOUBLE) * sxy - sx * sy)
                       / (CAST(n AS DOUBLE) * sxx - sx * sx) * sx)
                 / CAST(n AS DOUBLE), 6) AS zipf_intercept
    FROM s
    """,
)
def q_zipf_rank_frequency_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: OLS slope of ln(frequency) on ln(rank) over the
    top-200 tokens — slope ≈ −1 is natural language, a flat slope is
    template spam, a cliff is tag soup; with heaps_vocab_growth it is
    the two-number corpus-health summary. Token counts and ranks are
    exact integers; logs and the closed-form slope are the only
    doubles, summed over a FIXED 200-row set so round(6) absorbs
    summation-order noise (token_entropy precedent)."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    docs = _t(spark, sf_dir, "documents")
    c = (
        tokens_table(docs)
        .select(F.explode("toks").alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    top = c.select(
        "cnt",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), "tok")).alias("rnk"),
    ).filter(F.col("rnk") <= 200)
    sel = top.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    s = sel.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    slope = (n_d * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n_d * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / n_d, 6).alias(
            "zipf_intercept"
        ),
    )


# ---------------------------------------------------------------------------
# 12. Deterministic subsampling CI
# ---------------------------------------------------------------------------

_N_REPLICATES = 64


@register(
    "subsample_ci_revenue",
    f"""
    WITH day AS (
        SELECT o_orderdate AS d,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS rev
        FROM orders GROUP BY 1
    ),
    reps AS (
        SELECT b.b, day.rev
        FROM day, (SELECT unnest(generate_series(0, {_N_REPLICATES - 1}))
                   AS b) b
        WHERE substr(md5(concat(CAST(day.d AS VARCHAR), '#',
                                CAST(b.b AS VARCHAR))), 1, 1) < '8'
    ),
    m AS (
        SELECT b, CAST((2000 * sum(rev) + count(*)) // (2 * count(*))
                       AS BIGINT) AS mean_milli
        FROM reps GROUP BY 1
    ),
    r AS (
        SELECT mean_milli,
               row_number() OVER (ORDER BY mean_milli, b) AS r,
               CAST(count(*) OVER () AS BIGINT) AS nb
        FROM m
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM day) AS n_days,
           (SELECT CAST((2000 * sum(rev) + count(*)) // (2 * count(*))
                        AS BIGINT) FROM day) AS mean_all_milli,
           CAST(max(CASE WHEN r = (nb * 5 + 99) // 100
                         THEN mean_milli END) AS BIGINT) AS lo_milli,
           CAST(max(CASE WHEN r = (nb * 95 + 99) // 100
                         THEN mean_milli END) AS BIGINT) AS hi_milli
    FROM r
    """,
)
def q_subsample_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic half-sampling confidence interval for mean daily
    revenue (Politis-Romano subsampling, the embarrassingly-parallel
    cousin of the bootstrap): 64 replicates, day d in replicate b iff
    the first md5 hex digit of "d#b" < '8' (exact p=1/2, identical on
    every engine — no RNG state to ship). Replicate means are integer
    round-half-up milli-cents; the CI is the rank-[ceil(.05·B),
    ceil(.95·B)] pair of the sorted replicate means. Each replicate is
    one filtered partial aggregate over the tiny day table, so the
    whole CI costs B small scans of a pre-aggregated spine — at 100 TB
    the day rollup is the only pass over the facts."""
    day = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderdate").alias("d"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev")
        )
    )
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    day = day.transform(materialize, eager=False)
    reps = (
        day.select(
            "d",
            "rev",
            F.explode(F.sequence(F.lit(0), F.lit(_N_REPLICATES - 1))).alias("b"),
        )
        .filter(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("d").cast("string"),
                        F.lit("#"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                1,
            )
            < "8"
        )
    )
    m = reps.groupBy("b").agg(
        F.expr("CAST((2000 * sum(rev) + count(1)) div (2 * count(1)) AS LONG)")
        .alias("mean_milli")
    )
    r = m.select(
        "mean_milli",
        F.row_number().over(Window.orderBy("mean_milli", "b")).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("nb"),
    )
    ci = r.agg(
        F.max(
            F.when(F.col("r") == F.expr("(nb * 5 + 99) div 100"), F.col("mean_milli"))
        )
        .cast("long")
        .alias("lo_milli"),
        F.max(
            F.when(F.col("r") == F.expr("(nb * 95 + 99) div 100"), F.col("mean_milli"))
        )
        .cast("long")
        .alias("hi_milli"),
    )
    overall = day.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr("CAST((2000 * sum(rev) + count(1)) div (2 * count(1)) AS LONG)")
        .alias("mean_all_milli"),
    )
    return overall.crossJoin(ci).select(
        "n_days", "mean_all_milli", "lo_milli", "hi_milli"
    )
