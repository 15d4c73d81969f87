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
# Dedup operators (north-star)
# ===========================================================================


@register(
    "dedup_exact",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,
           count(1) AS dup_count
    FROM documents GROUP BY 1
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_duplicates(_t(spark, sf_dir, "documents"))


_MINHASH_SIG_SQL = ", ".join(
    f"list_min(list_transform(grams, g -> md5('{i}:' || g))) AS mh{i}"
    for i in range(dedup.MINHASH_K)
)
_MINHASH_BANDS_SQL = " UNION ALL ".join(
    f"""SELECT doc_id, {b} AS band_id,
        md5(concat_ws('|', mh{b * 4}, mh{b * 4 + 1}, mh{b * 4 + 2}, mh{b * 4 + 3}))
            AS band_key FROM sig"""
    for b in range(dedup.LSH_BANDS)
)


@register(
    "dedup_minhash_lsh",
    f"""
    WITH shingled AS ({GRAMS_SQL}),
    sig AS (SELECT doc_id, {_MINHASH_SIG_SQL} FROM shingled),
    bands AS ({_MINHASH_BANDS_SQL})
    SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    """,
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_candidates(_t(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_incremental",
    f"""
    WITH shingled AS ({GRAMS_SQL}),
    sig AS (SELECT doc_id, {_MINHASH_SIG_SQL} FROM shingled),
    bands AS ({_MINHASH_BANDS_SQL}),
    nb AS (SELECT * FROM bands WHERE doc_id % 10 = 0)
    SELECT DISTINCT least(n.doc_id, c.doc_id) AS doc_id_a,
           greatest(n.doc_id, c.doc_id) AS doc_id_b
    FROM nb n JOIN bands c
      ON n.band_id = c.band_id AND n.band_key = c.band_key
     AND n.doc_id != c.doc_id
    """,
)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta dedup: the doc_id%10==0 slice is the ingest batch; pairs
    touch the batch only — corpus×corpus is never re-paired."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_incremental(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


def _simhash_fp_sql() -> str:
    bit_terms = " + ".join(
        f"""CASE WHEN list_sum(list_transform(hs,
                h -> ((h >> {j}) & 1) * 2 - 1)) > 0
            THEN CAST({1 << j} AS BIGINT) ELSE 0 END"""
        for j in range(dedup.SIMHASH_BITS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, list_distinct({TOKS_SQL}) AS dtoks FROM documents
    ),
    hs AS (
        SELECT doc_id,
               list_transform(dtoks,
                   t -> CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT)) AS hs
        FROM toks
    )
    SELECT doc_id, {bit_terms} AS simhash FROM hs
    """


@register("dedup_simhash_fingerprint", _simhash_fp_sql())
def q_dedup_simhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(_t(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    f"""
    WITH fp AS ({_simhash_fp_sql()}),
    banded AS (
        SELECT doc_id, simhash, b.band_id,
               (simhash >> (b.band_id * 15)) & 32767 AS band_val
        FROM fp, (SELECT unnest(generate_series(0, 3)) AS band_id) b
    ),
    pairs AS (
        SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               a.simhash AS sh_a, b.simhash AS sh_b
        FROM banded a JOIN banded b
          ON a.band_id = b.band_id AND a.band_val = b.band_val
         AND a.doc_id < b.doc_id
    )
    SELECT doc_id_a, doc_id_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS BIGINT) AS hamming
    FROM pairs
    WHERE bit_count(xor(sh_a, sh_b)) <= 3
    """,
)
def q_dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_duplicates(_t(spark, sf_dir, "documents"))


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH g AS (SELECT doc_id, grams, len(grams) AS n_grams FROM ({GRAMS_SQL})
               WHERE len(grams) > 0)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(a.grams || b.grams)), 6) AS jaccard
    FROM g a JOIN g b
      ON a.doc_id < b.doc_id
     AND least(a.n_grams, b.n_grams) >= greatest(a.n_grams, b.n_grams) * 0.8
    WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                / len(list_distinct(a.grams || b.grams)), 6) >= 0.8
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


# ===========================================================================
# Similarity search (north-star)
# ===========================================================================

_COS_SQL = """
    list_sum(list_transform(generate_series(1, len(a.emb)),
                            i -> a.emb[i] * b.emb[i]))
    / (sqrt(list_sum(list_transform(generate_series(1, len(a.emb)),
                                    i -> a.emb[i] * a.emb[i])))
       * sqrt(list_sum(list_transform(generate_series(1, len(b.emb)),
                                      i -> b.emb[i] * b.emb[i]))))
"""


@register(
    "similarity_cosine_topk",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cos
        FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS knn_rank
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
           CAST(knn_rank AS BIGINT) AS knn_rank
    FROM ranked WHERE knn_rank <= 5
    """,
)
def q_similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_bruteforce(_t(spark, sf_dir, "embeddings"))


@register(
    "ann_recall_at_k",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cos,
               substr(list_aggregate(list_transform(
                       generate_series(1, 6),
                       i -> CASE WHEN a.emb[i] > 0 THEN '1' ELSE '0' END),
                   'string_agg', ''), 1, 6) AS qb,
               substr(list_aggregate(list_transform(
                       generate_series(1, 6),
                       i -> CASE WHEN b.emb[i] > 0 THEN '1' ELSE '0' END),
                   'string_agg', ''), 1, 6) AS nb
        FROM e a JOIN e b ON a.vec_id < 10 AND a.vec_id != b.vec_id
    ),
    exact AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS r
        FROM scored
    ),
    truth AS (SELECT query_id, neighbor_id FROM exact WHERE r <= 3),
    approx AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS r
        FROM scored WHERE qb = nb
    ),
    hits AS (
        SELECT t.query_id,
               sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_hit
        FROM truth t
        LEFT JOIN (SELECT query_id, neighbor_id FROM approx WHERE r <= 3) a
          ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
        GROUP BY 1
    )
    SELECT query_id, CAST(n_hit AS BIGINT) AS n_hit,
           round(CAST(n_hit AS DOUBLE) / 3, 4) AS recall_at_3
    FROM hits
    """,
)
def q_ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN self-evaluation: recall@3 of the sign-LSH bucket index
    against brute-force ground truth, per query — the metric that
    tells you whether an index's speed is costing you quality. Both
    sides are this repo's own operators; the comparison is one tiny
    join on (query, neighbor)."""
    emb = _t(spark, sf_dir, "embeddings")
    truth = similarity.cosine_topk_bruteforce(
        emb, query_ids_below=10, k=3
    ).select("query_id", "neighbor_id")
    approx = similarity.cosine_topk_lsh(emb, planes=6).select(
        "query_id", F.col("neighbor_id").alias("a_neighbor")
    )
    return (
        truth.join(
            approx,
            (truth["query_id"] == approx["query_id"])
            & (truth["neighbor_id"] == approx["a_neighbor"]),
            "left",
        )
        .drop(approx["query_id"])
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("a_neighbor").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_hit")
        )
        .select(
            "query_id",
            "n_hit",
            F.round(F.col("n_hit") / 3, 4).alias("recall_at_3"),
        )
    )


@register(
    "embedding_centroid_by_source",
    """
    WITH j AS (SELECT d.source, CAST(e.embedding AS DOUBLE[]) AS emb
               FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id),
    f AS (SELECT source,
                 unnest(list_transform(generate_series(1, len(emb)),
                        i -> {'pos': i, 'x': emb[i]})) AS u
          FROM j)
    SELECT source, CAST(u.pos AS BIGINT) AS dim,
           round(avg(u.x), 6) AS centroid_val,
           CAST(count(*) AS BIGINT) AS n_vectors
    FROM f GROUP BY 1, 2
    """,
)
def q_embedding_centroid_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain embedding centroids (long form: source × dim) — the
    domain-profile vectors used for mixture diagnostics and drift
    monitoring. posexplode → one partial-agg shuffle on (source, dim);
    the shuffle carries scalar partial sums, never vectors."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    emb = _t(spark, sf_dir, "embeddings")
    j = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "source",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    f = j.select("source", F.posexplode("emb").alias("pos0", "x"))
    return (
        f.groupBy("source", (F.col("pos0") + 1).cast("long").alias("dim"))
        .agg(
            F.round(F.avg("x"), 6).alias("centroid_val"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .select("source", "dim", "centroid_val", F.col("n_vectors").cast("long"))
    )


@register(
    "semantic_search_docs",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               {_COS_SQL} AS cos
        FROM e a JOIN e b ON a.vec_id < 5 AND a.vec_id != b.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS knn_rank
        FROM scored
    )
    SELECT r.query_id, r.neighbor_id, round(r.cos, 6) AS cosine,
           CAST(r.knn_rank AS BIGINT) AS knn_rank,
           substr(d.text, 1, 80) AS snippet, d.source
    FROM ranked r JOIN documents d ON r.neighbor_id = d.doc_id
    WHERE r.knn_rank <= 3
    """,
)
def q_semantic_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval end-to-end: ANN over the embedding table joined back
    to the documents table for display (the RAG-retrieval read path).
    The hit list is tiny (queries × k), so the text join broadcasts
    the HITS into documents — the corpus text is scanned once, never
    shuffled, and only matching rows carry text."""
    hits = similarity.cosine_topk_bruteforce(
        _t(spark, sf_dir, "embeddings"), query_ids_below=5, k=3
    )
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.join(
            F.broadcast(hits),
            F.col("doc_id") == F.col("neighbor_id"),
        )
        .select(
            "query_id",
            "neighbor_id",
            "cosine",
            "knn_rank",
            F.substring("text", 1, 80).alias("snippet"),
            "source",
        )
    )


@register(
    "similarity_lsh_topk",
    f"""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
               array_to_string(list_transform(embedding[1:8],
                   x -> CASE WHEN x > 0 THEN '1' ELSE '0' END), '') AS bucket
        FROM embeddings
    ),
    scored AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {_COS_SQL} AS cos
        FROM e a JOIN e b
          ON a.vec_id < 10 AND a.vec_id != b.vec_id AND a.bucket = b.bucket
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
def q_similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_topk_lsh(_t(spark, sf_dir, "embeddings"))


# ===========================================================================
# Text analysis (north-star)
# ===========================================================================


def _pii_scrub_sql_expr() -> str:
    """Nested regexp_replace chain built from the SAME pattern table the
    Spark operator uses (dataprep/text.py:PII_PATTERNS) — one source of
    truth for the RE2/Java-portable pattern subset."""
    from taxi_trips_etl_spark.dataprep.text import PII_PATTERNS

    expr = "text"
    for pat, repl in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


@register(
    "text_pii_scrub",
    f"""
    WITH s AS (SELECT doc_id, text, {_pii_scrub_sql_expr()} AS scrubbed_text
               FROM documents)
    SELECT doc_id, scrubbed_text,
           CAST(text != scrubbed_text AS BIGINT) AS pii_found
    FROM s
    """,
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/URLs/IPs/phones → typed placeholders) —
    the pre-training privacy pass, pure regexp_replace chain."""
    return text.pii_scrub(_t(spark, sf_dir, "documents"))


@register(
    "text_lexical_diversity",
    f"""
    WITH tok AS (SELECT doc_id, unnest({TOKS_SQL}) AS tok FROM documents),
    per AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    a AS (SELECT doc_id, sum(c) AS n, count(*) AS d, max(c) AS m,
                 sum(c * log2(CAST(c AS DOUBLE))) AS clogc
          FROM per GROUP BY 1)
    SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
           CAST(d AS BIGINT) AS n_distinct_tokens,
           round(CAST(d AS DOUBLE) / n, 4) AS ttr,
           round(CAST(m AS DOUBLE) / n, 4) AS top_token_frac,
           round(log2(CAST(n AS DOUBLE)) - clogc / n, 4) AS token_entropy
    FROM a
    """,
)
def q_text_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio, top-token fraction, unigram entropy — the
    repetition/templated-text quality signals."""
    return text.lexical_diversity(_t(spark, sf_dir, "documents"))


@register(
    "corpus_decontaminate",
    f"""
    WITH g AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len({TOKS_SQL}) - 4),
                   i -> concat_ws(' ', {TOKS_SQL}[i], {TOKS_SQL}[i+1],
                                  {TOKS_SQL}[i+2], {TOKS_SQL}[i+3],
                                  {TOKS_SQL}[i+4])))) AS gram
        FROM documents
        WHERE len({TOKS_SQL}) >= 5
    ),
    ev AS (SELECT doc_id AS eval_doc_id, gram FROM g WHERE doc_id % 20 = 0)
    SELECT DISTINCT g.doc_id, ev.eval_doc_id
    FROM g JOIN ev USING (gram)
    WHERE g.doc_id != ev.eval_doc_id
    """,
)
def q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing a 5-token shingle
    with the deterministic pseudo-eval slice (doc_id % 20 == 0) — the
    test-set-leakage hygiene op, one gram equi-join, never doc×doc."""
    docs = _t(spark, sf_dir, "documents")
    return text.ngram_decontaminate(
        docs, docs.filter(F.col("doc_id") % 20 == 0)
    )


@register(
    "text_repetition_scores",
    f"""
    WITH t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    bi AS (SELECT doc_id, 2 AS gram_n,
                  unnest(list_transform(generate_series(1, len(toks) - 1),
                         i -> concat_ws(' ', toks[i], toks[i+1]))) AS gram
           FROM t WHERE len(toks) >= 2),
    tri AS (SELECT doc_id, 3 AS gram_n,
                   unnest(list_transform(generate_series(1, len(toks) - 2),
                          i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])))
                       AS gram
            FROM t WHERE len(toks) >= 3),
    c AS (SELECT doc_id, gram_n, gram, count(*) AS c
          FROM (SELECT * FROM bi UNION ALL SELECT * FROM tri) GROUP BY 1, 2, 3),
    a AS (SELECT doc_id, gram_n, sum(c) AS n, max(c) AS m,
                 sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup
          FROM c GROUP BY 1, 2)
    SELECT d.doc_id,
           CAST(coalesce(max(CASE WHEN gram_n = 2 THEN n END), 0) AS BIGINT)
               AS n_bigrams,
           round(coalesce(CAST(max(CASE WHEN gram_n = 2 THEN m END) AS DOUBLE)
                 / max(CASE WHEN gram_n = 2 THEN n END), 0), 4)
               AS top_bigram_frac,
           round(coalesce(CAST(max(CASE WHEN gram_n = 2 THEN dup END) AS DOUBLE)
                 / max(CASE WHEN gram_n = 2 THEN n END), 0), 4)
               AS dup_bigram_frac,
           CAST(coalesce(max(CASE WHEN gram_n = 3 THEN n END), 0) AS BIGINT)
               AS n_trigrams,
           round(coalesce(CAST(max(CASE WHEN gram_n = 3 THEN dup END) AS DOUBLE)
                 / max(CASE WHEN gram_n = 3 THEN n END), 0), 4)
               AS dup_trigram_frac
    FROM documents d LEFT JOIN a ON d.doc_id = a.doc_id
    GROUP BY d.doc_id
    """,
)
def q_text_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters: top-bigram fraction and
    duplicate bigram/trigram fractions per doc."""
    return text.repetition_scores(_t(spark, sf_dir, "documents"))


@register(
    "pack_sequences",
    f"""
    WITH t AS (SELECT doc_id, CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens
               FROM documents),
    s AS (SELECT doc_id, n_tokens,
                 CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS start_offset
          FROM t)
    SELECT doc_id, n_tokens, start_offset,
           start_offset // 512 AS first_seq,
           (start_offset + n_tokens - 1) // 512 AS last_seq,
           (start_offset + n_tokens - 1) // 512 - start_offset // 512 + 1
               AS n_seqs
    FROM s
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenate-and-split packing plan at seq_len=512. The oracle is
    the naive global-window prefix sum; the Spark impl is the two-pass
    bucketed equivalent (see dataprep/packing.py) — same numbers, no
    single-partition window."""
    from taxi_trips_etl_spark.dataprep.packing import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"))


@register(
    "domain_mixture_sample",
    """
    WITH c AS (SELECT source, CAST(count(*) AS DOUBLE) AS n_domain
               FROM documents GROUP BY 1),
    s AS (SELECT sum(n_domain) AS n_total, sum(sqrt(n_domain)) AS w_total
          FROM c),
    r AS (SELECT c.source,
                 CAST(floor(least(1.0, 0.5 * s.n_total * sqrt(c.n_domain)
                                  / s.w_total / c.n_domain) * 4294967296.0)
                      AS BIGINT) AS threshold
          FROM c, s)
    SELECT d.doc_id, d.source
    FROM documents d JOIN r ON d.source = r.source
    WHERE CAST(concat('0x', substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)),
                                   1, 8)) AS BIGINT) < r.threshold
    """,
)
def q_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted (alpha=0.5) domain rebalancing to ~50% of
    the corpus, content-hash membership — the multi-source mixing op."""
    from taxi_trips_etl_spark.dataprep.sampling import domain_mixture_sample

    return domain_mixture_sample(_t(spark, sf_dir, "documents")).select(
        "doc_id", "source"
    )


@register(
    "build_vocab",
    f"""
    WITH tok AS (SELECT unnest({TOKS_SQL}) AS token FROM documents),
    c AS (SELECT token, count(*) AS n_occurrences FROM tok GROUP BY 1),
    top AS (SELECT token, n_occurrences FROM c
            ORDER BY n_occurrences DESC, token ASC LIMIT 1000)
    SELECT token,
           CAST(row_number() OVER (ORDER BY n_occurrences DESC, token ASC) - 1
                AS BIGINT) AS token_id,
           CAST(n_occurrences AS BIGINT) AS n_occurrences
    FROM top
    """,
)
def q_build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary: top-1000 terms by global count with
    deterministic dense ids (parallel top-k, no global term sort)."""
    return text.build_vocab(_t(spark, sf_dir, "documents"), vocab_size=1000)


@register(
    "c4_quality_filter",
    f"""
    WITH t AS (SELECT doc_id, text, {TOKS_SQL} AS toks FROM documents),
    m AS (SELECT doc_id,
                 len(toks) AS n_tokens,
                 CAST(list_sum(list_transform(toks, w -> length(w)))
                      AS DOUBLE) / len(toks) AS mean_len,
                 length(text) AS n_chars,
                 length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                     AS n_weird,
                 list_max(list_transform(toks, w -> length(w))) AS max_tok
          FROM t)
    SELECT doc_id,
           CAST(n_tokens >= 5 AND n_tokens <= 10000 AS BIGINT) AS ok_n_tokens,
           CAST(mean_len >= 2 AND mean_len <= 12 AS BIGINT) AS ok_mean_len,
           CAST(n_weird < n_chars * 0.3 AS BIGINT) AS ok_symbols,
           CAST(max_tok <= 40 AS BIGINT) AS ok_max_tok,
           CAST(n_tokens >= 5 AND n_tokens <= 10000
                AND mean_len >= 2 AND mean_len <= 12
                AND n_weird < n_chars * 0.3 AND max_tok <= 40 AS BIGINT)
               AS keep
    FROM m
    """,
)
def q_c4_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style rule gate with auditable per-rule booleans — the
    cheap pre-filter ahead of dedup/scoring in a corpus pipeline."""
    return text.c4_quality_filter(_t(spark, sf_dir, "documents"))


@register(
    "tpch_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_base_price_cents,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS sum_disc_price_e4,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount)
                               * (1 + l_tax) * 1000000) AS BIGINT)) AS BIGINT)
               AS sum_charge_e6,
           round(CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE)
                 / count(*), 4) AS avg_qty,
           round(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS DOUBLE)
                 / 100 / count(*), 4) AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan → pushed filter → one partial-agg shuffle
    of (flag, status) — 6 groups regardless of input size. Money terms
    are rounded to exact integers per row BEFORE summing (float sums
    are partition-order-dependent; integer sums are portable and
    exact — see plans/models.py daily metrics for the same rule)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    qty = F.round("l_quantity").cast("long")
    base = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_price = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    charge = F.round(
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
        * 1000000
    ).cast("long")
    disc = F.round(F.col("l_discount") * 100).cast("long")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("sum_qty"),
        F.sum(base).alias("sum_base_price_cents"),
        F.sum(disc_price).alias("sum_disc_price_e4"),
        F.sum(charge).alias("sum_charge_e6"),
        F.round(F.sum(qty).cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_qty"
        ),
        F.round(
            F.sum(disc).cast("double") / 100 / F.count(F.lit(1)), 4
        ).alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "tpch_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                         AS BIGINT)) AS BIGINT) AS revenue_e4,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue_e4 DESC, o.o_orderdate ASC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def q_tpch_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: the segment-filtered customer dim broadcasts
    into orders, the filtered join keys on l_orderkey, revenue partial-
    aggs, and top-10 runs as TakeOrderedAndProject — no global sort.
    The deterministic l_orderkey tie-break keeps the LIMIT stable
    across engines and partitionings."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate")
        < F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15 00:00:00").cast("timestamp")
    )
    rev = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return (
        li.join(
            F.broadcast(c).join(o, c["c_custkey"] == o["o_custkey"]).select(
                "o_orderkey", "o_orderdate"
            ),
            li["l_orderkey"] == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(rev).alias("revenue_e4"))
        .select("l_orderkey", "revenue_e4", "o_orderdate")
        .orderBy(
            F.desc("revenue_e4"), F.asc("o_orderdate"), F.asc("l_orderkey")
        )
        .limit(10)
    )


@register(
    "tokenize_with_vocab",
    f"""
    WITH tok0 AS (SELECT unnest({TOKS_SQL}) AS token FROM documents),
    cnt AS (SELECT token, count(*) AS n FROM tok0 GROUP BY 1),
    vocab AS (SELECT token,
                     CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1
                          AS BIGINT) AS token_id
              FROM (SELECT token, n FROM cnt
                    ORDER BY n DESC, token ASC LIMIT 1000)),
    t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM documents),
    flat AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(toks)),
                           i -> {{'pos': i, 'tok': toks[i]}})) AS u
             FROM t),
    f AS (SELECT doc_id, u.pos AS pos, u.tok AS token FROM flat),
    j AS (SELECT f.doc_id, f.pos, coalesce(v.token_id, -1) AS tid
          FROM f LEFT JOIN vocab v USING (token))
    SELECT doc_id,
           string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos) AS token_ids,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk
    FROM j GROUP BY doc_id
    """,
)
def q_tokenize_with_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer apply: build_vocab's top-1000 vocabulary broadcast
    onto posexploded tokens, reassembled in position order — id
    sequences ready for packing; OOV → -1."""
    docs = _t(spark, sf_dir, "documents")
    return text.tokenize_with_vocab(
        docs, text.build_vocab(docs, vocab_size=1000)
    )


@register(
    "dedup_stats_by_source",
    """
    WITH per AS (SELECT source, md5(text) AS h, count(*) AS c
                 FROM documents GROUP BY 1, 2)
    SELECT source, CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_unique_texts,
           round(CAST(sum(c - 1) AS DOUBLE) / sum(c), 4) AS dup_rate
    FROM per GROUP BY source
    """,
)
def q_dedup_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup observability per source — doc counts, distinct texts,
    duplicate rate (crawler re-ingest detector)."""
    return text.dedup_stats_by_source(_t(spark, sf_dir, "documents"))


@register(
    "validate_constraints",
    """
    SELECT 'not_null:l_orderkey' AS rule,
           CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS violations
    FROM lineitem
    UNION ALL
    SELECT 'range:l_quantity:[1.0,50.0]',
           CAST(sum(CASE WHEN l_quantity IS NULL
                         OR NOT (l_quantity BETWEEN 1.0 AND 50.0)
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'range:l_discount:[0.0,0.1]',
           CAST(sum(CASE WHEN l_discount IS NULL
                         OR NOT (l_discount BETWEEN 0.0 AND 0.1)
                    THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'unique:l_orderkey,l_linenumber',
           CAST(coalesce(sum(c), 0) AS BIGINT)
    FROM (SELECT count(*) AS c FROM lineitem
          GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
    """,
)
def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over lineitem: not-null + ranges
    fold into one conditional-aggregate scan; key uniqueness is one
    partial-agg groupBy — the dbt-tests analog, engine-checked."""
    from taxi_trips_etl_spark.dataprep.profile import validate_constraints

    return validate_constraints(
        _t(spark, sf_dir, "lineitem"),
        not_null=["l_orderkey"],
        unique=[["l_orderkey", "l_linenumber"]],
        ranges={"l_quantity": (1.0, 50.0), "l_discount": (0.0, 0.1)},
    )


@register(
    "winnowing_fingerprints",
    """
    WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
    g AS (SELECT doc_id,
                 list_transform(generate_series(1, length(s) - 8 + 1),
                     i -> CAST(concat('0x', substr(md5(substr(s, i, 8)), 1, 8))
                               AS BIGINT)) AS grams
          FROM t WHERE length(s) - 8 + 1 >= 4),
    m AS (SELECT doc_id,
                 list_distinct(list_transform(
                     generate_series(1, len(grams) - 4 + 1),
                     i -> list_min(grams[i : i + 3]))) AS fps
          FROM g)
    SELECT doc_id, unnest(fps) AS fp FROM m
    """,
)
def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (k=8, w=4): windowed-min k-gram
    hashes — any shared substring of length ≥ 11 chars shares a
    fingerprint; posting-shaped output joins like every dedup op."""
    return text.winnowing_fingerprints(_t(spark, sf_dir, "documents"))


_WINNOW_FP_SQL = """
    WITH t AS (SELECT doc_id, lower(text) AS s FROM documents),
    g AS (SELECT doc_id,
                 list_transform(generate_series(1, length(s) - 8 + 1),
                     i -> CAST(concat('0x', substr(md5(substr(s, i, 8)), 1, 8))
                               AS BIGINT)) AS grams
          FROM t WHERE length(s) - 8 + 1 >= 4),
    m AS (SELECT doc_id,
                 list_distinct(list_transform(
                     generate_series(1, len(grams) - 4 + 1),
                     i -> list_min(grams[i : i + 3]))) AS fps
          FROM g)
    SELECT doc_id, unnest(fps) AS fp FROM m
"""


@register(
    "winnowing_near_dup_pairs",
    f"""
    WITH fps0 AS (SELECT DISTINCT doc_id, fp FROM ({_WINNOW_FP_SQL})),
    rare AS (
        SELECT doc_id, fp FROM (
            SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df
            FROM fps0
        ) WHERE df <= 50
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def q_winnowing_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap near-dup pairs via shared winnowing
    fingerprints — catches a copied paragraph inside an otherwise
    different doc, which whole-doc MinHash resemblance misses.
    Distinct postings + the max_df=50 ubiquity cutoff keep the fp
    join linear in corpus size (see text.winnowing_near_dup_pairs —
    without them this measured quadratic on the 10× scale rig)."""
    return text.winnowing_near_dup_pairs(_t(spark, sf_dir, "documents"))


def _corpus_v2_sql() -> str:
    """End-to-end oracle for the v2 (round-2) corpus pipeline, chained
    from the same per-stage fragments the individual oracles use."""
    c4_keep = f"""
        SELECT doc_id FROM (
            SELECT doc_id,
                   len({TOKS_SQL}) AS n_tokens,
                   CAST(list_sum(list_transform({TOKS_SQL}, w -> length(w)))
                        AS DOUBLE) / len({TOKS_SQL}) AS mean_len,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
                       AS n_weird,
                   list_max(list_transform({TOKS_SQL}, w -> length(w)))
                       AS max_tok
            FROM documents)
        WHERE n_tokens >= 5 AND n_tokens <= 10000
          AND mean_len >= 2 AND mean_len <= 12
          AND n_weird < n_chars * 0.3 AND max_tok <= 40
    """

    def five_gram(src: str) -> str:
        return f"""
        SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len({TOKS_SQL}) - 4),
                   i -> concat_ws(' ', {TOKS_SQL}[i], {TOKS_SQL}[i+1],
                                  {TOKS_SQL}[i+2], {TOKS_SQL}[i+3],
                                  {TOKS_SQL}[i+4])))) AS gram
        FROM {src} WHERE len({TOKS_SQL}) >= 5
        """

    return f"""
    WITH gated AS (SELECT d.* FROM documents d JOIN ({c4_keep}) USING (doc_id)),
    scrubbed AS (SELECT doc_id, lang, source, n_chars,
                        {_pii_scrub_sql_expr()} AS text
                 FROM gated),
    canon AS (SELECT min(doc_id) AS doc_id FROM scrubbed GROUP BY md5(text)),
    kept2 AS (SELECT s.* FROM scrubbed s JOIN canon USING (doc_id)
              WHERE doc_id % 20 != 0),
    evald AS (SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0),
    cg AS ({five_gram("kept2")}),
    eg AS ({five_gram("evald")}),
    contaminated AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (gram)
                     WHERE cg.doc_id != eg.doc_id),
    kept3 AS (SELECT * FROM kept2
              WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
    tok0 AS (SELECT unnest({TOKS_SQL}) AS token FROM kept3),
    cnt AS (SELECT token, count(*) AS n FROM tok0 GROUP BY 1),
    vocab AS (SELECT token,
                     CAST(row_number() OVER (ORDER BY n DESC, token ASC) - 1
                          AS BIGINT) AS token_id
              FROM (SELECT token, n FROM cnt
                    ORDER BY n DESC, token ASC LIMIT 500)),
    t AS (SELECT doc_id, {TOKS_SQL} AS toks FROM kept3),
    flat AS (SELECT doc_id,
                    unnest(list_transform(generate_series(1, len(toks)),
                           i -> {{'pos': i, 'tok': toks[i]}})) AS u
             FROM t),
    f AS (SELECT doc_id, u.pos AS pos, u.tok AS token FROM flat),
    j AS (SELECT f.doc_id, f.pos, coalesce(v.token_id, -1) AS tid
          FROM f LEFT JOIN vocab v USING (token)),
    tokd AS (SELECT doc_id,
                    string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY pos)
                        AS token_ids,
                    CAST(count(*) AS BIGINT) AS n_tokens,
                    CAST(sum(CASE WHEN tid = -1 THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_unk
             FROM j GROUP BY doc_id),
    packed AS (SELECT doc_id, n_tokens,
                      CAST(coalesce(SUM(n_tokens) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                           0) AS BIGINT) AS start_offset
               FROM tokd)
    SELECT tokd.doc_id, tokd.token_ids, tokd.n_tokens, tokd.n_unk,
           p.start_offset,
           p.start_offset // 128 AS first_seq,
           (p.start_offset + tokd.n_tokens - 1) // 128 AS last_seq,
           (p.start_offset + tokd.n_tokens - 1) // 128
               - p.start_offset // 128 + 1 AS n_seqs,
           CASE WHEN CAST(concat('0x', substr(md5('split:' ||
                    CAST(tokd.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                < {int(0.2 * (1 << 32))}
                THEN 'test' ELSE 'train' END AS split
    FROM tokd JOIN packed p USING (doc_id)
    """


@register("corpus_prepare_v2", _corpus_v2_sql())
def q_corpus_prepare_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 composed pipeline: C4 gate → PII scrub → exact dedup →
    decontamination → vocab → tokenize → pack → split, one lazy plan,
    oracle-checked end to end."""
    from taxi_trips_etl_spark.dataprep.corpus import prepare_corpus_v2

    return prepare_corpus_v2(_t(spark, sf_dir, "documents"))


def _zorder_oracle() -> str:
    from taxi_trips_etl_spark.functions.scalar import (
        ZORDER_BITS,
        ZORDER_X,
        ZORDER_Y,
        zorder_key_sql,
    )

    zk = zorder_key_sql(ZORDER_X, ZORDER_Y, ZORDER_BITS, "duckdb")
    return f"SELECT c_custkey, {zk} AS zkey FROM customer"


@register("zorder_key_customers", _zorder_oracle())
def q_zorder_key_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key: bit-interleave two columns so a
    range sort keeps BOTH columns' row-group stats tight (multi-column
    data skipping). One SQL generator serves Spark and the oracle."""
    from taxi_trips_etl_spark.functions.scalar import zorder_key

    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        zorder_key().alias("zkey"),
    )


@register(
    "text_token_stats",
    f"""
    SELECT doc_id,
           CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct({TOKS_SQL})) AS BIGINT) AS n_distinct_tokens,
           round(CAST(list_sum(list_transform({TOKS_SQL}, w -> length(w)))
                      AS DOUBLE) / len({TOKS_SQL}), 4) AS avg_token_len,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS est_bpe_tokens
    FROM documents
    """,
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(_t(spark, sf_dir, "documents"))


_EN_STOP_SQL = "('the', 'a', 'of', 'and', 'is', 'to')"


@register(
    "text_quality_scores",
    f"""
    WITH base AS (
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_measured,
               CAST(len({TOKS_SQL}) AS BIGINT) AS n_tokens,
               round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                          AS DOUBLE) / length(text), 4) AS alpha_ratio,
               round(CAST(length(regexp_replace(text, '[^ ]', '', 'g'))
                          AS DOUBLE) / length(text), 4) AS space_ratio,
               round(CAST(len(list_filter({TOKS_SQL}, w -> w IN {_EN_STOP_SQL}))
                          AS DOUBLE) / len({TOKS_SQL}), 4) AS stopword_ratio
        FROM documents
    )
    SELECT doc_id, n_chars_measured, n_tokens, alpha_ratio, space_ratio,
           stopword_ratio,
           round(least(1.0, n_tokens / 50.0) * 0.4 + alpha_ratio * 0.4
                 + least(1.0, stopword_ratio * 5) * 0.2, 4) AS quality_score
    FROM base
    """,
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_scores(_t(spark, sf_dir, "documents"))


def _lang_sql() -> str:
    counts = ", ".join(
        f"""CAST(len(list_filter({TOKS_SQL}, w -> w IN
            ({', '.join(repr(w) for w in sw)}))) AS BIGINT) AS n_{lang}"""
        for lang, sw in text.LANG_STOPWORDS.items()
    )
    return f"""
    WITH c AS (SELECT doc_id, {counts} FROM documents)
    SELECT doc_id, n_en, n_de, n_fr, n_es,
           CASE WHEN greatest(n_en, n_de, n_fr, n_es) <= 0 THEN 'und'
                WHEN n_en = greatest(n_en, n_de, n_fr, n_es) THEN 'en'
                WHEN n_de = greatest(n_en, n_de, n_fr, n_es) THEN 'de'
                WHEN n_fr = greatest(n_en, n_de, n_fr, n_es) THEN 'fr'
                ELSE 'es' END AS predicted_lang
    FROM c
    """


@register("text_language_id", _lang_sql())
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.language_id(_t(spark, sf_dir, "documents"))


@register(
    "text_fingerprints",
    f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct({TOKS_SQL})), ' '))
               AS canon_fingerprint,
           md5(text) AS exact_fingerprint
    FROM documents
    """,
)
def q_text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(_t(spark, sf_dir, "documents"))


@register(
    "deterministic_sample",
    f"""
    SELECT doc_id, lang, n_chars FROM documents
    WHERE CAST(concat('0x', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT) < {int(0.25 * (1 << 32))}
    """,
)
def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash sampling (~25%): identical membership on any engine,
    partitioning, or rerun — unlike seed-based df.sample()."""
    from taxi_trips_etl_spark.dataprep.sampling import deterministic_sample

    return deterministic_sample(_t(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "n_chars"
    )


@register(
    "train_test_split",
    f"""
    SELECT split, count(*) AS n, min(doc_id) AS min_doc, max(doc_id) AS max_doc
    FROM (SELECT doc_id,
                 CASE WHEN CAST(concat('0x', substr(md5('split:' ||
                          CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                      < {int(0.2 * (1 << 32))}
                      THEN 'test' ELSE 'train' END AS split
          FROM documents)
    GROUP BY 1
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-keyed train/test split: stable under appends, leak-proof
    when keyed on the dedup-canonical id."""
    from taxi_trips_etl_spark.dataprep.sampling import train_test_split

    return (
        train_test_split(_t(spark, sf_dir, "documents"))
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@register(
    "text_clean",
    """
    SELECT doc_id,
           trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                               ' +', ' ', 'g')) AS clean_text,
           CAST(length(trim(regexp_replace(regexp_replace(lower(text),
                '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS clean_chars,
           md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                   ' +', ' ', 'g'))) AS clean_hash
    FROM documents
    """,
)
def q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization (lower, strip non-alnum, collapse spaces)."""
    return text.clean_text(_t(spark, sf_dir, "documents"))


@register(
    "chunk_documents",
    """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
        FROM documents
    ),
    meta AS (
        SELECT doc_id, ws,
               greatest(1, CAST(ceil((len(ws) - 10) / 40.0) AS BIGINT)) AS n_chunks
        FROM t
    ),
    chunks AS (
        SELECT doc_id, ws, unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        FROM meta
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           array_to_string(ws[chunk_id * 40 + 1 : chunk_id * 40 + 50], ' ')
               AS chunk_text,
           CAST(len(ws[chunk_id * 40 + 1 : chunk_id * 40 + 50]) AS BIGINT)
               AS chunk_tokens
    FROM chunks
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token chunks, 10 overlap)."""
    return text.chunk_documents(_t(spark, sf_dir, "documents"))


def _corpus_pipeline_sql() -> str:
    """Composite oracle: the whole corpus-prep pipeline as nested SQL
    built from the same per-stage fragments the individual oracles use
    (all-pairs Jaccard is fine at oracle scale)."""
    quality = f"""
        SELECT doc_id FROM (
            SELECT doc_id,
                   round(least(1.0, CAST(len({TOKS_SQL}) AS BIGINT) / 50.0) * 0.4
                         + round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))
                                      AS DOUBLE) / length(text), 4) * 0.4
                         + least(1.0,
                                 round(CAST(len(list_filter({TOKS_SQL},
                                       w -> w IN {_EN_STOP_SQL})) AS DOUBLE)
                                       / len({TOKS_SQL}), 4) * 5) * 0.2,
                         4) AS quality_score
            FROM documents)
        WHERE quality_score >= 0.75
    """
    return f"""
    WITH kept AS (
        SELECT d.* FROM documents d JOIN ({quality}) USING (doc_id)
    ),
    canon AS (
        SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)
    ),
    kept2 AS (SELECT k.* FROM kept k JOIN canon USING (doc_id)),
    g AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   generate_series(1, len(string_split_regex(trim(lower(text)), '\\s+')) - 2),
                   i -> concat_ws(' ',
                        string_split_regex(trim(lower(text)), '\\s+')[i],
                        string_split_regex(trim(lower(text)), '\\s+')[i+1],
                        string_split_regex(trim(lower(text)), '\\s+')[i+2]))) AS grams
        FROM kept2
        WHERE len(string_split_regex(trim(lower(text)), '\\s+')) >= 3
    ),
    gs AS (SELECT doc_id, grams, len(grams) AS n FROM g WHERE len(grams) > 0),
    drops AS (
        SELECT DISTINCT b.doc_id
        FROM gs a JOIN gs b
          ON a.doc_id < b.doc_id
         AND least(a.n, b.n) >= greatest(a.n, b.n) * 0.8
        WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                    / len(list_distinct(a.grams || b.grams)), 6) >= 0.8
    ),
    kept3 AS (
        SELECT * FROM kept2 WHERE doc_id NOT IN (SELECT doc_id FROM drops)
    ),
    toks AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws FROM kept3
    ),
    meta AS (
        SELECT doc_id, ws,
               greatest(1, CAST(ceil((len(ws) - 10) / 40.0) AS BIGINT)) AS n_chunks
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, unnest(generate_series(0, n_chunks - 1)) AS chunk_id, ws
        FROM meta
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           md5(array_to_string(ws[chunk_id * 40 + 1 : chunk_id * 40 + 50], ' '))
               AS chunk_hash,
           CAST(len(ws[chunk_id * 40 + 1 : chunk_id * 40 + 50]) AS BIGINT)
               AS chunk_tokens,
           CASE WHEN CAST(concat('0x', substr(md5('split:' ||
                    CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                < {int(0.2 * (1 << 32))}
                THEN 'test' ELSE 'train' END AS split
    FROM chunks
    """


@register("corpus_prepare_pipeline", _corpus_pipeline_sql())
def q_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM corpus-prep pipeline: quality filter → exact
    dedup → Jaccard near-dup removal → chunk → leak-proof split, as one
    lazy plan — oracle-checked end to end."""
    from taxi_trips_etl_spark.dataprep.corpus import prepare_corpus

    return prepare_corpus(_t(spark, sf_dir, "documents"))


@register(
    "text_tfidf_top_terms",
    """
    WITH posting AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
        FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM posting GROUP BY 1, 2),
    df_ AS (SELECT term, count(DISTINCT doc_id) AS df FROM posting GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT doc_id, term, tf,
               round(tf * (ln((n_docs + 1.0) / (df + 1)) + 1), 6) AS tfidf
        FROM tf JOIN df_ USING (term) CROSS JOIN n
    ),
    ranked AS (
        SELECT doc_id, term, tf, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS term_rank
        FROM scored
    )
    SELECT doc_id, term, tf, tfidf, CAST(term_rank AS BIGINT) AS term_rank
    FROM ranked WHERE term_rank <= 5
    """,
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed TF-IDF top-5 characteristic terms per document."""
    return text.tf_idf_top_terms(_t(spark, sf_dir, "documents"))


@register(
    "stratified_sample",
    f"""
    SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc
    FROM documents
    WHERE CAST(concat('0x', substr(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 8))
               AS BIGINT)
          < CASE WHEN lang = 'en' THEN {int(0.1 * (1 << 32))}
                 WHEN lang = 'de' THEN {int(0.5 * (1 << 32))}
                 ELSE {int(0.25 * (1 << 32))} END
    GROUP BY 1
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum hash sampling: downsample dominant 'en' (10%), keep
    half of 'de', quarter of the rest — class rebalancing without RNG."""
    from taxi_trips_etl_spark.dataprep.sampling import stratified_sample

    out = stratified_sample(
        _t(spark, sf_dir, "documents"),
        rates={"en": 0.1, "de": 0.5},
        default_rate=0.25,
    )
    return out.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"), F.min("doc_id").alias("min_doc")
    )


