"""Sparse TF-IDF document-document cosine via an inverted-index join.

The lexical complement to the dense-embedding similarity family
(``similarity.py``): documents become sparse TF-IDF vectors and pair
similarity is computed WORD-WISE through an inverted index — two
documents meet only on terms they share, so the join volume is
Σ_term df(term)², never n_docs². High-df terms dominate that sum
quadratically AND carry the least signal (lowest idf), so postings are
pruned at ``MAX_DF_FRAC`` before the join — the standard
stop-word-cap trade: the pruned cosine is the exact cosine of the
pruned vectors (both norms are computed AFTER pruning, so the metric
stays a true cosine ∈ [0, 1]).

Engine-exactness: weights are quantized to integer milli-units
(round(tf·idf·1000) — the idf ln and one multiply are single-op
derivations on identical operands), after which EVERY aggregate is an
exact int64 sum (order-independent across shuffles); the final cosine
is one IEEE division by one correctly-rounded sqrt of a single
product — bit-identical on any engine. int64 headroom: w ≤ ~3e6 milli,
w² ≤ 9e12, × 200 terms/doc ≈ 2e15 « 2^63; a 100 TB corpus with longer
documents drops quantization to centi-units before the sum approaches
the mantissa of the final double cast.

Scale shape (100 TB): one corpus scan → (doc, word, tf); df is a
vocab-sized aggregate broadcast back as a semi-join prune; the
inverted-index self-join shuffles on word with per-word volume capped
by the df prune; pair partial products combine map-side on
(doc_a, doc_b). No all-pairs stage exists anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# The df prune and the pair cut, shared by the Spark builder and its
# oracle: relative and absolute posting caps, minimum cosine.
MAX_DF_FRAC = 0.10
MAX_DF = 500
MIN_COSINE = 0.30


def tfidf_milli_vectors(docs: DataFrame) -> DataFrame:
    """(doc_id, word, w_milli) sparse vectors over the df-pruned
    vocabulary; sklearn-style idf = ln((N+1)/(df+1)) + 1 (matches
    ``text.tfidf_top_terms``), quantized to integer milli-units.

    ``MAX_DF`` is an ABSOLUTE posting-length cap applied on top of the
    relative ``MAX_DF_FRAC`` one (effective cap = min of the two). At
    the test SFs floor(0.10·n_docs) ≤ 500 (50 at sf0.01, 500 at sf0.1),
    so there the relative cap decides. Why the absolute cap exists (r12
    decade sweep): the relative cap does NOT bound the
    Σ df² join volume as the corpus grows — at 10× docs the cap grows
    10× too, and measured on the sf1 testdata that let 310 previously
    pruned terms through at df≈3900 each, inflating candidate volume
    62.5k → 4.5e9 pair rows (~70,000×). Per-term join work is df², so
    the knob that actually survives a 100 TB corpus is the absolute
    one: a term shared by >MAX_DF documents is stop-word-like
    regardless of corpus size, and capping there bounds per-term work
    at MAX_DF² independent of growth."""
    n_docs = docs.count()  # single scalar job, same as tfidf_top_terms
    tf = (
        docs.select(
            "doc_id",
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_cap = min(int(MAX_DF_FRAC * n_docs), MAX_DF)
    dfreq = (
        tf.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .filter(F.col("df") <= df_cap)
    )
    return (
        tf.join(F.broadcast(dfreq), "word")
        .withColumn(
            "w_milli",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        F.lit(float(n_docs + 1))
                        / (F.col("df") + 1).cast("double")
                    )
                    + 1
                )
                * 1000
            ).cast("long"),
        )
        .select("doc_id", "word", "w_milli")
    )


def tfidf_cosine_pairs(docs: DataFrame) -> DataFrame:
    """→ (doc_id_a, doc_id_b, cosine) for a < b with pruned-TF-IDF
    cosine ≥ ``MIN_COSINE`` — lexical near-duplicate / same-topic
    pairs. ``MAX_DF``: absolute posting cap, the knob that bounds the
    Σ df² join volume independent of corpus growth (see
    :func:`tfidf_milli_vectors`)."""
    # The sparse-vector table fans out to FOUR consumers below (both
    # sides of the inverted-index join + both norm legs): lazily built,
    # Catalyst re-executes the tokenize→explode→tf spine once per
    # consumer (8 static corpus scans; AQE's runtime exchange reuse did
    # not recover it — measured r12, sf0.1 interleaved A/B: materialize
    # wins 3/3, ~1.5s→1.1s). Same materialize-before-fanout pattern as
    # the r11 assortativity/markov fixes; at 100 TB a 4× tokenize
    # recompute is the killer class the fan-out audit exists to catch.
    # The checkpointed handle is deliberately not released here (same
    # one-shot driver/test posture as the r11 sites): ContextCleaner
    # GCs it with the DataFrame. A caller invoking this in a loop or
    # stream should unpersist the result's lineage between iterations.
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    vec = materialize(tfidf_milli_vectors(docs), eager=False)
    norms = vec.groupBy("doc_id").agg(
        F.sum(F.col("w_milli") * F.col("w_milli"))
        .cast("long")
        .alias("norm2")
    )
    a = vec.select(
        F.col("word"),
        F.col("doc_id").alias("doc_id_a"),
        F.col("w_milli").alias("wa"),
    )
    b = vec.select(
        F.col("word"),
        F.col("doc_id").alias("doc_id_b"),
        F.col("w_milli").alias("wb"),
    )
    num = (
        a.join(b, "word")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).cast("long").alias("num"))
    )
    na = norms.select(
        F.col("doc_id").alias("doc_id_a"), F.col("norm2").alias("na2")
    )
    nb = norms.select(
        F.col("doc_id").alias("doc_id_b"), F.col("norm2").alias("nb2")
    )
    return (
        num.join(na, "doc_id_a")
        .join(nb, "doc_id_b")
        .withColumn(
            "cosine",
            F.col("num").cast("double")
            / F.sqrt(
                F.col("na2").cast("double") * F.col("nb2").cast("double")
            ),
        )
        .filter(F.col("cosine") >= MIN_COSINE)
        .select("doc_id_a", "doc_id_b", "cosine")
        .orderBy("doc_id_a", "doc_id_b")
    )


def tfidf_cosine_oracle_sql() -> str:
    """DuckDB twin of :func:`tfidf_cosine_pairs`: identical df prune
    (effective cap = least(floor(MAX_DF_FRAC·n), MAX_DF), mirroring the
    Spark side's min()), identical milli quantization, integer sums,
    one sqrt + division."""
    toks = "string_split_regex(trim(lower(text)), '\\s+')"
    df_cap = (
        f"least(CAST(floor({MAX_DF_FRAC} * (SELECT n FROM nd)) AS BIGINT), "
        f"{MAX_DF})"
    )
    return f"""
    WITH nd AS (SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n),
    tf AS (
        SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        FROM (SELECT doc_id, unnest({toks}) AS word FROM documents)
        WHERE word <> ''
        GROUP BY 1, 2
    ),
    dfreq AS (
        SELECT word, CAST(count(*) AS BIGINT) AS df
        FROM tf GROUP BY word
        HAVING count(*) <= {df_cap}
    ),
    vec AS (
        SELECT tf.doc_id, tf.word,
               CAST(round(tf.tf * (ln(CAST((SELECT n FROM nd) + 1 AS DOUBLE)
                                      / CAST(dfreq.df + 1 AS DOUBLE)) + 1)
                          * 1000) AS BIGINT) AS w_milli
        FROM tf JOIN dfreq USING (word)
    ),
    norms AS (
        SELECT doc_id, CAST(sum(w_milli * w_milli) AS BIGINT) AS norm2
        FROM vec GROUP BY doc_id
    ),
    num AS (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(sum(a.w_milli * b.w_milli) AS BIGINT) AS num
        FROM vec a JOIN vec b
          ON a.word = b.word AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_id_a, doc_id_b,
           CAST(num AS DOUBLE)
               / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE))
               AS cosine
    FROM num
    JOIN norms na ON na.doc_id = num.doc_id_a
    JOIN norms nb ON nb.doc_id = num.doc_id_b
    WHERE CAST(num AS DOUBLE)
              / sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE))
          >= {MIN_COSINE}
    """
