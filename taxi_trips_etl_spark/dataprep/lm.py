"""Interpolated Kneser-Ney bigram smoothing — the LM-quality step up
from the MLE bigram table (``text.bigram_lm_topk``): mass is discounted
from observed bigrams and redistributed by CONTINUATION probability
(how many distinct heads a word follows), the estimator perplexity
filters and n-gram LMs actually ship with.

    p_KN(w2|w1) = max(c12 − D, 0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/B

with discount D = 3/4, c1 = Σ_w2 c12, N1+(w1·) = distinct successors
of w1, N1+(·w2) = distinct predecessors of w2, B = distinct bigram
types. With D = 3/4 the whole expression is one ratio of exact
integers (for observed bigrams, c12 ≥ 1):

    p = ((4·c12 − 3)·B + 3·N1p(w1)·Npred(w2)) / (4·c1·B)

so ranking successors within a head compares integer NUMERATORS
(shared denominator — no float enters the ordering) and the emitted
probability is ONE IEEE division of two bigints, bit-identical on any
engine. The int64 numerator form is the verification path; at corpus
scales where 4·c12·B would overflow (c12·B > 2^61) production uses the
algebraically-identical float expression, trading replayability for
range.

Scale shape (100 TB): the corpus is scanned once into the (w1, w2)
count table (one shuffle, map-side combine); c1 / N1p are windows over
that vocab²-bounded aggregate, Npred is a second narrow aggregate of
it, B one global count — nothing after the first shuffle touches
corpus-sized data. Head selection is a TakeOrderedAndProject
broadcast-semi-join (no global window), same as bigram_lm_topk.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize

# Shared by the Spark builders and their oracles: the doc-xent keep
# threshold (nats) and the bigram table's head and successor counts.
KEEP_BELOW = 3.5
HEADS = 20
NEXT_PER_HEAD = 3


def kneser_ney_bigram_topk(docs: DataFrame) -> DataFrame:
    """→ (head, next_word, pair_n, p_kn) for the ``HEADS`` most frequent
    head words: the ``NEXT_PER_HEAD`` successors with the highest
    smoothed probability (integer-numerator ordering, w2 tiebreak)."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    bg = (
        tokens_table(docs)
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(toks, 1, size(toks) - 1)"),
                    F.expr("slice(toks, 2, size(toks) - 1)"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("c12"))
    )
    head_w = Window.partitionBy("w1")
    bg = bg.withColumn("c1", F.sum("c12").over(head_w).cast("long"))
    bg = bg.withColumn("n1p", F.count(F.lit(1)).over(head_w).cast("long"))
    # r13: four consumers (preds, b_tot, top_heads, scored) each re-ran
    # the tokenize→explode→bigram-agg→window spine in the lazy plan —
    # four corpus passes for one vocab²-bounded table. Materialize it
    # once (guide §2.4); everything downstream is aggregate-scale.
    bg = materialize(bg, eager=False)
    preds = bg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("npred")
    )
    # B = total distinct bigram types: a 1-row aggregate broadcast into
    # the expression via crossJoin (the registry's standard
    # scalar-broadcast shape — never a collect).
    b_tot = bg.select(
        F.count(F.lit(1)).cast("long").alias("b_types")
    )
    top_heads = F.broadcast(
        bg.select("w1", "c1")
        .distinct()
        .orderBy(F.col("c1").desc(), "w1")
        .limit(HEADS)
        .select("w1")
    )
    scored = (
        bg.join(top_heads, "w1")
        .join(preds, "w2")
        .crossJoin(F.broadcast(b_tot))
        .withColumn(
            "num",
            (4 * F.col("c12") - 3) * F.col("b_types")
            + 3 * F.col("n1p") * F.col("npred"),
        )
        .withColumn("den", 4 * F.col("c1") * F.col("b_types"))
    )
    rk_w = Window.partitionBy("w1").orderBy(F.col("num").desc(), "w2")
    return (
        scored.withColumn("rk", F.row_number().over(rk_w))
        .filter(F.col("rk") <= NEXT_PER_HEAD)
        .select(
            F.col("w1").alias("head"),
            F.col("w2").alias("next_word"),
            F.col("c12").cast("long").alias("pair_n"),
            (
                F.col("num").cast("double") / F.col("den").cast("double")
            ).alias("p_kn"),
        )
        .orderBy("head", F.col("p_kn").desc(), "next_word")
    )


def kneser_ney_doc_xent(
    docs: DataFrame,
) -> DataFrame:
    """Per-document bigram cross-entropy under the corpus-fit KN model
    — the LM-perplexity quality gate (CCNet, Wenzek et al. 2020) with
    the interpolated-KN estimator instead of the unigram proxy
    (``text.unigram_logprob_score``). Low cross-entropy = fluent,
    in-distribution text; the tail is gibberish/boilerplate.

    → (doc_id, n_bigrams, xent_nats, keep): xent is the mean negative
    natural-log KN probability over the doc's bigram INSTANCES;
    keep = xent_nats < KEEP_BELOW.

    Replay ledger: the LM trains on the same corpus, so every doc
    bigram is observed and scores by the exact-integer (num, den)
    formula (module docstring); the only floats are ONE division
    num/den, ONE ln (libm ulp noise absorbed by micro-quantization:
    each bigram's log-prob becomes round(ln·1e6) as int64), an exact
    integer sum (order-free, the repo's cents discipline), and the
    final mean = one division of two exact integers, rounded to 6.

    Scale shape: the model is vocab²-bounded (broadcast); the scoring
    pass is one explode + broadcast-join + doc-keyed partial agg —
    corpus-sized data crosses the wire once.
    """
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    pairs = (
        tokens_table(docs)
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.expr("slice(toks, 1, size(toks) - 1)"),
                    F.expr("slice(toks, 2, size(toks) - 1)"),
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            F.col("bg.0").alias("w1"),
            F.col("bg.1").alias("w2"),
        )
    )
    bg = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    head_w = Window.partitionBy("w1")
    bg = bg.withColumn("c1", F.sum("c12").over(head_w).cast("long"))
    bg = bg.withColumn("n1p", F.count(F.lit(1)).over(head_w).cast("long"))
    # r13: same fan-out fix as kneser_ney_bigram_topk — preds, b_tot
    # and the model join each re-derived bg (and its corpus-sized
    # ``pairs`` spine) in the lazy plan; one materialize leaves exactly
    # two corpus passes (bg build + scoring join), the documented shape.
    bg = materialize(bg, eager=False)
    preds = bg.groupBy("w2").agg(
        F.count(F.lit(1)).cast("long").alias("npred")
    )
    b_tot = bg.select(F.count(F.lit(1)).cast("long").alias("b_types"))
    model = (
        bg.join(preds, "w2")
        .crossJoin(F.broadcast(b_tot))
        .select(
            "w1",
            "w2",
            (
                (4 * F.col("c12") - 3) * F.col("b_types")
                + 3 * F.col("n1p") * F.col("npred")
            ).alias("num"),
            (4 * F.col("c1") * F.col("b_types")).alias("den"),
        )
    )
    scored = pairs.join(F.broadcast(model), ["w1", "w2"]).select(
        "doc_id",
        F.expr(
            "CAST(round(ln(CAST(num AS DOUBLE) / CAST(den AS DOUBLE))"
            " * 1000000) AS BIGINT)"
        ).alias("lp_micro"),
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("lp_micro").alias("s"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            F.round(
                -F.col("s").cast("double")
                / (F.col("n_bigrams") * 1000000).cast("double"),
                6,
            ).alias("xent_nats"),
        )
        .withColumn(
            "keep", (F.col("xent_nats") < F.lit(KEEP_BELOW)).cast("int")
        )
    )


def kneser_ney_doc_xent_oracle_sql(toks_sql: str) -> str:
    """DuckDB twin of :func:`kneser_ney_doc_xent` — identical integer
    model, micro-quantized per-bigram logs, integer sum, one final
    division."""
    return f"""
    WITH d AS (SELECT doc_id, {toks_sql} AS t FROM documents
               WHERE len({toks_sql}) >= 2),
    prs AS (
        SELECT doc_id, unnest(list_transform(
                   generate_series(1, len(t) - 1),
                   i -> [t[i], t[i + 1]])) AS pr
        FROM d
    ),
    inst AS (SELECT doc_id, pr[1] AS w1, pr[2] AS w2 FROM prs),
    bg AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        FROM inst GROUP BY 1, 2
    ),
    bh AS (
        SELECT w1, w2, c12,
               CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
               CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n1p
        FROM bg
    ),
    preds AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS npred FROM bg GROUP BY w2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS b_types FROM bg),
    model AS (
        SELECT bh.w1, bh.w2,
               (4 * bh.c12 - 3) * tot.b_types
                   + 3 * bh.n1p * preds.npred AS num,
               4 * bh.c1 * tot.b_types AS den
        FROM bh JOIN preds ON preds.w2 = bh.w2 CROSS JOIN tot
    ),
    lp AS (
        SELECT i.doc_id,
               CAST(round(ln(CAST(m.num AS DOUBLE) / CAST(m.den AS DOUBLE))
                          * 1000000) AS BIGINT) AS lp_micro
        FROM inst i JOIN model m ON m.w1 = i.w1 AND m.w2 = i.w2
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(lp_micro) AS BIGINT) AS s
        FROM lp GROUP BY 1
    )
    SELECT doc_id, n_bigrams,
           round(-CAST(s AS DOUBLE)
                 / CAST(n_bigrams * 1000000 AS DOUBLE), 6) AS xent_nats,
           CAST(CASE WHEN round(-CAST(s AS DOUBLE)
                 / CAST(n_bigrams * 1000000 AS DOUBLE), 6) < {KEEP_BELOW}
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM agg
    """


def kneser_ney_oracle_sql(toks_sql: str) -> str:
    """DuckDB twin of :func:`kneser_ney_bigram_topk`: identical counts,
    identical integer numerator/denominator, one division.
    ``toks_sql`` must evaluate to a token LIST per documents row."""
    return f"""
    WITH d AS (SELECT {toks_sql} AS t FROM documents
               WHERE len({toks_sql}) >= 2),
    prs AS (
        SELECT unnest(list_transform(
                   generate_series(1, len(t) - 1),
                   i -> [t[i], t[i + 1]])) AS pr
        FROM d
    ),
    bg AS (
        SELECT pr[1] AS w1, pr[2] AS w2,
               CAST(count(*) AS BIGINT) AS c12
        FROM prs GROUP BY 1, 2
    ),
    bh AS (
        SELECT w1, w2, c12,
               CAST(sum(c12) OVER (PARTITION BY w1) AS BIGINT) AS c1,
               CAST(count(*) OVER (PARTITION BY w1) AS BIGINT) AS n1p
        FROM bg
    ),
    preds AS (
        SELECT w2, CAST(count(*) AS BIGINT) AS npred FROM bg GROUP BY w2
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS b_types FROM bg),
    top_heads AS (
        SELECT w1 FROM (
            SELECT w1, row_number() OVER (ORDER BY c1 DESC, w1) AS rk
            FROM (SELECT DISTINCT w1, c1 FROM bh))
        WHERE rk <= {HEADS}
    ),
    scored AS (
        SELECT bh.w1, bh.w2, bh.c12,
               (4 * bh.c12 - 3) * tot.b_types
                   + 3 * bh.n1p * preds.npred AS num,
               4 * bh.c1 * tot.b_types AS den
        FROM bh
        JOIN top_heads USING (w1)
        JOIN preds ON preds.w2 = bh.w2
        CROSS JOIN tot
    )
    SELECT w1 AS head, w2 AS next_word, c12 AS pair_n,
           CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS p_kn
    FROM (SELECT *, row_number() OVER (PARTITION BY w1
                        ORDER BY num DESC, w2) AS rk
          FROM scored)
    WHERE rk <= {NEXT_PER_HEAD}
    """
