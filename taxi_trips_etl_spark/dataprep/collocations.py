"""Collocation statistics over a tokenized corpus.

PMI collocation mining and nucleus (top-p) vocabulary truncation —
the two vocabulary-level statistics a tokenizer/mixture pipeline
reads off a corpus before training.

Scale shapes (both): the corpus is touched ONCE by a map-side-
combinable count aggregate; every subsequent step (windows, joins,
thresholds) runs on the aggregated vocab/bigram table, which is
bounded by distinct-token (not corpus) size. PMI's marginal counts
come from windows OVER THE PAIR-COUNT TABLE rather than re-scanning
the corpus: sum(pair_cnt) partitioned by the left word IS the left
marginal, because every bigram occurrence appears exactly once in
the pair counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.dedup import tokens_col, tokens_table

TOP_P_NUM, TOP_P_DEN = 1, 2  # vocab_top_p keeps p = 1/2 of token mass
# skipgram window and output size, shared by the Spark builder and its oracle
MAX_OFFSET = 3
TOP_PAIRS = 100
MIN_COUNT = 5  # pmi_collocations' minimum bigram count


def pmi_collocations(docs: DataFrame) -> DataFrame:
    """Pointwise mutual information of adjacent token bigrams.

    pmi(x,y) = ln( c_xy · N / (c_x· · c_·y) ) with all counts taken
    over bigram positions (N = total bigrams, c_x· = bigrams with x on
    the left, c_·y = with y on the right), so every number derives
    from one bigram-count aggregate. The ln input is a single IEEE
    division of two exactly-representable integer products; round(6)
    absorbs last-ulp log differences across engines.

    Returns (w1, w2, pair_cnt, pmi) for pairs with pair_cnt >= MIN_COUNT.
    """
    toks = docs.select(tokens_col().alias("t")).filter(
        F.size("t") >= 2
    )
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t)-1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
    )
    pc = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("pair_cnt")
    )
    total = pc.agg(F.sum("pair_cnt").alias("n_bigrams"))
    enriched = (
        pc.withColumn(
            "cl", F.sum("pair_cnt").over(Window.partitionBy("w1"))
        )
        .withColumn("cr", F.sum("pair_cnt").over(Window.partitionBy("w2")))
        .crossJoin(F.broadcast(total))
    )
    return enriched.filter(F.col("pair_cnt") >= MIN_COUNT).select(
        "w1",
        "w2",
        "pair_cnt",
        F.round(
            F.log(
                (F.col("pair_cnt") * F.col("n_bigrams")).cast("double")
                / (F.col("cl") * F.col("cr")).cast("double")
            ),
            6,
        ).alias("pmi"),
    )


def vocab_top_p(
    docs: DataFrame,
) -> DataFrame:
    """Nucleus (top-p) vocabulary: the smallest count-descending
    prefix of the vocabulary covering fraction TOP_P_NUM/TOP_P_DEN of all
    token occurrences — i.e. keep a token iff the coverage BEFORE it
    is still short of p. The comparison is exact integer arithmetic
    ((cum - cnt)·TOP_P_DEN < TOP_P_NUM·N), no float thresholds.

    The rank/cumsum window is global but runs on the aggregated VOCAB
    table (distinct tokens), never the corpus; at a billion-token
    vocab swap in approx-percentile cutpoints instead.

    Returns (word, cnt, rnk, cum_cnt) for the kept prefix.
    """
    words = (
        docs.select(F.explode(tokens_col()).alias("word"))
        .filter(F.col("word") != "")
    )
    vc = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    total = vc.agg(F.sum("cnt").alias("n_tokens"))
    w = Window.orderBy(F.col("cnt").desc(), "word")
    cum = (
        vc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_cnt",
            F.sum("cnt")
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("long"),
        )
        .crossJoin(F.broadcast(total))
    )
    return cum.filter(
        (F.col("cum_cnt") - F.col("cnt")) * TOP_P_DEN
        < TOP_P_NUM * F.col("n_tokens")
    ).select("word", "cnt", "rnk", "cum_cnt")


def skipgram_cooccurrence(
    docs: DataFrame,
) -> DataFrame:
    """Word2vec-style positional co-occurrence: for every token, the
    tokens up to ``MAX_OFFSET`` positions AHEAD of it, weighted by
    harmonic distance (the word2vec window-sampling expectation 1/d).
    Weights are kept exact by scaling to the LCM: w6 = 6/d ∈ {6, 3, 2},
    so the aggregate is an integer sum and the ranking never compares
    floats. Directional (center → following context), which is what a
    skip-gram co-occurrence matrix builder consumes; symmetrize by
    adding the transpose downstream if needed.

    → top ``TOP_PAIRS`` rows (w1, w2, pair_n, w6_sum) by weighted count
    (row_number on (w6_sum desc, w1, w2) — exactly ``TOP_PAIRS`` rows).

    Scale shape: offsets are generated per document from the token
    array (3 slices of the SAME materialized array — tokens_table puts
    an Exchange under the split so it evaluates once); one shuffle on
    (w1, w2) with map-side combine; the final cut is a global
    TakeOrderedAndProject over the vocab²-bounded aggregate.
    """
    weights = {1: 6, 2: 3, 3: 2}
    offset_arrays = [
        F.when(
            F.size("toks") > off,
            F.expr(
                f"transform(sequence(1, size(toks) - {off}), "
                f"i -> struct(element_at(toks, i) AS w1, "
                f"element_at(toks, i + {off}) AS w2, "
                f"CAST({weights[off]} AS BIGINT) AS w6))"
            ),
        ).otherwise(F.expr("array()"))
        for off in range(1, MAX_OFFSET + 1)
    ]
    pairs = (
        tokens_table(docs)
        .select(F.explode(F.flatten(F.array(*offset_arrays))).alias("p"))
        .select("p.w1", "p.w2", "p.w6")
        .groupBy("w1", "w2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("pair_n"),
            F.sum("w6").cast("long").alias("w6_sum"),
        )
    )
    # Global top-N as TakeOrderedAndProject (per-partition heaps) —
    # a single-partition row_number window here would funnel the whole
    # vocab² aggregate through one task. The sort key (w6_sum, w1, w2)
    # is unique per row, so limit ≡ the oracle's row_number cut.
    return pairs.orderBy(F.col("w6_sum").desc(), "w1", "w2").limit(
        TOP_PAIRS
    )


def skipgram_oracle_sql(toks_sql: str) -> str:
    """DuckDB twin of :func:`skipgram_cooccurrence` — same offsets,
    same integer 6/d weights, same row_number cut."""
    weights = {1: 6, 2: 3, 3: 2}
    branches = "\n        UNION ALL\n".join(
        f"""
        SELECT pr[1] AS w1, pr[2] AS w2, CAST({weights[off]} AS BIGINT) AS w6
        FROM (SELECT unnest(list_transform(
                  generate_series(1, len(t) - {off}),
                  i -> [t[i], t[i + {off}]])) AS pr
              FROM (SELECT {toks_sql} AS t FROM documents
                    WHERE len({toks_sql}) > {off}))
        """
        for off in range(1, MAX_OFFSET + 1)
    )
    return f"""
    WITH pairs AS ({branches}),
    agg AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS pair_n,
               CAST(sum(w6) AS BIGINT) AS w6_sum
        FROM pairs GROUP BY 1, 2
    )
    SELECT w1, w2, pair_n, w6_sum FROM (
        SELECT *, row_number() OVER (ORDER BY w6_sum DESC, w1, w2) AS rk
        FROM agg)
    WHERE rk <= {TOP_PAIRS}
    """
