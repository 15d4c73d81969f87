"""ROUGE-L / longest-common-subsequence decontamination scoring.

N-gram containment (``ngram_containment_pairs``, the decontaminate
ops) catches verbatim overlap; the harder eval-leak is a *lightly
edited* copy — words inserted or substituted so no long n-gram
survives, but the token ORDER does. That is exactly what LCS
measures: ROUGE-L (LCS-based F) is the standard score for it, and
"max ROUGE-L against the eval set" is a published decontamination
criterion where n-gram rules miss paraphrases.

Shape: LCS is O(|a|·|b|) dynamic programming per pair — never run it
all-pairs. This module scores a BOUNDED candidate set produced by
the cheap prefilter (3-gram Jaccard via the PPJoin-shaped
``ngram_jaccard_pairs``), ordered and limited deterministically so
the oracle selects the identical pairs. At 100 TB the shape is the
same: LSH/Jaccard prefilter fans in, the quadratic scorer runs on
the survivors only (candidates × avg-doc-len² work, independent of
corpus size).

The DuckDB oracle replays the DP exactly via ANTI-DIAGONAL
recursion: dp(i,j) depends on dp(i−1,j), dp(i,j−1), dp(i−1,j−1) —
all on the previous two diagonals — so a recursive CTE carrying two
fixed-length diagonal lists per pair walks d = 1..|a|+|b| with no
intra-step dependency. Integer DP values; the ROUGE-L F1 emits in
milli units via the round-half-up identity (4000·lcs + (la+lb)) div
(2·(la+lb)) — no float anywhere.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LIMIT_PAIRS = 12  # candidate pairs scored, shared by the Spark builder and its oracle


def rouge_l_pairs(
    docs: DataFrame,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """→ (doc_id_a, doc_id_b, len_a, len_b, lcs_tokens,
    rouge_l_f_milli) for the first ``LIMIT_PAIRS`` (by id) candidate
    pairs at 3-gram Jaccard ≥ ``jaccard_threshold``."""
    import pandas as pd  # noqa: F401

    from taxi_trips_etl_spark.dataprep.dedup import (
        ngram_jaccard_pairs,
        tokens_table,
    )

    from taxi_trips_etl_spark.dataprep.materialize import materialize

    # ≤ LIMIT_PAIRS rows; materialized because three consumers below
    # (the two id projections and the final join) would each re-run
    # the candidate-join spine.
    pairs = materialize(
        ngram_jaccard_pairs(docs, threshold=jaccard_threshold)
        .select("doc_id_a", "doc_id_b")
        .orderBy("doc_id_a", "doc_id_b")
        .limit(LIMIT_PAIRS),
        eager=False,
    )
    # Broadcast the SMALL side (guide §3.1): the old shape broadcast
    # the whole corpus-sized tokens table TWICE to join against a
    # ≤ LIMIT_PAIRS-row pair list — a driver/executor OOM at any real
    # scale (broadcast relations cap at 8 GB) and two tokenize passes.
    # Instead, one tokenize pass semi-joined down to the ≤ 2·limit
    # pair ids, and THAT (bounded) table broadcasts to both sides.
    ids = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
    )
    toks_small = materialize(
        tokens_table(docs).join(F.broadcast(ids), "doc_id", "left_semi"),
        eager=False,
    )
    joined = pairs.join(
        F.broadcast(
            toks_small.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("toks").alias("toks_a"),
            )
        ),
        "doc_id_a",
    ).join(
        F.broadcast(
            toks_small.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("toks").alias("toks_b"),
            )
        ),
        "doc_id_b",
    )

    def _score(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                a, b = list(r.toks_a), list(r.toks_b)
                la, lb = len(a), len(b)
                prev = [0] * (lb + 1)
                for x in a:
                    cur = [0] * (lb + 1)
                    for j in range(1, lb + 1):
                        if x == b[j - 1]:
                            cur[j] = prev[j - 1] + 1
                        else:
                            cur[j] = max(prev[j], cur[j - 1])
                    prev = cur
                lcs = prev[lb]
                f_milli = (4000 * lcs + (la + lb)) // (2 * (la + lb))
                rows.append(
                    (r.doc_id_a, r.doc_id_b, la, lb, lcs, f_milli)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id_a",
                    "doc_id_b",
                    "len_a",
                    "len_b",
                    "lcs_tokens",
                    "rouge_l_f_milli",
                ],
            )

    return joined.mapInPandas(
        _score,
        "doc_id_a long, doc_id_b long, len_a long, len_b long, "
        "lcs_tokens long, rouge_l_f_milli long",
    )


def rouge_l_oracle_sql(
    toks_sql: str,
    grams_sql: str,
    jaccard_threshold: float = 0.5,
) -> str:
    """DuckDB twin: identical pair selection, then the LCS DP replayed
    by anti-diagonal recursion (see module docstring for the index
    algebra: position i1 of a diagonal list holds dp(i1−1, d−i1+1))."""
    return f"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, {toks_sql} AS t FROM documents
    ),
    g AS MATERIALIZED (SELECT doc_id, grams, len(grams) AS n_grams
          FROM ({grams_sql}) WHERE len(grams) > 0),
    posts AS MATERIALIZED (SELECT doc_id, unnest(grams) AS gram FROM g),
    inter AS MATERIALIZED (
        SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
               CAST(count(*) AS BIGINT) AS c
        FROM posts a JOIN posts b
          ON a.gram = b.gram AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    -- grams are DISTINCT per doc, so the posting-join count c equals
    -- len(list_intersect) and |A∪B| = na + nb − c: identical jaccard,
    -- ~10× cheaper than the all-pairs list_intersect formulation.
    pairs AS MATERIALIZED (
        SELECT i.doc_id_a, i.doc_id_b
        FROM inter i
        JOIN g a ON a.doc_id = i.doc_id_a
        JOIN g b ON b.doc_id = i.doc_id_b
        WHERE least(a.n_grams, b.n_grams)
                  >= greatest(a.n_grams, b.n_grams) * {jaccard_threshold}
          AND CAST(i.c AS DOUBLE) / (a.n_grams + b.n_grams - i.c)
              >= {jaccard_threshold}
        ORDER BY 1, 2 LIMIT {LIMIT_PAIRS}
    ),
    pt AS MATERIALIZED (
        SELECT p.doc_id_a, p.doc_id_b, ta.t AS ta, tb.t AS tb,
               len(ta.t) AS la, len(tb.t) AS lb
        FROM pairs p
        JOIN toks ta ON ta.doc_id = p.doc_id_a
        JOIN toks tb ON tb.doc_id = p.doc_id_b
    ),
    it AS (
        SELECT doc_id_a, doc_id_b, ta, tb, la, lb, 1 AS d,
               list_transform(generate_series(1, la + 1),
                              x -> CAST(0 AS BIGINT)) AS prev,
               list_transform(generate_series(1, la + 1),
                              x -> CAST(0 AS BIGINT)) AS cur
        FROM pt
        UNION ALL
        SELECT doc_id_a, doc_id_b, ta, tb, la, lb, d + 1, cur,
               list_transform(generate_series(1, la + 1), i1 -> CASE
                   WHEN i1 = 1 THEN CAST(0 AS BIGINT)
                   WHEN (d + 1) - (i1 - 1) < 1
                        OR (d + 1) - (i1 - 1) > lb THEN CAST(0 AS BIGINT)
                   ELSE greatest(
                       cur[i1 - 1], cur[i1],
                       prev[i1 - 1]
                       + CASE WHEN ta[i1 - 1] = tb[(d + 1) - (i1 - 1)]
                              THEN 1 ELSE 0 END)
               END)
        FROM it WHERE d < la + lb
    )
    SELECT doc_id_a, doc_id_b,
           CAST(la AS BIGINT) AS len_a, CAST(lb AS BIGINT) AS len_b,
           CAST(cur[la + 1] AS BIGINT) AS lcs_tokens,
           (4000 * cur[la + 1] + (la + lb)) // (2 * (la + lb))
               AS rouge_l_f_milli
    FROM it WHERE d = la + lb
    """
