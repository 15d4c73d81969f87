"""Unigram-LM subword segmentation (SentencePiece, Kudo 2018) — the
Viterbi decode that BPE-merge application (``dataprep/bpe.py``)
doesn't cover: given a piece vocabulary with unigram probabilities,
each word is split into the piece sequence of MAXIMUM total log
probability, not the greedy merge order.

Vocabulary here is the deterministic seed SentencePiece itself starts
from: every single character of the corpus plus the top-K multi-char
substrings (length 2..``max_piece_len``) by corpus occurrence count —
occurrence = per-word substring positions x the word's corpus
frequency. Piece scores are integer micro-nats,
``floor(1e6 * ln(c/T) + 0.5)``, so the Viterbi DP is exact integer
arithmetic and any engine lands on the identical segmentation
(ln's last-ulp noise would need to sit within ~1e-10 of a .5
micro-boundary to flip a score).

Scale shape (100 TB): everything is vocab-bounded after two narrow
aggregates — word frequencies (one shuffle, map-side combine) and
substring counts (explode is x len·max_piece_len of the DISTINCT-word
table, not the corpus). The DP runs once per DISTINCT word over a
broadcast score dict (|vocab| <= K + alphabet), via mapInPandas;
re-tokenizing the corpus is then a broadcast join of tokens against
the per-word segmentation table. Nothing downstream of the first
aggregate touches corpus-sized data.

Tie rules, pinned for replay: top-K selection orders (count DESC,
piece ASC); the DP breaks equal scores toward the SMALLER split point
(longest last piece).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Shared by the Spark builder and its oracle: multi-char pieces kept in
# the seed vocabulary and the longest piece.
TOP_MULTI = 40
MAX_PIECE_LEN = 4


def _word_counts(docs: DataFrame) -> DataFrame:
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    return (
        tokens_table(docs)
        .select(F.explode("toks").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("word_n"))
    )


def unigram_vocab_scores(
    docs: DataFrame,
    top_multi: int = 40,
    max_piece_len: int = 4,
) -> DataFrame:
    """→ (piece, c, score_micro): the seed vocabulary with integer
    micro-nat log probabilities. All single chars are kept (so every
    word is segmentable); multi-char pieces keep the ``top_multi``
    most frequent."""
    words = _word_counts(docs)
    # Every (start, len) substring of every distinct word, weighted by
    # the word's corpus frequency — one JVM-side explode over the
    # distinct-word table.
    subs = words.select(
        "word_n",
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(word)),"
                f" s -> transform(sequence(1, least({max_piece_len},"
                " length(word) - s + 1)),"
                " l -> substring(word, s, l))))"
            )
        ).alias("piece"),
    )
    counts = subs.groupBy("piece").agg(
        F.sum("word_n").cast("long").alias("c")
    )
    multi = (
        counts.filter(F.length("piece") >= 2)
        .orderBy(F.col("c").desc(), "piece")
        .limit(top_multi)
    )
    vocab = counts.filter(F.length("piece") == 1).unionByName(multi)
    total = vocab.select(F.sum("c").cast("double").alias("t"))
    return (
        vocab.crossJoin(F.broadcast(total))
        .select(
            "piece",
            "c",
            F.floor(F.log(F.col("c") / F.col("t")) * 1e6 + 0.5)
            .cast("long")
            .alias("score_micro"),
        )
    )


def unigram_viterbi_segment(docs: DataFrame) -> DataFrame:
    """→ (word, word_n, n_pieces, segmentation, score_micro): the
    maximum-likelihood piece split of every distinct corpus word under
    the seed unigram vocabulary; ``segmentation`` joins pieces with
    a space."""
    import pandas as pd  # noqa: F401  (mapInPandas contract)

    vocab_df = unigram_vocab_scores(docs, TOP_MULTI, MAX_PIECE_LEN)
    # Vocab is bounded (alphabet + top_multi): a legitimate driver-side
    # broadcast dim, same pattern as kmeans centroids.
    scores = {
        r["piece"]: int(r["score_micro"]) for r in vocab_df.collect()
    }
    words = _word_counts(docs)
    max_len = MAX_PIECE_LEN

    def _segment(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        NEG = float("-inf")
        for pdf in batches:
            out = []
            for word, word_n in zip(pdf["word"], pdf["word_n"]):
                n = len(word)
                best = [NEG] * (n + 1)
                back = [0] * (n + 1)
                best[0] = 0
                for i in range(1, n + 1):
                    # Smaller j wins ties -> scan j ascending, strict >.
                    for j in range(max(0, i - max_len), i):
                        piece = word[j:i]
                        s = scores.get(piece)
                        if s is None or best[j] == NEG:
                            continue
                        cand = best[j] + s
                        if cand > best[i]:
                            best[i] = cand
                            back[i] = j
                pieces: list[str] = []
                i = n
                while i > 0:
                    pieces.append(word[back[i]:i])
                    i = back[i]
                pieces.reverse()
                out.append(
                    (
                        word,
                        int(word_n),
                        len(pieces),
                        " ".join(pieces),
                        int(best[n]),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "word", "word_n", "n_pieces", "segmentation",
                    "score_micro",
                ],
            )

    return words.mapInPandas(
        _segment,
        "word string, word_n long, n_pieces long, segmentation string,"
        " score_micro long",
    )
