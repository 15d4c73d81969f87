"""Exact duplicated-substring SPANS across documents.

``dup_ngram_coverage`` (text.py) answers "how much of this doc is
duplicated somewhere"; this module answers the harder attribution
question the suffix-array pass of Lee et al. 2021 ("Deduplicating
Training Data Makes Language Models Better") answers — WHERE the
shared segments are and WITH WHOM, as maximal token spans. Spark has
no distributed suffix array, but the same output falls out of a
classic composition:

1. slide a W-token window over each doc → (doc, pos, md5(window));
2. drop hot windows (boilerplate shingles) with a DETERMINISTIC
   posting cap: a hash held by more than ``MAX_POSTINGS`` (doc, pos)
   entries is dropped ENTIRELY, so the result is a pure function of
   the corpus, not of partitioning;
3. equi-join postings on the hash (doc_a < doc_b) → matching window
   pairs; two windows W apart on the SAME pair and SAME diagonal
   (pos_a − pos_b) belong to one longer shared substring;
4. gaps-and-islands per (doc_a, doc_b, diag): consecutive pos_a runs
   merge into maximal spans of length (run + W − 1) tokens.

Scale shape at 100 TB: the explode is bounded by token count (one row
per token, same as tokenization); the join is an equi-join on a
uniform 32-hex key whose per-key fan-out the cap bounds by
MAX_POSTINGS²; the island window partitions on (pair, diag) — keys
far smaller than the data. No all-pairs stage anywhere: documents
sharing no W-window never meet.

False positives: md5 collisions between distinct W-windows could
fabricate a match — at 128 bits, negligible, and identical in the
DuckDB oracle (same hash), so correctness comparisons stay exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

W = 8  # tokens per sliding window
MIN_SPAN_LEN = 12  # shortest duplicated span reported, in tokens
MAX_POSTINGS = 20  # postings above which a window hash is hot


def window_postings(docs: DataFrame) -> DataFrame:
    """→ (doc_id, pos, h): one row per W-token sliding window, hot
    hashes (> MAX_POSTINGS occurrences corpus-wide) removed."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    posted = (
        docs.select(F.col("doc_id").alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= W)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - F.lit(W - 1)),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("toks"), i, W)
                    ),
                )
            ).alias("pos0", "gram"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.md5("gram").alias("h"),
        )
    )
    w_hot = Window.partitionBy("h")
    return (
        posted.withColumn("n_post", F.count(F.lit(1)).over(w_hot))
        .filter(F.col("n_post") <= MAX_POSTINGS)
        .drop("n_post")
    )


def duplicated_spans(docs: DataFrame) -> DataFrame:
    """Maximal cross-doc duplicated substrings of ≥ MIN_SPAN_LEN tokens.

    → (doc_a, doc_b, a_start, b_start, span_tokens), doc_a < doc_b,
    1-based token offsets. A span of ``span_tokens`` means tokens
    a[a_start … a_start+span_tokens−1] == b[b_start …] under the
    W-window hash (see module docstring on collisions).
    """
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    # Both self-join sides consume the postings — the same
    # no-ReusedExchange trap the simhash/minhash candidate generators
    # checkpoint: without it the tokenize → W-window hash → hot-cap
    # window spine runs TWICE (r13: docs scans 2 → 0 in-plan, the
    # whole spine once). The frame is three narrow columns per token
    # position, far smaller than re-reading and re-hashing the text.
    post = materialize(window_postings(docs), eager=False)
    a = post.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        "h",
    )
    b = post.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        F.col("h").alias("hb"),
    )
    pairs = a.join(
        b,
        (F.col("h") == F.col("hb")) & (F.col("doc_a") < F.col("doc_b")),
    ).select(
        "doc_a",
        "doc_b",
        "pos_a",
        "pos_b",
        (F.col("pos_a") - F.col("pos_b")).alias("diag"),
    )
    w_run = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = pairs.withColumn(
        "brk",
        F.when(
            F.col("pos_a") - F.lag("pos_a").over(w_run) == 1, 0
        ).otherwise(1),
    ).withColumn(
        "island",
        F.sum("brk").over(
            w_run.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "island").agg(
        F.min("pos_a").alias("a_start"),
        F.max("pos_a").alias("a_end"),
        F.min("pos_b").alias("b_start"),
    )
    return (
        spans.withColumn(
            "span_tokens",
            (F.col("a_end") - F.col("a_start") + F.lit(W)).cast("long"),
        )
        .filter(F.col("span_tokens") >= MIN_SPAN_LEN)
        .select(
            "doc_a",
            "doc_b",
            F.col("a_start").cast("long"),
            F.col("b_start").cast("long"),
            "span_tokens",
        )
    )
