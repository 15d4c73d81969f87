"""Deterministic pretraining-objective data prep: T5/UL2-style span
corruption masks and word2vec-style negative-sampling tables.

Both are usually done with an RNG at batch-assembly time; doing them
ENGINE-SIDE and DETERMINISTICALLY (md5 arithmetic, integer layout)
buys (a) reproducible training batches — the same corpus snapshot
always yields the same masks/negatives, so a resumed or re-sharded
run sees identical examples, and (b) oracle-verifiability: every
span boundary and every sampled negative is a pure integer function
of the data, replayed bit-for-bit by the DuckDB twin.

Span layout (span_corruption_masks): with noise density p (percent)
and mean span length 3, a doc of n tokens gets
n_spans = max(1, (n·p div 100) div 3) spans, one per equal segment
of the token axis — segment containment guarantees non-overlap
without any rejection loop. Within segment s the span length is
2 + (h2 % 3) ∈ {2,3,4} (mean 3) clamped to the segment, and the
start is segment_start + (h1 % free) where free = seg_len − len + 1;
h1/h2 are 60-bit md5 integers of (doc_id, s). This is the fixed-
rate flavor of the T5 objective — the published preprocessing uses
an RNG where this uses content hashes, same mask statistics.

Negative sampling (negative_sample_table): the classic unigram^0.75
distribution. Per-token weight w = round(count^0.75 · 1e6) as int64
(the 1e-6 quantization absorbs libm pow noise across engines),
cumulative ranges over tokens in lexical order, and draw i lands on
the token whose [cum_lo, cum_hi) range contains
h(i) % W — a 60-bit hash modulo the total weight (modulo bias is
≪ 2^-40 here and identical on both engines). The table is what a
skip-gram/contrastive trainer consumes in place of per-step RNG
draws.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NOISE_PCT = 15  # span-corruption noise density p, in percent
N_SAMPLES = 500  # negative_sample_table's draws


def _h60(prefix: str, *cols) -> F.Column:
    """60-bit integer from md5 of 'prefix:col1:col2...' — exact and
    engine-portable (15 hex chars < 2^60 fits int64)."""
    parts = [F.lit(prefix)]
    for c in cols:
        parts += [F.lit(":"), c.cast("string")]
    return F.conv(F.substring(F.md5(F.concat(*parts)), 1, 15), 16, 10).cast(
        "long"
    )


def span_corruption_masks(
    docs: DataFrame,
) -> DataFrame:
    """→ (doc_id, span_id, start, length): 0-based token-index spans
    to mask, one row per sentinel. See module docstring for the
    deterministic layout."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    toks = tokens_table(docs).select(
        "doc_id", F.size("toks").cast("long").alias("n")
    ).filter(F.col("n") >= 4)
    spans = toks.select(
        "doc_id",
        "n",
        F.expr(
            f"explode(sequence(0, greatest(1,"
            f" (n * {NOISE_PCT} div 100) div 3) - 1))"
        ).alias("span_id"),
        F.expr(
            f"greatest(1, (n * {NOISE_PCT} div 100) div 3)"
        ).alias("n_spans"),
    )
    seg_lo = F.expr("span_id * n div n_spans")
    seg_hi = F.expr("(span_id + 1) * n div n_spans")
    seg_len = seg_hi - seg_lo
    raw_len = 2 + _h60("spanlen", F.col("doc_id"), F.col("span_id")) % 3
    length = F.least(raw_len, seg_len)
    free = seg_len - length + 1
    start = seg_lo + _h60("spanpos", F.col("doc_id"), F.col("span_id")) % free
    return spans.select(
        "doc_id",
        "span_id",
        start.cast("long").alias("start"),
        length.cast("long").alias("length"),
    )


def negative_sample_table(docs: DataFrame) -> DataFrame:
    """→ (sample_idx, token): ``N_SAMPLES`` deterministic draws from
    the unigram^0.75 distribution over the corpus vocabulary."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    counts = (
        tokens_table(docs)
        .select(F.explode("toks").alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    w = Window.orderBy("token").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # Vocab-bounded global window (the repo's sanctioned shape: the
    # frame is distinct-token-sized, never corpus-sized).
    cum = counts.select(
        "token",
        F.expr(
            "CAST(round(pow(CAST(n AS DOUBLE), 0.75) * 1000000)"
            " AS BIGINT)"
        ).alias("wq"),
    ).withColumn("cum_hi", F.sum("wq").over(w).cast("long"))
    cum = cum.withColumn("cum_lo", (F.col("cum_hi") - F.col("wq")))
    total = cum.agg(F.max("cum_hi").cast("long").alias("tw"))
    draws = (
        docs.sparkSession.range(N_SAMPLES)
        .select(F.col("id").cast("long").alias("sample_idx"))
        .crossJoin(F.broadcast(total))
        .select(
            "sample_idx",
            (_h60("neg", F.col("sample_idx")) % F.col("tw")).alias(
                "target"
            ),
        )
    )
    return (
        draws.join(
            F.broadcast(cum),
            (F.col("target") >= F.col("cum_lo"))
            & (F.col("target") < F.col("cum_hi")),
        )
        .select("sample_idx", "token")
        .orderBy("sample_idx")
    )
