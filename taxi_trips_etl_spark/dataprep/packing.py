"""Sequence packing: concatenate-and-split for LLM pre-training.

GPT-style pre-training concatenates every document's tokens into one
stream and slices it into fixed-length training sequences. The packing
*plan* (which sequences each doc lands in) is a pure function of a
global running token offset — i.e. a prefix sum over docs in a stable
order.

A naive `SUM(...) OVER (ORDER BY doc_id)` is a single-partition window
— the classic 100-TB killer (every row funnels through one task). This
implements the scalable two-pass prefix sum instead:

  1. bucket docs by id range; one partial-agg shuffle sums tokens per
     bucket (output: #buckets rows, tiny relative to the corpus);
  2. prefix-sum the bucket totals on the driver (bounded: one long per
     bucket — pick ``BUCKET_SPAN`` so #buckets stays ~1e6 at target
     scale, or recurse the same trick one level for more);
  3. broadcast the bucket offsets back; the within-bucket cumsum is a
     window partitioned BY BUCKET — partition-local, embarrassingly
     parallel, no global sort.

The result is identical to the single-window plan (the oracle uses the
naive global window — same numbers), but every stage is parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.dedup import tokens_col

BUCKET_SPAN = 4096  # doc ids per prefix-sum bucket


def pack_sequences(docs: DataFrame, seq_len: int = 512) -> DataFrame:
    """→ (doc_id, n_tokens, start_offset, first_seq, last_seq, n_seqs).

    ``start_offset`` is the doc's position in the concatenated token
    stream (docs ordered by ``doc_id``); ``first_seq``/``last_seq`` are
    the fixed-length training sequences it spans at ``seq_len``.
    """
    if seq_len < 1:
        # `x div 0` is NULL in Spark: zero silently nulls the sequence
        # columns instead of erroring.
        raise ValueError(f"pack_sequences needs seq_len >= 1, got {seq_len}")
    toks = docs.select(
        F.col("doc_id"),
        F.size(tokens_col()).cast("long").alias("n_tokens"),
        F.expr(f"doc_id div {BUCKET_SPAN}").alias("_bucket"),
    )

    # Pass 1: per-bucket token totals (tiny), prefix-summed driver-side.
    bucket_rows = sorted(
        toks.groupBy("_bucket").agg(F.sum("n_tokens").alias("t")).collect(),
        key=lambda r: r["_bucket"],
    )
    offsets, acc = [], 0
    for r in bucket_rows:
        offsets.append((r["_bucket"], acc))
        acc += r["t"]
    from taxi_trips_etl_spark.sources.localrel import local_rows

    off_df = local_rows(
        docs.sparkSession, offsets, "_bucket long, _bucket_offset long"
    )

    # Pass 2: partition-local cumsum + broadcast bucket offsets.
    w = (
        Window.partitionBy("_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    start = F.col("_bucket_offset") + F.coalesce(
        F.sum("n_tokens").over(w), F.lit(0)
    )
    first_seq = F.expr(f"start_offset div {seq_len}")
    last_seq = F.expr(f"(start_offset + n_tokens - 1) div {seq_len}")
    return (
        toks.join(F.broadcast(off_df), "_bucket")
        .withColumn("start_offset", start)
        .select(
            "doc_id",
            "n_tokens",
            "start_offset",
            first_seq.cast("long").alias("first_seq"),
            last_seq.cast("long").alias("last_seq"),
            (last_seq - first_seq + 1).cast("long").alias("n_seqs"),
        )
    )
