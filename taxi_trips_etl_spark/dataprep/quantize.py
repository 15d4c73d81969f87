"""Scalar (int8) quantization of embedding columns.

The storage/bandwidth workhorse of large embedding corpora: a 64-dim
float32 vector is 256 bytes; affine-quantized to int8 it is 64 bytes +
a shared per-dimension codebook of two doubles. At 100 TB the codebook
is what makes this shape work — it is a per-DIMENSION (not per-vector)
min/max, so the "training" pass is one narrow aggregation whose output
is `dims` rows (64 here), broadcast back onto the corpus for the
encode pass. Compare PQ (`pq_exact.pq_topk_replayable`) which trains
k-means codebooks per subspace; scalar quantization is the cheaper, fully
SQL-expressible end of the same spectrum.

Determinism: the affine map uses only IEEE double arithmetic
(`(v - mn) / ((mx - mn) / 255)`, round-half-away-from-zero on a
non-negative operand, clamp to [0, 255]) so an external engine
(DuckDB) replays it bit-for-bit — the registry oracle proves it.

No reference-counterpart: the reference repo (efesabanogluu/
taxi_trips_etl) has no vector surface; this extends the engine's
LLM-data-prep family per the build brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dim_minmax(emb: DataFrame) -> DataFrame:
    """→ (dim_idx, mn, mx): per-dimension range over the whole corpus.

    posexplode + groupBy(dim) — map-side partial aggregation collapses
    each task's contribution to `dims` rows before the (tiny) shuffle,
    so the pass is scan-bound regardless of corpus size.
    """
    return (
        emb.select(
            F.posexplode("embedding").alias("dim_idx", "_v")
        )
        .select("dim_idx", F.col("_v").cast("double").alias("v"))
        .groupBy("dim_idx")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    )


def quantize_int8(
    emb: DataFrame,
) -> DataFrame:
    """→ (vec_id, dim_idx, code) with code ∈ [-128, 127].

    Affine per-dimension map: ``code = round((v - mn) / scale) - 128``
    where ``scale = (mx - mn) / 255``; a constant dimension
    (``mx == mn``) maps to code 0. The codebook joins back as a
    broadcast (64 rows), so the encode pass adds zero shuffles on the
    corpus side — the plan is scan → posexplode → broadcast-hash-join
    → project, all whole-stage codegen.
    """
    stats = F.broadcast(dim_minmax(emb))
    exploded = emb.select(
        F.col("vec_id"),
        F.posexplode("embedding").alias("dim_idx", "_v"),
    ).select("vec_id", "dim_idx", F.col("_v").cast("double").alias("v"))
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    code = (
        F.when(scale == 0, F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(255).cast("long"),
                F.greatest(
                    F.lit(0).cast("long"),
                    F.round((F.col("v") - F.col("mn")) / scale).cast("long"),
                ),
            )
            - F.lit(128)
        )
    )
    return exploded.join(stats, "dim_idx").select(
        "vec_id",
        F.col("dim_idx").cast("long").alias("dim_idx"),
        code.alias("code"),
    )
