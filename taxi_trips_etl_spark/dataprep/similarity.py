"""Similarity search over an embedding column (``array<float>``).

Beyond-reference surface (BASELINE.json north-star): approximate-
nearest-neighbor primitives for a training-data pipeline.

- :func:`cosine_topk_bruteforce` — the exactness baseline: query-set ×
  corpus join, cosine via JVM higher-order folds (zip_with + aggregate,
  no Python), per-query top-k window. At 100 TB the corpus side stays
  partitioned; the (small) query set is broadcast, so the "cross" join
  is really a broadcast-nested-loop producing |Q|·|C| scored rows that
  immediately collapse through a per-query top-k — no shuffle of the
  corpus itself.
- :func:`ivf_topk` — the index path: inverted lists over coarse
  cells. Product quantization (codes scored by ADC table lookups, the
  compressed-scan shape for huge corpora) is
  ``pq_exact.pq_topk_replayable``.
- :func:`random_projection` — deterministic JL dimension reduction,
  bit-exact against the oracle via a shared expression generator.
- :func:`cosine_topk_lsh` — the scale path: sign-LSH bucketing
  (axis-aligned hyperplanes over the first ``planes`` dimensions →
  deterministic and engine-portable), candidates limited to the query's
  bucket, then exact cosine re-rank. Recall trades with bucket width;
  production would use random hyperplanes + multi-probe, which changes
  only the bucket expression.

All arithmetic is double-precision with a fixed fold order, so Spark
and the DuckDB oracle (``list_cosine_similarity``) agree to ~1e-15;
scores are rounded to 6 dp in the output.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# truncation_recall's audit, shared by the Spark builder and its oracle:
# prefix widths, recall@k and the probe-query id bound.
TRUNC_DIMS = (16, 32)
TRUNC_K = 10
TRUNC_QUERY_IDS_BELOW = 20
# embedding_near_dup_pairs' banded sign-LSH: bands × planes per band.
NEAR_DUP_BANDS = 6
PLANES_PER_BAND = 10
# The ANN operators' fixed shapes: top-k and probe-query id bound of
# the sign-LSH search, the multi-probe plane count, the IVF probes.
LSH_TOPK = 3
LSH_QUERY_IDS_BELOW = 10
MULTIPROBE_PLANES = 8
IVF_NPROBE = 2
# hard-negative mining: negatives per query, and the IVF variant's
# cells and probes.
HARD_NEGATIVE_K = 2
HARD_NEGATIVE_CENTROIDS = 8
HARD_NEGATIVE_NPROBE = 2
# random_projection's JL shape, shared with its oracle.
RP_IN_DIM = 64
RP_OUT_DIM = 16
DECONTAMINATE_THRESHOLD = 0.4
# semdedup_prune's k-means: clusters and Lloyd iterations.
SEMDEDUP_K = 8
SEMDEDUP_ITERATIONS = 3


def _as_double(arr: Column) -> Column:
    return F.transform(arr, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two numeric arrays (JVM-side fold)."""
    ad, bd = _as_double(a), _as_double(b)
    return _dot(ad, bd) / (F.sqrt(_dot(ad, ad)) * F.sqrt(_dot(bd, bd)))


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_ids_below: int = 10,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: queries = rows with id < query_ids_below.

    Output: (query_id, neighbor_id, cosine, knn_rank) — rank by score
    desc with neighbor-id tiebreak for full determinism.
    """
    if k < 1:
        raise ValueError(f"cosine_topk_bruteforce needs k >= 1, got {k}")
    q = embeddings.filter(F.col("vec_id") < query_ids_below).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cos", 6).alias("cosine"),
            F.col("knn_rank").cast("long").alias("knn_rank"),
        )
    )


def ivf_topk(embeddings: DataFrame) -> DataFrame:
    """IVF (inverted-file) ANN: coarse-quantize the corpus into 8
    cells, search only the query's ``IVF_NPROBE`` nearest cells, re-rank
    candidates by exact cosine, and keep the top 3 for each query
    below id 10.

    Centroids are a deterministic sample (the 8 vectors with the
    lowest ids — selected by sort, so sparse/offset id spaces still
    yield exactly 8 cells) — the classic
    sampled-centroid IVF flavor; swap in k-means refinement without
    touching the search path. Scale shape: the
    centroid set broadcasts everywhere (tiny), assignment is one
    narrow pass over the corpus, and each query touches only its probed
    cells' inverted lists (an equi-join on cent_id) — never the full
    corpus. Recall is governed by IVF_NPROBE.
    """
    cents = (
        embeddings.orderBy("vec_id")
        .limit(8)
        .select(
            F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cent_vec")
        )
    )
    scored_cells = (
        embeddings.join(F.broadcast(cents))
        .select(
            F.col("vec_id"),
            F.col("embedding"),
            "cent_id",
            cosine(F.col("embedding"), F.col("cent_vec")).alias("_ccos"),
        )
    )
    w_cell = Window.partitionBy("vec_id").orderBy(
        F.col("_ccos").desc(), F.col("cent_id")
    )
    ranked_cells = scored_cells.withColumn("cell_rank", F.row_number().over(w_cell))
    # Inverted lists: every vector lives in exactly one cell.
    assignment = ranked_cells.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        "cent_id",
    )
    # Each query probes its IVF_NPROBE nearest cells.
    probes = (
        ranked_cells.filter(
            (F.col("vec_id") < 10) & (F.col("cell_rank") <= IVF_NPROBE)
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            "cent_id",
        )
    )
    scored = (
        probes.join(assignment, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cos", 6).alias("cosine"),
            F.col("knn_rank").cast("long").alias("knn_rank"),
        )
    )


def sign_bucket(vec: Column, planes: int = 16) -> Column:
    """Deterministic sign-LSH bucket: '10110…' over the first N dims."""
    if planes < 1:
        # planes = 0 buckets EVERY vector to "" — one all-pairs bucket.
        raise ValueError(f"sign_bucket needs planes >= 1, got {planes}")
    return F.concat_ws(
        "",
        F.transform(
            F.slice(vec, 1, planes),
            lambda x: F.when(x > 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )


def sign_bucket_band(vec: Column, band: int, planes: int) -> Column:
    """Band ``band``'s sign-LSH key: signs of dims
    [band·planes+1, (band+1)·planes] — disjoint dim ranges make the
    band keys independent the way MinHash bands are."""
    if band < 0 or planes < 1:
        raise ValueError(f"sign_bucket_band needs band >= 0, planes >= 1, got {band}/{planes}")
    return F.concat_ws(
        "",
        F.transform(
            F.slice(vec, band * planes + 1, planes),
            lambda x: F.when(x > 0, F.lit("1")).otherwise(F.lit("0")),
        ),
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup by vector similarity).

    BANDED sign-LSH, exactly the shape MinHash banding gives text
    dedup: band j keys on the sign pattern of dims [j·r+1, (j+1)·r]
    (r = ``PLANES_PER_BAND``), candidates are pairs agreeing on ALL r
    signs of ANY band, then exact cosine ≥ 0.3 verifies.

    Why bands×r and not one short prefix: a single r-plane bucket is a
    recall/occupancy knife-edge — small r (the old default, r=6) means
    only 2^r=64 possible buckets, so candidate pairs grow as n²/2^r:
    measured 59× the runtime at 10× the corpus (exponent 1.8) on the
    scale rig. Large single r fixes occupancy but collapses recall
    (every near-dup must agree on all r signs). Banding decouples the
    two: occupancy is governed by 2^r per band (1024 here → ~n²/1024
    candidate pairs per band; measured at 10× the corpus: 1.2M candidate
    evals vs the old 3.1M — and the gap widens as n grows), recall by 1-(1-p^r)^bands which for
    sign-agreement rates p near 1 exceeds the old p^6. Same fixed
    constants on the DuckDB oracle side. For corpora where n ≫ 2^r,
    raise ``PLANES_PER_BAND`` by log2 of the growth — bucket count,
    not band count, is what must track corpus size.

    A pair colliding in several bands is deduplicated by DISTINCT
    after the cosine (≤ ``NEAR_DUP_BANDS``× redundant fold work on the small
    collision set — cheaper than two vector-table join-backs).

    Two hot-path rules (both measured on the 10× scale rig, where the
    naive form took 58 s for ~1.2M candidate evals):

    - the vector NORM is computed once per ROW before banding, so the
      per-pair score is ONE dot fold (not a 3-fold cosine), and the
      expression tree dot/(norm_a·norm_b) matches the oracle's
      bit-for-bit;
    - the input is repartitioned to default parallelism first — a
      small embeddings table arrives as one parquet split, and the
      pair stage (the CPU-bound part) would otherwise run on ONE
      core. On a cluster-scale table the scan already has splits and
      the repartition is a cheap narrow-ish shuffle of n rows,
      amortized over the n²/2^r pair evaluations it parallelizes.
    """
    par = embeddings.sparkSession.sparkContext.defaultParallelism
    vd = _as_double(F.col("embedding"))
    base = embeddings.repartition(par).select(
        F.col("vec_id"),
        F.col("embedding"),
        F.sqrt(_dot(vd, vd)).alias("_norm"),
    )
    bucketed = base.select(
        F.col("vec_id"),
        F.col("embedding"),
        "_norm",
        F.posexplode(
            F.array(
                *[
                    sign_bucket_band(F.col("embedding"), j, PLANES_PER_BAND)
                    for j in range(NEAR_DUP_BANDS)
                ]
            )
        ).alias("band_id", "band_key"),
    )
    # NOT checkpointed, deliberately (unlike the text-dedup candidate
    # generators): the subtree above the scan is a trivial projection
    # (a few sign folds per row), so the self-join's second evaluation
    # re-reads compressed parquet — cheaper than writing the full
    # uncompressed vector table to block storage and reading it back
    # (measured: checkpoint 3.5s vs rescan 2.3s at sf0.1). Checkpoint
    # only pays when the recomputed subtree is expensive (hashing,
    # aggregation), not when it is scan-dominated.
    a = bucketed.select(
        F.col("vec_id").alias("vec_id_a"),
        F.col("embedding").alias("va"),
        F.col("_norm").alias("norm_a"),
        F.col("band_id").alias("band_a"),
        F.col("band_key").alias("key_a"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("vec_id_b"),
        F.col("embedding").alias("vb"),
        F.col("_norm").alias("norm_b"),
        F.col("band_id").alias("band_b"),
        F.col("band_key").alias("key_b"),
    )
    return (
        a.join(
            b,
            (F.col("band_a") == F.col("band_b"))
            & (F.col("key_a") == F.col("key_b"))
            & (F.col("vec_id_a") < F.col("vec_id_b")),
        )
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(
                _dot(_as_double(F.col("va")), _as_double(F.col("vb")))
                / (F.col("norm_a") * F.col("norm_b")),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
        .distinct()
    )


def _flip_probes(bucket: Column) -> Column:
    """[bucket] + the MULTIPROBE_PLANES buckets at hamming distance 1."""
    planes = MULTIPROBE_PLANES

    def flip(i: Column) -> Column:
        prefix = bucket.substr(F.lit(1), i - 1)
        ch = F.when(bucket.substr(i, F.lit(1)) == "1", F.lit("0")).otherwise(
            F.lit("1")
        )
        suffix = bucket.substr(i + 1, F.lit(planes) - i)
        return F.concat(prefix, ch, suffix)

    return F.concat(
        F.array(bucket), F.transform(F.sequence(F.lit(1), F.lit(planes)), flip)
    )


def cosine_topk_lsh_multiprobe(embeddings: DataFrame) -> DataFrame:
    """Multi-probe sign-LSH ANN over MULTIPROBE_PLANES = 8 planes: each
    query below id 10 keeps its top LSH_TOPK from its own bucket PLUS
    every bucket one plane-flip away (8 + 1 probes).

    The standard recall lever: neighbors that landed just across one
    hyperplane become reachable without widening buckets. Corpus-side
    cost is unchanged (each vector still lives in ONE bucket — the
    probe fan-out multiplies only the tiny query side of the join).
    """
    with_bucket = embeddings.select(
        F.col("vec_id"),
        F.col("embedding"),
        sign_bucket(F.col("embedding"), MULTIPROBE_PLANES).alias("bucket"),
    )
    q = (
        with_bucket.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_vec"),
            F.explode(_flip_probes(F.col("bucket"))).alias("probe"),
        )
    )
    c = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("probe") == F.col("c_bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= LSH_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cos", 6).alias("cosine"),
            F.col("knn_rank").cast("long").alias("knn_rank"),
        )
    )


def cosine_topk_lsh(embeddings: DataFrame, planes: int = 8) -> DataFrame:
    """ANN top-LSH_TOPK for each query below id LSH_QUERY_IDS_BELOW:
    candidates share the query's sign-LSH bucket.

    Same output shape as the brute-force baseline; recall < 1 by
    design. The candidate join key is the bucket string → at scale this
    is a hash join on bucket, not a cross join.
    """
    if planes < 1:
        raise ValueError(f"cosine_topk_lsh needs planes >= 1, got {planes}")
    with_bucket = embeddings.select(
        F.col("vec_id"),
        F.col("embedding"),
        sign_bucket(F.col("embedding"), planes).alias("bucket"),
    )
    q = with_bucket.filter(F.col("vec_id") < LSH_QUERY_IDS_BELOW).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("bucket").alias("q_bucket"),
    )
    c = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("bucket").alias("c_bucket"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("q_bucket") == F.col("c_bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("_cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= LSH_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cos", 6).alias("cosine"),
            F.col("knn_rank").cast("long").alias("knn_rank"),
        )
    )


def random_projection_sql(dialect: str = "spark") -> list[str]:
    """SQL expression per output dimension for a deterministic
    Achlioptas (±1) random projection — the Johnson-Lindenstrauss
    dimension reduction that preserves pairwise distances within
    (1±ε) at out_dim = O(log n / ε²), from RP_IN_DIM to RP_OUT_DIM
    dimensions.

    Signs come from md5(rp:i:j) computed HERE (python), so the
    literal coefficients are identical in the Spark plan and the
    DuckDB oracle; the sum is written as one explicit left-associated
    chain, so IEEE addition order matches bit-for-bit across engines.
    One generator serves both dialects (element indexing aside):
    projecting is a single narrow projection — no shuffle, no UDF,
    and at 100 TB it shrinks every downstream ANN/dedup scan by
    in_dim/out_dim.
    """
    import hashlib
    import math

    in_dim, out_dim = RP_IN_DIM, RP_OUT_DIM
    scale = 1.0 / math.sqrt(out_dim)
    elem = (
        (lambda i: f"CAST(element_at(embedding, {i}) AS DOUBLE)")
        if dialect == "spark"
        else (lambda i: f"CAST(embedding[{i}] AS DOUBLE)")
    )
    exprs = []
    for j in range(out_dim):
        terms = []
        for i in range(1, in_dim + 1):
            h = hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()
            sign = "-" if int(h[:8], 16) & 1 else ""
            terms.append(f"({sign}{scale!r} * {elem(i)})")
        exprs.append(" + ".join(terms))
    return exprs


def random_projection(embeddings: DataFrame) -> DataFrame:
    """→ (vec_id, rp_0 … rp_{RP_OUT_DIM-1}): JL-projected vectors."""
    exprs = random_projection_sql()
    return embeddings.select(
        F.col("vec_id"),
        *[
            F.round(F.expr(e), 6).alias(f"rp_{j}")
            for j, e in enumerate(exprs)
        ],
    )


def semantic_decontaminate(corpus: DataFrame, eval_set: DataFrame) -> DataFrame:
    """Flag corpus vectors semantically close to ANY eval-set vector —
    the embedding-space analogue of n-gram decontamination
    (text.decontaminate): a benchmark rephrased beyond n-gram overlap
    still collides in embedding space.

    → (vec_id, matched_eval_id, max_cosine) for corpus rows whose best
    eval cosine ≥ DECONTAMINATE_THRESHOLD; at most one row per corpus
    vector (its argmax eval, ties to the lower eval id).

    Scale shape: eval sets are BOUNDED (a benchmark suite is thousands
    of rows, the corpus is billions), so the eval side broadcasts and
    the corpus streams through a BroadcastNestedLoopJoin exactly once —
    no shuffle of raw vectors. The per-corpus-row argmax collapses
    map-side (partial aggregation runs before the exchange), so the one
    shuffle moves ≤ one small row per corpus row, never the |corpus| ×
    |eval| pair stream. For eval sets too big to broadcast, compose
    sign-LSH bucketing (embedding_near_dup_pairs) instead.

    Cosine is rounded to 6 decimals BEFORE thresholding/argmax so the
    fold order of the JVM-side lambda sum cannot flip a boundary
    decision between engines.
    """
    c = corpus.select(
        F.col("vec_id"), _as_double(F.col("embedding")).alias("_v")
    ).withColumn("_vn", F.sqrt(_dot(F.col("_v"), F.col("_v"))))
    e = eval_set.select(
        F.col("eval_id"), _as_double(F.col("embedding")).alias("_w")
    ).withColumn("_wn", F.sqrt(_dot(F.col("_w"), F.col("_w"))))
    cos_r = F.round(
        _dot(F.col("_v"), F.col("_w")) / (F.col("_vn") * F.col("_wn")), 6
    )
    best = (
        c.crossJoin(F.broadcast(e))
        .select(
            "vec_id",
            F.struct(
                cos_r.alias("c"), (-F.col("eval_id")).alias("nid")
            ).alias("_s"),
        )
        .groupBy("vec_id")
        .agg(F.max("_s").alias("_b"))
    )
    return best.filter(F.col("_b.c") >= DECONTAMINATE_THRESHOLD).select(
        F.col("vec_id"),
        (-F.col("_b.nid")).cast("long").alias("matched_eval_id"),
        F.col("_b.c").alias("max_cosine"),
    )


def standardize_dims(
    embeddings: DataFrame,
    id_below: int | None = None,
) -> DataFrame:
    """Per-dimension z-score standardization of an embedding column —
    the feature-scaling step in front of k-means/PCA/ANN (unscaled
    dimensions dominate L2 distances).

    Population stats per dimension come from one posexplode +
    map-side-combined groupBy(dim) — sum, sum of squares, count — and
    join back as a BROADCAST (d rows, never a shuffle of the corpus):
    z = (x − μ_dim) / σ_dim, σ the population std via the one-pass
    E[x²] − μ² identity, computed on exact-integer-free doubles and
    rounded to 6 dp so partial-sum ordering (Spark tree aggregation vs
    any oracle's sequential sum, ~1e-12 apart) cannot flip the hash.
    Dimensions with σ = 0 emit z = 0 by convention.

    ``id_below`` bounds the OUTPUT sample (stats always use every
    row). → (vec_id, dim_idx, z).
    """
    xs = embeddings.select(
        F.col("vec_id").alias("vec_id"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim_idx", "x"
        ),
    )
    stats = (
        xs.groupBy("dim_idx")
        .agg(
            F.sum("x").alias("s"),
            F.sum(F.col("x") * F.col("x")).alias("ss"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
        .select(
            "dim_idx",
            (F.col("s") / F.col("n")).alias("mu"),
            F.sqrt(
                F.greatest(
                    F.col("ss") / F.col("n")
                    - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n")),
                    F.lit(0.0),
                )
            ).alias("sigma"),
        )
    )
    out = xs if id_below is None else xs.filter(F.col("vec_id") < id_below)
    return out.join(F.broadcast(stats), "dim_idx").select(
        F.col("vec_id").cast("long"),
        F.col("dim_idx").cast("long"),
        F.round(
            F.when(F.col("sigma") == 0.0, 0.0).otherwise(
                (F.col("x") - F.col("mu")) / F.col("sigma")
            ),
            6,
        ).alias("z"),
    )


def hard_negative_topk(embeddings: DataFrame) -> DataFrame:
    """Contrastive-training hard-negative mining: for EVERY vector, the
    HARD_NEGATIVE_K most-cosine-similar vectors carrying a DIFFERENT
    label — the near-miss negatives that make embedding training hard
    (easy negatives are plentiful and useless; the informative ones sit
    just across the decision boundary).

    Output: (query_id, neighbor_id, cosine, hn_rank), rank by score
    desc with neighbor-id tiebreak.

    Shape: exact scoring, but NEVER materialized as n² rows — queries
    are hashed into ``blocks`` groups and each group meets the whole
    (replicated) corpus inside ONE Arrow-batched ``applyInPandas``
    call that computes the full score block as a single float64
    numpy matmul and emits only the k winners per query. That is
    ~1000× less work per pair than the previous per-pair JVM
    ``zip_with``/``aggregate`` fold over a broadcast nested-loop
    join, and the shuffle carries n·k output rows instead of n².
    The per-executor memory bound is the corpus matrix — the same
    bound the broadcast-join formulation already had. At 100 TB
    embeddings the corpus no longer fits; front this with the IVF
    coarse quantizer (``ivf_topk``), probing only foreign-label
    lists, and keep this exact matmul as the rerank stage over the
    probed candidates.

    Tie-break fidelity: the corpus block is pre-sorted by
    neighbor_id, so a STABLE argsort on the negated score column
    reproduces (cosine desc, neighbor_id asc) exactly; scores are
    float64 end-to-end (float32 inputs upcast before the matmul),
    matching the oracle's CAST(... AS DOUBLE[]) arithmetic, and
    rounding to 6 decimals happens JVM-side with F.round so
    HALF_UP semantics match DuckDB's.
    """
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    blocks = 32
    spark = embeddings.sparkSession
    q = embeddings.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
        (F.col("vec_id") % blocks).cast("int").alias("blk"),
    )
    blk_df = F.broadcast(
        spark.range(blocks).select(F.col("id").cast("int").alias("blk"))
    )
    c = embeddings.select(
        F.col("vec_id").cast("long").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("c_label"),
    ).crossJoin(blk_df)

    def _score_block(left, right):
        import numpy as np
        import pandas as pd

        if left.empty or right.empty:
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "_cos": pd.Series(dtype="float64"),
                    "hn_rank": pd.Series(dtype="int64"),
                }
            )
        right = right.sort_values("neighbor_id", kind="mergesort")
        Q = np.vstack(left["q_vec"].to_numpy()).astype(np.float64)
        C = np.vstack(right["c_vec"].to_numpy()).astype(np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        cn = np.sqrt((C * C).sum(axis=1))
        S = (Q @ C.T) / (qn[:, None] * cn[None, :])
        same = (
            left["q_label"].to_numpy()[:, None]
            == right["c_label"].to_numpy()[None, :]
        )
        S[same] = -np.inf
        k_eff = min(HARD_NEGATIVE_K, S.shape[1])
        idx = np.argsort(-S, axis=1, kind="stable")[:, :k_eff]
        scores = np.take_along_axis(S, idx, axis=1)
        nid = right["neighbor_id"].to_numpy()
        out = pd.DataFrame(
            {
                "query_id": np.repeat(
                    left["query_id"].to_numpy(), k_eff
                ),
                "neighbor_id": nid[idx].ravel(),
                "_cos": scores.ravel(),
                "hn_rank": np.tile(
                    np.arange(1, k_eff + 1), len(left)
                ),
            }
        )
        return out[np.isfinite(out["_cos"].to_numpy())]

    scored = q.groupBy("blk").cogroup(c.groupBy("blk")).applyInPandas(
        _score_block,
        "query_id long, neighbor_id long, _cos double, hn_rank long",
    )
    return scored.select(
        "query_id",
        "neighbor_id",
        F.round("_cos", 6).alias("cosine"),
        F.col("hn_rank").alias("hn_rank"),
    )


def hard_negative_topk_ivf(embeddings: DataFrame) -> DataFrame:
    """Hard-negative mining behind the IVF coarse quantizer — the
    100 TB composition :func:`hard_negative_topk`'s docstring
    promises: every vector probes its ``HARD_NEGATIVE_NPROBE`` nearest
    of ``HARD_NEGATIVE_CENTROIDS`` cells and
    reranks ONLY those cells' foreign-label members, so the scored
    pair count is Σ_cell |probers(cell)|·|members(cell)| instead of
    n² — the inverted-list contraction that keeps exact-rerank ANN
    affordable when the corpus no longer fits a broadcast.

    Output: (query_id, neighbor_id, cosine, hn_rank) — the top-2
    cross-label cosine neighbors WITHIN the probed cells (recall < 1
    vs the exact miner is inherent to IVF and governed by the probes).

    Determinism split: cell ASSIGNMENT uses the JVM ``cosine`` fold —
    the same expression the hash-green IVF entry already proved
    agrees with DuckDB's list_sum — so both engines build identical
    inverted lists and probe sets; only the RERANK runs as the
    blocked float64 matmul (per-cell cogroup/applyInPandas, corpus
    pre-sorted by id for the stable tie-break), whose ulp noise the
    6-decimal rounding absorbs. Per-cell top-k before the global
    window is lossless (global top-k ⊆ union of per-cell top-k at
    the same k), so the final window sees ≤ probes·k rows per query.
    """
    import pandas as pd  # noqa: F401

    cents = (
        embeddings.orderBy("vec_id")
        .limit(HARD_NEGATIVE_CENTROIDS)
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cent_vec"),
        )
    )
    scored_cells = embeddings.join(F.broadcast(cents)).select(
        F.col("vec_id"),
        F.col("embedding"),
        F.col("label"),
        "cent_id",
        cosine(F.col("embedding"), F.col("cent_vec")).alias("_ccos"),
    )
    w_cell = Window.partitionBy("vec_id").orderBy(
        F.col("_ccos").desc(), F.col("cent_id")
    )
    # assignment and probes both derive from ranked_cells (self-join
    # shape) — checkpoint per the repo's no-ReusedExchange rule, which
    # also resolves Spark's ambiguous-column complaint on the cogroup.
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    ranked_cells = materialize(
        scored_cells.withColumn(
            "cell_rank", F.row_number().over(w_cell)
        ),
        eager=False,
    )
    assignment = ranked_cells.filter(F.col("cell_rank") == 1).select(
        F.col("vec_id").cast("long").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        F.col("label").alias("c_label"),
        "cent_id",
    )
    probes = ranked_cells.filter(
        F.col("cell_rank") <= HARD_NEGATIVE_NPROBE
    ).select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        F.col("label").alias("q_label"),
        "cent_id",
    )

    def _score_cell(left, right):
        import numpy as np
        import pandas as pd

        if left.empty or right.empty:
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "_cos": pd.Series(dtype="float64"),
                }
            )
        right = right.sort_values("neighbor_id", kind="mergesort")
        Q = np.vstack(left["q_vec"].to_numpy()).astype(np.float64)
        C = np.vstack(right["c_vec"].to_numpy()).astype(np.float64)
        qn = np.sqrt((Q * Q).sum(axis=1))
        cn = np.sqrt((C * C).sum(axis=1))
        S = (Q @ C.T) / (qn[:, None] * cn[None, :])
        same = (
            left["q_label"].to_numpy()[:, None]
            == right["c_label"].to_numpy()[None, :]
        )
        S[same] = -np.inf
        k_eff = min(2, S.shape[1])
        idx = np.argsort(-S, axis=1, kind="stable")[:, :k_eff]
        scores = np.take_along_axis(S, idx, axis=1)
        nid = right["neighbor_id"].to_numpy()
        out = pd.DataFrame(
            {
                "query_id": np.repeat(
                    left["query_id"].to_numpy(), k_eff
                ),
                "neighbor_id": nid[idx].ravel(),
                "_cos": scores.ravel(),
            }
        )
        return out[np.isfinite(out["_cos"].to_numpy())]

    cell_topk = (
        probes.groupBy("cent_id")
        .cogroup(assignment.groupBy("cent_id"))
        .applyInPandas(
            _score_cell,
            "query_id long, neighbor_id long, _cos double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_cos").desc(), F.col("neighbor_id")
    )
    return (
        cell_topk.withColumn("hn_rank", F.row_number().over(w))
        .filter(F.col("hn_rank") <= 2)
        .select(
            "query_id",
            "neighbor_id",
            F.round("_cos", 6).alias("cosine"),
            F.col("hn_rank").cast("long").alias("hn_rank"),
        )
    )


def truncation_recall(embeddings: DataFrame) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: recall@k of
    brute-force cosine top-k computed on only the FIRST ``d`` vector
    components, against full-dimension truth — the measurement that
    decides how far a 100 TB index can shrink its vectors before ANN
    quality pays. (MRL-trained embedding families order information
    by prefix, so prefix truncation is the deployment-relevant cut.)

    → (dim, query_id, hits, recall_at_k) per probe query and
    truncation width; hits is the exact integer overlap, recall one
    IEEE division by the literal k.

    Scale shape: like ``ann_recall_at_k`` this is the AUDIT path —
    exact scoring over a bounded probe set (queries broadcast against
    the corpus, one pass per dim + truth); the production path serves
    the truncated vectors from IVF/LSH. Joins after scoring touch only
    probe×k rows.
    """
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    k = TRUNC_K
    # The probe set is ≤ TRUNC_QUERY_IDS_BELOW rows but its subtree is a
    # corpus scan; it feeds every per-dim pair build plus the per-dim
    # zero-fill left join (2 + len(dims) consumers, no ReusedExchange
    # across them) — materialize so the corpus is scanned once per
    # scoring leg and never for the probe side (r13: embeddings scans
    # 10 → 2, the one-brute-force-leg-per-dim floor; the truth leg's
    # pass is behind its own checkpoint below).
    q = materialize(
        embeddings.filter(F.col("vec_id") < TRUNC_QUERY_IDS_BELOW).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")
        ),
        eager=False,
    )
    c = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")
    )
    pairs = F.broadcast(q).join(
        c, F.col("query_id") != F.col("neighbor_id")
    )

    def _topk(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("query_id").orderBy(
            F.col("_cos").desc(), F.col("neighbor_id")
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("query_id", "neighbor_id")
        )

    # probes×k rows, consumed by every per-dim hits join: without a
    # checkpoint the full-width scoring pass (a corpus scan + window
    # top-k) re-executes under EACH dim.
    truth = materialize(
        _topk(
            pairs.select(
                "query_id",
                "neighbor_id",
                cosine(F.col("q_vec"), F.col("c_vec")).alias("_cos"),
            )
        ),
        eager=False,
    )
    per_dim = []
    for d in TRUNC_DIMS:
        approx = _topk(
            pairs.select(
                "query_id",
                "neighbor_id",
                cosine(
                    F.slice(F.col("q_vec"), 1, d),
                    F.slice(F.col("c_vec"), 1, d),
                ).alias("_cos"),
            )
        )
        hits = (
            approx.join(truth, ["query_id", "neighbor_id"])
            .groupBy("query_id")
            .agg(F.count(F.lit(1)).cast("long").alias("hits"))
        )
        per_dim.append(
            # Left join against the probe set so a query with ZERO
            # overlap still emits a row (hits = 0, not absence).
            q.select("query_id")
            .join(hits, "query_id", "left")
            .select(
                F.lit(d).cast("long").alias("dim"),
                "query_id",
                F.coalesce(F.col("hits"), F.lit(0))
                .cast("long")
                .alias("hits"),
            )
        )
    out = per_dim[0]
    for extra in per_dim[1:]:
        out = out.unionByName(extra)
    return out.withColumn(
        "recall_at_k",
        F.col("hits").cast("double") / F.lit(float(k)),
    ).orderBy("dim", "query_id")


def truncation_recall_oracle_sql() -> str:
    """DuckDB twin of :func:`truncation_recall` — same prefix slices,
    same list_sum cosine (proven bit-compatible with the Spark
    zip_with fold by similarity_cosine_topk), same row_number cut."""

    def cos(width: str) -> str:
        return f"""
        list_sum(list_transform(generate_series(1, {width}),
                                i -> a.emb[i] * b.emb[i]))
        / (sqrt(list_sum(list_transform(generate_series(1, {width}),
                                        i -> a.emb[i] * a.emb[i])))
           * sqrt(list_sum(list_transform(generate_series(1, {width}),
                                          i -> b.emb[i] * b.emb[i]))))
        """

    def topk(width: str, name: str) -> str:
        return f"""
    {name} AS (
        SELECT query_id, neighbor_id FROM (
            SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY a.vec_id
                       ORDER BY {cos(width)} DESC, b.vec_id) AS rk
            FROM e a JOIN e b ON a.vec_id != b.vec_id
            WHERE a.vec_id < {TRUNC_QUERY_IDS_BELOW})
        WHERE rk <= {TRUNC_K}
    )"""

    dim_blocks = ",".join(topk(str(d), f"ap_{d}") for d in TRUNC_DIMS)
    dim_selects = "\n    UNION ALL\n".join(
        f"""
    SELECT CAST({d} AS BIGINT) AS dim, q.query_id,
           CAST(coalesce(h.hits, 0) AS BIGINT) AS hits
    FROM (SELECT DISTINCT vec_id AS query_id FROM e
          WHERE vec_id < {TRUNC_QUERY_IDS_BELOW}) q
    LEFT JOIN (SELECT a.query_id, count(*) AS hits
               FROM ap_{d} a JOIN truth t
                 ON t.query_id = a.query_id
                AND t.neighbor_id = a.neighbor_id
               GROUP BY a.query_id) h USING (query_id)
        """
        for d in TRUNC_DIMS
    )
    return f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    {topk("len(a.emb)", "truth")},
    {dim_blocks}
    SELECT dim, query_id, hits,
           CAST(hits AS DOUBLE) / {float(TRUNC_K)} AS recall_at_k
    FROM ({dim_selects})
    """


def semdedup_prune(
    embeddings: DataFrame,
    threshold_milli: int = 950,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    dedup that finds near-duplicate *meanings* exact-hash and
    MinHash miss — cluster the embeddings with k-means, then compare
    pairs ONLY within a cluster and prune every vector whose cosine
    to a lower-id cluster-mate reaches the threshold (the paper
    keeps one representative per semantic neighborhood; lowest id is
    the engine's deterministic stand-in for its random choice).

    → (vec_id, cluster_id, keeper_id, cos_milli) — one row per
    PRUNED vector; ``keeper_id`` is the smallest lower-id mate over
    threshold, ``cos_milli`` the integer round-half-up of 1000× that
    mate's cosine.

    Scale shape (100 TB): the all-pairs n² that makes naive
    embedding dedup impossible becomes Σ_c |c|² — the clustering
    (SEMDEDUP_K clusters, SEMDEDUP_ITERATIONS Lloyd rounds) both
    bounds the candidate set and shards it into independent
    groups, so each cluster's pair block is ONE Arrow batch scored
    as a single numpy matmul inside applyInPandas (the
    hard_negative_topk pattern; no per-pair Python, no JVM fold).
    k-means itself is iterations× (narrow projection + k·d partial
    agg). At real scale raise k so the largest cluster fits an
    executor's Arrow batch — the paper runs k≈50k over 1e9 docs for
    the same reason. Threshold compares INTEGER cos_milli so the
    oracle (same integer from DuckDB's fold) lands on the same
    in/out decision; sub-milli float noise between numpy's matmul
    accumulation order and a sequential fold is absorbed by the
    rounding unless the true value sits within ~1e-9 of a .0005
    boundary.
    """
    import pandas as pd  # noqa: F401  (applyInPandas contract)

    from taxi_trips_etl_spark.dataprep.clustering import kmeans_assign

    # with_vec: the assignment projection already carries the
    # double-cast vector, so no join back onto the embeddings table —
    # the old shape shuffled the full vector corpus on both join sides
    # (and scanned embeddings twice) just to re-attach a column the
    # k-means pass had in hand (r13: embeddings scans 2 → 1, join
    # gone; the only remaining shuffle is the per-cluster cogroup).
    vecs = kmeans_assign(
        embeddings, k=SEMDEDUP_K, iterations=SEMDEDUP_ITERATIONS,
        with_vec=True,
    ).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("vec").alias("v"),  # documented with_vec output column
        "cluster_id",
    )

    def _prune_cluster(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id", kind="mergesort")
        M = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        n = M.shape[0]
        if n < 2:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "cluster_id": pd.Series(dtype="int64"),
                    "keeper_id": pd.Series(dtype="int64"),
                    "cos_milli": pd.Series(dtype="int64"),
                }
            )
        norms = np.sqrt((M * M).sum(axis=1))
        S = (M @ M.T) / (norms[:, None] * norms[None, :])
        milli = np.floor(S * 1000.0 + 0.5).astype(np.int64)
        ids = pdf["vec_id"].to_numpy()
        rows = []
        # Row-major scan: for each vector the FIRST lower-id mate at or
        # over threshold (ids ascending => argmax finds the smallest).
        for j in range(1, n):
            over = milli[:j, j] >= threshold_milli
            if over.any():
                i = int(np.argmax(over))
                rows.append(
                    (
                        int(ids[j]),
                        int(pdf["cluster_id"].iloc[0]),
                        int(ids[i]),
                        int(milli[i, j]),
                    )
                )
        return pd.DataFrame(
            rows, columns=["vec_id", "cluster_id", "keeper_id", "cos_milli"]
        )

    return vecs.groupBy("cluster_id").applyInPandas(
        _prune_cluster,
        "vec_id long, cluster_id long, keeper_id long, cos_milli long",
    ).orderBy("vec_id")
