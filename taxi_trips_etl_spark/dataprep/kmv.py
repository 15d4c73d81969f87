"""KMV (k-minimum-values) distinct sketches and set-overlap estimates.

The sketch the HLL rollup (profile.py) cannot provide: HLL unions are
cheap but HLL *intersections* are lossy (inclusion-exclusion error
explodes past two sets). KMV keeps the k smallest 60-bit hashes of each
set's values; because the k smallest of a union is computable from the
per-set sketches alone, |A∪B|, |A∩B| and Jaccard all come from the
sketches without re-reading the data — the audience-overlap /
cross-source-contamination primitive at 100 TB.

Estimator (Beyer et al., SIGMOD'07): with h uniform on [0, 2^60) and
U_k the k-th smallest normalized hash of a set, |S| ≈ (k-1)/U_k; for a
pair, take K = the k smallest hashes of sketch(A) ∪ sketch(B), count
ρ = |{h ∈ K : h ∈ A ∧ h ∈ B}| (well-defined: union's k-th smallest is
≤ each side's k-th smallest, so membership is decidable from the
sketches), then Jaccard ≈ ρ/K and |A∩B| ≈ (ρ/K)·|A∪B|.

Scale shape (100 TB): the sketch build is (1) one distinct on
(set, hash) — a uniform-key shuffle, no skew even when one set
dominates; (2) a per-physical-partition local k-smallest window —
bounded by partition size, never a whole-set sort; (3) a global
k-smallest over ≤ n_partitions·k candidate rows per set. The exact
global top-k survives any partitioning because every global top-k row
is in its own partition's local top-k. Pairwise overlap then touches
only n_sets·k sketch rows — independent of data volume.

Every hash is the engine-portable 60-bit md5 prefix used across
dataprep (dedup.py), so DuckDB replays the whole estimate bit-exactly;
the only float ops are IEEE divisions on identical operands, rounded
to 4 decimals (see _registry.py portability rules).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: hash domain: first 15 hex chars of md5 → uniform integer in [0, 2^60)
_HASH_SPACE = float(2**60)
KMV_K = 256  # sketch size, shared by the Spark builder and its oracle
_SET, _VALUE = "event_type", "user_id"  # sets, and the values they hold


def _hash60(col: F.Column) -> F.Column:
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, 15), 16, 10
    ).cast("long")


def kmv_sketch(df: DataFrame) -> DataFrame:
    """Per-set KMV sketch: the KMV_K smallest distinct 60-bit hashes.

    → (set_key, h), ≤ k rows per set. Exact k-minimum regardless of
    physical partitioning (see module docstring for the two-stage
    argument); this frame IS the persistable sketch state — union two
    days' sketches and re-rank to merge, same dataflow as the HLL
    register rollup.
    """
    k = KMV_K
    dist = df.select(
        F.col(_SET).alias("set_key"),
        _hash60(F.col(_VALUE)).alias("h"),
    ).distinct()
    # Local candidate pass: bounded by physical partition size, so no
    # single-reducer sort of a billion-distinct set.
    local = dist.withColumn("pid", F.spark_partition_id())
    w_local = Window.partitionBy("set_key", "pid").orderBy("h")
    cand = (
        local.withColumn("rk", F.row_number().over(w_local))
        .filter(F.col("rk") <= k)
        .drop("rk", "pid")
    )
    w_global = Window.partitionBy("set_key").orderBy("h")
    return (
        cand.withColumn("rk", F.row_number().over(w_global))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def kmv_pairwise_overlap(df: DataFrame) -> DataFrame:
    """Distinct-``user_id`` overlap estimates for every unordered pair
    of ``event_type`` sets.

    → (set_a, set_b, kk, rho, union_est, inter_est, jaccard_est),
    one row per pair with set_a < set_b. ``kk`` = |K| (min(KMV_K, distinct
    union hashes seen)), ``rho`` = hashes of K present in both sides.
    When the combined sketches hold the entire union (n_comb ≤ KMV_K) the
    union estimate is the exact distinct union count.

    The pair fan-out joins only sketch rows (n_sets·KMV_K), broadcast
    against the n_sets²/2 pair table — data-volume-independent, so the
    same plan serves 100 TB of events: cost lives entirely in the one
    sketch build.
    """
    # r13 fan-out fix: sk is consumed three times (both crossJoin
    # sides of the pair table via ``sets``, plus ``tagged``) and the
    # lazy plan re-ran the corpus-scale distinct+top-k sketch build
    # under each — 3 full scans for one sketch. The sketch is
    # ≤ n_sets·k rows by construction, so materializing it is free
    # next to one saved corpus pass.
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    sk = materialize(kmv_sketch(df), eager=False)
    sets = sk.select("set_key").distinct()
    pairs = (
        sets.select(F.col("set_key").alias("sa"))
        .crossJoin(sets.select(F.col("set_key").alias("sb")))
        .filter(F.col("sa") < F.col("sb"))
    )
    tagged = sk.join(
        F.broadcast(pairs),
        (F.col("set_key") == F.col("sa"))
        | (F.col("set_key") == F.col("sb")),
    )
    comb = tagged.groupBy("sa", "sb", "h").agg(
        F.max((F.col("set_key") == F.col("sa")).cast("int")).alias("in_a"),
        F.max((F.col("set_key") == F.col("sb")).cast("int")).alias("in_b"),
    )
    w_rank = Window.partitionBy("sa", "sb").orderBy("h")
    w_all = Window.partitionBy("sa", "sb")
    kept = (
        comb.withColumn("rk", F.row_number().over(w_rank))
        .withColumn("n_comb", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rk") <= KMV_K)
    )
    agg = kept.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("long").alias("kk"),
        F.max("h").alias("hk"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("rho"),
        F.max("n_comb").cast("long").alias("n_comb"),
    )
    union_est = F.when(
        F.col("n_comb") <= KMV_K, F.col("n_comb").cast("double")
    ).otherwise(
        F.round(
            F.lit(float(KMV_K - 1) * _HASH_SPACE) / F.col("hk").cast("double"),
            4,
        )
    )
    return agg.select(
        F.col("sa").alias("set_a"),
        F.col("sb").alias("set_b"),
        "kk",
        "rho",
        F.round(union_est, 4).alias("union_est"),
        F.round(
            F.col("rho").cast("double") * union_est / F.col("kk"), 4
        ).alias("inter_est"),
        F.round(F.col("rho").cast("double") / F.col("kk"), 4).alias(
            "jaccard_est"
        ),
    )


def kmv_oracle_sql() -> str:
    """DuckDB twin of :func:`kmv_pairwise_overlap` over ``events``
    (identical hash derivation, ranking and estimate arithmetic)."""
    lit_num = repr(float(KMV_K - 1) * _HASH_SPACE)
    return f"""
    WITH dist AS (
        SELECT DISTINCT {_SET} AS set_key,
               CAST(concat('0x', substr(md5(CAST({_VALUE} AS VARCHAR)),
                                        1, 15)) AS BIGINT) AS h
        FROM (SELECT {_SET}, {_VALUE} FROM events)
    ),
    sk AS (
        SELECT set_key, h FROM (
            SELECT set_key, h,
                   row_number() OVER (PARTITION BY set_key ORDER BY h) AS rk
            FROM dist)
        WHERE rk <= {KMV_K}
    ),
    sets AS (SELECT DISTINCT set_key FROM sk),
    pairs AS (
        SELECT a.set_key AS sa, b.set_key AS sb
        FROM sets a JOIN sets b ON a.set_key < b.set_key
    ),
    comb AS (
        SELECT sa, sb, h,
               max(CASE WHEN set_key = sa THEN 1 ELSE 0 END) AS in_a,
               max(CASE WHEN set_key = sb THEN 1 ELSE 0 END) AS in_b
        FROM sk JOIN pairs ON set_key = sa OR set_key = sb
        GROUP BY 1, 2, 3
    ),
    kept AS (
        SELECT * FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY sa, sb ORDER BY h) AS rk,
                   count(*) OVER (PARTITION BY sa, sb) AS n_comb
            FROM comb)
        WHERE rk <= {KMV_K}
    ),
    agg AS (
        SELECT sa, sb, CAST(count(*) AS BIGINT) AS kk, max(h) AS hk,
               CAST(sum(in_a * in_b) AS BIGINT) AS rho,
               CAST(max(n_comb) AS BIGINT) AS n_comb
        FROM kept GROUP BY 1, 2
    ),
    est AS (
        SELECT sa, sb, kk, rho,
               CASE WHEN n_comb <= {KMV_K} THEN CAST(n_comb AS DOUBLE)
                    ELSE round({lit_num} / CAST(hk AS DOUBLE), 4)
               END AS u
        FROM agg
    )
    SELECT sa AS set_a, sb AS set_b, kk, rho,
           round(u, 4) AS union_est,
           round(CAST(rho AS DOUBLE) * u / kk, 4) AS inter_est,
           round(CAST(rho AS DOUBLE) / kk, 4) AS jaccard_est
    FROM est
    """
