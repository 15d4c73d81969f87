"""Physical-layout planners — the two decisions that dominate 100 TB
shuffle health: WHERE to cut range partitions, and HOW MUCH to salt a
skewed join key.

Both emit PLANS (small audit tables an orchestrator feeds back into
`repartitionByRange` / the salted-join builder), not repartitioned
data — planning is cheap and inspectable, repartitioning is the
expensive action the plan justifies.

Exactness: every number here is integer arithmetic over exact counts
(bucket index = (rn-1)·k div n, salt = ceil division), so DuckDB
replays both planners bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# The range planners cut lineitem on (l_orderkey, l_linenumber) into
# RANGE_PARTITIONS buckets; the salt planner salts l_suppkey.
RANGE_KEY = "l_orderkey"
RANGE_TIEBREAK = "l_linenumber"
RANGE_PARTITIONS = 16
SALT_KEY = "l_suppkey"
SALT_TARGET_ROWS = 400
MAX_SALT = 32


def range_partition_plan(df: DataFrame) -> DataFrame:
    """Exact equi-depth split points for ``repartitionByRange(key)``:
    rank every row by (RANGE_KEY, RANGE_TIEBREAK), assign bucket
    (rn−1)·k div n, and emit per-bucket (lo, hi, n_rows) — the
    boundary table a writer pins so reruns/backfills produce stable
    file ranges (Spark's own RangePartitioner re-SAMPLES per run:
    non-deterministic boundaries, files that never line up across
    days).

    At 100 TB the exact global rank is replaced by the same
    arithmetic over a deterministic sample (this exact version IS the
    audit for that sampler); the plan table itself is k rows.

    → (bucket, lo, hi, n_rows), bucket ∈ [0, k), k = RANGE_PARTITIONS.

    This exact version deliberately keeps its SinglePartition rank —
    it IS the audit for the sampled planner (same posture as
    minhash_lsh_recall's exact leg). r13 trims its fan-out instead:
    the total row count comes from a count window over the same
    single partition the rank already sorted — the second full scan
    and its crossJoin broadcast are gone, at zero added cost.
    """
    sel = df.select(
        F.col(RANGE_KEY).alias("k"), F.col(RANGE_TIEBREAK).alias("tb")
    )
    w = Window.orderBy(F.col("k"), F.col("tb"))
    ranked = (
        sel
        .withColumn("rn", F.row_number().over(w).cast("long"))
        .withColumn(
            "n",
            F.count(F.lit(1)).over(Window.partitionBy()).cast("long"),
        )
        .withColumn(
            "bucket",
            F.expr(f"(rn - 1) * {RANGE_PARTITIONS} div n").cast("long"),
        )
    )
    return (
        ranked.groupBy("bucket")
        .agg(
            F.min("k").cast("long").alias("lo"),
            F.max("k").cast("long").alias("hi"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
        .orderBy("bucket")
    )


def sampled_range_partition_plan(df: DataFrame) -> DataFrame:
    """The PRODUCTION version of :func:`range_partition_plan`: split
    points come from a deterministic ~1/10 hash sample
    (md5 of the key+tiebreak, engine-portable — no RNG, rerun-stable),
    then EVERY row is assigned against those pinned boundaries and the
    plan reports actual per-bucket counts — the planner and its skew
    audit in one pass shape.

    → (bucket, lo, hi, n_rows, skew_milli): skew_milli is the
    bucket's actual share in milli units of the ideal 1/k (1000 =
    perfectly balanced; 2000 = this bucket carries 2× its share —
    the number that says resample or bump k before the expensive
    repartition runs).

    Scale shape: the sample is a scan-side filter (no shuffle); its
    global rank is k·sample-sized, not corpus-sized; full-data
    assignment is one broadcast range join against k boundary rows +
    a partial-agg count. This is exactly what repartitionByRange's
    sampler does internally — exposed, deterministic, and auditable.
    """
    key, tb, n_partitions = RANGE_KEY, RANGE_TIEBREAK, RANGE_PARTITIONS
    sample = df.filter(
        F.expr(
            f"CAST(conv(substring(md5(concat(CAST({key} AS STRING),"
            f" ':', CAST({tb} AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            " % 10 = 0"
        )
    )
    # r13: the sample rank rides the two-pass range-partition scheme
    # (the old window was a SinglePartition sort of the ~1/mod sample —
    # corpus/mod rows through one task at 100 TB), and the sample count
    # reads the materialized ranked frame instead of re-running the
    # sample filter scan.
    from taxi_trips_etl_spark.operators.ids import assign_global_ids

    sel = sample.select(F.col(key).alias("k_"), F.col(tb).alias("tb_"))
    ranked0 = assign_global_ids(sel, ["k_", "tb_"], id_col="rn")
    n_s = ranked0.select(F.count(F.lit(1)).cast("long").alias("ns"))
    ranked = ranked0.crossJoin(F.broadcast(n_s))
    # Upper split point of bucket b = the sample value at rank
    # ceil((b+1)·ns/k) — the last bucket is unbounded above.
    bounds = (
        ranked.withColumn(
            "bucket",
            F.expr(f"(rn - 1) * {n_partitions} div ns").cast("long"),
        )
        .groupBy("bucket")
        .agg(F.max("k_").cast("long").alias("upper"))
    )
    # Assignment: bucket of a row = number of split points strictly
    # below its key (range join against k-1 upper bounds, broadcast).
    splits = bounds.filter(F.col("bucket") < n_partitions - 1).select(
        "bucket", "upper"
    )
    # Assign per DISTINCT key (bucket is a pure function of the key),
    # carrying each key's row count — the broadcast range join then
    # touches |keys| rows, not |rows|.
    keys = df.groupBy(F.col(key).alias("k_")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    assigned = (
        keys.join(
            F.broadcast(splits),
            F.col("k_") > F.col("upper"),
            "left_outer",
        )
        .groupBy("k_", "cnt")
        .agg(F.count(F.col("upper")).cast("long").alias("bucket"))
    )
    # r13: the grand total is Σ n_rows over the ≤k bucket rows (every
    # key lands in exactly one bucket), so the old third full scan of
    # ``df`` + crossJoin becomes a window over the bucket-grain frame.
    return (
        assigned.groupBy("bucket")
        .agg(
            F.min("k_").cast("long").alias("lo"),
            F.max("k_").cast("long").alias("hi"),
            F.sum("cnt").cast("long").alias("n_rows"),
        )
        .withColumn(
            "n", F.sum("n_rows").over(Window.partitionBy()).cast("long")
        )
        .select(
            "bucket",
            "lo",
            "hi",
            "n_rows",
            F.expr(
                f"(2000 * n_rows * {n_partitions} + n)"
                " div (2 * n)"
            ).cast("long").alias("skew_milli"),
        )
        .orderBy("bucket")
    )


def adaptive_salt_plan(df: DataFrame) -> DataFrame:
    """Per-key salt factors for a skewed shuffle join: SALT_KEY values
    whose row count exceeds ``SALT_TARGET_ROWS`` get
    salt = min(MAX_SALT, ceil(count / target)) — the replication
    factor the salted-join builder (operators/skew.py pattern) uses to
    split that key's rows across salt sub-partitions while the build
    side replicates salt ways. Keys at salt = 1 ride the normal path,
    so the plan table is only the heavy tail (broadcastable by
    construction: heavy keys are few, that is what skew means).

    → (key, n_rows, salt_factor), salted keys only, heaviest first.
    """
    key, t = SALT_KEY, SALT_TARGET_ROWS
    return (
        df.groupBy(F.col(key))
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
        .withColumn(
            "salt_factor",
            F.least(
                F.lit(MAX_SALT).cast("long"),
                F.expr(f"(n_rows + {t - 1}) div {t}"),
            ).cast("long"),
        )
        .filter(F.col("salt_factor") > 1)
        .orderBy(F.col("n_rows").desc(), F.col(key))
    )


def hilbert_index(df: DataFrame, bits: int = 8):
    """Hilbert-curve distance column ``hd`` over the integer grid
    columns ``x0``/``y0``, for 2D data layout.

    Z-order (``zorder_key_customers``) interleaves bits; the Hilbert
    curve improves on it for range-scan locality: consecutive curve
    positions are ALWAYS spatially adjacent (Z-order jumps at quadrant
    seams), so sorting files by Hilbert distance minimizes the bounding
    box a 2-column range predicate has to touch. This is the layout key
    behind multi-dimensional clustering in modern lakehouse table
    formats.

    Implementation: the classic per-bit quadrant walk (d += s²·
    (3·rx XOR ry), then the rx/ry rotation), unrolled ``bits`` times as
    pure column arithmetic — no UDF, whole-stage-codegen friendly.
    Inputs must already be integers in [0, 2**bits).

    Scale shape: apply to the DISTINCT coordinate pairs (≤ 4**bits
    rows) and broadcast-join back to the fact table, so the unrolled
    expression runs on the dimension-sized relation, not per fact row.

    Load-bearing subtlety: building all ``bits`` steps as one nested
    column expression triples the (x, y) subtree per step — 3**bits
    node blow-up that stalls Catalyst for minutes at bits=8 (measured:
    a count() over 6k rows never finished). Instead each step is a
    real projection over named columns, with an Exchange inserted
    every second step: CollapseProject cannot merge across it (same
    mechanism as dedup.tokens_table), so tree growth is capped at 9×
    per segment and the plan stays linear in ``bits``. The exchanges
    move only the dimension-sized pair relation.

    Returns ``df`` with an added long column ``hd``. The walk uses
    working columns ``_hx``/``_hy``/``_hd``; inputs that already carry
    any of those names (or ``hd``) would be silently clobbered, so they
    raise instead.
    """
    keep = [c for c in df.columns]
    reserved = {"_hx", "_hy", "_hd", "hd"}
    clash = sorted(reserved & set(keep))
    if clash:
        raise ValueError(
            f"hilbert_index: input columns {clash} collide with the "
            f"working/output columns; rename them"
        )
    out = df.select(
        *keep,
        F.col("x0").cast("int").alias("_hx"),
        F.col("y0").cast("int").alias("_hy"),
        F.lit(0).cast("long").alias("_hd"),
    )
    for i, b in enumerate(range(bits - 1, -1, -1)):
        s = 1 << b
        x, y = F.col("_hx"), F.col("_hy")
        rx = x.bitwiseAND(F.lit(s)) > 0
        ry = y.bitwiseAND(F.lit(s)) > 0
        nd = F.col("_hd") + (
            F.when(rx & ry, F.lit(2 * s * s))
            .when(rx, F.lit(3 * s * s))
            .when(ry, F.lit(s * s))
            .otherwise(F.lit(0))
            .cast("long")
        )
        nx = F.when(ry, x).when(rx, F.lit(s - 1) - y).otherwise(y)
        ny = F.when(ry, y).when(rx, F.lit(s - 1) - x).otherwise(x)
        out = out.select(
            *keep,
            nx.alias("_hx"),
            ny.alias("_hy"),
            nd.alias("_hd"),
        )
        if i % 2 == 1 and b > 0:
            out = out.repartition(
                df.sparkSession.sparkContext.defaultParallelism, *keep
            )
    return out.select(*keep, F.col("_hd").alias("hd"))
