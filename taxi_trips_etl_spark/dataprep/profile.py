"""Table profiling: per-column null/distinct statistics in one pass.

The data-quality primitive a pipeline runs before trusting a new drop
of 100 TB: one aggregate job computes every column's null count and
exact distinct count (expand-based multi-distinct — swap to
``approx_count_distinct`` when exactness stops paying for itself at
extreme cardinality), then unpivots to one row per column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def profile_table(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """→ (column_name, n_rows, n_nulls, n_distinct), one row per column."""
    cols = columns or df.columns
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).cast("long").alias(f"__nn_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"__nd_{c}"))
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}" for c in cols
    )
    return wide.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (column_name, n_nulls, n_distinct)"
        ),
        "n_rows",
    ).select("column_name", "n_rows", "n_nulls", "n_distinct")


def validate_constraints(
    df: DataFrame,
    not_null: list[str] | None = None,
    unique: list[list[str]] | None = None,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Declarative data-quality checks (the dbt-tests / expectations
    analog): → (rule, violations) with one row per declared rule.

    All not-null and range rules fold into ONE conditional-aggregate
    scan (no per-rule pass); each uniqueness rule is one partial-agg
    groupBy counting keys seen more than once. At 100 TB that's a
    single read plus one narrow shuffle per unique-key rule.
    """
    aggs = []
    for c in not_null or []:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"not_null:{c}")
        )
    for c, (lo, hi) in (ranges or {}).items():
        bad = ~F.col(c).between(lo, hi) | F.col(c).isNull()
        aggs.append(F.sum(bad.cast("long")).alias(f"range:{c}:[{lo},{hi}]"))
    parts = []
    if aggs:
        row = df.agg(*aggs)
        cols = row.columns
        parts.append(
            row.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(c).alias("rule"),
                            F.col(f"`{c}`").cast("long").alias("violations"),
                        )
                        for c in cols
                    ])
                ).alias("r")
            ).select("r.rule", "r.violations")
        )
    for keys in unique or []:
        dup = (
            df.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.coalesce(F.sum(F.col("c")), F.lit(0)).alias("violations"))
            .select(
                F.lit("unique:" + ",".join(keys)).alias("rule"),
                F.col("violations").cast("long"),
            )
        )
        parts.append(dup)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def hll_distinct_rollup(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    partial_col: str,
) -> DataFrame:
    """Mergeable distinct-count rollup via DataSketches HLL
    (hll_sketch_agg → hll_union_agg → hll_sketch_estimate).

    THE cardinality pattern at 100 TB: exact countDistinct re-shuffles
    raw values for every regrouping, but sketches are built once per
    fine partition (here ``partial_col``, e.g. a day), persisted as
    ~2^12-byte binaries (lg_k = 12), and any coarser rollup is a cheap union of
    sketches — no second pass over the data. Standard error
    ~1.04/sqrt(2^12) ≈ 1.6%; the error-bound pytest pins
    it against exact countDistinct.

    Returns per ``key_cols`` group: the merged estimate and how many
    partial sketches were unioned.
    """
    partials = df.groupBy(*key_cols, partial_col).agg(
        F.hll_sketch_agg(value_col, F.lit(12)).alias("sketch")
    )
    return (
        partials.groupBy(*key_cols)
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias(
                "approx_distinct"
            ),
            F.count(F.lit(1)).alias("n_partials_merged"),
        )
    )


# --- portable (cross-engine-replayable) HLL -------------------------------

_HEX = "0123456789abcdef"
# lg_k = 8 → m = 256 registers. alpha_m·m² precomputed in Python and
# embedded as ONE literal on both engines, so the only runtime float ops
# are an exact power-of-two sum and one IEEE division (bit-identical
# everywhere); ln() appears only in the small-range correction, the same
# replay-on-identical-operands pattern the green tfidf/log-odds oracles
# use.
_PORTABLE_M = 256
_PORTABLE_ALPHA_MM = repr(0.7213 / (1 + 1.079 / 256) * 256 * 256)
# rho of the 40-bit tail: 4·(leading zero nibbles) + (zeros inside the
# first non-zero nibble) + 1; all-zero tail → 41.
_RHO_SQL = (
    "CASE WHEN z = 10 THEN 41 ELSE 4 * z + 5 - "
    "(CASE WHEN d >= 8 THEN 4 WHEN d >= 4 THEN 3 "
    "WHEN d >= 2 THEN 2 ELSE 1 END) END"
)


# The key, the counted value and the partial (register) grain the
# ``hll_distinct_rollup`` registry entry rolls up, shared by
# hll_portable_rollup and its oracle.
_KEY, _VALUE, _PARTIAL = "event_type", "user_id", "day"


def hll_portable_rollup(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Mergeable distinct-count rollup whose registers any SQL engine
    can replay: bucket = first 8 bits of md5(value), rho = leading-zero
    count of the next 40 bits + 1, register = max(rho) — built per
    ``day`` partition first, then merged upward with max() per
    bucket, exactly the sketch-union dataflow of
    :func:`hll_distinct_rollup` (which stays the production path via
    Spark's DataSketches built-ins; this variant exists so the estimate
    itself is oracle-checkable, not just error-bounded).

    Exactness argument for the cross-engine hash: every per-bucket term
    2^-r is an exact power of two in [2^-41, 2^-1], so the 256-term sum
    fits a double's 53-bit mantissa EXACTLY (order-independent); the
    estimate is then one literal/denominator IEEE division. The HLL
    small-range (linear-counting) correction uses ln() on identical
    integer operands, rounded to 4 decimals.

    → per ``key_cols`` group: (approx_distinct, registers_set,
    n_partials_merged).
    """
    m = _PORTABLE_M
    tagged = (
        df.withColumn("h", F.md5(F.col(_VALUE).cast("string")))
        .withColumn(
            "bucket",
            (
                (F.expr(f"instr('{_HEX}', substr(h, 1, 1)) - 1") * 16)
                + F.expr(f"instr('{_HEX}', substr(h, 2, 1)) - 1")
            ).cast("long"),
        )
        .withColumn("tail", F.expr("substr(h, 3, 10)"))
        .withColumn(
            "z", F.expr("length(regexp_extract(tail, '^(0*)', 1))")
        )
        .withColumn(
            "d", F.expr(f"instr('{_HEX}', substr(tail, z + 1, 1)) - 1")
        )
        .withColumn("rho", F.expr(_RHO_SQL))
    )
    # Partial registers per (keys, partial, bucket) — the persistable
    # sketch state — then the rollup merge: max per bucket across
    # partials. Both are map-side-combinable hash aggregates.
    partial_regs = tagged.groupBy(*key_cols, _PARTIAL, "bucket").agg(
        F.max("rho").alias("r")
    )
    merged = partial_regs.groupBy(*key_cols, "bucket").agg(
        F.max("r").alias("r")
    )
    per_key = merged.groupBy(*key_cols).agg(
        F.count(F.lit(1)).cast("long").alias("registers_set"),
        F.sum(F.expr("power(2.0, -r)")).alias("s"),
    )
    n_partials = df.groupBy(*key_cols).agg(
        F.countDistinct(_PARTIAL).cast("long").alias("n_partials_merged")
    )
    est = (
        per_key.withColumn(
            "denom",
            (F.lit(m) - F.col("registers_set")).cast("double") + F.col("s"),
        )
        .withColumn("raw", F.lit(float(_PORTABLE_ALPHA_MM)) / F.col("denom"))
        .withColumn("v", (F.lit(m) - F.col("registers_set")).cast("long"))
        .withColumn(
            "approx_distinct",
            F.round(
                F.when(
                    (F.col("raw") <= 2.5 * m) & (F.col("v") > 0),
                    F.lit(float(m))
                    * F.log(F.lit(float(m)) / F.col("v").cast("double")),
                ).otherwise(F.col("raw")),
                4,
            ),
        )
    )
    return est.join(n_partials, key_cols).select(
        *key_cols, "approx_distinct", "registers_set", "n_partials_merged"
    )


def hll_portable_oracle_sql() -> str:
    """The DuckDB twin of :func:`hll_portable_rollup` over ``events``
    grouped by ``_KEY`` — identical register derivation and estimate
    arithmetic (see exactness argument there)."""
    m = _PORTABLE_M
    table_sql = (
        f"SELECT {_KEY}, {_VALUE}, CAST(ts AS DATE) AS {_PARTIAL} FROM events"
    )
    return f"""
    WITH tagged AS (
        SELECT {_KEY} AS k, {_PARTIAL} AS p,
               (instr('{_HEX}', substr(h, 1, 1)) - 1) * 16
                 + instr('{_HEX}', substr(h, 2, 1)) - 1 AS bucket,
               length(regexp_extract(substr(h, 3, 10), '^(0*)', 1)) AS z,
               instr('{_HEX}', substr(substr(h, 3, 10),
                     length(regexp_extract(substr(h, 3, 10), '^(0*)', 1)) + 1,
                     1)) - 1 AS d
        FROM (SELECT *, md5(CAST({_VALUE} AS VARCHAR)) AS h
              FROM ({table_sql}))
    ),
    partial_regs AS (
        SELECT k, p, bucket, max({_RHO_SQL}) AS r
        FROM tagged GROUP BY 1, 2, 3
    ),
    merged AS (
        SELECT k, bucket, max(r) AS r FROM partial_regs GROUP BY 1, 2
    ),
    per_key AS (
        SELECT k, CAST(count(*) AS BIGINT) AS registers_set,
               sum(power(2.0, -r)) AS s
        FROM merged GROUP BY 1
    ),
    n_partials AS (
        SELECT k, CAST(count(DISTINCT p) AS BIGINT) AS n_partials_merged
        FROM tagged GROUP BY 1
    )
    SELECT per_key.k,
           round(CASE WHEN {_PORTABLE_ALPHA_MM}
                        / (CAST({m} - registers_set AS DOUBLE) + s)
                        <= {2.5 * m}
                       AND {m} - registers_set > 0
                      THEN {float(m)} * ln({float(m)}
                           / CAST({m} - registers_set AS DOUBLE))
                      ELSE {_PORTABLE_ALPHA_MM}
                           / (CAST({m} - registers_set AS DOUBLE) + s)
                 END, 4) AS approx_distinct,
           registers_set, n_partials_merged
    FROM per_key JOIN n_partials USING (k)
    """


# --- mergeable histogram quantiles ---------------------------------------

QUANTILES = (0.25, 0.5, 0.75, 0.9, 0.99)
N_BINS = 128


def histogram_quantiles(df: DataFrame) -> DataFrame:
    """Approximate quantiles of ``l_extendedprice`` from a fixed
    equi-width histogram — the MERGEABLE alternative to an exact sort:
    bin counts are persistable
    partials that add across partitions/days (same rollup dataflow as
    the HLL registers), and any quantile is answered from the B-row
    histogram without re-reading data. Exact percentiles
    (percentiles_exact) re-shuffle raw values per question; this is
    two narrow aggregates total, error bounded by bin width
    (range/N_BINS).

    Estimator: linear interpolation inside the first bin whose
    cumulative count reaches q·n (the textbook grouped-data quantile).
    → (quantile, estimate), deterministic, engine-replayable.
    """
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    value_col = "l_extendedprice"
    # The 1-row bounds aggregate broadcasts into BOTH the binning pass
    # and the final quantile arithmetic — without a checkpoint each
    # consumer re-ran the full scan+aggregate (r13: fact scans 3 → 2,
    # the bounds-then-bin two-pass floor).
    bounds = materialize(
        df.agg(
            F.min(F.col(value_col).cast("double")).alias("lo"),
            F.max(F.col(value_col).cast("double")).alias("hi"),
            F.count(value_col).cast("double").alias("n"),
        ),
        eager=False,
    )
    binned = (
        df.select(F.col(value_col).cast("double").alias("x"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.lit(N_BINS - 1),
                F.floor(
                    (F.col("x") - F.col("lo"))
                    / (F.col("hi") - F.col("lo"))
                    * N_BINS
                ),
            )
            .cast("long")
            .alias("bin")
        )
    )
    hist = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "cum_prev", F.col("cum") - F.col("c")
    )
    qs = F.explode(
        F.array(*[F.lit(float(q)) for q in QUANTILES])
    ).alias("quantile")
    targets = cum.crossJoin(F.broadcast(bounds.select("lo", "hi", "n"))).select(
        "bin", "c", "cum", "cum_prev", "lo", "hi", "n", qs
    )
    # first bin whose cum reaches q*n; rank to keep exactly one
    hit = targets.filter(F.col("cum") >= F.col("quantile") * F.col("n"))
    w_first = Window.partitionBy("quantile").orderBy("bin")
    return (
        hit.withColumn("rk", F.row_number().over(w_first))
        .filter(F.col("rk") == 1)
        .select(
            "quantile",
            F.round(
                F.col("lo")
                + (
                    F.col("bin").cast("double")
                    + (
                        (F.col("quantile") * F.col("n") - F.col("cum_prev"))
                        / F.col("c")
                    )
                )
                * ((F.col("hi") - F.col("lo")) / F.lit(float(N_BINS))),
                4,
            ).alias("estimate"),
        )
    )
