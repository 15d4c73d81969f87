"""Time-series resampling: per-entity linear interpolation over a spine.

Complements the forward-fill query (queries/_flagship_tpch.py
forward_fill_gaps): ffill answers "what was the last known state" —
right for balances and slowly-changing facts — while LINEAR
interpolation answers "what was the trajectory", the densification ML
featurization wants for continuous signals sampled irregularly.

Scale shape: one window per direction, partitioned by the entity key —
state per partition is two scalars (last anchor time/value), so the
sort-based window streams; no self-join against anchor rows, no
explode of gap ranges. At 100 TB the cost is the one shuffle on the
entity key that any per-entity computation pays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_T, _V = "t", "v"  # the time and value columns interpolate_gaps reads


def interpolate_gaps(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Fill NULL ``v`` rows by linear interpolation between the nearest
    non-NULL anchors per key; edge gaps (before the first / after the
    last anchor) take the nearest anchor's value (flat extrapolation);
    keys with no anchor at all stay NULL.

    ``t`` must be numeric (e.g. an epoch-day integer) — the
    interpolation fraction is (t−t_prev)/(t_next−t_prev) in that unit.
    Adds ``v_filled`` (rounded to 4) and ``was_gap`` (0/1).
    """
    anchor_t = F.when(F.col(_V).isNotNull(), F.col(_T))
    w_prev = (
        Window.partitionBy(*key_cols)
        .orderBy(_T)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_next = (
        Window.partitionBy(*key_cols)
        .orderBy(_T)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    prev_v = F.last(_V, ignorenulls=True).over(w_prev)
    prev_t = F.last(anchor_t, ignorenulls=True).over(w_prev)
    next_v = F.first(_V, ignorenulls=True).over(w_next)
    next_t = F.first(anchor_t, ignorenulls=True).over(w_next)
    frac = (F.col(_T) - prev_t).cast("double") / (
        (next_t - prev_t).cast("double")
    )
    interp = prev_v + frac * (next_v - prev_v)
    filled = (
        F.when(F.col(_V).isNotNull(), F.col(_V))
        .when(prev_v.isNotNull() & next_v.isNotNull(), interp)
        .when(prev_v.isNotNull(), prev_v)
        .otherwise(next_v)
    )
    return df.withColumn("v_filled", F.round(filled, 4)).withColumn(
        "was_gap", F.col(_V).isNull().cast("long")
    )


def daily_spine(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Dense (key × ``day``) spine spanning the GLOBAL date range of
    ``df`` — one row per key per day, ready for a LEFT join of daily
    aggregates. The bounds are a 1-row aggregate broadcast into a
    sequence/explode: keys × days rows, no data-sized shuffle."""
    date_col = "day"
    bounds = df.agg(
        F.min(date_col).alias("lo"), F.max(date_col).alias("hi")
    )
    keys = df.select(*key_cols).distinct()
    return keys.crossJoin(F.broadcast(bounds)).select(
        *key_cols,
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias(date_col),
    )
