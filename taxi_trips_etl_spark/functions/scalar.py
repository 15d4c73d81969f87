"""Scalar function surface (SURVEY.md §2.8, F1-F12 minus geo).

All of these stay JVM-side (built-in ``pyspark.sql.functions`` only) so
they run inside whole-stage codegen — no Python in the per-row hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Daypart boundaries exactly as the reference writes them
# (/root/reference/taxi_trips_etl_packages/queries/enrichment_query.py:4-7).
MORNING_START = "06:00:00"
NOON_START = "12:00:00"
EVENING_START = "18:00:00"
EVENING_END = "23:59:59"


def time_of_day_str(ts: Column) -> Column:
    """F2: ``EXTRACT(TIME FROM ts)`` (enrichment_query.py:10).

    Spark has no TIME type; a zero-padded ``HH:mm:ss`` string compares
    lexicographically identically to BigQuery's TIME comparisons against
    string literals (F3), so the encoding is semantics-preserving.
    """
    return F.date_format(ts, "HH:mm:ss")


def daypart(ts: Column) -> Column:
    """F1: the 4-branch CASE of enrichment_query.py:4-7.

    Deliberately NO ``otherwise``: the reference CASE has no ELSE, so a
    time with fractional seconds past 23:59:59 (e.g. 23:59:59.5 — which
    ``date_format`` renders as "23:59:59", keeping it in Evening) or any
    unmatched value yields NULL. We preserve that exact semantics.
    """
    t = time_of_day_str(ts)
    return (
        F.when((t >= MORNING_START) & (t < NOON_START), "Morning")
        .when((t >= NOON_START) & (t < EVENING_START), "Noon")
        .when((t >= EVENING_START) & (t <= EVENING_END), "Evening")
        .when(t < MORNING_START, "Night")
    )


def timestamp_diff_minutes(end: Column, start: Column) -> Column:
    """F10: ``timestamp_diff(end, start, minute)`` (models/tripss.sql:3).

    Implemented as floor of the epoch-second difference / 60. For the
    non-negative diffs the pipeline produces this equals BigQuery's
    truncate-toward-zero; for negative diffs floor ≠ trunc — documented
    deviation, chosen because it is exactly expressible in both Spark
    and the DuckDB oracle (``floor((epoch(b)-epoch(a))/60)``).
    """
    # Cast via TIMESTAMP first: TIMESTAMP_NTZ (parquet isAdjustedToUTC
    # =false) cannot cast straight to BIGINT; with a UTC session the
    # NTZ→TZ hop is value-preserving and matches DuckDB's naive epoch().
    return F.floor(
        (end.cast("timestamp").cast("long") - start.cast("timestamp").cast("long"))
        / F.lit(60)
    ).cast("long")


def route_struct(pickup_cell: Column, dropoff_cell: Column) -> Column:
    """F8: ``STRUCT(h3_pickup AS pickup_hexagons, h3_dropoff AS
    dropoff_hexagons) AS route`` (taxi_trips_etl.py:166)."""
    return F.struct(
        pickup_cell.alias("pickup_hexagons"),
        dropoff_cell.alias("dropoff_hexagons"),
    ).alias("route")


def zorder_key_sql(x: str, y: str, bits: int = 16, dialect: str = "spark") -> str:
    """SQL text for the Z-order (Morton) key interleaving ``bits`` low
    bits of two non-negative integer expressions.

    One generator serves both engines (dialect picks the shift
    spelling: Spark's ``shiftright`` vs DuckDB's ``>>``), so the
    DuckDB oracle checks the exact expression Spark runs.

    Z-ordering is the multi-column data-skipping layout: sort by the
    interleaved key and BOTH columns' min/max row-group stats stay
    tight, so predicates on either column (or both) prune — a plain
    lexicographic sort only skips on its leading column.
    """
    shift = (
        (lambda e, i: f"shiftright({e}, {i})")
        if dialect == "spark"
        else (lambda e, i: f"({e} >> {i})")
    )
    terms = []
    for i in range(bits):
        terms.append(f"(({shift(x, i)} & 1) * {1 << (2 * i)})")
        terms.append(f"(({shift(y, i)} & 1) * {1 << (2 * i + 1)})")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# zorder_key_customers' layout key, shared by the Spark builder and its
# oracle: the two customer columns and the low bits interleaved.
ZORDER_X = "(c_custkey % 256)"
ZORDER_Y = "c_nationkey"
ZORDER_BITS = 8


def zorder_key() -> Column:
    """Column form of :func:`zorder_key_sql` over the ZORDER_* columns,
    for ``df.repartitionByRange``/``sortWithinPartitions`` layouts."""
    return F.expr(zorder_key_sql(ZORDER_X, ZORDER_Y, ZORDER_BITS))
