"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real content lives in ``taxi_trips_etl_spark.queries`` (shared with
bench.py and the test suite); this file is the thin contract shim.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from taxi_trips_etl_spark.queries import all_oracles, all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The reference's reason-to-exist: most-popular routes + pickup/dropoff
    hexagons (README.md:16-19) — full 4-stage pipeline: load → normalize
    → geo/hex enrichment (broadcast) → rank/top-k/USING join.
    """
    from taxi_trips_etl_spark.queries import q_flagship

    return q_flagship(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ north-star)."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (every query has one)."""
    return all_oracles()
