"""Adapter: driver testdata → the taxi data model (FIXTURES.md §A).

The driver testdata (TESTDATA.md) has no taxi tables, so the flagship
pipeline's inputs are derived *deterministically* from ``lineitem``:

- ``pickup_datetime``  = l_shipdate + (l_orderkey % 86400) seconds
- ``dropoff_datetime`` = pickup_datetime + l_quantity minutes (so rows with
  l_quantity == 0 exercise the pickup==dropoff normalization filter)
- ``passenger_count``  = nullable small int carved from l_linenumber
  (every 7th row NULL, every 11th row 0 → filter coverage)
- ``trip_distance``    = l_quantity (zeros present in data path below)
- ``fare_amount``      = l_extendedprice - l_tax*1000 (can be ≤ 0 —
  exercises the ``!= 0`` vs ``> 0`` distinction)
- pickup/dropoff_location_id = l_partkey % N_ZONES, l_suppkey % N_ZONES

The zone dimension is generated in-process: square WKT polygons on a
deterministic grid, WITH duplicate zone_ids carrying different-length
WKT (FIXTURES.md §A2) so the rank-dedup (W1) does real work.

All derivation is JVM-side column arithmetic — the adapter adds no
Python to the fact path and at 100 TB would be a zero-cost projection
over the scan.
"""

from __future__ import annotations

import logging
import os

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

log = logging.getLogger(__name__)

N_ZONES = 48


def load_trips(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """Stage 1 input: the trips fact table derived from
    ``sf_dir/lineitem.parquet``, or ``None`` when there is nothing to
    load — a missing path or zero rows (the O2 short-circuit,
    taxi_trips_etl.py:84-85,199-207). Books no Spark job: see
    :func:`read_lineitem`."""
    li = read_lineitem(spark, f"{sf_dir}/lineitem.parquet")
    return None if li is None else trips_from_lineitem(li)


def read_lineitem(spark: SparkSession, path: str) -> DataFrame | None:
    """``spark.read.parquet(path)`` with its schema and its emptiness
    taken from parquet footers on the driver, or ``None`` for a missing
    path or zero rows.

    ``path`` is one file or a Spark-written directory, whose data files
    are its ``*.parquet`` entries not starting with ``_`` or ``.``
    (``_SUCCESS``, ``.crc`` side files and hidden temp files are not
    data). Footers are read in name order up to the first file that
    holds a row; that file's footer gives the schema. Spark would run
    one job to infer the schema and another (``isEmpty``) to find a
    row. ``prefer_timestamp_ntz`` matches Spark's own inference: an
    arrow timestamp without a time zone is a parquet timestamp that is
    not UTC-adjusted, which Spark reads as ``timestamp_ntz``
    (``l_shipdate``).
    """
    if not os.path.exists(path):
        log.info("no input at %s → short-circuit", path)
        return None
    files = (
        sorted(
            os.path.join(path, name)
            for name in os.listdir(path)
            if name.endswith(".parquet") and not name.startswith(("_", "."))
        )
        if os.path.isdir(path)
        else [path]
    )
    footers = (pq.read_metadata(f) for f in files)
    first = next((m for m in footers if m.num_rows), None)
    if first is None:
        log.info("no rows at %s → short-circuit", path)
        return None
    schema = from_arrow_schema(
        first.schema.to_arrow_schema(), prefer_timestamp_ntz=True
    )
    return spark.read.schema(schema).parquet(path)


def trips_from_lineitem(lineitem: DataFrame) -> DataFrame:
    """Deterministic trips fact table (FIXTURES.md §A1) from lineitem."""
    li = lineitem
    # l_shipdate is midnight-only; spread pickups across the day
    # deterministically so daypart logic sees all four branches.
    pickup = F.timestamp_add(
        "SECOND", (F.col("l_orderkey") % 86400).cast("long"), F.col("l_shipdate")
    )
    dropoff = F.timestamp_add("MINUTE", F.col("l_quantity").cast("long"), pickup)
    return li.select(
        pickup.alias("pickup_datetime"),
        dropoff.alias("dropoff_datetime"),
        F.when(F.col("l_orderkey") % 7 == 0, F.lit(None).cast("long"))
        .when(F.col("l_orderkey") % 11 == 0, F.lit(0).cast("long"))
        .otherwise((F.col("l_linenumber") % 5 + 1).cast("long"))
        .alias("passenger_count"),
        F.when(F.col("l_orderkey") % 13 == 0, F.lit(0.0))
        .otherwise(F.col("l_quantity"))
        .alias("trip_distance"),
        (F.col("l_extendedprice") - F.col("l_tax") * 1000.0).alias("fare_amount"),
        (F.col("l_partkey") % N_ZONES).alias("pickup_location_id"),
        (F.col("l_suppkey") % N_ZONES).alias("dropoff_location_id"),
    )


def _zone_wkt(zone_id: int, detailed: bool) -> str:
    """Square (or octagonal, for the 'detailed' duplicate) zone polygon.

    Zones tile a small grid near (lon, lat) = (-74, 40.7) (NYC-ish);
    each zone is ~0.02° across so distinct zones land in distinct hex
    cells at res 9 while adjacent zones stay nearby.
    """
    gx, gy = zone_id % 8, zone_id // 8
    x0 = -74.2 + gx * 0.05
    y0 = 40.55 + gy * 0.05
    s = 0.02
    if not detailed:
        pts = [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]
    else:
        # Same centroid, more vertices → longer WKT wins the rank-dedup.
        h = s / 2.0
        q = s / 4.0
        pts = [
            (x0 + q, y0), (x0 + 3 * q, y0), (x0 + s, y0 + q),
            (x0 + s, y0 + 3 * q), (x0 + 3 * q, y0 + s), (x0 + q, y0 + s),
            (x0, y0 + 3 * q), (x0, y0 + q), (x0 + q, y0),
        ]
        assert h  # centroid-preserving by symmetry
    body = ", ".join(f"{x:.6f} {y:.6f}" for x, y in pts)
    return f"POLYGON(({body}))"


def zone_dim(spark: SparkSession) -> DataFrame:
    """taxi_zone_geom analogue (FIXTURES.md §A2): zone_id + WKT geometry.

    Every 5th zone appears twice — once as a plain square and once as a
    longer-WKT octagon with the same centroid — exercising the
    longest-WKT rank-dedup exactly as the reference's duplicated zone
    geometries do (enrichment_query.py:12-14).
    """
    rows = []
    for z in range(N_ZONES):
        rows.append((z, _zone_wkt(z, detailed=False)))
        if z % 5 == 0:
            rows.append((z, _zone_wkt(z, detailed=True)))
    from taxi_trips_etl_spark.sources.localrel import local_rows

    return local_rows(spark, rows, "zone_id long, zone_geom string")
