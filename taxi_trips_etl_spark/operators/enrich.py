"""Stage 3 — enrichment (SURVEY.md §2.3 J1-J3, §2.5 W1, §2.8 F1/F2/F6/F7).

The reference enrichment query
(/root/reference/taxi_trips_etl_packages/queries/enrichment_query.py:3-25):

1. dedups the zone dimension — one geometry per ``zone_id``, keeping the
   longest WKT: ``RANK() OVER (PARTITION BY zone_id ORDER BY
   byte_length(ST_ASTEXT(zone_geom)) DESC) … WHERE finish_rank = 1``
   (enrichment_query.py:12-14,19-21);
2. computes ``H3_FROMGEOGPOINT(ST_CENTROID(zone_geom), 9)`` per zone
   (enrichment_query.py:10,17);
3. LEFT-joins trips to the deduped dim twice (dropoff side :11-13,
   pickup side :18-20) and INNER-joins the two enriched branches back
   together on the composite 4-column key (:16-24);
4. labels a daypart from the pickup time (:4-7).

Spark-first restructuring (SURVEY.md §2.3 J3 note): the reference's
self-join on a *non-unique* composite key can multiply rows; idiomatic
Spark enriches both sides in ONE pass with two broadcast joins against
the deduped dim — same output schema, no O(n²) risk, and the 100 TB
fact table is touched exactly once with zero shuffle (both joins are
broadcasts). ``enrich_trips(literal_self_join=True)`` reproduces the
reference's literal two-branch self-join for parity testing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from taxi_trips_etl_spark.functions.geo import centroid_cell
from taxi_trips_etl_spark.functions.scalar import daypart
from taxi_trips_etl_spark.sources.localrel import local_rows

H3_RES = 9  # the reference's H3_FROMGEOGPOINT resolution


def dedup_zones(zones: DataFrame) -> DataFrame:
    """W1+P5: rank-dedup the zone dim, then index centroids to hex cells.

    ``byte_length(ST_ASTEXT(geom))`` is the UTF-8 byte length of the WKT
    string (F4/F5: geometry is stored as WKT, so ST_ASTEXT is identity).
    The dim is bounded by the zone table, and its rows come to the
    driver anyway to be indexed with :func:`centroid_cell`; so the raw
    rows are collected once and ``RANK() … = 1`` runs there
    (:func:`_longest_wkt`). Collecting a ``LocalRelation`` (the
    pipeline's ``zone_dim``) books no Spark job, which a window would.
    The result comes back as a ``LocalRelation`` — no Python worker.
    ``zone_id`` keeps the input's type.
    """
    schema = StructType(
        [zones.schema["zone_id"], StructField("hex_cell", StringType())]
    )
    return local_rows(
        zones.sparkSession,
        [
            (z, centroid_cell(wkt, H3_RES))
            for z, wkt in _longest_wkt(zones.select("zone_id", "zone_geom").collect())
        ],
        schema,
    )


def _longest_wkt(rows: list) -> list:
    """The ``(zone_id, wkt)`` rows of rank 1 per zone by descending WKT
    byte length, in input order: every row tied at a zone's maximum
    survives, and a null geometry ranks last, as ``ORDER BY … DESC``
    orders nulls in Spark (so a zone whose only geometry is null keeps
    that row)."""

    def size(wkt: str | None) -> int:
        return -1 if wkt is None else len(wkt.encode("utf-8"))

    top: dict = {}
    for z, wkt in rows:
        top[z] = max(top.get(z, -1), size(wkt))
    return [(z, wkt) for z, wkt in rows if size(wkt) == top[z]]


def enrich_trips(
    trips: DataFrame, zones: DataFrame, literal_self_join: bool = False
) -> DataFrame:
    """J1/J2 (+J3 optionally) + F1: produce the enriched trips table.

    Output schema matches the reference's stage-3 SELECT
    (enrichment_query.py:4-8): daypart, pickup/dropoff timestamps,
    pickup/dropoff location ids, h3_pickup, h3_dropoff.
    """
    dim = dedup_zones(zones)
    key_cols = [
        "pickup_datetime",
        "dropoff_datetime",
        "pickup_location_id",
        "dropoff_location_id",
    ]

    if literal_self_join:
        # Parity mode: reproduce enrichment_query.py:9-24 shape exactly —
        # two enriched branches INNER-joined on the composite key.
        doff = trips.join(
            F.broadcast(dim),
            trips["dropoff_location_id"] == dim["zone_id"],
            "left",
        ).select(*key_cols, F.col("hex_cell").alias("h3_dropoff"))
        pup = trips.join(
            F.broadcast(dim),
            trips["pickup_location_id"] == dim["zone_id"],
            "left",
        ).select(*key_cols, F.col("hex_cell").alias("h3_pickup"))
        joined = doff.join(pup, key_cols, "inner")
    else:
        # Spark-first: single pass, two broadcast joins, no self-join.
        d_dim = dim.select(
            F.col("zone_id").alias("_doff_zone"),
            F.col("hex_cell").alias("h3_dropoff"),
        )
        p_dim = dim.select(
            F.col("zone_id").alias("_pick_zone"),
            F.col("hex_cell").alias("h3_pickup"),
        )
        joined = (
            trips.join(
                F.broadcast(d_dim),
                trips["dropoff_location_id"] == F.col("_doff_zone"),
                "left",
            )
            .join(
                F.broadcast(p_dim),
                trips["pickup_location_id"] == F.col("_pick_zone"),
                "left",
            )
            .select(*key_cols, "h3_pickup", "h3_dropoff")
        )

    return joined.select(
        daypart(F.col("pickup_datetime")).alias("daypart"),
        *key_cols,
        "h3_pickup",
        "h3_dropoff",
    )
