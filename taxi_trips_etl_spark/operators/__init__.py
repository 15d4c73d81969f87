from taxi_trips_etl_spark.operators.normalize import normalize_trips
from taxi_trips_etl_spark.operators.enrich import dedup_zones, enrich_trips
from taxi_trips_etl_spark.operators.popularity import most_populars
from taxi_trips_etl_spark.operators.asof import asof_join, range_join_points
from taxi_trips_etl_spark.operators.skew import key_skew_report, salted_join
from taxi_trips_etl_spark.operators.upsert import upsert

__all__ = [
    "normalize_trips",
    "dedup_zones",
    "enrich_trips",
    "most_populars",
    "asof_join",
    "range_join_points",
    "key_skew_report",
    "salted_join",
    "upsert",
]
