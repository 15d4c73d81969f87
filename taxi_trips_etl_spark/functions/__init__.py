from taxi_trips_etl_spark.functions.scalar import (
    daypart,
    route_struct,
    time_of_day_str,
    timestamp_diff_minutes,
)
from taxi_trips_etl_spark.functions.geo import (
    latlng_to_cell,
    wkt_centroid,
)

__all__ = [
    "daypart",
    "route_struct",
    "time_of_day_str",
    "timestamp_diff_minutes",
    "latlng_to_cell",
    "wkt_centroid",
]
