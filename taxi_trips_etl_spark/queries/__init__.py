"""Query registry package (split from the former 7,300-line queries.py).

Public surface is unchanged: ``all_queries``/``all_oracles``/``register``
plus the handful of helpers tests use (``_events``, ``_t``, ...) and
every ``q_*`` builder re-exported at package level.
"""

from __future__ import annotations

from taxi_trips_etl_spark.queries._registry import (  # noqa: F401
    DAYPART_SQL,
    GRAMS_SQL,
    NORM_SQL,
    TOKS_SQL,
    TRIPS_SQL,
    QueryFn,
    _ORACLES,
    _QUERIES,
    _events,
    _norm_trips,
    _t,
    _ts_str,
    _utc,
    all_oracles,
    all_queries,
    register,
)
from taxi_trips_etl_spark.sources.taxi_testdata import (  # noqa: F401
    N_ZONES,
    _zone_wkt,
)

from taxi_trips_etl_spark.queries._relational import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._dedup_sim_text import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._mm_streaming import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._flagship_tpch import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round4 import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round4b import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round5 import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round5b import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round5c import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round5d import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round5e import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6 import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6b import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6c import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6d import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6e import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6f import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6g import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6h import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6i import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6j import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6k import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6l import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6m import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6n import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6o import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round6p import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round7 import *  # noqa: F401,F403,E402
from taxi_trips_etl_spark.queries._round8 import *  # noqa: F401,F403,E402
