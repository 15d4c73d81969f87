from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from taxi_trips_etl_spark.dataprep.materialize import materialize  # noqa: F401
from taxi_trips_etl_spark.dataprep import dedup, multimodal, similarity, text  # noqa: F401
from taxi_trips_etl_spark.functions.scalar import daypart, timestamp_diff_minutes  # noqa: F401
from taxi_trips_etl_spark.operators.normalize import normalize_trips  # noqa: F401
from taxi_trips_etl_spark.operators.popularity import rank_top
from taxi_trips_etl_spark.plans.models import taxi_models  # noqa: F401
from taxi_trips_etl_spark.sources.taxi_testdata import (  # noqa: F401
    N_ZONES,
    _zone_wkt,
    trips_from_lineitem,
)
from taxi_trips_etl_spark.queries._registry import (  # noqa: F401
    DAYPART_SQL,
    GRAMS_SQL,
    NORM_SQL,
    TOKS_SQL,
    TRIPS_SQL,
    _ORACLES,
    _QUERIES,
    _events,
    _norm_trips,
    _t,
    _ts_str,
    _utc,
    register,
)

# ===========================================================================
# Relational core (SURVEY.md §2.2-§2.8) on the derived taxi data model
# ===========================================================================


@register(
    "normalize_filter",
    f"""
    SELECT strftime(pickup_datetime, '%Y-%m-%d %H:%M:%S') AS pickup_ts,
           strftime(dropoff_datetime, '%Y-%m-%d %H:%M:%S') AS dropoff_ts,
           passenger_count, trip_distance, fare_amount,
           pickup_location_id, dropoff_location_id
    FROM ({NORM_SQL})
    """,
)
def q_normalize_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: the reference normalization predicate (keep-good-rows)."""
    return _norm_trips(spark, sf_dir).select(
        _ts_str(F.col("pickup_datetime"), "pickup_ts"),
        _ts_str(F.col("dropoff_datetime"), "dropoff_ts"),
        "passenger_count",
        "trip_distance",
        "fare_amount",
        "pickup_location_id",
        "dropoff_location_id",
    )


@register(
    "daypart_case",
    f"""
    SELECT {DAYPART_SQL.format(t="strftime(ts, '%H:%M:%S')")} AS daypart,
           count(*) AS event_count
    FROM events GROUP BY 1
    """,
)
def q_daypart_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3: the no-ELSE daypart CASE over extracted TIME strings."""
    return (
        _events(spark, sf_dir)
        .groupBy(daypart(F.col("ts")).alias("daypart"))
        .agg(F.count(F.lit(1)).alias("event_count"))
    )


@register(
    "window_dedup_rank",
    """
    SELECT user_id, event_id, CAST(strlen(props) AS BIGINT) AS props_len
    FROM (SELECT *, rank() OVER (PARTITION BY user_id
                                 ORDER BY strlen(props) DESC) AS finish_rank
          FROM events)
    WHERE finish_rank = 1
    """,
)
def q_window_dedup_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1+P5: longest-payload-wins dedup rank (enrichment_query.py:12-14)."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy(F.octet_length("props").desc())
    return (
        ev.withColumn("finish_rank", F.rank().over(w))
        .filter(F.col("finish_rank") == 1)
        .select(
            "user_id",
            "event_id",
            F.octet_length("props").cast("long").alias("props_len"),
        )
    )


@register(
    "broadcast_left_join",
    """
    SELECT l_orderkey, l_linenumber, l_suppkey, s_name, s_acctbal
    FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
    """,
)
def q_broadcast_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2: fact × broadcast dim LEFT equi-join."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    return li.join(F.broadcast(sup), li["l_suppkey"] == sup["s_suppkey"], "left").select(
        "l_orderkey", "l_linenumber", "l_suppkey", "s_name", "s_acctbal"
    )


@register(
    "composite_key_join",
    """
    SELECT a.l_orderkey, a.l_linenumber, a.l_partkey, a.l_suppkey,
           a.l_quantity, b.l_extendedprice
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber
     AND a.l_partkey = b.l_partkey AND a.l_suppkey = b.l_suppkey
    """,
)
def q_composite_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: INNER join on a composite 4-column equi key."""
    li = _t(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
    a = li.select(*keys, "l_quantity")
    b = li.select(*keys, "l_extendedprice")
    return a.join(b, keys, "inner").select(
        *keys, "l_quantity", "l_extendedprice"
    )


MOST_POPULARS_SQL = f"""
    WITH cells AS (
        SELECT 'z' || CAST(pickup_location_id AS VARCHAR) AS pickup_cell,
               'z' || CAST(dropoff_location_id AS VARCHAR) AS dropoff_cell
        FROM ({NORM_SQL})
    ),
    routes0 AS (
        SELECT pickup_cell, dropoff_cell, count(*) AS route_count,
               rank() OVER (ORDER BY count(*) DESC) AS popularity
        FROM cells GROUP BY 1, 2
    ),
    r AS (SELECT * FROM routes0 WHERE popularity <= 100),
    d0 AS (
        SELECT dropoff_cell, count(*) AS dropoff_count,
               rank() OVER (ORDER BY count(*) DESC) AS popularity
        FROM cells GROUP BY 1
    ),
    d AS (SELECT * FROM d0 WHERE popularity <= 100),
    p0 AS (
        SELECT pickup_cell, count(*) AS pickup_count,
               rank() OVER (ORDER BY count(*) DESC) AS popularity
        FROM cells GROUP BY 1
    ),
    p AS (SELECT * FROM p0 WHERE popularity <= 100)
    SELECT CAST(popularity AS BIGINT) AS popularity,
           r.pickup_cell AS route_pickup_cell,
           r.dropoff_cell AS route_dropoff_cell,
           r.route_count,
           d.dropoff_cell AS dropoff_hexagon, d.dropoff_count,
           p.pickup_cell AS pickup_hexagon, p.pickup_count
    FROM r JOIN d USING (popularity) JOIN p USING (popularity)
"""


def _populars_flat(cells: DataFrame) -> DataFrame:
    """taxi_trips_etl.py:164-176 final-result shape, flat columns:
    three group-count-rank-top100 branches joined USING(popularity).

    One fact pass: the finest-grain (pickup, dropoff) count is
    materialized once and the dropoff/pickup branches re-aggregate it
    (sum of route counts ≡ direct count — routes partition the trips),
    instead of each branch re-running the whole normalize spine
    (operators/popularity.route_counts; guide §2.4)."""
    from taxi_trips_etl_spark.operators.popularity import LIMIT, route_counts

    base = route_counts(cells, "pickup_cell", "dropoff_cell")
    routes = rank_top(base, "route_count", LIMIT)
    drops = rank_top(
        base.groupBy("dropoff_cell").agg(F.sum("route_count").alias("dropoff_count")),
        "dropoff_count",
        LIMIT,
    )
    picks = rank_top(
        base.groupBy("pickup_cell").agg(F.sum("route_count").alias("pickup_count")),
        "pickup_count",
        LIMIT,
    )
    return (
        routes.select(
            F.col("popularity").cast("long").alias("popularity"),
            F.col("pickup_cell").alias("route_pickup_cell"),
            F.col("dropoff_cell").alias("route_dropoff_cell"),
            "route_count",
        )
        .join(
            # broadcast hints: rank≤100-bounded sides under a stats-less
            # ExistingRDD root would otherwise plan sort-merge (§3.1).
            F.broadcast(
                drops.select(
                    F.col("popularity").cast("long").alias("popularity"),
                    F.col("dropoff_cell").alias("dropoff_hexagon"),
                    "dropoff_count",
                )
            ),
            "popularity",
        )
        .join(
            F.broadcast(
                picks.select(
                    F.col("popularity").cast("long").alias("popularity"),
                    F.col("pickup_cell").alias("pickup_hexagon"),
                    "pickup_count",
                )
            ),
            "popularity",
        )
    )


@register("most_populars_flat", MOST_POPULARS_SQL)
def q_most_populars_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2 + W2 + T1 + J4: the full final-result shape
    (taxi_trips_etl.py:164-176) with location-derived cells so DuckDB
    can oracle it (the geo-UDF variant is ``flagship_most_populars``)."""
    cells = _norm_trips(spark, sf_dir).select(
        F.concat(F.lit("z"), F.col("pickup_location_id").cast("string")).alias(
            "pickup_cell"
        ),
        F.concat(F.lit("z"), F.col("dropoff_location_id").cast("string")).alias(
            "dropoff_cell"
        ),
    )
    return _populars_flat(cells)


def _zone_hex_values_sql() -> str:
    """The synthetic zone dim's zone_id → hex-cell mapping as a SQL
    VALUES list, computed at import time with the same pure-Python
    centroid→cell function the enrichment calls.

    Rank-dedup semantics baked in: zones with a duplicate geometry
    (z % 5 == 0) keep the LONGER octagon WKT (enrichment_query.py:12-14
    — byte_length DESC, rank 1), so the mapping indexes that geometry's
    centroid. tests/test_geo.py pins the underlying WKT→cell fixtures,
    keeping this literal list honest independently of Spark."""
    from taxi_trips_etl_spark.functions.geo import centroid_cell

    rows = ", ".join(
        f"({z}, '{centroid_cell(_zone_wkt(z, detailed=(z % 5 == 0)))}')"
        for z in range(N_ZONES)
    )
    return f"SELECT * FROM (VALUES {rows}) AS zm(zone_id, hex)"


_FLAGSHIP_KNOWN_ZONES_TEMPLATE = f"""
    WITH zm AS ({{zm}}),
    cells AS (
        SELECT p.hex AS pickup_cell, d.hex AS dropoff_cell
        FROM ({NORM_SQL}) t
        LEFT JOIN zm p ON t.pickup_location_id = p.zone_id
        LEFT JOIN zm d ON t.dropoff_location_id = d.zone_id
    ),
    routes0 AS (
        SELECT pickup_cell, dropoff_cell, count(*) AS route_count,
               rank() OVER (ORDER BY count(*) DESC) AS popularity
        FROM cells GROUP BY 1, 2
    ),
    r AS (SELECT * FROM routes0 WHERE popularity <= 100),
    d0 AS (
        SELECT dropoff_cell, count(*) AS dropoff_count,
               rank() OVER (ORDER BY count(*) DESC) AS popularity
        FROM cells GROUP BY 1
    ),
    d AS (SELECT * FROM d0 WHERE popularity <= 100),
    p0 AS (
        SELECT pickup_cell, count(*) AS pickup_count,
               rank() OVER (ORDER BY count(*) DESC) AS popularity
        FROM cells GROUP BY 1
    ),
    p AS (SELECT * FROM p0 WHERE popularity <= 100)
    SELECT CAST(popularity AS BIGINT) AS popularity,
           r.pickup_cell AS route_pickup_cell,
           r.dropoff_cell AS route_dropoff_cell,
           r.route_count,
           d.dropoff_cell AS dropoff_hexagon, d.dropoff_count,
           p.pickup_cell AS pickup_hexagon, p.pickup_count
    FROM r JOIN d USING (popularity) JOIN p USING (popularity)
"""


FLAGSHIP_KNOWN_ZONES_SQL = _FLAGSHIP_KNOWN_ZONES_TEMPLATE.format(
    zm=_zone_hex_values_sql()
)


@register("flagship_known_zones", FLAGSHIP_KNOWN_ZONES_SQL)
def q_flagship_known_zones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL 4-stage pipeline — load → normalize → geo/hex enrichment
    (WKT-centroid→cell on the deduped zone dim, two broadcast joins)
    → rank/top-k/USING join — against an exact DuckDB oracle.

    The hex ids come from ``centroid_cell``, but the synthetic zone
    dim's centroids are knowable at import time, so the oracle (which
    ``flagship_most_populars`` reuses under its own aliases) carries
    the zone→cell mapping as a literal VALUES list produced by the
    same pure-Python ``centroid_cell`` the enrichment calls — pinning
    the relational 95% of the pipeline exactly while tests/test_geo.py
    pins the geo kernel itself.
    """
    from taxi_trips_etl_spark.operators.enrich import enrich_trips
    from taxi_trips_etl_spark.sources.taxi_testdata import zone_dim

    enriched = enrich_trips(_norm_trips(spark, sf_dir), zone_dim(spark))
    cells = enriched.select(
        F.col("h3_pickup").alias("pickup_cell"),
        F.col("h3_dropoff").alias("dropoff_cell"),
    )
    return _populars_flat(cells)


_HEX_OFFSETS = ((0, 0), (1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1))


def _hex_smooth_sql() -> str:
    nbrs = ", ".join(
        "concat_ws('_', parts[1], "
        f"CAST(CAST(parts[2] AS BIGINT) + {dq} AS VARCHAR), "
        f"CAST(CAST(parts[3] AS BIGINT) + {dr} AS VARCHAR))"
        for dq, dr in _HEX_OFFSETS
    )
    return f"""
    WITH zm AS ({_zone_hex_values_sql()}),
    counts AS (
        SELECT d.hex AS cell, count(*) AS n
        FROM ({NORM_SQL}) t
        LEFT JOIN zm d ON t.dropoff_location_id = d.zone_id
        WHERE d.hex IS NOT NULL
        GROUP BY 1
    ),
    fan AS (
        SELECT cell, n,
               unnest([{nbrs}]) AS nbr_cell
        FROM (SELECT cell, n, string_split(cell, '_') AS parts FROM counts)
    ),
    smoothed AS (
        SELECT nbr_cell AS cell, sum(n) AS smoothed_count
        FROM fan GROUP BY 1
    )
    SELECT c.cell, CAST(c.n AS BIGINT) AS raw_count,
           CAST(s.smoothed_count AS BIGINT) AS smoothed_count
    FROM counts c JOIN smoothed s USING (cell)
    """


@register("hex_neighbor_smoothing", _hex_smooth_sql())
def q_hex_neighbor_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial smoothing over the hex grid: each cell's dropoff count
    summed with its 6 axial neighbors' (hotspot detection robust to
    cell-boundary jitter). The neighbor fan-out is a 7-way explode of
    STRING ARITHMETIC on the cell id — no geometry at query time, so
    the smoothing join is a plain equi-join that scales like any
    groupBy. Exact oracle via the known-zone VALUES mapping."""
    from taxi_trips_etl_spark.operators.enrich import enrich_trips
    from taxi_trips_etl_spark.sources.taxi_testdata import zone_dim

    from taxi_trips_etl_spark.dataprep.materialize import materialize

    enriched = enrich_trips(_norm_trips(spark, sf_dir), zone_dim(spark))
    # cell-grain (≤ |hex cells| rows), consumed by the neighbor fan-out
    # AND the final cell join: without a checkpoint the whole
    # load→normalize→geo-enrich spine (including the centroid→cell
    # Python UDF on the dim side) re-executes under both consumers
    # (r13: fact scans 2 → 1, BatchEvalPython 4 → 2).
    counts = materialize(
        enriched.filter(F.col("h3_dropoff").isNotNull())
        .groupBy(F.col("h3_dropoff").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n")),
        eager=False,
    )
    parts = F.split("cell", "_")
    qq = F.element_at(parts, 2).cast("long")
    rr = F.element_at(parts, 3).cast("long")
    nbrs = F.array(
        *[
            F.concat_ws(
                "_",
                F.element_at(parts, 1),
                (qq + dq).cast("string"),
                (rr + dr).cast("string"),
            )
            for dq, dr in _HEX_OFFSETS
        ]
    )
    fan = counts.select("cell", "n", F.explode(nbrs).alias("nbr_cell"))
    smoothed = fan.groupBy(F.col("nbr_cell").alias("cell")).agg(
        F.sum("n").alias("smoothed_count")
    )
    return counts.join(smoothed, "cell").select(
        "cell",
        F.col("n").cast("long").alias("raw_count"),
        F.col("smoothed_count").cast("long"),
    )


@register(
    "daily_metrics",
    """
    SELECT order_date, n_orders, total_price_cents,
           CAST(total_price_cents AS DOUBLE) / 100.0 / n_orders AS avg_price
    FROM (SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date,
                 count(*) AS n_orders,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                     AS total_price_cents
          FROM orders GROUP BY 1)
    """,
)
def q_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: multi-aggregate groupBy (models/daily_trip_metrics.sql shape).

    Money discipline: prices are cent-quantized, so float sums/avgs sit
    EXACTLY on .005 rounding boundaries and Spark/DuckDB round() can
    disagree. Sum exact integer cents instead; the avg is then one
    deterministic IEEE division on identical operands in both engines.
    """
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_price_cents"),
        )
        .select(
            "order_date",
            "n_orders",
            "total_price_cents",
            (F.col("total_price_cents").cast("double") / 100.0 / F.col("n_orders"))
            .alias("avg_price"),
        )
    )


@register("global_count", "SELECT count(1) AS row_count FROM lineitem")
def q_global_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: global scalar count (models/trips_view.sql:1)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("row_count"))


@register(
    "topk_limit",
    """
    SELECT l_partkey, count(*) AS part_count
    FROM lineitem GROUP BY 1
    ORDER BY part_count DESC, l_partkey LIMIT 100
    """,
)
def q_topk_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: ORDER BY count DESC LIMIT k (TakeOrderedAndProject), with a
    unique-key tiebreak for cross-engine determinism."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("part_count"))
        .orderBy(F.col("part_count").desc(), F.col("l_partkey"))
        .limit(100)
    )


@register(
    "rank_topk",
    """
    SELECT l_suppkey, supp_count, CAST(popularity AS BIGINT) AS popularity
    FROM (SELECT l_suppkey, count(*) AS supp_count,
                 rank() OVER (ORDER BY count(*) DESC) AS popularity
          FROM lineitem GROUP BY 1)
    WHERE popularity <= 5
    """,
)
def q_rank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: global RANK over aggregated counts, ties included."""
    counted = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("supp_count"))
    )
    return rank_top(counted, "supp_count", 5).select(
        "l_suppkey",
        "supp_count",
        F.col("popularity").cast("long").alias("popularity"),
    )


@register(
    "rename_projection",
    """
    SELECT c_custkey AS customer_id, c_name AS customer_name,
           c_mktsegment AS market_segment, c_acctbal AS account_balance
    FROM customer
    """,
)
def q_rename_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: staging rename (stg_taxi_trips__tripss.sql:9-19)."""
    return _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("customer_id"),
        F.col("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("market_segment"),
        F.col("c_acctbal").alias("account_balance"),
    )


@register(
    "octet_length_fn",
    """
    SELECT p_partkey, CAST(strlen(p_name) AS BIGINT) AS name_bytes,
           CAST(length(p_name) AS BIGINT) AS name_chars
    FROM part
    """,
)
def q_octet_length_fn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: byte_length ≡ octet_length (enrichment_query.py:12,19)."""
    return _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.octet_length("p_name").cast("long").alias("name_bytes"),
        F.length("p_name").cast("long").alias("name_chars"),
    )


@register(
    "timestamp_diff_minutes",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(floor((epoch(l_shipdate) - epoch(o_orderdate)) / 60) AS BIGINT)
               AS ship_delay_min
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    """,
)
def q_timestamp_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10: timestamp_diff(_, _, minute) (models/tripss.sql:3)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        "l_orderkey",
        "l_linenumber",
        timestamp_diff_minutes(F.col("l_shipdate"), F.col("o_orderdate")).alias(
            "ship_delay_min"
        ),
    )


@register(
    "union_append",
    """
    SELECT l_returnflag, count(*) AS n
    FROM (SELECT * FROM lineitem UNION ALL SELECT * FROM lineitem)
    GROUP BY 1
    """,
)
def q_union_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7/S4: append-load ≡ unionByName."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.unionByName(li)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "multihop_join",
    """
    SELECT r_name, n_customers,
           CAST(balance_cents AS DOUBLE) / 100.0 / n_customers AS avg_balance
    FROM (SELECT r_name, count(*) AS n_customers,
                 CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                     AS balance_cents
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1)
    """,
)
def q_multihop_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained broadcast equi-joins across the dim hierarchy."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents).alias("balance_cents"),
        )
        .select(
            "r_name",
            "n_customers",
            (F.col("balance_cents").cast("double") / 100.0 / F.col("n_customers"))
            .alias("avg_balance"),
        )
    )


@register(
    "null_semantics",
    """
    SELECT count(*) AS total_rows,
           CAST(count(nullif(l_discount, 0.0)) AS BIGINT) AS nonzero_discounts,
           CAST(sum(CASE WHEN nullif(l_discount, 0.0) IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS zero_or_null,
           CAST(count(CASE WHEN nullif(l_discount, 0.0) != 0.05 THEN 1 END)
                AS BIGINT) AS neq_keeps
    FROM lineitem
    """,
)
def q_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: null-rejecting ``!=`` / IS NULL semantics (BQ-compatible)."""
    li = _t(spark, sf_dir, "lineitem")
    nz = F.nullif(F.col("l_discount"), F.lit(0.0))
    return li.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.count(nz).alias("nonzero_discounts"),
        F.sum(F.when(nz.isNull(), 1).otherwise(0)).cast("long").alias("zero_or_null"),
        F.count(F.when(nz != 0.05, 1)).alias("neq_keeps"),
    )


# ===========================================================================
# dbt-parity models (SURVEY.md §1.1 / EP3)
# ===========================================================================


def _model_registry(spark: SparkSession, sf_dir: str):
    norm = _norm_trips(spark, sf_dir)
    enriched_like = norm.select(
        daypart(F.col("pickup_datetime")).alias("daypart"),
        "pickup_datetime",
        "dropoff_datetime",
        "pickup_location_id",
        "dropoff_location_id",
        F.col("fare_amount").alias("total_amount"),
    )
    return taxi_models(spark, enriched_like)


@register(
    "model_daily_trip_metrics",
    f"""
    SELECT pickup_date, n_trips, avg_drive_time, total_drive_time,
           total_amount_cents,
           CAST(total_amount_cents AS DOUBLE) / 100.0 / n_trips AS avg_amount
    FROM (SELECT strftime(pickup_datetime, '%Y-%m-%d') AS pickup_date,
                 count(*) AS n_trips,
                 avg(drive_time) AS avg_drive_time,
                 CAST(sum(drive_time) AS BIGINT) AS total_drive_time,
                 CAST(sum(fare_cents) AS BIGINT) AS total_amount_cents
          FROM (SELECT pickup_datetime,
                       CAST(floor((epoch(dropoff_datetime) - epoch(pickup_datetime))
                                  / 60) AS BIGINT) AS drive_time,
                       CAST(round(fare_amount * 100) AS BIGINT) AS fare_cents
                FROM ({NORM_SQL}))
          GROUP BY 1)
    """,
)
def q_model_daily_trip_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt model daily_trip_metrics (models/daily_trip_metrics.sql:1-3)."""
    reg = _model_registry(spark, sf_dir)
    return reg.ref("daily_trip_metrics").select(
        F.date_format("pickup_date", "yyyy-MM-dd").alias("pickup_date"),
        "n_trips",
        "avg_drive_time",
        F.col("total_drive_time").cast("long").alias("total_drive_time"),
        "total_amount_cents",
        "avg_amount",
    )


@register(
    "model_trips_view",
    f"SELECT count(1) AS trip_count FROM ({NORM_SQL})",
)
def q_model_trips_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt model trips_view (models/trips_view.sql:1)."""
    return _model_registry(spark, sf_dir).ref("trips_view")


@register(
    "model_staging_rename",
    f"""
    SELECT strftime(pickup_datetime, '%Y-%m-%d %H:%M:%S') AS pickup_ts,
           strftime(dropoff_datetime, '%Y-%m-%d %H:%M:%S') AS dropoff_ts,
           pickup_location_id AS pickup_zone,
           dropoff_location_id AS dropoff_zone,
           {DAYPART_SQL.format(t="strftime(pickup_datetime, '%H:%M:%S')")} AS daypart
    FROM ({NORM_SQL})
    """,
)
def q_model_staging_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt staging model (stg_taxi_trips__tripss.sql:1-21)."""
    stg = _model_registry(spark, sf_dir).ref("stg_taxi_trips__tripss")
    return stg.select(
        _ts_str(F.col("pickup_ts"), "pickup_ts"),
        _ts_str(F.col("dropoff_ts"), "dropoff_ts"),
        "pickup_zone",
        "dropoff_zone",
        "daypart",
    )


