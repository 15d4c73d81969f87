"""Reference-semantics tests for the taxi pipeline operators.

Fixture requirements from FIXTURES.md §A: pickup==dropoff rows, nulls
and zeros in filtered columns, negative fares surviving ``!= 0``,
daypart boundary times, unmatched location ids (left-join null path),
duplicate zone_ids with different-length WKT, tied popularity counts.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from taxi_trips_etl_spark.operators.enrich import dedup_zones, enrich_trips
from taxi_trips_etl_spark.operators.normalize import normalize_trips
from taxi_trips_etl_spark.operators.popularity import most_populars
from taxi_trips_etl_spark.plans.airflow_dag import storage_to_bq
from taxi_trips_etl_spark.plans.pipeline import Pipeline, run_taxi_pipeline

TRIP_SCHEMA = (
    "pickup_datetime timestamp, dropoff_datetime timestamp, "
    "passenger_count long, trip_distance double, fare_amount double, "
    "pickup_location_id long, dropoff_location_id long"
)


def _ts(h, m=0, s=0):
    return dt.datetime(2026, 1, 1, h, m, s)


def trips_df(spark, rows):
    return spark.createDataFrame(rows, TRIP_SCHEMA)


def test_normalization_keeps_good_drops_bad(spark):
    good = (_ts(10), _ts(11), 2, 1.5, 10.0, 1, 2)
    neg_fare = (_ts(10), _ts(11), 1, 1.0, -5.0, 1, 2)  # != 0 keeps negatives
    same_ts = (_ts(10), _ts(10), 2, 1.0, 10.0, 1, 2)
    zero_pass = (_ts(10), _ts(11), 0, 1.0, 10.0, 1, 2)
    null_pass = (_ts(10), _ts(11), None, 1.0, 10.0, 1, 2)
    zero_dist = (_ts(10), _ts(11), 1, 0.0, 10.0, 1, 2)
    null_dist = (_ts(10), _ts(11), 1, None, 10.0, 1, 2)
    zero_fare = (_ts(10), _ts(11), 1, 1.0, 0.0, 1, 2)
    df = trips_df(
        spark,
        [good, neg_fare, same_ts, zero_pass, null_pass, zero_dist, null_dist, zero_fare],
    )
    kept = normalize_trips(df).collect()
    assert len(kept) == 2  # good + negative fare (code semantics, not README prose)
    fares = sorted(r.fare_amount for r in kept)
    assert fares == [-5.0, 10.0]


ZONES = [
    # zone 1 duplicated: square + longer-WKT octagon (same centroid) —
    # rank-dedup must keep the octagon (longest WKT wins).
    (1, "POLYGON((0 0, 1 0, 1 1, 0 1, 0 0))"),
    (
        1,
        "POLYGON((0.25 0, 0.75 0, 1 0.25, 1 0.75, 0.75 1, 0.25 1, 0 0.75, 0 0.25, 0.25 0))",
    ),
    (2, "POLYGON((10 10, 11 10, 11 11, 10 11, 10 10))"),
]


def test_zone_dedup_keeps_longest_wkt(spark):
    zones = spark.createDataFrame(ZONES, "zone_id long, zone_geom string")
    out = dedup_zones(zones).collect()
    assert len(out) == 2  # one row per zone_id
    cells = {r.zone_id: r.hex_cell for r in out}
    from taxi_trips_etl_spark.functions.geo import centroid_cell, latlng_to_cell

    assert cells[1] == latlng_to_cell(0.5, 0.5, 9)  # octagon centroid == square's
    assert cells[2] == latlng_to_cell(10.5, 10.5, 9)

    # RANK() = 1, not ROW_NUMBER(): two WKTs tied at a zone's maximum
    # byte length both survive; a null geometry ranks last (DESC NULLS
    # LAST) and loses to any WKT, but a zone whose only geometry is
    # null keeps its row, unindexed.
    square, shifted = ZONES[0][1], "POLYGON((2 2, 3 2, 3 3, 2 3, 2 2))"
    assert len(square.encode()) == len(shifted.encode())
    zones = spark.createDataFrame(
        [(1, square), (1, None), (1, shifted), (2, ZONES[2][1]), (3, None)],
        "zone_id long, zone_geom string",
    )
    out = sorted((r.zone_id, r.hex_cell or "") for r in dedup_zones(zones).collect())
    assert out == sorted(
        [
            (1, centroid_cell(square, 9)),
            (1, centroid_cell(shifted, 9)),
            (2, cells[2]),
            (3, ""),
        ]
    )
    assert centroid_cell(square, 9) != centroid_cell(shifted, 9)


def test_enrichment_left_join_null_path_and_daypart(spark):
    zones = spark.createDataFrame(ZONES, "zone_id long, zone_geom string")
    rows = [
        (_ts(6), _ts(7), 1, 1.0, 5.0, 1, 2),     # Morning, both zones match
        (_ts(12), _ts(13), 1, 1.0, 5.0, 1, 99),  # Noon, dropoff unmatched
        (_ts(18), _ts(19), 1, 1.0, 5.0, 99, 1),  # Evening, pickup unmatched
        (_ts(5, 59, 59), _ts(7), 1, 1.0, 5.0, 1, 1),   # Night boundary
        (_ts(23, 59, 59), _ts(23, 59, 59) + dt.timedelta(minutes=1),
         1, 1.0, 5.0, 2, 2),                      # Evening upper edge
    ]
    out = enrich_trips(trips_df(spark, rows), zones).collect()
    assert len(out) == 5
    by_pickup = {r.pickup_datetime: r for r in out}
    assert by_pickup[_ts(6)].daypart == "Morning"
    assert by_pickup[_ts(12)].daypart == "Noon"
    assert by_pickup[_ts(12)].h3_dropoff is None  # unmatched → NULL (left join)
    assert by_pickup[_ts(18)].h3_pickup is None
    assert by_pickup[_ts(5, 59, 59)].daypart == "Night"
    assert by_pickup[_ts(23, 59, 59)].daypart == "Evening"


def test_literal_self_join_mode_matches_single_pass(spark):
    zones = spark.createDataFrame(ZONES, "zone_id long, zone_geom string")
    rows = [
        (_ts(6 + i % 12, i), _ts(7 + i % 12, i), 1, 1.0, 5.0,
         (i % 3) + 1, ((i + 1) % 3) + 1)
        for i in range(20)
    ]
    df = trips_df(spark, rows)
    fast = enrich_trips(df, zones).orderBy("pickup_datetime").collect()
    literal = (
        enrich_trips(df, zones, literal_self_join=True)
        .orderBy("pickup_datetime")
        .collect()
    )
    # Composite key is unique here (minute = i) → the reference's
    # self-join shape and the single-pass rewrite must agree exactly.
    assert fast == literal


def test_literal_self_join_fans_out_on_duplicate_keys(spark):
    # Two rows with the SAME composite key: the reference's two-branch
    # self-join multiplies them (2×2=4 rows) — intentional reference
    # behavior the parity mode must reproduce; the single-pass rewrite
    # keeps 1:1 row cardinality.
    zones = spark.createDataFrame(ZONES, "zone_id long, zone_geom string")
    rows = [(_ts(9), _ts(10), 1, 1.0, 5.0, 1, 2)] * 2
    df = trips_df(spark, rows)
    assert enrich_trips(df, zones).count() == 2
    assert enrich_trips(df, zones, literal_self_join=True).count() == 4


def test_enrich_plan_has_no_python_eval(spark, sf_dir):
    """The geo indexing runs on the driver: neither the broadcast zone
    dim nor the fact side of the enrich plan holds a Python eval node,
    and the dim is a LocalRelation."""
    import re

    from taxi_trips_etl_spark.sources.taxi_testdata import (
        trips_from_lineitem,
        zone_dim,
    )

    trips = normalize_trips(
        trips_from_lineitem(spark.read.parquet(f"{sf_dir}/lineitem.parquet"))
    )
    for literal in (False, True):
        enriched = enrich_trips(trips, zone_dim(spark), literal_self_join=literal)
        plan = enriched._jdf.queryExecution().executedPlan().toString()
        assert not re.search("BatchEvalPython|ArrowEvalPython", plan)
        assert "BroadcastExchange" in plan and "LocalTableScan" in plan
        assert enriched.filter(F.col("h3_pickup").isNotNull()).limit(1).count() == 1


def test_popularity_rank_tie_semantics(spark):
    # Two routes tied at count 2 → both get popularity 1, rank 3 dropped;
    # USING(popularity) join multiplies tied rows (reference README.md:51).
    rows = []
    for _ in range(2):
        rows.append((_ts(6), _ts(7), 1, 1.0, 5.0, 1, 1))
        rows.append((_ts(7), _ts(8), 1, 1.0, 5.0, 2, 2))
    rows.append((_ts(8), _ts(9), 1, 1.0, 5.0, 3, 3))
    zones = spark.createDataFrame(
        [(i, f"POLYGON(({i} {i}, {i + 1} {i}, {i + 1} {i + 1}, {i} {i + 1}, {i} {i}))")
         for i in (1, 2, 3)],
        "zone_id long, zone_geom string",
    )
    enriched = enrich_trips(trips_df(spark, rows), zones)
    result = most_populars(enriched).collect()
    pops = sorted(r.popularity for r in result)
    # routes: {r1:2, r2:2, r3:1} → popularity ranks {1,1,3}; hexes same.
    # Join on popularity: rank 1 matches 2 routes × 2 dropoffs × 2 pickups = 8 rows;
    # rank 3 matches 1×1×1.
    assert pops == [1] * 8 + [3]


def test_pipeline_short_circuits_on_missing_input(spark, tmp_path):
    out = run_taxi_pipeline(spark, str(tmp_path / "nope"), None, "2026-01-01")
    assert out is None


@pytest.mark.parametrize("caller", ["pipeline", "airflow"])
def test_zero_row_lineitem_short_circuits(spark, sf_dir, tmp_path, caller):
    """O2 on an input that exists but holds no rows: both orchestrations
    stop at the load stage, like they do for a missing path. Two shapes:
    a Spark-written zero-row file, and a directory holding only the
    ``_SUCCESS`` marker (no data file, so no schema to infer)."""
    empty = tmp_path / "empty"
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(0).write.parquet(
        str(empty / "lineitem.parquet")
    )
    marker_only = tmp_path / "marker_only"
    (marker_only / "lineitem.parquet").mkdir(parents=True)
    (marker_only / "lineitem.parquet" / "_SUCCESS").touch()
    for sf in (empty, marker_only):
        if caller == "pipeline":
            assert run_taxi_pipeline(spark, str(sf), None, "2026-01-01") is None
        else:
            work = tmp_path / f"work_{sf.name}"
            assert storage_to_bq(spark, sf_dir=str(sf), work_dir=str(work)) is False
            assert not work.exists()


def _jobs_booked(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted under a job group of its own."""
    import uuid

    sc, group = spark.sparkContext, f"counted-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_pipeline_day_books_at_most_five_jobs(spark, sf_dir, tmp_path):
    """A warm day with an output path runs at most five jobs: two fill
    the route-count checkpoint, two broadcast the rank sides and one
    writes the partition. Loading books none (footers, not a schema
    job or an ``isEmpty`` probe), and neither does enriching (the zone
    dedup runs on the driver)."""
    from taxi_trips_etl_spark.sources.taxi_testdata import load_trips, zone_dim

    out = str(tmp_path / "mp")
    run_taxi_pipeline(spark, sf_dir, out, "2026-04-01")  # warm-up day
    assert _jobs_booked(spark, lambda: load_trips(spark, sf_dir)) == 0
    assert _jobs_booked(
        spark,
        lambda: enrich_trips(
            normalize_trips(load_trips(spark, sf_dir)), zone_dim(spark)
        ),
    ) == 0
    day = _jobs_booked(spark, lambda: run_taxi_pipeline(spark, sf_dir, out, "2026-04-02"))
    assert 0 < day <= 5


@pytest.mark.parametrize("written_by", ["pyarrow", "spark"])
def test_read_lineitem_schema_matches_spark_inference(spark, sf_dir, tmp_path, written_by):
    """The footer-built read schema is the schema Spark infers, for the
    pyarrow-written fixture file (``l_shipdate`` is ``timestamp_ntz``)
    and for a Spark-written directory with ``_SUCCESS`` and ``.crc``
    side files."""
    from taxi_trips_etl_spark.sources.taxi_testdata import read_lineitem

    path = f"{sf_dir}/lineitem.parquet"
    if written_by == "spark":
        spark.read.parquet(path).write.parquet(str(tmp_path / "li"))
        path = str(tmp_path / "li")
    li = read_lineitem(spark, path)
    assert li is not None and li.schema == spark.read.parquet(path).schema
    assert dict(li.dtypes)["l_shipdate"] == "timestamp_ntz"


def _flaky(failures: int):
    calls = []

    def stage(ctx):
        calls.append(1)
        if len(calls) <= failures:
            raise RuntimeError(f"attempt {len(calls)} fails")
        return "ok"

    return stage, calls


def test_stage_retried_once_then_succeeds():
    """O4: one retry per stage (reference retries=1)."""
    stage, calls = _flaky(1)
    ctx = Pipeline().add("s", stage).run({})
    assert ctx["s"] == "ok" and len(calls) == 2


def test_stage_failing_twice_raises():
    stage, calls = _flaky(2)
    with pytest.raises(RuntimeError, match="attempt 2 fails"):
        Pipeline().add("s", stage).run({})
    assert len(calls) == 2


def test_pipeline_end_to_end_writes_partition(spark, sf_dir, tmp_path):
    out_dir = str(tmp_path / "mp")
    df = run_taxi_pipeline(spark, sf_dir, out_dir, "2026-03-01")
    assert df is not None and df.count() > 0
    written = spark.read.parquet(out_dir)
    assert written.filter(F.col("run_date") == "2026-03-01").count() == df.count()


def test_pipeline_single_fact_pass(spark, sf_dir):
    """r13 optimization pin: the popularity stage makes ONE pass over
    the enriched fact table — the three group-count-rank branches hang
    off the materialized route-grain count (operators/popularity
    .route_counts), so the final lazy plan contains the checkpoint scan
    and ZERO raw lineitem scans (the 3× spine recompute the former
    auto-cache compensated for is structurally gone)."""
    from taxi_trips_etl_spark.plans.pipeline import run_taxi_pipeline

    df = run_taxi_pipeline(spark, sf_dir)
    plan = df._jdf.queryExecution().toString()
    assert "ExistingRDD" in plan
    assert "lineitem.parquet" not in plan
    assert "InMemoryRelation" not in plan
