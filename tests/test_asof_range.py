"""As-of join + range join edge semantics."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from taxi_trips_etl_spark.operators.asof import asof_join, range_join_points


def _ts(h, m=0):
    return dt.datetime(2026, 1, 1, h, m)


def test_asof_picks_latest_prior_and_is_inclusive(spark):
    left = spark.createDataFrame(
        [(1, 100, _ts(10)), (1, 101, _ts(12)), (1, 102, _ts(9)), (2, 200, _ts(10))],
        "k long, left_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, _ts(9, 30), 1.0), (1, _ts(12), 2.0), (1, _ts(13), 9.0), (3, _ts(1), 7.0)],
        "k long, ts timestamp, v double",
    )
    out = {r.left_id: r for r in asof_join(left, right, on=["k"]).collect()}
    assert out[100].v == 1.0          # latest ≤ 10:00 is 09:30
    assert out[101].v == 2.0          # equal timestamps match (inclusive)
    assert out[102].v is None         # nothing at or before 09:00
    assert out[200].v is None         # key 2 has no right rows at all
    assert out[101]["__asof_ts"] == _ts(12)  # bracket access: dunder-named field
    assert len(out) == 4              # left-join: every left row survives


def test_range_join_boundaries_and_multi_overlap(spark):
    points = spark.createDataFrame(
        [(1, _ts(10)), (2, _ts(11)), (3, _ts(23, 59))], "pid long, ts timestamp"
    )
    intervals = spark.createDataFrame(
        [
            ("a", _ts(10), _ts(11)),       # point 1 at start, point 2 at end
            ("b", _ts(10, 30), _ts(12)),   # point 2 inside
            ("c", _ts(0), _ts(1)),         # nobody
        ],
        "iid string, w_start timestamp, w_end timestamp",
    )
    out = range_join_points(points, intervals)
    pairs = sorted((r.pid, r.iid) for r in out.collect())
    assert pairs == [(1, "a"), (2, "a"), (2, "b")]  # inclusive both ends


def test_range_join_long_interval_spans_buckets(spark):
    points = spark.createDataFrame([(1, _ts(18))], "pid long, ts timestamp")
    intervals = spark.createDataFrame(
        [("wide", _ts(1), _ts(23))],
        "iid string, w_start timestamp, w_end timestamp",
    )
    out = range_join_points(points, intervals)
    assert [(r.pid, r.iid) for r in out.collect()] == [(1, "wide")]
    # and no duplicate rows despite the interval exploding into 12 buckets
    assert out.count() == 1
