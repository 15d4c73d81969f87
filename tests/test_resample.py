from __future__ import annotations

from pyspark.sql import functions as F

from taxi_trips_etl_spark.operators.resample import (
    daily_spine,
    interpolate_gaps,
)


def test_interpolate_linear_between_anchors(spark):
    rows = [
        ("a", 0, 10.0),
        ("a", 1, None),
        ("a", 2, None),
        ("a", 3, 40.0),
        ("a", 4, None),  # trailing edge -> flat from 40
        ("b", 0, None),  # leading edge -> flat from 7
        ("b", 1, 7.0),
        ("c", 0, None),  # no anchors at all -> stays NULL
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {
        (r["k"], r["t"]): (r["v_filled"], r["was_gap"])
        for r in interpolate_gaps(df, ["k"]).collect()
    }
    assert got[("a", 0)] == (10.0, 0)
    assert got[("a", 1)] == (20.0, 1)
    assert got[("a", 2)] == (30.0, 1)
    assert got[("a", 3)] == (40.0, 0)
    assert got[("a", 4)] == (40.0, 1)
    assert got[("b", 0)] == (7.0, 1)
    assert got[("c", 0)] == (None, 1)


def test_interpolate_uneven_time_steps(spark):
    rows = [("a", 0, 0.0), ("a", 10, None), ("a", 40, 80.0)]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    got = {
        r["t"]: r["v_filled"]
        for r in interpolate_gaps(df, ["k"]).collect()
    }
    assert got[10] == 20.0  # 10/40 of the way from 0 to 80


def test_daily_spine_dense(spark):
    df = spark.createDataFrame(
        [("x", "2024-01-01"), ("x", "2024-01-04"), ("y", "2024-01-02")],
        "k string, d string",
    ).select("k", F.col("d").cast("date").alias("day"))
    got = daily_spine(df, ["k"]).collect()
    # 2 keys x 4 days (global range 01-01..01-04)
    assert len(got) == 8
