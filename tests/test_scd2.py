from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from taxi_trips_etl_spark.operators.scd2 import scd2_apply

T0 = dt.datetime(2026, 1, 1)
T1 = dt.datetime(2026, 2, 1)
T2 = dt.datetime(2026, 3, 1)

DIM_SCHEMA = (
    "c_custkey long, city string, tier string, valid_from timestamp, "
    "valid_to timestamp"
)


def test_scd2_close_insert_passthrough(spark):
    dim = spark.createDataFrame(
        [
            (1, "nyc", "gold", T0, None),        # will change → close + new
            (2, "sf", "silver", T0, None),       # same attrs in update → untouched
            (3, "la", "bronze", T0, None),       # not in update → untouched
            (1, "bos", "gold", dt.datetime(2025, 6, 1), T0),  # closed history
        ],
        DIM_SCHEMA,
    )
    updates = spark.createDataFrame(
        [
            (1, "nyc", "platinum", T1),  # tier change
            (2, "sf", "silver", T1),     # no-op
            (9, "chi", "gold", T1),      # brand-new key
        ],
        "c_custkey long, city string, tier string, effective_ts timestamp",
    )
    out = scd2_apply(dim, updates, ["city", "tier"]).collect()
    rows = {(r.c_custkey, r.tier, r.valid_from, r.valid_to) for r in out}
    assert (1, "gold", T0, T1) in rows            # old version closed at T1
    assert (1, "platinum", T1, None) in rows      # new open version
    assert (2, "silver", T0, None) in rows        # unchanged stays open
    assert (3, "bronze", T0, None) in rows        # untouched key
    assert (9, "gold", T1, None) in rows          # new key opens
    assert (1, "gold", dt.datetime(2025, 6, 1), T0) in rows  # history preserved
    assert len(rows) == 6


def test_scd2_is_idempotent_for_same_update(spark):
    dim = spark.createDataFrame([(1, "nyc", "gold", T0, None)], DIM_SCHEMA)
    updates = spark.createDataFrame(
        [(1, "nyc", "platinum", T1)],
        "c_custkey long, city string, tier string, effective_ts timestamp",
    )
    once = scd2_apply(dim, updates, ["city", "tier"])
    twice = scd2_apply(once, updates, ["city", "tier"])
    # Re-applying the same update must not spawn another version.
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_scd2_point_in_time_lookup(spark):
    dim = spark.createDataFrame(
        [(1, "nyc", "gold", T0, T1), (1, "nyc", "platinum", T1, None)], DIM_SCHEMA
    )
    as_of = dim.filter(
        (F.col("valid_from") <= F.lit(dt.datetime(2026, 1, 15)))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > dt.datetime(2026, 1, 15)))
    ).collect()
    assert len(as_of) == 1 and as_of[0].tier == "gold"
