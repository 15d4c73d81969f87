"""Incremental rollup maintenance: folding per-batch partials must
equal the from-scratch aggregate — the replay/backfill safety
contract."""

from __future__ import annotations

from pyspark.sql import functions as F

from taxi_trips_etl_spark.operators.incremental import (
    aggregate_partials,
    merge_partials,
)
from taxi_trips_etl_spark.queries import _events

KEYS = ["event_type"]


def _cents():
    # built lazily: Column construction needs an active SparkSession
    return F.round(F.col("value") * 100).cast("long")


def test_incremental_fold_equals_full_recompute(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_type", "value", "ts")
    cut = ev.agg(F.expr("timestamp_micros(CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY unix_micros(ts)) AS BIGINT))")).collect()[0][0]
    day1 = ev.filter(F.col("ts") <= cut)
    day2 = ev.filter(F.col("ts") > cut)

    state = aggregate_partials(day1, KEYS, _cents())
    folded = merge_partials(state, aggregate_partials(day2, KEYS, _cents()), KEYS)
    full = aggregate_partials(ev, KEYS, _cents())

    # integer partials: the fold is exact, not ulp-close
    assert sorted(map(tuple, folded.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_incremental_is_idempotent_per_key(spark, sf_dir):
    ev = _events(spark, sf_dir).select("event_type", "value").limit(1000)
    state = aggregate_partials(ev, KEYS, _cents())
    empty = aggregate_partials(ev.filter(F.lit(False)), KEYS, _cents())
    again = merge_partials(state, empty, KEYS)
    a = sorted(map(tuple, state.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b
