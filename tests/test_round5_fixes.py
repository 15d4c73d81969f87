"""Round-5 advisory fixes, each pinned by a regression test:

- ``materialize.release`` frees a superseded localCheckpoint's blocks
  (the foreachBatch retained-RDD leak in stream_upsert);
- the streaming CDC loop ends a multi-batch run with at most one
  retained state RDD;
- the production (continuous) sessionize path has no driver collects —
  the AvailableNow oracle drive is the only place allowed to;
- streaming readers RAISE on a session missing nanosAsLong instead of
  silently flipping it;
- ``weighted_priority_sample`` returns fewer than k rows (not Inf/NaN
  keys) when fewer than k rows carry positive weight.
"""

from __future__ import annotations

import inspect

import pytest
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize, release
from taxi_trips_etl_spark.dataprep.sampling import weighted_priority_sample


def _n_persisted(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_release_frees_local_checkpoint_blocks(spark):
    before = _n_persisted(spark)
    m = materialize(
        spark.range(100).selectExpr("id", "id * 2 AS x"), eager=True
    )
    assert _n_persisted(spark) == before + 1
    assert m.count() == 100
    release(m)
    assert _n_persisted(spark) == before


def test_release_is_silent_on_non_checkpointed_frames(spark):
    df = spark.range(5)
    release(df)  # no LogicalRDD plan → no-op, no error
    assert df.count() == 5


def test_stream_upsert_does_not_accumulate_state_rdds(spark, tmp_path):
    from taxi_trips_etl_spark.streaming.stream_upsert import (
        run_streaming_cdc_upsert,
    )

    src = str(tmp_path / "events_src")
    rows = [
        (i, i % 7, f"2024-01-01 00:{i:02d}:00", "click", float(i))
        for i in range(30)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts_s string, "
        "event_type string, value double"
    ).select(
        "event_id", "user_id",
        F.to_timestamp("ts_s").alias("ts"), "event_type", "value",
    )
    # Five files → five micro-batches with max_files_per_trigger=1.
    ev.repartition(5).write.parquet(src)

    before = _n_persisted(spark)
    out = run_streaming_cdc_upsert(spark, src)
    assert out.count() == 7
    # Exactly the live final-state RDD may remain — not one per batch.
    assert _n_persisted(spark) <= before + 1
    release(out)


def test_sessionize_production_path_has_no_driver_collects():
    """The continuous path (streaming_sessionize + the stateful kernel)
    must stay collect-free; only the AvailableNow oracle drive
    (run_streaming_sessionize) may round-trip to the driver."""
    from taxi_trips_etl_spark.streaming import sessionize as mod

    prod = inspect.getsource(mod.streaming_sessionize)
    assert ".collect(" not in prod
    oracle = inspect.getsource(mod.run_streaming_sessionize)
    assert "ORACLE-PATH-ONLY" in oracle  # the documented exemption


def test_streaming_reader_requires_nanos_conf(spark, sf_dir):
    from taxi_trips_etl_spark.streaming.state import event_stream

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    try:
        with pytest.raises(ValueError, match="nanosAsLong"):
            event_stream(spark, f"{sf_dir}/events.parquet")
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def test_weighted_priority_sample_short_population(spark):
    df = spark.createDataFrame(
        [("a", 10), ("b", 0), ("c", -3), ("d", 5)],
        "c_custkey string, w long",
    )
    out = weighted_priority_sample(df, F.col("w")).collect()
    # Only the positive-weight rows qualify; no Inf/NaN priority keys.
    assert sorted(r["c_custkey"] for r in out) == ["a", "d"]
    assert all(r["priority_key"] == r["priority_key"] for r in out)
    assert all(r["priority_key"] != float("inf") for r in out)
