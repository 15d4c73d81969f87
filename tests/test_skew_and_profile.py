"""Salted-join equivalence + profiling operator."""

from __future__ import annotations

from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.profile import profile_table
from taxi_trips_etl_spark.operators.skew import key_skew_report, salted_join


def _skewed(spark):
    # 90% of rows share key 1 (the hot key), the rest spread over 2..10.
    big = spark.range(1000).select(
        F.when(F.col("id") < 900, 1).otherwise((F.col("id") % 9) + 2).alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(1, 11)], "k long, name string"
    )
    return big, small


def test_salted_join_equals_plain_join(spark):
    big, small = _skewed(spark)
    plain = big.join(small, ["k"]).select("k", "payload", "name")
    salted = salted_join(big, small, ["k"], salts=8).select("k", "payload", "name")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_key_skew_report_flags_hot_key(spark):
    big, _ = _skewed(spark)
    rep = key_skew_report(big, ["k"]).collect()
    assert rep[0].k == 1
    assert rep[0].n_rows == 900
    assert rep[0].share == 0.9


def test_profile_table_counts(spark):
    df = spark.createDataFrame(
        [(1, None), (2, "a"), (3, "a"), (None, "b")], "x long, y string"
    )
    out = {r.column_name: r for r in profile_table(df).collect()}
    assert out["x"].n_rows == 4
    assert out["x"].n_nulls == 1
    assert out["x"].n_distinct == 3
    assert out["y"].n_nulls == 1
    assert out["y"].n_distinct == 2


def test_validate_constraints_counts(spark):
    from taxi_trips_etl_spark.dataprep.profile import validate_constraints

    df = spark.createDataFrame(
        [(1, 1, 5.0), (1, 1, 60.0), (2, None, None)],
        "k long, sub int, qty double",
    )
    rules = {r["rule"]: r["violations"] for r in validate_constraints(
        df,
        not_null=["sub"],
        unique=[["k", "sub"]],
        ranges={"qty": (1.0, 50.0)},
    ).collect()}
    assert rules["not_null:sub"] == 1
    assert rules["range:qty:[1.0,50.0]"] == 2   # 60.0 out of range + NULL
    assert rules["unique:k,sub"] == 2           # the (1,1) pair counted twice


def test_hll_rollup_error_bound_and_merge_equivalence(spark, sf_dir):
    """Merged per-day sketches estimate within ~3*SE of exact, and
    equal a single direct sketch over the same data (mergeability)."""
    from pyspark.sql import functions as F

    from taxi_trips_etl_spark.dataprep.profile import hll_distinct_rollup
    from taxi_trips_etl_spark.queries import _events

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    merged = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_distinct_rollup(
            ev, ["event_type"], "user_id", "day"
        ).collect()
    }
    exact = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert set(merged) == set(exact)
    for et, nd in exact.items():
        rel_err = abs(merged[et] - nd) / max(nd, 1)
        assert rel_err < 0.05, (et, merged[et], nd)

    direct = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(12))
            ).alias("nd")
        )
        .collect()
    }
    # Union-of-partials must equal the one-shot sketch exactly: HLL
    # register merge is deterministic, so rollup order cannot matter.
    assert {k: int(v) for k, v in merged.items()} == {
        k: int(v) for k, v in direct.items()
    }


def test_hll_portable_rollup_error_bound_and_merge(spark, sf_dir):
    """The cross-engine md5-register HLL (lg_k=8 → SE ≈ 6.5%) lands
    within ~3*SE of exact, and merging per-day partials equals building
    the registers in one shot (max is associative)."""
    from pyspark.sql import functions as F

    from taxi_trips_etl_spark.dataprep.profile import hll_portable_rollup
    from taxi_trips_etl_spark.queries import _events

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts"))
    merged = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_portable_rollup(ev, ["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["nd"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("nd"))
        .collect()
    }
    assert set(merged) == set(exact)
    for et, nd in exact.items():
        rel_err = abs(merged[et] - nd) / max(nd, 1)
        assert rel_err < 0.20, (et, merged[et], nd)

    one_shot = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_portable_rollup(
            ev.withColumn("day", F.lit(1)), ["event_type"]
        ).collect()
    }
    assert merged == one_shot
