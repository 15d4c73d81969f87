from __future__ import annotations

from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.profile import histogram_quantiles
from taxi_trips_etl_spark.dataprep.sampling import (
    temperature_mixture_weights,
)


def test_temperature_flattens_head(spark):
    df = spark.createDataFrame(
        [(i, "w " * 100, "head") for i in range(90)]
        + [(i + 90, "w", "tail") for i in range(10)],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: r
        for r in temperature_mixture_weights(df).collect()
    }
    head, tail = got["head"], got["tail"]
    # alpha<1 up-samples the tail relative to its raw share
    assert tail["weight"] > tail["raw_share"]
    assert head["weight"] < head["raw_share"]
    assert abs((head["weight"] + tail["weight"]) - 1.0) < 1e-4


def test_alpha_one_recovers_raw_share(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep import sampling

    monkeypatch.setattr(sampling, "MIXTURE_ALPHA", 1.0)
    df = spark.createDataFrame(
        [(1, "a b c", "x"), (2, "a b c d e f", "y")],
        "doc_id long, text string, source string",
    )
    got = {
        r["source"]: r
        for r in temperature_mixture_weights(df).collect()
    }
    for r in got.values():
        assert abs(r["weight"] - r["raw_share"]) < 1e-5


def test_histogram_quantiles_close_to_exact(spark):
    df = spark.range(10001).select(
        F.col("id").cast("double").alias("l_extendedprice")
    )
    got = {
        r["quantile"]: r["estimate"]
        for r in histogram_quantiles(df).collect()
    }
    # uniform 0..10000: estimates within one bin width (10000/128 ~ 78)
    for q, est in got.items():
        assert abs(est - q * 10000) < 80, (q, est)


def test_histogram_partials_merge(spark):
    # estimate over the union equals estimating each half's bins merged:
    # the operator is one job, but determinism across repartitioning is
    # the mergeability witness at this API level
    df = spark.range(5000).select(
        (F.col("id") % 997).cast("double").alias("l_extendedprice")
    )
    a = sorted(map(tuple, histogram_quantiles(df).collect()))
    b = sorted(map(tuple, histogram_quantiles(df.repartition(13)).collect()))
    assert a == b
