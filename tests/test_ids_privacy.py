from __future__ import annotations

import math

from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.privacy import (
    dp_noisy_counts,
    k_anonymity_audit,
)
from taxi_trips_etl_spark.operators.ids import assign_global_ids


def test_global_ids_equal_row_number(spark):
    df = spark.range(997).select(
        (F.col("id") * 7919 % 997).alias("k"), F.col("id").alias("uniq")
    )
    got = assign_global_ids(df, ["k", "uniq"])
    rows = sorted(
        (r["k"], r["uniq"], r["global_id"]) for r in got.collect()
    )
    # ids are exactly 1..n in (k, uniq) order
    by_key = sorted(rows, key=lambda r: (r[0], r[1]))
    assert [r[2] for r in by_key] == list(range(1, 998))


def test_global_ids_partitioning_invariant(spark):
    df = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("payload")
    )

    def ids(frame, width):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(width))
        try:
            return {
                r["k"]: r["global_id"]
                for r in assign_global_ids(frame, ["k"]).collect()
            }
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    assert ids(df, 3) == ids(df.repartition(11), 6)


def test_k_anonymity_audit_flags_small_classes(spark):
    rows = [("a", 1)] * 10 + [("b", 1)] * 3 + [("b", 2)] * 1
    df = spark.createDataFrame(rows, "q1 string, q2 long")
    got = {
        (r["q1"], r["q2"]): (r["class_size"], r["deficit"])
        for r in k_anonymity_audit(df, ["q1", "q2"], k=5).collect()
    }
    assert got == {("b", 1): (3, 2), ("b", 2): (1, 4)}


def test_dp_noisy_counts_laplace_shape(spark):
    # many groups -> empirical noise distribution must look Laplace(1/eps)
    df = spark.range(40000).select(
        (F.col("id") % 400).alias("g")
    )
    eps = 2.0
    got = dp_noisy_counts(df, ["g"], epsilon=eps, salt="s1").collect()
    noises = [r["noisy_count"] - 100.0 for r in got]
    assert len(noises) == 400
    mean = sum(noises) / len(noises)
    var = sum((x - mean) ** 2 for x in noises) / len(noises)
    # Laplace(b): mean 0, var 2b^2 = 0.5 at eps=2
    assert abs(mean) < 0.2
    assert abs(var - 0.5) / 0.5 < 0.5
    # deterministic in salt; different salt -> different draw
    again = dp_noisy_counts(df, ["g"], epsilon=eps, salt="s1").collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    other = dp_noisy_counts(df, ["g"], epsilon=eps, salt="s2").collect()
    assert sorted(map(tuple, got)) != sorted(map(tuple, other))
