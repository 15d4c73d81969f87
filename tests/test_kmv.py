from __future__ import annotations

from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep import kmv
from taxi_trips_etl_spark.dataprep.kmv import (
    kmv_pairwise_overlap,
    kmv_sketch,
)


def _synth(spark, n_sets=3, n_per=4000, overlap=1500):
    """n_sets sets over integers: set i = [i*step, i*step + n_per) with
    `overlap` shared tail between consecutive sets."""
    step = n_per - overlap
    rows = spark.range(n_sets * n_per).select(
        (F.col("id") / n_per).cast("long").alias("si"),
        (F.col("id") % n_per).alias("j"),
    )
    return rows.select(
        F.concat(F.lit("s"), F.col("si")).alias("event_type"),
        (F.col("si") * step + F.col("j")).alias("user_id"),
    )


def test_kmv_sketch_is_k_smallest_and_partitioning_invariant(spark, monkeypatch):
    monkeypatch.setattr(kmv, "KMV_K", 64)
    df = _synth(spark)
    sk1 = kmv_sketch(df)
    sk2 = kmv_sketch(df.repartition(13))
    a = sorted(map(tuple, sk1.collect()))
    b = sorted(map(tuple, sk2.collect()))
    assert a == b  # exact top-k survives any physical partitioning
    # per set: exactly k rows, and they are the k smallest hashes
    from collections import Counter

    counts = Counter(r[0] for r in a)
    assert set(counts.values()) == {64}


def test_kmv_overlap_tracks_exact_jaccard(spark):
    df = _synth(spark)
    got = {
        (r["set_a"], r["set_b"]): r
        for r in kmv_pairwise_overlap(df).collect()
    }
    # consecutive sets: |A∩B| = 1500, |A∪B| = 6500, J ≈ 0.2308
    for pair in [("s0", "s1"), ("s1", "s2")]:
        r = got[pair]
        assert abs(r["jaccard_est"] - 1500 / 6500) < 0.12
        assert abs(r["union_est"] - 6500) / 6500 < 0.25
        assert abs(r["inter_est"] - 1500) / 1500 < 0.55
    # non-consecutive: disjoint
    r = got[("s0", "s2")]
    assert r["rho"] == 0 and r["inter_est"] == 0.0


def test_kmv_small_set_estimate_is_exact(spark):
    df = _synth(spark, n_sets=2, n_per=100, overlap=30)
    ov = kmv_pairwise_overlap(df).collect()[0]
    assert ov["union_est"] == 170.0 and ov["inter_est"] == 30.0
