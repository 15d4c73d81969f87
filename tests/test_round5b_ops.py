"""Semantic pins for the round-5 batch-2 operators.

The oracle harness proves Spark ≡ DuckDB on the testdata; these tests
pin the SEMANTICS on adversarial hand-built inputs the testdata may
not contain (contained intervals, exact-touch boundaries, sketch
trim paths, partition-layout independence).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep import collocations
from taxi_trips_etl_spark.dataprep.collocations import (
    pmi_collocations,
    vocab_top_p,
)
from taxi_trips_etl_spark.dataprep import heavy_hitters
from taxi_trips_etl_spark.dataprep.heavy_hitters import mg_heavy_hitters
from taxi_trips_etl_spark.operators.intervals import (
    merge_overlapping_intervals,
)


# ---------------------------------------------------------------- MG HH
def test_mg_heavy_hitters_exact_and_layout_independent(spark, monkeypatch):
    # 1000 'a', 400 'b', rest a long tail of singletons: with k=10 the
    # threshold is N/10; only 'a' and 'b' clear it.
    monkeypatch.setattr(heavy_hitters, "MG_K", 10)
    vals = ["a"] * 1000 + ["b"] * 400 + [f"t{i}" for i in range(600)]
    df = spark.createDataFrame([(v,) for v in vals], "word string")
    n = len(vals)
    expect = {("a", 1000), ("b", 400)}
    assert 1000 * 10 > n and 400 * 10 > n  # sanity: both are HH
    for parts in (1, 7, 32):
        got = {
            (r["word"], r["cnt"])
            for r in mg_heavy_hitters(df.repartition(parts)).collect()
        }
        assert got == expect, f"parts={parts}"


def test_mg_heavy_hitters_agrees_with_exact_groupby(spark, sf_dir):
    words = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(
            F.explode(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+")
            ).alias("word")
        )
        .filter(F.col("word") != "")
    )
    n = words.count()
    exact = {
        (r["word"], r["cnt"])
        for r in words.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .filter(F.col("cnt") * 30 > n)
        .collect()
    }
    got = {
        (r["word"], r["cnt"])
        for r in mg_heavy_hitters(words).collect()
    }
    assert got == exact and got  # non-vacuous


def test_mg_sketch_trims_below_capacity(spark, monkeypatch):
    # 50 distinct values, capacity 5: the sketch must trim, yet the
    # unique heavy hitter (600 of 1090 items) survives exactly.
    monkeypatch.setattr(heavy_hitters, "MG_K", 5)
    vals = ["hh"] * 600 + [f"x{i}" for i in range(49) for _ in range(10)]
    df = spark.createDataFrame([(v,) for v in vals], "word string")
    got = mg_heavy_hitters(df.repartition(3)).collect()
    assert {(r["word"], r["cnt"]) for r in got} == {("hh", 600)}


# ------------------------------------------------------------ intervals
def _islands(spark, rows):
    """Islands of 100 µs intervals (DURATION_US patched for the call)."""
    from taxi_trips_etl_spark.operators import intervals

    df = spark.createDataFrame(
        [(u, e, ts) for u, e, ts in rows],
        "user_id long, event_id long, ts_us long",
    ).select(
        "user_id", "event_id", F.timestamp_micros("ts_us").alias("ts")
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(intervals, "DURATION_US", 100)
        return sorted(
            (r["user_id"], r["start_us"], r["end_us"], r["n_events"])
            for r in merge_overlapping_intervals(df).collect()
        )


def test_intervals_merge_overlap_touch_and_containment(spark):
    rows = [
        # user 1: [0,100) [50,150) overlap -> one island [0,150)
        (1, 1, 0), (1, 2, 50),
        # user 1: [150,250) touches 150 -> STILL merges (half-open)
        (1, 3, 150),
        # user 1: gap -> new island [400,500)
        (1, 4, 400),
        # user 2: containment: [0,100) contains [10,110)? no — but a
        # long first interval [0,100) and [90,190), then [120, 220):
        # the running max matters: [0,100),[90,190) merge; [120,220)
        # starts at 120 < 190 -> same island even though the PREVIOUS
        # ROW'S end (190) not the adjacent row decides.
        (2, 1, 0), (2, 2, 90), (2, 3, 120),
        # user 2, strictly after: 300 > 220 -> new island
        (2, 4, 300),
    ]
    got = _islands(spark, rows)
    assert got == [
        (1, 0, 250, 3),
        (1, 400, 500, 1),
        (2, 0, 220, 3),
        (2, 300, 400, 1),
    ]


def test_intervals_running_max_handles_contained_interval(spark):
    # [0, 100); [10, 110); [105, 205): row 3 overlaps row 2's end, not
    # row 1's — a lag(end) implementation (instead of running max)
    # would split here if row ordering placed a shorter interval last.
    rows = [(1, 1, 0), (1, 2, 10), (1, 3, 105)]
    assert _islands(spark, rows) == [(1, 0, 205, 3)]


# ----------------------------------------------------------------- PMI
def test_pmi_known_counts(spark, monkeypatch):
    monkeypatch.setattr(collocations, "MIN_COUNT", 1)
    # corpus: "a b" x4, "a c" x1  -> bigrams: (a,b):4 (a,c):1, N=5
    # cl(a)=5; cr(b)=4, cr(c)=1
    # pmi(a,b) = ln(4*5/(5*4)) = 0
    docs = spark.createDataFrame(
        [("a b",)] * 4 + [("a c",)], "text string"
    )
    got = {
        (r["w1"], r["w2"]): (r["pair_cnt"], r["pmi"])
        for r in pmi_collocations(docs).collect()
    }
    assert got[("a", "b")] == (4, 0.0)
    assert got[("a", "c")][0] == 1
    assert got[("a", "c")][1] == round(math.log(1 * 5 / (5 * 1)), 6) == 0.0


def test_pmi_positive_association(spark, monkeypatch):
    monkeypatch.setattr(collocations, "MIN_COUNT", 1)
    # "x y" x5, "p q" x5: (x,y) pmi = ln(5*10/(5*5)) = ln 2 > 0
    docs = spark.createDataFrame(
        [("x y",)] * 5 + [("p q",)] * 5, "text string"
    )
    got = {
        (r["w1"], r["w2"]): r["pmi"]
        for r in pmi_collocations(docs).collect()
    }
    assert got[("x", "y")] == pytest.approx(round(math.log(2), 6))


def test_pmi_single_token_docs_excluded(spark, monkeypatch):
    monkeypatch.setattr(collocations, "MIN_COUNT", 1)
    docs = spark.createDataFrame(
        [("solo",), ("a b",), ("  ",)], "text string"
    )
    rows = pmi_collocations(docs).collect()
    assert {(r["w1"], r["w2"]) for r in rows} == {("a", "b")}


# --------------------------------------------------------------- top-p
def test_top_p_exact_boundary(spark):
    # counts: a:4 b:2 c:2 d:2, N=10, p=1/2 -> before-coverage must be
    # < 5: a (0<5) yes, b (4<5) yes, c (6<5) no, d no.
    text = " ".join(["a"] * 4 + ["b"] * 2 + ["c"] * 2 + ["d"] * 2)
    docs = spark.createDataFrame([(text,)], "text string")
    got = sorted(
        (r["word"], r["cnt"], r["rnk"], r["cum_cnt"])
        for r in vocab_top_p(docs).collect()
    )
    assert got == [("a", 4, 1, 4), ("b", 2, 2, 6)]


def test_top_p_tie_break_by_word(spark):
    # all counts equal: the rank (and hence the kept prefix) must tie-
    # break lexicographically, not arbitrarily.
    docs = spark.createDataFrame([("z y x w",)], "text string")
    got = [
        r["word"]
        for r in vocab_top_p(docs)
        .orderBy("rnk")
        .collect()
    ]
    assert got == ["w", "x"]


# ----------------------------------------------- streaming watermark dedup
def test_streaming_dedup_watermark_drops_full_redelivery(
    spark, sf_dir, tmp_path
):
    """Two micro-batches of the SAME file (transport redelivery): the
    second batch must contribute zero rows to the sink."""
    import shutil

    from taxi_trips_etl_spark.queries import _events
    from taxi_trips_etl_spark.streaming.dedup_watermark import (
        run_streaming_dedup_watermark,
    )

    _events(spark, sf_dir)  # pin UTC + nanosAsLong
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = tmp_path / "src"
    src.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", src / "a.parquet")
    shutil.copy(f"{sf_dir}/events.parquet", src / "b.parquet")
    run_streaming_dedup_watermark(
        spark,
        str(src),
        schema,
        out_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        keys=["event_id"],
        delay="60 days",
    )
    out = spark.read.parquet(str(tmp_path / "out"))
    n_src = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    assert out.count() == n_src
    assert out.select("event_id").distinct().count() == n_src
