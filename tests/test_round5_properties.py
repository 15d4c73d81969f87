"""Property-based tests for round-5 operators: random inputs checked
against independent pure-python references.

Spark-session-per-example is too slow for hypothesis, so each property
draws a BATCH of random cases, builds one DataFrame per case, and
compares — examples are kept small (the session fixture is reused, not
recreated)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.graph import kcore
from taxi_trips_etl_spark.dataprep import heavy_hitters
from taxi_trips_etl_spark.dataprep.heavy_hitters import mg_heavy_hitters
from taxi_trips_etl_spark.operators import intervals
from taxi_trips_etl_spark.operators.intervals import (
    merge_overlapping_intervals,
)


# ------------------------------------------------------------- intervals
def _merge_ref(starts: list[int], dur: int) -> list[tuple[int, int, int]]:
    """Pure-python island merge: sort, sweep with running max end."""
    islands = []
    for t in sorted(starts):
        e = t + dur
        if islands and t <= islands[-1][1]:
            s0, e0, n0 = islands[-1]
            islands[-1] = (s0, max(e0, e), n0 + 1)
        else:
            islands.append((t, e, 1))
    return islands


@settings(max_examples=12, deadline=None)
@given(
    st.lists(
        st.integers(min_value=0, max_value=2_000),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=1, max_value=300),
)
def test_interval_merge_matches_sweep_reference(spark, starts, dur):
    rows = [(1, i, t) for i, t in enumerate(starts)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts_us long"
    ).select(
        "user_id", "event_id", F.timestamp_micros("ts_us").alias("ts")
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(intervals, "DURATION_US", dur)
        got = sorted(
            (r["start_us"], r["end_us"], r["n_events"])
            for r in merge_overlapping_intervals(df).collect()
        )
    assert got == _merge_ref(starts, dur)


# ---------------------------------------------------------- heavy hitters
@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.sampled_from([f"w{i}" for i in range(15)]),
        min_size=1,
        max_size=400,
    ),
    st.integers(min_value=2, max_value=12),
)
def test_mg_heavy_hitters_matches_exact_reference(spark, words, k):
    from collections import Counter

    df = spark.createDataFrame([(w,) for w in words], "word string")
    expect = {
        (w, c) for w, c in Counter(words).items() if c * k > len(words)
    }
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(heavy_hitters, "MG_K", k)
        got = {
            (r["word"], r["cnt"])
            for r in mg_heavy_hitters(df.repartition(4)).collect()
        }
    assert got == expect


# ---------------------------------------------------------------- k-core
def _kcore_ref(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    changed = True
    while changed:
        changed = False
        for n in list(adj):
            if len(adj[n]) < k:
                for m in adj.pop(n):
                    adj[m].discard(n)
                changed = True
    return {n: len(ns) for n, ns in adj.items() if ns}


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),
            st.integers(min_value=1, max_value=12),
        ),
        min_size=1,
        max_size=40,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_kcore_matches_peeling_reference(spark, edges, k):
    df = spark.createDataFrame(edges, "src long, dst long")
    # rounds=30 >> 12 nodes: guaranteed past any possible fixpoint,
    # mirroring the reference's run-to-convergence loop.
    got = {
        r["node"]: r["degree"]
        for r in kcore(df, k=k, rounds=30).collect()
    }
    assert got == _kcore_ref(edges, k)
