"""Semantic pins for round-5 batch 3: k-core peeling and the
Bloom-filter semi-join reduction."""

from __future__ import annotations

from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.graph import kcore
from taxi_trips_etl_spark.operators.bloom import bloom_prefilter


def _core(spark, edges, k):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        (r["node"], r["degree"]) for r in kcore(df, k=k).collect()
    }


def test_kcore_keeps_clique_drops_pendants(spark):
    # triangle 1-2-3 plus pendant 4 hanging off 1: 2-core = triangle.
    edges = [(1, 2), (2, 3), (1, 3), (1, 4)]
    assert _core(spark, edges, 2) == {(1, 2), (2, 2), (3, 2)}


def test_kcore_cascade_empties_path_graph(spark):
    # path 1-2-3-4-5: every peel exposes new endpoints; 2-core empty.
    edges = [(1, 2), (2, 3), (3, 4), (4, 5)]
    assert _core(spark, edges, 2) == set()


def test_kcore_cascade_requires_multiple_rounds(spark):
    # 4-clique {1,2,3,4} with a tail 4-5-6: round 1 peels 6, round 2
    # peels 5, leaving the clique — a single-pass degree filter would
    # wrongly keep 5 (initial degree 2). k=2.
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
             (4, 5), (5, 6)]
    got = _core(spark, edges, 2)
    assert {n for n, _ in got} == {1, 2, 3, 4}
    assert all(d == 3 for _, d in got)


def test_kcore_ignores_direction_and_duplicate_edges(spark):
    # same triangle given as duplicated, reversed, self-looped input.
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1)]
    assert _core(spark, edges, 2) == {(1, 2), (2, 2), (3, 2)}


def test_bloom_prefilter_never_drops_a_match(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_suppkey", "l_extendedprice"
    )
    dim = (
        spark.read.parquet(f"{sf_dir}/supplier.parquet")
        .filter(F.col("s_acctbal") > 9000)
        .select("s_suppkey")
    )
    reduced = bloom_prefilter(li, dim)
    plain = li.join(dim, li["l_suppkey"] == dim["s_suppkey"])
    filtered = reduced.join(dim, F.col("l_suppkey") == dim["s_suppkey"])
    assert filtered.count() == plain.count()
    # and it actually filters: non-matching rows exist in this data,
    # and the reduction must remove a substantial share of them.
    n_fact, n_red = li.count(), reduced.count()
    n_match = plain.count()
    assert n_match <= n_red < n_fact


def test_bloom_prefilter_passes_everything_when_dim_covers_keys(spark):
    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "l_suppkey long, v long"
    )
    dim = spark.createDataFrame([(i,) for i in range(100)], "s_suppkey long")
    out = bloom_prefilter(fact, dim)
    assert out.count() == 100
    assert out.columns == ["l_suppkey", "v"]


def test_bpe_learn_oracle_replays_run_merges():
    """Cross-engine pin of the subtle greedy rule: for a merge (a, a)
    the fold pairs EVEN offsets of each maximal run ('aaaaa' -> aa aa
    a), which the SQL replay expresses as gaps-and-islands. Crafted
    corpus forces an (a, a) argmax in round 1 and a merged-token pair
    in a later round."""
    import duckdb
    import pandas as pd

    from taxi_trips_etl_spark.dataprep.bpe import learn_bpe_driver
    from taxi_trips_etl_spark.queries._round4 import _bpe_learn_oracle

    texts = ["aaaaa aaaa baab", "aaaaa cc cc", "aaaaa baab"]
    # driver reference on the word-frequency table
    freqs: dict[str, int] = {}
    for t in texts:
        for w in t.split():
            freqs[w] = freqs.get(w, 0) + 1
    expect = {
        (r, a, b, c)
        for r, a, b, c in learn_bpe_driver(sorted(freqs.items()))
    }
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"text": texts}))
    got = {tuple(r) for r in con.execute(_bpe_learn_oracle()).fetchall()}
    assert got == expect
    # and the run rule actually fired: round 1 must be (a, a)
    assert any(r == 1 and a == "a" and b == "a" for r, a, b, _ in got)


def test_streaming_outer_attribution_emits_watermark_nulls(spark, sf_dir):
    """The left-outer stream-stream join must emit BOTH matched pairs
    and watermark-proven NULL rows, and equal the batch LEFT JOIN."""
    from taxi_trips_etl_spark.queries import _events
    from taxi_trips_etl_spark.queries._round5c import (
        q_streaming_outer_attribution,
    )

    out = q_streaming_outer_attribution(spark, sf_dir).collect()
    nulls = [r for r in out if r["click_id"] is None]
    # sf0.001's 3-day slice has no 2h click→purchase coincidence, so
    # only the NULL path is populated here; the matched path is
    # covered by the oracle harness at sf0.01 (223 rows, mixed).
    assert nulls  # the watermark-driven emission actually flushed

    ev = _events(spark, sf_dir)
    cutoff = ev.agg(
        (F.min("ts") + F.expr("INTERVAL 3 DAYS")).alias("c")
    ).collect()[0]["c"]
    ev = ev.filter(F.col("ts") < F.lit(cutoff))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("pts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("cts"),
    )
    batch = p.join(
        c,
        (F.col("pu") == F.col("cu"))
        & (F.col("cts") <= F.col("pts"))
        & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 2 HOURS")),
        "left_outer",
    )
    expect = {
        (
            r["pu"],
            r["purchase_id"],
            r["click_id"],
        )
        for r in batch.collect()
    }
    got = {(r["user_id"], r["purchase_id"], r["click_id"]) for r in out}
    assert got == expect


def test_incremental_merge_is_split_independent(spark, sf_dir):
    """Folding history in as 1, 2, or 5 deltas must give the identical
    state — the associativity contract incremental maintenance rests
    on (the registry oracle checks one split; this checks several)."""
    from taxi_trips_etl_spark.operators.incremental import (
        aggregate_partials,
        merge_partials,
    )
    from taxi_trips_etl_spark.queries import _events

    ev = _events(spark, sf_dir).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    keys = ["event_type", "day"]
    oneshot = {
        (r["event_type"], str(r["day"]), r["n_events"], r["value_cents"])
        for r in aggregate_partials(ev, keys, F.col("cents")).collect()
    }
    for n_splits in (2, 5):
        parts = [
            aggregate_partials(
                ev.filter(F.pmod(F.dayofmonth("day"), n_splits) == i),
                keys,
                F.col("cents"),
            )
            for i in range(n_splits)
        ]
        state = parts[0]
        for d in parts[1:]:
            state = merge_partials(state, d, keys)
        got = {
            (r["event_type"], str(r["day"]), r["n_events"],
             r["value_cents"])
            for r in state.collect()
        }
        assert got == oneshot, f"n_splits={n_splits}"


def test_bfs_hops_chain_diamond_unreachable(spark):
    from taxi_trips_etl_spark.dataprep.graph import bfs_hops

    # directed: 1->2->3->4, diamond 1->5,5->3 (3 reachable at hop 2 two
    # ways -> min), island 9->10 unreachable from 1
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (5, 3), (9, 10)],
        "src long, dst long",
    )
    got = {
        (r["node"], r["hops"])
        for r in bfs_hops(edges, source_node=1).collect()
    }
    assert got == {(1, 0), (2, 1), (5, 1), (3, 2), (4, 3)}


def test_bfs_hops_respects_round_bound(spark):
    from taxi_trips_etl_spark.dataprep.graph import ROUNDS, bfs_hops

    # a chain ROUNDS + 4 hops long: the last four nodes lie past the bound
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, ROUNDS + 5)], "src long, dst long"
    )
    got = {
        (r["node"], r["hops"])
        for r in bfs_hops(chain, source_node=1).collect()
    }
    assert ROUNDS == 10
    assert got == {(i + 1, i) for i in range(ROUNDS + 1)}  # cut at ROUNDS hops


def test_pit_join_picks_version_valid_at_fact_time(spark):
    from taxi_trips_etl_spark.operators.scd2 import pit_join

    hist = spark.createDataFrame(
        [
            (1, "v1", "2020-01-01", "2021-01-01"),
            (1, "v2", "2021-01-01", None),
            (2, "only", "2020-01-01", None),
        ],
        "c_custkey long, seg string, valid_from string, valid_to string",
    ).select(
        "c_custkey",
        "seg",
        F.col("valid_from").cast("timestamp").alias("valid_from"),
        F.col("valid_to").cast("timestamp").alias("valid_to"),
    )
    fact = spark.createDataFrame(
        [
            (100, 1, "2020-06-15"),  # inside v1
            (101, 1, "2021-01-01"),  # boundary: half-open -> v2
            (102, 1, "2025-12-31"),  # open version
            (103, 2, "2019-01-01"),  # before any version -> no match
        ],
        "fid long, o_custkey long, ts string",
    ).select("fid", "o_custkey", F.col("ts").cast("timestamp").alias("o_ts"))
    got = {(r["fid"], r["seg"]) for r in pit_join(fact, hist).collect()}
    assert got == {(100, "v1"), (101, "v2"), (102, "v2")}


def test_snapshot_diff_classification_and_null_safety(spark):
    from taxi_trips_etl_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, "d", 4.0)],
        "c_custkey long, s string, v double",
    )
    new = spark.createDataFrame(
        [
            (1, "a", 1.0),      # unchanged -> absent from report
            (2, "b", 2.0),      # NULL -> value: changed (null-safe)
            (3, "CC", 3.0),     # changed
            (5, "e", 5.0),      # added
        ],                       # 4 removed
        "c_custkey long, s string, v double",
    )
    got = {
        (r["c_custkey"], r["change_type"])
        for r in snapshot_diff(old, new, attrs=["s", "v"]).collect()
    }
    assert got == {(2, "changed"), (3, "changed"), (4, "removed"),
                   (5, "added")}


def test_shortest_paths_prefers_cheap_detour(spark):
    from taxi_trips_etl_spark.dataprep.graph import shortest_paths

    # direct 1->3 costs 10; detour 1->2->3 costs 2+3=5
    edges = spark.createDataFrame(
        [(1, 3, 10), (1, 2, 2), (2, 3, 3), (3, 4, 1)],
        "src long, dst long, w long",
    )
    got = {
        (r["node"], r["dist"])
        for r in shortest_paths(edges, source_node=1).collect()
    }
    assert got == {(1, 0), (2, 2), (3, 5), (4, 6)}


def test_bfs_and_sssp_shuffle_frontier_path_matches_broadcast(
    spark, monkeypatch
):
    """The over-cap route (the one graphs whose reached set outgrows
    one executor take: no broadcast, session width) must relax to the
    identical labels — the gate changes the join strategy, never the
    fixpoint."""
    from taxi_trips_etl_spark.dataprep import materialize as M
    from taxi_trips_etl_spark.dataprep.graph import bfs_hops, shortest_paths

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 5), (5, 3), (4, 1), (9, 10)],
        "src long, dst long",
    )
    w_edges = spark.createDataFrame(
        [(1, 2, 5), (2, 3, 5), (1, 3, 100), (3, 4, 1)],
        "src long, dst long, w long",
    )
    for cap in (M.BROADCAST_CAP, 0):
        monkeypatch.setattr(M, "BROADCAST_CAP", cap)
        got = {
            (r["node"], r["hops"])
            for r in bfs_hops(edges, source_node=1).collect()
        }
        assert got == {(1, 0), (2, 1), (5, 1), (3, 2), (4, 3)}, cap
        got = {
            (r["node"], r["dist"])
            for r in shortest_paths(w_edges, source_node=1).collect()
        }
        assert got == {(1, 0), (2, 5), (3, 10), (4, 11)}, cap
