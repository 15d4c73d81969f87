"""Connected components: cliques, chains, singletons, canonicalization."""

from __future__ import annotations

from taxi_trips_etl_spark.dataprep.components import (
    canonicalize_near_dups,
    connected_components,
)


def test_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3), clique {10,11,12}, pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12), (20, 21)],
        "doc_id_a long, doc_id_b long",
    )
    comp = {r.doc_id: r.component_id for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_components_long_path_converges(spark):
    # path 0-1-2-…-9: worst-case diameter for label propagation
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "doc_id_a long, doc_id_b long"
    )
    comp = {r.doc_id: r.component_id for r in connected_components(pairs).collect()}
    assert set(comp.values()) == {0}
    assert len(comp) == 10


def test_canonicalize_keeps_one_per_component(spark):
    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (4, 5)], "doc_id_a long, doc_id_b long"
    )
    kept = sorted(r.doc_id for r in canonicalize_near_dups(docs, pairs).collect())
    # component {0,1,2} → keep 0; {4,5} → keep 4; singleton 3 untouched.
    assert kept == [0, 3, 4]


def test_star_contraction_long_chain(spark):
    # 50-node path: diameter 49 sinks min-label at max_rounds=20, but
    # large-star/small-star contracts it in O(log n) rounds.
    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "doc_id_a long, doc_id_b long"
    )
    comp = {
        r.doc_id: r.component_id
        for r in connected_components_auto(pairs, driver_edge_cap=0).collect()
    }
    assert len(comp) == 50
    assert set(comp.values()) == {0}


def test_star_matches_min_label_on_mixed_graph(spark):
    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    # chain + clique + pair + a bridge between two cliques
    edges = (
        [(1, 2), (2, 3), (3, 4)]
        + [(10, 11), (10, 12), (11, 12)]
        + [(20, 21)]
        + [(30, 31), (31, 32), (40, 41), (41, 42), (32, 40)]
    )
    pairs = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    want = {
        r.doc_id: r.component_id
        for r in connected_components(pairs).collect()
    }
    got = {
        r.doc_id: r.component_id
        for r in connected_components_auto(pairs, driver_edge_cap=0).collect()
    }
    assert got == want


def test_min_label_nonconvergence_signals(spark):
    import pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(49)], "doc_id_a long, doc_id_b long"
    )
    with pytest.raises(RuntimeError, match="under-merged"):
        connected_components(pairs, max_rounds=3, strict=True)


def test_materialize_prefers_reliable_checkpoint(spark, tmp_path):
    """With a checkpoint dir set, materialize() must use the reliable
    (executor-loss-safe) path; without one, localCheckpoint."""
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    df = spark.range(10)
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    assert materialize(df, eager=True).count() == 10
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        reliable = materialize(df, eager=True)
        assert reliable.count() == 10
        # Reliable checkpoints write RDD files under the configured dir.
        assert list((tmp_path / "ckpt").rglob("*")), "dir must receive data"
    finally:
        # Unset so later tests keep the executor-local fast path.
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._gateway.jvm.scala.Option.apply(None)
        )
    assert sc.getCheckpointDir() is None


def test_auto_components_equals_star_on_random_graphs(spark):
    """Driver union-find and distributed star contraction must produce
    the identical (node → component-min) mapping."""
    import random

    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    rnd = random.Random(7)
    edges = [
        (rnd.randrange(60), rnd.randrange(60)) for _ in range(80)
    ] + [(100, 101), (101, 102), (102, 103)]  # a chain
    df = spark.createDataFrame(edges, "doc_id_a long, doc_id_b long")
    star = {
        (r["doc_id"], r["component_id"])
        for r in connected_components_auto(df, driver_edge_cap=0).collect()
    }
    auto = {
        (r["doc_id"], r["component_id"])
        for r in connected_components_auto(df).collect()
    }
    assert auto == star and auto


def test_auto_components_distributed_path_above_cap(spark):
    """Above the edge cap the auto variant must fall through to star
    contraction (same mapping, no driver collect of the full list)."""
    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    df = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 50, 2)],
        "doc_id_a long, doc_id_b long",
    )
    got = {
        (r["doc_id"], r["component_id"])
        for r in connected_components_auto(df, driver_edge_cap=5).collect()
    }
    want = {(i, i - (i % 2)) for i in range(50)}
    assert got == want


def test_auto_overcap_passes_canonical_frame_to_star(spark, monkeypatch):
    """CI pin (VERDICT r10 #3b, part 1): the over-cap branch must hand
    star its ALREADY canonical+materialized prologue output — the
    (a, b) frame star's loop starts from, so nothing re-derives it
    with a redundant full-|E| distinct shuffle."""
    import taxi_trips_etl_spark.dataprep.components as C

    seen = {}
    real = C.connected_components_star

    def spy(edges):
        seen["columns"] = edges.columns
        seen["plan"] = edges._jdf.queryExecution().executedPlan().toString()
        return real(edges)

    monkeypatch.setattr(C, "connected_components_star", spy)
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30, 2)],
        "doc_id_a long, doc_id_b long",
    )
    C.connected_components_auto(df, driver_edge_cap=3).collect()
    assert seen["columns"] == ["a", "b"]
    # the frame star receives reads the materialized prologue (a
    # checkpoint scan), not a fresh distinct over raw pairs
    assert "Scan ExistingRDD" in seen["plan"] or "Checkpoint" in seen["plan"], seen["plan"]
    assert "HashAggregate" not in seen["plan"], seen["plan"]


def test_overcap_routers_build_their_prologue_once(spark, sf_dir, monkeypatch):
    """Over the driver cap each router derives its input once and hands
    that frame to the distributed loop, which re-derives nothing: the
    pagerank edge list (one materialized (src, dst) distinct), the BPE
    word counts (one corpus-sized word_freqs) and the canonical
    component edges (one eager (a, b) materialization)."""
    from taxi_trips_etl_spark.dataprep import bpe, components, graph

    built = []

    def spy(module):
        real = module.materialize

        def counting(df, *, eager=False):
            built.append((tuple(df.columns), eager))
            return real(df, eager=eager)

        monkeypatch.setattr(module, "materialize", counting)

    for module in (graph, components, bpe):
        spy(module)
    real_wf = bpe.word_freqs

    def counting_wf(docs):
        built.append("word_freqs")
        return real_wf(docs)

    monkeypatch.setattr(bpe, "word_freqs", counting_wf)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (1, 2), (4, 4)], "src long, dst long"
    )
    assert graph.pagerank_auto(edges, driver_edge_cap=0).count() == 4
    assert [b for b in built if b[0] == ("src", "dst")] == [(("src", "dst"), True)]

    built.clear()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    assert bpe.learn_bpe_auto(docs, driver_vocab_cap=0).count() > 0
    assert built.count("word_freqs") == 1

    built.clear()
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 30, 2)] + [(9, 0), (3, 12), (0, 1)],
        "doc_id_a long, doc_id_b long",
    )
    components.connected_components_auto(pairs, driver_edge_cap=0).collect()
    assert built.count((("a", "b"), True)) == 1


def test_overcap_rounds_run_at_session_width(spark, monkeypatch):
    """Every gated loop pins a counted width only on rounds whose gate
    broadcasts. Under the cap these tiny graphs run their rounds at a
    width of 1; with BROADCAST_CAP at 0 every round runs at the session
    width, so an edge relation is never re-exchanged at a width counted
    from a smaller one. Seen at each in-loop materialize call, where
    the round's plan is built."""
    from taxi_trips_etl_spark.dataprep import components, graph
    from taxi_trips_etl_spark.dataprep import materialize as M

    conf = spark.conf
    session_width = conf.get("spark.sql.shuffle.partitions")
    assert session_width != "1"
    widths = []

    def spy(module):
        real = module.materialize

        def recording(df, *, eager=False):
            if conf.get("spark.sql.adaptive.enabled") == "false":
                widths.append(conf.get("spark.sql.shuffle.partitions"))
            return real(df, eager=eager)

        monkeypatch.setattr(module, "materialize", recording)

    spy(graph)
    spy(components)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 2)], "src long, dst long"
    )
    w_edges = edges.withColumn("w", edges["src"] + 1)
    pairs = edges.toDF("doc_id_a", "doc_id_b")

    def run_loops():
        widths.clear()
        graph.pagerank_auto(edges, driver_edge_cap=0).collect()
        graph.bfs_hops(edges, source_node=1).collect()
        graph.shortest_paths(w_edges, source_node=1).collect()
        graph.kcore(edges, k=2).collect()
        components.connected_components_auto(pairs, driver_edge_cap=0).collect()
        return set(widths)

    assert run_loops() == {"1"}
    monkeypatch.setattr(M, "BROADCAST_CAP", 0)
    assert run_loops() == {session_width}


def test_static_rounds_restores_session_confs(spark):
    """static_rounds (r14) must restore BOTH the AQE flag and the
    shuffle width on exit — the iterative loops pin a counted per-round
    width inside the scope, and a leak would contaminate every batch
    query planned afterwards on the same session (the width-pin hazard
    the streaming runbook already flags)."""
    from taxi_trips_etl_spark.dataprep.materialize import static_rounds

    conf = spark.conf
    aqe0 = conf.get("spark.sql.adaptive.enabled")
    w0 = conf.get("spark.sql.shuffle.partitions")
    with static_rounds(spark):
        assert conf.get("spark.sql.adaptive.enabled") == "false"
        conf.set("spark.sql.shuffle.partitions", "1")
    assert conf.get("spark.sql.adaptive.enabled") == aqe0
    assert conf.get("spark.sql.shuffle.partitions") == w0
    # ... including when the loop body raises.
    try:
        with static_rounds(spark):
            conf.set("spark.sql.shuffle.partitions", "2")
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert conf.get("spark.sql.adaptive.enabled") == aqe0
    assert conf.get("spark.sql.shuffle.partitions") == w0


def test_star_counted_gates_match_unhinted_result(spark, monkeypatch):
    """The r14 counted broadcast gates + in-loop width never change the
    star mapping: force the over-cap posture (hints withheld, width at
    session default) and compare against the hinted run."""
    from taxi_trips_etl_spark.dataprep import materialize as M
    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    rows = [(i, i + 1) for i in range(1, 40)] + [(100, 200), (200, 300)]
    pairs = spark.createDataFrame(rows, "doc_id_a long, doc_id_b long")
    hinted = connected_components_auto(pairs, driver_edge_cap=0).collect()
    monkeypatch.setattr(M, "BROADCAST_CAP", 0)
    unhinted = connected_components_auto(pairs, driver_edge_cap=0).collect()
    assert sorted(map(tuple, hinted)) == sorted(map(tuple, unhinted))
