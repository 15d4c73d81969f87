"""PageRank over an edge list — the iterative-graph-algorithm shape.

Why it lives in dataprep: link-style importance scores are a standard
signal in web-corpus curation (e.g. harmonic-centrality / PageRank
filtering of Common Crawl page graphs feeding LLM pretraining sets), so
the engine ships the power-iteration skeleton as a first-class
operator next to connected components.

Determinism contract (what the DuckDB oracle replays): all arithmetic
is 64-bit integer fixed-point at 1e12 scale —

- ``TOTAL = 10**12``; every node starts at ``TOTAL // n_nodes``;
- each iteration a node emits ``rank // out_degree`` along every
  out-edge (integer division, positive operands);
- new rank = ``(15 * TOTAL) // (100 * n_nodes)
  + (85 * sum(incoming)) // 100``.

No doubles anywhere, so the result is independent of summation order,
partitioning, and engine — a float PageRank would hash-differently per
run and could never be oracle-verified. Dangling nodes (no out-edges)
simply emit nothing; total mass is not re-normalized (documented
variant, same in both engines).

Scale shape: ranks is one row per node; each iteration is one
equi-join ranks⋈edges on src (ranks side small → broadcast when it
fits) plus one groupBy(dst) with map-side partial sums. Lineage is
truncated every round via :func:`materialize` so 10+ rounds never blow
up planning. Below ``driver_edge_cap`` the deduped edge list
Arrow-collects and a pure-python loop runs the identical integer
recurrence (same routing rationale as
``components.connected_components_auto``: LSH/transition graphs are
tiny next to the corpus, and per-round Spark scheduling overhead
dwarfs the actual arithmetic); both paths are pytest-pinned equal.

One gate/pin rule for every loop here (pagerank, kcore, bfs, sssp):
the ``static_rounds`` gate. A join side whose row count the loop
already collected broadcasts while it is at most ``BROADCAST_CAP``
rows, and only such a round pins a shuffle width counted from its
state; an over-cap round is a static shuffle join at the session
width.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from taxi_trips_etl_spark.sources.localrel import local_rows

from taxi_trips_etl_spark.dataprep.materialize import (
    driver_rows,
    materialize,
    static_rounds,
)

TOTAL = 10**12
# Loop lengths the oracles unroll: pagerank iterations, bfs/sssp rounds.
ITERS = 10
ROUNDS = 10


def pagerank_distributed(e: DataFrame) -> DataFrame:
    """→ (node, rank_e12) after ``ITERS`` integer power iterations over
    ``e``, the deduped, self-loop-free, materialized (src, dst) edge
    list :func:`pagerank_auto` builds.

    Round batching (round 8): the recurrence consumes the previous
    ranks exactly ONCE per round (the contrib join; the nodes left
    join is against the static node list), so chaining up to 5 rounds
    per lazy checkpoint has no recompute blow-up — unlike BFS's relax
    (which reads its input twice and is capped at batch 2). Measured
    8.1s → 4.8s at sf0.1 for 10 rounds; batch 10 regressed (planning
    depth), so 5 is the pinned sweet spot.

    The ranks side broadcasts only while ``n_nodes`` (already counted
    once for the base term) passes the ``static_rounds`` gate — same
    executor-memory argument as bfs_hops' frontier gate: a web-scale
    node set must not ride a broadcast. Past the cap each round
    becomes a shuffle join keyed on node/src at the session width.
    """
    spark = e.sparkSession
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst")))
        .distinct()
        .transform(materialize, eager=False)
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        return local_rows(spark, [], "node long, rank_e12 long")
    base = (15 * TOTAL) // (100 * n_nodes)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    # (src, dst, d), static across rounds: filled here, under AQE and
    # the session width, not by the first round inside the loop scope.
    out = e.join(deg, "src").transform(materialize, eager=True)
    ranks = nodes.select("node", F.lit(TOTAL // n_nodes).alias("rank_e12"))
    done = 0
    # static_rounds (r14): the contrib join is explicitly gated
    # (broadcast under the cap) and the nodes left join keys two
    # checkpointed relations — no in-loop join relies on AQE's runtime
    # downgrade, so AQE only adds its job-per-exchange cadence here.
    # The batch fills turn EAGER inside the context: pagerank has no
    # convergence action, so without an eager fill the whole loop would
    # execute lazily under the caller's action OUTSIDE this scope.
    # Under the cap the width is counted from n_nodes (the per-round
    # exchanges carry map-side-partial-aggregated contrib sums and the
    # rank table, both ~n_nodes rows). Interleaved A/B at sf0.1 in
    # OPTIMIZATION_r14.md. Final plan still roots at the checkpoint.
    with static_rounds(spark) as gate:
        small = gate(n_nodes)
        while done < ITERS:
            step = min(5, ITERS - done)
            for _ in range(step):
                side = F.broadcast(ranks) if small else ranks
                insum = (
                    out.join(side, out["src"] == side["node"])
                    .select(
                        F.col("dst").alias("node"),
                        F.expr("rank_e12 div d").alias("contrib"),
                    )
                    .groupBy("node")
                    .agg(F.sum("contrib").alias("insum"))
                )
                ranks = (
                    nodes.join(insum, "node", "left")
                    .select(
                        "node",
                        (
                            F.lit(base)
                            + F.expr("85 * coalesce(insum, 0L) div 100")
                        ).alias("rank_e12"),
                    )
                )
            ranks = ranks.transform(materialize, eager=True)
            done += step
    return ranks.select("node", F.col("rank_e12").cast("long").alias("rank_e12"))


def pagerank_auto(
    edges: DataFrame,
    driver_edge_cap: int = 1_000_000,
) -> DataFrame:
    """Driver integer loop below ``driver_edge_cap`` distinct edges,
    :func:`pagerank_distributed` beyond it. Identical output by
    construction (same integer recurrence), pytest-pinned."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .transform(materialize, eager=True)
    )
    probe = driver_rows(e, driver_edge_cap)
    if probe is None:
        return pagerank_distributed(e)

    srcs = probe["src"].tolist()
    dsts = probe["dst"].tolist()
    nodes = sorted(set(srcs) | set(dsts))
    n = len(nodes)
    spark = edges.sparkSession
    if n == 0:
        return local_rows(spark, [], "node long, rank_e12 long")
    deg: dict = {}
    for s in srcs:
        deg[s] = deg.get(s, 0) + 1
    base = (15 * TOTAL) // (100 * n)
    rank = {v: TOTAL // n for v in nodes}
    for _ in range(ITERS):
        insum = {v: 0 for v in nodes}
        for s, d in zip(srcs, dsts):
            insum[d] += rank[s] // deg[s]
        rank = {v: base + (85 * insum[v]) // 100 for v in nodes}
    return local_rows(
        spark, [(v, rank[v]) for v in nodes], "node long, rank_e12 long"
    )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over the undirected simple graph
    ``edges`` induces — the local-clustering signal (spam/link-farm
    detection in web-graph curation; GraphX `triangleCount` parity).

    Algorithm: canonicalize each edge to (lo, hi) with lo < hi and
    dedup; enumerate each triangle exactly once as a < b < c via two
    equi-joins (e1=(a,b) ⋈ e2=(b,c) on b, ⋈ e3=(a,c) on (a, c));
    then credit each corner. The a<b<c constraint is the standard
    compact-forward enumeration — no triangle is produced 6×, so no
    post-hoc division, and both joins are hash equi-joins a DuckDB
    oracle replays verbatim.

    Scale shape: joins shuffle on single node keys; skew on hub nodes
    is the known cost of triangle listing (mitigate upstream by
    degree-capping the edge list, as the LSH paths cap hot buckets).
    The edge list is checkpointed once and reused by all three sides.
    → (node, n_triangles) for nodes in ≥1 triangle.
    """
    canon = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("lo"),
            F.greatest(F.col("src"), F.col("dst")).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
        .transform(materialize, eager=False)
    )
    e1 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    e2 = canon.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    e3 = canon.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    # One evaluation of the triangle joins: explode the corner array
    # instead of unioning three selects of `tris` (a union re-runs the
    # join pipeline once PER BRANCH — measured 3x the join work).
    corners = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return (
        corners.groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("node")
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 10,
) -> DataFrame:
    """Bounded-round k-core: iteratively peel nodes of degree < k from
    the undirected simple graph, ``rounds`` times → (node, degree)
    for the surviving subgraph (the standard dense-subgraph /
    spam-farm signal next to PageRank in web-corpus curation).

    Determinism contract (what the unrolled-CTE oracle replays): the
    graph is canonicalized (a<b, distinct) then symmetrized; each
    round keeps exactly the edges whose BOTH endpoints have current
    degree ≥ k; after ``rounds`` rounds the surviving edge set is a
    pure function of the input — peeling is monotone, so an early
    fixpoint exit returns the identical set the full unroll would.

    Scale shape: each round is one degree aggregate (map-side
    combinable) + two semi-joins of edges against the kept-node set,
    all keyed on node ids; lineage truncates per round via
    ``materialize`` and the fixpoint exit costs one count() on the
    already-materialized edge set. True cores converge in far fewer
    rounds than the node count suggests (each round removes every
    currently-underdegree node at once).
    """
    canon = (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("a"),
            F.greatest(F.col("src"), F.col("dst")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    # LAZY checkpoints throughout: the fixpoint count's own action
    # materializes each round's edge set, so a round costs one job,
    # not a checkpoint job plus a count job.
    live = canon.unionByName(
        canon.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).transform(materialize, eager=False)
    n_prev = live.count()
    # static_rounds (r14): the peeling rounds plan once and run as one
    # job each, under the two measured preconditions (see
    # materialize.static_rounds and the star loop): the counted gate on
    # the keep side — the blanket AQE-off A/B without it LOST
    # (2.5→5.5 s: the semi joins fell back to static sort-merge) — and
    # the counted in-loop width it pins, replacing AQE's coalescing.
    # |keep| ≤ |live|/k ≤ n_prev/k rows of one long, with n_prev the
    # EXACT count the fixpoint check already collected; the width is
    # counted from n_prev, the live edge set.
    with static_rounds(edges.sparkSession) as gate:
        for _ in range(rounds):
            if n_prev == 0:
                break
            deg = live.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
            keep = deg.filter(F.col("d") >= k).select("a")
            hint = gate(n_prev // max(k, 1), n_prev)
            keep_a = F.broadcast(keep) if hint else keep
            keep_b = keep.withColumnRenamed("a", "b")
            if hint:
                keep_b = F.broadcast(keep_b)
            live = (
                live.join(keep_a, "a", "left_semi")
                .join(keep_b, "b", "left_semi")
                .select("a", "b")
                .transform(materialize, eager=False)
            )
            n_now = live.count()
            if n_now == n_prev:
                break  # fixpoint: further rounds are identity
            n_prev = n_now
    return live.groupBy(F.col("a").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )


def bfs_hops(edges: DataFrame, source_node: int) -> DataFrame:
    """Bounded-round BFS from ``source_node`` over the directed (src,
    dst) edge list → (node, hops) for every node reachable within
    ``ROUNDS`` hops (min-hop label propagation — unit-weight SSSP).

    Determinism contract (what the unrolled-CTE oracle replays):
    dist_{r} = min(dist_{r-1}, 1 + dist_{r-1} of any in-neighbor) —
    a min over integers, independent of evaluation order and
    partitioning. Monotone (labels only decrease, the reached set
    only grows), so an early fixpoint exit equals the full unroll.

    Scale shape: per round one edges⋈dist equi-join on src (the dist
    side is reached-nodes-sized) + one min-groupBy; lineage truncates
    per round. The checkpointed dist side is a LogicalRDD without size
    stats, so the planner alone would shuffle-join it and re-exchange
    the edge relation every round. Each round relaxes once, with AQE
    off (``static_rounds``), and its input is the dist table whose
    EXACT row count the previous fixpoint check collected: the round
    broadcasts it while that count passes the ``static_rounds`` gate
    (4M rows × ~16 B ≈ 64 MiB) and is a static shuffle join at the
    session width over it, so no uncounted or over-cap frontier is
    ever broadcast. :func:`shortest_paths` runs the same loop with the
    edge weight for the unit step (Bellman-Ford).
    """
    # Materialize the edge relation ONCE: without this every round's
    # checkpoint job re-runs the whole upstream edge construction
    # (orders x lineitem join + window in the registry entry) — the
    # actual wall-clock driver, not the per-round relaxation.
    e = (
        edges.select("src", "dst")
        .distinct()
        .transform(materialize, eager=True)
    )
    return _relax_rounds(e, source_node, "hops", F.lit(1))


def shortest_paths(edges: DataFrame, source_node: int) -> DataFrame:
    """Bounded-round Bellman-Ford from ``source_node`` over a directed
    (src, dst, w) edge list (integer weights ≥ 0) → (node, dist) for
    nodes reachable within ``ROUNDS`` relaxations — :func:`bfs_hops`
    with the unit increment swapped for the edge weight, same
    determinism contract (integer min, order-independent, monotone ⇒
    fixpoint exit ≡ full unroll) and the same gated loop. After r
    rounds labels equal the true shortest distance over paths of ≤ r
    edges — the standard Bellman-Ford partial guarantee the oracle
    replays exactly. Parallel edges keep their cheapest weight.
    """
    e = (
        edges.select("src", "dst", F.col("w").cast("long").alias("w"))
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
        .transform(materialize, eager=True)  # once, not per round
    )
    return _relax_rounds(e, source_node, "dist", F.col("w"))


def _relax_rounds(
    e: DataFrame, source_node: int, label: str, step: Column
) -> DataFrame:
    """Up to ``ROUNDS`` min-relaxations of the (node, ``label``) table
    from ``source_node`` along the materialized edge list ``e``, each
    edge adding ``step`` (a column of ``e``) to its src's label.

    ONE relaxation per materialization under static_rounds (r14):
    every relax's input is then the exactly counted fixpoint aggregate,
    so every join is soundly gated and nothing relies on AQE's runtime
    replanning (two relaxes per checkpoint, the r8 choice under AQE,
    left the second one's input uncounted). The fixpoint agg's own
    action fills the lazy checkpoint: one job per round.
    """
    dist = local_rows(
        e.sparkSession, [(int(source_node), 0)], f"node long, {label} long"
    ).transform(materialize, eager=True)
    n_prev, sum_prev = 1, 0
    with static_rounds(e.sparkSession) as gate:
        for _ in range(ROUNDS):
            side = F.broadcast(dist) if gate(n_prev) else dist
            relaxed = (
                e.join(side, e["src"] == side["node"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col(label) + step).alias(label),
                )
                .unionByName(dist)
                .groupBy("node")
                .agg(F.min(label).cast("long").alias(label))
                .transform(materialize, eager=False)
            )
            agg = relaxed.agg(
                F.count(F.lit(1)).alias("n"), F.sum(label).alias("s")
            ).collect()[0]
            dist = relaxed
            if (agg["n"], agg["s"]) == (n_prev, sum_prev):
                break  # fixpoint: labels are monotone, no further change
            n_prev, sum_prev = agg["n"], agg["s"]
    return dist
