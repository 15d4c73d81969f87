"""Connected components over a pair graph (min-label propagation).

The canonicalization complement to pairwise near-dup detection: pairs
(a,b) form an undirected graph; every doc in a component should map to
ONE canonical id (the component minimum), not just to its pair partner
— keep-first pair dropping over-deletes on duplicate cliques and
chains.

Algorithm: iterative min-label propagation. Each round every node takes
the min of its own label and its neighbors' labels; converged when no
label changes. Rounds = O(component diameter) — near-dup components
are shallow (dup clusters, not paths), so this converges in a handful
of rounds; star-contraction variants cut worst-case depth if ever
needed.

Scale mechanics: per round, one join of the (symmetrized) edge list to
the label table + one min-aggregate — both keyed shuffles. The label
table is materialized each round (``materialize`` — reliable checkpoint
when a checkpoint dir is set, executor-local otherwise): lineage otherwise
grows exponentially and re-executes every prior round (classic Spark
iterative-algorithm trap). Driver sees only the changed-row count.

The production route is :func:`connected_components_auto`: it builds
the canonical edge list once, probes it (``materialize.driver_rows``)
and union-finds it on the driver below ``driver_edge_cap`` or hands the
same frame to :func:`connected_components_star`. The star loop follows
the one ``static_rounds`` gate/pin rule: a counted side broadcasts while
it is at most ``BROADCAST_CAP`` rows, only such a round pins a counted
width, and an over-cap round runs at the session width.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import (
    driver_rows,
    materialize,
    static_rounds,
)

log = logging.getLogger(__name__)


def connected_components(
    pairs: DataFrame,
    max_rounds: int = 20,
    strict: bool = False,
) -> DataFrame:
    """→ (doc_id, component_id): component_id = min doc_id reachable.

    Only nodes that appear in ``pairs`` are returned; singletons are
    their own components trivially (left-join this output and coalesce
    to doc_id for a full mapping).

    Min-label propagation moves a label ONE hop per round, so rounds =
    O(component diameter): right for near-dup graphs (shallow dup
    cliques), wrong for path-shaped graphs. If the loop exhausts
    ``max_rounds`` with labels still changing the result is
    under-merged — that raises when ``strict=True`` and logs a warning
    otherwise; switch such workloads to
    :func:`connected_components_star` (O(log n) rounds regardless of
    diameter).
    """
    # Materialize the pair list ONCE before symmetrizing: the union
    # references it twice, and without a checkpoint both branches would
    # recompute the (potentially expensive — LSH candidate generation)
    # upstream lineage. Measured at sf0.1: 18.2s → ~11s for the
    # minhash→components query.
    base = pairs.select(
        F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")
    ).transform(materialize, eager=True)
    edges = (
        base.unionByName(
            base.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .transform(materialize, eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(materialize, eager=True)
    )
    for _ in range(max_rounds):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["node"])
            .groupBy("src")
            .agg(F.min("label").alias("nmin"))
        )
        # carry old_label through the checkpoint so convergence is a
        # filter over the already-materialized blocks — not a second
        # old-vs-new shuffle join per round
        cand = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["src"], "left")
            .select(
                "node",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
                ).alias("label"),
            )
            # eager=False: the changed-count below is the action that
            # fills the checkpoint — one job per round, not two (same
            # measured pattern as kcore/bfs/sssp/star).
            .transform(materialize, eager=False)
        )
        changed = cand.filter(F.col("label") != F.col("old_label")).count()
        labels = cand.select("node", "label")
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components: labels still changing after "
            f"{max_rounds} rounds ({changed} rows) — result is "
            f"under-merged; raise max_rounds or use "
            f"connected_components_star"
        )
        if strict:
            raise RuntimeError(msg)
        log.warning(msg)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


def connected_components_star(edges: DataFrame) -> DataFrame:
    """→ (doc_id, component_id) via alternating large-star/small-star
    contraction — O(log n) rounds regardless of component diameter.

    ``edges`` is the canonical edge list :func:`connected_components_auto`
    builds: columns (a, b), a < b, deduped and materialized. The loop
    needs only that postcondition, so it has no prologue of its own
    (re-deriving it was a second full-|E| distinct shuffle).

    The two-phase algorithm of Kiveris et al., "Connected Components in
    MapReduce and Beyond" (SoCC'14), in pure DataFrame ops:

    - large-star: every node u links each STRICTLY LARGER neighbor to
      the minimum of its closed neighborhood m(u) = min({u} ∪ Γ(u));
    - small-star: orienting each edge large→small, every node u links
      its smaller neighbors (and itself) to the smallest of them.

    Both phases strictly shrink a potential function and their fixpoint
    is a forest of stars whose centers are the component minima, so the
    final edge list IS the (node → component_id) mapping. Per phase:
    one groupBy-min + one equi-join, both keyed shuffles;
    ``materialize`` per phase caps iterative lineage exactly as in
    :func:`connected_components`. Convergence is detected by an
    (edge-count, sum-of-edge-hashes) signature going stable, checked
    every round: the signature aggregate IS the round's materializing
    action (the lazy checkpoints fill under it), so it adds zero extra
    jobs, and round 9 measured that the every-2-rounds cadence it
    briefly shipped DOUBLES the executed tail rounds near the fixpoint
    (detection needs two equal checks, each two rounds apart) — the
    saved driver syncs never repay two extra contraction rounds at any
    edge count where the rounds cost anything.

    The large-star output is deliberately NOT deduplicated: before
    dedup it holds exactly one row per input edge (each undirected
    edge survives the b>a filter once), so a distinct there is a full
    |E|-row shuffle that only shrinks the small-star phase's input by
    the round's contraction ratio — and both small-star operations are
    min-aggregates, which are multiplicity-insensitive. The small-star
    distinct restores the canonical edge set each round, so the
    per-round invariant (deduped, a<b) and the signature's soundness
    are unchanged. Measured at sf0.1 (bench #1 entry): 4.8s → 3.4s.

    Prefer this over min-label when components can be deep (transitive
    link graphs, reply chains); near-dup cliques converge in ~2 rounds
    either way.
    """
    # Derived from the already-checkpointed edge list and consumed
    # exactly once (the final mapping join), so it needs neither its
    # own checkpoint nor an upfront materialization job.
    all_nodes = (
        edges.select(F.col("a").alias("node"))
        .unionByName(edges.select(F.col("b").alias("node")))
        .distinct()
    )

    def signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.hash("a", "b").cast("long")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    # static_rounds (r14): each contraction round plans once and runs
    # as ONE job instead of AQE's job-per-exchange cadence, under two
    # preconditions measured in the interleaved A/B (see
    # materialize.static_rounds and OPTIMIZATION_r14.md):
    # - counted broadcast gates on both phase-min sides (|mins| =
    #   |V(sym)| ≤ 2·|E|, |smallest| ≤ |E|, with |E| = sig[0] the EXACT
    #   count the previous signature collected) — without them the
    #   phase joins fall back to static sort-merge and LOSE;
    # - a counted in-loop shuffle width (from |E|, pinned by the same
    #   gate) — AQE was coalescing the tiny per-round exchanges to 1-2
    #   partitions; a static session-default width re-runs every round
    #   stage at full fan-out for rows that fit one task. Over the cap
    #   a round runs at the session posture (no hint, session width).
    with static_rounds(edges.sparkSession) as gate:
        sig = signature(edges)
        for _ in range(30):
            hint = gate(2 * sig[0], sig[0])
            # large-star: symmetrize, per-u closed-neighborhood min,
            # link strictly larger neighbors to it.
            sym = edges.select("a", "b").unionByName(
                edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            mins = sym.groupBy("a").agg(
                F.least(F.min("b"), F.first("a")).alias("m")
            )
            # eager=False: the lazy checkpoint still deduplicates the
            # two downstream consumers (smallest + the join read the
            # SAME materialized blocks at the small-star action), but
            # skips the extra per-round job an eager checkpoint runs
            # just to fill them — one action per round instead of two.
            # no distinct: |large| ≤ |E| already (see docstring), and
            # the small-star min-aggregates don't care about
            # multiplicity — the checkpoint still dedups the TWO
            # consumers below onto one computation.
            large = (
                sym.join(F.broadcast(mins) if hint else mins, "a")
                .filter(F.col("b") > F.col("a"))
                .select(F.col("m").alias("a"), F.col("b").alias("b"))
                .filter(F.col("a") != F.col("b"))
                .transform(materialize, eager=False)
            )
            # small-star: edges oriented large→small; u and its smaller
            # neighbors all link to the smallest.
            directed = large.select(
                F.col("b").alias("u"), F.col("a").alias("v")
            )
            smallest = directed.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                directed.join(
                    F.broadcast(smallest) if hint else smallest, "u"
                )
                .select(F.col("m").alias("a"), F.col("v").alias("b"))
                .unionByName(
                    smallest.select(
                        F.col("m").alias("a"), F.col("u").alias("b")
                    )
                )
                .filter(F.col("a") != F.col("b"))
                .distinct()
                # eager=False: the signature collect right below is the
                # action that fills the checkpoint — one job per round,
                # not a checkpoint job plus the signature job (same
                # measured pattern as kcore/bfs/sssp).
                .transform(materialize, eager=False)
            )
            edges = small
            # per-round signature: the ONE action that fills both lazy
            # checkpoints (see docstring for why the every-2 cadence
            # lost).
            new_sig = signature(edges)
            if new_sig == sig:
                break
            sig = new_sig
    # Fixpoint edge list is (component_min, node) stars; nodes can also
    # BE a minimum — map them to themselves.
    star = edges.select(
        F.col("b").alias("node"), F.col("a").alias("root")
    )
    return (
        all_nodes.join(star, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("root"), F.col("node")).alias("component_id"),
        )
    )


def connected_components_auto(
    pairs: DataFrame,
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
    driver_edge_cap: int = 1_000_000,
) -> DataFrame:
    """→ (doc_id, component_id): driver union-find for small pair
    graphs, star contraction beyond ``driver_edge_cap`` edges.

    Why a driver path exists at all: banded-LSH candidate graphs are
    orders of magnitude smaller than the corpus (only colliding docs
    produce edges), and the distributed star contraction pays 2+ Spark
    jobs PER ROUND in scheduling overhead — on a small graph that is
    seconds of overhead for milliseconds of actual union-find work.
    Below the cap the deduped edge list Arrow-collects (bounded: cap ×
    16 bytes = 16 MB), union-finds with path compression, and the
    (node → component-min) mapping ships back as a DataFrame. Above
    the cap — the 100 TB posture, where the pair graph itself can be
    billions of edges — :func:`connected_components_star` runs
    unchanged. Both paths produce the identical mapping (component ids
    are component minima), pytest-pinned against each other.
    """
    edges_df = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .transform(materialize, eager=True)
    )
    probe = driver_rows(edges_df, driver_edge_cap)
    if probe is None:
        return connected_components_star(edges_df)

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(probe["a"].tolist(), probe["b"].tolist()):
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # Union by MIN root so roots stay component minima.
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    mapping = [(n, find(n)) for n in parent]
    spark = pairs.sparkSession
    schema = pairs.select(
        F.col(a_col).alias("doc_id"), F.col(a_col).alias("component_id")
    ).schema
    from taxi_trips_etl_spark.sources.localrel import local_rows

    return local_rows(spark, mapping, schema)


def canonicalize_near_dups(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_id_a",
    b_col: str = "doc_id_b",
) -> DataFrame:
    """Component-aware dedup: keep exactly one record (the component
    min) per near-dup component; untouched records pass through.

    Uses :func:`connected_components_auto`: driver union-find when the
    pair graph is small, star contraction (O(log n) rounds, depth-proof
    on chain-shaped graphs) beyond the cap — min-label's O(diameter)
    warning path can never under-merge here. Column names are
    parameters so the text (doc_id) and embedding (vec_id) paths share
    this implementation.
    """
    comp = connected_components_auto(pairs, a_col=a_col, b_col=b_col).select(
        F.col("doc_id").alias(id_col), "component_id"
    )
    keep_from_components = comp.filter(
        F.col(id_col) == F.col("component_id")
    ).select(id_col)
    in_graph = comp.select(id_col)
    untouched = docs.select(id_col).join(in_graph, id_col, "left_anti")
    keepers = untouched.unionByName(keep_from_components)
    return docs.join(keepers, id_col)
