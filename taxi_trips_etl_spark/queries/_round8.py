"""Round-8 batch: forced-distributed bench twins.

VERDICT r7 #4: the 100 TB story for the auto-routed operators
(pagerank, connected components, BPE learning) rested on pytest
equality between the driver fast path and the distributed fallback —
the fallbacks were never BENCH-exercised because sf0.1 graphs sit far
below the driver caps. These three entries force ``driver_*_cap=0``
so every round's bench times the distributed plan itself, and the
driver's oracle gate re-proves (not just pytest-asserts) that the
distributed path hash-matches the same unrolled-CTE replay the driver
path matches. Same inputs, same oracles, different execution route —
registered as separate names so both routes stay measured forever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from taxi_trips_etl_spark.dataprep import dedup
from taxi_trips_etl_spark.queries._mm_streaming import _COMPONENTS_SQL
from taxi_trips_etl_spark.queries._registry import _t, register
from taxi_trips_etl_spark.queries._round4 import (
    _bpe_learn_oracle,
    _pagerank_oracle,
    supplier_transition_edges,
)


@register("graph_pagerank_distributed", _pagerank_oracle())
def q_graph_pagerank_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """graph_pagerank's distributed route, forced (driver_edge_cap=0):
    10 integer power-iteration rounds, each one ranks⋈edges broadcast
    join + one groupBy(dst) partial-sum, lineage truncated per round
    (dataprep/graph.py:pagerank_distributed). Must hash-match the
    identical unrolled-CTE oracle the driver-loop entry matches —
    integer fixed-point makes
    the result independent of summation order, so the two routes are
    bit-equal by construction."""
    from taxi_trips_etl_spark.dataprep.graph import pagerank_auto

    return pagerank_auto(
        supplier_transition_edges(spark, sf_dir), driver_edge_cap=0
    )


@register("dedup_components_star", _COMPONENTS_SQL)
def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_components' distributed route, forced (driver_edge_cap=0):
    O(log n) star contraction
    (dataprep/components.py:connected_components_star) over the
    SimHash near-dup pair graph, vs the recursive-CTE transitive
    closure oracle. Component ids are component minima on every route,
    so driver union-find ≡ star contraction ≡ oracle."""
    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    pairs = dedup.simhash_near_duplicates(_t(spark, sf_dir, "documents"))
    return connected_components_auto(pairs, driver_edge_cap=0)


@register("bpe_learn_merges_distributed", _bpe_learn_oracle())
def q_bpe_learn_merges_distributed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """bpe_learn_merges' distributed route, forced (driver_vocab_cap=0):
    8 merge rounds where each round is a vocabulary-sized pair-count
    agg + argmax + rewrite (dataprep/bpe.py:learn_bpe_distributed) —
    the path a real 50k vocabulary over a web corpus would take. Hash-matches the same
    unrolled-CTE merge replay as the driver-loop entry."""
    from taxi_trips_etl_spark.dataprep.bpe import learn_bpe_auto

    return learn_bpe_auto(_t(spark, sf_dir, "documents"), driver_vocab_cap=0)
