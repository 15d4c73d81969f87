"""Round-4 operator tests: BPE learning, PageRank, FastSS-2, int8
quantization, and the registry entries over scd2/upsert/salted-join.

Each iterative/auto-routed operator pins BOTH paths equal (driver fast
path ≡ distributed path) plus a hand-computable example, mirroring the
connected-components test strategy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.bpe import (
    N_MERGES,
    learn_bpe_auto,
    learn_bpe_driver,
)
from taxi_trips_etl_spark.dataprep.graph import ITERS, pagerank_auto
from taxi_trips_etl_spark.dataprep.quantize import quantize_int8
from taxi_trips_etl_spark.dataprep.dedup import fastss_pairs


# ---------------------------------------------------------------------------
# BPE
# ---------------------------------------------------------------------------


def test_bpe_hand_example():
    # Classic example: 'aaab' x5, 'aab' x2. Pair counts round 1:
    # (a,a): 5*2 + 2*1 = 12, (a,b): 7 -> merge (a,a).
    # Round 2 tokens: [aa,a,b] x5, [aa,b] x2 ->
    # (aa,a)=5, (aa,b)=2, (a,b)=5 -> tie 5: (a,b) vs (aa,a); ASC
    # tiebreak picks ('a','b') before ('aa','a').
    # Round 3: [aa,ab] x5, [aa,b] x2 -> (aa,ab)=5 beats (aa,b)=2.
    # Round 4: [aaab] x5, [aa,b] x2 -> (aa,b)=2; then no pair is left,
    # so the N_MERGES budget stops early.
    merges = learn_bpe_driver([("aaab", 5), ("aab", 2)])
    assert merges == [
        (1, "a", "a", 12),
        (2, "a", "b", 5),
        (3, "aa", "ab", 5),
        (4, "aa", "b", 2),
    ]


def test_bpe_greedy_left_to_right():
    # 'aaaa': greedy LTR merge of (a,a) yields [aa, aa] not [a,aa,a].
    merges = learn_bpe_driver([("aaaa", 1)])
    assert merges[0] == (1, "a", "a", 3)
    # round 2: tokens [aa, aa] -> (aa,aa)=1; then one token is left
    assert merges[1:] == [(2, "aa", "aa", 1)]


def test_bpe_distributed_equals_driver(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(60)
    dist = learn_bpe_auto(docs, driver_vocab_cap=0).collect()
    auto = learn_bpe_auto(docs).collect()
    assert sorted([tuple(r) for r in dist], key=lambda t: t[0]) == sorted(
        [tuple(r) for r in auto], key=lambda t: t[0]
    )
    assert len(auto) == N_MERGES


def test_bpe_empty_corpus(spark):
    docs = spark.createDataFrame([], "doc_id long, text string")
    assert learn_bpe_auto(docs).count() == 0


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _chain_edges(spark):
    # 1 -> 2 -> 3 -> 1 cycle plus dangling 4 (1 -> 4).
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4)], "src long, dst long"
    )


def test_pagerank_paths_agree(spark):
    e = _chain_edges(spark)
    d = {
        r["node"]: r["rank_e12"]
        for r in pagerank_auto(e, driver_edge_cap=0).collect()
    }
    a = {r["node"]: r["rank_e12"] for r in pagerank_auto(e).collect()}
    assert d == a and set(d) == {1, 2, 3, 4}


def test_pagerank_hand_recurrence(spark):
    # Replay the documented integer recurrence independently.
    TOTAL = 10**12
    n = 4
    base = (15 * TOTAL) // (100 * n)
    deg = {1: 2, 2: 1, 3: 1}
    edges = [(1, 2), (2, 3), (3, 1), (1, 4)]
    rank = {v: TOTAL // n for v in (1, 2, 3, 4)}
    for _ in range(10):
        insum = {v: 0 for v in rank}
        for s, d in edges:
            insum[d] += rank[s] // deg[s]
        rank = {v: base + (85 * insum[v]) // 100 for v in rank}
    got = {
        r["node"]: r["rank_e12"]
        for r in pagerank_auto(_chain_edges(spark)).collect()
    }
    assert ITERS == 10 and got == rank


def test_pagerank_cycle_symmetry(spark):
    # Pure 3-cycle: symmetric, every node keeps the initial mass.
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], "src long, dst long")
    ranks = {r["node"]: r["rank_e12"] for r in pagerank_auto(e).collect()}
    assert len(set(ranks.values())) == 1


# ---------------------------------------------------------------------------
# FastSS max_dist=2
# ---------------------------------------------------------------------------


def _lev(a: str, b: str) -> int:
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fastss2_matches_bruteforce(spark):
    # Collision-heavy corpus: short tokens with many ed<=2 pairs
    # including pure inserts, deletes, substitutions and mixes.
    words = [
        "grafting", "grafts", "graft", "craft", "crafts", "crafty",
        "draft", "drafts", "graph", "grape", "gripe", "stripe",
        "strike", "strife", "spike", "spine", "shine", "whine",
        "wine", "vine", "ten", "tent", "tenet", "tennet", "net",
    ]
    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "c_custkey long, c_name string"
    )
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in fastss_pairs(df, max_dist=2).collect()
    }
    want = set()
    for i in range(len(words)):
        for j in range(i + 1, len(words)):
            d = _lev(words[i], words[j])
            if d <= 2:
                want.add((i, j, d))
    assert got == want
    assert want  # non-vacuous
    assert any(d == 2 for *_, d in want)


def test_fastss_dist1_unchanged(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "abcd"), (4, "xyz")],
        "c_custkey long, c_name string",
    )
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in fastss_pairs(df, max_dist=1).collect()
    }
    assert got == {(1, 2, 1), (1, 3, 1), (2, 3, 1)}


def test_fastss_rejects_dist3(spark):
    df = spark.createDataFrame([(1, "abc")], "c_custkey long, c_name string")
    with pytest.raises(NotImplementedError):
        fastss_pairs(df, max_dist=3)


# ---------------------------------------------------------------------------
# int8 quantization
# ---------------------------------------------------------------------------


def test_quantize_codes_in_range_and_bounded_error(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    codes = quantize_int8(emb)
    stats = codes.agg(
        F.min("code").alias("lo"), F.max("code").alias("hi")
    ).collect()[0]
    assert -128 <= stats["lo"] and stats["hi"] <= 127


def test_quantize_constant_dimension_maps_to_zero(spark):
    emb = spark.createDataFrame(
        [(1, [1.5, 2.0]), (2, [1.5, 3.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {
        (r["vec_id"], r["dim_idx"]): r["code"]
        for r in quantize_int8(emb).collect()
    }
    assert rows[(1, 0)] == 0 and rows[(2, 0)] == 0  # constant dim
    assert rows[(1, 1)] == -128 and rows[(2, 1)] == 127  # full range


def test_fastss_duplicate_ids_raise(spark):
    """The pair key is the id alone, so a duplicated input id would
    silently change which name each pair compares — the operator must
    ERROR on contract violation, not pick a winner (round-8 change
    from the old min-name collapse, per round-7 advice)."""
    import pytest

    rows = [
        (1, "kitten"),
        (1, "zebra"),   # duplicate id: must raise at execution
        (2, "mitten"),
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    with pytest.raises(Exception, match="unique per row"):
        fastss_pairs(df, max_dist=1).collect()
    # The guard rides the id column itself (round-9, ADVICE r8).
    # Documentation-of-intent check, not a pruning proof (ADVICE r9):
    # the levenshtein filter inside fastss_pairs consumes the name
    # columns regardless of the caller's projection, so no external
    # plan can make Catalyst prune them — this assertion only records
    # that an ids-only downstream projection still hits the guard.
    with pytest.raises(Exception, match="unique per row"):
        fastss_pairs(df, max_dist=1).select("id_a").collect()
    # unique ids keep working
    ok = spark.createDataFrame(
        [(1, "kitten"), (2, "mitten")], "c_custkey long, c_name string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in fastss_pairs(ok, max_dist=1).collect()
    }
    assert got == {(1, 2): 1}
