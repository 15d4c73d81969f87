"""Round-9 guards and contract pins.

1. ``MAX_PAIRS`` loud-fail output guard on the exact pair miners
   (ngram_jaccard_pairs / ngram_containment_pairs / fastss_pairs):
   the raise must trigger past the cap, and a generous cap must leave
   the output bit-identical to the unguarded run (VERDICT r8 #2).
2. The capped-prefix recall CONTRACT after the ADVICE-r8 fix (the
   positional conjunct is skipped under ``MAX_POSTING_SIZE``): the
   capped miner must return EXACTLY the qualifying pairs that share at
   least one surviving (non-hot) prefix gram — no additional
   positional-filter loss. The expected set is recomputed in plain
   Python from the docs (Spark supplies only the opaque xxhash64 value
   per gram string, i.e. the canonical order — never the miner's own
   candidate/verify logic).
3. The star-contraction loop rewrite (VERDICT r8 #3: per-round
   signature as the sole materializing action, no intermediate
   large-star distinct) must not change results: equality with a
   Python union-find on seeded random graphs spanning odd/even
   convergence round counts, including an already-converged
   star-forest input.
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep import dedup


def _random_docs(seed: int, n_docs: int = 40, vocab_n: int = 5):
    rng = random.Random(seed)
    vocab = [f"w{k}" for k in range(vocab_n)]
    return [
        (
            i,
            " ".join(
                rng.choice(vocab) for _ in range(rng.randint(3, 14))
            ),
        )
        for i in range(n_docs)
    ]


def _grams(text: str, n: int = 3) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


# ---------------------------------------------------------------------------
# 1. max_pairs loud-fail guard
# ---------------------------------------------------------------------------


def test_max_pairs_raises_on_quadratic_corpus(spark, monkeypatch):
    """200 identical docs → ~19 900 candidate pairs; a small cap must
    fail loudly (Spark wraps raise_error — match on the message)."""
    monkeypatch.setattr(dedup, "MAX_PAIRS", 50)
    docs = spark.createDataFrame(
        [(i, "aa bb cc dd ee ff gg") for i in range(200)],
        "doc_id long, text string",
    )
    with pytest.raises(Exception, match="ngram_jaccard_pairs.*MAX_PAIRS=50"):
        dedup.ngram_jaccard_pairs(docs, threshold=0.8).collect()
    with pytest.raises(
        Exception, match="ngram_containment_pairs.*MAX_PAIRS=50"
    ):
        dedup.ngram_containment_pairs(docs).collect()


def test_max_pairs_raises_fastss(spark, monkeypatch):
    """100 near-twin names (shared 1-deletion bucket) blow a tiny cap."""
    monkeypatch.setattr(dedup, "MAX_PAIRS", 10)
    df = spark.createDataFrame(
        [(i, f"Customer#{i:03d}x") for i in range(100)]
        + [(1000 + i, f"Customer#{i:03d}") for i in range(100)],
        "c_custkey long, c_name string",
    )
    with pytest.raises(Exception, match="fastss_pairs.*MAX_PAIRS=10"):
        dedup.fastss_pairs(df, max_dist=1).collect()


def test_max_pairs_noop_under_cap(spark, monkeypatch):
    """A generous cap must leave all three miners' output identical to
    the unguarded (MAX_PAIRS=None) run — the guard is pure plumbing."""
    docs = spark.createDataFrame(
        _random_docs(31), "doc_id long, text string"
    )
    names = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "xbd"), (4, "zzz")],
        "c_custkey long, c_name string",
    )

    def run():
        return (
            {
                (r.doc_id_a, r.doc_id_b, r.jaccard)
                for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
            },
            {
                (r.doc_id_a, r.doc_id_b, r.containment)
                for r in dedup.ngram_containment_pairs(docs).collect()
            },
            {
                (r.id_a, r.id_b, r.edit_dist)
                for r in dedup.fastss_pairs(names, max_dist=1).collect()
            },
        )

    base_j, base_c, base_f = run()
    monkeypatch.setattr(dedup, "MAX_PAIRS", 1_000_000)
    got_j, got_c, got_f = run()
    assert got_j == base_j and base_j
    assert got_c == base_c and base_c
    assert got_f == base_f == {(1, 2, 1), (2, 3, 1)}


# ---------------------------------------------------------------------------
# 2. capped-prefix recall contract (positional conjunct skipped)
# ---------------------------------------------------------------------------


def _hash_order(spark, texts, n=3):
    """gram string → xxhash64 long, via the engine primitive only."""
    all_grams = sorted({g for t in texts for g in _grams(t, n)})
    rows = spark.createDataFrame(
        [(g,) for g in all_grams], "gram string"
    ).select("gram", F.xxhash64("gram").alias("gh"))
    return {r.gram: r.gh for r in rows.collect()}


def _capped_expected(rows, gh, threshold, cap, kind):
    """Documented capped semantics, recomputed in plain Python:
    qualifying pairs that share ≥1 SURVIVING prefix gram, where a
    prefix gram survives iff ≤ cap docs index it in their prefix.
    No positional pruning (the ADVICE-r8 contract)."""
    doc_grams = {i: {gh[g] for g in _grams(t)} for i, t in rows}
    doc_sorted = {i: sorted(s) for i, s in doc_grams.items()}
    prefix = {}
    for i, s in doc_sorted.items():
        m = len(s)
        if m == 0:
            continue
        plen = m - math.ceil(m * threshold) + 1
        prefix[i] = set(s[:plen])
    psz: dict[int, int] = {}
    for p in prefix.values():
        for g in p:
            psz[g] = psz.get(g, 0) + 1
    surv = {i: {g for g in p if psz[g] <= cap} for i, p in prefix.items()}

    want = {}
    ids = sorted(prefix)
    for x, i in enumerate(ids):
        for j in ids[x + 1 :]:
            ga, gb = doc_grams[i], doc_grams[j]
            na, nb = len(ga), len(gb)
            inter = len(ga & gb)
            if kind == "jaccard":
                # size-ratio conjunct stays in capped mode
                if min(na, nb) < max(na, nb) * threshold:
                    continue
                cand = bool((surv[i] & prefix[j]) | (surv[j] & prefix[i]))
                val = round(inter / (na + nb - inter), 6)
            else:
                sm, lg = (i, j) if na <= nb else (j, i)
                cand = bool(surv[sm] & doc_grams[lg])
                if na == nb:
                    cand = bool(
                        (surv[i] & doc_grams[j]) | (surv[j] & doc_grams[i])
                    )
                val = round(inter / min(na, nb), 6)
            if cand and val >= threshold:
                want[(i, j)] = val
    return want


def test_capped_jaccard_matches_documented_contract(spark, monkeypatch):
    """MAX_POSTING_SIZE loses EXACTLY the pairs whose every shared
    prefix gram is hot — nothing more (the positional conjunct is off
    under the cap). Python-recomputed contract, engine-only hashes."""
    rows = _random_docs(17, n_docs=45, vocab_n=4)
    # a hot boilerplate block to force the cap to actually drop grams
    rows += [(500 + k, "w0 w1 w2 w3 w0 w1 w2") for k in range(12)]
    # rare-token near-twins whose prefix grams are cold (psz=2) — they
    # must survive any cap, keeping the contract check non-vacuous
    rows += [
        (600, "q1 q2 q3 q4 q5 q6"),
        (601, "q1 q2 q3 q4 q5 q7"),
        (610, "r1 r2 r3 r4"),
        (611, "r1 r2 r3 r4"),
    ]
    texts = [t for _, t in rows]
    gh = _hash_order(spark, texts)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t, cap in ((0.5, 3), (0.7, 5)):
        want = _capped_expected(rows, gh, t, cap, "jaccard")
        monkeypatch.setattr(dedup, "MAX_POSTING_SIZE", cap)
        got = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(df, threshold=t).collect()
        }
        assert got == want, f"capped jaccard contract broken at t={t}"
        assert want, f"vacuous at t={t}"


def test_capped_containment_matches_documented_contract(spark, monkeypatch):
    rows = _random_docs(23, n_docs=45, vocab_n=4)
    rows += [(500 + k, "w0 w1 w2 w3 w0 w1 w2") for k in range(12)]
    # rare-token doc-inside-doc pair (containment 1.0, cold grams)
    rows += [
        (600, "q1 q2 q3 q4 q5 q6 q7 q8"),
        (601, "q1 q2 q3 q4 q5"),
        (610, "r1 r2 r3 r4"),
        (611, "r1 r2 r3 r4"),
    ]
    texts = [t for _, t in rows]
    gh = _hash_order(spark, texts)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for t, cap in ((0.6, 3), (0.8, 5)):
        want = _capped_expected(rows, gh, t, cap, "containment")
        monkeypatch.setattr(dedup, "CONTAINMENT_THRESHOLD", t)
        monkeypatch.setattr(dedup, "MAX_POSTING_SIZE", cap)
        got = {
            (r.doc_id_a, r.doc_id_b): r.containment
            for r in dedup.ngram_containment_pairs(df).collect()
        }
        assert got == want, f"capped containment contract broken at t={t}"
        assert want, f"vacuous at t={t}"


# ---------------------------------------------------------------------------
# 3. star-contraction sync cadence
# ---------------------------------------------------------------------------


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_star_cadence_matches_union_find_random_graphs(spark):
    """The star-loop rewrite (per-round signature, no large-star
    distinct) must not change results on graphs whose convergence
    lands on odd AND even round counts: seeded random graphs with
    deep paths, cliques and singleton-adjacent pairs."""
    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    for seed, n_nodes, n_edges in ((1, 60, 40), (2, 80, 100), (3, 30, 12)):
        rng = random.Random(seed)
        edges = {
            tuple(sorted(rng.sample(range(n_nodes), 2)))
            for _ in range(n_edges)
        }
        # a long path forces multiple contraction rounds
        edges |= {(200 + i, 201 + i) for i in range(17)}
        want = _uf_components(edges)
        pairs = spark.createDataFrame(
            sorted(edges), "doc_id_a long, doc_id_b long"
        )
        got = {
            r.doc_id: r.component_id
            for r in connected_components_auto(pairs, driver_edge_cap=0).collect()
        }
        assert got == want, f"star mismatch at seed={seed}"


def test_star_cadence_converged_input(spark):
    """An input that is ALREADY a star forest (fixpoint in round 0)
    exercises the skipped-sync path's early exit."""
    from taxi_trips_etl_spark.dataprep.components import (
        connected_components_auto,
    )

    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (10, 11)], "doc_id_a long, doc_id_b long"
    )
    got = {
        r.doc_id: r.component_id
        for r in connected_components_auto(pairs, driver_edge_cap=0).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10}
