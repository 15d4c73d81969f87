"""Property-based tests for the round-6 batch 4-6 operators, checked
against independent pure-python references (hypothesis; one shared
Spark session, small drawn examples — see test_round5_properties)."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F  # noqa: F401


# ------------------------------------------------- unigram Viterbi DP
def _viterbi_ref(words: list[str], top_multi: int, max_piece: int):
    """Pure-python replay of unigram_tok's vocab + DP (same integer
    micro-nat scoring, same smaller-j tie-break)."""
    wc: dict[str, int] = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    subs: dict[str, int] = {}
    for w, n in wc.items():
        for s in range(len(w)):
            for ln in range(1, min(max_piece, len(w) - s) + 1):
                p = w[s : s + ln]
                subs[p] = subs.get(p, 0) + n
    singles = {p: c for p, c in subs.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in subs.items() if len(p) >= 2),
        key=lambda pc: (-pc[1], pc[0]),
    )[:top_multi]
    vocab = dict(singles)
    vocab.update(dict(multi))
    total = float(sum(vocab.values()))
    score = {
        p: math.floor(1e6 * math.log(c / total) + 0.5)
        for p, c in vocab.items()
    }
    out = {}
    for w, n in wc.items():
        L = len(w)
        best = [None] * (L + 1)
        back = [0] * (L + 1)
        best[0] = 0
        for i in range(1, L + 1):
            for j in range(max(0, i - max_piece), i):
                s = score.get(w[j:i])
                if s is None or best[j] is None:
                    continue
                cand = best[j] + s
                if best[i] is None or cand > best[i]:
                    best[i] = cand
                    back[i] = j
        pieces = []
        i = L
        while i > 0:
            pieces.append(w[back[i] : i])
            i = back[i]
        pieces.reverse()
        out[w] = (n, len(pieces), " ".join(pieces), best[L])
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=1,
        max_size=15,
    )
)
def test_viterbi_matches_pure_python_dp(spark, words):
    import pytest

    from taxi_trips_etl_spark.dataprep import unigram_tok
    from taxi_trips_etl_spark.dataprep.unigram_tok import (
        unigram_viterbi_segment,
    )
    from taxi_trips_etl_spark.sources.localrel import local_rows

    docs = local_rows(
        spark,
        [(0, " ".join(words), "en", "s", 1)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(unigram_tok, "TOP_MULTI", 5)
        got = {
            r.word: (r.word_n, r.n_pieces, r.segmentation, r.score_micro)
            for r in unigram_viterbi_segment(docs).collect()
        }
    assert got == _viterbi_ref(words, top_multi=5, max_piece=4)


# ------------------------------------------------- SemDeDup keeper rule
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-3, max_value=3),
            st.integers(min_value=-3, max_value=3),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_semdedup_single_cluster_matches_bruteforce(spark, coords):
    """With one cluster every vector is a cluster-mate: pruning must
    match the brute-force first-over-threshold-lower-id rule. A
    constant third coordinate keeps every norm positive."""
    import pytest

    from taxi_trips_etl_spark.dataprep import similarity
    from taxi_trips_etl_spark.dataprep.similarity import semdedup_prune
    from taxi_trips_etl_spark.sources.localrel import local_rows

    vecs = [[float(a), float(b), 1.0] for a, b in coords]
    thr = 990
    exp = {}
    for j in range(1, len(vecs)):
        for i in range(j):
            dot = sum(x * y for x, y in zip(vecs[i], vecs[j]))
            ni = math.sqrt(sum(x * x for x in vecs[i]))
            nj = math.sqrt(sum(x * x for x in vecs[j]))
            milli = math.floor(1000.0 * dot / (ni * nj) + 0.5)
            if milli >= thr:
                exp[j] = (i, milli)
                break
    df = local_rows(
        spark,
        [(i, v, 0) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>, label int",
    )
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(similarity, "SEMDEDUP_K", 1)
        mp.setattr(similarity, "SEMDEDUP_ITERATIONS", 1)
        got = {
            r.vec_id: (r.keeper_id, r.cos_milli)
            for r in semdedup_prune(df, threshold_milli=thr).collect()
        }
    assert got == exp


# ------------------------------------------------- two-stage distinct
@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),
            st.integers(min_value=0, max_value=6),
        ),
        min_size=1,
        max_size=30,
    )
)
def test_two_stage_distinct_matches_sets(spark, pairs):
    from taxi_trips_etl_spark.operators.skew import (
        two_stage_distinct_count,
    )
    from taxi_trips_etl_spark.sources.localrel import local_rows

    df = local_rows(
        spark, [(k, v) for k, v in pairs], "k long, user_id long"
    )
    got = {
        r.k: r.n_distinct
        for r in two_stage_distinct_count(df, ["k"]).collect()
    }
    exp: dict[int, set[int]] = {}
    for k, v in pairs:
        exp.setdefault(k, set()).add(v)
    assert got == {k: len(s) for k, s in exp.items()}
