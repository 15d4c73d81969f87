"""Property tests for the round-5e batch: CMS, Kneser-Ney, sparse
TF-IDF cosine, skip-gram co-occurrence, truncation recall."""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


# --- Count-Min sketch -----------------------------------------------------


def test_cms_estimate_never_undercounts(spark, sf_dir):
    from taxi_trips_etl_spark.dataprep.cms import cms_token_estimates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = cms_token_estimates(docs).collect()
    assert len(rows) == 20
    assert all(r.cms_cnt >= r.exact_cnt for r in rows)


def test_cms_registers_bounded_and_mass_preserving(spark):
    from taxi_trips_etl_spark.dataprep.cms import (
        DEPTH,
        WIDTH,
        cms_registers,
    )

    docs = _docs(
        spark, [(i, "a b c a b a") for i in range(10)]
    ).select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    regs = cms_registers(docs).collect()
    assert len(regs) <= DEPTH * WIDTH
    assert all(0 <= r.col_idx < WIDTH for r in regs)
    # Every hash row holds the full stream mass (60 tokens x depth).
    total = sum(r.reg_cnt for r in regs)
    assert total == 60 * DEPTH


def test_cms_partials_merge_cellwise(spark):
    """Register tables built on two halves ADD to the whole-corpus
    table — the mergeability contract that makes the sketch a rollup."""
    from taxi_trips_etl_spark.dataprep.cms import cms_registers

    words = [(i, w) for i in range(40) for w in f"tok{i % 7} filler".split()]
    df = spark.createDataFrame(words, "doc_id long, word string")
    whole = {
        (r.row_idx, r.col_idx): r.reg_cnt
        for r in cms_registers(df).collect()
    }
    lo = cms_registers(df.filter("doc_id < 20")).collect()
    hi = cms_registers(df.filter("doc_id >= 20")).collect()
    merged: dict = {}
    for r in [*lo, *hi]:
        key = (r.row_idx, r.col_idx)
        merged[key] = merged.get(key, 0) + r.reg_cnt
    assert merged == whole


# --- Kneser-Ney -----------------------------------------------------------


def test_kneser_ney_matches_pure_python(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep import lm
    from taxi_trips_etl_spark.dataprep.lm import kneser_ney_bigram_topk

    monkeypatch.setattr(lm, "HEADS", 5)
    monkeypatch.setattr(lm, "NEXT_PER_HEAD", 2)

    corpus = [
        (0, "the cat sat on the mat"),
        (1, "the dog sat on the rug"),
        (2, "a cat and a dog"),
    ]
    got = {
        (r.head, r.next_word): (r.pair_n, r.p_kn)
        for r in kneser_ney_bigram_topk(_docs(spark, corpus)).collect()
    }

    # Pure-python reference with the same D = 3/4 integer form.
    bg: dict = {}
    for _, text in corpus:
        toks = text.lower().split()
        for w1, w2 in zip(toks, toks[1:]):
            bg[(w1, w2)] = bg.get((w1, w2), 0) + 1
    c1: dict = {}
    n1p: dict = {}
    npred: dict = {}
    for (w1, w2), c in bg.items():
        c1[w1] = c1.get(w1, 0) + c
        n1p[w1] = n1p.get(w1, 0) + 1
        npred[w2] = npred.get(w2, 0) + 1
    b_types = len(bg)
    heads = sorted(c1, key=lambda w: (-c1[w], w))[:5]
    expect = {}
    for h in heads:
        succ = [(w2, c) for (w1, w2), c in bg.items() if w1 == h]
        scored = sorted(
            succ,
            key=lambda wc: (
                -((4 * wc[1] - 3) * b_types + 3 * n1p[h] * npred[wc[0]]),
                wc[0],
            ),
        )[:2]
        for w2, c in scored:
            num = (4 * c - 3) * b_types + 3 * n1p[h] * npred[w2]
            expect[(h, w2)] = (c, num / (4 * c1[h] * b_types))
    assert got == expect
    # Smoothed probabilities are proper: in (0, 1].
    assert all(0.0 < p <= 1.0 for _, p in got.values())


def test_kneser_ney_full_distribution_sums_to_one(spark, monkeypatch):
    """KN is a proper distribution: when the head's OBSERVED successor
    set covers the whole vocabulary, the emitted (observed-bigram)
    probabilities must sum to exactly 1 — no continuation mass leaks
    to unseen successors because there are none.  Corpus chosen so the
    top head ``x`` is followed by every vocab word {x, y, z}:
    p(y|x) = 14/60, p(z|x) = 14/60, p(x|x) = 32/60."""
    from taxi_trips_etl_spark.dataprep import lm
    from taxi_trips_etl_spark.dataprep.lm import kneser_ney_bigram_topk

    monkeypatch.setattr(lm, "HEADS", 1)
    monkeypatch.setattr(lm, "NEXT_PER_HEAD", 100)
    rows = kneser_ney_bigram_topk(_docs(spark, [(0, "x y x z x x")])).collect()
    total = sum(r.p_kn for r in rows)
    assert math.isclose(total, 1.0, rel_tol=1e-12)
    assert {r.next_word for r in rows} == {"x", "y", "z"}


def test_kneser_ney_observed_mass_excludes_unseen_successors(spark, monkeypatch):
    """Corpus "x y x z x y": head ``x`` never precedes itself, so the
    unseen successor ``x`` keeps continuation mass λ(x)·P_cont(x) =
    (D·N1p(x)/c1(x)) · (Npred(x)/B) = (0.75·2/3)·(2/4) = 1/4 that the
    topk table (observed bigrams only) rightly never emits — the
    observed probabilities must sum to exactly 1 − 1/4 = 3/4."""
    from taxi_trips_etl_spark.dataprep import lm
    from taxi_trips_etl_spark.dataprep.lm import kneser_ney_bigram_topk

    monkeypatch.setattr(lm, "HEADS", 1)
    monkeypatch.setattr(lm, "NEXT_PER_HEAD", 100)
    rows = kneser_ney_bigram_topk(_docs(spark, [(0, "x y x z x y")])).collect()
    total = sum(r.p_kn for r in rows)
    assert math.isclose(total, 0.75, rel_tol=1e-12)
    assert {r.next_word for r in rows} == {"y", "z"}


# --- sparse TF-IDF cosine -------------------------------------------------


def test_tfidf_cosine_identical_docs_score_one(spark):
    from taxi_trips_etl_spark.dataprep.sparse_sim import tfidf_cosine_pairs

    docs = _docs(
        spark,
        [
            (0, "alpha beta gamma"),
            (1, "alpha beta gamma"),
            (2, "delta epsilon zeta"),
            *[(i, f"unique{i} filler{i}") for i in range(3, 40)],
        ],
    )
    rows = tfidf_cosine_pairs(docs).collect()
    pairs = {(r.doc_id_a, r.doc_id_b): r.cosine for r in rows}
    assert pytest.approx(pairs[(0, 1)], abs=1e-9) == 1.0
    assert (0, 2) not in pairs and (1, 2) not in pairs
    assert all(0.0 <= c <= 1.0 + 1e-12 for c in pairs.values())


def test_tfidf_df_prune_drops_stopwords(spark):
    from taxi_trips_etl_spark.dataprep.sparse_sim import tfidf_milli_vectors

    docs = _docs(spark, [(i, f"the word{i}") for i in range(20)])
    vec = tfidf_milli_vectors(docs)
    words = {r.word for r in vec.select("word").distinct().collect()}
    assert "the" not in words  # df = 20 > 2 = cap
    assert "word0" in words


def test_tfidf_absolute_df_cap_bounds_join_volume(spark, monkeypatch):
    """r12 decade-sweep closure: the RELATIVE cap grows with the
    corpus (at 10× docs it let previously pruned terms through at
    df≈3900 each — 4.5e9 candidate pairs on the sf1 dir), so the
    100 TB knob is the ABSOLUTE MAX_DF: a term shared by more than
    MAX_DF documents is stop-word-like regardless of corpus size.
    Effective cap = min(relative, absolute)."""
    from taxi_trips_etl_spark.dataprep import sparse_sim
    from taxi_trips_etl_spark.dataprep.sparse_sim import (
        tfidf_cosine_pairs,
        tfidf_milli_vectors,
    )

    # "shared" has df=10: inside the relative cap (0.5·20=10) but
    # above an absolute cap of 3 — only MAX_DF prunes it.
    docs = _docs(
        spark,
        [(i, f"shared word{i}") for i in range(10)]
        + [(i, f"solo{i} word{i}") for i in range(10, 20)],
    )
    monkeypatch.setattr(sparse_sim, "MAX_DF_FRAC", 0.5)
    monkeypatch.setattr(sparse_sim, "MIN_COSINE", 0.01)
    rel_only = tfidf_milli_vectors(docs).collect()
    monkeypatch.setattr(sparse_sim, "MAX_DF", 3)
    capped = tfidf_milli_vectors(docs).collect()
    assert "shared" in {r.word for r in rel_only}
    assert "shared" not in {r.word for r in capped}
    assert "word0" in {r.word for r in capped}  # df=1 terms survive both
    # pair path: with the shared term pruned, the all-vs-all bridge it
    # created disappears
    assert tfidf_cosine_pairs(docs).count() == 0


def test_tfidf_registered_entry_pins_absolute_cap():
    """r12 verdict #2: the canonical `tfidf_cosine_pairs` registry entry
    must EXERCISE the 100 TB-safe absolute cap (MAX_DF=500), not leave
    it as a documented-but-unused knob — both on the Spark side (the
    builder reads MAX_DF) and in the oracle SQL (the df prune is
    least(relative, 500), keeping the oracle a semantic twin at any
    corpus size, not just where the relative cap dominates)."""
    import taxi_trips_etl_spark.queries as _q  # noqa: F401  (registers)
    from taxi_trips_etl_spark.dataprep import sparse_sim
    from taxi_trips_etl_spark.queries._registry import _ORACLES

    assert sparse_sim.MAX_DF == 500
    sql = _ORACLES["tfidf_cosine_pairs"]
    assert "least(" in sql and "500" in sql, (
        "registered oracle must mirror the absolute cap"
    )


def test_tfidf_oracle_max_df_twin_and_sf_identity(monkeypatch):
    """The oracle's MAX_DF arm mirrors the Spark semantics (prunes the
    df=10 bridge term the relative cap admits), and at the driver test
    SFs the capped oracle is row-identical to an effectively uncapped
    one — floor(0.10·n_docs)=50 ≤ 500 at sf0.001/sf0.01 — which is
    exactly the hash-identical claim the registry change relies on."""
    import duckdb

    from taxi_trips_etl_spark.dataprep import sparse_sim
    from taxi_trips_etl_spark.dataprep.sparse_sim import (
        tfidf_cosine_oracle_sql,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    capped = con.sql(
        tfidf_cosine_oracle_sql() + " ORDER BY doc_id_a, doc_id_b"
    ).fetchall()
    monkeypatch.setattr(sparse_sim, "MAX_DF", 10**9)
    base = con.sql(
        tfidf_cosine_oracle_sql() + " ORDER BY doc_id_a, doc_id_b"
    ).fetchall()
    assert base == capped and len(base) > 0
    # Toy corpus where the caps DISAGREE: relative cap 0.5·20=10 admits
    # the df=10 "shared" bridge, absolute MAX_DF=3 prunes it — the
    # oracle must drop every pair, matching the Spark-side test above.
    con2 = duckdb.connect()
    con2.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, 'shared word{i}')" for i in range(10))
        + ", "
        + ", ".join(f"({i}, 'solo{i} word{i}')" for i in range(10, 20))
        + ") AS t(doc_id, text)"
    )
    monkeypatch.setattr(sparse_sim, "MAX_DF_FRAC", 0.5)
    monkeypatch.setattr(sparse_sim, "MIN_COSINE", 0.01)
    rel_pairs = con2.sql(tfidf_cosine_oracle_sql()).fetchall()
    monkeypatch.setattr(sparse_sim, "MAX_DF", 3)
    cap_pairs = con2.sql(tfidf_cosine_oracle_sql()).fetchall()
    assert len(rel_pairs) > 0 and len(cap_pairs) == 0


# --- skip-gram co-occurrence ----------------------------------------------


def test_skipgram_weights_and_offsets(spark):
    from taxi_trips_etl_spark.dataprep.collocations import (
        skipgram_cooccurrence,
    )

    rows = skipgram_cooccurrence(
        _docs(spark, [(0, "a b c d")])
    ).collect()
    got = {(r.w1, r.w2): (r.pair_n, r.w6_sum) for r in rows}
    assert got == {
        ("a", "b"): (1, 6),
        ("b", "c"): (1, 6),
        ("c", "d"): (1, 6),
        ("a", "c"): (1, 3),
        ("b", "d"): (1, 3),
        ("a", "d"): (1, 2),
    }


def test_skipgram_short_docs_no_pairs(spark):
    from taxi_trips_etl_spark.dataprep.collocations import (
        skipgram_cooccurrence,
    )

    assert (
        skipgram_cooccurrence(
            _docs(spark, [(0, "solo")])
        ).count()
        == 0
    )


# --- truncation recall ----------------------------------------------------


def test_truncation_recall_full_width_is_perfect(spark, sf_dir, monkeypatch):
    from taxi_trips_etl_spark.dataprep import similarity
    from taxi_trips_etl_spark.dataprep.similarity import truncation_recall

    monkeypatch.setattr(similarity, "TRUNC_DIMS", (64,))
    monkeypatch.setattr(similarity, "TRUNC_K", 5)
    monkeypatch.setattr(similarity, "TRUNC_QUERY_IDS_BELOW", 5)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = truncation_recall(emb).collect()
    assert len(rows) == 5
    assert all(r.hits == 5 and r.recall_at_k == 1.0 for r in rows)


def test_truncation_recall_monotone_dims(spark, sf_dir, monkeypatch):
    """Wider prefixes should not do worse on average — the Matryoshka
    premise, checked as a mean over probes (individual queries may
    flip)."""
    from taxi_trips_etl_spark.dataprep import similarity
    from taxi_trips_etl_spark.dataprep.similarity import truncation_recall

    monkeypatch.setattr(similarity, "TRUNC_DIMS", (8, 32))
    monkeypatch.setattr(similarity, "TRUNC_QUERY_IDS_BELOW", 10)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    rows = truncation_recall(emb).collect()
    mean = {}
    for d in (8, 32):
        rs = [r.recall_at_k for r in rows if r.dim == d]
        assert len(rs) == 10
        assert all(0.0 <= x <= 1.0 for x in rs)
        mean[d] = sum(rs) / len(rs)
    assert mean[32] >= mean[8]
