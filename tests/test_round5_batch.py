"""Round-5 batch operator pins: containment dedup, BPE apply, token
budgeting, curriculum interleave. Hand-computable fixtures pin the
semantics; oracle hash-parity is covered by tools/validate_oracles.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.dedup import ngram_containment_pairs


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_catches_doc_inside_doc(spark):
    # doc 0 is fully quoted inside doc 1 (plus a long unique tail), so
    # containment = 1.0 while jaccard = 8/26 ≈ 0.31 would miss it at
    # any usual threshold.
    inner = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    tail = " ".join(f"tail{i}" for i in range(20))
    d = _docs(spark, [(0, inner), (1, inner + " " + tail), (2, tail[::-1])])
    out = {
        (r["doc_id_a"], r["doc_id_b"]): r["containment"]
        for r in ngram_containment_pairs(d).collect()
    }
    assert out == {(0, 1): 1.0}


def test_containment_symmetric_pair_emitted_once(spark):
    d = _docs(spark, [(5, "a b c d e f"), (9, "a b c d e f")])
    rows = ngram_containment_pairs(d).collect()
    assert [(r["doc_id_a"], r["doc_id_b"]) for r in rows] == [(5, 9)]


def test_bpe_apply_encode_counts(spark, sf_dir, tmp_path):
    """Hand-check on a word the merge table fully collapses: 'table'
    → t a b l e → ta b l e → tab l e → tabl e → table (1 token);
    'slow' → 1 token; 'x' → 1 token; 'scan' → s c an (3: only the
    a+n merge applies)."""
    import os

    from taxi_trips_etl_spark.queries._round5 import q_bpe_apply_encode

    d = _docs(spark, [(1, "table slow x scan")])
    src = str(tmp_path / "docs")
    os.makedirs(src)
    d.write.parquet(f"{src}/documents.parquet")
    out = q_bpe_apply_encode(spark, src).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["n_words"], r["n_bpe_tokens"]) == (4, 1 + 1 + 1 + 3)


def test_domain_token_budgets_sum_to_budget(spark, sf_dir):
    from taxi_trips_etl_spark.queries._round5 import (
        _BUDGET,
        q_domain_token_budgets,
    )

    rows = q_domain_token_budgets(spark, sf_dir).collect()
    assert sum(r["alloc_tokens"] for r in rows) == _BUDGET
    # Hamilton guarantee: every allocation within 1 of the real quota.
    w = {r["source"]: (3 if int(r["source"][3:]) < 5
                       else 2 if int(r["source"][3:]) < 10 else 1)
         for r in rows}
    for r in rows:
        ideal = _BUDGET * w[r["source"]] / 35
        assert abs(r["alloc_tokens"] - ideal) < 1.0


def test_curriculum_interleave_round_robin(spark, sf_dir):
    from taxi_trips_etl_spark.queries._round5 import q_curriculum_interleave

    rows = q_curriculum_interleave(spark, sf_dir).orderBy(
        "curriculum_rank"
    ).collect()
    n = len(rows)
    assert n >= 100 and [r["curriculum_rank"] for r in rows] == list(
        range(1, n + 1)
    )
    # The first 10 positions cover all 10 deciles exactly once (round
    # robin), in decile order.
    assert [r["decile"] for r in rows[:10]] == list(range(1, 11))
    # Every doc appears exactly once.
    assert len({r["doc_id"] for r in rows}) == n
