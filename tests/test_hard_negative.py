from __future__ import annotations

from taxi_trips_etl_spark.dataprep import similarity
from taxi_trips_etl_spark.dataprep.similarity import hard_negative_topk


def test_hard_negatives_exclude_own_label(spark, monkeypatch):
    monkeypatch.setattr(similarity, "HARD_NEGATIVE_K", 1)
    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.99, 0.1], 0),   # closest to 1 but SAME label
        (3, [0.9, 0.4], 1),    # the true hard negative for 1
        (4, [-1.0, 0.0], 1),
        (5, [0.0, 1.0], 2),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    got = {
        (r["query_id"], r["hn_rank"]): r["neighbor_id"]
        for r in hard_negative_topk(df).collect()
    }
    assert got[(1, 1)] == 3  # not 2, despite 2 being more similar
    assert got[(3, 1)] in (1, 2)
    assert got[(5, 1)] == 3  # nearest foreign-label to [0,1]


def test_hard_negative_ranks_dense_and_deterministic(spark, monkeypatch):
    monkeypatch.setattr(similarity, "HARD_NEGATIVE_K", 3)
    rows = [(i, [float(i), 1.0], i % 2) for i in range(1, 9)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = hard_negative_topk(df).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["query_id"], []).append(r["hn_rank"])
    assert all(sorted(v) == [1, 2, 3] for v in per_q.values())
    again = hard_negative_topk(df).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
