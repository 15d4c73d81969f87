from __future__ import annotations

from taxi_trips_etl_spark.dataprep import substring
from taxi_trips_etl_spark.dataprep.substring import duplicated_spans


def _words(prefix, n, start=0):
    return " ".join(f"{prefix}{i}" for i in range(start, start + n))


def test_planted_span_found_with_exact_offsets(spark):
    shared = _words("s", 20)  # 20 shared tokens
    d1 = _words("a", 5) + " " + shared + " " + _words("b", 7)
    d2 = _words("c", 11) + " " + shared + " " + _words("d", 3)
    d3 = _words("e", 40)  # no overlap
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    got = duplicated_spans(df).collect()
    assert len(got) == 1
    r = got[0]
    # shared starts at token 6 in d1 (after 5 prefix words), 12 in d2
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert (r["a_start"], r["b_start"], r["span_tokens"]) == (6, 12, 20)


def test_two_disjoint_spans_stay_separate(spark):
    s1, s2 = _words("x", 15), _words("y", 15)
    d1 = s1 + " " + _words("p", 10) + " " + s2
    d2 = s2 + " " + _words("q", 12) + " " + s1
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    got = sorted(
        (r["a_start"], r["b_start"], r["span_tokens"])
        for r in duplicated_spans(df).collect()
    )
    # s1: d1 pos 1, d2 pos 28; s2: d1 pos 26, d2 pos 1 — both 15 tokens
    assert got == [(1, 28, 15), (26, 1, 15)]


def test_hot_window_cap_drops_boilerplate(spark, monkeypatch):
    monkeypatch.setattr(substring, "MIN_SPAN_LEN", 8)
    boiler = _words("h", 8)
    rows = [(i, boiler) for i in range(30)]  # 30 identical docs
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # every window hash has 30 postings > cap 20 -> no spans at all
    assert duplicated_spans(df).count() == 0
    # raising the cap reinstates them deterministically
    monkeypatch.setattr(substring, "MAX_POSTINGS", 1000)
    assert duplicated_spans(df).count() == 30 * 29 / 2


def test_min_len_threshold(spark, monkeypatch):
    shared = _words("s", 10)  # below min_len=12 but above window w=8
    d1 = shared + " " + _words("a", 6)
    d2 = shared + " " + _words("b", 6)
    df = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    assert duplicated_spans(df).count() == 0
    monkeypatch.setattr(substring, "MIN_SPAN_LEN", 10)
    got = duplicated_spans(df).collect()
    assert len(got) == 1 and got[0]["span_tokens"] == 10
