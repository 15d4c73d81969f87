"""Round-5-batch operator tests: chunk dedup, weighted priority
sampling, entropy/feature-hash/bigram text ops, z-score
standardization, triangle counting, and the skyline window plan.

Strategy mirrors the suite: hand-computable fixtures pin semantics;
cross-path equalities pin the distributed plan against a brute-force
or closed-form twin. Oracle hash-parity is covered separately by
tools/validate_oracles.py / the driver gate.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep import dedup
from taxi_trips_etl_spark.dataprep import text as text_mod
from taxi_trips_etl_spark.dataprep.dedup import chunk_dedup
from taxi_trips_etl_spark.dataprep.graph import triangle_count
from taxi_trips_etl_spark.dataprep.sampling import weighted_priority_sample
from taxi_trips_etl_spark.dataprep.text import (
    bigram_lm_topk,
    feature_hash_counts,
    token_entropy,
)


# ---------------------------------------------------------------------------
# chunk_dedup
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_dedup_drops_later_duplicates(spark, monkeypatch):
    monkeypatch.setattr(dedup, "CHUNK_TOKENS", 3)
    # doc 0 and doc 1 share an identical first 3-token chunk; doc 1's
    # copy must vanish, its unique tail chunk must survive.
    d = _docs(
        spark,
        [(0, "a b c x y z"), (1, "a b c q r s")],
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup(d).collect()
    }
    assert out[0]["text_dedup"] == "a b c x y z"
    assert out[0]["n_chunks_dropped"] == 0
    assert out[1]["text_dedup"] == "q r s"
    assert out[1]["n_chunks_kept"] == 1
    assert out[1]["n_chunks_dropped"] == 1


def test_chunk_dedup_first_wins_within_doc(spark, monkeypatch):
    # The same chunk repeated INSIDE one document dedups too.
    monkeypatch.setattr(dedup, "CHUNK_TOKENS", 2)
    d = _docs(spark, [(7, "p q p q p q")])
    row = chunk_dedup(d).collect()[0]
    assert row["text_dedup"] == "p q"
    assert row["n_chunks_kept"] == 1
    assert row["n_chunks_dropped"] == 2


def test_chunk_dedup_tail_chunk_survives(spark, monkeypatch):
    monkeypatch.setattr(dedup, "CHUNK_TOKENS", 2)
    d = _docs(spark, [(3, "a b c d e")])  # 2-token chunks + tail 'e'
    row = chunk_dedup(d).collect()[0]
    assert row["text_dedup"] == "a b c d e"
    assert row["n_chunks_kept"] == 3


# ---------------------------------------------------------------------------
# weighted_priority_sample
# ---------------------------------------------------------------------------


def test_weighted_priority_sample_deterministic_and_sized(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = F.round(F.col("c_acctbal") * 100)
    a = weighted_priority_sample(cust, w).collect()
    b = weighted_priority_sample(cust.repartition(13), w).collect()
    assert len(a) == 100
    assert [r["c_custkey"] for r in a] == [r["c_custkey"] for r in b]


def test_weighted_priority_sample_prefers_heavy(spark):
    # One row weighing 10^6 x the rest is essentially always sampled.
    rows = [(i, 1.0) for i in range(200)] + [(999, 1_000_000.0)]
    df = spark.createDataFrame(rows, "c_custkey long, w double")
    got = weighted_priority_sample(df, F.round(F.col("w") * 100)).collect()
    assert 999 in {r["c_custkey"] for r in got}
    assert all(r["weight_cents"] > 0 for r in got)


# ---------------------------------------------------------------------------
# token_entropy
# ---------------------------------------------------------------------------


def test_token_entropy_uniform_and_constant(spark):
    d = spark.createDataFrame(
        [
            (0, "a b c d", "uni"),
            (1, "x x x x", "const"),
        ],
        "doc_id long, text string, source string",
    )
    out = {r["source"]: r for r in token_entropy(d).collect()}
    assert out["const"]["entropy_bits"] == 0.0
    assert abs(out["uni"]["entropy_bits"] - 2.0) < 1e-9  # log2(4)
    assert out["uni"]["n_distinct"] == 4


# ---------------------------------------------------------------------------
# feature_hash_counts
# ---------------------------------------------------------------------------


def test_feature_hash_counts_sum_and_range(spark):
    d = _docs(spark, [(0, "a b a"), (1, "c")])
    rows = feature_hash_counts(d).collect()
    assert all(0 <= r["bucket"] < 64 for r in rows)
    per_doc = {}
    for r in rows:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + r["n"]
    assert per_doc == {0: 3, 1: 1}  # counts conserve tokens


# ---------------------------------------------------------------------------
# bigram_lm_topk
# ---------------------------------------------------------------------------


def test_bigram_lm_probabilities(spark, monkeypatch):
    # 'a b' x3, 'a c' x1 -> P(b|a)=0.75, P(c|a)=0.25.
    d = _docs(spark, [(0, "a b a b a b a c")])
    rows = bigram_lm_topk(d).collect()
    pa = {r["w2"]: r for r in rows if r["w1"] == "a"}
    assert math.isclose(pa["b"]["cond_p"], 0.75)
    assert math.isclose(pa["c"]["cond_p"], 0.25)
    assert pa["b"]["head_n"] == 4
    # per-head ranks order by count desc: b before c survives any cut
    monkeypatch.setattr(text_mod, "BIGRAM_HEADS", 1)
    monkeypatch.setattr(text_mod, "BIGRAM_NEXT_PER_HEAD", 1)
    top1 = bigram_lm_topk(d).collect()
    assert [(r["w1"], r["w2"]) for r in top1] == [("a", "b")]


# ---------------------------------------------------------------------------
# triangle_count
# ---------------------------------------------------------------------------


def test_triangle_count_hand_graph(spark):
    # K4 on {1,2,3,4}: each node sits in C(3,2)=3 triangles.
    edges = [
        (a, b) for a in range(1, 5) for b in range(1, 5) if a < b
    ]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_count_direction_and_dup_insensitive(spark):
    # Duplicate edges, reversed edges, and self-loops don't change
    # the undirected simple graph: one triangle {1,2,3}.
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 1), (3, 4)],
        "src long, dst long",
    )
    got = {r["node"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# pareto frontier plan ≡ brute force (query-level twin of the oracle)
# ---------------------------------------------------------------------------


def test_pareto_frontier_matches_bruteforce(spark, sf_dir):
    from taxi_trips_etl_spark.queries import all_queries

    got = sorted(
        (r["c_nationkey"], r["c_custkey"])
        for r in all_queries()["pareto_frontier"](spark, sf_dir).collect()
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").collect()
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").collect()
    n_orders: dict = {}
    for o in orders:
        n_orders[o["o_custkey"]] = n_orders.get(o["o_custkey"], 0) + 1
    pts = [
        (
            c["c_nationkey"],
            c["c_custkey"],
            round(c["c_acctbal"] * 100),
            n_orders.get(c["c_custkey"], 0),
        )
        for c in cust
    ]
    keep = []
    for nk, ck, bal, no in pts:
        dominated = any(
            qnk == nk
            and qb >= bal
            and qn >= no
            and (qb > bal or qn > no)
            for qnk, _, qb, qn in pts
        )
        if not dominated:
            keep.append((nk, ck))
    assert got == sorted(keep)


# ---------------------------------------------------------------------------
# streaming: stream-static enrich + foreachBatch CDC upsert
# ---------------------------------------------------------------------------


def test_streaming_cdc_upsert_multibatch_equals_singlebatch(
    spark, sf_dir, tmp_path
):
    """Final state must be independent of micro-batch splitting: a
    4-file source processed one file per trigger equals the one-shot
    run over the original single file (commutative merge)."""
    from taxi_trips_etl_spark.queries import _events
    from taxi_trips_etl_spark.streaming.stream_upsert import (
        run_streaming_cdc_upsert,
    )

    src = str(tmp_path / "events_split")
    _events(spark, sf_dir).repartitionByRange(4, "event_id").write.parquet(
        src
    )
    multi = run_streaming_cdc_upsert(
        spark, src
    ).collect()
    single = run_streaming_cdc_upsert(
        spark, f"{sf_dir}/events.parquet"
    ).collect()
    key = lambda r: r["user_id"]  # noqa: E731
    assert sorted(multi, key=key) == sorted(single, key=key)
    assert len(multi) > 0


def test_streaming_static_enrich_matches_batch_join(spark, sf_dir):
    from taxi_trips_etl_spark.queries import _events
    from taxi_trips_etl_spark.streaming.static_enrich import (
        run_streaming_static_enrich,
    )
    from pyspark.sql import functions as F2

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    got = run_streaming_static_enrich(
        spark, f"{sf_dir}/events.parquet", cust, sink_table="se_test"
    ).collect()
    ev = _events(spark, sf_dir)
    exp = (
        ev.join(
            F2.broadcast(cust.select("c_custkey", "c_nationkey")),
            ev["user_id"] == F2.col("c_custkey"),
        )
        .groupBy(
            F2.date_format(F2.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            F2.col("c_nationkey").cast("long").alias("c_nationkey"),
            "event_type",
        )
        .agg(
            F2.count(F2.lit(1)).cast("long").alias("n_events"),
            F2.round(F2.sum("value"), 2).alias("total_value"),
        )
        .collect()
    )
    k = lambda r: (r["day"], r["c_nationkey"], r["event_type"])  # noqa: E731
    assert sorted(got, key=k) == sorted(exp, key=k)


# ---------------------------------------------------------------------------
# quarantine ∪ pass = input (reject side complements the normalize filter)
# ---------------------------------------------------------------------------


def test_quarantine_complements_normalize(spark, sf_dir):
    from taxi_trips_etl_spark.operators.normalize import normalize_trips
    from taxi_trips_etl_spark.queries import all_queries
    from taxi_trips_etl_spark.sources.taxi_testdata import (
        trips_from_lineitem,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    total = trips_from_lineitem(li).count()
    passed = normalize_trips(trips_from_lineitem(li)).count()
    rejected = all_queries()["constraint_quarantine"](
        spark, sf_dir
    ).count()
    assert passed + rejected == total
    assert rejected > 0  # the synthetic data plants violations


def test_classifier_margin_matches_feature_hash(spark, sf_dir):
    """Margin recomputed driver-side from the feature table must equal
    the registered query's integer margin (weights are a pure function
    of the bucket)."""
    from taxi_trips_etl_spark.dataprep.text import feature_hash_counts
    from taxi_trips_etl_spark.queries import all_queries

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = feature_hash_counts(docs).collect()
    expect: dict = {}
    for r in feats:
        w = (r["bucket"] * 37 + 11) % 21 - 10
        expect[r["doc_id"]] = expect.get(r["doc_id"], 0) + r["n"] * w
    got = {
        r["doc_id"]: r["margin_scaled"]
        for r in all_queries()["quality_classifier_score"](
            spark, sf_dir
        ).collect()
    }
    assert got == expect


# ---------------------------------------------------------------------------
# chunk_dedup property: no aligned chunk survives twice, tokens conserve
# ---------------------------------------------------------------------------


def test_chunk_dedup_uniqueness_property(spark, monkeypatch):
    from hypothesis import given, settings, strategies as st

    monkeypatch.setattr(dedup, "CHUNK_TOKENS", 3)

    words = st.sampled_from(["a", "b", "c", "d"])
    doc = st.lists(words, min_size=1, max_size=12).map(" ".join)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(doc, min_size=1, max_size=5))
    def check(texts):
        d = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string"
        )
        rows = chunk_dedup(d).collect()
        seen: set = set()
        total_kept = total_dropped = 0
        for r in sorted(rows, key=lambda r: r["doc_id"]):
            # every surviving aligned chunk is globally unique
            src = texts[r["doc_id"]].split()
            n_chunks = (len(src) + 2) // 3
            assert r["n_chunks_kept"] + r["n_chunks_dropped"] == n_chunks
            total_kept += r["n_chunks_kept"]
            total_dropped += r["n_chunks_dropped"]
            # kept text is a subsequence of the source chunks
            src_chunks = [
                " ".join(src[i * 3 : i * 3 + 3]) for i in range(n_chunks)
            ]
            # first-wins in (doc_id, chunk_idx) order: scanning docs in
            # id order, a chunk survives only at its first sighting —
            # including duplicates WITHIN this same document.
            kept = []
            for c in src_chunks:
                if c not in seen:
                    kept.append(c)
                    seen.add(c)
            assert r["text_dedup"] == " ".join(kept)
        assert total_dropped >= 0 and total_kept == len(seen)

    check()


def test_streaming_reader_raises_on_non_utc(spark, sf_dir):
    """The reader invariant: a non-UTC session raises instead of being
    silently flipped to UTC (which would shift every later timestamp
    rendering in the session)."""
    import pytest as _pytest

    from taxi_trips_etl_spark.streaming.state import event_stream

    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with _pytest.raises(ValueError, match="UTC"):
            event_stream(spark, f"{sf_dir}/events.parquet")
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)
    assert spark.conf.get("spark.sql.session.timeZone") == tz_before
