"""Round-6 additions:

- pq_exact: integer-exact PQ training/ADC — ADC ranking must broadly agree with exact
  L2 ranking on well-separated data, and the whole pipeline must be
  deterministic across invocations.
- pca_power.power_iteration_pca: deflated multi-component power
  iteration — components must be near-orthogonal and span the same
  subspace numpy's eigh finds on anisotropic data.
- hard_negative_topk (blocked-matmul rewrite): exactness vs a
  brute-force python reference on a small corpus.
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F


def _emb_df(spark, vecs, labels=None):
    rows = [
        (
            i,
            [float(x) for x in v],
            int(labels[i]) if labels is not None else i % 3,
        )
        for i, v in enumerate(vecs)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


# --- pq_exact ---------------------------------------------------------------


def _pq_shape(monkeypatch, **consts):
    """Shrink the PQ shape to a hand-sized one (PQ_* constants)."""
    from taxi_trips_etl_spark.dataprep import pq_exact

    for name, value in consts.items():
        monkeypatch.setattr(pq_exact, f"PQ_{name.upper()}", value)


def test_pq_replayable_deterministic(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep.pq_exact import pq_topk_replayable

    _pq_shape(monkeypatch, m=4, ksub=4, k=2, query_ids_below=3, train_iters=2)
    rng = np.random.RandomState(7)
    vecs = rng.randn(60, 16).astype(np.float32)
    df = _emb_df(spark, vecs)
    a = sorted(map(tuple, pq_topk_replayable(df).collect()))
    b = sorted(map(tuple, pq_topk_replayable(df).collect()))
    assert a == b and len(a) == 6  # 3 queries x k=2


def test_pq_replayable_finds_near_cluster(spark, monkeypatch):
    """Two tight, far-apart clusters: every query's PQ top-k must come
    from its own cluster — the coarse property ADC cannot miss."""
    from taxi_trips_etl_spark.dataprep.pq_exact import pq_topk_replayable

    _pq_shape(monkeypatch, m=4, ksub=8, query_ids_below=2)

    rng = np.random.RandomState(11)
    a = rng.randn(30, 16) * 0.05
    b = rng.randn(30, 16) * 0.05 + 10.0
    vecs = np.vstack([a, b]).astype(np.float32)
    df = _emb_df(spark, vecs)
    rows = pq_topk_replayable(df).collect()
    assert rows, "no output"
    for r in rows:
        assert r.neighbor_id < 30, f"query {r.query_id} left its cluster"


def test_pq_oracle_sql_matches_spark_plan(spark, tmp_path, monkeypatch):
    """End-to-end DuckDB replay on a private parquet (independent of
    the driver harness): byte-identical row sets."""
    import duckdb

    from taxi_trips_etl_spark.dataprep.pq_exact import (
        pq_oracle_sql,
        pq_topk_replayable,
    )

    _pq_shape(
        monkeypatch, dim=16, m=4, ksub=8, k=2, query_ids_below=4, train_iters=2
    )
    rng = np.random.RandomState(3)
    vecs = rng.randn(80, 16).astype(np.float32)
    df = _emb_df(spark, vecs)
    p = str(tmp_path / "emb.parquet")
    df.select("vec_id", "embedding", "label").coalesce(1).write.parquet(p)
    got = sorted(map(tuple, pq_topk_replayable(df).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM parquet_scan('{p}/*.parquet')"
    )
    sql = pq_oracle_sql()
    want = sorted(map(tuple, con.execute(sql).fetchall()))
    assert got == want


# --- deflated power-iteration PCA -------------------------------------------


def test_power_iteration_pca_matches_eigh_subspace(spark):
    """Anisotropic gaussian with well-separated spectrum: each deflated
    power-iteration direction must align (|cos| > 0.95) with the
    corresponding eigh eigenvector, and projections must correlate."""
    from taxi_trips_etl_spark.dataprep.pca_power import (
        _collect_cov_int,
        _power_iterate,
        _rayleigh_deflate,
        Q_VEC,
    )

    rng = np.random.RandomState(5)
    scales = np.array([8.0, 4.0, 2.0, 1.0] + [0.05] * 12)
    basis, _ = np.linalg.qr(rng.randn(16, 16))
    X = (rng.randn(400, 16) * scales) @ basis.T
    df = _emb_df(spark, X.astype(np.float32))
    _, dim, c_int = _collect_cov_int(df)
    cov = np.cov(np.array(X, dtype=np.float64).T, bias=True)
    evals, evecs = np.linalg.eigh(cov)
    top = evecs[:, np.argsort(evals)[::-1][:3]]
    c = c_int
    for comp in range(3):
        q = _power_iterate(c, iterations=30)
        v = np.array(q, dtype=np.float64) / Q_VEC
        v = v / np.linalg.norm(v)
        align = abs(float(v @ top[:, comp]))
        assert align > 0.95, f"component {comp}: |cos|={align:.3f}"
        c = _rayleigh_deflate(c, q)


def test_power_iteration_pca_components_orthogonal(spark):
    from taxi_trips_etl_spark.dataprep.pca_power import (
        _collect_cov_int,
        _power_iterate,
        _rayleigh_deflate,
        Q_VEC,
    )

    rng = np.random.RandomState(9)
    X = rng.randn(300, 16) * np.linspace(6, 0.5, 16)
    df = _emb_df(spark, X.astype(np.float32))
    _, _, c_int = _collect_cov_int(df)
    comps = []
    c = c_int
    for _ in range(4):
        q = _power_iterate(c, iterations=25)
        v = np.array(q, dtype=np.float64) / Q_VEC
        comps.append(v / np.linalg.norm(v))
        c = _rayleigh_deflate(c, q)
    for i in range(4):
        for j in range(i + 1, 4):
            dot = abs(float(comps[i] @ comps[j]))
            assert dot < 0.1, f"components {i},{j} not orthogonal: {dot:.3f}"


def test_power_iteration_pca_output_shape(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep import pca_power
    from taxi_trips_etl_spark.dataprep.pca_power import power_iteration_pca

    monkeypatch.setattr(pca_power, "N_COMPONENTS", 3)
    monkeypatch.setattr(pca_power, "ITERATIONS", 8)

    rng = np.random.RandomState(1)
    df = _emb_df(spark, rng.randn(50, 16).astype(np.float32))
    out = power_iteration_pca(df)
    rows = out.collect()
    assert len(rows) == 150
    assert {r.component_idx for r in rows} == {0, 1, 2}
    assert all(isinstance(r.value, float) for r in rows)


# --- hard_negative_topk (blocked matmul) ------------------------------------


def test_hard_negative_matches_bruteforce(spark):
    from taxi_trips_etl_spark.dataprep.similarity import hard_negative_topk

    rng = np.random.RandomState(2)
    vecs = rng.randn(40, 8).astype(np.float32)
    labels = [i % 4 for i in range(40)]
    df = _emb_df(spark, vecs, labels)
    got = {
        (r.query_id, r.hn_rank): (r.neighbor_id, r.cosine)
        for r in hard_negative_topk(df).collect()
    }
    V = vecs.astype(np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    S = V @ V.T
    for qi in range(40):
        cands = sorted(
            (
                (-S[qi, ci], ci)
                for ci in range(40)
                if labels[ci] != labels[qi]
            ),
        )[:2]
        for rank, (negs, ci) in enumerate(cands, start=1):
            nid, cos = got[(qi, rank)]
            assert nid == ci
            assert math.isclose(cos, round(-negs, 6), abs_tol=2e-6)


def test_hard_negative_fewer_than_k_foreign(spark, monkeypatch):
    """k larger than the foreign-label pool: emit what exists, ranked,
    never a row for a same-label neighbor."""
    from taxi_trips_etl_spark.dataprep import similarity
    from taxi_trips_etl_spark.dataprep.similarity import hard_negative_topk

    monkeypatch.setattr(similarity, "HARD_NEGATIVE_K", 10)

    rng = np.random.RandomState(4)
    vecs = rng.randn(5, 8).astype(np.float32)
    labels = [0, 0, 0, 0, 1]  # queries with label 1 see only 4 foreign
    df = _emb_df(spark, vecs, labels)
    rows = hard_negative_topk(df).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q[4]) == 4  # the lone label-1 vector: 4 foreign rows
    for q in (0, 1, 2, 3):
        assert len(by_q[q]) == 1  # only vec 4 is foreign to label 0


# --- round-6 operator batch --------------------------------------------------


def _docs6(spark, rows):
    return spark.createDataFrame(
        [(i, t, "en", f"src{i % 2}", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_boilerplate_removal_drops_all_occurrences(spark):
    """A chunk present in >= df_floor docs vanishes EVERYWHERE —
    including its first occurrence (contrast: chunk_dedup keeps one)."""
    from taxi_trips_etl_spark.dataprep.dedup import (
        boilerplate_chunk_removal,
    )

    rows = [(i, f"share this uniq{i} word{i}") for i in range(10)]
    out = {
        r.doc_id: r
        for r in boilerplate_chunk_removal(_docs6(spark, rows)).collect()
    }
    # "share this" appears in all 10 docs -> boilerplate everywhere;
    # "uniqN wordN" is unique per doc -> kept.
    for i in range(10):
        assert out[i].text_clean == f"uniq{i} word{i}"
        assert out[i].n_chunks_dropped == 1
        assert out[i].n_chunks_kept == 1


def test_boilerplate_removal_keeps_rare_chunks(spark):
    from taxi_trips_etl_spark.dataprep.dedup import (
        boilerplate_chunk_removal,
    )

    rows = [(0, "alpha beta gamma delta"), (1, "alpha beta gamma delta")]
    out = boilerplate_chunk_removal(_docs6(spark, rows)).collect()
    # df = 2 < floor 3: nothing dropped even though both docs repeat.
    assert all(r.n_chunks_dropped == 0 for r in out)


def test_kn_doc_xent_orders_quality(spark):
    """A document made of the corpus's dominant bigram scores LOWER
    cross-entropy than one of rare bigrams."""
    from taxi_trips_etl_spark.dataprep.lm import kneser_ney_doc_xent

    rows = [
        (0, "a b a b a b a b a b"),
        (1, "a b a b a b a b a b"),
        (2, "q r s t u v w x y z"),
    ]
    out = {
        r.doc_id: r.xent_nats
        for r in kneser_ney_doc_xent(_docs6(spark, rows)).collect()
    }
    assert out[0] == out[1] < out[2]


def test_range_partition_plan_equidepth(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep import layout
    from taxi_trips_etl_spark.dataprep.layout import range_partition_plan

    monkeypatch.setattr(layout, "RANGE_PARTITIONS", 8)
    df = spark.range(1000).select(
        (F.col("id") % 100).alias("l_orderkey"),
        F.col("id").alias("l_linenumber"),
    )
    plan = range_partition_plan(df).collect()
    assert [r.bucket for r in plan] == list(range(8))
    assert all(r.n_rows == 125 for r in plan)  # 1000/8 exact
    for a, b in zip(plan, plan[1:]):
        assert a.hi <= b.lo  # boundaries are monotone


def test_adaptive_salt_plan_heavy_tail_only(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep import layout
    from taxi_trips_etl_spark.dataprep.layout import adaptive_salt_plan

    monkeypatch.setattr(layout, "SALT_TARGET_ROWS", 1000)
    monkeypatch.setattr(layout, "MAX_SALT", 4)
    rows = [(1,)] * 5000 + [(2,)] * 100 + [(3,)] * 2001
    df = spark.createDataFrame(rows, "l_suppkey long")
    plan = {
        r.l_suppkey: r.salt_factor
        for r in adaptive_salt_plan(df).collect()
    }
    assert plan == {1: 4, 3: 3}  # ceil(5000/1000)=5 capped at 4; 2 absent


def test_hard_negative_ivf_subset_of_exact_candidates(spark, monkeypatch):
    """IVF hard negatives must (a) never pair same labels, (b) rank by
    cosine within the probed candidates, and (c) on well-separated
    clusters where probing covers the relevant cells, agree with the
    exact miner for most queries."""
    from taxi_trips_etl_spark.dataprep.similarity import (
        hard_negative_topk,
        hard_negative_topk_ivf,
    )

    rng = np.random.RandomState(21)
    vecs = rng.randn(60, 16).astype(np.float32)
    labels = [i % 3 for i in range(60)]
    df = _emb_df(spark, vecs, labels)
    from taxi_trips_etl_spark.dataprep import similarity

    monkeypatch.setattr(similarity, "HARD_NEGATIVE_CENTROIDS", 6)
    monkeypatch.setattr(similarity, "HARD_NEGATIVE_NPROBE", 3)
    ivf = hard_negative_topk_ivf(df).collect()
    lab = dict(enumerate(labels))
    assert ivf, "no output"
    for r in ivf:
        assert lab[r.query_id] != lab[r.neighbor_id]
    exact = {
        (r.query_id, r.hn_rank): r.neighbor_id
        for r in hard_negative_topk(df).collect()
    }
    agree = sum(
        1
        for r in ivf
        if exact.get((r.query_id, r.hn_rank)) == r.neighbor_id
    )
    assert agree >= len(ivf) * 0.5  # recall governed by nprobe


def test_stage_late_replay_layout(spark, tmp_path):
    """Three files, mtime-ordered: on-time days 1-2, day 3, then the
    day-1 re-delivery co-delivered with the heartbeat — the one-batch
    watermark-lag staging (see streaming/late_data.py module
    docstring; round 9 merged the final two trigger cycles)."""
    import os

    from taxi_trips_etl_spark.streaming.late_data import stage_late_replay

    rows = []
    import datetime

    day0 = datetime.datetime(2024, 1, 1)
    for d in range(3):
        for i in range(4):
            rows.append(
                (
                    d * 10 + i,
                    day0 + datetime.timedelta(days=d, hours=i),
                    i,
                    "click",
                    1.0,
                    None,
                )
            )
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    src = stage_late_replay(spark, ev, day0, str(tmp_path / "w"))
    files = sorted(
        os.listdir(src), key=lambda f: os.stat(f"{src}/{f}").st_mtime
    )
    assert files == [
        "a_ontime.parquet",
        "b_day3.parquet",
        "c_late_and_heartbeat.parquet",
    ]
    assert spark.read.parquet(f"{src}/a_ontime.parquet").count() == 8
    assert spark.read.parquet(f"{src}/b_day3.parquet").count() == 4
    final = spark.read.parquet(f"{src}/c_late_and_heartbeat.parquet")
    late = final.filter(F.col("user_id") >= 0)
    assert late.count() == 4  # exactly the day-1 rows, re-delivered
    assert late.agg(F.max("ts")).collect()[0][0] < day0 + datetime.timedelta(days=1)
    hb = final.filter(F.col("user_id") == -1).collect()
    assert len(hb) == 1  # the far-future heartbeat rides the same batch


def test_weighted_jaccard_separates_tf_profiles(spark):
    """Identical docs score 1000; a doc vs its truncated prefix scores
    by capped-multiset overlap, below the clone score."""
    from taxi_trips_etl_spark.dataprep.dedup import weighted_minhash_pairs

    rows = [
        (0, "a b a b a b a b"),
        (1, "a b a b a b a b"),   # clone of 0
        (2, "a b c d e f g h"),   # shares the 'a b' gram only
        *[(i, f"u{i} v{i} w{i} x{i}") for i in range(3, 30)],
    ]
    out = {
        (r.doc_id_a, r.doc_id_b): r.wjacc_milli
        for r in weighted_minhash_pairs(_docs6(spark, rows)).collect()
    }
    assert out[(0, 1)] == 1000
    if (0, 2) in out:  # only if LSH banded them together
        assert out[(0, 2)] < 500


def test_rouge_l_scores_edited_copy(spark):
    """An edited copy (insertions break long n-grams, order survives)
    must score high ROUGE-L; the LCS length must be exact."""
    from taxi_trips_etl_spark.dataprep.lcs import rouge_l_pairs

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    edited = "the quick brown fox leaps over the lazy dog near the old river bank today"
    rows = [
        (0, base),
        (1, edited),
        *[(i, f"z{i} y{i} x{i} w{i} v{i} u{i}") for i in range(2, 20)],
    ]
    out = rouge_l_pairs(_docs6(spark, rows), jaccard_threshold=0.2).collect()
    got = {(r.doc_id_a, r.doc_id_b): r for r in out}
    assert (0, 1) in got
    r = got[(0, 1)]
    # exact LCS: all 13 shared-order tokens ("jumps"->"leaps" breaks
    # one, "old" inserts one)
    a, b = base.split(), edited.split()
    prev = [0] * (len(b) + 1)
    for x in a:
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            cur[j] = prev[j - 1] + 1 if x == b[j - 1] else max(prev[j], cur[j - 1])
        prev = cur
    assert r.lcs_tokens == prev[len(b)]
    assert r.rouge_l_f_milli > 850


def test_sampled_range_partition_plan_balance(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep import layout
    from taxi_trips_etl_spark.dataprep.layout import (
        sampled_range_partition_plan,
    )

    monkeypatch.setattr(layout, "RANGE_PARTITIONS", 8)
    df = spark.range(20000).select(
        F.col("id").alias("l_orderkey"),
        (F.col("id") * 7 % 20000).alias("l_linenumber"),
    )
    plan = sampled_range_partition_plan(df).collect()
    assert [r.bucket for r in plan] == list(range(8))
    assert sum(r.n_rows for r in plan) == 20000
    for r in plan:  # hash sample of a uniform key: near-balanced
        assert 600 <= r.skew_milli <= 1500, (r.bucket, r.skew_milli)
    for a, b in zip(plan, plan[1:]):
        assert a.hi < b.lo  # integer keys: ranges strictly separate


def test_span_corruption_masks_valid_layout(spark):
    from taxi_trips_etl_spark.dataprep.corruption import (
        span_corruption_masks,
    )

    rows = [(i, " ".join(f"t{j}" for j in range(40 + i))) for i in range(6)]
    out = span_corruption_masks(_docs6(spark, rows)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, spans in by_doc.items():
        n = 40 + doc_id
        spans = sorted(spans, key=lambda r: r.start)
        covered = sum(r.length for r in spans)
        assert 0 < covered <= n * 0.25  # ~15% noise, segment-clamped
        for r in spans:
            assert 0 <= r.start and r.start + r.length <= n
            assert 1 <= r.length <= 4
        for a, b in zip(spans, spans[1:]):  # segment containment
            assert a.start + a.length <= b.start


def test_negative_sample_table_prefers_frequent(spark):
    from taxi_trips_etl_spark.dataprep.corruption import (
        negative_sample_table,
    )

    rows = [(i, "common " * 50 + f"rare{i}") for i in range(10)]
    out = negative_sample_table(
        _docs6(spark, rows)
    ).collect()
    assert len(out) == 500
    toks = [r.token for r in out]
    common_frac = toks.count("common") / 500
    # 'common' holds ~(500^0.75)/(500^0.75 + 10·1) ≈ 0.91 of the mass
    assert common_frac > 0.75
    # determinism
    again = negative_sample_table(_docs6(spark, rows)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """Second lifecycle must resume from the offset log, not reprocess
    file A — the combined counts equal the batch answer exactly."""
    import datetime
    import os
    import shutil

    from taxi_trips_etl_spark.streaming.resume import run_resumable_drain

    day0 = datetime.datetime(2024, 1, 1)
    rows = [
        (d * 10 + i, day0 + datetime.timedelta(days=d, hours=i), i,
         "click" if i % 2 else "view", 1.0, None)
        for d in range(4) for i in range(6)
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    work = str(tmp_path)
    src = f"{work}/src"
    os.makedirs(src)

    def stage(df, name):
        tmp = f"{work}/stage_{name}"
        df.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        shutil.move(f"{tmp}/{part}", f"{src}/{name}.parquet")

    mid = day0 + datetime.timedelta(days=2)
    stage(ev.filter(F.col("ts") < F.lit(mid)), "a")
    schema = spark.read.parquet(f"{src}/a.parquet").schema
    run_resumable_drain(spark, src, schema,
                        out_path=f"{work}/out", checkpoint_path=f"{work}/ck")
    stage(ev.filter(F.col("ts") >= F.lit(mid)), "b")
    t0 = os.stat(f"{src}/a.parquet").st_mtime
    os.utime(f"{src}/b.parquet", (t0 + 60, t0 + 60))
    run_resumable_drain(spark, src, schema,
                        out_path=f"{work}/out", checkpoint_path=f"{work}/ck")
    got = {
        (r.day, r.event_type): r.n_events
        for r in spark.read.parquet(f"{work}/out").collect()
    }
    want = {
        (r.day, r.event_type): r.n
        for r in ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
        ).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == want  # doubled day-1/2 counts = resume reprocessed A
    # the offset log shows both lifecycles committed batches
    assert len(os.listdir(f"{work}/ck/offsets")) >= 2


def test_pyds_object_listing_partitions_and_decoys(spark):
    from taxi_trips_etl_spark.sources.pyds import register_object_listing

    register_object_listing(spark)
    df = (
        spark.read.format("object_listing")
        .option("ds", "2026/03/05").option("n_files", "14")
        .option("n_partitions", "3").load()
    )
    rows = df.collect()
    ordinals = sorted(int(r.path.split("/")[-1].split(".")[0]) for r in rows)
    assert ordinals == [f for f in range(14) if f % 7 != 3]  # decoys out
    assert df.rdd.getNumPartitions() >= 3  # manifest scan parallelized
    assert all(r.path.startswith("2026/03/05/") for r in rows)
