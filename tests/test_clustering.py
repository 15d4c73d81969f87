"""DataFrame k-means: determinism, convergence, correctness on a
separable synthetic dataset."""

from __future__ import annotations

from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.clustering import cluster_summary, kmeans_assign


def _separable(spark):
    # Three tight blobs far apart in 4-d; ids 0-2 are one point of each
    # blob (so deterministic init starts near all three).
    rows = []
    blobs = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]
    vid = 0
    for round_ in range(10):
        for b, (bx, by) in enumerate(blobs):
            jitter = 0.01 * round_
            rows.append((vid, [bx + jitter, by - jitter, 1.0, -1.0]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_kmeans_recovers_blobs(spark):
    vecs = _separable(spark)
    out = kmeans_assign(vecs, k=3, iterations=5)
    rows = out.collect()
    assert len(rows) == 30
    # Every blob's members share a cluster, and the three differ.
    by_blob = {}
    for r in rows:
        by_blob.setdefault(r.vec_id % 3, set()).add(r.cluster_id)
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({next(iter(s)) for s in by_blob.values()}) == 3
    # Tight blobs → tiny inertia.
    total_inertia = sum(
        r.inertia for r in cluster_summary(out).collect()
    )
    assert total_inertia < 1.0


def test_kmeans_deterministic(spark):
    vecs = _separable(spark)
    a = sorted(map(tuple, kmeans_assign(vecs, k=3, iterations=3).collect()))
    b = sorted(map(tuple, kmeans_assign(vecs, k=3, iterations=3).collect()))
    assert a == b


def test_kmeans_on_driver_embeddings(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = kmeans_assign(emb, k=8, iterations=3)
    assert out.count() == emb.count()
    assert out.select("cluster_id").distinct().count() <= 8
    assert out.filter(F.col("sq_dist") < 0).count() == 0


def test_kmeans_sparse_offset_ids_seed_k_clusters(spark):
    # ids 1000, 1010, 1020, … — filter(id < k) would seed ZERO centroids;
    # sort-based seeding must still yield k clusters deterministically.
    import math

    from taxi_trips_etl_spark.dataprep.clustering import kmeans_assign

    rows = [
        (1000 + 10 * i, [float(i % 4), float((i * 7) % 5), float(i % 3)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = kmeans_assign(df, k=4, iterations=3).collect()
    assert len(out) == 40
    clusters = {r.cluster_id for r in out}
    assert clusters <= {0, 1, 2, 3} and len(clusters) >= 2
    for r in out:
        assert r.sq_dist >= 0 and math.isfinite(r.sq_dist)


def test_kmeans_budget_exhausted_assignment_matches_final_centroids(spark):
    # With iterations=1 the returned assignment must still be argmin
    # against the post-update centroids (the single mean step), not the
    # seeds: both seeds sit in cluster 0's blob, so every far point
    # must end nearer the updated centroid it belongs to, with sq_dist
    # consistent under re-assignment (every point's sq_dist is minimal
    # across clusters — spot-check via total inertia being finite and
    # assignment being a pure function of the final centroids).
    from taxi_trips_etl_spark.dataprep.clustering import kmeans_assign

    rows = [(0, [0.0, 0.0]), (1, [1.0, 0.0]),
            (10, [100.0, 0.0]), (11, [101.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.cluster_id, r.sq_dist) for r in
           kmeans_assign(df, k=2, iterations=1).collect()}
    # seeds = vec 0 and vec 1. After one mean step c0≈{0}, c1≈{1,10,11}
    # mean ≈ (67.3,0); final assignment vs those centroids puts 0 and 1
    # in cluster 0, the far pair in cluster 1.
    assert out[10][0] == out[11][0]
    assert out[0][0] == out[1][0]
    assert out[0][0] != out[10][0]


def test_pq_topk_finds_cluster_neighbors(spark, monkeypatch):
    """On clustered data PQ must rank same-cluster vectors on top.
    (The synthetic embeddings table is near-uniform random — there even
    exact search finds neighbors barely closer than random points, so
    recall is tested on data with actual neighborhood structure.)"""
    import numpy as np

    from taxi_trips_etl_spark.dataprep import pq_exact
    from taxi_trips_etl_spark.dataprep.pq_exact import pq_topk_replayable

    rng = np.random.RandomState(7)
    centers = rng.randn(4, 64) * 5
    rows = []
    for i in range(200):
        c = i % 4
        rows.append((i, (centers[c] + rng.randn(64) * 0.1).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(pq_exact, "PQ_QUERY_IDS_BELOW", 4)
    out = pq_topk_replayable(emb)
    by_q = {}
    for r in out.collect():
        assert r["query_id"] != r["neighbor_id"]
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    assert set(by_q) == {0, 1, 2, 3}
    for q, neighbors in by_q.items():
        # every retrieved neighbor belongs to the query's cluster
        assert all(n % 4 == q % 4 for n in neighbors), (q, neighbors)


def test_pq_adc_tracks_true_distance(spark, sf_dir, monkeypatch):
    """On the (unstructured) embeddings table the ADC approximation
    must still correlate with true squared L2 — the guarantee PQ gives
    when cluster structure is absent."""
    import numpy as np

    from taxi_trips_etl_spark.dataprep import pq_exact
    from taxi_trips_etl_spark.dataprep.pq_exact import pq_topk_replayable

    monkeypatch.setattr(pq_exact, "PQ_K", 499)
    monkeypatch.setattr(pq_exact, "PQ_QUERY_IDS_BELOW", 1)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = pq_topk_replayable(emb).collect()
    data = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    qv = data[0]
    approx, true = [], []
    for r in out:
        approx.append(r["approx_sq_dist_q12"] * 1e-12)
        true.append(((data[r["neighbor_id"]] - qv) ** 2).sum())
    corr = np.corrcoef(approx, true)[0, 1]
    assert corr > 0.5, f"ADC/true correlation too weak: {corr:.3f}"


def test_pq_determinism(spark, sf_dir):
    from taxi_trips_etl_spark.dataprep.pq_exact import pq_topk_replayable

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = sorted(map(tuple, pq_topk_replayable(emb).collect()))
    b = sorted(map(tuple, pq_topk_replayable(emb).collect()))
    assert a == b


def test_random_projection_preserves_distances(spark, sf_dir):
    """JL property: projected pairwise distances track the originals
    (loose at out_dim=16, so assert correlation + bounded mean ratio,
    not per-pair epsilon)."""
    import numpy as np

    from taxi_trips_etl_spark.dataprep.similarity import random_projection

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(80)
    orig = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    proj = {r["vec_id"]: np.array([r[f"rp_{j}"] for j in range(16)])
            for r in random_projection(emb).collect()}
    ids = sorted(orig)
    d0, d1 = [], []
    for i in range(0, len(ids), 3):
        for j in range(i + 1, len(ids), 7):
            a, b = ids[i], ids[j]
            d0.append(((orig[a] - orig[b]) ** 2).sum())
            d1.append(((proj[a] - proj[b]) ** 2).sum())
    corr = np.corrcoef(d0, d1)[0, 1]
    ratio = np.mean(np.array(d1) / np.array(d0))
    assert corr > 0.3, corr
    assert 0.5 < ratio < 1.5, ratio   # E[||proj||^2] = ||x||^2 (unbiased)


def test_pca_project_matches_numpy_and_orders_variance(spark, monkeypatch):
    """The embedding_pca_project kernel (power_iteration_pca) projects
    onto the numpy eigh components (same sign convention) on data with
    a separated spectrum; component variances are non-increasing.
    Power iteration converges at (λ2/λ1)^t, so the bound is relative
    to the projection scale, not rounding precision."""
    import numpy as np

    from taxi_trips_etl_spark.dataprep import pca_power
    from taxi_trips_etl_spark.dataprep.pca_power import power_iteration_pca

    monkeypatch.setattr(pca_power, "ITERATIONS", 30)
    rng = np.random.RandomState(5)
    scales = np.array([8.0, 4.0, 2.0, 1.0] + [0.05] * 12)
    basis, _ = np.linalg.qr(rng.randn(16, 16))
    X = ((rng.randn(400, 16) * scales) @ basis.T).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    out = np.zeros((len(X), 4))
    for r in power_iteration_pca(emb).collect():
        out[r["vec_id"], r["component_idx"]] = r["value"]

    X = X.astype(np.float64)
    cov = (X.T @ X) / len(X) - np.outer(X.mean(0), X.mean(0))
    vals, vecs = np.linalg.eigh(cov)
    comps = []
    for i in np.argsort(vals)[::-1][:4]:
        e = vecs[:, i]
        nz = np.nonzero(np.abs(e) > 1e-12)[0]
        if len(nz) and e[nz[0]] < 0:
            e = -e
        comps.append(e)
    ref = X @ np.array(comps).T  # the kernel projects uncentered rows

    worst = float(np.abs(out - ref).max() / np.abs(ref).max())
    assert worst < 1e-2, worst

    # Variance ordering: pc1 >= pc2 >= pc3 >= pc4 in sample variance.
    v = out.var(axis=0)
    assert all(v[i] >= v[i + 1] - 1e-12 for i in range(len(v) - 1)), v


def test_kmeans_with_vec_rides_assignment(spark):
    """with_vec returns the double-cast input vector on the assignment
    row itself (r13: lets semdedup skip the join back onto the
    embeddings table), identical to the plain assignment otherwise."""
    vecs = _separable(spark)
    plain = {r.vec_id: (r.cluster_id, r.sq_dist)
             for r in kmeans_assign(vecs, k=3, iterations=3).collect()}
    withv = kmeans_assign(vecs, k=3, iterations=3, with_vec=True).collect()
    assert {r.vec_id: (r.cluster_id, r.sq_dist) for r in withv} == plain
    src = {r.vec_id: [float(x) for x in r.embedding]
           for r in vecs.collect()}
    assert all([float(x) for x in r.vec] == src[r.vec_id] for r in withv)


def test_semdedup_plan_has_no_join(spark, sf_dir):
    """semdedup rides the assignment's with_vec column — the final
    plan must carry NO join (the old shape re-joined the vector corpus
    onto itself by id; r13 pin)."""
    from taxi_trips_etl_spark.dataprep.similarity import semdedup_prune

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = semdedup_prune(emb, threshold_milli=350)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "FlatMapGroupsInPandas" in plan


def test_kmeans_centroids_do_not_depend_on_session_width(spark, sf_dir):
    """The Lloyd reduce width is pinned to k, so the full unrounded
    distance vectors (a function of the final centroids) are
    bit-identical under any session shuffle width, and the session
    width is restored afterwards."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(4)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    runs = []
    try:
        for width in ("2", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", width)
            out = kmeans_assign(emb, k=8, iterations=3, with_dists=True)
            runs.append(sorted(
                (r.vec_id, r.cluster_id, tuple(r.sq_dists))
                for r in out.collect()
            ))
            assert spark.conf.get("spark.sql.shuffle.partitions") == width
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert runs[0] == runs[1]
