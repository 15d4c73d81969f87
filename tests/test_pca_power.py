from __future__ import annotations

import math

from taxi_trips_etl_spark.dataprep.pca_power import (
    _round_half_away,
    power_iteration_pc1,
)


def test_round_half_away_matches_engines():
    assert _round_half_away(0.5) == 1
    assert _round_half_away(1.5) == 2      # banker's would give 2 too
    assert _round_half_away(2.5) == 3      # banker's would give 2
    assert _round_half_away(-0.5) == -1
    assert _round_half_away(-2.5) == -3
    assert _round_half_away(2.4999) == 2


def test_pc1_matches_numpy_on_anisotropic_data(spark, monkeypatch):
    import numpy as np

    from taxi_trips_etl_spark.dataprep import pca_power

    monkeypatch.setattr(pca_power, "ITERATIONS", 20)
    rng = np.random.RandomState(7)
    d, n = 8, 400
    # strong top component along a known direction
    direction = rng.randn(d)
    direction /= np.linalg.norm(direction)
    x = (
        np.outer(rng.randn(n) * 5.0, direction)
        + rng.randn(n, d) * 0.3
    )
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["pc1"]
        for r in power_iteration_pc1(df).collect()
    }
    centered = x - x.mean(axis=0)
    cov = centered.T @ centered / n
    evals, evecs = np.linalg.eigh(cov)
    v = evecs[:, -1]
    # fix sign like the operator: first nonzero coordinate positive
    for c in v:
        if c != 0:
            if c < 0:
                v = -v
            break
    want = x @ v
    errs = [abs(got[i] - want[i]) for i in range(n)]
    # projections onto uncentered x: both use the same convention;
    # agreement to ~1e-3 of the data scale proves convergence
    scale = float(np.abs(want).max())
    assert max(errs) / scale < 1e-3


def test_pc1_partitioning_invariant(spark):
    import numpy as np

    rng = np.random.RandomState(3)
    x = rng.randn(200, 6) * [5, 1, 1, 1, 1, 1]
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    a = sorted(map(tuple, power_iteration_pc1(df).collect()))
    b = sorted(map(tuple, power_iteration_pc1(df.repartition(9)).collect()))
    assert a == b  # integer partials make the trajectory order-free


def test_moment_pass_plan_is_single_shuffle_free_mapinpandas(spark):
    """CI pin (VERDICT r10 #3a): the r10 blocked-kernel moment pass must
    stay a bare scan -> ONE MapInPandas with no Exchange anywhere — an
    extra shuffle or a second Python eval here ships every embedding row
    through a shuffle at the 100 TB posture."""
    from pyspark.sql import functions as F

    from taxi_trips_etl_spark.dataprep.pca_power import _moment_partials_df

    df = spark.createDataFrame(
        [(i, [float(i), float(i * 2), 1.0]) for i in range(20)],
        "vec_id long, embedding array<double>",
    )
    vecs = df.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    plan = _moment_partials_df(vecs, 3)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1, plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan
