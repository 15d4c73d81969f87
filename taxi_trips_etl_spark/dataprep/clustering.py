"""Embedding k-means (Lloyd's) in pure DataFrame ops.

Why not MLlib: the KMeans estimator materializes RDD internals, its
init is RNG-seeded per-partitioning, and its model object doesn't
compose with the rest of the DataFrame-only pipeline. This version is
fully deterministic (init = lowest-id vectors, the same sampled-
centroid choice IVF uses), so runs are reproducible anywhere and the
assignment table is just another DataFrame.

Per iteration: centroids are inlined as literal arrays (k·d doubles),
so assignment is ONE narrow argmin projection — no join, no window, no
shuffle; the only shuffle is the partial-aggregated per-cluster means
(k×d sums). Iterations are a driver-side loop over *collected
centroids*, never over the data.

Uses: diversity-aware sampling (pick per-cluster quotas), IVF coarse
quantizer refinement (swap into similarity.ivf_topk), embedding-space
EDA (cluster sizes/inertia per corpus drop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sql_double(x) -> str:
    """SQL double literal that survives non-finite values (repr(nan)
    would emit the unparseable token ``nanD``)."""
    import math

    x = float(x)
    if math.isnan(x):
        return "double('NaN')"
    if math.isinf(x):
        return f"double('{'-' if x < 0 else ''}Infinity')"
    return f"{x!r}D"


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    iterations: int = 5,
    with_dists: bool = False,
    with_vec: bool = False,
) -> DataFrame:
    """→ (vec_id, cluster_id, sq_dist): Lloyd's with deterministic init.

    Optional output columns (ADVICE r13 — documented contract):
    ``with_dists=True`` appends ``sq_dists`` (the full k-distance
    array); ``with_vec=True`` appends ``vec`` (the double-cast input
    vector, so consumers need no join back onto the embeddings table).
    Init: the k lowest-id vectors, selected by sort — so sparse or
    offset id spaces still seed exactly k clusters. Ties in argmin
    break toward the lower cluster_id, so the whole trajectory is
    reproducible. The returned assignment is always computed against
    the FINAL centroid set (one extra lazy projection), including when
    the iteration budget runs out mid-trajectory.
    """
    from taxi_trips_etl_spark.dataprep.materialize import static_rounds

    vecs = embeddings.select(
        F.col("vec_id"), F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v")
    )
    centroids = [
        [float(x) for x in r["v"]]
        for r in vecs.orderBy("vec_id").limit(k).collect()
    ]

    def assign(cents: list[list[float]]) -> DataFrame:
        # Centroids as literal arrays: the k distances are k column
        # expressions in ONE narrow projection — no join, no window, no
        # shuffle for assignment; argmin ties break to the lower id.
        # Built as ONE SQL string: k·d literal Columns via py4j cost
        # ~0.5 s of driver time PER ITERATION before any task ran.
        def arr(xs: list[float]) -> str:
            return "array(" + ",".join(_sql_double(x) for x in xs) + ")"

        dists = F.expr(
            "array("
            + ",".join(
                f"aggregate(zip_with(v, {arr(c)}, (a, b) -> (a - b) * (a - b)),"
                " 0.0D, (acc, x) -> acc + x)"
                for c in cents
            )
            + ")"
        )
        return vecs.select(
            "vec_id",
            "v",
            dists.alias("_d"),
        ).select(
            "vec_id",
            "v",
            (F.array_position(F.col("_d"), F.array_min(F.col("_d"))) - 1)
            .cast("int")
            .alias("cluster_id"),
            F.array_min(F.col("_d")).alias("sq_dist"),
            "_d",  # full k-distance vector; pruned unless with_dists
        )

    # static_rounds (r14): each Lloyd iteration is one scan → narrow
    # argmin projection → partial-agg collect; there is no in-loop join
    # (the static_rounds hint precondition is vacuous) and the
    # aggregate output is exactly ≤ k rows at ANY corpus size, so the
    # in-loop reduce width pins to exactly k — counted from the loop,
    # never from the session, so the centroids do not depend on the
    # session width. AQE otherwise books an extra stage-job per
    # iteration for a k-row exchange. The final assignment below is
    # lazy and executes outside the scope, under the session posture.
    spark = embeddings.sparkSession
    with static_rounds(spark):
        spark.conf.set("spark.sql.shuffle.partitions", str(k))
        for _ in range(iterations):
            assigned = assign(centroids)
            # New centroids: per-cluster mean, one partial-agg shuffle
            # of k×d sums; collected to the driver (k·d doubles).
            dim = len(centroids[0])
            sums = (
                assigned.groupBy("cluster_id")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    *[
                        F.expr(f"sum(element_at(v, {i + 1})) AS s{i}")
                        for i in range(dim)
                    ],
                )
                .collect()
            )
            new_centroids = list(centroids)
            for r in sums:
                new_centroids[r["cluster_id"]] = [
                    r[f"s{i}"] / r["n"] for i in range(dim)
                ]
            if new_centroids == centroids:
                break
            centroids = new_centroids

    # Final assignment against the last centroid set — the in-loop
    # `assigned` lags one update when the budget is exhausted.
    final = assign(centroids)
    cols = [
        F.col("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.round("sq_dist", 6).alias("sq_dist"),
    ]
    if with_dists:
        # Silhouette and other cluster-quality metrics need the full
        # k-distance vector, not just the argmin; the projection is
        # already computed, so exposing it costs nothing.
        cols.append(F.col("_d").alias("sq_dists"))
    if with_vec:
        # The double-cast vector rides along so consumers that score
        # cluster members (semdedup's within-cluster matmul) need no
        # join back onto the embeddings table — the join was a full
        # corpus shuffle of the vectors on both sides (r13). Exposed
        # under the documented name `vec`, not the internal `v`
        # (ADVICE r13: callers shouldn't need the magic internal name,
        # and an id_col named `v` must not collide with the output).
        cols.append(F.col("v").alias("vec"))
    return final.select(*cols)


def cluster_summary(assigned: DataFrame) -> DataFrame:
    """Per-cluster size + inertia (sum of squared distances)."""
    return assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.sum("sq_dist"), 4).alias("inertia"),
    )
