"""Product Quantization with ORACLE-REPLAYABLE integer training.

This is the package's PQ. Float Lloyd's centroid means are
accumulation-order-dependent, so no SQL engine could replay a float
training; this module applies the replay discipline that converted
k-means, BPE and PCA (pca_power.py) to hash-green: every training
step is exact integer arithmetic or ONE IEEE op on identical
operands.

Ledger of exactness (reference semantics: Jégou et al. 2011, ADC):

1. Quantize each coordinate once: xq = round(x · 1e6) as int64
   (round = half-away-from-zero on BOTH engines; x is the float32
   parquet value upcast to double, bit-identical everywhere).
2. Codebook init: per subspace, the sub-vectors of the ``ksub``
   lowest vec_ids in the training sample (deterministic; same
   ORDER BY vec_id LIMIT in SQL).
3. Lloyd's assignment: argmin over exact int64 squared distances
   Σ(xq−cq)² (ds·(2e7)² ≈ 3e15 ≪ 2^63), ties to the lowest
   cluster id — integer comparisons cannot disagree across engines.
4. Centroid update: cq' = round(sum / count) where sum is an exact
   int64 (≤ sample_n·2e7 ≈ 1e10 ≪ 2^53, so the double division has
   identical operands on both engines); empty clusters keep their
   previous centroid.
5. Encoding and ADC: the same integer argmin against the final
   codebooks; the ADC score is an exact int64 sum of m per-subspace
   integer lookup-table entries, emitted in 1e-12 units of squared
   L2 (no float leaves the plan at all).

Scale shape (100 TB): training reads a bounded deterministic sample
(driver-side, sample_n × d ints); encoding is ONE narrow projection
per corpus row against literal codebooks — no join, no shuffle, and
the code table is ~m bytes/row, the 100–400× scan-size reduction
that makes PQ the compressed-scan ANN format. The ADC pass scans
codes once for ALL queries (per-query LUTs ride a single explode).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

Q_VEC = 10**6  # coordinate quantization (1e-6 units)


def _round_half_away(v: float) -> int:
    return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))


def _quantize(vec: list[float]) -> list[int]:
    return [_round_half_away(x * Q_VEC) for x in vec]


def _train_int_lloyds(
    sample_q: list[list[int]], m: int, ksub: int, iters: int
) -> list[list[list[int]]]:
    """books[s][j] = integer centroid for subspace s, cluster j."""
    d = len(sample_q[0])
    ds = d // m
    books: list[list[list[int]]] = []
    for s in range(m):
        xs = [v[s * ds : (s + 1) * ds] for v in sample_q]
        cents = [list(x) for x in xs[:ksub]]
        for _ in range(iters):
            assign = [
                min(
                    range(len(cents)),
                    key=lambda j: (
                        sum((a - b) * (a - b) for a, b in zip(x, cents[j])),
                        j,
                    ),
                )
                for x in xs
            ]
            for j in range(len(cents)):
                members = [xs[i] for i, a in enumerate(assign) if a == j]
                if members:
                    nj = len(members)
                    cents[j] = [
                        _round_half_away(sum(col) / nj)
                        for col in zip(*members)
                    ]
        books.append(cents)
    return books


def pq_topk_replayable(
    embeddings: DataFrame,
    m: int = 8,
    ksub: int = 16,
    k: int = 3,
    query_ids_below: int = 5,
    sample_n: int = 512,
    train_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (query_id, neighbor_id, approx_sq_dist_q12, knn_rank): PQ/ADC
    top-k with the integer-exact training above. approx_sq_dist_q12 is
    the ADC squared L2 distance in exact 1e-12 units (BIGINT)."""
    vecs = embeddings.select(
        F.col(id_col),
        F.expr(
            f"transform({vec_col}, "
            f"x -> CAST(round(CAST(x AS DOUBLE) * {Q_VEC}) AS BIGINT))"
        ).alias("vq"),
    )
    sample_rows = (
        embeddings.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
        )
        .orderBy(id_col)
        .limit(sample_n)
        .collect()
    )
    sample_q = [_quantize(list(r["v"])) for r in sample_rows]
    d = len(sample_q[0])
    assert d % m == 0, f"dim {d} not divisible by m={m}"
    ds = d // m
    books = _train_int_lloyds(sample_q, m, ksub, train_iters)

    def _arr(ints) -> str:
        return "array(" + ",".join(f"{int(x)}L" for x in ints) + ")"

    def _sqd_sql(s: int, cent) -> str:
        return (
            f"aggregate(zip_with(slice(vq, {s * ds + 1}, {ds}), "
            f"{_arr(cent)}, (a, b) -> (a - b) * (a - b)), "
            f"0L, (acc, x) -> acc + x)"
        )

    dist_cols = [
        F.expr(
            "array("
            + ",".join(_sqd_sql(s, books[s][j]) for j in range(ksub))
            + ")"
        ).alias(f"d{s}")
        for s in range(m)
    ]
    codes = vecs.select(id_col, *dist_cols).select(
        id_col,
        *[
            F.expr(
                f"CAST(array_position(d{s}, array_min(d{s})) - 1 AS INT)"
            ).alias(f"c{s}")
            for s in range(m)
        ],
    )

    queries = [
        (r[id_col], _quantize(list(r["v"])))
        for r in embeddings.select(
            F.col(id_col),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
        )
        .filter(F.col(id_col) < query_ids_below)
        .collect()
    ]

    def _adc_sql(qid: int, qq: list[int]) -> str:
        luts = [
            [
                sum(
                    (a - b) * (a - b)
                    for a, b in zip(qq[s * ds : (s + 1) * ds], books[s][j])
                )
                for j in range(ksub)
            ]
            for s in range(m)
        ]
        score = " + ".join(
            f"element_at({_arr(luts[s])}, c{s} + 1)" for s in range(m)
        )
        return (
            f"struct(CAST({qid} AS BIGINT) AS query_id, "
            f"CAST({score} AS BIGINT) AS approx_sq_dist_q12)"
        )

    scored = (
        codes.select(
            F.col(id_col).cast("long").alias("neighbor_id"),
            F.explode(
                F.expr(
                    "array("
                    + ",".join(_adc_sql(qid, qq) for qid, qq in queries)
                    + ")"
                )
            ).alias("q"),
        )
        .select("q.query_id", "neighbor_id", "q.approx_sq_dist_q12")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("approx_sq_dist_q12").asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "approx_sq_dist_q12",
            F.col("knn_rank").cast("long").alias("knn_rank"),
        )
    )


def pq_oracle_sql(
    dim: int = 64,
    m: int = 8,
    ksub: int = 16,
    k: int = 3,
    query_ids_below: int = 5,
    sample_n: int = 512,
    train_iters: int = 3,
) -> str:
    """DuckDB twin of :func:`pq_topk_replayable`: identical integer
    quantization, init, Lloyd's rounds (unrolled), encoding and ADC.
    Subspaces ride a generic (s, vec_id, x) table so only the
    ITERATIONS unroll, not the subspaces."""
    ds = dim // m
    dist = (
        f"list_sum(list_transform(generate_series(1, {ds}),"
        " i -> (sb.x[i] - c.c[i]) * (sb.x[i] - c.c[i])))"
    )

    def assign(prev: str, src: str = "subs_s") -> str:
        return f"""
  SELECT s, vec_id, j FROM (
    SELECT sb.s, sb.vec_id, c.j, {dist} AS d,
           row_number() OVER (PARTITION BY sb.s, sb.vec_id
                              ORDER BY {dist}, c.j) AS rn
    FROM {src} sb JOIN {prev} c ON c.s = sb.s
  ) WHERE rn = 1
"""

    def update(a: str, prev: str) -> str:
        return f"""
  SELECT p.s, p.j, coalesce(mn.c, p.c) AS c
  FROM {prev} p LEFT JOIN (
    SELECT s, j, list(ci ORDER BY i) AS c FROM (
      SELECT a.s, a.j, t.i,
             CAST(round(CAST(sum(sb.x[t.i]) AS DOUBLE) / count(*))
                  AS BIGINT) AS ci
      FROM {a} a
      JOIN subs_s sb ON sb.s = a.s AND sb.vec_id = a.vec_id
      CROSS JOIN (SELECT unnest(generate_series(1, {ds})) AS i) t
      GROUP BY a.s, a.j, t.i
    ) GROUP BY s, j
  ) mn ON mn.s = p.s AND mn.j = p.j
"""

    rounds = []
    prev = "c0"
    for t in range(1, train_iters + 1):
        rounds.append(f"a{t} AS ({assign(prev)})")
        rounds.append(f"c{t} AS ({update(f'a{t}', prev)})")
        prev = f"c{t}"
    rounds_sql = ",\n".join(rounds)

    return f"""
    WITH e AS (
        SELECT vec_id,
               list_transform(CAST(embedding AS DOUBLE[]),
                              x -> CAST(round(x * {Q_VEC}) AS BIGINT)) AS vq
        FROM embeddings
    ),
    subs AS (
        SELECT vec_id, s.s,
               list_slice(vq, s.s * {ds} + 1, s.s * {ds} + {ds}) AS x
        FROM e CROSS JOIN
             (SELECT unnest(generate_series(0, {m - 1})) AS s) s
    ),
    samp_ids AS (SELECT vec_id FROM e ORDER BY vec_id LIMIT {sample_n}),
    subs_s AS (SELECT sb.* FROM subs sb
               JOIN samp_ids USING (vec_id)),
    c0 AS (
        SELECT s, rn - 1 AS j, x AS c FROM (
            SELECT s, x, row_number() OVER (PARTITION BY s
                                            ORDER BY vec_id) AS rn
            FROM subs_s
        ) WHERE rn <= {ksub}
    ),
    {rounds_sql},
    codes AS ({assign(prev, src="subs")}),
    qsubs AS (SELECT sb.* FROM subs sb WHERE sb.vec_id < {query_ids_below}),
    lut AS (
        SELECT sb.vec_id AS query_id, c.s, c.j, {dist} AS d
        FROM qsubs sb JOIN {prev} c ON c.s = sb.s
    ),
    scored AS (
        SELECT l.query_id, co.vec_id AS neighbor_id,
               CAST(sum(l.d) AS BIGINT) AS approx_sq_dist_q12
        FROM codes co JOIN lut l ON l.s = co.s AND l.j = co.j
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, neighbor_id, approx_sq_dist_q12,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY approx_sq_dist_q12,
                                           neighbor_id) AS r
        FROM scored WHERE query_id != neighbor_id
    )
    SELECT CAST(query_id AS BIGINT) AS query_id,
           CAST(neighbor_id AS BIGINT) AS neighbor_id,
           approx_sq_dist_q12,
           CAST(r AS BIGINT) AS knn_rank
    FROM ranked WHERE r <= {k}
    """
