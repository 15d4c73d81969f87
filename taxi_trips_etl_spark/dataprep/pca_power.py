"""Principal components via power iteration — ORACLE-REPLAYABLE.

This is the package's PCA. A numpy ``eigh`` eigendecomposition is a
black box no SQL engine replays, so each component is instead computed
by an algorithm whose every step is exact integer arithmetic or IEEE
ops on identical operands — the same replay discipline that converted
k-means and BPE to hash-green:

1. Integer-quantized second moments: per row, round(x_i·x_j·1e10) —
   an int64 — summed EXACTLY (integer addition is associative, so
   partition order cannot matter; this is the float-sum hazard the
   registry avoids everywhere by summing cents).
2. Covariance assembled driver-side from those integers with a fixed
   IEEE expression, then re-quantized to int64 (units 1e-10).
3. Power iteration on an INTEGER state vector q (units 1e-6 of a unit
   vector): w = C_int·q is exact int64 (|w| ≤ 64·1e10·1e6 < 2^63);
   the only floats are the norm (deterministic double from identical
   ints) and the requantization round(w/‖w‖·1e6).
4. Sign fixed (first nonzero q positive), projection = one narrow
   JVM fold with the component inlined as literals.

At 100 TB: the moment pass is an Arrow ``mapInPandas`` emitting one
(count, means, Gram) partial per batch — numpy does the per-batch
work, int64 keeps it exact — and the driver folds partition-count
partials; the iteration itself is d×d, independent of row count.

Convergence note, stated honestly: power iteration finds the top
eigenvector at rate (λ2/λ1)^t; 12 iterations suffice for spectra with
a clear top gap (pytest pins agreement with numpy on synthetic
anisotropic data). Degenerate λ1≈λ2 spectra converge slowly, where
an eigendecomposition would not.
"""

from __future__ import annotations

from collections.abc import Iterator
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Q_COV = 10**10  # covariance / moment quantization (1e-10 units)
Q_VEC = 10**6   # unit-vector state quantization (1e-6 units)
BLOCK_ROWS = 256  # rows per int64 moment block in the Arrow kernel
# Shared by the Spark builders and their oracles: the embedding width the
# oracle SQL unrolls, the power-iteration count and the PCA rank.
DIM = 64
ITERATIONS = 12
N_COMPONENTS = 4


def _round_half_away(v: float) -> int:
    """Python's round() is banker's (half-to-even); Spark and DuckDB
    round() are half-AWAY-from-zero. Quantization boundaries land on
    exact .5 often enough at 1e10 scale (~ulp-probability × millions of
    samples) that the rule must match the engines'."""
    return int(math.floor(v + 0.5)) if v >= 0 else int(math.ceil(v - 0.5))


def _moment_partials(dim: int):
    import pandas as pd

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["v"].to_numpy()).astype("float64")

            def q(a):
                # half-away-from-zero (matches Spark/DuckDB round; np.rint
                # is banker's) — see _round_half_away. sign·floor(|s|+.5)
                # ≡ the where(floor/ceil) split (ceil(s−.5) = −floor(−s+.5)
                # for s<0) with one fewer full-size temp.
                s = a * Q_COV
                return (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype("int64")

            # per-element quantize THEN sum: int64 addition is exact and
            # order-free, unlike float partial sums. The outer-product
            # tensor is built in ROW BLOCKS (round 10): a full-batch
            # einsum materializes rows×dim² float64 — 3.3 GB for a 10k-row
            # Arrow batch at dim 64, growing with dim² — and the resulting
            # allocation churn measured 0.26 s vs 4–16 s bimodal under
            # host memory pressure at sf0.1. Blocking bounds every temp at
            # block_rows×dim² (8 MB) regardless of batch size; the int64
            # block sums accumulate exactly, so the result is bit-identical
            # (integer addition is associative — same ledger the module
            # docstring claims for partition order).
            m = q(x).sum(axis=0)
            g = np.zeros((dim, dim), dtype="int64")
            for lo in range(0, len(x), BLOCK_ROWS):
                blk = x[lo : lo + BLOCK_ROWS]
                g += q(blk[:, :, None] * blk[:, None, :]).sum(axis=0)
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "m": [m.tolist()],
                    "g": [g.reshape(-1).tolist()],
                }
            )

    return gen


def _covariance_int(n: int, m: list[int], g: list[list[int]]) -> list[list[int]]:
    """Fixed IEEE assembly (matches the oracle SQL term-for-term):
    cov_ij = (G_ij/Q)/n − (M_i/Q/n)·(M_j/Q/n), requantized to 1e-10."""
    d = len(m)
    out = []
    for i in range(d):
        row = []
        for j in range(d):
            cov = (float(g[i][j]) / Q_COV) / n - (
                float(m[i]) / Q_COV / n
            ) * (float(m[j]) / Q_COV / n)
            row.append(_round_half_away(cov * Q_COV))
        out.append(row)
    return out


def _power_iterate(c_int: list[list[int]], iterations: int) -> list[int]:
    d = len(c_int)
    q0 = _round_half_away(1.0 / math.sqrt(d) * Q_VEC)
    q = [q0] * d
    for _ in range(iterations):
        w = [
            sum(c_int[i][j] * q[j] for j in range(d))  # exact int64-range
            for i in range(d)
        ]
        norm = math.sqrt(sum(float(x) * float(x) for x in w))
        if norm == 0.0:
            break
        q = [_round_half_away(float(x) / norm * Q_VEC) for x in w]
    # deterministic sign: first nonzero coordinate positive
    for x in q:
        if x != 0:
            if x < 0:
                q = [-y for y in q]
            break
    return q


def _moment_partials_df(vecs: DataFrame, dim: int) -> DataFrame:
    """The moment pass AS A PLAN: one Arrow ``mapInPandas`` over the
    bare vector column — scan → MapInPandas, shuffle-free by
    construction (one partial row per partition; the d×d reduce happens
    driver-side on that bounded set). Split out of
    :func:`_collect_cov_int` so CI can pin the plan shape
    (tests/test_pca_power.py): an Exchange sneaking in here would ship
    every embedding row through a shuffle at the 100 TB posture."""
    return vecs.select("v").mapInPandas(
        _moment_partials(dim),
        schema="n long, m array<long>, g array<long>",
    )


def _collect_cov_int(embeddings: DataFrame) -> tuple[DataFrame, int, list[list[int]]]:
    """One distributed moment pass → (vecs frame, dim, integer
    covariance matrix). Shared by pc1 and the multi-component PCA."""
    vecs = embeddings.select(
        F.col("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    dim = vecs.select(F.size("v").alias("d")).first()["d"]
    partials = _moment_partials_df(vecs, dim).collect()
    n = sum(p["n"] for p in partials)
    m = [0] * dim
    g = [[0] * dim for _ in range(dim)]
    for p in partials:
        for i in range(dim):
            m[i] += p["m"][i]
        flat = p["g"]
        for i in range(dim):
            base = i * dim
            gi = g[i]
            for j in range(dim):
                gi[j] += flat[base + j]
    return vecs, dim, _covariance_int(n, m, g)


def _rayleigh_deflate(
    c_int: list[list[int]], q: list[int]
) -> list[list[int]]:
    """Hotelling deflation C' = C − λ·v·vᵀ with λ the Rayleigh
    quotient of the final iterate, requantized to 1e-10 ints.

    Exactness ledger: w = C·q and den = Σq² are exact integers
    (Python bigints; the oracle uses HUGEINT where qᵀw exceeds
    int64); λ is ONE double division of the two (their int→double
    conversions are correctly rounded and identical on both
    engines); each deflation term is the fixed left-associated IEEE
    chain λ·(q_i/Q_VEC)·(q_j/Q_VEC) rounded half-away — λ carries
    C's own 1e-10 integer units (num ~ Q_VEC²·Q_COV·λ_true over
    den ~ Q_VEC²), so no requantization factor appears; the oracle
    spells the same chain token-for-token."""
    d = len(c_int)
    w = [sum(c_int[i][j] * q[j] for j in range(d)) for i in range(d)]
    num = sum(q[i] * w[i] for i in range(d))
    den = sum(x * x for x in q)
    lam = float(num) / float(den)
    out = []
    for i in range(d):
        qi = q[i] / Q_VEC
        out.append(
            [
                c_int[i][j]
                - _round_half_away(lam * qi * (q[j] / Q_VEC))
                for j in range(d)
            ]
        )
    return out


def power_iteration_pc1(embeddings: DataFrame) -> DataFrame:
    """→ (vec_id, pc1): projection onto the power-iteration top
    component. See module docstring for the exact-replay ledger."""
    vecs, dim, c_int = _collect_cov_int(embeddings)
    q = _power_iterate(c_int, ITERATIONS)
    comp = [x / Q_VEC for x in q]
    arr = "array(" + ",".join(f"{x!r}D" for x in comp) + ")"
    return vecs.select(
        "vec_id",
        F.round(
            F.expr(
                f"aggregate(zip_with(v, {arr}, (a, b) -> a * b),"
                " 0.0D, (acc, x) -> acc + x)"
            ),
            6,
        ).alias("pc1"),
    )


def power_iteration_pca(embeddings: DataFrame) -> DataFrame:
    """→ (vec_id, component_idx, value): projection onto the top
    ``N_COMPONENTS`` principal directions, each found by the
    integer-exact power iteration and removed by Rayleigh/Hotelling
    deflation (:func:`_rayleigh_deflate`) before the next.
    Convergence caveat per component as in the module docstring;
    replay fidelity does NOT depend on convergence (both engines walk
    the identical trajectory)."""
    vecs, dim, c_int = _collect_cov_int(embeddings)
    projs = []
    c = c_int
    for _ in range(N_COMPONENTS):
        q = _power_iterate(c, ITERATIONS)
        arr = "array(" + ",".join(f"{x / Q_VEC!r}D" for x in q) + ")"
        projs.append(
            f"round(aggregate(zip_with(v, {arr}, (a, b) -> a * b),"
            " 0.0D, (acc, x) -> acc + x), 6)"
        )
        c = _rayleigh_deflate(c, q)
    return vecs.select(
        "vec_id",
        F.posexplode(F.expr("array(" + ",".join(projs) + ")")),
    ).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("pos").cast("long").alias("component_idx"),
        F.col("col").alias("value"),
    )


def _iteration_ctes(
    cmat: str, tag: str, dim: int, iterations: int
) -> str:
    """The recursive power-iteration CTE chain over covariance CTE
    ``cmat``, names suffixed ``tag`` — the exact fragment
    power_iteration_oracle_sql inlines, parameterized for reuse per
    deflation stage."""
    q0 = _round_half_away(1.0 / math.sqrt(dim) * Q_VEC)
    return f"""
    it{tag} AS (
        SELECT 0 AS t,
               list_transform(generate_series(1, {dim}),
                              x -> CAST({q0} AS BIGINT)) AS q
        UNION ALL
        SELECT t + 1,
               list_transform(w, x ->
                   CAST(round(CAST(x AS DOUBLE) / nrm * {Q_VEC})
                        AS BIGINT))
        FROM (
            SELECT t, w,
                   sqrt(list_sum(list_transform(
                       w, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                       AS nrm
            FROM (
                SELECT t,
                       list_transform(generate_series(1, {dim}), i ->
                           list_sum(list_transform(
                               generate_series(1, {dim}),
                               j -> C[i][j] * q[j]))) AS w
                FROM it{tag}, {cmat}
                WHERE t < {iterations}
            )
        )
        WHERE nrm > 0
    ),
    final_q{tag} AS MATERIALIZED (SELECT q FROM it{tag}
                                  ORDER BY t DESC LIMIT 1),
    signed{tag} AS MATERIALIZED (
        SELECT CASE WHEN (SELECT x FROM (SELECT unnest(q) AS x,
                                                generate_subscripts(q, 1)
                                                    AS p FROM final_q{tag})
                          WHERE x != 0 ORDER BY p LIMIT 1) < 0
                    THEN list_transform(q, x -> -x) ELSE q END AS q
        FROM final_q{tag}
    )"""


def _deflate_ctes(cmat: str, tag: str, nxt: str, dim: int) -> str:
    """Deflation CTEs: λ from the Rayleigh quotient of signed{tag}'s
    iterate over ``cmat`` (qᵀw in HUGEINT — it exceeds int64), then
    the next covariance ``nxt`` with the identical IEEE term chain
    as :func:`_rayleigh_deflate`."""
    return f"""
    wv{tag} AS MATERIALIZED (
        SELECT q,
               list_transform(generate_series(1, {dim}), i ->
                   list_sum(list_transform(generate_series(1, {dim}),
                                           j -> C[i][j] * q[j]))) AS w
        FROM signed{tag}, {cmat}
    ),
    lam{tag} AS MATERIALIZED (
        SELECT CAST(list_sum(list_transform(generate_series(1, {dim}),
                   i -> CAST(q[i] AS HUGEINT) * CAST(w[i] AS HUGEINT)))
                   AS DOUBLE)
               / CAST(list_sum(list_transform(q, x -> x * x)) AS DOUBLE)
                   AS lam
        FROM wv{tag}
    ),
    {nxt} AS MATERIALIZED (
        SELECT list_transform(generate_series(1, {dim}), i ->
                 list_transform(generate_series(1, {dim}), j ->
                   C[i][j] - CAST(round(lam
                       * (CAST(q[i] AS DOUBLE) / {Q_VEC})
                       * (CAST(q[j] AS DOUBLE) / {Q_VEC}))
                       AS BIGINT))) AS C
        FROM {cmat}, signed{tag}, lam{tag}
    )"""


def power_iteration_pca_oracle_sql() -> str:
    """DuckDB twin of :func:`power_iteration_pca`: shared integer
    moments/covariance, then per component a recursive iteration +
    sign fix + (for all but the last) Rayleigh deflation — each step
    the same exact-integer / fixed-IEEE ledger as the single-
    component oracle."""
    stages = []
    for c in range(1, N_COMPONENTS + 1):
        stages.append(_iteration_ctes(f"cmat{c}", str(c), DIM, ITERATIONS))
        if c < N_COMPONENTS:
            stages.append(
                _deflate_ctes(f"cmat{c}", str(c), f"cmat{c + 1}", DIM)
            )
    comps = "\n        UNION ALL ".join(
        f"SELECT {c - 1} AS component_idx, q FROM signed{c}"
        for c in range(1, N_COMPONENTS + 1)
    )
    return f"""
    WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    idx AS (SELECT unnest(generate_series(1, {DIM})) AS i),
    moments AS (
        SELECT i.i, j.i AS j,
               sum(CAST(round(emb[i.i] * emb[j.i] * {Q_COV}) AS BIGINT))
                   AS s
        FROM e, idx i, idx j
        GROUP BY 1, 2
    ),
    mean_s AS (
        SELECT i.i,
               sum(CAST(round(emb[i.i] * {Q_COV}) AS BIGINT)) AS ms
        FROM e, idx i GROUP BY 1
    ),
    nn AS (SELECT count(*) AS n FROM e),
    cov AS (
        SELECT mo.i, mo.j,
               CAST(round(((CAST(mo.s AS DOUBLE) / {Q_COV}) / n
                           - (CAST(a.ms AS DOUBLE) / {Q_COV} / n)
                             * (CAST(b.ms AS DOUBLE) / {Q_COV} / n))
                          * {Q_COV}) AS BIGINT) AS c
        FROM moments mo
        JOIN mean_s a ON a.i = mo.i
        JOIN mean_s b ON b.i = mo.j
        CROSS JOIN nn
    ),
    cmat1 AS MATERIALIZED (
        SELECT list(r ORDER BY i) AS C
        FROM (SELECT i, list(c ORDER BY j) AS r FROM cov GROUP BY i)
    ),
    {",".join(stages)},
    comps AS (
        {comps}
    )
    SELECT vec_id,
           CAST(component_idx AS BIGINT) AS component_idx,
           round(list_sum(list_transform(generate_series(1, {DIM}),
                 i -> emb[i] * (CAST(q[i] AS DOUBLE) / {Q_VEC}))), 6)
               AS value
    FROM e CROSS JOIN comps
    """


def power_iteration_oracle_sql() -> str:
    """DuckDB twin: identical integer moments, covariance assembly,
    integer iteration, sign fix and projection (see module docstring)."""
    q0 = _round_half_away(1.0 / math.sqrt(DIM) * Q_VEC)
    return f"""
    WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    idx AS (SELECT unnest(generate_series(1, {DIM})) AS i),
    moments AS (
        SELECT i.i, j.i AS j,
               sum(CAST(round(emb[i.i] * emb[j.i] * {Q_COV}) AS BIGINT))
                   AS s
        FROM e, idx i, idx j
        GROUP BY 1, 2
    ),
    mean_s AS (
        SELECT i.i,
               sum(CAST(round(emb[i.i] * {Q_COV}) AS BIGINT)) AS ms
        FROM e, idx i GROUP BY 1
    ),
    nn AS (SELECT count(*) AS n FROM e),
    cov AS (
        SELECT mo.i, mo.j,
               CAST(round(((CAST(mo.s AS DOUBLE) / {Q_COV}) / n
                           - (CAST(a.ms AS DOUBLE) / {Q_COV} / n)
                             * (CAST(b.ms AS DOUBLE) / {Q_COV} / n))
                          * {Q_COV}) AS BIGINT) AS c
        FROM moments mo
        JOIN mean_s a ON a.i = mo.i
        JOIN mean_s b ON b.i = mo.j
        CROSS JOIN nn
    ),
    cmat AS (
        SELECT list(r ORDER BY i) AS C
        FROM (SELECT i, list(c ORDER BY j) AS r FROM cov GROUP BY i)
    ),
    it AS (
        SELECT 0 AS t,
               list_transform(generate_series(1, {DIM}),
                              x -> CAST({q0} AS BIGINT)) AS q
        UNION ALL
        SELECT t + 1,
               list_transform(w, x ->
                   CAST(round(CAST(x AS DOUBLE) / nrm * {Q_VEC})
                        AS BIGINT))
        FROM (
            SELECT t, w,
                   sqrt(list_sum(list_transform(
                       w, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                       AS nrm
            FROM (
                SELECT t,
                       list_transform(generate_series(1, {DIM}), i ->
                           list_sum(list_transform(
                               generate_series(1, {DIM}),
                               j -> C[i][j] * q[j]))) AS w
                FROM it, cmat
                WHERE t < {ITERATIONS}
            )
        )
        WHERE nrm > 0
    ),
    final_q AS (SELECT q FROM it ORDER BY t DESC LIMIT 1),
    signed AS (
        SELECT CASE WHEN (SELECT x FROM (SELECT unnest(q) AS x,
                                                generate_subscripts(q, 1)
                                                    AS p FROM final_q)
                          WHERE x != 0 ORDER BY p LIMIT 1) < 0
                    THEN list_transform(q, x -> -x) ELSE q END AS q
        FROM final_q
    )
    SELECT vec_id,
           round(list_sum(list_transform(generate_series(1, {DIM}),
                 i -> emb[i] * (CAST(q[i] AS DOUBLE) / {Q_VEC}))), 6)
               AS pc1
    FROM e CROSS JOIN signed
    """
