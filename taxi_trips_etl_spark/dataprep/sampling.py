"""Deterministic sampling & splits for training-data pipelines.

``df.sample()`` is seed-and-partitioning dependent — rerun the job with
different parallelism and you get a different sample. At 100 TB that
breaks reproducibility and incremental reruns. These operators derive
membership from a *content hash* of the row key instead: the same row
lands in the same sample/split on any cluster, any partitioning, any
engine (md5-based, so the DuckDB oracle reproduces it bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = 1 << 32
_KEY = "doc_id"  # the row key the samplers below hash
SAMPLE_RATE = 0.25  # deterministic_sample's keep rate
STRATA_COL = "lang"  # stratified_sample's strata
TEST_RATE = 0.2  # train_test_split's test share
DOMAIN_COL = "source"  # domain_mixture_sample's domains
N_FOLDS = 5  # kfold_assign's folds
PRIORITY_KEY = "c_custkey"  # weighted_priority_sample's row key …
PRIORITY_K = 100  # … and sample size
MIXTURE_ALPHA = 0.7  # temperature_mixture_weights' exponent …
MIXTURE_BUDGET_DOCS = 10000  # … and document budget


def _key_bucket(key: Column, salt: str) -> Column:
    """Uniform 32-bit bucket from md5 of (salt, key) — engine-portable."""
    h = F.md5(F.concat(F.lit(f"{salt}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def deterministic_sample(df: DataFrame) -> DataFrame:
    """Keep ~SAMPLE_RATE of rows, chosen by key hash — idempotent &
    rerun-stable."""
    return df.filter(
        _key_bucket(F.col(_KEY), "sample") < int(SAMPLE_RATE * _HASH_SPACE)
    )


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum hash sampling (deterministic ``sampleBy``): each
    STRATA_COL stratum keeps its own rate — rebalancing skewed classes
    (languages, sources, quality tiers) without RNG or partitioning
    dependence."""
    # Validate rates and default_rate SEPARATELY: merging them into one
    # dict keyed by stratum name would let a stratum literally named
    # '__default__' be overwritten by default_rate, silently skipping
    # its range check while the threshold CASE below still applies it.
    for _s, _r in rates.items():
        if not 0.0 <= _r <= 1.0:
            raise ValueError(f"stratum rate must be in [0, 1], got {_s}={_r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(
            f"default_rate must be in [0, 1], got {default_rate}"
        )
    bucket = _key_bucket(F.col(_KEY), "strata")
    threshold = F.lit(int(default_rate * _HASH_SPACE))
    for stratum, rate in rates.items():
        threshold = (
            F.when(F.col(STRATA_COL) == stratum, F.lit(int(rate * _HASH_SPACE)))
            .otherwise(threshold)
        )
    return df.filter(bucket < threshold)


def split_expr(key: Column) -> Column:
    """The train/test label as a pure expression of ``key`` — split
    membership is content-hash only (see :func:`train_test_split`), so
    consumers that already hold the key column (pair tables, audit
    joins) can derive the label inline instead of joining the
    corpus-side assignment back in (r13: split_leakage_audit dropped
    two corpus-sized join passes this way)."""
    bucket = _key_bucket(key, "split")
    return F.when(
        bucket < int(TEST_RATE * _HASH_SPACE), "test"
    ).otherwise("train")


def train_test_split(df: DataFrame) -> DataFrame:
    """Adds a ``split`` column ('train' | 'test', TEST_RATE of rows
    'test') keyed by content hash.

    Same key → same split forever: new data appends without reshuffling
    membership, and dedup-then-split pipelines can't leak a near-dup
    pair across the boundary if they split on the canonical doc key.
    """
    return df.withColumn("split", split_expr(F.col(_KEY)))


def domain_mixture_sample(df: DataFrame) -> DataFrame:
    """Temperature-weighted DOMAIN_COL rebalancing (the multilingual /
    multi-source mixing rule: sample domain d with probability
    ∝ n_d^0.5, which upweights the tail), targeting half the rows.

    Per-domain keep rate = min(1, target_total · w_d / n_d) where
    w_d = √n_d / Σ √n_d; membership is content-hash based
    (see module docstring) so the mixture is rerun- and
    partition-stable.

    Shape: one partial-agg shuffle for domain counts (result: #domains
    rows), a broadcast of the rates back onto the fact table, and a
    hash filter — no RNG, no global sort, no second scan. The exponent
    0.5 is sqrt (IEEE correctly-rounded, so the oracle reproduces the
    rates bit-for-bit; libm pow is not so guaranteed).
    """
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    domain_col = DOMAIN_COL
    n = F.col("n_domain")
    weight = F.sqrt(n)
    # counts (#domains rows) feeds the totals aggregate AND the rates
    # projection — without a checkpoint the corpus scan + groupBy
    # re-ran per consumer (r13: docs scans 3 → 2, the count-then-filter
    # two-pass floor).
    counts = materialize(
        df.groupBy(domain_col).agg(
            F.count(F.lit(1)).cast("double").alias("n_domain")
        ),
        eager=False,
    )
    totals = counts.agg(
        F.sum("n_domain").alias("n_total"), F.sum(weight).alias("w_total")
    )
    rate = F.least(
        F.lit(1.0),
        F.lit(0.5) * F.col("n_total") * weight / F.col("w_total") / n,
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        domain_col,
        F.floor(rate * _HASH_SPACE).cast("long").alias("_threshold"),
    )
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(_key_bucket(F.col(_KEY), "mix") < F.col("_threshold"))
        .drop("_threshold")
    )


def kfold_assign(df: DataFrame) -> DataFrame:
    """Adds a ``fold`` column in [0, N_FOLDS): hash-keyed cross-validation
    folds. Same key → same fold forever (append-stable, like
    :func:`train_test_split`); fold i's holdout is ``fold == i`` and
    training is everything else — no RNG, no state to persist."""
    return df.withColumn(
        "fold", (_key_bucket(F.col(_KEY), "fold") % N_FOLDS).cast("long")
    )


def weighted_priority_sample(df: DataFrame, weight_cents: Column) -> DataFrame:
    """Deterministic weighted sampling without replacement (priority
    sampling, Duffield-Lund-Thorup): each row draws a content-hash
    uniform u ∈ [0, 2^32) and gets priority key ``u / w``; the k rows
    with the SMALLEST keys form the sample (k = PRIORITY_K, keyed by
    PRIORITY_KEY), so inclusion odds scale
    with weight while membership stays engine- and rerun-stable.

    → (key, weight_cents, priority_key) — up to ``k`` rows (fewer when
    fewer than k rows carry positive weight; zero-weight rows are
    excluded before any arithmetic touches their weight).

    Portability: the key is ONE IEEE double division of two exact
    integers (hash bucket / integer-cent weight), bit-identical on any
    engine — no transcendental (-ln u / w) whose libm could differ in
    the last ulp and flip the order near the k-th boundary. Ties are
    impossible short of md5 collisions but the sort breaks them by key
    anyway. Scale shape: a global top-k is TakeOrderedAndProject —
    per-partition heaps of k rows, no full sort, no shuffle of the
    input."""
    key = PRIORITY_KEY
    w = weight_cents.cast("long")
    u = _key_bucket(F.col(key), "wps")
    return (
        df.select(F.col(key), w.alias("weight_cents"))
        .filter(F.col("weight_cents") > 0)
        .withColumn(
            "priority_key",
            u.cast("double") / F.col("weight_cents").cast("double"),
        )
        .orderBy("priority_key", key)
        .limit(PRIORITY_K)
    )


def temperature_mixture_weights(docs):
    """Temperature-based source mixing (the multilingual-LM standard,
    e.g. mBERT/XLM-R exponentiated sampling): sampling weight per
    source ∝ (token share)^alpha (alpha = MIXTURE_ALPHA), alpha<1
    flattening the head so
    low-resource sources are up-sampled relative to their raw share.

    → (source, n_docs, n_tokens, raw_share, weight, expected_docs):
    ``weight`` sums to 1, ``expected_docs`` = weight ×
    MIXTURE_BUDGET_DOCS.

    One token-count aggregate (map-side combinable) + a broadcast
    1-row total — the n_sources-row result is driver-sized at any
    corpus scale. pow/ln run on identical operands in the DuckDB
    replay; outputs round to 4/6 per the registry portability rules.
    """
    from pyspark.sql import functions as F

    per = docs.groupBy(F.col("source").alias("source")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
        ).cast("long").alias("n_tokens"),
    )
    # pow() results are quantized to integer micro-units BEFORE the
    # cross-source sum: a float sum's value depends on addition order
    # (partition race), while integer sums are exact and
    # order-independent — the same reason the registry sums money as
    # cents. The 1e-6 quantization is part of the operator's spec.
    pw = F.round(
        F.pow(F.col("n_tokens").cast("double"), F.lit(MIXTURE_ALPHA)) * 1e6
    ).cast("long")
    per = per.withColumn("pw", pw)
    tot = per.agg(
        F.sum("n_tokens").cast("double").alias("tot_tokens"),
        F.sum("pw").cast("double").alias("tot_pw"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("n_tokens").cast("double") / F.col("tot_tokens"), 6
            ).alias("raw_share"),
            F.round(
                F.col("pw").cast("double") / F.col("tot_pw"), 6
            ).alias("weight"),
            F.round(
                F.col("pw").cast("double") / F.col("tot_pw")
                * MIXTURE_BUDGET_DOCS,
                4,
            ).alias("expected_docs"),
        )
    )
