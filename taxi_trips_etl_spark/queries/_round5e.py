"""Round-5e batch: CMS frequency sketch, Kneser-Ney smoothing,
sparse TF-IDF cosine pairs, skip-gram co-occurrence, and the
dimension-truncation ANN audit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (parity with sibling batches)

from taxi_trips_etl_spark.queries._registry import (
    TOKS_SQL,
    _t,
    register,
)

__all__ = [
    "q_cms_token_counts",
    "q_kneser_ney_bigram",
    "q_tfidf_cosine_pairs",
    "q_skipgram_cooccurrence",
    "q_embedding_truncation_recall",
]

_WORDS_SQL = f"""
    SELECT word FROM (
        SELECT unnest({TOKS_SQL}) AS word FROM documents
    ) WHERE word <> ''
"""


def _cms_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.cms import cms_oracle_sql

    return cms_oracle_sql(_WORDS_SQL)


@register("cms_token_counts", _cms_oracle())
def q_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over corpus word frequencies, probed with the
    exact top-20 words — the mergeable POINT-FREQUENCY sketch
    completing the profiling family (HLL distincts, KMV overlaps,
    CMS counts). Registers are md5-bucketed exact-integer sums
    (dataprep/cms.py), so DuckDB replays the estimate bit-for-bit and
    the one-sided error (cms_cnt ≥ exact_cnt) is visible per row."""
    from taxi_trips_etl_spark.dataprep.cms import cms_token_estimates

    return cms_token_estimates(_t(spark, sf_dir, "documents"))


def _kn_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.lm import kneser_ney_oracle_sql

    return kneser_ney_oracle_sql(TOKS_SQL)


@register("kneser_ney_bigram", _kn_oracle())
def q_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (D = 3/4) for the
    top-20 heads × top-3 successors — the smoothed counterpart of
    bigram_lm_topk's MLE (dataprep/lm.py: continuation-probability
    backoff as one integer-ratio expression; successor ranking compares
    integer numerators, never floats)."""
    from taxi_trips_etl_spark.dataprep.lm import kneser_ney_bigram_topk

    return kneser_ney_bigram_topk(_t(spark, sf_dir, "documents"))


def _tfidf_cos_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.sparse_sim import (
        tfidf_cosine_oracle_sql,
    )

    return tfidf_cosine_oracle_sql()


@register("tfidf_cosine_pairs", _tfidf_cos_oracle())
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF doc-doc cosine ≥ 0.30 via an inverted-index join
    with a 10%-df posting prune AND an absolute MAX_DF=500 posting cap
    (dataprep/sparse_sim.py) — the lexical same-topic/near-dup pair
    detector; join volume is Σ df², never n_docs². The absolute cap is
    the 100 TB knob (r12 decade sweep: the relative cap alone un-bounds
    Σ df² as the corpus grows — 4.5e9 candidate pairs at 10×); at the
    test SFs it is plan-identical because floor(0.10·n_docs) ≤ 500
    everywhere (50 at sf0.01, 500 at sf0.1), so the registered entry
    now EXERCISES the scale-safe configuration rather than documenting
    it beside the default. Integer-milli weights keep every sum exact;
    the cosine is one sqrt + one division (bit-identical
    cross-engine)."""
    from taxi_trips_etl_spark.dataprep.sparse_sim import tfidf_cosine_pairs

    return tfidf_cosine_pairs(_t(spark, sf_dir, "documents"))


def _skipgram_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.collocations import (
        skipgram_oracle_sql,
    )

    return skipgram_oracle_sql(TOKS_SQL)


@register("skipgram_cooccurrence", _skipgram_oracle())
def q_skipgram_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec-window co-occurrence counts (offsets 1-3, harmonic 6/d
    integer weights), top-100 pairs — the skip-gram matrix builder
    feeding embedding pretraining; complements pmi_collocations'
    adjacent-only bigrams (dataprep/collocations.py). Global cut is a
    TakeOrderedAndProject over the vocab² aggregate."""
    from taxi_trips_etl_spark.dataprep.collocations import (
        skipgram_cooccurrence,
    )

    return skipgram_cooccurrence(
        _t(spark, sf_dir, "documents")
    )


def _trunc_oracle() -> str:
    from taxi_trips_etl_spark.dataprep.similarity import (
        truncation_recall_oracle_sql,
    )

    return truncation_recall_oracle_sql()


@register("embedding_truncation_recall", _trunc_oracle())
def q_embedding_truncation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Matryoshka truncation audit: recall@10 of prefix-truncated
    (d = 16, 32) brute-force cosine vs full-width truth over 20 probe
    queries (dataprep/similarity.py:truncation_recall) — measures how
    far vectors can shrink before ANN quality pays, the sibling audit
    to ann_recall_at_k's IVF check."""
    from taxi_trips_etl_spark.dataprep.similarity import truncation_recall

    return truncation_recall(_t(spark, sf_dir, "embeddings"))
