# Round-5 batch: the two TPC-H shapes the registry still lacked
# (Q16 parts/supplier relationship, Q20 potential-promotion suppliers),
# plus training-data-pipeline ops: largest-remainder domain token
# budgeting, curriculum interleaving, distributed BPE encoding with a
# fixed merge table, and n-gram CONTAINMENT dedup (doc-inside-doc).
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F  # noqa: F401

from taxi_trips_etl_spark.dataprep import dedup  # noqa: F401
from taxi_trips_etl_spark.queries._registry import (  # noqa: F401
    GRAMS_SQL,
    TOKS_SQL,
    _events,
    _t,
    register,
)


@register(
    "tpch_parts_supplier_cnt",
    """
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                            WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_parts_supplier_cnt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (adapted — no partsupp: lineitem's observed
    (part, supplier) pairs stand in for the partsupp relationship; the
    'customer complaints' supplier exclusion becomes the negative-
    balance suppliers). Plan: broadcast the filtered part dim and the
    tiny excluded-supplier list (NOT IN → broadcast LEFT ANTI — exact
    here because s_suppkey is non-null), one shuffle for the distinct
    agg. At 100 TB the anti side stays a broadcast (it is a filtered
    dim), so the fact table is scanned once with no extra shuffle."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & ~F.col("p_type").startswith("PROMO")
            & F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    bad = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(bad, li["l_suppkey"] == bad["s_suppkey"], "left_anti")
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


@register(
    "tpch_promotion_candidates",
    """
    WITH shipped AS (
        SELECT l_partkey, l_suppkey,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        FROM lineitem GROUP BY 1, 2
    ),
    tot AS (
        SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS total_qty
        FROM shipped GROUP BY 1
    )
    SELECT DISTINCT s.s_suppkey, s.s_name
    FROM shipped sh
    JOIN tot USING (l_partkey)
    JOIN part p ON sh.l_partkey = p.p_partkey
    JOIN supplier s ON sh.l_suppkey = s.s_suppkey
    WHERE p.p_name LIKE 'small%' AND 6 * sh.qty > tot.total_qty
    """,
)
def q_tpch_promotion_candidates(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TPC-H Q20 shape (adapted — no partsupp.availqty: a supplier is a
    promotion candidate when it shipped an outsized share of a 'small%'
    part's total shipped quantity -- a sixth, adapted so the synthetic
    data's flatter supplier shares yield candidates). The correlated threshold
    decorrelates into agg → re-agg → join, all keyed on l_partkey so
    AQE can plan the second agg shuffle-free; quantities sum as exact
    integers and the threshold is integer 6·qty > total (no float
    share arithmetic).
    """
    li = _t(spark, sf_dir, "lineitem")
    # shipped feeds both the per-part total and the final join (two
    # lineitem passes in the lazy plan). Deliberately NOT checkpointed
    # (r13 measured the materialize at 1.24 → 1.65 s, both interleaved
    # A/B rounds lost): the (partkey, suppkey) grain barely collapses
    # this fact table, so filling a near-fact-sized checkpoint costs
    # more than re-scanning three column-pruned parquet columns — the
    # same math holds at 100 TB.
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("long")).cast("long").alias("qty")
    )
    tot = shipped.groupBy("l_partkey").agg(
        F.sum("qty").cast("long").alias("total_qty")
    )
    p = F.broadcast(
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").startswith("small"))
        .select("p_partkey")
    )
    s = F.broadcast(
        _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    )
    return (
        shipped.join(tot, "l_partkey")
        .join(p, F.col("l_partkey") == p["p_partkey"])
        .filter(6 * F.col("qty") > F.col("total_qty"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select("s_suppkey", "s_name")
        .distinct()
    )


# Largest-remainder (Hamilton) apportionment of a token budget across
# sources: THE deterministic way to turn mixture weights into integer
# per-domain token quotas for a training run. Integer-exact end to end:
# base = ⌊B·w/W⌋ via integer div, the B − Σbase leftovers go to the
# largest remainders (ties by source name).
_BUDGET = 100_000
_WSUM = 35  # 5 sources × 3 + 5 × 2 + 10 × 1


@register(
    "domain_token_budgets",
    f"""
    WITH avail AS (
        SELECT source,
               CAST(sum(len({TOKS_SQL})) AS BIGINT) AS available_tokens
        FROM documents GROUP BY 1
    ),
    wts AS (
        SELECT source, available_tokens,
               CASE WHEN source IN ('src0','src1','src2','src3','src4')
                    THEN 3
                    WHEN source IN ('src5','src6','src7','src8','src9')
                    THEN 2 ELSE 1 END AS w
        FROM avail
    ),
    calc AS (
        SELECT *, ({_BUDGET} * w) // {_WSUM} AS base,
               ({_BUDGET} * w) % {_WSUM} AS rem
        FROM wts
    ),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr
        FROM calc
    )
    SELECT source, available_tokens,
           CAST(base + CASE WHEN rr <= ({_BUDGET} -
                  (SELECT sum(base) FROM calc)) THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM ranked
    """,
)
def q_domain_token_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder token budgeting per source. Scale shape: ONE
    narrow agg over the corpus (source, token count — map-side
    combinable), then all apportionment arithmetic runs on the
    n_sources-row table (a broadcast of a 1-row leftover agg, a 20-row
    window). The corpus is touched exactly once."""
    docs = _t(spark, sf_dir, "documents")
    avail = docs.groupBy("source").agg(
        F.sum(F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")))
        .cast("long")
        .alias("available_tokens")
    )
    calc = (
        avail.withColumn(
            "w",
            F.when(
                F.col("source").isin("src0", "src1", "src2", "src3", "src4"),
                3,
            )
            .when(
                F.col("source").isin("src5", "src6", "src7", "src8", "src9"),
                2,
            )
            .otherwise(1),
        )
        .withColumn("base", F.expr(f"({_BUDGET} * w) div {_WSUM}"))
        .withColumn("rem", F.expr(f"({_BUDGET} * w) % {_WSUM}"))
    )
    leftover = calc.agg(
        (F.lit(_BUDGET) - F.sum("base")).alias("leftover")
    )
    ranked = calc.crossJoin(F.broadcast(leftover)).withColumn(
        "rr",
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "source")),
    )
    return ranked.select(
        "source",
        "available_tokens",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )


@register(
    "curriculum_interleave",
    """
    WITH scored AS (
        SELECT doc_id,
               ntile(10) OVER (ORDER BY n_chars DESC, doc_id) AS decile
        FROM documents
    ),
    pos AS (
        SELECT doc_id, decile,
               row_number() OVER (PARTITION BY decile
                                  ORDER BY doc_id) AS pos
        FROM scored
    )
    SELECT CAST(row_number() OVER (ORDER BY pos, decile) AS BIGINT)
               AS curriculum_rank,
           doc_id, CAST(decile AS BIGINT) AS decile
    FROM pos
    """,
)
def q_curriculum_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-decile curriculum ordering: bucket docs into score
    deciles (score = n_chars here; swap in any quality column), then
    interleave round-robin across deciles so every training shard sees
    the full quality spectrum. The windows run on the (doc_id, score)
    PAIRS ONLY — column-pruned to 16 bytes/doc, so even a billion-doc
    metadata table is a few GB through the sort; the corpus text never
    moves. At extreme scale swap ntile for approx-percentile cutpoints
    to avoid the global sort entirely."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    scored = d.withColumn(
        "decile",
        F.ntile(10).over(Window.orderBy(F.col("n_chars").desc(), "doc_id")),
    )
    pos = scored.withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("decile").orderBy("doc_id")
        ),
    )
    return pos.select(
        F.row_number()
        .over(Window.orderBy("pos", "decile"))
        .cast("long")
        .alias("curriculum_rank"),
        "doc_id",
        F.col("decile").cast("long").alias("decile"),
    )


# Fixed BPE merge table (rank-ordered), applied greedily one rank at a
# time. Learning merges is bpe_learn_merges (rows-only, data-dependent
# iteration); APPLYING a frozen merge table is the hot-path tokenizer
# operation and is fully SQL-replayable: each merge rank is a string
# replace over the space-separated symbol sequence, run twice so
# boundary-sharing repeats (". a b a b ." needs a second pass after the
# first replace consumes the shared separator) reach the same fixpoint
# in both engines.
_BPE_MERGES = (
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"),
    ("s", "l"), ("sl", "o"), ("slo", "w"), ("a", "n"),
)


def _bpe_chain(seq_expr: str) -> str:
    e = seq_expr
    for a, b in _BPE_MERGES:
        pat, rep = f" {a} {b} ", f" {a}{b} "
        e = f"replace({e}, '{pat}', '{rep}')"
        e = f"replace({e}, '{pat}', '{rep}')"
    return e


_BPE_SEQ0_DUCK = (
    "concat(' ', rtrim(regexp_replace(word, '(.)', '\\1 ', 'g')), ' ')"
)
_BPE_ORACLE = f"""
    WITH words AS (
        SELECT doc_id, unnest({TOKS_SQL}) AS word FROM documents
    ),
    enc AS (
        SELECT doc_id, {_bpe_chain(_BPE_SEQ0_DUCK)} AS seq
        FROM words WHERE word <> ''
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(string_split(trim(seq), ' '))) AS BIGINT)
               AS n_bpe_tokens
    FROM enc GROUP BY 1
    """


@register("bpe_apply_encode", _BPE_ORACLE)
def q_bpe_apply_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE ENCODE with a frozen merge table: per word,
    space-join the characters and fold the merge ranks as string
    replaces — pure JVM string expressions inside whole-stage codegen,
    no Python in the loop. → (doc_id, n_words, n_bpe_tokens). Scale
    shape: explode to words, one codegen map stage, one doc-keyed agg;
    the merge table rides in the PLAN (8 literal replaces), so a real
    50k-merge vocab would instead broadcast a merge map into a Pandas
    UDF — this entry pins the plan-embedded fast path."""
    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("word"),
    ).filter(F.col("word") != "")
    seq0 = "concat(' ', rtrim(regexp_replace(word, '(.)', '$1 ')), ' ')"
    enc = words.withColumn("seq", F.expr(_bpe_chain(seq0)))
    return enc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_words"),
        F.sum(F.size(F.split(F.trim(F.col("seq")), " ")))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


@register(
    "ngram_containment_pairs",
    f"""
    WITH g AS (SELECT doc_id, grams, len(grams) AS n FROM ({GRAMS_SQL})
               WHERE len(grams) > 0)
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / least(a.n, b.n), 6) AS containment
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE round(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                / least(a.n, b.n), 6) >= 0.6
    """,
)
def q_ngram_containment_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Doc-inside-doc duplication via n-gram containment — see
    dataprep/dedup.py:ngram_containment_pairs for the asymmetric
    prefix-filter exactness argument."""
    return dedup.ngram_containment_pairs(_t(spark, sf_dir, "documents"))
