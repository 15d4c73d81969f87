"""End-to-end corpus preparation: the composed LLM-data pipeline.

quality filter → exact dedup (canonical id wins) → near-dup removal
(Jaccard-verified pairs, keep the lower id) → token-window chunking →
leak-proof hash split. Every stage is one of this repo's operators;
composing them stays one lazy Catalyst plan, so filters prune before
the expensive near-dup join and nothing materializes between stages.

Near-dup policy note: dropping ``doc_id_b`` of every qualifying pair is
the deterministic keep-first rule — for duplicate CLIQUES it can drop
more than a connected-components canonicalization would keep, which is
the usual (and safe) bias for training data. True connected-components
canonicalization needs an iterative algorithm — see clustering.py for
the driver-loop pattern if needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize

from taxi_trips_etl_spark.dataprep.dedup import (
    exact_duplicates,
    ngram_jaccard_pairs,
)
from taxi_trips_etl_spark.dataprep.sampling import train_test_split
from taxi_trips_etl_spark.dataprep.text import chunk_documents, quality_scores

TOKEN_BUDGET = 100_000  # prepare_corpus_v3's apportioned tokens


def prepare_corpus(
    docs: DataFrame,
) -> DataFrame:
    """→ (doc_id, chunk_id, chunk_hash, chunk_tokens, split)."""
    q_ok = quality_scores(docs).filter(
        F.col("quality_score") >= 0.75
    ).select("doc_id")
    # Same survivor-checkpoint posture as v2/v3 below: `kept` feeds the
    # exact-dedup pass AND the canonical join, `kept2` feeds the
    # near-dup self-join AND the anti-join — all with zero
    # ReusedExchange, so the lazy plan re-derived the quality-gate
    # lineage per consumer (r13: docs scans 8 → 2). One checkpoint per
    # stage = one computation of it; at 100 TB this is reading the
    # corpus twice instead of eight times.
    kept = docs.join(q_ok, "doc_id").transform(materialize, eager=False)
    canon = exact_duplicates(kept).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    kept2 = kept.join(canon, "doc_id").transform(materialize, eager=False)
    near_dups = (
        ngram_jaccard_pairs(kept2, threshold=0.8)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
    )
    kept3 = kept2.join(near_dups, "doc_id", "left_anti")
    chunks = chunk_documents(kept3)
    # Split on doc_id, not chunk id: all chunks of a document land on
    # the same side — no near-dup leakage across the boundary.
    return train_test_split(chunks).select(
        "doc_id",
        "chunk_id",
        F.md5("chunk_text").alias("chunk_hash"),
        "chunk_tokens",
        "split",
    )


def prepare_corpus_v2(
    docs: DataFrame,
) -> DataFrame:
    """The modern pre-training recipe, composed end to end as ONE lazy
    plan: C4 rule gate → PII scrub → exact dedup (on scrubbed text) →
    benchmark decontamination (the doc_id%20==0 slice acts as the eval
    set and is excluded from the corpus) → vocabulary build → tokenize
    → sequence packing → leak-proof hash split.

    → (doc_id, token_ids, n_tokens, n_unk, start_offset, first_seq,
       last_seq, n_seqs, split)

    Composition is the point: every stage is an operator from this
    repo, filters prune before the expensive joins, the vocab is built
    on the SURVIVING corpus (no leakage of dropped/eval text into the
    token space), and packing runs on the final doc set so offsets are
    dense. The survivor set is checkpointed once (three consumers
    would otherwise recompute the whole upstream lineage).
    """
    from taxi_trips_etl_spark.dataprep.packing import pack_sequences
    from taxi_trips_etl_spark.dataprep.text import (
        build_vocab,
        c4_quality_filter,
        ngram_decontaminate,
        pii_scrub,
        tokenize_with_vocab,
    )

    # Every pre-survivor stage below feeds TWO consumers (gated → the
    # PII pass and the drop-text join; scrubbed → the exact-dedup pass
    # and the canonical join; kept2 → the decontaminate pass and the
    # anti-join) with zero ReusedExchange, so inside the survivor
    # checkpoint's fill the lazy plan re-derived gated up to 8× (r13
    # measured: the fill dominated the entry at ~2× the post-fix
    # cost). One checkpoint per stage = one computation of it — the
    # same ledger as the kept3 checkpoint itself.
    gated = docs.join(
        c4_quality_filter(docs).filter(F.col("keep") == 1).select("doc_id"),
        "doc_id",
    ).transform(materialize, eager=False)
    scrubbed = gated.drop("text").join(
        pii_scrub(gated).select(
            "doc_id", F.col("scrubbed_text").alias("text")
        ),
        "doc_id",
    ).transform(materialize, eager=False)
    canon = exact_duplicates(scrubbed).select(
        F.col("canonical_doc_id").alias("doc_id")
    )
    kept2 = scrubbed.join(canon, "doc_id").filter(
        F.col("doc_id") % 20 != 0
    ).transform(materialize, eager=False)
    eval_docs = docs.filter(F.col("doc_id") % 20 == 0)
    contaminated = (
        ngram_decontaminate(kept2, eval_docs)
        .select("doc_id")
        .distinct()
    )
    # Three downstream consumers (vocab, tokenize, pack) would each
    # recompute the gate→scrub→dedup→decontaminate lineage — the
    # measured plan re-scans the corpus ~100× with zero
    # ReusedExchange. One checkpoint = one computation; at 100 TB
    # this is the difference between reading the corpus once and
    # three times (same ledger as the flagship auto-cache).
    kept3 = kept2.join(contaminated, "doc_id", "left_anti").transform(
        materialize, eager=False
    )
    tok = tokenize_with_vocab(kept3, build_vocab(kept3, 500))
    pack = pack_sequences(kept3, seq_len=128).drop("n_tokens")
    return train_test_split(tok.join(pack, "doc_id")).select(
        "doc_id",
        "token_ids",
        "n_tokens",
        "n_unk",
        "start_offset",
        "first_seq",
        "last_seq",
        "n_seqs",
        "split",
    )


def prepare_corpus_v3(
    docs: DataFrame,
) -> DataFrame:
    """The round-4/5 curation recipe composed end to end: linear
    quality-classifier gate → exact dedup → benchmark decontamination
    → largest-remainder token budgeting per source.

    → (source, n_docs, available_tokens, alloc_tokens)

    Complements v2 (which exercises the rule-gate → scrub → vocab →
    pack path): v3 is the MODEL-DRIVEN curation path — a hashed-
    feature classifier decides keep/drop, survivors dedup and
    decontaminate, and the final mixture is an integer-exact Hamilton
    apportionment of the token budget over what actually survived
    (weights renormalized over SURVIVING sources — a source filtered
    to zero must not strand budget). Every stage is an existing
    operator; the corpus is scanned once up to the survivor
    checkpoint, then only vocab-sized tables move.
    """
    from taxi_trips_etl_spark.dataprep.text import (
        feature_hash_counts,
        ngram_decontaminate,
    )

    feats = feature_hash_counts(docs)
    w_int = (F.col("bucket") * 37 + 11) % 21 - 10
    gate = (
        feats.groupBy("doc_id")
        .agg(F.sum(F.col("n") * w_int).alias("margin_scaled"))
        .filter(F.col("margin_scaled") > 0)
        .select("doc_id")
    )
    # Same pre-survivor checkpoint ledger as v2 above: gated feeds the
    # exact-dedup pass AND the canonical join, kept2 the decontaminate
    # pass AND the anti-join — materialize each so the classifier-gate
    # lineage runs once, not 4×, inside the survivor fill.
    gated = docs.join(gate, "doc_id").transform(materialize, eager=False)
    kept2 = (
        gated.join(
            exact_duplicates(gated).select(
                F.col("canonical_doc_id").alias("doc_id")
            ),
            "doc_id",
        )
        .filter(F.col("doc_id") % 20 != 0)
        .transform(materialize, eager=False)
    )
    eval_docs = docs.filter(F.col("doc_id") % 20 == 0)
    contaminated = (
        ngram_decontaminate(kept2, eval_docs)
        .select("doc_id")
        .distinct()
    )
    kept3 = kept2.join(contaminated, "doc_id", "left_anti").transform(
        materialize, eager=False
    )

    # r13: the apportionment epilogue below references this aggregate
    # through calc twice (leftover + ranked) and through wsum — without
    # a checkpoint each reference re-reads the corpus-sized survivor
    # blocks to rebuild a source-grain table; materialized, everything
    # after this line is aggregate-scale (guide §2.4).
    avail = (
        kept3.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")))
            .cast("long")
            .alias("available_tokens"),
        )
        .transform(materialize, eager=False)
    )
    weighted = avail.withColumn(
        "w",
        F.when(
            F.col("source").isin("src0", "src1", "src2", "src3", "src4"), 3
        )
        .when(
            F.col("source").isin("src5", "src6", "src7", "src8", "src9"), 2
        )
        .otherwise(1),
    )
    wsum = weighted.agg(F.sum("w").alias("wsum"))
    calc = (
        weighted.crossJoin(F.broadcast(wsum))
        .withColumn("base", F.expr(f"({TOKEN_BUDGET} * w) div wsum"))
        .withColumn("rem", F.expr(f"({TOKEN_BUDGET} * w) % wsum"))
    )
    leftover = calc.agg((F.lit(TOKEN_BUDGET) - F.sum("base")).alias("leftover"))
    from pyspark.sql import Window as W

    ranked = calc.crossJoin(F.broadcast(leftover)).withColumn(
        "rr", F.row_number().over(W.orderBy(F.col("rem").desc(), "source"))
    )
    return ranked.select(
        "source",
        "n_docs",
        "available_tokens",
        (
            F.col("base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
    )
