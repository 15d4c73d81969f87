"""Text-analysis operators (BASELINE.json north-star surface).

Language-ID (stopword-count heuristic), quality scoring, token
counting, and document fingerprinting — all pure JVM column expressions
(split / higher-order lambdas / md5), so they are exactly reproducible
in the DuckDB oracle and run inside whole-stage codegen at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize

from taxi_trips_etl_spark.dataprep.dedup import tokens_col

BM25_K1, BM25_B = 1.2, 0.75  # the usual Okapi BM25 saturation and length norm
LOGPROB_BUCKETS = 4  # unigram_logprob_score's equi-width buckets
CHUNK_TOKENS = 50  # chunk_documents' window …
CHUNK_OVERLAP = 10  # … and its overlap (< CHUNK_TOKENS)
WINNOW_K = 8  # winnowing char k-gram …
WINNOW_W = 4  # … and window width
FEATURE_HASH_BUCKETS = 64
BIGRAM_HEADS = 20  # bigram_lm_topk's head words …
BIGRAM_NEXT_PER_HEAD = 3  # … and successors per head

# Tiny per-language stopword inventories for the n-gram/stopword
# language heuristic. Deterministic tie order: en > de > fr > es.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to"),
    "de": ("der", "die", "das", "und", "ist", "zu"),
    "fr": ("le", "la", "les", "et", "est", "de"),
    "es": ("el", "los", "las", "y", "es", "de"),
}


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: n_tokens, distinct tokens, mean token length.

    The BPE-ish variant (subword count estimate) approximates token
    count as ceil(chars/4) — the usual budget heuristic — alongside the
    whitespace count.
    """
    toks = tokens_col()
    tok_lens = F.transform(toks, F.length)
    sum_len = F.aggregate(tok_lens, F.lit(0).cast("long"), lambda a, x: a + x)
    return docs.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct_tokens"),
        F.round(sum_len / F.size(toks), 4).alias("avg_token_len"),
        F.ceil(F.length(F.col("text")) / 4).cast("long").alias("est_bpe_tokens"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """Quality scoring: length, alpha/space/punct ratios, stopword ratio,
    and a deterministic composite quality score in [0, 1]."""
    t = F.col("text")
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    n_space = F.length(F.regexp_replace(t, "[^ ]", ""))
    toks = tokens_col()
    n_tokens = F.size(toks)
    en_stop = list(LANG_STOPWORDS["en"])
    n_stop = F.size(F.filter(toks, lambda x: x.isin(en_stop)))
    alpha_ratio = F.round(n_alpha / n_chars, 4)
    space_ratio = F.round(n_space / n_chars, 4)
    stop_ratio = F.round(n_stop / n_tokens, 4)
    quality = F.round(
        F.least(F.lit(1.0), n_tokens / F.lit(50.0)) * 0.4
        + alpha_ratio * 0.4
        + F.least(F.lit(1.0), stop_ratio * 5) * 0.2,
        4,
    )
    return docs.select(
        "doc_id",
        n_chars.cast("long").alias("n_chars_measured"),
        n_tokens.cast("long").alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        space_ratio.alias("space_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality_score"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """Stopword-overlap language heuristic → predicted_lang.

    Counts token occurrences per language inventory; argmax with a
    fixed tie order (en, de, fr, es); all-zero → 'und' (undetermined).
    """
    toks = tokens_col()

    def count_in(words: list[str]):
        # NB: the lambda must be unary — F.filter infers arity, so a
        # captured-default second parameter would bind the array index.
        return F.size(F.filter(toks, lambda x: x.isin(words)))

    counts = {lang: count_in(list(sw)) for lang, sw in LANG_STOPWORDS.items()}
    best = F.greatest(*counts.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in ("en", "de", "fr", "es"):  # fixed tie-break order
        pred = pred.when(counts[lang] == best, F.lit(lang))
    out = docs.select(
        "doc_id",
        *[c.cast("long").alias(f"n_{lang}") for lang, c in counts.items()],
        pred.alias("predicted_lang"),
    )
    return out


def clean_text(docs: DataFrame) -> DataFrame:
    """Normalization pass: lowercase, strip non-alphanumerics, collapse
    whitespace — the canonical pre-tokenization cleaner."""
    t = F.lower(F.col("text"))
    t = F.regexp_replace(t, "[^a-z0-9 ]", "")
    t = F.trim(F.regexp_replace(t, " +", " "))
    return docs.select(
        "doc_id",
        t.alias("clean_text"),
        F.length(t).cast("long").alias("clean_chars"),
        F.md5(t).alias("clean_hash"),
    )


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Split documents into overlapping token-window chunks.

    The LLM-ingest workhorse: chunk i covers tokens
    [i·stride, i·stride + CHUNK_TOKENS) with stride = CHUNK_TOKENS −
    CHUNK_OVERLAP.
    Pure JVM (sequence → explode → slice → concat_ws): a 100 TB corpus
    chunks in one narrow pass, no Python, output ~n_tokens/stride rows
    per doc.
    """
    chunk_tokens, overlap = CHUNK_TOKENS, CHUNK_OVERLAP
    stride = chunk_tokens - overlap
    toks = tokens_col()
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)) / F.lit(float(stride)))
    ).cast("int")
    with_chunks = docs.select(
        "doc_id",
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.slice(
        F.col("__toks"), F.col("chunk_id") * stride + 1, chunk_tokens
    )
    return with_chunks.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.concat_ws(" ", piece).alias("chunk_text"),
        F.size(piece).cast("long").alias("chunk_tokens"),
    )


def tf_idf_top_terms(docs: DataFrame) -> DataFrame:
    """Top-k characteristic terms per doc by smoothed TF-IDF.

    tf = term count in doc; idf = ln((N+1)/(df+1)) + 1 (sklearn-style
    smoothing, never zero). Posting-list shape: explode tokens once,
    aggregate (doc, term) counts, join the (term → df) side — both are
    partial-aggregated shuffles; nothing is per-row Python.
    """
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    posting = tokens_table(docs).select(
        "doc_id", F.explode(F.col("toks")).alias("term")
    )
    tf = posting.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = posting.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    n_docs = docs.count()  # scalar; cheap and exact
    scored = tf.join(df_, "term").select(
        "doc_id",
        "term",
        "tf",
        F.round(
            F.col("tf") * (F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1),
            6,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= 5)
        .select("doc_id", "term", "tf", "tfidf",
                F.col("term_rank").cast("long").alias("term_rank"))
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Document fingerprinting.

    - ``canon_fingerprint``: md5 of the sorted distinct token set —
      invariant to word order & repetition (near-dup canonicalization).
    - ``exact_fingerprint``: md5 of the raw text.
    """
    toks = tokens_col()
    canon = F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))
    return docs.select(
        "doc_id",
        canon.alias("canon_fingerprint"),
        F.md5(F.col("text")).alias("exact_fingerprint"),
    )

# ---------------------------------------------------------------------------
# PII scrubbing / lexical diversity / decontamination (round-2 surface)
# ---------------------------------------------------------------------------

# Engine-portable PII patterns: Java regex (Spark) and RE2 (DuckDB)
# agree on \b, \d, {m,n} and alternation-free character classes —
# deliberately no lookarounds (RE2 has none). Order matters: URLs
# first (they can embed '@'), then emails, IPs, phones.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Redact emails / URLs / IPv4s / phone numbers with typed
    placeholders — the standard pre-training privacy pass.

    Pure ``regexp_replace`` chain: whole-stage codegen, no Python, and
    the same patterns run verbatim in the DuckDB oracle (RE2-safe
    subset). ``pii_found`` = 1 when anything was redacted, so the
    downstream filter is a cheap integer predicate.
    """
    scrubbed = F.col("text")
    for pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed_text"),
        (F.col("text") != scrubbed).cast("long").alias("pii_found"),
    )


def lexical_diversity(docs: DataFrame) -> DataFrame:
    """Per-doc lexical-diversity / repetition signals: type-token
    ratio, top-token fraction (boilerplate/repetition detector), and
    unigram entropy (low entropy ⇒ templated or repeated text).

    Shape: explode tokens → (doc, token) counts → per-doc aggregate;
    H = log2(n) − Σ c·log2(c)/n avoids materializing probabilities.
    Both aggregates partial-combine map-side, so the shuffle carries
    (doc_id, token) counts, never raw text.
    """
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    tok = tokens_table(docs).select(
        "doc_id", F.explode("toks").alias("tok")
    )
    per = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("d"),
        F.max("c").alias("m"),
        F.sum(F.col("c") * F.log2("c")).alias("clogc"),
    )
    return agg.select(
        "doc_id",
        F.col("n").cast("long").alias("n_tokens"),
        F.col("d").cast("long").alias("n_distinct_tokens"),
        F.round(F.col("d") / F.col("n"), 4).alias("ttr"),
        F.round(F.col("m") / F.col("n"), 4).alias("top_token_frac"),
        F.round(F.log2("n") - F.col("clogc") / F.col("n"), 4).alias(
            "token_entropy"
        ),
    )


def ngram_decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any n-token
    shingle with an eval/benchmark doc → (doc_id, eval_doc_id) pairs.

    The canonical pre-training hygiene op (strip test-set leakage).
    Shape: both sides reduce to narrow (id, gram) posting relations;
    the overlap is ONE equi-join on the gram — never doc×doc. The eval
    side is typically tiny (benchmarks), so the join broadcasts it at
    scale; fanout is bounded by shared-gram multiplicity, and the
    distinct collapses multi-gram hits. Shingles are 5 tokens (13 is
    the common contamination shingle for web-scale corpora; 5 suits
    the short synthetic docs here). The join key is ``xxhash64`` of
    the shingle (8 fixed bytes through the exchange instead of the
    n-token string; a 2⁻⁶⁴ collision could flag one extra doc, which
    the raw-text oracles would catch).
    """
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table, word_ngrams

    def grams(df: DataFrame, id_alias: str) -> DataFrame:
        return (
            tokens_table(df)
            .select(
                F.col("doc_id").alias(id_alias),
                F.explode(word_ngrams(F.col("toks"), 5)).alias("gram"),
            )
            .select(id_alias, F.xxhash64("gram").alias("gram"))
        )

    corpus_g = grams(corpus, "doc_id")
    eval_g = grams(eval_docs, "eval_doc_id")
    return (
        corpus_g.join(eval_g, "gram")
        .filter(F.col("doc_id") != F.col("eval_doc_id"))
        .select("doc_id", "eval_doc_id")
        .distinct()
    )


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style n-gram repetition signals (Rae et al. 2021 §A1.1):
    per-doc top-bigram fraction and duplicate bigram/trigram fractions.
    High values ⇒ templated/boilerplate text a pre-training filter
    should drop.

    Shape: non-distinct n-grams (repetition is the signal, so unlike
    ``dedup.word_ngrams`` we keep duplicates) → explode → one
    partial-agg shuffle on (doc_id, n, gram) → per-doc conditional
    aggregate. Docs too short for a gram size keep zero fractions via
    the left join, so the row count is stable.
    """
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    toks = tokens_table(docs)

    def gram_structs(n: int):
        idx = F.sequence(F.lit(0), F.size("toks") - n)
        gram = lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("toks"), i + k + 1) for k in range(n)]
        )
        arr = F.when(
            F.size("toks") >= n, F.transform(idx, gram)
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(
            arr,
            lambda g: F.struct(
                F.lit(n).alias("gram_n"), g.alias("gram")
            ),
        )

    # ONE tokenize pass for both gram sizes: the old unionAll of
    # grams(2) and grams(3) re-ran the whole scan→tokenize spine per
    # branch (r13: documents scans 3 → 2, tokenize passes 2 → 1) —
    # instead both tagged gram arrays concatenate per row and explode
    # once; the (doc_id, gram_n, gram) rows reaching the aggregate are
    # identical, just not branch-ordered, which groupBy ignores.
    counts = (
        toks.select(
            "doc_id",
            F.explode(
                F.concat(gram_structs(2), gram_structs(3))
            ).alias("g"),
        )
        .select("doc_id", F.col("g.gram_n").alias("gram_n"), F.col("g.gram").alias("gram"))
        .groupBy("doc_id", "gram_n", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = counts.groupBy("doc_id", "gram_n").agg(
        F.sum("c").alias("n"),
        F.max("c").alias("m"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias("dup"),
    )

    def pick(n: int, col: str):
        return F.max(F.when(F.col("gram_n") == n, F.col(col)))

    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.coalesce(pick(2, "n"), F.lit(0)).cast("long").alias("n_bigrams"),
            F.round(
                F.coalesce(pick(2, "m") / pick(2, "n"), F.lit(0.0)), 4
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce(pick(2, "dup") / pick(2, "n"), F.lit(0.0)), 4
            ).alias("dup_bigram_frac"),
            F.coalesce(pick(3, "n"), F.lit(0)).cast("long").alias("n_trigrams"),
            F.round(
                F.coalesce(pick(3, "dup") / pick(3, "n"), F.lit(0.0)), 4
            ).alias("dup_trigram_frac"),
        )
    )


def build_vocab(docs: DataFrame, vocab_size: int = 1000) -> DataFrame:
    """Tokenizer-prep vocabulary: global token counts → top-``vocab_size``
    terms with dense ids → (token, token_id, n_occurrences).

    Shape: explode → one partial-agg shuffle on token (hot tokens like
    'the' are fine — partial combine collapses them map-side) →
    ``TakeOrderedAndProject`` top-V (parallel per-partition top-k, no
    global sort of the full term table) → row_number over the V
    surviving rows only. Ties break lexicographically so ids are
    deterministic across engines and reruns.
    """
    if vocab_size < 1:
        raise ValueError(f"build_vocab needs vocab_size >= 1, got {vocab_size}")
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    counts = (
        tokens_table(docs)
        .select(F.explode("toks").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("token")).limit(
        vocab_size
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("token"))
    return top.select(
        "token",
        (F.row_number().over(w) - 1).cast("long").alias("token_id"),
        F.col("n_occurrences").cast("long"),
    )


def c4_quality_filter(docs: DataFrame) -> DataFrame:
    """C4-style rule gate (Raffel et al. 2020 §2.2, adapted to the
    whitespace tokenizer): keep docs that pass ALL of
      - >= 5 tokens and <= 10 000 tokens,
      - mean token length in [2, 12] (drops symbol soup / DNA-like),
      - < 30% of characters are non-alphanumeric-non-space,
      - no token longer than 40 chars (URL/base64 blobs).
    Emits per-rule booleans so the gate is auditable, plus the verdict.
    Pure column expressions — codegen end to end, filter pushes to scan.
    """
    toks = tokens_col()
    n_tokens = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    mean_len = sum_len / n_tokens
    n_chars = F.length(F.col("text"))
    n_weird = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", ""))
    max_tok = F.array_max(F.transform(toks, F.length))
    rules = {
        "ok_n_tokens": (n_tokens >= 5) & (n_tokens <= 10000),
        "ok_mean_len": (mean_len >= 2) & (mean_len <= 12),
        "ok_symbols": n_weird < n_chars * 0.3,
        "ok_max_tok": max_tok <= 40,
    }
    out = docs.select(
        "doc_id",
        *[v.cast("long").alias(k) for k, v in rules.items()],
    )
    verdict = None
    for k in rules:
        c = F.col(k) == 1
        verdict = c if verdict is None else (verdict & c)
    return out.withColumn("keep", verdict.cast("long"))


def tokenize_with_vocab(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Apply a vocabulary (from :func:`build_vocab`) to the corpus →
    per-doc id sequences. OOV tokens map to -1 (the unk id).

    The distributed tokenizer-apply shape: posexplode tokens →
    broadcast-join the vocab (it's top-V rows — always broadcastable)
    → reassemble in position order with one groupBy. Emits the id
    sequence as a space-joined string plus counts; the shuffle carries
    (doc_id, pos, id) ints, never text.
    """
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    pos = tokens_table(docs).select(
        "doc_id", F.posexplode("toks").alias("pos", "token")
    )
    joined = pos.join(
        F.broadcast(vocab.select("token", "token_id")), "token", "left"
    ).select(
        "doc_id",
        "pos",
        F.coalesce(F.col("token_id"), F.lit(-1)).cast("long").alias("tid"),
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "tid"))
            ).alias("_a"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum((F.col("tid") == -1).cast("long")).alias("n_unk"),
        )
        .select(
            "doc_id",
            F.array_join(
                F.transform("_a", lambda s: s["tid"].cast("string")), " "
            ).alias("token_ids"),
            F.col("n_tokens").cast("long"),
            F.col("n_unk").cast("long"),
        )
    )


def dedup_stats_by_source(docs: DataFrame) -> DataFrame:
    """Dedup observability: per source, doc count, distinct-text count,
    and duplicate rate — the dashboard numbers a corpus pipeline
    watches to catch a crawler re-ingesting a domain.

    Two partial-agg passes over (source, md5) — text never shuffles.
    """
    per_text = docs.groupBy(
        "source", F.md5(F.col("text")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    return (
        per_text.groupBy("source")
        .agg(
            F.sum("c").alias("n_docs"),
            F.count(F.lit(1)).alias("n_unique_texts"),
            F.sum(F.col("c") - 1).alias("n_dup_docs"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long"),
            F.col("n_unique_texts").cast("long"),
            F.round(F.col("n_dup_docs") / F.col("n_docs"), 4).alias(
                "dup_rate"
            ),
        )
    )


def winnowing_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03 —
    the MOSS local-similarity scheme): hash every char k-gram
    (k = WINNOW_K), slide a w-hash window (w = WINNOW_W), keep each
    window's minimum → a guaranteed-coverage fingerprint subset (any
    shared substring of length ≥ k+w−1 shares a fingerprint).

    Per-gram hashing is md5-based (engine-portable) rather than a true
    rolling polynomial — selection semantics are identical.

    Shape note (the lambda-inlining trap): computing window minima as
    ``transform(seq, i -> array_min(slice(grams, i, w)))`` re-inlines
    the WHOLE grams expression into every window element — O(n·w)
    md5 evaluations per doc (measured 157s vs 2s at sf0.01). The
    explode is a Generate boundary Catalyst cannot collapse through,
    so each gram hashes exactly once; the windowed min then runs
    per-doc (partitioned, ordered by gram position — parallel at any
    corpus size). Output is the join-able (doc_id, fp) posting shape
    every other dedup operator here uses.
    """
    k, w = WINNOW_K, WINNOW_W
    t = F.lower(F.col("text"))
    n_grams = (F.length(t) - k + 1).cast("int")
    # Explode POSITIONS, not a prebuilt gram array: inside a transform
    # lambda, loop-invariant subexpressions (the lower()ed text) are
    # re-evaluated per element — O(n²) chars per doc. After the
    # Generate, `_s` is a materialized column and each output row does
    # O(k) work: one substr + one md5.
    # A small corpus arrives as one parquet split; repartition ahead
    # of the CPU-bound gram expansion (same rationale as dedup.spread)
    # so the O(n_grams) explode runs on every core.
    base = docs.filter(n_grams >= w).repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )
    exploded = base.select(
        "doc_id",
        n_grams.alias("_n"),
        t.alias("_s"),
        F.explode(F.sequence(F.lit(1), n_grams)).alias("i"),
    )
    gh = F.conv(
        F.substring(F.md5(F.col("_s").substr(F.col("i"), F.lit(k))), 1, 8),
        16,
        10,
    ).cast("long")
    hashed = exploded.select("doc_id", "_n", F.col("i").alias("pos"), gh.alias("gh"))
    w_win = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    return (
        hashed.select(
            "doc_id",
            "pos",
            "_n",
            F.min("gh").over(w_win).alias("fp"),
        )
        .filter(F.col("pos") <= F.col("_n") - w + 1)
        .select("doc_id", "fp")
        .distinct()
    )


def winnowing_near_dup_pairs(
    docs: DataFrame,
) -> DataFrame:
    """Local-similarity near-dup pairs: docs sharing ≥ 3 DISTINCT
    winnowing fingerprints (k = 8, w = 4), each appearing in at most
    50 documents → (doc_id_a, doc_id_b, n_shared).

    Complements MinHash (whole-document resemblance): winnowing hits
    PARTIAL overlap — a copied paragraph inside an otherwise-different
    doc — because any shared ≥(k+w−1)-char run shares a fingerprint.

    Two rules make the fp equi-join survive corpus growth (without
    them this operator measured QUADRATIC on the 10× scale rig —
    Σ posting² grew 94×, runtime 96×):

    - postings are DISTINCT (doc_id, fp) — overlapping windows
      re-selecting the same minimum must not multiply pair weight;
    - fingerprints in more than max_df = 50 docs are dropped before
      pairing — MOSS's "ignore matches common to many documents"
      rule. A substring a constant FRACTION of the corpus contains
      (a ubiquitous idiom) has a posting list that grows WITH the
      corpus, so its pair contribution grows quadratically while its
      discriminative value is zero. The cutoff caps per-fp pair work
      at max_df², making total work ≤ max_df · |postings| — linear.
    """
    fps = winnowing_fingerprints(docs).distinct()
    rare = (
        fps.withColumn(
            "df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
        )
        .filter(F.col("df") <= 50)
        .drop("df")
    )
    # Checkpoint: self-joins get no ReusedExchange, so both sides would
    # recompute the windowed fingerprint selection from the corpus scan.
    rare = rare.transform(materialize, eager=False)
    return (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 3)
    )


def gopher_quality_filter(docs: DataFrame) -> DataFrame:
    """Gopher rule gate (Rae et al. 2021, App. A "quality filtering",
    adapted to the whitespace tokenizer and this corpus's short docs):
    keep docs that pass ALL of
      - word count in [10, 100 000],
      - mean word length in [2, 10],
      - symbol-to-word ratio (# or ...) < 0.1,
      - >= 80% of words contain at least one alphabetic character,
      - >= 2 distinct English stopwords present (the, be, to, of, and,
        that, have, with) — the "is it natural language at all" probe.
    Per-rule booleans emitted for auditability, like c4_quality_filter.
    Pure column expressions: codegen end to end at any scale.
    """
    toks = tokens_col()
    n_words = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, F.length), F.lit(0).cast("long"), lambda a, x: a + x
    )
    mean_len = sum_len / n_words
    n_symbols = (
        F.size(F.filter(toks, lambda t: t.contains("#") | t.contains("...")))
    )
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(toks), F.array(*[F.lit(s) for s in stops])
        )
    )
    rules = {
        "ok_word_count": (n_words >= 10) & (n_words <= 100000),
        "ok_mean_word_len": (mean_len >= 2) & (mean_len <= 10),
        "ok_symbol_ratio": n_symbols < n_words * 0.1,
        "ok_alpha_words": n_alpha >= n_words * 0.8,
        "ok_stopwords": n_stop >= 2,
    }
    out = docs.select(
        "doc_id", *[v.cast("long").alias(k) for k, v in rules.items()]
    )
    verdict = None
    for k in rules:
        c = F.col(k) == 1
        verdict = c if verdict is None else (verdict & c)
    return out.withColumn("keep", verdict.cast("long"))


def dup_ngram_coverage(docs: DataFrame, n: int = 8) -> DataFrame:
    """Duplicated-span diagnostics (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better"): per doc, the fraction
    of its distinct n-grams that also occur in at least one OTHER doc.
    High coverage → the doc is largely boilerplate/copy.

    Shape at 100 TB: explode distinct n-grams (bounded by doc length),
    ONE shuffle keyed on the 128-bit gram hash — the per-gram doc count
    is a count() window over that partitioning ((doc, gram) pairs are
    already distinct, so no countDistinct two-phase agg and no
    join-back; the naive groupBy(gram)+join shape costs two more
    exchanges of the same stream). Hashing the gram to a 64-bit
    xxhash64 long before the exchange shuffles 8 fixed bytes instead
    of the raw n-gram text (~20× fewer shuffle bytes at n=8, and the
    hash itself is ~an order cheaper than md5 — it dominated this
    plan's profile). A collision merges two different grams' doc
    counts (~2⁻⁶⁴ per gram pair; the raw-text oracle would catch it).
    Hot grams (boilerplate) are the known skew hazard; the
    distinct-per-doc explode caps a single doc's contribution at its
    gram count.
    """
    from taxi_trips_etl_spark.dataprep.dedup import (
        tokens_table,
        word_ngrams,
    )

    # Build shingles over tokens_table's exchange-barriered token
    # array (round 8): the previous inline tokens_col slice inside the
    # transform lambda re-evaluated the regex split per reference —
    # the exact CollapseProject trap tokens_table exists to prevent.
    # Hash above the Generate so gram strings never leave the stage.
    grams = (
        tokens_table(docs)
        .select(
            "doc_id",
            F.explode(word_ngrams(F.col("toks"), n)).alias("gram"),
        )
        .select("doc_id", F.xxhash64("gram").alias("gram"))
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    return (
        grams.withColumn("n_docs", n_docs)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_dup_grams"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_dup_grams",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 4).alias(
                "dup_coverage"
            ),
        )
    )


def dsir_importance_weights(
    docs: DataFrame,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling", simplified to
    unigram features): weight(doc) = mean over tokens of
    log(p_target(w) / p_raw(w)), with add-one smoothing over the raw
    vocabulary. Docs that look like the target domain get high weight;
    resampling by weight skews a generic crawl toward the domain.

    Shape: token explode → ONE (token) partial-agg computing both
    conditional counts via count-if — the target and raw models come
    out of a single shuffle, not two scans. The per-token log-ratio
    table is vocabulary-sized (small); it broadcasts back onto the
    token stream.
    """
    toks = (
        docs.select(
            "doc_id",
            (F.col("source") == "src0").alias("is_target"),
            F.explode(tokens_col()).alias("tok"),
        )
    )
    # Single-pass model fit: per-token target/raw counts. The model is
    # consumed twice (totals + the ratio projection), re-running the
    # tokenize→groupBy spine per consumer — examined in r13 and LEFT
    # UNCHECKPOINTED: the checkpoint perturbs the doc-mean's float
    # summation order just enough to flip a rounded 0.0 to -0.0 at
    # sf0.1 (this entry's score is a float avg, not the registry's
    # usual integer-quantized sum, so oracle equality is tied to the
    # shipped plan's order).
    model = toks.groupBy("tok").agg(
        F.sum(F.col("is_target").cast("long")).alias("n_t"),
        F.count(F.lit(1)).alias("n_all"),
    )
    totals = model.agg(
        F.sum("n_t").alias("tot_t"),
        F.sum("n_all").alias("tot_all"),
        F.count(F.lit(1)).alias("vocab"),
    )
    ratio = model.crossJoin(F.broadcast(totals)).select(
        "tok",
        (
            F.log((F.col("n_t") + 1) / (F.col("tot_t") + F.col("vocab")))
            - F.log((F.col("n_all") + 1) / (F.col("tot_all") + F.col("vocab")))
        ).alias("log_ratio"),
    )
    return (
        toks.join(F.broadcast(ratio), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            # + 0.0 canonicalizes -0.0 → 0.0 (the only value it
            # changes): the mean's summation order is plan-dependent,
            # so a ~0 score can otherwise round to -0.0 on one engine
            # and 0.0 on the other (observed at sf0.1). The oracle
            # applies the same normalization.
            (F.round(F.avg("log_ratio"), 6) + F.lit(0.0)).alias(
                "importance_weight"
            ),
        )
    )


def unigram_logprob_score(docs: DataFrame) -> DataFrame:
    """Perplexity-proxy bucketing (CCNet, Wenzek et al. 2020, with a
    corpus-fit unigram LM standing in for KenLM — no LM binaries in
    this container, and the bucketing mechanics are identical): score
    each doc by mean token log-probability under the corpus unigram
    distribution (add-one smoothed), then cut into ``LOGPROB_BUCKETS``
    equal-width buckets between the corpus min/max score. CCNet keeps
    head/middle buckets and drops the tail.

    Equal-WIDTH (not quantile) buckets keep the op one aggregation +
    one broadcast join — no global sort; the min/max reduce is 2
    doubles.

    r13 fan-out fix: the lazy plan re-derived the tokenize spine under
    every consumer (``model`` under totals AND probs, ``scored`` under
    the min/max reduce AND the final select) — 6 corpus scans for a
    2-pass fit/score algorithm. Materializing the two aggregate-grain
    frames (``model`` is vocab-sized, ``scored`` is doc-id + 1 double)
    pins the corpus passes at the structural floor: one explode for
    the fit, one for the scoring join.
    """
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    toks = docs.select("doc_id", F.explode(tokens_col()).alias("tok"))
    model = materialize(
        toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n")), eager=False
    )
    totals = model.agg(
        F.sum("n").alias("tot"), F.count(F.lit(1)).alias("vocab")
    )
    probs = model.crossJoin(F.broadcast(totals)).select(
        "tok",
        F.log((F.col("n") + 1) / (F.col("tot") + F.col("vocab"))).alias("lp"),
    )
    scored = materialize(
        toks.join(F.broadcast(probs), "tok")
        .groupBy("doc_id")
        .agg(F.round(F.avg("lp"), 6).alias("mean_logprob")),
        eager=False,
    )
    rng = scored.agg(
        F.min("mean_logprob").alias("lo"), F.max("mean_logprob").alias("hi")
    )
    return scored.crossJoin(F.broadcast(rng)).select(
        "doc_id",
        "mean_logprob",
        F.least(
            F.lit(LOGPROB_BUCKETS - 1),
            F.floor(
                (F.col("mean_logprob") - F.col("lo"))
                / ((F.col("hi") - F.col("lo")) / LOGPROB_BUCKETS)
            ),
        )
        .cast("long")
        .alias("ppl_bucket"),
    )


def bm25_search(
    docs: DataFrame,
    query_terms: list[str],
) -> DataFrame:
    """BM25 keyword retrieval (Robertson/Spärck Jones): rank documents
    for a bag-of-terms query — the lexical complement to the
    embedding-based semantic_search path (production retrieval is
    usually the hybrid of both).

    score(d) = Σ_t idf(t) · tf/(tf + k1·(1 − b + b·len/avglen)),
    idf = ln(1 + (N − df + 0.5)/(df + 0.5)), with k1 = ``BM25_K1`` and
    b = ``BM25_B``; the top 20 documents are returned.

    Shape at scale: one token explode filtered to the query terms
    (tiny posting subset — the filter pushes into the explode
    projection), per-(doc, term) tf aggregation, a broadcast of the
    |terms|-row df/idf table, and a document-length table joined by
    doc_id. Nothing touches non-query terms after the filter; the
    global stats (N, avg length) broadcast as a one-row cross join.
    """
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    toks = tokens_col()
    # lens feeds the global stats AND the per-doc score join; tf feeds
    # the df aggregate AND the score join — with no ReusedExchange the
    # lazy plan ran FOUR tokenize passes over the corpus (r13:
    # documents scans 4 → 2, one per remaining tokenize). Both
    # checkpoints are tiny next to a corpus re-read: lens is two
    # numbers per doc, tf is ≤ |docs|·|query_terms| posting rows.
    lens = materialize(
        docs.select("doc_id", F.size(toks).cast("double").alias("dl")),
        eager=False,
    )
    stats = lens.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    posting = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .filter(F.col("term").isin(query_terms))
    )
    tf = materialize(
        posting.groupBy("doc_id", "term").agg(
            F.count(F.lit(1)).cast("double").alias("tf")
        ),
        eager=False,
    )
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = df_.crossJoin(F.broadcast(stats)).select(
        "term",
        F.log(
            1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        ).alias("idf"),
        "avgdl",
    )
    scored = (
        tf.join(F.broadcast(idf), "term")
        .join(lens, "doc_id")
        .select(
            "doc_id",
            (
                F.col("idf")
                * F.col("tf")
                / (
                    F.col("tf")
                    + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("term_score"),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )
    return (
        scored.orderBy(F.desc("bm25"), F.asc("doc_id"))
        .limit(20)
    )


def token_entropy(docs: DataFrame) -> DataFrame:
    """Per-source Shannon entropy of the token distribution — the
    corpus-diversity signal (near-zero entropy flags template spam /
    boilerplate sources; LLM curation pipelines cut on it next to the
    Gopher ratios).

    H = log2(N) − Σ c·log2(c) / N over per-token counts c, which is
    the single-pass rearrangement of −Σ p·log2 p — no second join to
    bring N inside the sum. → (source, n_tokens, n_distinct,
    entropy_bits round 6; the rounding absorbs summation-order and
    last-ulp libm noise, both ~1e-12 here).

    Scale shape: token counts are one map-side-combined shuffle on
    (source, token); the entropy reduce then aggregates ≤ vocab-size
    rows per source. Nothing else touches the corpus."""
    from taxi_trips_etl_spark.dataprep.dedup import spread

    counts = (
        spread(docs.select("doc_id", "source", tokens_col().alias("toks")))
        .select("source", F.explode("toks").alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = F.sum("c").cast("double")
    return (
        counts.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.round(
                F.log2(n) - F.sum(F.col("c") * F.log2("c")) / n, 6
            ).alias("entropy_bits"),
        )
        .orderBy("source")
    )


def feature_hash_counts(docs: DataFrame) -> DataFrame:
    """Hashing-trick featurization (Weinberger et al. 2009): each token
    maps to bucket md5(token) mod ``FEATURE_HASH_BUCKETS``; a document
    becomes a sparse integer count vector with a FIXED dimensionality —
    no vocab build, no OOV, memory independent of corpus size, which is
    why it is the standard first featurizer at web scale.

    → (doc_id, bucket, n) sparse rows, all-integer (exact on any
    engine). One explode + one map-side-combined shuffle on
    (doc_id, bucket); the md5 bucket is engine-portable so the oracle
    reproduces the exact same hash space."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
        % FEATURE_HASH_BUCKETS
    )
    return (
        tokens_table(docs)
        .select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def bigram_lm_topk(docs: DataFrame) -> DataFrame:
    """Corpus bigram language model, summarized: for the BIGRAM_HEADS
    most frequent head words, the BIGRAM_NEXT_PER_HEAD most likely
    successors
    with conditional probability P(w2|w1) = c(w1,w2)/c(w1,·). The
    n-gram-LM building block behind perplexity filtering and the
    unigram_logprob_score sibling.

    All counts are exact integers; each probability is one IEEE
    division of those integers (engine-portable, no rounding needed).
    Scale shape: bigrams come from a zip of the token array with its
    tail (no self-join), one shuffle on (w1, w2) with map-side
    combine, then windows over the ≤ vocab² aggregate — never the
    corpus. → (w1, w2, pair_n, head_n, cond_p)."""
    from taxi_trips_etl_spark.dataprep.dedup import tokens_table

    pairs = (
        tokens_table(docs)
        .filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.expr("slice(toks, 1, size(toks) - 1)"),
                    F.expr("slice(toks, 2, size(toks) - 1)"),
                )
            ).alias("bg")
        )
        .select(F.col("bg.0").alias("w1"), F.col("bg.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("pair_n"))
    )
    head_w = Window.partitionBy("w1")
    # ≤ vocab² rows, consumed by the top-heads probe AND the final
    # semi-join: without a checkpoint the tokenize→bigram-agg→window
    # spine re-executes per consumer — two corpus passes for one
    # aggregate (r13; same fix as kneser_ney_bigram_topk's spine).
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    with_head = materialize(
        pairs.withColumn(
            "head_n", F.sum("pair_n").over(head_w).cast("long")
        ),
        eager=False,
    )
    # Top heads as a TakeOrderedAndProject limit (per-partition heaps,
    # no global sort) broadcast-semi-joined back — a global
    # dense_rank window here would funnel the whole bigram aggregate
    # through one partition.
    top_heads = F.broadcast(
        with_head.select("w1", "head_n")
        .distinct()
        .orderBy(F.desc("head_n"), F.asc("w1"))
        .limit(BIGRAM_HEADS)
        .select("w1")
    )
    per_head = Window.partitionBy("w1").orderBy(
        F.desc("pair_n"), F.asc("w2")
    )
    return (
        with_head.join(top_heads, "w1", "left_semi")
        .withColumn("succ_rank", F.row_number().over(per_head))
        .filter(F.col("succ_rank") <= BIGRAM_NEXT_PER_HEAD)
        .select(
            "w1",
            "w2",
            "pair_n",
            "head_n",
            (F.col("pair_n").cast("double") / F.col("head_n").cast("double"))
            .alias("cond_p"),
        )
    )
