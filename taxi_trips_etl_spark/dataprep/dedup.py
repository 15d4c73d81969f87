"""Deduplication operators over a document corpus.

Beyond-reference surface (BASELINE.json north-star): the operators a
100 TB training-data pipeline needs. All hashing is built from ``md5``
hex strings — available and bit-identical in Spark and DuckDB — so every
operator here is exactly oracle-checkable, and everything stays JVM-side
(built-in functions + higher-order lambdas; no Python UDFs).

Scale design notes (per operator):

- exact: hash-groupBy on md5(text) — one shuffle on a 32-hex key,
  partial aggregation map-side. At 100 TB group keys are tiny vs text.
- MinHash+LSH: signatures are per-row column arithmetic (no shuffle);
  candidate generation EXPLODES (band_id, band_key) and self-joins on
  the band bucket — the join key is (band_id, band_key) so co-location
  is by bucket, never all-pairs. Skewed buckets (boilerplate docs) are
  the known hazard → AQE skew-join handles moderate skew; salt or cap
  bucket size for degenerate corpora.
- SimHash: 60-bit fingerprint from token hashes, candidates via 4-band
  15-bit prefix buckets (pigeonhole: hamming ≤ 3 ⇒ ≥ 1 identical band),
  verify with bit_count(xor) ≤ 3.
- n-gram Jaccard: exact pairwise verifier with a semantics-preserving
  size-ratio prefilter (J ≥ t ⇒ min/max sizes ≥ t) — at scale, feed it
  LSH candidates instead of all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize

# ---------------------------------------------------------------------------
# shared tokenization (portable: lower → regex-split on whitespace)
# ---------------------------------------------------------------------------


def tokens_col():
    """lower-cased whitespace tokens; '' → [''] quirk matches DuckDB."""
    return F.split(F.trim(F.lower(F.col("text"))), r"\s+")


def spread(docs: DataFrame) -> DataFrame:
    """Repartition ahead of CPU-bound row expansion (shingle/token
    explode + hashing). A small corpus arrives as ONE parquet split and
    would otherwise explode single-threaded; at real scale the scan
    already has many splits and this hash-repartition also pre-keys the
    groupBy(doc_id) aggregations that follow (reused exchange)."""
    return docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )


def tokens_table(docs: DataFrame) -> DataFrame:
    """(doc_id, toks) with tokenization materialized BELOW an exchange.

    Load-bearing subtlety: expressions built directly on
    ``tokens_col()`` re-evaluate the regex split for EVERY
    reference — Spark does not common-subexpression-eliminate across
    higher-order-function lambdas, so a 3-gram builder re-tokenizes the
    whole document 3× per shingle (measured 10× slowdown). Projecting
    the token array under a repartition puts an Exchange between the
    split and its consumers; CollapseProject cannot cross it, so the
    split runs exactly once per row. The repartition doubles as
    :func:`spread`.
    """
    return docs.select("doc_id", tokens_col().alias("toks")).repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )


def word_ngrams(tokens, n: int = 3):
    """Distinct n-word shingles as space-joined strings.

    Built with sequence+transform (JVM higher-order fns, no UDF):
    shingle_i = concat_ws(' ', tokens[i], …, tokens[i+n-1]). Docs with
    fewer than n tokens yield an empty shingle set (guarded — Spark's
    ``sequence(0, -1)`` would otherwise count *down*).
    """
    if n < 1:
        # n = 0 would silently shingle every doc to [''] (universal
        # collisions), not error — fail at call time instead.
        raise ValueError(f"word_ngrams needs n >= 1, got {n}")
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    gram = lambda i: F.concat_ws(
        " ", *[F.element_at(tokens, i + F.lit(k) + 1) for k in range(n)]
    )
    return F.when(
        F.size(tokens) >= n, F.array_distinct(F.transform(idx, gram))
    ).otherwise(F.array().cast("array<string>"))


# ---------------------------------------------------------------------------
# D1 exact dedup
# ---------------------------------------------------------------------------


def exact_duplicates(docs: DataFrame) -> DataFrame:
    """Exact dedup via md5-hash groupBy.

    Returns one row per distinct text: canonical (min) doc_id + number
    of copies. ``dup_count > 1`` rows are the duplicates to drop.
    """
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


# ---------------------------------------------------------------------------
# D2 MinHash + LSH
# ---------------------------------------------------------------------------

MINHASH_K = 16
LSH_BANDS = 4  # 4 bands × 4 rows; LSH_BANDS must divide MINHASH_K
# Degenerate-corpus guard of minhash_lsh_candidates: None keeps every
# bucket (see its docstring).
MAX_BUCKET_SIZE: int | None = None


def minhash_signature(docs: DataFrame) -> DataFrame:
    """MINHASH_K-permutation MinHash over word 3-gram shingles.

    h_i(s) = md5('{i}:' + s); the signature element is the lexicographic
    MIN of the hex digests — a valid uniform min-hash family, chosen
    because string-min over md5-hex is engine-portable.

    Shape: EXPLODE shingles → hash each once per seed → groupBy(doc_id)
    with MINHASH_K min() aggregates. Naively inlining the tokenize→shingle
    expression into MINHASH_K array_min(transform(...)) columns recomputes
    the shingling per column per row; the explode form tokenizes once, and
    the mins ride one partially-aggregated (map-side combine) shuffle —
    the shape that holds at corpus scale. Docs too short to shingle
    vanish via explode (they would otherwise collide on md5('') bands).
    """
    shingled = tokens_table(docs).select(
        "doc_id", F.explode(word_ngrams(F.col("toks"), 3)).alias("shingle")
    )
    return shingled.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"mh{i}")
            for i in range(MINHASH_K)
        ]
    )


def lsh_bands(sig_df: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_key): band_key = md5 of its rows' minhashes."""
    rows_per_band = MINHASH_K // LSH_BANDS
    band_structs = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.md5(F.concat_ws("|", *[
                F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)
            ])).alias("band_key"),
        )
        for b in range(LSH_BANDS)
    ])
    return (
        sig_df.select("doc_id", F.explode(band_structs).alias("band"))
        .select("doc_id", "band.band_id", "band.band_key")
    )


def minhash_lsh_candidates(docs: DataFrame) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥ 1 LSH band bucket.

    The self-join key is (band_id, band_key) — bucket-local, not
    all-pairs; distinct() collapses pairs that collide in >1 band.

    ``MAX_BUCKET_SIZE`` is the degenerate-corpus guard: a boilerplate
    string repeated m times puts m docs in the same bucket in EVERY
    band → O(m²) candidate pairs from one key, the skew that AQE can
    mitigate but not remove. With a cap, buckets larger than
    ``MAX_BUCKET_SIZE`` are dropped from candidate generation entirely
    (their members are exact or near-exact duplicates — the cheap
    md5 groupBy of :func:`exact_duplicates` is the right tool for
    them, not a quadratic pair join). On corpora where no bucket
    exceeds the cap the output is bit-identical to the uncapped run.
    The bucket-size count is a window over the same (band_id,
    band_key) partitioning the join shuffles on, so the exchange is
    reused — the cap costs no extra shuffle.
    """
    b = lsh_bands(minhash_signature(docs))
    if MAX_BUCKET_SIZE is not None:
        w_bucket = Window.partitionBy("band_id", "band_key")
        b = (
            b.withColumn("_bsz", F.count(F.lit(1)).over(w_bucket))
            .filter(F.col("_bsz") <= MAX_BUCKET_SIZE)
            .drop("_bsz")
        )
    # Self-joins get NO ReusedExchange from Catalyst (the broadcast side
    # rebuilds the whole child plan), so without this checkpoint BOTH
    # sides recompute the signatures from a full corpus scan — at 100 TB
    # that is two reads of the corpus and 2x the shingle hashing. The
    # banded signature table is tiny next to the corpus (doc_id + band
    # key per band); materializing it once is the scale-correct trade.
    b = b.transform(materialize, eager=False)
    left = b.alias("a")
    right = b.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
# D3 SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars → fits a signed 64-bit int portably
SIMHASH_MAX_HAMMING = 3  # 4 bands of 15 bits: pigeonhole for ≤ 3 flips


def _token_hash(tok):
    """Portable 60-bit integer hash: first 15 hex chars of md5."""
    return F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("long")


def simhash(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over distinct tokens (unit weights).

    bit_j(doc) = 1 iff sum over tokens of ±1 (sign of hash bit j) > 0.

    Shape: EXPLODE distinct tokens → one 60-bit hash per token → 60
    sum() aggregates per doc (map-side combined), then reassemble the
    fingerprint from the signs. The naive form (60 array folds, each
    re-inlining tokenize+hash) does 60× the hashing work per row.
    """
    toks = tokens_table(docs).select(
        "doc_id", F.explode(F.array_distinct(F.col("toks"))).alias("tok")
    ).select("doc_id", _token_hash(F.col("tok")).alias("h"))
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) * 2 - 1).alias(
                f"b{j}"
            )
            for j in range(SIMHASH_BITS)
        ]
    )
    fp = F.lit(0).cast("long")
    for j in range(SIMHASH_BITS):
        fp = fp + F.when(F.col(f"b{j}") > 0, F.lit(2**j).cast("long")).otherwise(
            F.lit(0)
        )
    return sums.select("doc_id", fp.alias("simhash"))


def simhash_near_duplicates(docs: DataFrame) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ SIMHASH_MAX_HAMMING.

    Candidates via 4 bands of 15 bits (pigeonhole for ≤ 3 flips), then
    exact hamming verification with bit_count(a XOR b).
    """
    fp = simhash(docs)
    bands = 4
    width = SIMHASH_BITS // bands
    mask = (1 << width) - 1
    band_arr = F.array(*[
        F.struct(
            F.lit(b).alias("band_id"),
            F.shiftright(F.col("simhash"), b * width).bitwiseAND(F.lit(mask)).alias("band_val"),
        )
        for b in range(bands)
    ])
    banded = fp.select("doc_id", "simhash", F.explode(band_arr).alias("band")).select(
        "doc_id", "simhash", "band.band_id", "band.band_val"
    )
    # Same no-ReusedExchange trap as minhash_lsh_candidates: checkpoint
    # the banded fingerprints so the self-join computes simhash ONCE.
    # GATE COUPLING (ADVICE r13): tools/explain_audit.py FORBIDs any
    # `documents.parquet` scan in split_leakage_audit's final plan; that
    # pin holds BECAUSE this checkpoint truncates the docs scan out of
    # the shipped plan string. Dropping or renaming this materialize
    # will fail that audit spuriously — update the FORBID entry together
    # with any change here (mirrors the dpo EXPECT annotation).
    banded = banded.transform(materialize, eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    # Hamming-verify INSIDE the join, before the pair distinct: a
    # failing band collision dies in the join stage instead of riding
    # a 4-column row through the distinct exchange — the distinct then
    # dedups only qualifying (a, b) pairs that collided in >1 band.
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("long")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
        .distinct()
    )


# ---------------------------------------------------------------------------
# D4 n-gram Jaccard
# ---------------------------------------------------------------------------

# Hot-gram cap of the n-gram miners' candidate generation (None: no
# cap) and loud-fail output cap of the exact pair miners (None: no
# guard); see ngram_jaccard_pairs.
MAX_POSTING_SIZE: int | None = None
MAX_PAIRS: int | None = None
CONTAINMENT_THRESHOLD = 0.6


def _cap_pairs(result: DataFrame, cand: DataFrame, op: str) -> DataFrame:
    """Loud-fail output guard for the exact pair miners.

    Exact similarity joins are lower-bounded by their OUTPUT size, and
    adversarial corpora make that output quadratic (SCALE.md's FastSS
    key-shift rig: 157k pairs at sf0.1 → 15.9M at 10×, exponent ~1.6).
    At 100 TB a pathological corpus would fill the shuffle/output disks
    silently before any stage fails. This guard converts that into a
    clean, early error: gate ``result`` on ``count(cand) ≤ MAX_PAIRS``
    — the candidate count upper-bounds the verified output and is
    checked BEFORE the verify/write work runs.

    Plan shape: a 1-row aggregate whose projection ``raise_error``s
    past the cap, broadcast-joined onto ``result`` with the guard
    column consumed IN THE JOIN CONDITION — column pruning therefore
    cannot elide the raising projection (the prunable-guard hazard the
    round-8 duplicate-id check carries, see ADVICE r8). No
    driver-side collect; same 1-row-broadcast scalar pattern as
    ``trend_slope_by_event_type``.
    """
    guard = cand.agg(F.count(F.lit(1)).alias("_n_cand")).select(
        F.when(F.col("_n_cand") <= F.lit(MAX_PAIRS), F.col("_n_cand"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"{op}: candidate pair count "),
                    F.col("_n_cand").cast("string"),
                    F.lit(
                        f" exceeds MAX_PAIRS={MAX_PAIRS} — output is "
                        "quadratic on this corpus; raise MAX_PAIRS, "
                        "tighten the threshold, or pre-collapse exact "
                        "duplicates first"
                    ),
                )
            )
        )
        .alias("_cap_n")
    )
    return result.join(
        F.broadcast(guard), F.col("_cap_n").isNotNull(), "inner"
    ).drop("_cap_n")


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs (the verifier operator).

    PPJoin-shaped. The GRAM-STRING array is never materialized —
    shingles stream straight through ``explode(word_ngrams(...))``
    inside whole-stage codegen and are hashed to longs in the same
    stage (measured: any plan that materializes or pre-filters the
    string array — cache, checkpoint, parquet stage, or a size()
    filter under the Generate — drops off codegen and costs 12-19s vs
    ~2.5s at sf0.1). What IS materialized is the per-doc sorted array
    of 64-bit gram HASHES (8 bytes/gram, bounded by doc length): one
    doc-keyed aggregation that doubles as the canonical prefix order
    and the verification operand.

    1. prefix filter (exact-preserving): order each doc's grams by a
       global canonical order (the gram's 64-bit hash — uniform) and
       index only the first n − ⌈t·n⌉ + 1 (a slice of the sorted
       array). Two sets with J ≥ t MUST share a gram inside those
       prefixes, so the prefix join finds every qualifying pair;
       indexed postings shrink to ~(1−t) of the corpus and join fanout
       to ~(1−t)².
    2. size-ratio prefilter rides in the join (J ≥ t ⇒ min/max ≥ t).
    3. exact verify per candidate pair: |A∩B| = size(array_intersect)
       on the two sorted hash arrays — two |cand|-row hash joins and a
       codegen set intersection; |A∪B| = na + nb − |A∩B|. (Round-8
       rewrite: the previous exploded counting-join verify shuffled
       |cand| × n_grams narrow rows and was the bench's top entry.)
       Hot grams are the skew hazard: AQE skew-join first, then
       ``MAX_POSTING_SIZE``.

    ``MAX_POSTING_SIZE`` is the hot-gram guard: a boilerplate shingle
    shared by m docs' PREFIXES creates an O(m²) join fanout on that one
    gram. With a cap, prefix grams indexed by more than
    ``MAX_POSTING_SIZE`` docs are dropped from CANDIDATE GENERATION
    only — verification (the counting joins on the full posting list)
    stays exact, so every surviving pair's jaccard value is unchanged.
    Pairs whose only shared prefix gram is a dropped hot gram are
    near-exact boilerplate duplicates — :func:`exact_duplicates`
    territory. On corpora where no prefix gram exceeds the cap the
    output is bit-identical to the uncapped run. The positional filter
    is DISABLED under the cap: its soundness argument needs the first
    common gram's candidate row to exist, and the cap may drop exactly
    that row — keeping the conjunct would prune additional qualifying
    pairs beyond the documented only-shared-gram-was-hot loss (ADVICE
    r8), so capped mode trades the positional pruning away to keep the
    cap's recall contract exact.

    ``MAX_PAIRS`` is the loud-fail output guard (:func:`_cap_pairs`):
    when set, the run errors cleanly if the candidate pair count
    crosses the cap instead of silently writing a quadratic result;
    the guarded output is bit-identical to the unguarded run whenever
    it survives. ``None`` keeps the plan byte-identical to pre-guard
    builds.

    Short docs (< n tokens) produce no postings and drop out naturally.

    All joins run on ``gh = xxhash64(gram)``, never the shingle string:
    the posting relation is two longs per row (vs a ~20-byte string key
    through three shuffles and a checkpoint), and the hash doubles as
    the canonical prefix order (uniform, engine-agnostic — the order
    only decides WHICH grams sit in the prefix, never the output). A
    64-bit collision between two different grams of a candidate pair
    could overcount that pair's intersection by 1 — probability ~2⁻⁶⁴
    per cross-gram, and the driver's value-hash gate would catch it;
    measured green against the brute-force list_intersect oracle.
    """
    posting = (
        tokens_table(docs)
        .select(
            "doc_id", F.explode(word_ngrams(F.col("toks"), 3)).alias("gram")
        )
        # hash in a projection ABOVE the Generate (a generator can't be
        # nested in an expression); the gram string lives only inside
        # this codegen stage and never reaches a shuffle.
        .select("doc_id", F.xxhash64("gram").alias("gh"))
    )
    # ONE doc-keyed aggregation replaces both windows (count +
    # row_number): tokens_table pre-partitions by doc_id, so the
    # groupBy is exchange-free, the sorted hash array IS the canonical
    # prefix order, and the prefix is a slice() instead of a ranked
    # filter. The array also powers verification below — |A∩B| via
    # codegen array_intersect on two ~n_grams-long long-arrays per
    # candidate pair, replacing the exploded counting joins that
    # shuffled |cand| × n_grams narrow rows (round-8 rewrite: the old
    # shape was the top bench entry at 5.2s; this one measures ~3s).
    arrays = _gram_arrays(posting).transform(materialize, eager=False)
    prefix = _prefix_posting(arrays, threshold)
    if MAX_POSTING_SIZE is not None:
        # the hot-gram cap adds a gh-count window — checkpoint so the
        # self-join's two sides share ONE capped-prefix computation
        # (uncapped, the prefix is a cheap slice over the arrays
        # checkpoint and needs no materialization of its own)
        prefix = prefix.transform(materialize, eager=False)
    # positional filter (round 8): J ≥ t needs overlap ≥
    # t·(na+nb)/(1+t); a matching gram deep in BOTH prefixes cannot
    # reach it (ubound = 1 + min suffix length), so the row dies in
    # the join instead of dragging two gram arrays through the verify
    # joins. The 1e-9 slack only LOOSENS the bound against float
    # round-up, so exactness is untouched (the verify filter is the
    # arbiter). Measured: 173k → far fewer candidates at t=0.7 on the
    # adversarial 30-word-vocab corpus.
    cond = (
        (F.col("a.gh") == F.col("b.gh"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (
            F.least(F.col("a.n_grams"), F.col("b.n_grams"))
            >= F.greatest(F.col("a.n_grams"), F.col("b.n_grams")) * threshold
        )
    )
    if MAX_POSTING_SIZE is None:
        # positional conjunct only when UNcapped — under the cap the
        # first-common-gram row this bound's soundness relies on may be
        # the dropped hot-gram row (see docstring / ADVICE r8).
        alpha = F.ceil(
            (F.col("a.n_grams") + F.col("b.n_grams"))
            * (threshold / (1.0 + threshold))
            - 1e-9
        )
        cond = cond & (
            _positional_ubound(
                F.col("a.pos"),
                F.col("b.pos"),
                F.col("a.n_grams"),
                F.col("b.n_grams"),
            )
            >= alpha
        )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), cond)
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    if MAX_PAIRS is not None:
        # checkpoint so the guard's count and the verify joins read ONE
        # materialized candidate set instead of re-running the prefix
        # self-join twice.
        cand = cand.transform(materialize, eager=False)
    out = (
        _verified_intersections(cand, arrays)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(
                F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    if MAX_PAIRS is not None:
        out = _cap_pairs(out, cand, "ngram_jaccard_pairs")
    return out


def _gram_arrays(posting: DataFrame) -> DataFrame:
    """(doc_id, ghs: sorted array<long>, n_grams) from a (doc_id, gh)
    posting whose grams are distinct per doc. The per-doc array is
    bounded by document length (the same rows existed exploded), so
    row width stays executor-safe at any corpus scale."""
    return posting.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("gh")).alias("ghs"),
        F.count(F.lit(1)).alias("n_grams"),
    )


def _prefix_posting(arrays: DataFrame, threshold: float) -> DataFrame:
    """PPJoin prefix posting (doc_id, n_grams, pos, gh): the first
    n − ⌈t·n⌉ + 1 grams of each doc under the canonical (hash) order,
    with 0-based ``pos`` (the gram's rank in the doc's full sorted
    gram array — the slice IS its head, so slice index = global rank)
    and the optional hot-gram cap (candidate generation only —
    verification stays exact, see caller docstrings)."""
    plen = (
        F.col("n_grams") - F.ceil(F.col("n_grams") * threshold) + 1
    ).cast("int")
    prefix = arrays.select(
        "doc_id",
        "n_grams",
        F.posexplode(F.slice("ghs", F.lit(1), plen)).alias("pos", "gh"),
    )
    if MAX_POSTING_SIZE is not None:
        w_gram = Window.partitionBy("gh")
        prefix = (
            prefix.withColumn("_psz", F.count(F.lit(1)).over(w_gram))
            .filter(F.col("_psz") <= MAX_POSTING_SIZE)
            .drop("_psz")
        )
    return prefix


def _positional_ubound(pa, pb, na, nb) -> "F.Column":
    """PPJoin positional upper bound on |A∩B| given a matching gram at
    0-based ranks (pa, pb) of the two docs' canonical orders:
    overlap ≤ 1 + min(na − pa − 1, nb − pb − 1). Sound as a per-row
    candidate filter because for a qualifying pair the FIRST common
    gram (minimum rank pair) has everything before it on each side
    outside the intersection, so that generating row's bound is ≥ the
    true overlap and survives any overlap-minimum test (Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection",
    WWW'08)."""
    return 1 + F.least(na - pa - 1, nb - pb - 1)


def _verified_intersections(cand: DataFrame, arrays: DataFrame) -> DataFrame:
    """(doc_id_a, doc_id_b, na, nb, n_inter) for candidate pairs:
    exact |A∩B| via array_intersect on the per-doc sorted hash arrays —
    two |cand|-row hash joins and a codegen set intersection, never an
    exploded |cand| × n_grams shuffle."""
    va = arrays.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("ghs").alias("ghs_a"),
        F.col("n_grams").alias("na"),
    )
    vb = arrays.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("ghs").alias("ghs_b"),
        F.col("n_grams").alias("nb"),
    )
    return (
        cand.join(va, "doc_id_a")
        .join(vb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "na",
            "nb",
            F.size(F.array_intersect("ghs_a", "ghs_b"))
            .cast("long")
            .alias("n_inter"),
        )
    )


def ngram_containment_pairs(docs: DataFrame) -> DataFrame:
    """Exact n-gram CONTAINMENT pairs: |A∩B| / min(|A|, |B|) ≥ t, with
    t = ``CONTAINMENT_THRESHOLD``.

    The doc-inside-doc detector Jaccard misses: a short document quoted
    verbatim inside a long one has containment ≈ 1 but Jaccard ≈
    |A|/|B| ≈ 0, so :func:`ngram_jaccard_pairs`'s size-ratio prefilter
    is UNSOUND here and is deliberately absent. Candidate generation
    still has an exact prefix guarantee, just asymmetric: if C ≥ t then
    the smaller set (m grams) shares ≥ ⌈t·m⌉ grams with the other doc,
    so at least one shared gram lies within the smaller doc's first
    m − ⌈t·m⌉ + 1 grams under the canonical order. Joining the SMALLER
    side's prefix against the other doc's FULL posting list therefore
    finds all qualifying pairs — the join carries an n_a ≤ n_b guard
    (ties fire both directions; distinct dedups), which roughly halves
    the candidate set versus indexing both sides' prefixes.

    Scale shape: prefix ⋈ posting on gram hash (hot grams capped
    exactly as in the Jaccard op — candidate generation only,
    verification stays exact), pair canonicalize + distinct, then the
    same three counting joins. Never an all-pairs product. Grams ride
    as ``xxhash64`` longs with the hash as canonical prefix order —
    same construction and collision argument as
    :func:`ngram_jaccard_pairs`. As there, the positional filter is
    disabled when ``MAX_POSTING_SIZE`` is set (the cap can drop the
    first-common-gram row its soundness needs — ADVICE r8), and
    ``MAX_PAIRS`` adds the :func:`_cap_pairs` loud-fail output guard
    (``None`` = plan unchanged).
    """
    posting = (
        tokens_table(docs)
        .select(
            "doc_id", F.explode(word_ngrams(F.col("toks"), 3)).alias("gram")
        )
        # hash in a projection ABOVE the Generate (a generator can't be
        # nested in an expression); the gram string lives only inside
        # this codegen stage and never reaches a shuffle.
        .select("doc_id", F.xxhash64("gram").alias("gh"))
    )
    # Same round-8 array shape as :func:`ngram_jaccard_pairs`: one
    # doc-keyed aggregation (exchange-free above tokens_table's
    # repartition) builds the sorted hash array used for BOTH the
    # prefix slice and the array_intersect verification. The full
    # posting side of the asymmetric candidate join is re-exploded
    # from the checkpointed arrays — no second lineage to truncate.
    arrays = _gram_arrays(posting).transform(materialize, eager=False)
    threshold = CONTAINMENT_THRESHOLD
    prefix = _prefix_posting(arrays, threshold)
    full = arrays.select(
        "doc_id",
        "n_grams",
        F.posexplode("ghs").alias("pos", "gh"),
    )
    # positional filter (round 8, same first-common-gram soundness
    # argument as in ngram_jaccard_pairs): C ≥ t needs overlap ≥
    # t·min(na, nb) = t·na under the join's na ≤ nb guard; 1e-9 slack
    # only loosens against float round-up.
    cond = (
        (F.col("a.gh") == F.col("b.gh"))
        & (F.col("a.doc_id") != F.col("b.doc_id"))
        # only the smaller side's prefix must fire (see docstring);
        # ties fire both ways and collapse in the distinct
        & (F.col("a.n_grams") <= F.col("b.n_grams"))
    )
    if MAX_POSTING_SIZE is None:
        # positional conjunct only when UNcapped (see docstring).
        alpha = F.ceil(F.col("a.n_grams") * F.lit(threshold) - 1e-9)
        cond = cond & (
            _positional_ubound(
                F.col("a.pos"),
                F.col("b.pos"),
                F.col("a.n_grams"),
                F.col("b.n_grams"),
            )
            >= alpha
        )
    cand = (
        prefix.alias("a")
        .join(full.alias("b"), cond)
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias(
                "doc_id_b"
            ),
        )
        .distinct()
    )
    if MAX_PAIRS is not None:
        cand = cand.transform(materialize, eager=False)
    out = (
        _verified_intersections(cand, arrays)
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(
                F.col("n_inter") / F.least(F.col("na"), F.col("nb")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    if MAX_PAIRS is not None:
        out = _cap_pairs(out, cand, "ngram_containment_pairs")
    return out


def minhash_lsh_incremental(
    corpus_docs: DataFrame,
    new_docs: DataFrame,
) -> DataFrame:
    """Delta dedup: candidate pairs touching the NEW batch only —
    (new × corpus) ∪ (new × new), never corpus × corpus.

    How dedup actually runs at 100 TB: the corpus's band table is a
    persisted index (append-only parquet, partitioned by band_id);
    each ingest batch hashes ONLY its own docs and equi-joins its
    bands against the index. Cost scales with |batch| × collision
    rate, not |corpus|² — re-pairing the full corpus every ingest is
    the scale-killer this shape exists to avoid. Output columns match
    :func:`minhash_lsh_candidates`, with ``doc_id_a < doc_id_b``;
    pairs already known inside the old corpus never re-emit, so
    downstream canonicalization is a pure merge.
    """
    # new_b is consumed twice — as the join's probe side AND unioned
    # into the index side — and the md5 signature aggregation is the
    # expensive part of its spine; without a checkpoint the batch is
    # re-hashed per consumer (r13: docs scans 3 → 2). Batch-sized
    # (|new|·bands rows), so the checkpoint is tiny.
    new_b = lsh_bands(minhash_signature(new_docs)).transform(
        materialize, eager=False
    )
    all_b = lsh_bands(
        minhash_signature(corpus_docs)
    ).unionByName(new_b)
    # Orient each pair (a < b) and keep those with ≥1 end in the batch;
    # the join probes the new side only, so the index side streams.
    return (
        new_b.alias("n")
        .join(
            all_b.alias("c"),
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_key") == F.col("c.band_key"))
            & (F.col("n.doc_id") != F.col("c.doc_id")),
        )
        .select(
            F.least("n.doc_id", "c.doc_id").alias("doc_id_a"),
            F.greatest("n.doc_id", "c.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )


MIN_WJACC_MILLI = 250


def weighted_minhash_pairs(docs: DataFrame) -> DataFrame:
    """WEIGHTED-Jaccard near-dup pairs — the tf-aware upgrade of the
    set-Jaccard miners: two docs built from the same vocabulary in
    different proportions score low, repeated-content clones score
    high. Weighted Jaccard of capped term frequencies
    (Σ min(tf_a, tf_b) / Σ max(tf_a, tf_b), tf capped at 2)
    via the replica-expansion identity: token t with capped tf c
    becomes items t#1..t#c, and SET Jaccard of the replica sets IS
    the weighted Jaccard of the capped multisets — so the standard
    md5-MinHash/LSH machinery (engine-portable, already hash-green)
    applies unchanged, and the exact verify is integer min/max sums.

    → (doc_id_a, doc_id_b, wjacc_milli) for band-bucket candidates
    with wjacc_milli ≥ ``MIN_WJACC_MILLI`` (milli = integer
    round-half-up of 1000·num/den — no float in the hash).

    Scale shape: replica explode is ≤ 2× the token table; signature
    is one partially-aggregated shuffle; candidates come from the
    band-bucket equi-join (Σ bucket², never n²); the exact verify
    joins tf tables ONLY for candidate pairs and doc totals ride a
    broadcast.
    """
    # NON-distinct shingles (word_ngrams dedups — useless for tf):
    # every occurrence counts toward the capped frequency.
    grams = F.expr(
        "case when size(toks) >= 2 then "
        "transform(sequence(0, size(toks) - 2), "
        "i -> concat_ws(' ', slice(toks, i + 1, 2))) "
        "else array() end"
    )
    tf = (
        tokens_table(docs)
        .select("doc_id", F.explode(grams).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(
            F.least(F.count(F.lit(1)), F.lit(2))
            .cast("long")
            .alias("tf")
        )
    )
    tf = tf.transform(materialize, eager=False)  # 3 consumers below
    reps = tf.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, int(tf)), i -> concat(tok, '#', i))")
        ).alias("item"),
    )
    sig = reps.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{i}:"), F.col("item")))
            ).alias(f"mh{i}")
            for i in range(MINHASH_K)
        ]
    )
    # Degenerate-corpus guard (same rule as minhash_lsh_candidates):
    # buckets above 50 docs are dropped DETERMINISTICALLY on both
    # engines before pairing, bounding the candidate join.
    banded = lsh_bands(sig)
    bsz = banded.groupBy("band_id", "band_key").agg(
        F.count(F.lit(1)).alias("bsz")
    )
    banded = banded.join(
        bsz.filter(F.col("bsz") <= 50),
        ["band_id", "band_key"],
    ).select("doc_id", "band_id", "band_key")
    banded = banded.transform(materialize, eager=False)  # self-join
    cand = (
        banded
        .alias("x")
        .join(
            banded.alias("y"),
            F.expr(
                "x.band_id = y.band_id AND x.band_key = y.band_key"
                " AND x.doc_id < y.doc_id"
            ),
        )
        .select(
            F.col("x.doc_id").alias("doc_id_a"),
            F.col("y.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )
    inter = (
        cand.join(
            tf.select(
                F.col("doc_id").alias("doc_id_a"),
                "tok",
                F.col("tf").alias("tf_a"),
            ),
            "doc_id_a",
        )
        .join(
            tf.select(
                F.col("doc_id").alias("doc_id_b"),
                "tok",
                F.col("tf").alias("tf_b"),
            ),
            ["doc_id_b", "tok"],
        )
        .groupBy("doc_id_a", "doc_id_b")
        .agg(F.sum(F.least("tf_a", "tf_b")).cast("long").alias("num"))
    )
    tot = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("tot"))
    return (
        inter.join(
            F.broadcast(tot.select(F.col("doc_id").alias("doc_id_a"),
                                   F.col("tot").alias("tot_a"))),
            "doc_id_a",
        )
        .join(
            F.broadcast(tot.select(F.col("doc_id").alias("doc_id_b"),
                                   F.col("tot").alias("tot_b"))),
            "doc_id_b",
        )
        .select(
            "doc_id_a",
            "doc_id_b",
            F.expr(
                "(2000 * num + (tot_a + tot_b - num))"
                " div (2 * (tot_a + tot_b - num))"
            ).cast("long").alias("wjacc_milli"),
        )
        .filter(F.col("wjacc_milli") >= MIN_WJACC_MILLI)
    )


BOILERPLATE_CHUNK_TOKENS = 2
BOILERPLATE_DF_DIVISOR = 20


def boilerplate_chunk_removal(docs: DataFrame) -> DataFrame:
    """Corpus-frequency boilerplate removal (the line-dedup pass of
    C4/CCNet adapted to aligned ``BOILERPLATE_CHUNK_TOKENS``-token
    chunks — this corpus has no newline structure): a chunk is
    BOILERPLATE when it appears in at least max(3, ceil(n_docs /
    BOILERPLATE_DF_DIVISOR)) DISTINCT documents,
    and every occurrence is dropped — unlike :func:`chunk_dedup`'s
    first-wins rule, which keeps one copy. Navigation headers, license
    blocks and share-bars repeat across a large fraction of a crawl;
    keeping even one copy per duplicate cluster still trains on them,
    so the df-threshold rule removes the text class, not the copies.

    → (doc_id, text_clean, n_chunks_kept, n_chunks_dropped)

    Scale shape: one explode to n_tokens/BOILERPLATE_CHUNK_TOKENS rows,
    one distinct-doc count per chunk (partial-agg shuffle on the chunk
    string), threshold broadcast as a 1-row crossJoin, one shuffle
    back on doc_id for the ordered reassembly — same two-shuffle
    floor as chunk_dedup. All threshold arithmetic is integer
    (ceil(a/b) = (a+b-1) div b), so any engine lands on the same cut.
    """
    n, div = BOILERPLATE_CHUNK_TOKENS, BOILERPLATE_DF_DIVISOR
    chunks = F.expr(
        f"transform(sequence(0, (size(toks) - 1) div {n}), "
        f"i -> array_join(slice(toks, i * {n} + 1, {n}), ' '))"
    )
    exploded = (
        tokens_table(docs)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    )
    thresh = docs.agg(
        F.expr(
            f"greatest(CAST(3 AS BIGINT), (count(1) + {div - 1}) div {div})"
        ).alias("df_cut")
    )
    df_per_chunk = exploded.groupBy("chunk").agg(
        F.count_distinct("doc_id").alias("df")
    )
    flagged = (
        exploded.join(df_per_chunk, "chunk")
        .crossJoin(F.broadcast(thresh))
        .withColumn("keep", (F.col("df") < F.col("df_cut")).cast("int"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct("
                    "chunk_idx, if(keep = 1, chunk, null) AS c))), "
                    "s -> s.c)"
                ),
            ).alias("text_clean"),
            F.sum("keep").cast("long").alias("n_chunks_kept"),
            (F.count(F.lit(1)) - F.sum("keep"))
            .cast("long")
            .alias("n_chunks_dropped"),
        )
        .select(
            "doc_id", "text_clean", "n_chunks_kept", "n_chunks_dropped"
        )
    )


def fastss_pairs(df: DataFrame, max_dist: int = 1) -> DataFrame:
    """Exact edit-distance-1 pair join via symmetric-deletion blocking
    (FastSS / SymSpell family): each string emits its 1-deletion
    variants plus itself; two strings within Levenshtein distance 1
    MUST share a variant (substitution → same-position deletions agree;
    insert/delete → the shorter string IS a variant of the longer), so
    an equi-join on the variant key finds every qualifying pair — no
    recall loss, which the brute-force all-pairs oracle proves.

    Scale shape: candidate generation is (len+1) rows per record for
    max_dist=1 and O(len²/2) for max_dist=2, with one equi-join on the
    variant key — vs the O(n²) Levenshtein matrix a naive fuzzy join
    computes. The verify step runs the real levenshtein() only on
    bucket-collision survivors, so false bucket collisions cost a
    string compare, never a wrong answer. Completeness for distance k:
    any ≤k-cost alignment deletes ≤k positions from each side
    (deleted/substituted on the left, inserted/substituted on the
    right) leaving equal strings, so the depth-k deletion
    neighborhoods intersect — the brute-force all-pairs oracle proves
    it. max_dist ∈ {1, 2} (deeper neighborhoods explode
    combinatorially; 1-2 is the record-linkage range).

    The blocking join runs on ``xxhash64(variant)``, not the variant
    string: the variant column never leaves its codegen stage, so the
    checkpointed relation shrinks by the ~len(name)-byte variant per
    row and the join key is a long — and a 64-bit hash collision can
    only ADD a candidate pair, which the exact ``levenshtein`` verify
    then rejects, so the result set is unchanged (recall is preserved
    because equal variants always hash equal).

    Three placement rules, all measured on the 10× sweep (whose
    key-shifted near-twin names make the TRUE pair set grow
    quadratically — 157k pairs at sf0.1 → 15.9M at 10×, so this is
    the stress case for every stage past the blocking join):

    - names ride INLINE through the blocking join; joining them back
      onto the distinct pair set instead costs two extra
      pair-set-sized shuffles exactly where the plan is most loaded
      (108s vs 76s at 10×);
    - the pair DISTINCT runs BEFORE the levenshtein verify: bucket
      collisions are ~2× duplicated, so deduping first halves the
      verify volume, and skipping the distinct (verify-then-dedup)
      re-evaluates levenshtein inside both the join condition and the
      projection (114s at 10×);
    - the variant relation is repartitioned to default parallelism
      before its checkpoint — AQE coalesces the tiny upstream
      aggregate to ONE partition, which would serialize the entire
      pair stage onto one core (measured 3× at sf0.1).

    ``c_custkey`` must be unique per row — the pair key is the id alone,
    so a duplicated id would silently change semantics (whose name is
    compared?). Enforced at execution: any duplicate id raises inside
    the aggregation projection (a ``when``-guarded ``raise_error`` on
    the id column ITSELF — the id feeds the join condition and the
    pair key, so no downstream projection pruning can elide the check
    (ADVICE r8: the previous name-column guard depended on the name
    being consumed), and it is free because the count rides the
    groupBy the plan already runs).

    ``MAX_PAIRS`` is the loud-fail output guard (:func:`_cap_pairs`):
    the 10× sweep's key-shifted corpus proves this miner's output is
    quadratic on adversarial data (exponents 1.59/1.40 — an OUTPUT
    lower bound, not a plan defect), so at 100 TB an uncapped run can
    fill disk silently. When set, the run errors cleanly once the
    deduped candidate count crosses the cap; surviving output is
    bit-identical to the unguarded run. ``None`` keeps the plan
    byte-identical to pre-guard builds.
    """
    if max_dist not in (1, 2):
        raise NotImplementedError("fastss_pairs implements max_dist in {1, 2}")
    # Expressions are built against the canonical alias `name` (the
    # projection below renames name_col), so arbitrary input column
    # names never leak into the generated SQL.
    del1 = (
        "transform(sequence(0, length(name)), "
        "i -> concat(substring(name, 1, i), "
        "substring(name, i + 2, length(name))))"
    )
    if max_dist == 1:
        variant_expr = del1
    else:
        # i < j 0-based deletion positions; guard len < 2 (descending
        # sequence() pitfall), dedup inside the array before explode.
        del2 = (
            "case when length(name) < 2 then array() else "
            "flatten(transform(sequence(0, length(name) - 2), "
            "i -> transform(sequence(i + 1, length(name) - 1), "
            "j -> concat(substring(name, 1, i), "
            "substring(name, i + 2, j - i - 1), "
            "substring(name, j + 2, length(name))))))"
            " end"
        )
        variant_expr = f"array_distinct(concat({del1}, {del2}))"
    names = (
        df.groupBy(F.col("c_custkey").alias("rid"))
        .agg(
            F.min("c_name").alias("_name"),
            F.count(F.lit(1)).alias("_n"),
        )
        .select(
            F.when(F.col("_n") == 1, F.col("rid"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "fastss_pairs: id_col must be unique per row; "
                            "duplicate id "
                        ),
                        F.col("rid").cast("string"),
                    )
                )
            )
            .alias("rid"),
            F.col("_name").alias("name"),
        )
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    variants = (
        names.select(
            "rid",
            "name",
            F.explode(F.expr(variant_expr)).alias("variant"),
        )
        .select("rid", "name", F.xxhash64("variant").alias("vh"))
        .repartition(par)
    )
    # Self-join: no ReusedExchange (see module docstring) — checkpoint.
    variants = variants.transform(materialize, eager=False)
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.vh") == F.col("b.vh"))
            & (F.col("a.rid") < F.col("b.rid")),
        )
        .select(
            F.col("a.rid").alias("id_a"),
            F.col("a.name").alias("name_a"),
            F.col("b.rid").alias("id_b"),
            F.col("b.name").alias("name_b"),
        )
        .distinct()
    )
    if MAX_PAIRS is not None:
        # checkpoint so the guard's count and the levenshtein verify
        # read ONE materialized candidate set (the blocking self-join
        # is the expensive stage; don't run it twice).
        cand = cand.transform(materialize, eager=False)
    # Banded verify (r14, guide §1.2 per-task work): levenshtein with
    # the threshold argument computes the O(len·max_dist) band of the
    # DP matrix instead of the full O(len²) table, returning the EXACT
    # distance when ≤ max_dist and −1 otherwise — so `thr ≥ 0` keeps
    # exactly the rows `full ≤ max_dist` kept, with identical distance
    # values (pytest-pinned, oracle-proved). At the 10× rig the verify
    # runs on ~16M quadratic-output candidate pairs, so the ~len/k
    # factor is the dominant per-task win.
    out = (
        cand.withColumn(
            "edit_dist",
            F.levenshtein("name_a", "name_b", max_dist).cast("long"),
        )
        .filter(F.col("edit_dist") >= 0)
        .select("id_a", "id_b", "edit_dist")
    )
    if MAX_PAIRS is not None:
        out = _cap_pairs(out, cand, "fastss_pairs")
    return out


CHUNK_TOKENS = 10


def chunk_dedup(docs: DataFrame) -> DataFrame:
    """Corpus-wide exact chunk-level deduplication (Lee et al. 2021's
    "Deduplicating Training Data Makes Language Models Better",
    restricted to aligned non-overlapping windows).

    Every document is cut into consecutive ``CHUNK_TOKENS``-token
    chunks (the tail chunk may be shorter); a chunk survives only in
    its FIRST occurrence corpus-wide (lowest ``(doc_id, chunk_idx)``),
    every later byte-identical chunk is dropped, and each document's
    text is reassembled from its surviving chunks in order.

    → (doc_id, text_dedup, n_chunks_kept, n_chunks_dropped)

    Scale shape: one explode to ≈ n_tokens/CHUNK_TOKENS rows, one
    shuffle keyed on the chunk string for the first-occurrence window
    (Spark hashes the partition key internally, so the wire cost is the
    same as a precomputed digest while avoiding any md5-collision
    divergence from engines that group on the raw string), one shuffle
    back on doc_id for the ordered string_agg. No joins, no driver
    state — both shuffles are the minimum any engine needs for a
    corpus-wide first-wins rule.
    """
    n = CHUNK_TOKENS
    chunks = F.expr(
        f"transform(sequence(0, (size(toks) - 1) div {n}), "
        f"i -> array_join(slice(toks, i * {n} + 1, {n}), ' '))"
    )
    exploded = (
        tokens_table(docs)
        .select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    )
    first_wins = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    kept = exploded.withColumn(
        "rn", F.row_number().over(first_wins)
    ).withColumn("keep", (F.col("rn") == 1).cast("int"))
    return (
        kept.groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.expr(
                    "transform(array_sort(collect_list(struct("
                    "chunk_idx, if(keep = 1, chunk, null) AS c))), "
                    "s -> s.c)"
                ),
            ).alias("text_dedup"),
            F.sum("keep").cast("long").alias("n_chunks_kept"),
            (F.count(F.lit(1)) - F.sum("keep"))
            .cast("long")
            .alias("n_chunks_dropped"),
        )
        .select("doc_id", "text_dedup", "n_chunks_kept", "n_chunks_dropped")
    )
