"""Dedup / similarity / text / multimodal operator semantics on
synthetic corpora with known near-duplicate structure."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep import dedup, multimodal, similarity, text

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from a warm sunny window sill and dreams of chasing mice through "
    "the tall green grass behind the old wooden barn where swallows nest "
    "every spring and the farmer keeps his rusty tractor next to bales "
    "of golden hay stacked high against the stone wall near the gate"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact duplicate of 0
        (2, BASE.replace("sunny", "rainy")),  # near-dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "tiny"),  # too short to shingle
        (5, "der hund und die katze und das haus und der baum sind hier"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_duplicates(docs):
    out = dedup.exact_duplicates(docs).collect()
    dup_groups = [r for r in out if r.dup_count > 1]
    assert len(dup_groups) == 1
    assert dup_groups[0].canonical_doc_id == 0
    assert dup_groups[0].dup_count == 2


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = {
        (r.doc_id_a, r.doc_id_b)
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    assert (0, 1) in pairs  # identical docs always collide in every band
    assert (0, 2) in pairs or (1, 2) in pairs  # one-word change → near-dup
    flat = {d for p in pairs for d in p}
    assert 3 not in flat and 4 not in flat  # unrelated + unshingleable


def test_ngram_jaccard_scores(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    by_pair = {(r.doc_id_a, r.doc_id_b): r.jaccard for r in pairs}
    assert by_pair[(0, 1)] == 1.0
    near = by_pair[(0, 2)]
    assert 0.5 <= near < 1.0


def test_simhash_hamming_properties(docs):
    fps = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    assert fps[0] == fps[1]  # identical text → identical fingerprint
    ham_near = bin(fps[0] ^ fps[2]).count("1")
    ham_far = bin(fps[0] ^ fps[3]).count("1")
    assert ham_near < ham_far  # near-dup closer than unrelated doc
    pairs = dedup.simhash_near_duplicates(docs).collect()
    assert any({p.doc_id_a, p.doc_id_b} == {0, 1} for p in pairs)


@pytest.fixture(scope="module")
def vectors(spark):
    # vec 0 ∥ vec 1 (identical direction), vec 2 orthogonal, vec 3 opposite.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [2.0, 0.0, 0.0, 0.0]),
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),
        (4, [1.0, 1.0, 0.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_ordering(vectors):
    out = similarity.cosine_topk_bruteforce(
        vectors, query_ids_below=1, k=4
    ).collect()
    ranked = [r.neighbor_id for r in sorted(out, key=lambda r: r.knn_rank)]
    assert ranked[0] == 1  # parallel vector first (cos=1)
    assert ranked[1] == 4  # 45° (cos≈0.707)
    assert ranked[2] == 2  # orthogonal (cos=0)
    assert ranked[3] == 3  # opposite (cos=-1)
    by_n = {r.neighbor_id: r.cosine for r in out}
    assert by_n[1] == pytest.approx(1.0)
    assert by_n[4] == pytest.approx(1 / math.sqrt(2), abs=1e-6)
    assert by_n[3] == pytest.approx(-1.0)


def test_lsh_topk_is_subset_of_bucket(vectors):
    out = similarity.cosine_topk_lsh(vectors, planes=4).collect()
    # Bucket of query 0 is sign-pattern '1000' — only vec 1 shares it
    # (vec 4 is '1100', vec 2 '0100', vec 3 '0000').
    assert {r.neighbor_id for r in out if r.query_id == 0} == {1}


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_bruteforce(emb, k=3).collect()
    }
    single = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_lsh(emb, planes=8).collect()
    }
    multi = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk_lsh_multiprobe(emb).collect()
    }
    recall_single = len(single & exact) / len(exact)
    recall_multi = len(multi & exact) / len(exact)
    assert recall_multi >= recall_single  # probing can only widen reach


def test_token_stats_and_edge_cases(spark):
    docs = spark.createDataFrame(
        [(0, "a bb ccc"), (1, "  "), (2, "x")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.token_stats(docs).collect()}
    assert out[0].n_tokens == 3
    assert out[0].avg_token_len == 2.0
    assert out[0].est_bpe_tokens == 2  # ceil(8/4)
    assert out[2].n_tokens == 1


def test_language_id_rules(spark):
    docs = spark.createDataFrame(
        [
            (0, "the cat and the dog is a friend of mine"),
            (1, "der hund und die katze ist das beste"),
            (2, "le chat et la maison les arbres"),
            (3, "xyzzy plugh quux"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.predicted_lang for r in text.language_id(docs).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "fr"
    assert out[3] == "und"


def test_fingerprints_order_invariance(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "gamma beta alpha alpha"), (2, "alpha beta delta")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.fingerprints(docs).collect()}
    # canon fingerprint ignores order+repetition; exact does not.
    assert out[0].canon_fingerprint == out[1].canon_fingerprint
    assert out[0].canon_fingerprint != out[2].canon_fingerprint
    assert out[0].exact_fingerprint != out[1].exact_fingerprint


def test_multimodal_meta_and_decode_stub(spark):
    docs = spark.createDataFrame(
        [(0, "hello world"), (1, "RIFF fake wav payload")], "doc_id long, text string"
    )
    media = multimodal.attach_payload(docs)
    meta = {r.media_id: r for r in multimodal.extract_meta(media).collect()}
    assert meta[0].n_bytes == len(b"hello world")
    assert meta[0].magic == "unknown"
    assert meta[1].magic == "riff"
    import hashlib

    assert meta[0].sha256 == hashlib.sha256(b"hello world").hexdigest()

    # Default decoder (round 10: real PPM/PGM/BMP codec) must refuse a
    # non-image payload loudly inside the kernel, not fabricate dims…
    with pytest.raises(Exception, match="unsupported image format"):
        multimodal.decode_image(media).collect()
    # …and the deterministic fake exercises the real mapInPandas plumbing.
    decoded = multimodal.decode_image(
        media, decoder=multimodal.fake_image_decoder
    ).collect()
    assert len(decoded) == 2
    assert all(64 <= r.width < 128 and r.channels == 3 for r in decoded)


def test_bucket_cap_bounds_boilerplate_skew(spark, monkeypatch):
    """One boilerplate string repeated 1000× must not explode candidate
    generation when the cap is on; genuine near-dup pairs survive."""
    from taxi_trips_etl_spark.dataprep.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    monkeypatch.setattr(dedup, "MAX_BUCKET_SIZE", 50)
    monkeypatch.setattr(dedup, "MAX_POSTING_SIZE", 50)

    boiler = "all rights reserved this page is intentionally left blank " * 3
    near_a = "the quick brown fox jumps over the lazy dog again and again ok"
    near_b = "the quick brown fox jumps over the lazy dog again and again no"
    rows = [(i, boiler) for i in range(1000)] + [
        (2000, near_a),
        (2001, near_b),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    capped = minhash_lsh_candidates(docs)
    got = {(r.doc_id_a, r.doc_id_b) for r in capped.collect()}
    # The 1000-doc boilerplate bucket (499 500 pairs uncapped) is gone;
    # the real near-dup pair remains.
    assert (2000, 2001) in got
    assert len(got) < 100

    jac = ngram_jaccard_pairs(docs, threshold=0.5)
    jgot = {(r.doc_id_a, r.doc_id_b) for r in jac.collect()}
    assert (2000, 2001) in jgot
    assert len(jgot) < 100


def test_bucket_cap_noop_on_normal_corpus(docs, monkeypatch):
    """On a corpus with no hot bucket the capped output is identical."""
    from taxi_trips_etl_spark.dataprep.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )

    base = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_lsh_candidates(docs).collect()
    }
    jbase = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    monkeypatch.setattr(dedup, "MAX_BUCKET_SIZE", 50)
    monkeypatch.setattr(dedup, "MAX_POSTING_SIZE", 50)
    capped = {
        (r.doc_id_a, r.doc_id_b)
        for r in minhash_lsh_candidates(docs).collect()
    }
    assert base == capped and len(base) > 0
    jcapped = {
        (r.doc_id_a, r.doc_id_b, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert jbase == jcapped and len(jbase) > 0


def test_pii_scrub_redacts_each_kind(spark):
    from taxi_trips_etl_spark.dataprep.text import pii_scrub

    rows = [
        (1, "contact me at jane.doe+spam@example.co.uk please"),
        (2, "see https://example.com/a?b=c#frag for details"),
        (3, "server at 192.168.0.1 and phone 555-867-5309 x"),
        (4, "phone 555 867 5309 or 555.867.5309"),
        (5, "nothing sensitive here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.scrubbed_text, r.pii_found) for r in pii_scrub(docs).collect()}
    assert out[1] == ("contact me at <EMAIL> please", 1)
    assert out[2] == ("see <URL> for details", 1)
    assert out[3] == ("server at <IP> and phone <PHONE> x", 1)
    assert out[4] == ("phone <PHONE> or <PHONE>", 1)
    assert out[5] == ("nothing sensitive here", 0)


def test_lexical_diversity_signals(spark):
    import math

    from taxi_trips_etl_spark.dataprep.text import lexical_diversity

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),          # 1 type / 4 tokens
            (2, "all four words differ"),        # uniform: H = log2(4) = 2
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in lexical_diversity(docs).collect()}
    assert out[1].n_tokens == 4 and out[1].n_distinct_tokens == 1
    assert out[1].ttr == 0.25 and out[1].top_token_frac == 1.0
    assert out[1].token_entropy == 0.0
    assert out[2].ttr == 1.0 and out[2].top_token_frac == 0.25
    assert math.isclose(out[2].token_entropy, 2.0)


def test_ngram_decontaminate_flags_overlap_only(spark):
    from taxi_trips_etl_spark.dataprep.text import ngram_decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "intro text then the quick brown fox jumps too"),  # 5-gram hit
            (2, "a completely different document with no overlap at all"),
            (100, "the quick brown fox jumps over the lazy dog"),  # self: excluded
        ],
        "doc_id long, text string",
    )
    got = {(r.doc_id, r.eval_doc_id)
           for r in ngram_decontaminate(corpus, eval_docs).collect()}
    assert got == {(1, 100)}


def test_extract_features_histogram_and_resize(spark):
    from taxi_trips_etl_spark.dataprep.multimodal import (
        attach_payload,
        extract_features,
        fake_image_decoder,
        resize_image,
    )
    import pytest

    docs = spark.createDataFrame(
        [(1, "aaab"), (2, " ")], "doc_id long, text string"
    )
    media = attach_payload(docs)
    feats = {r.media_id: r for r in extract_features(media).collect()}
    # 'a'=0x61, 'b'=0x62 → bucket 6; ' '=0x20 → bucket 2
    assert feats[1].c6 == 4 and sum(feats[1][f"c{i}"] for i in range(16)) == 4
    assert feats[2].c2 == 1

    # Default decoder refuses non-image payloads inside the kernel
    # (round 10: the real codec replaced the driver-side stub gate).
    with pytest.raises(Exception, match="unsupported image format"):
        resize_image(media).collect()
    # Metadata-only decoders (no "pixels" key) keep the historical
    # deterministic fake path: cycled payload bytes, channels = 1.
    rs = {r.media_id: r for r in
          resize_image(media, 8, 4, decoder=fake_image_decoder).collect()}
    assert rs[1].width == 8 and rs[1].height == 4 and rs[1].channels == 1
    assert len(rs[1].resized_payload) == 32
    assert bytes(rs[1].resized_payload[:4]) == b"aaab"  # cycled source
    assert len(rs[2].resized_payload) == 32


def test_repetition_scores_flags_templated_text(spark):
    from taxi_trips_etl_spark.dataprep.text import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "spam ham spam ham spam ham spam ham"),   # one bigram loop
            (2, "alpha beta gamma delta epsilon zeta"),   # all unique
            (3, "x"),                                     # too short for grams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_scores(docs).collect()}
    assert len(rows) == 3
    # doc 1: 7 bigrams, 'spam ham' x4 + 'ham spam' x3 — all duplicated.
    assert rows[1]["n_bigrams"] == 7
    assert rows[1]["top_bigram_frac"] == round(4 / 7, 4)
    assert rows[1]["dup_bigram_frac"] == 1.0
    assert rows[1]["dup_trigram_frac"] == 1.0
    # doc 2: every gram unique.
    assert rows[2]["dup_bigram_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] == round(1 / 5, 4)
    # doc 3: no grams at all — zeros, row retained.
    assert rows[3]["n_bigrams"] == 0 and rows[3]["dup_trigram_frac"] == 0.0


def test_pack_sequences_offsets_and_bucket_invariance(spark, monkeypatch):
    from taxi_trips_etl_spark.dataprep import packing
    from taxi_trips_etl_spark.dataprep.packing import pack_sequences

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i))) for i in range(10)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in pack_sequences(docs, seq_len=8).collect()}
    # Prefix property: start_offset is the sum of earlier docs' tokens.
    acc = 0
    for i in range(10):
        assert out[i]["start_offset"] == acc
        assert out[i]["n_tokens"] == 3 + i
        assert out[i]["first_seq"] == acc // 8
        assert out[i]["last_seq"] == (acc + 3 + i - 1) // 8
        acc += 3 + i
    # The two-pass plan must be invariant to bucket granularity.
    monkeypatch.setattr(packing, "BUCKET_SPAN", 2)
    tiny = pack_sequences(docs, seq_len=8).collect()
    monkeypatch.setattr(packing, "BUCKET_SPAN", 10**6)
    one = pack_sequences(docs, seq_len=8).collect()
    assert sorted(map(tuple, tiny)) == sorted(map(tuple, one))


def test_domain_mixture_upweights_tail(spark):
    from taxi_trips_etl_spark.dataprep.sampling import domain_mixture_sample

    rows = [(i, "big") for i in range(900)] + [
        (900 + i, "small") for i in range(100)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    kept = domain_mixture_sample(df)
    by_dom = {
        r["source"]: r["n"]
        for r in kept.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    # sqrt weights: sqrt(900):sqrt(100) = 3:1 → rates 500*0.75/900
    # ≈ 0.42 vs 500*0.25/100 = 1.0 (capped): the tail domain keeps a
    # strictly higher fraction than the head domain.
    assert by_dom["small"] / 100 > by_dom["big"] / 900
    assert by_dom["small"] == 100  # rate capped at 1.0 → keeps everything
    # Deterministic: rerun gives the identical membership.
    again = domain_mixture_sample(df)
    assert sorted(r["doc_id"] for r in kept.collect()) == sorted(
        r["doc_id"] for r in again.collect()
    )


def test_build_vocab_ids_and_ranking(spark):
    docs = spark.createDataFrame(
        [(1, "b a a c a b"), (2, "a b d")], "doc_id long, text string"
    )
    rows = text.build_vocab(docs, vocab_size=3).collect()
    got = [(r["token"], r["token_id"], r["n_occurrences"]) for r in rows]
    # a:4, b:3, then c/d tie at 1 → lexicographic 'c' wins the last slot.
    assert sorted(got, key=lambda t: t[1]) == [("a", 0, 4), ("b", 1, 3), ("c", 2, 1)]


def test_c4_quality_filter_rules(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # clean
            (2, "a b"),                                          # too short
            (3, "ok ok ok ok ok " + "x" * 60),                   # long blob token
            (4, "$$$ %%% ### @@@ !!! ^^^"),                      # symbol soup
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.c4_quality_filter(docs).collect()}
    assert rows[1]["keep"] == 1
    assert rows[2]["keep"] == 0 and rows[2]["ok_n_tokens"] == 0
    assert rows[3]["keep"] == 0 and rows[3]["ok_max_tok"] == 0
    assert rows[4]["keep"] == 0 and rows[4]["ok_symbols"] == 0


def test_minhash_incremental_touches_batch_only(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again today"),
            (2, "the quick brown fox jumps over the lazy dog again today"),
            (10, "the quick brown fox jumps over the lazy dog again today"),
            (11, "completely different words about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    corpus = docs.filter(F.col("doc_id") < 10)
    batch = docs.filter(F.col("doc_id") >= 10)
    pairs = {
        (r["doc_id_a"], r["doc_id_b"])
        for r in dedup.minhash_lsh_incremental(corpus, batch).collect()
    }
    # Duplicate trio is 1,2,10: batch doc 10 pairs with both corpus
    # docs, but the corpus-internal pair (1,2) must NOT re-emit.
    assert (1, 10) in pairs and (2, 10) in pairs
    assert (1, 2) not in pairs
    # Every pair touches the batch.
    assert all(a >= 10 or b >= 10 for a, b in pairs)


def test_tokenize_with_vocab_ids_and_oov(spark):
    docs = spark.createDataFrame(
        [(1, "a b a zzz"), (2, "b b b")], "doc_id long, text string"
    )
    vocab = text.build_vocab(docs, vocab_size=2)  # keeps b(4), a(2)
    rows = {r["doc_id"]: r for r in
            text.tokenize_with_vocab(docs, vocab).collect()}
    # b -> 0, a -> 1, zzz OOV -> -1
    assert rows[1]["token_ids"] == "1 0 1 -1"
    assert rows[1]["n_unk"] == 1 and rows[1]["n_tokens"] == 4
    assert rows[2]["token_ids"] == "0 0 0" and rows[2]["n_unk"] == 0


def test_dedup_stats_by_source(spark):
    docs = spark.createDataFrame(
        [(1, "x", "s1"), (2, "x", "s1"), (3, "y", "s1"), (4, "z", "s2")],
        "doc_id long, text string, source string",
    )
    rows = {r["source"]: r for r in
            text.dedup_stats_by_source(docs).collect()}
    assert rows["s1"]["n_docs"] == 3
    assert rows["s1"]["n_unique_texts"] == 2
    assert rows["s1"]["dup_rate"] == round(1 / 3, 4)
    assert rows["s2"]["dup_rate"] == 0.0


def test_prepare_corpus_v2_stage_properties(spark, sf_dir):
    from taxi_trips_etl_spark.dataprep.corpus import prepare_corpus_v2

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = prepare_corpus_v2(docs).collect()
    ids = [r["doc_id"] for r in out]
    assert len(ids) == len(set(ids))
    # Eval slice excluded from the corpus.
    assert all(i % 20 != 0 for i in ids)
    # Packing offsets are a dense prefix sum in doc_id order.
    rows = sorted(out, key=lambda r: r["doc_id"])
    acc = 0
    for r in rows:
        assert r["start_offset"] == acc
        assert r["n_seqs"] == r["last_seq"] - r["first_seq"] + 1
        assert len(r["token_ids"].split()) == r["n_tokens"]
        assert r["split"] in ("train", "test")
        acc += r["n_tokens"]


def test_winnowing_guarantee_and_shape(spark):
    """Winnowing guarantee: docs sharing a substring of length >=
    k+w-1 (= 11 here) share at least one fingerprint; disjoint texts
    share none."""
    shared = "commonsharedsubstringxyz"
    docs = spark.createDataFrame(
        [
            (1, "prefixAAA " + shared + " suffixBBB"),
            (2, "totally other start " + shared + " and ending"),
            (3, "qwertyuiopasdfghjklzxcvbnm0123456789"),
        ],
        "doc_id long, text string",
    )
    fps = text.winnowing_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # Coverage bound: fingerprints per doc ~ 2n/(w+1), far below n.
    assert 0 < len(by_doc[1]) < len(docs.collect()[0]["text"])


def test_winnowing_near_dup_pairs_partial_overlap(spark):
    shared = "this exact paragraph was copied verbatim into another doc"
    docs = spark.createDataFrame(
        [
            (1, "unique preamble one. " + shared + " unique tail one"),
            (2, "other intro text here. " + shared + " different close"),
            (3, "nothing in common with anybody qwertyzxcvb mnbvcasdfg"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["doc_id_a"], r["doc_id_b"]): r["n_shared"]
             for r in text.winnowing_near_dup_pairs(docs).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] >= 3
    assert all(3 not in p for p in pairs)


def test_fastss_catches_inserts_deletes_and_substitutions(spark):
    """Deletion blocking is complete for ALL three edit-distance-1
    cases (the customer-name oracle only exercises substitutions —
    names there share one length)."""
    from taxi_trips_etl_spark.dataprep.dedup import fastss_pairs

    rows = [
        (1, "kitten"),
        (2, "kitten"),   # exact dup: emitted as a distance-0 pair
        (3, "mitten"),   # substitution vs 1
        (4, "kittens"),  # insertion vs 1
        (5, "kiten"),    # deletion vs 1
        (6, "flamingo"), # unrelated
    ]
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in fastss_pairs(df).collect()
    }
    assert got[(1, 3)] == 1 and got[(2, 3)] == 1   # substitution
    assert got[(1, 4)] == 1 and got[(2, 4)] == 1   # insertion
    assert got[(1, 5)] == 1 and got[(2, 5)] == 1   # deletion
    assert got[(1, 2)] == 0                         # exact dup surfaces as dist 0
    assert (4, 5) not in got                        # dist 2: above max_dist
    assert not any(6 in p for p in got)


def test_fastss_equals_bruteforce_on_random_corpus(spark):
    """Exactness on a seeded random corpus over a tiny alphabet (lots
    of near-collisions): fastss_pairs must equal the all-pairs
    Levenshtein ground truth computed in Python."""
    import random

    from taxi_trips_etl_spark.dataprep.dedup import fastss_pairs

    rng = random.Random(42)
    names = [
        "".join(rng.choice("ab") for _ in range(rng.randint(2, 6)))
        for _ in range(60)
    ]
    rows = [(i, s) for i, s in enumerate(names)]

    def lev(a: str, b: str) -> int:
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[j - 1] + 1,
                        prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    want = {
        (i, j): lev(a, b)
        for i, a in rows
        for j, b in rows
        if i < j and lev(a, b) <= 1
    }
    df = spark.createDataFrame(rows, "c_custkey long, c_name string")
    got = {
        (r["id_a"], r["id_b"]): r["edit_dist"]
        for r in fastss_pairs(df).collect()
    }
    assert got == want and len(want) > 0


def test_semantic_decontaminate_matches_numpy_bruteforce(spark, sf_dir):
    import numpy as np
    import pyarrow.parquet as pq

    from taxi_trips_etl_spark.dataprep.similarity import (
        semantic_decontaminate,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {
        r["vec_id"]: (r["matched_eval_id"], r["max_cosine"])
        for r in semantic_decontaminate(
            emb.filter("vec_id >= 50"),
            emb.filter("vec_id < 50").selectExpr(
                "vec_id AS eval_id", "embedding"
            ),
        ).collect()
    }

    t = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    E = np.vstack(t.embedding.values).astype(float)
    vid = t.vec_id.values
    N = E / np.linalg.norm(E, axis=1, keepdims=True)
    ev_mask, co_mask = vid < 50, vid >= 50
    sims = np.round(N[co_mask] @ N[ev_mask].T, 6)
    ev_ids, co_ids = vid[ev_mask], vid[co_mask]
    want = {}
    for i, cid in enumerate(co_ids):
        j = int(np.argmax(sims[i]))  # ties: first = lowest eval index
        if sims[i, j] >= 0.4:
            want[int(cid)] = (int(ev_ids[j]), float(sims[i, j]))
    assert got == want and got, "must flag the numpy-exact set (non-empty)"


def test_semantic_decontaminate_tie_prefers_lower_eval_id(spark):
    from taxi_trips_etl_spark.dataprep.similarity import (
        semantic_decontaminate,
    )

    corpus = spark.createDataFrame(
        [(100, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    eval_set = spark.createDataFrame(
        [(7, [2.0, 0.0]), (3, [5.0, 0.0])],
        "eval_id long, embedding array<double>",
    )
    rows = semantic_decontaminate(corpus, eval_set).collect()
    assert len(rows) == 1
    assert rows[0]["matched_eval_id"] == 3  # both cos=1.0 → lower id
    assert rows[0]["max_cosine"] == 1.0


def test_ngram_miners_equal_bruteforce_on_random_corpus(spark):
    """Exactness of the hashed-key PPJoin plans on a seeded random
    corpus over a tiny vocabulary (maximal shingle collisions): both
    miners must equal the all-pairs ground truth computed in Python —
    the prefix filter prunes candidates, never results, and the
    xxhash64 keys behave as if they were the gram strings."""
    import random

    rng = random.Random(7)
    vocab = ["aa", "bb", "cc", "dd"]
    texts = []
    for i in range(40):
        n_tok = rng.randint(3, 12)
        texts.append(" ".join(rng.choice(vocab) for _ in range(n_tok)))
    rows = [(i, t) for i, t in enumerate(texts)]

    def grams(t):
        toks = t.split()
        return {
            " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
        }

    want_j, want_c = {}, {}
    for i, ta in rows:
        for j, tb in rows:
            if i >= j:
                continue
            ga, gb = grams(ta), grams(tb)
            if not ga or not gb:
                continue
            inter = len(ga & gb)
            jac = inter / len(ga | gb)
            con = inter / min(len(ga), len(gb))
            if round(jac, 6) >= 0.5:
                want_j[(i, j)] = round(jac, 6)
            if round(con, 6) >= 0.6:
                want_c[(i, j)] = round(con, 6)

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_j = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.5).collect()
    }
    got_c = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in dedup.ngram_containment_pairs(df).collect()
    }
    assert got_j == want_j and len(want_j) > 0
    assert got_c == want_c and len(want_c) > 0


def test_ngram_miners_threshold_one_prefix_edge(spark, monkeypatch):
    """threshold=1.0 shrinks the PPJoin prefix to exactly ONE gram
    (n − ⌈t·n⌉ + 1 = 1) — the boundary of the round-8 sorted-array
    slice. Identical gram sets must still pair; any proper subset or
    overlap below 1.0 must not (jaccard); containment=1.0 must still
    catch a short doc quoted inside a longer one."""
    from taxi_trips_etl_spark.dataprep import dedup

    rows = [
        (0, "aa bb cc dd"),          # grams: {aa bb cc, bb cc dd}
        (1, "aa bb cc dd"),          # identical → J=1, C=1
        (2, "aa bb cc"),             # subset (1 gram) → J=0.5, C=1
        (3, "xx yy zz ww"),          # disjoint
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    jac = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(df, threshold=1.0).collect()
    }
    assert jac == {(0, 1): 1.0}
    monkeypatch.setattr(dedup, "CONTAINMENT_THRESHOLD", 1.0)
    con = {
        (r.doc_id_a, r.doc_id_b): r.containment
        for r in dedup.ngram_containment_pairs(df).collect()
    }
    assert con == {(0, 1): 1.0, (0, 2): 1.0, (1, 2): 1.0}


def test_ngram_miners_positional_filter_sound_across_thresholds(
    spark, monkeypatch
):
    """The round-8 PPJoin positional filter prunes candidate rows by
    1 + min suffix length ≥ α — an off-by-one in α or pos would
    silently DROP true pairs, so pin exact brute-force equality at
    thresholds spanning loose to strict (α from tiny to ≈ n_grams)."""
    import random

    from taxi_trips_etl_spark.dataprep import dedup

    rng = random.Random(13)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 14))))
        for i in range(35)
    ]
    # exact twins keep even t=0.9 non-vacuous
    rows += [(100, rows[0][1]), (101, rows[1][1])]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(t):
        toks = t.split()
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    for t in (0.3, 0.5, 0.7, 0.9):
        want_j, want_c = {}, {}
        for i, ta in rows:
            for j, tb in rows:
                if i >= j:
                    continue
                ga, gb = grams(ta), grams(tb)
                if not ga or not gb:
                    continue
                inter = len(ga & gb)
                if round(inter / len(ga | gb), 6) >= t:
                    want_j[(i, j)] = round(inter / len(ga | gb), 6)
                if round(inter / min(len(ga), len(gb)), 6) >= t:
                    want_c[(i, j)] = round(inter / min(len(ga), len(gb)), 6)
        got_j = {
            (r.doc_id_a, r.doc_id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(df, threshold=t).collect()
        }
        monkeypatch.setattr(dedup, "CONTAINMENT_THRESHOLD", t)
        got_c = {
            (r.doc_id_a, r.doc_id_b): r.containment
            for r in dedup.ngram_containment_pairs(df).collect()
        }
        assert got_j == want_j, f"jaccard mismatch at t={t}"
        assert got_c == want_c, f"containment mismatch at t={t}"
        assert want_j and want_c, f"vacuous at t={t}"


def test_dedup_vocab_params_guarded(spark):
    """Round 11 guard sweep (same discipline as resize_image): degenerate
    sketch parameters must fail loudly at call time, not silently
    corrupt. The dangerous silent case: word_ngrams(n=0) shingles every
    doc to [''] (universal collisions)."""
    import pytest

    from pyspark.sql import functions as F

    from taxi_trips_etl_spark.dataprep import dedup, text

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c d e")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="n >= 1"):
        dedup.word_ngrams(F.col("toks"), 0)
    with pytest.raises(ValueError, match="vocab_size >= 1"):
        text.build_vocab(docs, vocab_size=0)


def test_similarity_sampling_packing_params_guarded(spark):
    """Round 11 guard sweep, part 2: ANN/sampling/packing parameters
    whose degenerate values silently corrupt (empty sign buckets →
    all-pairs; out-of-range rates → wrong sample sizes; div by 0 →
    NULL columns)."""
    import pytest

    from pyspark.sql import functions as F

    from taxi_trips_etl_spark.dataprep import packing, sampling, similarity

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0, 0.5]) for i in range(6)],
        "vec_id long, embedding array<double>",
    )
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="planes >= 1"):
        similarity.sign_bucket(F.col("embedding"), planes=0)
    with pytest.raises(ValueError, match="band >= 0"):
        similarity.sign_bucket_band(F.col("embedding"), band=-1, planes=4)
    with pytest.raises(ValueError, match="k >= 1"):
        similarity.cosine_topk_bruteforce(emb, k=0)
    with pytest.raises(ValueError, match="planes >= 1"):
        similarity.cosine_topk_lsh(emb, planes=0)
    with pytest.raises(ValueError, match="stratum rate"):
        sampling.stratified_sample(docs, rates={"x": 2.0})
    # r12 ADVICE closure: a stratum literally named '__default__' used to
    # be clobbered by default_rate in a merged validation dict, letting
    # its out-of-range rate escape the guard (while still being applied
    # in the threshold CASE). Both must now raise independently.
    with pytest.raises(ValueError, match="stratum rate"):
        sampling.stratified_sample(docs, rates={"__default__": 7.0})
    with pytest.raises(ValueError, match=r"default_rate must be in \[0, 1\]"):
        sampling.stratified_sample(
            docs, rates={"x": 0.5}, default_rate=-0.2
        )
    with pytest.raises(ValueError, match="seq_len >= 1"):
        packing.pack_sequences(docs, seq_len=0)
    # valid calls still work end-to-end
    assert similarity.cosine_topk_bruteforce(emb, query_ids_below=2, k=2).count() > 0
    assert sampling.kfold_assign(docs).count() == 2


def test_text_windows_hand_check(spark, monkeypatch):
    """chunk_documents on a hand-sized window: stride = chunk − overlap,
    the tail chunk shorter; winnowing keeps a fingerprint per window."""
    from taxi_trips_etl_spark.dataprep import text

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    monkeypatch.setattr(text, "CHUNK_TOKENS", 4)
    monkeypatch.setattr(text, "CHUNK_OVERLAP", 1)
    chunks = text.chunk_documents(docs).orderBy("chunk_id").collect()
    assert [r.chunk_text for r in chunks] == ["a b c d", "d e f g", "g h"]
    assert text.winnowing_fingerprints(docs).count() > 0


def test_banded_levenshtein_identity(spark):
    """r14 banded-verify pin: levenshtein(a, b, k) must return the
    EXACT distance when it is ≤ k and −1 otherwise, so the fastss /
    record-linkage rewrite (`thr ≥ 0` for `full ≤ k`) is an identity —
    including at the threshold boundary and across length gaps."""
    from pyspark.sql import functions as F

    cases = [
        ("kitten", "sitting"),  # dist 3
        ("abc", "abc"),         # 0
        ("abc", "abd"),         # 1 (substitution)
        ("abc", "ab"),          # 1 (deletion)
        ("ab", "abcd"),         # 2 (two inserts)
        ("abc", "xbcz"),        # 2
        ("", "ab"),             # 2, empty side
    ]
    df = spark.createDataFrame(cases, "a string, b string")
    for k in (1, 2):
        rows = df.select(
            F.levenshtein("a", "b").alias("full"),
            F.levenshtein("a", "b", k).alias("thr"),
        ).collect()
        for r in rows:
            if r.full <= k:
                assert r.thr == r.full, (k, r)
            else:
                assert r.thr == -1, (k, r)
