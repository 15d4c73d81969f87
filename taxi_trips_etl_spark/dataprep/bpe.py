"""BPE merge-rule learning (Sennrich et al. 2016) over a corpus.

The tokenizer-training half of the LLM data pipeline: `text.py` already
*applies* a vocabulary (`tokenize_with_vocab`); this module *learns*
byte-pair-encoding merge rules from corpus statistics. The classic
algorithm operates on the word-frequency table, not the raw corpus —
which is exactly what makes it scale: the corpus-sized work is ONE
word-count aggregation (map-side combined), and every merge iteration
after that touches only the vocabulary (bounded: ~millions of rows at
100 TB, independent of corpus bytes).

Iteration shape (distributed path): words are char-token arrays;
each round explodes adjacent token pairs weighted by word frequency,
aggregates pair counts (one narrow shuffle on the pair key), takes the
argmax with a total deterministic tiebreak (count DESC, then pair
lexicographic ASC), and rewrites token arrays with a JVM-side
``aggregate`` fold — greedy left-to-right, no Python in the loop.
Lineage is truncated per round (:func:`materialize`).

Below ``driver_vocab_cap`` the word-frequency table Arrow-collects and
a pure-python loop runs the identical recurrence (same routing
rationale as ``components.connected_components_auto``); both paths are
pytest-pinned equal, plus a hand-computed example pins the semantics.

The data-dependent argmax per iteration long made this rows-only;
round 5 showed the greedy fold IS SQL-replayable (cascades cannot
occur, so the rewrite reduces to replace-all for a≠b plus
even-offset run pairing for a=a) — the registry entry now carries an
unrolled-CTE oracle (queries._round4._bpe_learn_oracle) and
hash-verifies; pytest still carries the distributed ≡ driver ≡
hand-example proof plus a cross-engine run-merge pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import (
    driver_rows,
    materialize,
    static_rounds,
)
from taxi_trips_etl_spark.sources.localrel import local_rows

_WORD_RE = "[a-z]+"
N_MERGES = 8  # merges learned; the registry oracle unrolls the same count
_MERGES_SCHEMA = "merge_rank long, tok_a string, tok_b string, pair_count long"


def word_freqs(docs: DataFrame) -> DataFrame:
    """→ (word, freq): lowercase alpha word counts over the corpus."""
    return (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_fold_expr(a: str, b: str) -> str:
    """SQL fold rewriting token arrays: greedy left-to-right merge of
    adjacent pair (a, b) into a single token a||b."""
    qa, qb = a.replace("'", "\\'"), b.replace("'", "\\'")
    return (
        "aggregate(toks, cast(array() as array<string>), (acc, t) -> "
        f"case when size(acc) > 0 and try_element_at(acc, -1) = '{qa}' "
        f"and t = '{qb}' "
        f"then concat(slice(acc, 1, size(acc) - 1), array('{qa}{qb}')) "
        "else concat(acc, array(t)) end)"
    )


def learn_bpe_distributed(wf: DataFrame) -> DataFrame:
    """→ (merge_rank, tok_a, tok_b, pair_count): learned merge table
    over ``wf``, the materialized :func:`word_freqs` table
    :func:`learn_bpe_auto` builds (the corpus is counted once)."""
    vocab = wf.select(
        F.expr("split(word, '')").alias("toks"), "freq"
    ).transform(materialize, eager=False)
    out = []
    # static_rounds (r14): each merge iteration is one explode →
    # partial-agg → TakeOrdered collect over the (corpus-independent)
    # vocabulary table — no in-loop join, so the static_rounds hint
    # precondition is vacuous and AQE only adds its per-exchange
    # stage-job cadence (profiler: 22 → 14 jobs for 8 merges). No
    # width pin: the pair aggregate is vocabulary-bounded but not
    # counted in-loop, so the exchanges stay at the session default.
    with static_rounds(wf.sparkSession):
        for rank in range(1, N_MERGES + 1):
            pairs = (
                vocab.filter(F.size("toks") >= 2)
                .select(
                    F.explode(
                        F.expr(
                            "transform(sequence(1, size(toks) - 1), "
                            "i -> struct(element_at(toks, i) as a, "
                            "element_at(toks, i + 1) as b))"
                        )
                    ).alias("p"),
                    "freq",
                )
                .groupBy("p.a", "p.b")
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.col("cnt").desc(), "a", "b")
                .limit(1)
                .collect()
            )
            if not pairs:
                break
            a, b, cnt = pairs[0]["a"], pairs[0]["b"], pairs[0]["cnt"]
            out.append((rank, a, b, int(cnt)))
            vocab = vocab.select(
                F.expr(_merge_fold_expr(a, b)).alias("toks"), "freq"
            ).transform(materialize, eager=False)
    return local_rows(wf.sparkSession, out, _MERGES_SCHEMA)


def learn_bpe_driver(
    word_freq_rows: list[tuple[str, int]],
) -> list[tuple[int, str, str, int]]:
    """Pure-python reference of the identical recurrence (also the
    driver fast path): greedy left-to-right merges, tiebreak
    (count DESC, pair ASC)."""
    vocab = [([*w], f) for w, f in word_freq_rows]
    out: list[tuple[int, str, str, int]] = []
    for rank in range(1, N_MERGES + 1):
        counts: dict = {}
        for toks, f in vocab:
            for i in range(len(toks) - 1):
                counts[(toks[i], toks[i + 1])] = (
                    counts.get((toks[i], toks[i + 1]), 0) + f
                )
        if not counts:
            break
        (a, b), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        out.append((rank, a, b, cnt))
        merged = a + b
        new_vocab = []
        for toks, f in vocab:
            acc: list = []
            for t in toks:
                if acc and acc[-1] == a and t == b:
                    acc[-1] = merged
                else:
                    acc.append(t)
            new_vocab.append((acc, f))
        vocab = new_vocab
    return out


def learn_bpe_auto(
    docs: DataFrame,
    driver_vocab_cap: int = 2_000_000,
) -> DataFrame:
    """Driver loop below ``driver_vocab_cap`` vocabulary rows,
    :func:`learn_bpe_distributed` beyond it."""
    wf = word_freqs(docs).transform(materialize, eager=True)
    probe = driver_rows(wf, driver_vocab_cap)
    if probe is None:
        return learn_bpe_distributed(wf)
    rows = list(zip(probe["word"].tolist(), probe["freq"].tolist()))
    return local_rows(docs.sparkSession, learn_bpe_driver(rows), _MERGES_SCHEMA)
