"""Count-Min sketch: mergeable frequency registers + point estimates.

The third mergeable sketch in the profiling family (HLL counts
distincts, KMV intersects sets, CMS answers "how often did THIS item
occur" without holding the vocabulary): ``depth`` independent md5-salted
hash rows of ``width`` counters each; an item's estimate is the MINIMUM
of its ``depth`` counters, which can only over-count (collisions add,
never subtract) — the classic Cormode-Muthukrishnan bound
err ≤ e/width · N with prob 1 − e^-depth.

Engine-portability: every register is an exact integer sum and the
bucket derivation is md5-based (same convention as
``sampling._key_bucket`` / the HLL portable registers), so DuckDB
replays the whole sketch bit-for-bit — no float appears anywhere.

Scale shape (100 TB): the corpus is touched ONCE by a (value → count)
hash aggregate (map-side combinable); everything after is vocab-sized
(salting the count table ``depth×``, one more hash aggregate down to
``depth·width`` registers ≤ a few thousand rows). Registers are
PARTIALS: per-day/per-partition register tables add cell-wise
(groupBy(row,col).sum), the same rollup dataflow as the HLL register
max — so a year of daily sketches merges without re-reading a byte.
Estimates join a bounded probe set against the register table —
broadcast, data-volume-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEPTH = 4
WIDTH = 512
PROBE_TOP_N = 20  # words probed, shared by the Spark builder and its oracle


def _bucket(value: F.Column, row_idx: F.Column) -> F.Column:
    """md5-derived column index in [0, WIDTH) for one hash row —
    the Spark twin of the oracle's concat('0x', substr(md5(...)))."""
    h = F.md5(
        F.concat(
            F.lit("cms"),
            row_idx.cast("string"),
            F.lit(":"),
            value.cast("string"),
        )
    )
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % WIDTH
    ).alias("col_idx")


def cms_registers(df: DataFrame) -> DataFrame:
    """(row_idx, col_idx, reg_cnt) register table of ``df.word`` — the
    persistable, cell-wise-addable sketch state."""
    counts = df.groupBy(F.col("word").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    salted = counts.select(
        "v",
        "cnt",
        F.explode(F.array(*[F.lit(i) for i in range(DEPTH)])).alias(
            "row_idx"
        ),
    )
    return (
        salted.withColumn("col_idx", _bucket(F.col("v"), F.col("row_idx")))
        .groupBy("row_idx", "col_idx")
        .agg(F.sum("cnt").cast("long").alias("reg_cnt"))
    )


def cms_token_estimates(
    docs: DataFrame,
) -> DataFrame:
    """Build a CMS over corpus word frequencies and probe it with the
    ``PROBE_TOP_N`` most frequent words (exact count alongside, so the
    one-sided error is visible in the output).

    → (word, exact_cnt, cms_cnt) with cms_cnt ≥ exact_cnt always.
    """
    words = docs.select(
        F.explode(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        ).alias("word")
    ).filter(F.col("word") != "")
    exact = words.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("exact_cnt")
    )
    regs = cms_registers(words)
    # Probe set: exact top-n (deterministic word tiebreak) — bounded,
    # so the probe×registers join is broadcast on the probe side.
    probe = (
        exact.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("exact_cnt").desc(), F.col("word"))
            ),
        )
        .filter(F.col("rk") <= PROBE_TOP_N)
        .drop("rk")
    )
    probed = F.broadcast(probe).select(
        "word",
        "exact_cnt",
        F.explode(F.array(*[F.lit(i) for i in range(DEPTH)])).alias(
            "row_idx"
        ),
    )
    probed = probed.withColumn(
        "col_idx", _bucket(F.col("word"), F.col("row_idx"))
    )
    est = (
        probed.join(regs, ["row_idx", "col_idx"])
        .groupBy("word", "exact_cnt")
        .agg(F.min("reg_cnt").cast("long").alias("cms_cnt"))
    )
    return est.orderBy(F.col("exact_cnt").desc(), "word")


def cms_oracle_sql(words_sql: str) -> str:
    """DuckDB twin of :func:`cms_token_estimates` — identical bucket
    derivation (md5 hex → int, mod WIDTH) and integer register sums,
    parameterized over a one-column (word) relation."""
    rows = ", ".join(f"({i})" for i in range(DEPTH))
    return f"""
    WITH w AS ({words_sql}),
    exact AS (
        SELECT word, CAST(count(*) AS BIGINT) AS exact_cnt
        FROM w GROUP BY word
    ),
    rows_idx(row_idx) AS (VALUES {rows}),
    regs AS (
        SELECT row_idx,
               CAST(concat('0x', substr(md5('cms' || CAST(row_idx AS VARCHAR)
                                        || ':' || word), 1, 8)) AS BIGINT)
                   % {WIDTH} AS col_idx,
               CAST(sum(exact_cnt) AS BIGINT) AS reg_cnt
        FROM exact CROSS JOIN rows_idx
        GROUP BY 1, 2
    ),
    probe AS (
        SELECT word, exact_cnt FROM (
            SELECT word, exact_cnt,
                   row_number() OVER (ORDER BY exact_cnt DESC, word) AS rk
            FROM exact)
        WHERE rk <= {PROBE_TOP_N}
    ),
    probed AS (
        SELECT p.word, p.exact_cnt, r.row_idx,
               CAST(concat('0x', substr(md5('cms' || CAST(r.row_idx AS VARCHAR)
                                        || ':' || p.word), 1, 8)) AS BIGINT)
                   % {WIDTH} AS col_idx
        FROM probe p CROSS JOIN rows_idx r
    )
    SELECT p.word, p.exact_cnt,
           CAST(min(regs.reg_cnt) AS BIGINT) AS cms_cnt
    FROM probed p
    JOIN regs ON regs.row_idx = p.row_idx AND regs.col_idx = p.col_idx
    GROUP BY p.word, p.exact_cnt
    """
