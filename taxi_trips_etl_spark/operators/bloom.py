"""Bloom-filter semi-join reduction.

The classic big-join optimization: before shuffling a 100 TB fact
table to join a dim it cannot broadcast, broadcast a BLOOM FILTER of
the dim's join keys and drop fact rows that cannot possibly match.
False positives only waste a little shuffle — the exact join behind
the filter removes them — so the final result is IDENTICAL to the
plain join (which is exactly what makes this operator oracle-bearable:
the oracle is the unfiltered join).

Spark has a native runtime version (AQE's
``spark.sql.optimizer.runtime.bloomFilter.enabled``, injected when a
selective build side is detected); this explicit variant is for when
you want the reduction guaranteed and engine-portable: the "filter" is
the sorted array of occupied bit positions (m-bounded), built by one
narrow aggregate over the dim and broadcast to the fact scan, with
md5-derived double hashing so any engine computes identical bits.

Cost model: the fact side pays ``BLOOM_HASHES`` md5 evaluations + binary
array probes per row inside the scan's codegen stage; the payoff is
shuffling only rows that (probably) join — at a 1% match rate a
m=1024, 2-hash filter passes ~matching + ~2% false positives instead
of 100% of the fact table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BLOOM_BITS = 1024  # m
BLOOM_HASHES = 2


def _bloom_hash(key: Column, i: int, m: int) -> Column:
    """Portable hash i of a join key into [0, m): first 8 md5 hex
    chars of "<key>#<i>" as an integer, mod m — bit-identical in any
    engine with md5 (the same trick the MinHash/SimHash paths use)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("#", key.cast("string"), F.lit(i))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % m
    )


def bloom_prefilter(fact: DataFrame, dim: DataFrame) -> DataFrame:
    """Return ``fact`` reduced to rows whose ``l_suppkey`` passes the
    Bloom filter of ``dim``'s ``s_suppkey`` (superset of rows that
    join; never drops a match).

    The filter is represented as the sorted distinct array of occupied
    positions: ≤ BLOOM_BITS elements, one aggregate over the dim, broadcast as
    a 1-row cross join so it rides into the fact scan's filter.
    """
    positions = (
        dim.select(
            F.explode(
                F.array(
                    *[
                        _bloom_hash(F.col("s_suppkey"), i, BLOOM_BITS)
                        for i in range(BLOOM_HASHES)
                    ]
                )
            ).alias("p")
        )
        .agg(F.sort_array(F.collect_set("p")).alias("_bloom"))
    )
    probe = [
        F.array_contains(
            F.col("_bloom"), _bloom_hash(F.col("l_suppkey"), i, BLOOM_BITS)
        )
        for i in range(BLOOM_HASHES)
    ]
    cond = probe[0]
    for c in probe[1:]:
        cond = cond & c
    return (
        fact.crossJoin(F.broadcast(positions)).filter(cond).drop("_bloom")
    )
