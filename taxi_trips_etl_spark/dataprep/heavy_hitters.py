"""Heavy hitters: Misra-Gries sketch candidates + exact verification.

The exact way to find all items with frequency > N/k is a full
GROUP BY over every distinct item — at 100 TB that shuffles a
vocab-sized (possibly billions of keys) aggregate just to throw away
the tail. The classic two-pass sketch route bounds the shuffle to
k·n_partitions rows:

  pass 1 (narrow, no shuffle): each partition streams its items
    through a Misra-Gries summary with k counters. MG's guarantee
    (Misra & Gries 1982; merge rule per Agarwal et al., "Mergeable
    Summaries", PODS 2012): after n_p items, any item with partition
    count > n_p/(k+1) still holds a counter. A global heavy hitter
    (count > N/k) is, by pigeonhole, heavy in at least one partition
    (> n_p/k > n_p/(k+1)), so the union of partition candidate sets
    is a SUPERSET of the true heavy hitters.
  pass 2: exact-count ONLY the candidates (a broadcast semi-join —
    the candidate set is ≤ k per partition) and keep count·k > N.

Output is exact and partition-layout-independent: extra candidates
are eliminated by the exact filter, and the guarantee means no true
heavy hitter is missed. The Python (Arrow-batched) sketch touches
each token once with vectorized value_counts per batch; the dict
merge is O(distinct-per-batch) ≤ O(batch).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_COL = "word"  # the item column mg_heavy_hitters counts
MG_K = 30  # heavy hitter: count · MG_K > N (MG sketch capacity)


def _mg_partition_factory(k: int):
    def mg_partition(batches: Iterator) -> Iterator:
        import pandas as pd

        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            vc = pdf[_COL].value_counts()
            n_part += int(vc.sum())
            for w, c in vc.items():
                counters[w] = counters.get(w, 0) + int(c)
            if len(counters) > k:
                # Mergeable-summaries trim: subtract the (k+1)-th
                # largest stored count from every counter, drop <= 0.
                # Total error introduced across all trims stays below
                # n_p/(k+1), preserving the retention guarantee.
                t = sorted(counters.values(), reverse=True)[k]
                counters = {
                    w: c - t for w, c in counters.items() if c - t > 0
                }
        # one sentinel row per partition carries the token count so the
        # caller can reconstruct N without a third corpus scan
        yield pd.DataFrame(
            {
                _COL: list(counters.keys()) + [None],
                "n_part": [0] * len(counters) + [n_part],
            }
        )

    return mg_partition


def mg_heavy_hitters(items: DataFrame) -> DataFrame:
    """All values of ``items.word`` with exact count·MG_K > N, via an MG
    candidate pass + an exact verify pass (two corpus scans total).

    Returns (word, cnt) with cnt the EXACT global count.
    """
    k = MG_K
    sketch = items.select(_COL).mapInPandas(
        _mg_partition_factory(k), schema=f"{_COL} string, n_part long"
    )
    # The sketch output is tiny (≤ k+1 rows per partition) but sits on
    # top of a corpus-scale scan: cache-free double consumption below
    # would re-run pass 1 twice, so localCheckpoint-or-cache it.
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    sketch = materialize(sketch, eager=True)
    cands = (
        sketch.filter(F.col(_COL).isNotNull()).select(_COL).distinct()
    )
    total = sketch.agg(F.sum("n_part").alias("n_total"))
    verified = (
        items.select(_COL)
        .join(F.broadcast(cands), _COL)
        .groupBy(_COL)
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        verified.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * k > F.col("n_total"))
        .select(_COL, "cnt")
    )
