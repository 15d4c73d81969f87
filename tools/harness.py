"""Measurement helpers shared by bench.py, tools/profile_queries.py and
tools/scale_bench.py: one way to force a query, warm a session and
scrub it between queries."""

from __future__ import annotations

import gc


def force(df) -> None:
    """Run the full computation through the noop sink (no driver-side
    collect skew)."""
    df.write.mode("overwrite").format("noop").save()


def warm_up(spark, sf_dir: str) -> None:
    """JVM JIT + parquet footer caches; never part of a measurement."""
    force(spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1000))


def scrub(spark) -> None:
    """Session hygiene between queries. A long single-JVM run otherwise
    ACCUMULATES state — localCheckpoint blocks from the self-join and
    iterative ops (freed only when the Python refs are gc'd and
    ContextCleaner notices), the streaming entries' memory sinks (which
    retain their whole result set as a temp view), and auto-persisted
    stages. Measured: most_populars_flat ran 12.1s at the END of a full
    pass vs 3.2s in a fresh session. Dropping sink views, clearing the
    cache, and forcing a gc (which drives py4j finalizers → JVM
    unpersists) keeps every query's measurement independent of its
    position."""
    for t in spark.catalog.listTables():
        if t.isTemporary:
            spark.catalog.dropTempView(t.name)
    spark.catalog.clearCache()
    gc.collect()
