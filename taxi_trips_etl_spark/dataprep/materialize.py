"""Materialization helper for self-join inputs and iterative lineage.

Why materialize at all: Catalyst gives self-joins NO ReusedExchange
(each side rebuilds the whole child plan), so without a checkpoint both
sides of a banded-signature self-join recompute the signatures from a
full corpus scan — at 100 TB that is two reads of the corpus and twice
the hashing. Iterative algorithms (connected components, k-means) have
the sibling problem: lineage grows per round until planning time and
stack depth blow up. Truncating lineage at the small intermediate table
is the scale-correct trade in both cases.

Why this indirection exists: ``localCheckpoint`` stores blocks ONLY on
executors. Under executor loss or dynamic allocation those blocks are
gone and the job fails unrecoverably — fine on a single-JVM local run,
a reliability regression on a 1000-executor cluster. ``checkpoint``
writes to the fault-tolerant checkpoint dir instead, surviving executor
loss, at the cost of a distributed-FS round trip.

:func:`materialize` picks automatically: if the SparkContext has a
checkpoint dir configured (``sc.setCheckpointDir('hdfs://…')`` — the
cluster posture), it uses reliable ``checkpoint``; otherwise it falls
back to ``localCheckpoint`` (the local/test posture; if you must run
executor-local, disable dynamic allocation or enable shuffle-block
decommissioning). One call site to flip, no operator changes.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame


def materialize(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Truncate ``df``'s lineage, reliably when the session allows it.

    Reliable ``checkpoint`` iff ``sc.setCheckpointDir`` was called,
    else ``localCheckpoint``; both get ``eager`` as given.

    ``eager=False`` is not lazy under AQE: building the checkpoint's
    RDD plans ``df`` adaptively, and that runs every query stage of
    ``df`` but the last while the caller is still building its plan.
    Only a single-stage ``df`` (no exchange) defers all of its work to
    the first action; for one with an exchange, ``eager=False`` defers
    only the last stage.

    Reliable-path cost note (ADVICE r13): every shared-spine call site
    was A/B-measured on the ``localCheckpoint`` path (no checkpoint dir
    — the local/bench posture). On a session WITH a checkpoint dir,
    ``df.checkpoint`` inherits the upstream ``RDD.checkpoint`` caveat:
    unless the RDD is also persisted, its lineage is computed once to
    produce rows and once more for the checkpoint-file write — one
    extra pass over the spine being deduplicated. The scan-count wins
    still hold (N consumers re-reading the spine collapse to the
    checkpoint either way), but a cluster session that sets a
    checkpoint dir should budget that extra fill pass or persist the
    spine before checkpointing it.
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


BROADCAST_CAP = 4_000_000  # rows an in-loop join side may broadcast
ROWS_PER_PARTITION = 2_000_000  # rows per task of a counted in-loop width


def driver_rows(df: DataFrame, cap: int):
    """→ ``df``'s rows as a pandas frame when it holds at most ``cap``
    rows, else ``None``: the driver-or-distributed route of the
    iterative operators. ``limit(cap + 1)`` bounds the probe, so an
    over-cap input is never collected whole, and the Arrow path moves
    columns, not Row objects."""
    rows = df.limit(cap + 1).toPandas()
    return None if len(rows) > cap else rows


@contextmanager
def static_rounds(spark):
    """Plan iterative-loop round actions WITHOUT adaptive execution;
    yields the loop's counted broadcast gate.

    AQE materializes every exchange as its own job (replan → submit →
    await, per stage): an iterative operator whose round is one lazy-
    checkpoint-filling action still books 5-7 driver jobs per round,
    and at the small per-round state sizes these loops carry, the
    replanning/scheduling cadence — not task work — is the measured
    cost (r13 profiler: dedup_components_star 57 jobs for ~8 rounds,
    8-vs-32-core ratio ≈ 1). With AQE off a round plans once and runs
    as ONE job of pipelined stages.

    PRECONDITION (measured r14, interleaved A/B): only wrap a loop
    whose in-loop join strategies are EXPLICIT — a broadcast hint or a
    counted-size gate on every join side that would otherwise rely on
    AQE's runtime shuffle-size downgrade. Wrapping a loop with
    stats-less un-hinted joins makes every round a static sort-merge
    join (the planner sees LogicalRDD defaults) and LOSES: kcore
    2.5→5.5 s, star 6.8→10.6 s in the blanket-wrap A/B; with hints it
    wins (pagerank 4.6→4.0 s). Scope it to the loop body only: the
    upstream derivation and the returned final plan execute outside,
    keeping AQE's coalescing/skew handling where data is corpus-sized.

    The gate, ``gate(side_rows, loop_rows=side_rows) → bool``, is the
    one rule every round follows. A side of ``side_rows`` rows (an
    exact count the loop already collected) broadcasts iff it is at
    most ``BROADCAST_CAP`` rows; such a round also pins the shuffle
    width to ceil(``loop_rows`` / ``ROWS_PER_PARTITION``), clamped to
    the session width, because without AQE nothing coalesces its tiny
    exchanges. A round over the cap runs a static shuffle join at the
    session width: the larger in-loop relations (edge lists) are
    re-exchanged there, never at a width counted from a smaller one.
    The exit restores both confs whatever the loop set.

    Session-wide, not query-scoped: both confs are SparkSession state,
    so any query another thread plans on the same session while the
    scope is open runs without AQE and at the loop's pinned width. Do
    not wrap a loop while other queries plan on its session. Nesting
    is safe but flat: the inner scope sees AQE already off, and its
    exit restores the width it found on entry (the outer loop's
    current pin), then the outer exit restores the session's own.
    """
    conf = spark.conf
    old = conf.get("spark.sql.adaptive.enabled", "true")
    old_width = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")

    def gate(side_rows: int, loop_rows: int | None = None) -> bool:
        small = side_rows <= BROADCAST_CAP
        width = int(old_width)
        if small:
            rows = side_rows if loop_rows is None else loop_rows
            width = max(1, min(width, -(-rows // ROWS_PER_PARTITION)))
        conf.set("spark.sql.shuffle.partitions", str(width))
        return small

    try:
        yield gate
    finally:
        conf.set("spark.sql.adaptive.enabled", old)
        conf.set("spark.sql.shuffle.partitions", old_width)


def release(df: DataFrame) -> None:
    """Free the blocks held by a superseded :func:`materialize` result.

    ``localCheckpoint`` persists the physical RDD; the ContextCleaner
    only reclaims it after the JVM reference drops, so a long
    ``foreachBatch`` loop that materializes a new state per micro-batch
    retains one RDD per batch until GC catches up — unbounded executor
    storage growth on an unbounded stream. Callers that replace a
    materialized state should release the OLD one **after** the new
    state has eagerly materialized (the old DataFrame becomes
    uncomputable: its lineage was truncated at the freed blocks).

    Best-effort by design: the block-freeing path reaches through the
    analyzed ``LogicalRDD`` (the plan shape both checkpoint flavors
    produce) to the persisted RDD; if a future Spark changes that shape
    we silently fall back to ContextCleaner-on-GC — the pre-existing
    behavior, never an error. Reliable-``checkpoint`` files are left to
    ``spark.cleaner.referenceTracking.cleanCheckpoints``.
    """
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass
