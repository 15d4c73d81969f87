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

    Reliable ``checkpoint`` iff ``sc.setCheckpointDir`` was called
    (always eager in Spark's API when materialized — the ``eager``
    flag is honored as given for both paths).

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
    sc = df.sparkSession.sparkContext
    try:
        has_dir = sc.getCheckpointDir() is not None
    except Exception:  # defensive: API shape varies across builds
        has_dir = getattr(sc, "_jsc", None) is not None and (
            sc._jsc.sc().getCheckpointDir().isDefined()
        )
    if has_dir:
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


@contextmanager
def static_rounds(spark):
    """Plan iterative-loop round actions WITHOUT adaptive execution.

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

    Also saves/restores ``spark.sql.shuffle.partitions``: without AQE
    coalescing, a loop may pin a counted per-round width inside the
    scope (:func:`pin_loop_width`); the exit restores the session width
    whatever the loop set.

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
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", old)
        conf.set("spark.sql.shuffle.partitions", old_width)


def pin_loop_width(
    spark, default_width: int, n_rows: int, rows_per_partition: int = 2_000_000
) -> None:
    """Set the in-loop shuffle width to ceil(``n_rows`` /
    ``rows_per_partition``), clamped to [1, ``default_width``].

    Inside :func:`static_rounds` AQE no longer coalesces the small
    per-round exchanges, so a loop pins a width counted from the state
    it carries. ``default_width`` is the session width read BEFORE the
    scope opened (the conf holds the last pin inside it); past
    ``default_width × rows_per_partition`` rows the loop runs at the
    session width, the web-scale posture.
    """
    width = max(1, min(default_width, -(-n_rows // rows_per_partition)))
    spark.conf.set("spark.sql.shuffle.partitions", str(width))


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
