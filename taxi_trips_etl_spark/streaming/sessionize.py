"""Custom stateful streaming operator: gap-based sessionization.

``applyInPandasWithState`` is Spark's escape hatch for operators the
built-in streaming aggregations can't express — here, user sessions
that close after a 30-minute silence. Each user's open session
(start / last-seen / count) lives in the state store; an event either
extends the open session or emits it and starts a new one, and a
processing-time timeout flushes sessions when a user goes quiet.

Batch twin: ``queries.q_sessionize_events`` (LAG + cumulative SUM) —
the streaming operator's complete output over a static directory must
match it, which the test suite asserts. That equivalence only holds
under AvailableNow + per-user-ordered batches, so the kernel sorts each
user's batch before folding — at true streaming scale, late data past
the timeout lands in a new session (standard sessionization semantics,
documented deviation from the batch twin).

Input: ``(bucket, user_id, sec)`` crosses to Python, with
``bucket = pmod(user_id, BUCKETS)`` and ``sec = cast(ts as long)``
computed in the JVM — the twin's own flooring, so pre-1970 sub-second
events land in the same sessions. The twin orders by
``(sec, event_id)``; the ``event_id`` tie-break only reorders events
within one second, so the sorted seconds the fold sees are the same
without it.

Grouping: by bucket, not by user. ``applyInPandasWithState`` charges
Python-worker time for every group (its JSON state, the ``GroupState``
build, the Arrow slice → pandas) and the kernel's own per-call cost
comes on top; a ``stream_replay`` day-file carries ~1,340 users, so
per-user grouping paid both ~1,340 times a file. Each bucket holds its
users' open sessions as parallel arrays sorted by user
(``STATE_SCHEMA``), and one call folds the whole bucket in numpy: one
``lexsort`` on ``(user_id, sec)``, gap breaks from diffing consecutive
seconds, segment numbering by ``cumsum``, and a merge with the
bucket's state that continues or closes each user's open session — no
Python loop over users or events.
Measured per landed ``stream_replay`` day-file (sessionizer alone, 8
state partitions, ``local[4]`` on a 4-vCPU VM, median of 26 files,
seeds 61/62; SCALE.md, "Grouped-map pandas paths"): Python-worker CPU
4.8/3.9 s for the per-user kernel, 2.6/2.5 s for this one, against
1.9–2.2 s for a no-op kernel grouped by bucket; wall 1.9/1.6 s →
1.4/1.4 s. Two ten-pair interleaved ``stream_replay`` A/Bs against
the per-user kernel (seeds 91–100 and 101–110): ``op_s_p50`` median
2.48 → 2.05 s (9/10 wins) and 2.26 → 1.93 s (8/10), ``rows_per_s``
1,302 → 1,581 and 1,456 → 1,671; traced, state rows 1,500 → 64 and
``python_worker.time_share`` 0.69 → 0.56.
What was left then was per task, not per group: each of the 8
state-partition tasks paid ~0.25 s of worker CPU before its first
group, PySpark re-reading the ``pyspark.zip`` and spark-core jar
directories in ``importlib.invalidate_caches()``. Workers started by
``worker_daemon`` import pyspark from its package directory and skip
that: Python-worker CPU per file is 0.58/0.62 s for this kernel (was
2.81/2.85 s) and 0.44/0.48 s for a no-op (was 2.17/2.07 s), seeds
62/61. A task's worker now spends most of its wall blocked on the
JVM's socket (state-store load, Arrow feed), not computing.

Timeout (``use_timeout=True``): the state also holds each user's
deadline (processing time of their last batch + 3 s). A data call
first flushes and drops the users absent from the batch and past
their deadline; the bucket's own 3 s timeout flushes every user it
holds and removes the state.

Scale notes: state is keyed by bucket → at most ``BUCKETS`` state rows,
and shuffle partitions bound parallelism. Each batch rewrites every
touched bucket's whole state row, so the state delta per batch is
O(active users in the touched buckets), not O(users in the batch); at
millions of active users that is most of the state each batch. The
way out then is per-user state in a ``MapState`` under
``transformWithStateInPandas``, whose Python runner imports
``google.protobuf`` — not among this package's dependencies, so it is
not A/B'd. The state store checkpoints per micro-batch. RocksDB state
store is the knob to flip
(`spark.sql.streaming.stateStore.providerClass`) when state outgrows
executor heap — and ONLY then: the r14 interleaved A/B pinned RocksDB
onto the four heaviest drives (this one, late_data, rollup,
static_enrich) and it LOST or washed on all four at bench state sizes
(round 1: 7.92 vs 7.74 s total; round 2: 3.59/3.08/1.37/1.30 vs
3.26/2.77/1.21/1.20 s) — per-store native instance setup + per-batch
snapshot upload exceeds the HDFS-backed provider's small-delta fsync
when state is KB-sized. Rejected, numbers in OPTIMIZATION_r14.md.

Checkpoints: the state key (bucket, was user_id) and the state value
schema (per-bucket arrays, was one session per user) both changed, so a
checkpoint written by the per-user kernel cannot resume under this one:
``start()`` refuses it ("does not support recovering from checkpoint
location"). Start such a query from a fresh checkpoint.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from functools import partial
from typing import Any

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from taxi_trips_etl_spark.streaming.state import drain, event_stream

SESSION_GAP_SECONDS = 1800
# 64 buckets: at ~2 ms a group, at most 64 × 2 ms ≈ 0.13 s of per-group
# framing a micro-batch; and far more buckets than the 8 state
# partitions the drives pin, so every partition gets several.
BUCKETS = 64
TIMEOUT_MS = 3 * 1000  # flush quiet users soon after

OUTPUT_SCHEMA = (
    "user_id long, session_idx long, n_events long, "
    "session_start timestamp, session_end timestamp"
)
# One row per bucket: each user's open session as parallel arrays,
# sorted by user_id. ``deadline`` is the processing time (ms) past
# which a user who sends nothing is flushed under the timeout.
STATE_SCHEMA = (
    "user_id array<long>, session_idx array<long>, start array<long>, "
    "last array<long>, n array<long>, deadline array<long>"
)


def _sessions_frame(
    user_id: np.ndarray, session_idx: np.ndarray, start: np.ndarray,
    last: np.ndarray, n: np.ndarray,
) -> pd.DataFrame:
    """``OUTPUT_SCHEMA`` frame of closed sessions (epoch seconds)."""
    return pd.DataFrame({
        "user_id": user_id,
        "session_idx": session_idx,
        "n_events": n,
        "session_start": start.astype("datetime64[s]").astype("datetime64[ns]"),
        "session_end": last.astype("datetime64[s]").astype("datetime64[ns]"),
    })


def _sessionize_kernel(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
    set_timeout: bool = True,
) -> Iterator[pd.DataFrame]:
    """Fold one bucket's ``(user_id, sec)`` events into gap sessions;
    yield one frame of every session that closed, if any did.

    ``set_timeout=False`` for data-driven drives (sentinel flush /
    NoTimeout): calling ``setTimeoutDuration`` under NoTimeout raises,
    and ProcessingTimeTimeout makes the engine always schedule another
    micro-batch, so AvailableNow runs never drain.
    """
    if state.hasTimedOut:  # the whole bucket went quiet: flush everyone
        users = [np.asarray(a, dtype=np.int64) for a in state.get]
        state.remove()
        yield _sessions_frame(*users[:5])
        return

    cols = [(b["user_id"].to_numpy(), b["sec"].to_numpy()) for b in batches]
    uid = np.concatenate([u for u, _ in cols])
    sec = np.concatenate([s for _, s in cols])
    order = np.lexsort((sec, uid))
    uid, sec = uid[order], sec[order]

    # Segments: runs of one user's events with no gap above the session
    # gap. Each is a session; each user's last one stays open.
    new_user = np.ones(len(uid), dtype=bool)
    new_user[1:] = uid[1:] != uid[:-1]
    head = new_user.copy()
    head[1:] |= np.diff(sec) > SESSION_GAP_SECONDS
    heads = np.flatnonzero(head)
    tails = np.append(heads[1:], len(sec)) - 1
    s_uid, s_start, s_last = uid[heads], sec[heads], sec[tails]
    s_n = tails - heads + 1
    opens_user = new_user[heads]
    firsts = np.flatnonzero(opens_user)  # each user's first segment
    s_user = np.cumsum(opens_user) - 1  # segment → its user
    is_last = np.append(opens_user[1:], True)

    # Merge with the users the bucket already holds: a first segment
    # within the gap of the open session continues it; past the gap the
    # open session closes and the user's numbering goes on from it.
    old = (
        [np.asarray(a, dtype=np.int64) for a in state.get]
        if state.exists else [np.empty(0, dtype=np.int64)] * 6
    )
    o_uid, o_idx, o_start, o_last, o_n, o_deadline = old
    _, i_old, i_new = np.intersect1d(
        o_uid, s_uid[firsts], assume_unique=True, return_indices=True
    )
    cont = s_start[firsts[i_new]] - o_last[i_old] <= SESSION_GAP_SECONDS
    s_start[firsts[i_new[cont]]] = o_start[i_old[cont]]
    s_n[firsts[i_new[cont]]] += o_n[i_old[cont]]
    first_idx = np.ones(len(firsts), dtype=np.int64)
    first_idx[i_new] = o_idx[i_old] + ~cont
    s_idx = (first_idx - firsts)[s_user] + np.arange(len(heads))

    # Users absent from the batch keep their open session, unless the
    # timeout is on and they are past their deadline.
    now = state.getCurrentProcessingTimeMs()
    absent = np.ones(len(o_uid), dtype=bool)
    absent[i_old] = False
    expired = (
        absent & (o_deadline < now) if set_timeout else np.zeros_like(absent)
    )
    closed_old = expired.copy()
    closed_old[i_old[~cont]] = True

    segs = (s_uid, s_idx, s_start, s_last, s_n,
            np.full(len(heads), now + TIMEOUT_MS))
    closed = [
        np.concatenate([o[closed_old], s[~is_last]])
        for o, s in zip(old[:5], segs)
    ]
    new = [
        np.concatenate([o[absent & ~expired], s[is_last]])
        for o, s in zip(old, segs)
    ]
    by_user = np.argsort(new[0], kind="stable")
    state.update(tuple(a[by_user].tolist() for a in new))
    if set_timeout:
        state.setTimeoutDuration(TIMEOUT_MS)
    if len(closed[0]):
        yield _sessions_frame(*closed)


def streaming_sessionize(
    spark: SparkSession, events_dir: str, use_timeout: bool = True
) -> DataFrame:
    """Streaming DF of CLOSED sessions.

    ``use_timeout=True`` (true-streaming deployments): quiet users flush
    via ProcessingTimeTimeout. ``use_timeout=False`` (bounded drives):
    NoTimeout — open sessions flush only when a later event (or a
    sentinel, see :func:`run_streaming_sessionize`) closes them, which
    lets AvailableNow runs terminate deterministically.
    """
    stream = event_stream(spark, events_dir)
    return (
        stream.select(
            F.pmod("user_id", F.lit(BUCKETS)).alias("bucket"),
            "user_id",
            F.col("ts").cast("long").alias("sec"),
        )
        .groupBy("bucket")
        .applyInPandasWithState(
            partial(_sessionize_kernel, set_timeout=use_timeout),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if use_timeout
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def run_streaming_sessionize(
    spark: SparkSession, events_dir: str, sink_table: str = "sessions_stream"
) -> DataFrame:
    """Run to completion over a static dir; emit still-open sessions too.

    Deterministic sentinel drive (no wall-clock polling, no timeout
    race): real events are staged into a scratch dir together with ONE
    sentinel event per user, timestamped past that user's last real
    event plus the session gap. A single ``Trigger.AvailableNow`` run
    (NoTimeout) then folds each user's time-sorted events through the
    kernel: every real session is closed either by the next real event
    or by the sentinel — exactly the gap semantics — and is emitted in
    that same run, while the sentinel-opened session stays in state and
    is never emitted. The output therefore equals the batch
    sessionization of the same data, and completion is gated on the
    end of a data-bounded run (:func:`streaming.state.drain`) — never
    on sink-stability heuristics. The 3s processing-time timeout remains
    the flush mechanism only for true unbounded deployments
    (``streaming_sessionize(use_timeout=True)``).

    Batch-order note: the file source lists oldest-first, so if the
    engine splits the files across micro-batches the sentinel file
    (written last) still arrives last; within a shared batch the kernel
    sorts each user's seconds. Either way each real event precedes the
    user's sentinel.
    """
    import shutil
    import tempfile

    from taxi_trips_etl_spark.sources.readers import require_nanos_as_long

    require_nanos_as_long(spark, what="run_streaming_sessionize")
    with tempfile.TemporaryDirectory(
        prefix="sessionize_src_", ignore_cleanup_errors=True
    ) as staging:
        if os.path.isfile(events_dir):
            shutil.copy(events_dir, os.path.join(staging, "pass1.parquet"))
        else:
            n = 0
            for f in sorted(os.listdir(events_dir)):
                if f.endswith(".parquet"):
                    shutil.copy(
                        os.path.join(events_dir, f),
                        os.path.join(staging, f"pass1_{n}.parquet"),
                    )
                    n += 1
        static = spark.read.parquet(staging)
        ts_is_nanos = dict(static.dtypes).get("ts") == "bigint"
        # Latest real event time, for the sentinel-session guard below;
        # computed while the scratch dir still exists (one 1-row agg).
        # ORACLE-PATH-ONLY DRIVER ROUND-TRIP: this collect (and the
        # sentinel build below) exists solely to make a bounded
        # AvailableNow drive terminate deterministically for the
        # batch-twin comparison. The production continuous path —
        # streaming_sessionize(use_timeout=True) — never reaches this
        # function and has no driver collects (tests/test_models_and_
        # streaming.py greps for exactly this invariant).
        if ts_is_nanos:
            max_real = static.agg(
                F.expr("timestamp_micros(max(ts) div 1000)").alias("m")
            ).collect()[0]["m"]
        else:
            max_real = static.agg(F.max("ts").alias("m")).collect()[0]["m"]

        # Per-user sentinel just past gap (+60s margin) after that
        # user's last event; built distributedly in the source's
        # on-disk schema (ts may be int64 nanos) and appended as an
        # extra source file. event_id=-1 marks it; it only ever OPENS a
        # session, so no sentinel appears in emitted rows.
        if ts_is_nanos:
            bump = F.lit(int((SESSION_GAP_SECONDS + 60) * 1e9))
        else:
            bump = F.expr(f"INTERVAL '{SESSION_GAP_SECONDS + 60}' SECOND")
        sentinel = static.groupBy("user_id").agg(F.max("ts").alias("_mx"))
        cols = []
        for field in static.schema.fields:
            if field.name == "user_id":
                cols.append(F.col("user_id").cast(field.dataType))
            elif field.name == "ts":
                cols.append((F.col("_mx") + bump).cast(field.dataType).alias("ts"))
            elif field.name == "event_id":
                cols.append(F.lit(-1).cast(field.dataType).alias("event_id"))
            else:
                cols.append(F.lit(None).cast(field.dataType).alias(field.name))
        sentinel.select(*cols).write.mode("append").parquet(staging)

        # r13: pin the state-store width like every other stateful
        # drive (streaming/state.py sizing rule — one state store per
        # shuffle partition, each committing a checkpoint delta per
        # micro-batch; the batch-width 32 here was the one unpinned
        # stateful drive left). 8 matches the stream-join drives'
        # measured sweet spot at this key cardinality.
        drain(
            spark,
            streaming_sessionize(spark, staging, use_timeout=False)
            .writeStream.format("memory")
            .queryName(sink_table)
            .outputMode("append"),
            partitions=8,
        )

        # The memory sink holds rows driver-side — safe to drop the
        # scratch dir after return. Guard: drop any sentinel-born
        # session (NoTimeout means none is ever emitted, but the
        # invariant is cheap to enforce: sentinel starts lie past every
        # real event).
        return spark.table(sink_table).filter(
            F.col("session_start") <= F.lit(max_real)
        )
