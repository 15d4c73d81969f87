"""Custom stateful streaming operator: gap-based sessionization.

``applyInPandasWithState`` is Spark's escape hatch for operators the
built-in streaming aggregations can't express — here, user sessions
that close after a 30-minute silence. Per-user state (current session's
start / last-seen / count) lives in the state store; an event either
extends the open session or emits it and starts a new one, and a
processing-time timeout flushes sessions when a user goes quiet.

Batch twin: ``queries.q_sessionize_events`` (LAG + cumulative SUM) —
the streaming operator's complete output over a static directory must
match it, which the test suite asserts. That equivalence only holds
under AvailableNow + per-user-ordered batches, so the kernel sorts each
user's batch before folding — at true streaming scale, late data past
the timeout lands in a new session (standard sessionization semantics,
documented deviation from the batch twin).

Input: only ``(user_id, sec)`` crosses to Python, with
``sec = cast(ts as long)`` computed in the JVM — the twin's own
flooring, so pre-1970 sub-second events land in the same sessions.
The twin orders by ``(sec, event_id)``; the ``event_id`` tie-break only
reorders events within one second, so the sorted seconds the fold sees
are the same without it. Each call is one ``np.sort`` over the
concatenated arrays (no ``pd.concat``) plus an int fold, and a frame is
built only when a session closes. Python-worker CPU per
landed ``stream_replay`` day-file (sessionizer alone, 8 state
partitions, ``local[4]`` on a 4-vCPU VM, ~1,340 users a file; median
of 26 files, two seeds): 7.8–9.4 s for the previous ``(ts, event_id)``
kernel, 4.1–4.3 s for this one, 2.7 s for a kernel that only drains
its input — about 3.1 ms per user against ``applyInPandasWithState``'s
own 2.0 ms per-group floor. ``transformWithStateInPandas`` is not
A/B'd yet: its Python runner imports ``google.protobuf``, which is not
among this package's dependencies.

Scale notes: state is keyed by user_id → shuffle partitions bound
parallelism; state size is O(active users), not O(events); the state
store checkpoints per micro-batch. RocksDB state store is the knob to
flip (`spark.sql.streaming.stateStore.providerClass`) when active-user
cardinality outgrows executor heap — and ONLY then: the r14
interleaved A/B pinned RocksDB onto the four heaviest drives (this
one, late_data, rollup, static_enrich) and it LOST or washed on all
four at bench state sizes (round 1: 7.92 vs 7.74 s total; round 2:
3.59/3.08/1.37/1.30 vs 3.26/2.77/1.21/1.20 s) — per-store native
instance setup + per-batch snapshot upload exceeds the HDFS-backed
provider's small-delta fsync when state is KB-sized. Rejected,
numbers in OPTIMIZATION_r14.md.
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

OUTPUT_SCHEMA = (
    "user_id long, session_idx long, n_events long, "
    "session_start timestamp, session_end timestamp"
)
STATE_SCHEMA = "session_idx long, start long, last long, n long"


def _sessions_frame(user_id: int, closed: list[tuple[int, ...]]) -> pd.DataFrame:
    """``OUTPUT_SCHEMA`` frame of closed ``(session_idx, n, start, last)``
    sessions (epoch seconds) of one user."""
    idx, n, start, last = np.array(closed, dtype=np.int64).T
    return pd.DataFrame({
        "user_id": np.full(len(idx), user_id, dtype=np.int64),
        "session_idx": idx,
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
    """Fold one user's epoch seconds into gap sessions; yield a frame
    only when a session closes.

    ``set_timeout=False`` for data-driven drives (sentinel flush /
    NoTimeout): calling ``setTimeoutDuration`` under NoTimeout raises,
    and ProcessingTimeTimeout makes the engine always schedule another
    micro-batch, so AvailableNow runs never drain.
    """
    (user_id,) = key
    if state.hasTimedOut:
        session_idx, start, last, n = state.get
        state.remove()
        yield _sessions_frame(user_id, [(session_idx, n, start, last)])
        return

    secs = np.sort(
        np.concatenate([b["sec"].to_numpy() for b in batches])
    ).tolist()
    if state.exists:
        session_idx, start, last, n = state.get
    else:  # the first event extends this empty session to n=1
        session_idx, start, last, n = 1, secs[0], secs[0], 0

    closed = []
    for s in secs:
        if s - last > SESSION_GAP_SECONDS:
            closed.append((session_idx, n, start, last))
            session_idx, start, n = session_idx + 1, s, 0
        last, n = s, n + 1
    state.update((session_idx, start, last, n))
    if set_timeout:
        state.setTimeoutDuration(3 * 1000)  # flush quiet users soon after
    if closed:
        yield _sessions_frame(user_id, closed)


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
        stream.select("user_id", F.col("ts").cast("long").alias("sec"))
        .groupBy("user_id")
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
