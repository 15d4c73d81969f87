"""applyInPandasWithState sessionizer ≡ batch window sessionization."""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from taxi_trips_etl_spark.streaming.sessionize import (
    BUCKETS,
    OUTPUT_SCHEMA,
    SESSION_GAP_SECONDS,
    TIMEOUT_MS,
    _sessionize_kernel,
    run_streaming_sessionize,
    streaming_sessionize,
)

GAP = SESSION_GAP_SECONDS


class FakeState:
    """The slice of ``GroupState`` the kernel touches."""

    def __init__(self, value=None, timed_out=False, now=0):
        self.value = value
        self.hasTimedOut = timed_out
        self.now = now
        self.timeouts = []

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutDuration(self, ms):
        self.timeouts.append(ms)

    def getCurrentProcessingTimeMs(self):
        return self.now


def _state(users):
    """Bucket state of ``{user_id: (session_idx, start, last, n, deadline)}``."""
    return tuple(map(list, zip(*(
        (u, *users[u]) for u in sorted(users)
    ))))


def _open(state):
    """``{user_id: (session_idx, start, last, n)}`` of a bucket state."""
    return {u: tuple(rest[:4]) for u, *rest in zip(*state.value)}


def _rows(frames):
    """Closed sessions as ``(user_id, session_idx, n_events, start, end)``
    tuples, times in epoch seconds."""
    return [
        (u, i, n, s.astype("datetime64[s]").astype(np.int64),
         e.astype("datetime64[s]").astype(np.int64))
        for f in frames
        for u, i, n, s, e in zip(*(f[c].to_numpy() for c in f.columns))
    ]


def _fold(*secs, state=None, set_timeout=True):
    """Run the kernel on frames of user 7's epoch seconds; return
    (frames, state)."""
    state = state or FakeState()
    frames = [pd.DataFrame({"user_id": 7, "sec": list(s)}, dtype="int64")
              for s in secs]
    out = list(_sessionize_kernel((7,), iter(frames), state, set_timeout))
    return out, state


def _reference_fold(batches):
    """Per-user loop fold the kernel must equal: each batch's events are
    grouped by user, sorted, and folded into that user's open session."""
    open_, closed = {}, []
    for batch in batches:
        by_user = defaultdict(list)
        for user, sec in batch:
            by_user[user].append(sec)
        for user, secs in by_user.items():
            secs.sort()
            idx, start, last, n = open_.get(user, (1, secs[0], secs[0], 0))
            for s in secs:
                if s - last > GAP:
                    closed.append((user, idx, n, start, last))
                    idx, start, n = idx + 1, s, 0
                last, n = s, n + 1
            open_[user] = (idx, start, last, n)
    return closed, open_


def test_kernel_two_frames_equal_one_frame():
    split, s1 = _fold([0, 10, 5000], [5100, 9000])
    whole, s2 = _fold([0, 10, 5000, 5100, 9000])
    assert len(split) == len(whole) == 1
    pd.testing.assert_frame_equal(split[0], whole[0])
    assert _open(s1) == _open(s2) == {7: (3, 9000, 9000, 1)}


def test_kernel_folds_unsorted_seconds_in_order():
    # In arrival order every step is a gap; sorted, two 2-event sessions.
    (out,), state = _fold([5000 + GAP, 100, 5000, 100 + GAP])
    assert out.values.tolist() == [[7, 1, 2, pd.Timestamp(100, unit="s"),
                                    pd.Timestamp(100 + GAP, unit="s")]]
    assert _open(state) == {7: (2, 5000, 5000 + GAP, 2)}


def test_kernel_yields_nothing_until_a_session_closes():
    out, state = _fold([100, 200])
    assert out == [] and _open(state) == {7: (1, 100, 200, 2)}
    out, state = _fold([200 + GAP], state=state)
    assert out == [] and _open(state) == {7: (1, 100, 200 + GAP, 3)}


def test_kernel_closed_frame_dtypes():
    (out,), _ = _fold([-1, GAP + 1])
    names = [c.split()[0] for c in OUTPUT_SCHEMA.split(", ")]
    assert list(out.columns) == names
    assert out.dtypes.tolist() == [np.dtype("int64")] * 3 + [
        np.dtype("datetime64[ns]")] * 2
    assert out.iloc[0]["session_start"] == pd.Timestamp("1969-12-31 23:59:59")


def test_kernel_timeout_emits_one_row_and_removes_state():
    state = FakeState(_state({7: (4, 100, 700, 9, 0)}), timed_out=True)
    (out,) = list(_sessionize_kernel((7,), iter([]), state))
    assert out.values.tolist() == [[7, 4, 9, pd.Timestamp(100, unit="s"),
                                    pd.Timestamp(700, unit="s")]]
    assert not state.exists


def test_kernel_without_timeout_never_sets_one():
    _, state = _fold([0, 10 * GAP], set_timeout=False)
    assert state.timeouts == []
    _, state = _fold([0, 10 * GAP])
    assert state.timeouts == [TIMEOUT_MS]


def test_kernel_flushes_absent_users_past_their_deadline():
    """Under the timeout, a user absent from the batch and past their
    deadline is flushed; a present user past theirs is folded, and an
    absent user before theirs is kept."""
    users = {1: (2, 100, 200, 3, 500), 2: (1, 300, 400, 2, 500),
             3: (5, 600, 700, 1, 5000)}
    batch = pd.DataFrame({"user_id": [2], "sec": [500]}, dtype="int64")
    state = FakeState(_state(users), now=1000)
    out = list(_sessionize_kernel((1,), iter([batch]), state))
    assert _rows(out) == [(1, 2, 3, 100, 200)]
    assert _open(state) == {2: (1, 300, 500, 3), 3: (5, 600, 700, 1)}
    assert state.value[5] == [1000 + TIMEOUT_MS, 5000]

    state = FakeState(_state(users), now=1000)
    out = list(_sessionize_kernel((1,), iter([batch]), state, False))
    assert out == [] and set(_open(state)) == {1, 2, 3}


@settings(max_examples=300, deadline=None)
@given(st.data())
def test_kernel_equals_per_user_reference_fold(data):
    """Random users and seconds (pre-1970 included), split at random
    into batches and each batch into chunks: the bucketed kernel emits
    and keeps exactly what a per-user loop fold does."""
    events = data.draw(st.lists(
        st.tuples(st.integers(-3, 5), st.integers(-5 * GAP, 5 * GAP)),
        min_size=1, max_size=60,
    ))

    def split(seq):
        cuts = sorted(data.draw(st.sets(
            st.integers(1, max(1, len(seq) - 1)), max_size=4)))
        cuts = [c for c in cuts if c < len(seq)]
        return [seq[a:b] for a, b in zip([0, *cuts], [*cuts, len(seq)])]

    batches = split(events)
    state, got = FakeState(), []
    for batch in batches:
        frames = [pd.DataFrame(c, columns=["user_id", "sec"], dtype="int64")
                  for c in split(batch)]
        got += _rows(_sessionize_kernel((0,), iter(frames), state, False))
    closed, open_ = _reference_fold(batches)
    assert sorted(got) == sorted(closed)
    assert _open(state) == open_


def _operator(df):
    """The ``FlatMapGroupsInPandasWithState`` node of ``df``'s analyzed
    plan."""
    def find(node):
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return node
        kids = node.children()
        return next(
            (n for n in (find(kids.apply(i)) for i in range(kids.size())) if n),
            None,
        )

    return find(df._jdf.queryExecution().analyzed())


def test_python_operator_gets_only_user_and_seconds(spark, sf_dir):
    """Only the bucket key, user_id and sec cross to Python: no per-group
    timestamp conversion, no tie-break column, grouped by bucket."""
    op = _operator(streaming_sessionize(
        spark, f"{sf_dir}/events.parquet", use_timeout=False
    ))
    inputs = op.functionExpr().children()
    assert [
        (inputs.apply(i).name(), inputs.apply(i).dataType().simpleString())
        for i in range(inputs.size())
    ] == [("bucket", "bigint"), ("user_id", "bigint"), ("sec", "bigint")]
    keys = op.groupingAttributes()
    assert [keys.apply(i).name() for i in range(keys.size())] == ["bucket"]


def test_stateful_sessionize_keeps_one_state_row_per_bucket(spark, sf_dir, tmp_path):
    """State rows are buckets, not users: at most ``BUCKETS`` of them
    however many users the stream carries (150 at sf0.01)."""
    import pyarrow.compute as pc

    from taxi_trips_etl_spark.streaming.state import state_partitions

    events = str(Path(sf_dir).parent / "sf0.01" / "events.parquet")
    n_users = pc.count_distinct(pq.read_table(events, columns=["user_id"])["user_id"])
    with state_partitions(spark, 8):
        q = (
            streaming_sessionize(spark, events, use_timeout=False)
            .writeStream.format("memory")
            .queryName("t_sessions_buckets")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(300)
        finally:
            q.stop()
    rows = q.lastProgress["stateOperators"][0]["numRowsTotal"]
    assert n_users.as_py() > BUCKETS >= rows > 0


def test_stateful_sessionize_equals_batch(spark, sf_dir):
    got_df = run_streaming_sessionize(
        spark, f"{sf_dir}/events.parquet", sink_table="t_sessions_eq"
    )
    got = {
        (r.user_id, r.session_idx, r.n_events,
         r.session_start.strftime("%Y-%m-%d %H:%M:%S"),
         r.session_end.strftime("%Y-%m-%d %H:%M:%S"))
        for r in got_df.collect()
    }
    from taxi_trips_etl_spark.queries import all_queries

    batch = all_queries()["sessionize_events"](spark, sf_dir)
    want = {
        (r.user_id, r.session_idx, r.n_events, r.session_start, r.session_end)
        for r in batch.collect()
    }
    assert got == want
    assert len(got) > 0


def test_stateful_sessionize_floors_pre_epoch_seconds(spark, tmp_path):
    """Sub-second events before 1970 take the batch twin's floored
    seconds: -1 and 1800 are 1801 s apart, so two sessions, not one."""
    from taxi_trips_etl_spark.queries import all_queries

    ts = pd.to_datetime([
        "1969-12-31 23:59:59.5", "1970-01-01 00:30:00.2",  # user 1
        "1970-01-01 00:00:10.0", "1970-01-01 00:10:00.0",  # user 2
    ])
    pq.write_table(pa.table({
        "event_id": pa.array([1, 2, 3, 4], pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array([1, 1, 2, 2], pa.int64()),
    }), tmp_path / "events.parquet")

    queries = all_queries()
    got = queries["streaming_sessionize_stateful"](spark, str(tmp_path))
    want = queries["sessionize_events"](spark, str(tmp_path))
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect())) == [
        (1, 1, 1, "1969-12-31 23:59:59", "1969-12-31 23:59:59"),
        (1, 2, 1, "1970-01-01 00:30:00", "1970-01-01 00:30:00"),
        (2, 1, 2, "1970-01-01 00:00:10", "1970-01-01 00:10:00"),
    ]


def test_streaming_session_window_equals_batch(spark, sf_dir):
    """Native streaming session windows == batch F.session_window over
    the same static directory (AvailableNow, complete mode)."""
    from pyspark.sql import functions as F

    from taxi_trips_etl_spark.queries import _events
    from taxi_trips_etl_spark.streaming.session_window import (
        run_streaming_session_window,
    )

    got = {
        tuple(r)
        for r in run_streaming_session_window(
            spark, f"{sf_dir}/events.parquet"
        ).collect()
    }
    ev = _events(spark, sf_dir)
    want = {
        tuple(r)
        for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format("session_window.end", "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_events",
        )
        .collect()
    }
    assert got == want and len(got) > 0
