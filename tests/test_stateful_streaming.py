"""applyInPandasWithState sessionizer ≡ batch window sessionization."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from taxi_trips_etl_spark.streaming.sessionize import (
    OUTPUT_SCHEMA,
    SESSION_GAP_SECONDS,
    _sessionize_kernel,
    run_streaming_sessionize,
    streaming_sessionize,
)

GAP = SESSION_GAP_SECONDS


class FakeState:
    """The slice of ``GroupState`` the kernel touches."""

    def __init__(self, value=None, timed_out=False):
        self.value = value
        self.hasTimedOut = timed_out
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


def _fold(*secs, state=None, set_timeout=True):
    """Run the kernel on frames of epoch seconds; return (frames, state)."""
    state = state or FakeState()
    frames = [pd.DataFrame({"user_id": 7, "sec": list(s)}, dtype="int64")
              for s in secs]
    out = list(_sessionize_kernel((7,), iter(frames), state, set_timeout))
    return out, state


def test_kernel_two_frames_equal_one_frame():
    split, s1 = _fold([0, 10, 5000], [5100, 9000])
    whole, s2 = _fold([0, 10, 5000, 5100, 9000])
    assert len(split) == len(whole) == 1
    pd.testing.assert_frame_equal(split[0], whole[0])
    assert s1.value == s2.value == (3, 9000, 9000, 1)


def test_kernel_folds_unsorted_seconds_in_order():
    # In arrival order every step is a gap; sorted, two 2-event sessions.
    (out,), state = _fold([5000 + GAP, 100, 5000, 100 + GAP])
    assert out.values.tolist() == [[7, 1, 2, pd.Timestamp(100, unit="s"),
                                    pd.Timestamp(100 + GAP, unit="s")]]
    assert state.value == (2, 5000, 5000 + GAP, 2)


def test_kernel_yields_nothing_until_a_session_closes():
    out, state = _fold([100, 200])
    assert out == [] and state.value == (1, 100, 200, 2)
    out, state = _fold([200 + GAP], state=state)
    assert out == [] and state.value == (1, 100, 200 + GAP, 3)


def test_kernel_closed_frame_dtypes():
    (out,), _ = _fold([-1, GAP + 1])
    names = [c.split()[0] for c in OUTPUT_SCHEMA.split(", ")]
    assert list(out.columns) == names
    assert out.dtypes.tolist() == [np.dtype("int64")] * 3 + [
        np.dtype("datetime64[ns]")] * 2
    assert out.iloc[0]["session_start"] == pd.Timestamp("1969-12-31 23:59:59")


def test_kernel_timeout_emits_one_row_and_removes_state():
    state = FakeState((4, 100, 700, 9), timed_out=True)
    (out,) = list(_sessionize_kernel((7,), iter([]), state))
    assert out.values.tolist() == [[7, 4, 9, pd.Timestamp(100, unit="s"),
                                    pd.Timestamp(700, unit="s")]]
    assert not state.exists


def test_kernel_without_timeout_never_sets_one():
    _, state = _fold([0, 10 * GAP], set_timeout=False)
    assert state.timeouts == []
    _, state = _fold([0, 10 * GAP])
    assert state.timeouts == [3000]


def test_python_operator_gets_only_user_and_seconds(spark, sf_dir):
    """Only (user_id, sec) crosses to Python: no per-group timestamp
    conversion, no tie-break column."""
    plan = streaming_sessionize(
        spark, f"{sf_dir}/events.parquet", use_timeout=False
    )._jdf.queryExecution().analyzed()

    def find(node):
        if node.nodeName() == "FlatMapGroupsInPandasWithState":
            return node
        kids = node.children()
        return next(
            (n for n in (find(kids.apply(i)) for i in range(kids.size())) if n),
            None,
        )

    inputs = find(plan).functionExpr().children()
    assert [
        (inputs.apply(i).name(), inputs.apply(i).dataType().simpleString())
        for i in range(inputs.size())
    ] == [("user_id", "bigint"), ("sec", "bigint")]


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
            spark, f"{sf_dir}/events.parquet", sink_table="sw_test"
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


def test_session_window_append_mode_watermark_finalizes(spark, tmp_path):
    """Production posture, previously documented but untested: in
    APPEND mode a two-batch AvailableNow run must EMIT the first
    session once the second batch advances the watermark past its end,
    and must withhold the still-open session the watermark has not
    passed. This is the watermark-eviction contract that bounds state
    on a continuous stream."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from taxi_trips_etl_spark.streaming.session_window import (
        run_streaming_session_window,
    )

    src = tmp_path / "ev_src"
    src.mkdir()

    def write_file(rows, name, mtime):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts_s string"
        ).select(
            "event_id", "user_id", F.to_timestamp("ts_s").alias("ts")
        )
        scratch = tmp_path / f"scratch_{name}"
        df.coalesce(1).write.parquet(str(scratch))
        part = next(
            p for p in os.listdir(scratch) if p.endswith(".parquet")
        )
        dst = src / f"{name}.parquet"
        shutil.copy(scratch / part, dst)
        os.utime(dst, (mtime, mtime))

    # Batch 1: one 2-event session for user 10 (ends 00:05 + 30m gap).
    write_file(
        [(1, 10, "2024-01-01 00:00:00"), (2, 10, "2024-01-01 00:05:00")],
        "pass0", mtime=1_700_000_000,
    )
    # Batch 2: a much later event — advances the watermark (1 day) to
    # 2024-01-03, far past session 1's end, and opens a new session
    # that stays below the final watermark (withheld in append).
    write_file([(3, 10, "2024-01-04 00:00:00")], "pass1",
               mtime=1_700_000_060)

    out = run_streaming_session_window(
        spark,
        str(src),
        sink_table="sw_append_wm",
        output_mode="append",
        max_files_per_trigger=1,
    ).collect()

    assert [
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in out
    ] == [(10, "2024-01-01 00:00:00", "2024-01-01 00:35:00", 2)]
