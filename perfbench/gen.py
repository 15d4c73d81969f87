"""Seeded input generator for the benchmark workloads.

Every input is derived from ``--seed`` and written under the run's work
directory; nothing here is timed. The program under test only ever sees
the parquet files written here.

- Daily trips (``backfill``): each day is ``copies`` key-shifted copies
  of the committed sf0.001 ``lineitem`` fixture (6,000 rows a copy).
  Shifting ``l_orderkey`` moves pickup time-of-day and the passenger /
  distance filter classes; shifting ``l_partkey`` / ``l_suppkey`` moves
  the pickup / dropoff zones. Each (seed, day, copy) gets its own shifts.
- Events (``stream_replay``): ``copies`` key-shifted copies of the
  committed sf0.01 ``events`` fixture (10,000 events, 150 users, 30 days;
  ten copies have the sf0.1 shape of 1,500 users), split by event time
  into one file per day. Each copy gets its own user and event-id range;
  a seeded whole number of days moves every timestamp, which keeps the
  dayparts the rollup groups by.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

DAY_US = 86_400 * 1_000_000


def _fixture(name: str) -> pa.Table:
    return pq.read_table(os.path.join(FIXTURES, f"{name}.parquet"))


def _write(table: pa.Table, path: str) -> dict:
    """Write atomically (hidden temp name, then rename) and describe it."""
    parent, name = os.path.split(path)
    os.makedirs(parent, exist_ok=True)
    tmp = os.path.join(parent, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _shift(table: pa.Table, offsets: dict[str, int]) -> pa.Table:
    for col, off in offsets.items():
        i = table.schema.get_field_index(col)
        table = table.set_column(i, col, pc.add(table[col], off))
    return table


def trips_day(seed: int, day: int, copies: int, out_dir: str) -> dict:
    """One day of trips as ``<out_dir>/lineitem.parquet``."""
    base = _fixture("lineitem")
    rng = np.random.default_rng([seed, day])
    parts = []
    for _ in range(copies):
        o, p, s = (int(x) for x in rng.integers(1, 10_000_000, size=3))
        parts.append(_shift(base, {"l_orderkey": o, "l_partkey": p, "l_suppkey": s}))
    return _write(pa.concat_tables(parts), os.path.join(out_dir, "lineitem.parquet"))


def event_files(seed: int, out_dir: str, copies: int) -> list[dict]:
    """Event-time-ordered files ``<out_dir>/events_NNNN.parquet``, one per
    day of events."""
    base = _fixture("events")
    rng = np.random.default_rng([seed, 2 << 20])
    user_base, id_base = (int(x) for x in rng.integers(1, 1_000_000, size=2))
    day_shift = pa.scalar(int(rng.integers(0, 3_650)) * DAY_US, type=pa.duration("us"))
    users = pc.max(base["user_id"]).as_py() + 1
    ids = pc.max(base["event_id"]).as_py() + 1
    parts = []
    for c in range(copies):
        t = _shift(base, {"user_id": user_base + c * users, "event_id": id_base + c * ids})
        parts.append(t.set_column(t.schema.get_field_index("ts"), "ts", pc.add(t["ts"], day_shift)))
    events = pa.concat_tables(parts)
    events = events.take(pc.sort_indices(events, [("ts", "ascending"), ("event_id", "ascending")]))
    day = pc.divide(pc.cast(events["ts"], pa.int64()), DAY_US)
    out = []
    for i, d in enumerate(pc.unique(day).to_pylist()):
        path = os.path.join(out_dir, f"events_{i:04d}.parquet")
        out.append({"path": path, **_write(events.filter(pc.equal(day, d)), path)})
    return out


def sentinel_file(event_paths: list[str], gap_seconds: int, path: str) -> dict:
    """One sentinel event per user, past that user's last event plus the
    session gap, so the sessionizer closes every real session (the same
    drive ``streaming.sessionize.run_streaming_sessionize`` uses)."""
    ev = pa.concat_tables([pq.read_table(p, columns=["user_id", "ts"]) for p in event_paths])
    last = ev.group_by("user_id").aggregate([("ts", "max")])
    bump = pa.scalar((gap_seconds + 60) * 1_000_000, type=pa.duration("us"))
    schema = pq.read_schema(event_paths[0])
    n = last.num_rows
    cols = {"event_id": pa.array([-1] * n, type=pa.int64()),
            "ts": pc.add(last["ts_max"], bump), "user_id": last["user_id"]}
    table = pa.table(
        [cols.get(f.name, pa.nulls(n, type=f.type)) for f in schema], schema=schema
    )
    return _write(table, path)
