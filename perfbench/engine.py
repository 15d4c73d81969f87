"""One run of one workload in a fresh Spark session.

``run.py`` starts this module in its own process (with the environment
the run needs) and reads the JSON it writes to ``--result``. Spans are
taken here, around calls into the program's public functions:
``session.get_spark``, ``plans.pipeline.run_taxi_pipeline`` and the
streaming builders ``streaming.sessionize.streaming_sessionize`` and
``streaming.rollup.streaming_daypart_rollup``.

An *op* is the unit each workload reports ``op_s_p50`` over: one daily
pipeline run (``backfill``) or one landed event file until both
streaming drives have processed it (``stream_replay``). ``attempted`` /
``failed`` count days and files.

Order of a run: generate the inputs (untimed), build the session, warm
up, measure, check. ``setup_s`` spans the session build and the warm-up
only; every input the warm-up reads exists before the session starts.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402
from metrics import END_TO_END, STREAM_DRIVES  # noqa: E402

SINKS = {drive: sink for sink, drive in STREAM_DRIVES.items()}  # memory-sink names

# Input sizes per scale: "full" is what the benchmark measures, "tiny"
# is the self-test's sf0.001-sized variant of every workload.
SCALES = {
    "full": {"day_copies": 10, "event_copies": 10},
    "tiny": {"day_copies": 1, "event_copies": 1},
}
WORKLOADS = ("backfill", "stream_replay")
RERUN_EVERY = 3  # backfill: every third op re-runs an already-written day
# Warm-up ops (part of set-up) and the fewest measured ops per workload.
# In a fresh JVM a pipeline day gets faster for about 15 days, at a pace
# that differs from one JVM to the next: over five seeds the median day
# spread by 0.35 (quartile distance over median) after 4 warm-up days
# and by 0.06 after 12. A run measures at least MIN_OPS ops (and at least
# --seconds), so every run's median covers the same first op positions.
WARMUP_OPS = {"backfill": 12, "stream_replay": 3}
MIN_OPS = {"backfill": 6, "stream_replay": 4}


def now_ms() -> float:
    return time.time() * 1000


class Run:
    """State of one engine run: the session, spans and failure counts."""

    def __init__(self, args) -> None:
        self.args = args
        self.work = args.work
        self.scale = SCALES[args.scale]
        self.trace = args.trace == 1
        self.ops: list[dict] = []  # measured ops
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.inputs: dict = {}
        self.extra: dict = {}
        self.spark = None
        self.recorders: dict = {}
        self.state: dict = {}  # per-workload inputs and bookkeeping
        self.started: float | None = None
        self.setup_done: float | None = None

    def mark_setup_done(self) -> None:
        """End of set-up: session built and the workload warmed up."""
        if self.setup_done is None:
            self.setup_done = time.perf_counter()

    def measuring(self, busy: float) -> bool:
        """Whether the measured window goes on after ``busy`` op seconds."""
        return busy < self.args.seconds or len(self.ops) < MIN_OPS[self.args.workload]

    # -- session ---------------------------------------------------------

    def start_session(self) -> float:
        from taxi_trips_etl_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }
        if self.trace:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": f"file:{log_dir}",
            })
        t0 = self.started = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{len(os.sched_getaffinity(0))}]",
            extra_conf=conf,
        )
        seconds = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.trace:
            self.recorders["queries"] = tracing.install_query_recorder(self.spark)
            self.recorders["stages"] = tracing.install_stage_recorder()
            progress = tracing.make_progress_recorder()
            self.spark.streams.addListener(progress)
            self.recorders["progress"] = progress
        return seconds

    def stop_session(self) -> int:
        """Stop Spark and wait for the driver JVM to exit; return its
        peak RSS in kB (read just before it stops)."""
        if self.spark is None:
            return 0
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        peak_kb = _vm_hwm_kb(proc.pid) if proc else 0
        if self.trace:
            try:
                sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
            except Exception:  # the bus is internal API; settle by time instead
                time.sleep(2)
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        self.spark = None
        return peak_kb

    # -- accounting ------------------------------------------------------

    def attempt(self, fn, *a, **kw):
        """Run one operation; an exception marks it failed and the run goes on."""
        self.attempted += 1
        try:
            return True, fn(*a, **kw)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return False, None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail})
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)
        return ok


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _duck(tables: dict[str, str | list[str]]):
    import duckdb

    con = duckdb.connect()
    for name, path in tables.items():
        paths = path if isinstance(path, list) else [path]
        listing = ", ".join(f"'{p}'" for p in paths)
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet([{listing}])")
    return con


def _rows_match(run: Run, name: str, cols, rows, con, oracle_sql: str) -> bool:
    from tools.validate_oracles import normalize_rows

    res = con.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(cols) != sorted(ocols):
        return run.check(name, False, f"columns {sorted(cols)} != {sorted(ocols)}")
    ok = normalize_rows(list(cols), rows) == normalize_rows(ocols, orows)
    return run.check(name, ok, f"spark={len(rows)} rows, duckdb={len(orows)} rows")


# ---------------------------------------------------------------------------
# backfill: the daily pipeline
# ---------------------------------------------------------------------------


def _flagship_rows(partition: str):
    """A written partition's rows, read back without Spark."""
    import duckdb

    res = duckdb.connect().execute(f"""
        SELECT CAST(popularity AS BIGINT) AS popularity,
               route.pickup_hexagons AS route_pickup_hex,
               route.dropoff_hexagons AS route_dropoff_hex,
               route_count, dropoff_hexagon, dropoff_count, pickup_hexagon, pickup_count
        FROM read_parquet('{partition}/*.parquet')""")
    return [d[0] for d in res.description], res.fetchall()


def _parquet_files(path: str) -> int:
    if not os.path.isdir(path):
        return 0
    return sum(1 for f in os.listdir(path) if f.endswith(".parquet"))


def _day_input(run: Run, day: int) -> dict:
    days = run.state.setdefault("days", {})  # day -> {"dir", "ds", "rows", ...}
    if day not in days:
        d = os.path.join(run.work, "inputs", f"day_{day:04d}")
        info = gen.trips_day(run.args.seed, day, run.scale["day_copies"], d)
        ds = (dt.date(2026, 1, 1) + dt.timedelta(days=day)).isoformat()
        days[day] = {"dir": d, "ds": ds, "rows": info["rows"], "bytes": info["bytes"]}
    return days[day]


def prepare_pipeline_workload(run: Run) -> None:
    for day in range(1, WARMUP_OPS["backfill"] + 1):
        _day_input(run, day)


def run_pipeline_workload(run: Run) -> None:
    from taxi_trips_etl_spark.plans.pipeline import run_taxi_pipeline

    spark = run.spark
    table = os.path.join(run.work, "trips_by_run_date")
    days = run.state["days"]

    def one_day(day: int, rerun: bool) -> dict:
        info = days[day]
        start = now_ms()
        t0 = time.perf_counter()
        out = run_taxi_pipeline(spark, info["dir"], table, ds=info["ds"])
        seconds = time.perf_counter() - t0
        end = now_ms()
        if out is None:
            raise RuntimeError(f"pipeline short-circuited on {info['ds']}")
        files = _parquet_files(os.path.join(table, f"run_date={info['ds']}"))
        info.setdefault("files_first", files)
        if rerun:
            info["files_after_rerun"] = files
        return {"kind": "rerun" if rerun else "first", "day": day, "seconds": seconds,
                "rows": info["rows"], "windows": [(start, end)]}

    done: list[dict] = []  # every successful op, warm-up included
    reruns: list[int] = []

    def attempt_day(day: int, rerun: bool):
        ok, op = run.attempt(one_day, day, rerun)
        if ok:
            done.append(op)
        if not rerun:
            reruns.append(day)
        return ok, op

    # Warm-up (part of set-up): the first day in a fresh JVM takes about
    # 14 s, the next ones 2-3 s, falling towards 1.3 s over about 20 days.
    for day in range(1, WARMUP_OPS["backfill"] + 1):
        attempt_day(day, False)
    run.mark_setup_done()

    busy, next_day = 0.0, WARMUP_OPS["backfill"] + 1
    while run.measuring(busy):
        if (len(run.ops) + 1) % RERUN_EVERY == 0 and reruns:
            day, rerun = reruns.pop(0), True
        else:
            day, rerun = next_day, False
            next_day += 1
        _day_input(run, day)  # generated outside the timed span
        ok, op = attempt_day(day, rerun)
        if ok:
            run.ops.append(op)
            busy += op["seconds"]
        else:
            busy += 1.0  # a failing op must not stall the window forever

    run.inputs = {
        "kind": "daily trips",
        "days": len(days),
        "rows_per_day": days[max(days)]["rows"],
        "bytes_per_day": days[max(days)]["bytes"],
    }

    # Correctness, outside the timed spans.
    from taxi_trips_etl_spark.queries import all_oracles

    oracle = all_oracles()["flagship_most_populars"]
    written = sorted(d for d in os.listdir(table) if d.startswith("run_date=")) \
        if os.path.isdir(table) else []
    expected = sorted(f"run_date={info['ds']}" for info in days.values()
                      if "files_first" in info)
    run.check("one partition per run_date", written == expected,
              f"{len(written)} partitions for {len(expected)} days")
    mismatched = set()
    for day, info in sorted(days.items()):
        if "files_first" not in info:
            continue
        part = os.path.join(table, f"run_date={info['ds']}")
        try:
            cols, rows = _flagship_rows(part)
        except Exception as exc:  # an unreadable partition fails its day
            run.check(f"flagship {info['ds']}", False, repr(exc))
            mismatched.add(day)
            continue
        with _duck({"lineitem": os.path.join(info["dir"], "lineitem.parquet")}) as con:
            if not _rows_match(run, f"flagship {info['ds']}", cols, rows, con, oracle):
                mismatched.add(day)
        if "files_after_rerun" in info:
            same = info["files_after_rerun"] == info["files_first"]
            if not run.check(f"rerun keeps files {info['ds']}", same,
                             f"{info['files_first']} -> {info['files_after_rerun']}"):
                mismatched.add(day)
    run.failed += sum(1 for op in done if op["day"] in mismatched)

    if run.trace:
        from taxi_trips_etl_spark.operators.normalize import observed_normalize_metrics
        from taxi_trips_etl_spark.sources.taxi_testdata import trips_from_lineitem

        measured = sorted({op["day"] for op in run.ops})
        li = spark.read.parquet(*(os.path.join(days[d]["dir"], "lineitem.parquet")
                                  for d in measured))
        m = observed_normalize_metrics(trips_from_lineitem(li))
        run.extra["keep_ratio"] = m["n_kept"] / m["n_total"] if m["n_total"] else 0.0
        reruns_done = [i for i in days.values() if "files_after_rerun" in i]
        run.extra["partition_files_after_rerun"] = (
            statistics.mean(i["files_after_rerun"] for i in reruns_done) if reruns_done else 0
        )
        run.extra["files_written"] = statistics.mean(
            i["files_first"] for i in days.values() if "files_first" in i
        )


# ---------------------------------------------------------------------------
# stream_replay: closed-loop file landing into two streaming drives
# ---------------------------------------------------------------------------


def prepare_stream_workload(run: Run) -> None:
    staging = os.path.join(run.work, "inputs", "events")
    run.state["files"] = gen.event_files(run.args.seed, staging, run.scale["event_copies"])


def run_stream_workload(run: Run) -> None:
    from pyspark.sql import functions as F

    from taxi_trips_etl_spark.queries import all_oracles
    from taxi_trips_etl_spark.streaming.rollup import streaming_daypart_rollup
    from taxi_trips_etl_spark.streaming.sessionize import (
        SESSION_GAP_SECONDS,
        streaming_sessionize,
    )
    from taxi_trips_etl_spark.streaming.state import state_partitions

    spark = run.spark
    staging = os.path.join(run.work, "inputs", "events")
    src = os.path.join(run.work, "stream_src")
    os.makedirs(src, exist_ok=True)
    files = run.state["files"]
    # The file source needs the schema up front; the builders read it
    # from the directory, so seed it with the first file.
    landed: list[str] = []

    def land(f: dict) -> str:
        dst = os.path.join(src, os.path.basename(f["path"]))
        os.replace(f["path"], dst)
        landed.append(dst)
        return dst

    land(files[0])
    queries = {}
    with state_partitions(spark, 8):
        queries["sessionize"] = (
            streaming_sessionize(spark, src, use_timeout=False)
            .writeStream.format("memory").queryName(SINKS["sessionize"]).outputMode("append")
            .option("checkpointLocation", os.path.join(run.work, "ckpt_sessions"))
            .start()
        )
        queries["rollup"] = (
            streaming_daypart_rollup(spark, src)
            .writeStream.format("memory").queryName(SINKS["rollup"]).outputMode("complete")
            .option("checkpointLocation", os.path.join(run.work, "ckpt_rollup"))
            .start()
        )

    def drain() -> None:
        for q in queries.values():
            q.processAllAvailable()

    def one_file(f: dict) -> dict:
        start = now_ms()
        t0 = time.perf_counter()
        land(f)
        drain()
        return {"kind": "file", "seconds": time.perf_counter() - t0, "rows": f["rows"],
                "windows": [(start, now_ms())]}

    # Warm-up (part of set-up): the first batch plans and starts workers
    # (about 9 s); the next files take 4-5 s, then about 3 s.
    warmup = WARMUP_OPS["stream_replay"]
    run.attempt(drain)
    for f in files[1:1 + warmup]:
        run.attempt(one_file, f)
    run.mark_setup_done()

    busy = 0.0
    for f in files[1 + warmup:]:
        if not run.measuring(busy):
            break
        ok, op = run.attempt(one_file, f)
        if not ok:
            busy += 1.0
            continue
        run.ops.append(op)
        busy += op["seconds"]
    run.inputs = {"kind": "event files, one per day", "landed": len(landed),
                  "rows": [f["rows"] for f in files[:len(landed)]],
                  "bytes": [f["bytes"] for f in files[:len(landed)]]}

    oracles = all_oracles()
    events = {"events": landed}
    rollup = spark.table(SINKS["rollup"]).select(
        F.date_format("day_window.start", "yyyy-MM-dd").alias("day"),
        "daypart", "event_type", "event_count", "total_value",
    )
    with _duck(events) as con:
        if not _rows_match(run, "rollup sink", rollup.columns,
                           [tuple(r) for r in rollup.collect()], con,
                           oracles["streaming_daypart_rollup"]):
            run.failed += 1
    queries["rollup"].stop()

    # Sentinel batch: closes every open session (not timed). Files land
    # in event-time order, so the last one holds the latest real event.
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    max_real = pc.max(pq.read_table(landed[-1], columns=["ts"])["ts"]).as_py()
    sentinel = os.path.join(staging, "events_zzzz_sentinel.parquet")
    gen.sentinel_file(landed, SESSION_GAP_SECONDS, sentinel)
    land({"path": sentinel})
    landed.pop()
    ok, _ = run.attempt(queries["sessionize"].processAllAvailable)
    queries["sessionize"].stop()
    if ok:
        sessions = spark.table(SINKS["sessionize"]).filter(
            F.col("session_start") <= F.lit(max_real)
        ).select(
            "user_id", "session_idx", "n_events",
            F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        )
        with _duck(events) as con:
            if not _rows_match(run, "sessionize sink", sessions.columns,
                               [tuple(r) for r in sessions.collect()], con,
                               oracles["streaming_sessionize_stateful"]):
                run.failed += 1


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def end_to_end(run: Run, setup_s: float) -> dict:
    secs = [op["seconds"] for op in run.ops]
    if not secs:
        raise RuntimeError("no operation succeeded in the measured window")
    values = {
        "setup_s": setup_s,
        "op_s_p50": statistics.median(secs),
        "rows_per_s": sum(op["rows"] for op in run.ops) / sum(secs),
    }
    return {name: {"value": values[name], "unit": unit} for name, unit, _ in END_TO_END}


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    p.add_argument("--work", required=True)
    p.add_argument("--result", required=True)
    args = p.parse_args()

    run = Run(args)
    prepare, workload = {
        "backfill": (prepare_pipeline_workload, run_pipeline_workload),
        "stream_replay": (prepare_stream_workload, run_stream_workload),
    }[args.workload]
    prepare(run)
    get_spark_s = run.start_session()
    try:
        workload(run)
        records = {k: v.records for k, v in run.recorders.items()}
    finally:
        jvm_kb = run.stop_session()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    setup_s = (run.setup_done or time.perf_counter()) - run.started

    result = {
        "correct": all(c["ok"] for c in run.checks) and run.failed == 0,
        "attempted": run.attempted,
        "failed": min(run.failed, run.attempted),
        "end_to_end": end_to_end(run, setup_s),
        "inputs": run.inputs,
        "op_seconds": [op["seconds"] for op in run.ops],
        "checks": run.checks,
    }
    if run.trace:
        log = tracing.read_event_log(os.path.join(args.work, "eventlog"))
        result["per_layer"] = metrics.per_layer(
            args.workload, run, log, records, get_spark_s, (jvm_kb + py_kb) / 1024.0
        )
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    shutil.rmtree(os.path.join(args.work, "inputs"), ignore_errors=True)


if __name__ == "__main__":
    main()
