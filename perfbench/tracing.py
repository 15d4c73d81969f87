"""Traced-run collectors and the event-log parser.

Only a ``--trace 1`` run installs these. Three sources, as the layers
expose them:

- Spark's event log (uncompressed, ``file:`` dir): jobs, stages and
  per-task metrics, plus the SQL plan's metric ids, so Python-worker
  SQL metrics can be told apart from the rest;
- listeners on the driver: a ``QueryExecutionListener`` (Catalyst phase
  times of every executed query, micro-batches included) and a Python
  ``StreamingQueryListener`` (micro-batch phases and state-store stats);
- a log handler on ``taxi_trips_etl_spark.plans.pipeline``, which logs
  ``stage %s ok in %.2fs`` per pipeline stage.

Every record carries wall-clock epoch milliseconds, so records are
attributed to the benchmark's own spans (one per day or
landed file) by time.
"""

from __future__ import annotations

import glob
import json
import logging
import os
import threading
from collections import defaultdict
from datetime import datetime, timezone

PIPELINE_LOGGER = "taxi_trips_etl_spark.plans.pipeline"
PYTHON_NODE_HINTS = ("Python", "Pandas", "Arrow")
STREAM_PHASES = (
    ("latest_offset", "latestOffset"),
    ("get_batch", "getBatch"),
    ("query_planning", "queryPlanning"),
    ("add_batch", "addBatch"),
    ("wal_commit", "walCommit"),
    ("commit_offsets", "commitOffsets"),
)


# ---------------------------------------------------------------------------
# driver-side collectors
# ---------------------------------------------------------------------------


class QueryExecutionRecorder:
    """py4j implementation of ``org.apache.spark.sql.util.QueryExecutionListener``.

    Keeps, per executed query: the action name, the phase durations from
    ``QueryExecution.tracker()`` and the earliest phase start (epoch ms).
    """

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._lock = threading.Lock()

    def onSuccess(self, func_name, qe, duration_ns) -> None:  # noqa: N802 (Java API)
        phases, start = {}, None
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            summary = kv._2()
            phases[kv._1()] = summary.durationMs()
            t = summary.startTimeMs()
            start = t if start is None else min(start, t)
        with self._lock:
            self.records.append(
                {"func": func_name, "start_ms": start, "duration_ms": duration_ns / 1e6,
                 "phases": phases}
            )

    def onFailure(self, func_name, qe, exception) -> None:  # noqa: N802 (Java API)
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def install_query_recorder(spark) -> QueryExecutionRecorder:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)
    rec = QueryExecutionRecorder()
    spark._jsparkSession.listenerManager().register(rec)
    return rec


def make_progress_recorder():
    """A ``StreamingQueryListener`` keeping every progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self) -> None:
            self.records: list[dict] = []

        def onQueryStarted(self, event) -> None:  # noqa: N802
            pass

        def onQueryProgress(self, event) -> None:  # noqa: N802
            self.records.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:  # noqa: N802
            pass

        def onQueryTerminated(self, event) -> None:  # noqa: N802
            pass

    return ProgressRecorder()


class StageLogRecorder(logging.Handler):
    """Captures the pipeline's ``stage %s ok in %.2fs`` records, keeping
    the unrounded seconds from the record's arguments."""

    def __init__(self) -> None:
        super().__init__(logging.INFO)
        self.records: list[dict] = []

    def emit(self, record: logging.LogRecord) -> None:
        if record.msg == "stage %s ok in %.2fs":
            name, seconds = record.args
            self.records.append(
                {"stage": name, "seconds": float(seconds), "end_ms": record.created * 1000}
            )


def install_stage_recorder() -> StageLogRecorder:
    rec = StageLogRecorder()
    logger = logging.getLogger(PIPELINE_LOGGER)
    logger.setLevel(logging.INFO)
    logger.addHandler(rec)
    return rec


def progress_start_ms(p: dict) -> float:
    ts = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp() * 1000


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _plan_metrics(node: dict, out: dict) -> None:
    name = node.get("nodeName", "")
    for m in node.get("metrics", []):
        out[m["accumulatorId"]] = (name, m["name"], m.get("metricType", "sum"))
    for child in node.get("children", []):
        _plan_metrics(child, out)


def read_event_log(log_dir: str) -> dict:
    """Parse every event file under ``log_dir`` into jobs, stages, tasks
    and SQL executions. Times are epoch ms as Spark wrote them."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-", "app-"))
    )
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    executions: dict[int, str] = {}
    accums: dict[int, tuple] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    exec_id = props.get("spark.sql.execution.id")
                    jobs[e["Job ID"]] = {
                        "submit_ms": e["Submission Time"],
                        "stage_ids": e["Stage IDs"],
                        "execution": int(exec_id) if exec_id is not None else None,
                        "group": props.get("spark.jobGroup.id"),
                    }
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end_ms"] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    stages[info["Stage ID"]] = {
                        "submit_ms": info.get("Submission Time"),
                        "end_ms": info.get("Completion Time"),
                        "tasks": info["Number of Tasks"],
                    }
                elif kind == "SparkListenerTaskEnd":
                    info, m = e["Task Info"], e.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    tasks.append({
                        "stage": e["Stage ID"],
                        "duration_ms": info["Finish Time"] - info["Launch Time"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "cpu_ns": m.get("Executor CPU Time", 0),
                        "gc_ms": m.get("JVM GC Time", 0),
                        "input_rows": m.get("Input Metrics", {}).get("Records Read", 0),
                        "input_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "output_rows": m.get("Output Metrics", {}).get("Records Written", 0),
                        "output_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                        "shuffle_read_rows": sr.get("Total Records Read", 0),
                        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0),
                        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                        "spill_bytes": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "accums": [
                            (a["ID"], a["Update"]) for a in info.get("Accumulables", [])
                            if "Update" in a
                        ],
                    })
                elif kind.endswith("SQLExecutionStart"):
                    executions[e["executionId"]] = e.get("description", "")
                    _plan_metrics(e.get("sparkPlanInfo", {}), accums)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _plan_metrics(e.get("sparkPlanInfo", {}), accums)
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "executions": executions, "accums": accums}


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def _inside(t: float | None, span: dict) -> bool:
    return t is not None and span["start_ms"] <= t <= span["end_ms"]


def _busy_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def span_layers(span: dict, log: dict, queries: list[dict]) -> dict:
    """Layer totals for one span: Catalyst, scheduler, executor, shuffle,
    scan, write and Python-worker figures of the work it caused."""
    jobs = {j: v for j, v in log["jobs"].items() if _inside(v["submit_ms"], span)}
    stage_ids = {s for v in jobs.values() for s in v["stage_ids"] if s in log["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stage_ids]
    wall = span["end_ms"] - span["start_ms"]
    out = defaultdict(float)
    out["wall_ms"] = wall
    out["jobs"] = len(jobs)
    out["stages"] = len(stage_ids)
    out["tasks"] = len(tasks)
    longest = defaultdict(float)
    for t in tasks:
        longest[t["stage"]] = max(longest[t["stage"]], t["duration_ms"])
        out["run_ms"] += t["run_ms"]
        out["cpu_ms"] += t["cpu_ns"] / 1e6
        out["gc_ms"] += t["gc_ms"]
        out["scan_rows"] += t["input_rows"]
        out["scan_bytes"] += t["input_bytes"]
        out["write_rows"] += t["output_rows"]
        out["write_bytes"] += t["output_bytes"]
        out["shuffle_read_bytes"] += t["shuffle_read_bytes"]
        out["shuffle_write_bytes"] += t["shuffle_write_bytes"]
        out["spill_bytes"] += t["spill_bytes"]
        if not (t["input_rows"] or t["shuffle_read_rows"]):
            out["empty_tasks"] += 1
        for acc_id, update in t["accums"]:
            node, metric, mtype = log["accums"].get(acc_id, ("", "", ""))
            if not any(h in node for h in PYTHON_NODE_HINTS):
                continue
            value = float(update)
            if mtype == "nsTiming":
                value /= 1e6
            if metric == "number of output rows":
                out["python_rows"] += value
            elif metric == "data sent to Python workers":
                out["python_bytes_sent"] += value
            elif metric == "data returned from Python workers":
                out["python_bytes_received"] += value
            elif metric == "time to run Python workers":
                out["python_time_ms"] += value
    for s in stage_ids:
        st = log["stages"][s]
        if st["submit_ms"] is not None and st["end_ms"] is not None:
            out["sched_delay_ms"] += max(0.0, st["end_ms"] - st["submit_ms"] - longest[s])
    out["load_probe_jobs"] = sum(
        1 for v in jobs.values()
        if log["executions"].get(v["execution"], "").startswith("isEmpty")
    )
    job_spans = [(v["submit_ms"], v.get("end_ms", v["submit_ms"])) for v in jobs.values()]
    out["driver_ms"] = wall - _busy_ms(job_spans, span["start_ms"], span["end_ms"])
    for q in queries:
        if _inside(q["start_ms"], span):
            out["executions"] += 1
            for phase in ("analysis", "optimization", "planning"):
                out[f"{phase}_ms"] += q["phases"].get(phase, 0)
            if q["func"] == "command":
                out["write_command_ms"] += q["duration_ms"]
    return dict(out)
