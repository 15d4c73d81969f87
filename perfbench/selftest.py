"""Self-test of the benchmark itself (not of the program).

    python3 perfbench/selftest.py            # parser checks + every workload, tiny
    python3 perfbench/selftest.py --quick    # parser checks only (no Spark)

1. The traced-run parser reads a tiny hand-written event log, a
   streaming-listener progress record and a pipeline log record, and
   attributes them to a span.
2. Every workload runs at sf0.001 size (``--scale tiny``), untraced and
   traced; each run must be correct and must
   print exactly the metrics ``BENCHMARK.json`` names, each with its unit.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import tracing  # noqa: E402

T0 = 1_800_000_000_000  # an epoch-ms origin for the hand-written records

EVENT_LOG = [
    {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
     "executionId": 0, "description": "isEmpty at NativeMethodAccessorImpl.java:0",
     "sparkPlanInfo": {"nodeName": "ArrowEvalPython", "metrics": [
         {"accumulatorId": 7, "name": "data sent to Python workers", "metricType": "size"},
         {"accumulatorId": 8, "name": "time to run Python workers", "metricType": "nsTiming"},
     ], "children": []}},
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": T0 + 100,
     "Stage IDs": [0], "Properties": {"spark.sql.execution.id": "0"}},
    {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
     "Task Info": {"Launch Time": T0 + 110, "Finish Time": T0 + 190, "Accumulables": [
         {"ID": 7, "Update": "4096"}, {"ID": 8, "Update": "30000000"}]},
     "Task Metrics": {"Executor Run Time": 70, "Executor CPU Time": 50_000_000,
                      "JVM GC Time": 5, "Input Metrics": {"Records Read": 10, "Bytes Read": 512},
                      "Shuffle Read Metrics": {}, "Shuffle Write Metrics": {},
                      "Output Metrics": {}}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {
        "Stage ID": 0, "Submission Time": T0 + 105, "Completion Time": T0 + 200,
        "Number of Tasks": 1}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": T0 + 200},
]
PROGRESS = {
    "name": "pb_rollup", "timestamp": "2027-01-15T08:00:00.150Z", "numInputRows": 600,
    "durationMs": {"latestOffset": 10, "getBatch": 5, "queryPlanning": 20, "addBatch": 400,
                   "walCommit": 15, "commitOffsets": 50, "triggerExecution": 500},
    "stateOperators": [{"numRowsTotal": 300, "memoryUsedBytes": 9000, "commitTimeMs": 200}],
}


def check_parser(work: str) -> None:
    log_dir = os.path.join(work, "eventlog", "eventlog_v2_local-1")
    os.makedirs(log_dir, exist_ok=True)
    with open(os.path.join(log_dir, "events_1_local-1"), "w") as fh:
        fh.writelines(json.dumps(e) + "\n" for e in EVENT_LOG)
    log = tracing.read_event_log(os.path.join(work, "eventlog"))
    queries = [{"func": "isEmpty", "start_ms": T0 + 50, "duration_ms": 90.0,
                "phases": {"analysis": 3, "optimization": 4, "planning": 5}}]
    t = tracing.span_layers({"start_ms": T0, "end_ms": T0 + 400}, log, queries)
    expect = {"jobs": 1, "tasks": 1, "run_ms": 70, "cpu_ms": 50.0, "gc_ms": 5,
              "scan_rows": 10, "python_bytes_sent": 4096, "python_time_ms": 30.0,
              "sched_delay_ms": 15, "load_probe_jobs": 1, "driver_ms": 300,
              "analysis_ms": 3, "planning_ms": 5}
    wrong = {k: (t.get(k), v) for k, v in expect.items() if t.get(k) != v}
    assert not wrong, f"event-log attribution: {wrong}"
    outside = tracing.span_layers({"start_ms": T0 + 300, "end_ms": T0 + 400}, log, queries)
    assert outside["jobs"] == 0 and outside["driver_ms"] == 100, outside

    stages = tracing.StageLogRecorder()
    stages.handle(logging.makeLogRecord(
        {"msg": "stage %s ok in %.2fs", "args": ("final", 1.23456), "levelno": logging.INFO}))
    assert stages.records[0]["stage"] == "final" and stages.records[0]["seconds"] == 1.23456

    start = tracing.progress_start_ms(PROGRESS)
    run = SimpleNamespace(ops=[{"seconds": 1.0, "rows": 600,
                                "windows": [(start - 100, start + 900)]}], extra={})
    layers = metrics.per_layer("stream_replay", run, log, {"progress": [PROGRESS]}, 1.0, 900.0)
    got = {k: layers[f"streaming.rollup.{k}"]["value"] for k in
           ("batches", "input_rows", "add_batch_share", "state.commit_share",
            "state.rows_total")}
    assert got == {"batches": 1, "input_rows": 600, "add_batch_share": 0.8,
                   "state.commit_share": 0.4, "state.rows_total": 300}, got
    print("parser: ok")


def check_workload(workload: str, trace: int, bench: dict) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), "--scale", "tiny"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=400)
    assert out.returncode == 0, f"{workload}: exit {out.returncode}\n{out.stderr[-3000:]}"
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result.keys()
    assert result["correct"] and result["failed"] == 0, (workload, result)
    spec = bench["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in spec}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want, f"{workload}: metric names/units differ: {set(got) ^ set(want)}"
    print(f"{workload} trace={trace}: ok ({result['attempted']} ops)")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--quick", action="store_true", help="parser checks only")
    args = p.parse_args()
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    try:
        check_parser(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.quick:
        return
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == \
        metrics.catalog(), "BENCHMARK.json per_layer differs from metrics.catalog()"
    for w in bench["workloads"]:
        for trace in (0, 1):
            check_workload(w["name"], trace, bench)
    print("selftest: ok")


if __name__ == "__main__":
    main()
