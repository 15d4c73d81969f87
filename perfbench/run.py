"""Benchmark entry point: one measured run of one workload.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads (see ``BENCHMARK.json``):

- ``backfill``: consecutive daily runs of the four-stage pipeline
  (load → normalize → enrich → most-populars → ``run_date`` partition),
  ~60k trips a day, every third run re-running an already-written day;
- ``stream_replay``: event files landed one at a time (atomic rename)
  into a directory watched by the stateful sessionizer and the daypart
  rollup; one client, closed loop: the next file lands only after both
  drives have processed the previous one.

Every run starts a fresh Spark session at ``local[<cores>]``. With
``--trace 0`` the last stdout line holds the end-to-end metrics. With
``--trace 1`` the workload runs twice, untraced and then traced (event
log and listeners on); the last line holds the per-layer metrics of the
traced run plus ``trace_overhead.<metric>`` = traced − untraced for each
end-to-end metric. Inputs are generated from ``--seed`` inside the
checkout (``.perfbench_work/``) and removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "stream_replay")  # as in engine.py
ENGINE_TIMEOUT_S = 170
PROCESS_WAIT_S = 20


def _session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid`` (the engine and everything it
    started, including Spark's Python daemons that set their own group)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state, fields[3] the session id.
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(entry))
    return pids


def _reap(sid: int) -> None:
    """Wait for every process of the session to end; kill stragglers."""
    deadline = time.monotonic() + PROCESS_WAIT_S
    while _session_pids(sid) and time.monotonic() < deadline:
        time.sleep(0.2)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.monotonic() + 5
        while _session_pids(sid) and time.monotonic() < end:
            time.sleep(0.2)


def run_engine(args, trace: int, work: str, timeout_s: float) -> dict:
    """Run engine.py in its own session; return the result it wrote."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    cores = str(len(os.sched_getaffinity(0)))
    env.update({
        # Python workers import the package whatever their cwd.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_CPUS": cores,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # Every JVM keeps its temp files in the work dir and writes no
        # perf-data file to the system temp dir.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    cmd = [
        sys.executable, os.path.join(HERE, "engine.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(trace),
        "--scale", args.scale, "--work", work, "--result", result_path,
    ]
    log_path = os.path.join(work, "engine.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL, stdout=log,
            stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            code = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = "timeout"
        finally:
            _reap(proc.pid)
    if code != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-6000:])
        raise SystemExit(f"engine run failed ({code}) for {args.workload}")
    with open(result_path) as fh:
        return json.load(fh)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: sf0.001-sized inputs, for the self-test")
    args = p.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "taxi_trips_etl_spark", "__init__.py")):
        raise SystemExit(f"no taxi_trips_etl_spark package under {ROOT}: "
                         "run from the root of a full checkout")

    base = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    started = time.monotonic()
    try:
        runs = [run_engine(args, 0, os.path.join(base, "untraced"), ENGINE_TIMEOUT_S)]
        if args.trace:
            left = ENGINE_TIMEOUT_S - (time.monotonic() - started)
            runs.append(run_engine(args, 1, os.path.join(base, "traced"), left))
    finally:
        shutil.rmtree(base, ignore_errors=True)

    for r in runs:
        for c in r["checks"]:
            if not c["ok"]:
                print(f"check failed: {c['name']}: {c['detail']}")
        print(f"inputs: {json.dumps(r['inputs'])}")
        print(f"op seconds: {[round(x, 3) for x in r['op_seconds']]}")
    if args.trace:
        untraced, traced = runs
        metrics = dict(traced["per_layer"])
        for name, m in untraced["end_to_end"].items():
            metrics[f"trace_overhead.{name}"] = {
                "value": traced["end_to_end"][name]["value"] - m["value"],
                "unit": m["unit"],
            }
    else:
        metrics = runs[0]["end_to_end"]
    for name, m in metrics.items():
        print(f"{name:48s} {m['value']:>16.6g} {m['unit']}")
    attempted = sum(r["attempted"] for r in runs)
    failed = sum(r["failed"] for r in runs)
    print(f"error_rate {failed}/{attempted} = {failed / max(attempted, 1):.4f}")
    print(json.dumps({
        "correct": all(r["correct"] for r in runs),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
