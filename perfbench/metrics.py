"""The benchmark's metrics: names, units, and the per-layer computation.

Every workload reports every metric below (the contract of
``BENCHMARK.json``); a layer a workload does not exercise reads 0.
Layer times that every workload exercises are reported in ms per op;
workload-specific layers are reported as shares of the op's wall time
(or of the micro-batch's trigger time) and as counts, so that a layer
which is absent reads 0 without posing as a measured time.

Each name's comment says which end-to-end metric it should move.
"""

from __future__ import annotations

import statistics

import tracing

PIPELINE_STAGES = ("load", "normalize", "enrich", "final")
STREAM_DRIVES = {"pb_sessions": "sessionize", "pb_rollup": "rollup"}

# (metric, unit, key in tracing.span_layers totals) — per op; all → op_s_p50.
SPAN_METRICS = (
    ("catalyst.executions", "count", "executions"),
    ("catalyst.analysis_ms", "ms", "analysis_ms"),
    ("catalyst.optimization_ms", "ms", "optimization_ms"),
    ("catalyst.planning_ms", "ms", "planning_ms"),
    ("scheduler.jobs", "count", "jobs"),
    ("scheduler.stages", "count", "stages"),
    ("scheduler.tasks", "count", "tasks"),
    ("scheduler.delay_ms", "ms", "sched_delay_ms"),
    ("executor.run_ms", "ms", "run_ms"),
    ("executor.cpu_ms", "ms", "cpu_ms"),
    ("executor.gc_ms", "ms", "gc_ms"),
    ("shuffle.read_bytes", "bytes", "shuffle_read_bytes"),
    ("shuffle.write_bytes", "bytes", "shuffle_write_bytes"),
    ("spill.bytes", "bytes", "spill_bytes"),
    ("sources.scan_rows", "count", "scan_rows"),  # → rows_per_s
    ("sources.scan_bytes", "bytes", "scan_bytes"),  # → rows_per_s
    ("sources.write_rows", "count", "write_rows"),
    ("sources.write_bytes", "bytes", "write_bytes"),
    ("python_worker.rows", "count", "python_rows"),
    ("python_worker.bytes_sent", "bytes", "python_bytes_sent"),
    ("python_worker.bytes_received", "bytes", "python_bytes_received"),
)
STREAM_PHASES = [name for name, _ in tracing.STREAM_PHASES]

# (name, unit, better) of the untraced run's end-to-end metrics.
END_TO_END = (
    ("setup_s", "s", "lower"),  # session build plus warm-up
    ("op_s_p50", "s", "lower"),  # median op wall time
    ("rows_per_s", "1/s", "higher"),  # input rows per second of op wall time
)
HIGHER_IS_BETTER = {"operators.normalize.keep_ratio", "trace_overhead.rows_per_s"}


def catalog() -> list[tuple[str, str, str]]:
    """Every per-layer metric as (name, unit, better), in report order."""
    names = [(n, u, "higher" if n in HIGHER_IS_BETTER else "lower") for n, u in _layer_names()]
    names += [(f"trace_overhead.{n}", u, "higher" if b == "higher" else "lower")
              for n, u, b in END_TO_END]
    return names


def _layer_names() -> list[tuple[str, str]]:
    names = [
        ("session.get_spark_s", "s"),  # → setup_s
        ("memory.peak_rss_mb", "MB"),  # driver JVM plus Python driver, peak
    ]
    names += [(m, u) for m, u, _ in SPAN_METRICS]
    names += [
        ("scheduler.empty_task_share", "share"),
        ("scheduler.driver_share", "share"),  # op time with no Spark job running
        ("python_worker.time_share", "share"),  # of executor run time
    ]
    # Daily pipeline (backfill) → op_s_p50.
    names += [(f"plans.pipeline.stage_share.{s}", "share") for s in PIPELINE_STAGES]
    names += [
        ("plans.pipeline.jobs", "count"),
        ("sources.load_probe_jobs", "count"),
        ("sources.write_share", "share"),
        ("sources.files_written", "count"),
        ("sources.partition_files_after_rerun", "count"),
        ("sources.rerun_over_first", "ratio"),
        ("operators.normalize.keep_ratio", "ratio"),
    ]
    # Streaming drives (stream_replay) → op_s_p50.
    for d in STREAM_DRIVES.values():
        names += [
            (f"streaming.{d}.batches", "count"),
            (f"streaming.{d}.input_rows", "count"),
            (f"streaming.{d}.trigger_over_op", "ratio"),
        ]
        names += [(f"streaming.{d}.{p}_share", "share") for p in STREAM_PHASES]
        names += [
            (f"streaming.{d}.state.rows_total", "count"),
            (f"streaming.{d}.state.memory_bytes", "bytes"),
            (f"streaming.{d}.state.commit_share", "share"),
        ]
    return names


def _sum_windows(windows, log, queries) -> dict:
    total: dict = {}
    for start, end in windows:
        for k, v in tracing.span_layers(
            {"start_ms": start, "end_ms": end}, log, queries
        ).items():
            total[k] = total.get(k, 0.0) + v
    return total


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def per_layer(
    workload: str, run, log: dict, records: dict, get_spark_s: float, peak_rss_mb: float
) -> dict:
    queries = records.get("queries", [])
    ops = run.ops
    n = len(ops)
    totals = [_sum_windows(op["windows"], log, queries) for op in ops]

    def op_sum(key: str) -> float:
        return sum(t.get(key, 0.0) for t in totals)

    values = {"session.get_spark_s": get_spark_s, "memory.peak_rss_mb": peak_rss_mb}
    for metric, _, key in SPAN_METRICS:
        values[metric] = op_sum(key) / n
    values["scheduler.empty_task_share"] = _ratio(op_sum("empty_tasks"), op_sum("tasks"))
    values["scheduler.driver_share"] = _ratio(op_sum("driver_ms"), op_sum("wall_ms"))
    values["python_worker.time_share"] = _ratio(op_sum("python_time_ms"), op_sum("run_ms"))

    if workload == "backfill":
        stage_s = {s: 0.0 for s in PIPELINE_STAGES}
        for rec in records.get("stages", []):
            if any(
                start <= rec["end_ms"] <= end for op in ops for start, end in op["windows"]
            ):
                stage_s[rec["stage"]] += rec["seconds"]
        busy_s = sum(op["seconds"] for op in ops)
        for s in PIPELINE_STAGES:
            values[f"plans.pipeline.stage_share.{s}"] = _ratio(stage_s[s], busy_s)
        values["plans.pipeline.jobs"] = op_sum("jobs") / n
        values["sources.load_probe_jobs"] = op_sum("load_probe_jobs") / n
        values["sources.write_share"] = _ratio(op_sum("write_command_ms"), op_sum("wall_ms"))
        values["sources.files_written"] = run.extra.get("files_written", 0)
        values["sources.partition_files_after_rerun"] = run.extra.get(
            "partition_files_after_rerun", 0
        )
        first = [op["seconds"] for op in ops if op["kind"] == "first"]
        rerun = [op["seconds"] for op in ops if op["kind"] == "rerun"]
        if first and rerun:
            values["sources.rerun_over_first"] = statistics.median(rerun) / statistics.median(first)
        values["operators.normalize.keep_ratio"] = run.extra.get("keep_ratio", 0.0)

    if workload == "stream_replay":
        op_ms = sum(op["seconds"] for op in ops) * 1000
        for name, drive in STREAM_DRIVES.items():
            batches = [
                p for p in records.get("progress", [])
                if p.get("name") == name and p.get("numInputRows", 0) > 0
                and any(
                    start <= tracing.progress_start_ms(p) <= end
                    for op in ops for start, end in op["windows"]
                )
            ]
            trigger = sum(p["durationMs"].get("triggerExecution", 0) for p in batches)
            pre = f"streaming.{drive}"
            values[f"{pre}.batches"] = len(batches) / n
            values[f"{pre}.input_rows"] = _ratio(
                sum(p["numInputRows"] for p in batches), len(batches)
            )
            values[f"{pre}.trigger_over_op"] = _ratio(trigger, op_ms)
            for short, key in tracing.STREAM_PHASES:
                values[f"{pre}.{short}_share"] = _ratio(
                    sum(p["durationMs"].get(key, 0) for p in batches), trigger
                )
            state = [s for p in batches for s in p.get("stateOperators", [])[:1]]
            if state:
                values[f"{pre}.state.rows_total"] = state[-1].get("numRowsTotal", 0)
                values[f"{pre}.state.memory_bytes"] = state[-1].get("memoryUsedBytes", 0)
                values[f"{pre}.state.commit_share"] = _ratio(
                    sum(s.get("commitTimeMs", 0) for s in state), trigger
                )

    return {
        name: {"value": float(values.get(name, 0.0)), "unit": unit}
        for name, unit in _layer_names()
    }
