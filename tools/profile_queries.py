"""Per-query profiling for the optimization rounds (guide §1).

For every registered query (or a subset), records:

- wall seconds for the noop-sink execution (same methodology as
  bench.py, single sample — use bench.py for scored numbers);
- number of Spark JOBS the query launched (actions: each driver-side
  collect/count/probe and each checkpoint-filling action is one job —
  the per-round scheduling overhead of iterative operators shows up
  here, invisible in the plan);
- number of Exchange nodes in the final lazy plan (shuffle boundaries
  of the LAST plan only — iterative operators' earlier rounds don't
  appear, which is what the jobs column is for);
- Python-eval nodes (BatchEvalPython/ArrowEvalPython/MapInPandas/
  PythonMapInArrow etc.) in the final plan;
- parquet scan count (same substring rule as tools/explain_audit.py).

Usage: python tools/profile_queries.py [--sf-dir DIR] [--queries a,b]
       [--out FILE]

Output: one JSON object per line per query to --out (default
/tmp/profile_queries.jsonl), plus a sorted-by-jobs summary on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.explain_audit import plan_of  # noqa: E402
from tools.harness import force, scrub, warm_up  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
    )
    ap.add_argument("--queries", default=None)
    ap.add_argument("--out", default="/tmp/profile_queries.jsonl")
    args = ap.parse_args()

    from taxi_trips_etl_spark.queries import all_queries
    from taxi_trips_etl_spark.session import get_spark

    qs = all_queries()
    if args.queries:
        qs = {k: qs[k] for k in args.queries.split(",")}

    spark = get_spark(app_name="profile")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    warm_up(spark, args.sf_dir)

    rows = []
    with open(args.out, "w") as fh:
        for name, fn in qs.items():
            scrub(spark)
            group = f"profile-{name}"
            sc.setJobGroup(group, name)
            t0 = time.monotonic()
            df = fn(spark, args.sf_dir)
            build_s = time.monotonic() - t0
            t1 = time.monotonic()
            force(df)
            exec_s = time.monotonic() - t1
            sc.setJobGroup("profile-idle", "idle")
            tracker = sc.statusTracker()
            jobs = len(tracker.getJobIdsForGroup(group))
            try:
                plan = plan_of(df)
            except Exception as exc:  # plan render must never kill the sweep
                plan = f"PLAN-ERROR: {exc}"
            rec = {
                "name": name,
                "sec": round(build_s + exec_s, 3),
                "build_sec": round(build_s, 3),
                "exec_sec": round(exec_s, 3),
                "jobs": jobs,
                "exchanges": plan.count("Exchange"),
                "reused_exchanges": plan.count("ReusedExchange"),
                "py_eval": sum(
                    plan.count(n)
                    for n in (
                        "BatchEvalPython",
                        "ArrowEvalPython",
                        "MapInPandas",
                        "PythonMapInArrow",
                        "MapInArrow",
                        "FlatMapGroupsInPandas",
                    )
                ),
                "scans": plan.count(".parquet"),
                "existing_rdd": plan.count("ExistingRDD"),
            }
            rows.append(rec)
            fh.write(json.dumps(rec) + "\n")
            fh.flush()

    rows.sort(key=lambda r: (-r["jobs"], -r["sec"]))
    total = sum(r["sec"] for r in rows)
    print(f"# {len(rows)} queries, total {total:.1f}s (single-sample)")
    print(f"{'sec':>7} {'build':>6} {'jobs':>4} {'exch':>4} {'py':>3} {'name'}")
    for r in rows:
        print(
            f"{r['sec']:7.2f} {r['build_sec']:6.2f} {r['jobs']:4d} "
            f"{r['exchanges']:4d} {r['py_eval']:3d} {r['name']}"
        )


if __name__ == "__main__":
    main()
