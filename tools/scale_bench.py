"""Empirical scale validation: time queries at two data scales.

SCALE.md argues each operator's plan survives a 1000× scale-up; this
tool measures the first 10× of that claim. It runs a query subset at
a small dir (default sf0.1) and a big dir (default /tmp/sf_scaled,
built by tools/gen_scaled_testdata.py as 10 key-shifted copies of
sf0.1 — same workload shape, disjoint keys/vocab), then reports the
observed time ratio and scaling exponent log10(t_big/t_small).

Interpretation guide (local[32], single JVM):

- exponent <= ~1.0: at-most-linear — the plan's work grows with the
  data, as designed (scans, keyed shuffles, windows).
- ~1.0-1.3: linear with a log factor or a sort — expected for LSH
  banding (bucket sort), top-k, n·log n sorts.
- > 1.3: super-linear — a bug unless explained (e.g. pair-growth in a
  near-dup graph whose components genuinely grow with corpus size).

Fixed per-job overhead (~0.3-0.9 s JVM scheduling at sf0.1) deflates
exponents for sub-second queries, so the report also prints
overhead-adjusted exponents using a measured floor: the time of a
count over an already-cached 1-row DataFrame.

Usage: python tools/scale_bench.py [--small DIR] [--big DIR]
       [--factor 10] [--queries a,b,c] [--runs 2]
Prints one JSON line; also appends nothing to SCALE.md (copy results
in by hand so the narrative stays curated).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import force, scrub, warm_up  # noqa: E402

DEFAULT_QUERIES = [
    # heaviest registry entries per bench_summary.json round 4, plus two
    # scan/agg baselines expected to be cleanly linear
    "embedding_canonicalize",
    "fuzzy_match_fastss2",
    "dedup_components",
    "dedup_canonicalize",
    "dup_ngram_coverage",
    "corpus_prepare_pipeline",
    "graph_triangles",
    "embedding_kmeans",
    "dedup_ngram_jaccard",
    "winnowing_near_dup_pairs",
    "dedup_simhash_pairs",
    "dedup_minhash_lsh",
    "tpch_pricing_summary",
    "most_populars_flat",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/tmp/sf_scaled")
    ap.add_argument("--factor", type=float, default=10.0)
    ap.add_argument("--queries", default=None)
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    from taxi_trips_etl_spark.queries import all_queries
    from taxi_trips_etl_spark.session import get_spark

    spark = get_spark(app_name="scale_bench")
    spark.sparkContext.setLogLevel("ERROR")
    names = args.queries.split(",") if args.queries else DEFAULT_QUERIES
    qs = all_queries()

    # Warm-up + measure the fixed per-job floor.
    warm_up(spark, args.small)
    floor_df = spark.range(1)
    t0 = time.monotonic()
    force(floor_df)
    floor = time.monotonic() - t0

    results: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        times = {}
        for label, d in (("small", args.small), ("big", args.big)):
            best = math.inf
            for _ in range(args.runs):
                t0 = time.monotonic()
                force(fn(spark, d))
                best = min(best, time.monotonic() - t0)
                scrub(spark)
            times[label] = round(best, 3)
        ratio = times["big"] / times["small"]
        adj_small = max(times["small"] - floor, 1e-3)
        adj_big = max(times["big"] - floor, 1e-3)
        results[name] = {
            **times,
            "ratio": round(ratio, 2),
            "exponent": round(math.log(ratio) / math.log(args.factor), 2),
            "exponent_adj": round(
                math.log(adj_big / adj_small) / math.log(args.factor), 2
            ),
        }
        print(f"{name}: {json.dumps(results[name])}", file=sys.stderr)

    print(json.dumps({"floor_sec": round(floor, 3), "factor": args.factor,
                      "results": results}))


if __name__ == "__main__":
    main()
