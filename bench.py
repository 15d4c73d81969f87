"""Benchmark harness: every registered query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit":
"sec", "queries": {name: sec, ...}, "sf": ...}.

Execution is forced through the noop sink (full computation, no
driver-side collect skew). Each query is timed wall-clock, best of 3
(sub-second queries skip re-runs; warm-sample spread recorded), after
a per-session warm-up query (JVM/codegen warm). A full-registry
run fans the registry out over fresh-JVM worker subprocesses (~36
queries each) so late queries never pay earlier queries' accumulated
heap — per-query numbers are position-independent and comparable to
isolated runs (see run_chunked).

Usage: python bench.py [--sf-dir DIR] [--queries a,b,c]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.harness import force, scrub, warm_up  # noqa: E402

# A chunk re-runs once when some query's warm-sample spread exceeds this
# multiple of its best time (see run_chunked).
RETRY_SPREAD = 1.0


def _chunk_timeout() -> int:
    """SPARK_GRAFT_BENCH_CHUNK_TIMEOUT, validated: a malformed value
    ('1h', '') must fail with a message naming the env var, not an
    opaque ValueError mid-bench (ADVICE r8)."""
    raw = os.environ.get("SPARK_GRAFT_BENCH_CHUNK_TIMEOUT", "3600")
    try:
        val = int(raw)
    except ValueError:
        val = 0  # fall through to the shared message below
    if val <= 0:
        raise SystemExit(
            f"SPARK_GRAFT_BENCH_CHUNK_TIMEOUT must be a positive integer "
            f"number of seconds, got {raw!r}"
        )
    return val


def main() -> None:
    parser = argparse.ArgumentParser()
    parser.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    parser.add_argument("--queries", default=None, help="comma-separated subset")
    parser.add_argument(
        "--no-summary",
        action="store_true",
        help="never write bench_summary.json (ad-hoc full runs)",
    )
    args = parser.parse_args()

    from taxi_trips_etl_spark.queries import all_queries

    qs = all_queries()
    if args.queries is None:
        # Full-registry run → orchestrate chunked WORKER SUBPROCESSES,
        # each with a fresh JVM. Round 6 proved in-suite per-query
        # numbers drift with position even with per-query scrub():
        # pca_power_projection measured 7.25 s as entry ~190 of a
        # 291-query single-JVM session vs 2.15 s isolated — the late
        # queries pay the session's accumulated heap (codegen cache,
        # block-manager remnants, py4j object graveyard) in GC. Chunks
        # of ~36 bound the accumulation so every number is comparable
        # to an isolated run and round-over-round diffs measure the
        # PLAN, not the query's position in the suite. JVM startup
        # (~8 s × 9 chunks) is orchestration overhead, never timed.
        run_chunked(list(qs), args.sf_dir, no_summary=args.no_summary)
        return

    subset = args.queries.split(",")
    qs = {k: qs[k] for k in subset}

    from taxi_trips_etl_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_up(spark, args.sf_dir)

    # Best-of-3 per query: this box is a shared VM with noisy
    # neighbors — identical runs vary up to 3× on the heavier queries
    # (round 7: builder 319.3s vs driver 373.9s on identical code, 17%
    # pure environment noise that nearly produced false regression
    # findings two rounds running). The min of three executions is the
    # standard way to measure the plan, not the neighbor's GC pause,
    # and the recorded per-query SPREAD (max−min over the samples)
    # makes the noise visible in the artifact instead of smelling like
    # a regression. Sub-second queries skip the re-runs (noise there is
    # bounded by the 1s they already measured), keeping total harness
    # time ~1.6× a single pass. scrub() between queries keeps each
    # measurement independent of its position (tools/harness.py).
    samples: dict[str, list[float]] = {name: [] for name in qs}
    for attempt in range(3):
        for name, fn in qs.items():
            if attempt >= 1 and min(samples[name]) < 1.0:
                continue
            t0 = time.monotonic()
            force(fn(spark, args.sf_dir))
            samples[name].append(round(time.monotonic() - t0, 3))
            scrub(spark)

    sc = spark.sparkContext
    parallelism = {
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
    }

    timings = {n: min(s) for n, s in samples.items()}
    # Spread over WARM samples only (drop sample 0): the first execution
    # pays codegen/footer-cache warm-up, which is startup cost, not
    # environment noise — including it would overstate the variance the
    # field exists to quantify.
    spreads = {
        n: round(max(s[1:]) - min(s[1:]), 3)
        for n, s in samples.items()
        if len(s) > 2
    }
    emit(timings, spreads, args.sf_dir, full_run=False, parallelism=parallelism)


def run_chunked(
    names: list[str], sf_dir: str, chunk: int = 36, no_summary: bool = False
) -> None:
    """Fresh-JVM worker subprocess per ``chunk`` queries; merge timings."""
    import subprocess

    def run_worker(part: list[str], lo: int) -> dict:
        try:
            proc = subprocess.run(
                [
                    sys.executable,
                    os.path.abspath(__file__),
                    "--sf-dir",
                    sf_dir,
                    "--queries",
                    ",".join(part),
                ],
                capture_output=True,
                text=True,
                # One hung query must not stall the whole bench: a
                # 36-query chunk at sf0.1 runs in ~60s, so the default
                # hour is pathology, not load. Larger sf dirs scale past
                # it (SCALE.md: the FastSS pair alone is ~460s best-of-3
                # at sf1) — override via SPARK_GRAFT_BENCH_CHUNK_TIMEOUT.
                timeout=_chunk_timeout(),
            )
        except subprocess.TimeoutExpired as exc:
            raise RuntimeError(
                f"bench worker timed out on chunk {lo}..{lo + len(part)}: "
                f"{part} (raise SPARK_GRAFT_BENCH_CHUNK_TIMEOUT for large "
                f"sf dirs)"
            ) from exc
        # The payload is marked (full_map) and printed before the compact
        # trailer; scan in reverse and json-parse rather than trusting
        # "first line starting with '{'" — Spark/py4j can emit JSON-ish
        # noise on stdout that would poison the merge.
        for ln in reversed(proc.stdout.splitlines()):
            try:
                cand = json.loads(ln)
            except ValueError:
                continue
            if isinstance(cand, dict) and cand.get("full_map") and "queries" in cand:
                if proc.returncode == 0:
                    return cand
                break
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError(
            f"bench worker failed for chunk {lo}..{lo + len(part)}"
        )

    # Steal-burst retry (round 9): this box is a shared VM and host CPU
    # steal arrives in bursts that outlast best-of-3 WITHIN a worker —
    # three same-code full runs in one session read 332/370/405s, with
    # historically sub-second entries at 5-11s ± 4-7 exactly while their
    # chunk's window was stolen. A burst is self-evident in the chunk's
    # own samples: some query's (max−min over warm samples) exceeds its
    # best time outright. When that happens, re-run the chunk ONCE and
    # keep each query's faster measurement (min over more samples —
    # the same estimator best-of-3 already is, so this measures the
    # plan, not the neighbor). A real regression survives the retry:
    # both runs measure it, the min converges to the true new cost, and
    # the per-query spread stays in the artifact (max over both runs'
    # spreads, so the observed burst variance is never hidden). Bounded:
    # ≤ 2× wall time, only when the evidence triggers (RETRY_SPREAD).

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    chunks_retried: list[str] = []
    parallelism: dict | None = None
    for lo in range(0, len(names), chunk):
        part = names[lo : lo + chunk]
        payload = run_worker(part, lo)
        if parallelism is None:
            parallelism = payload.get("parallelism")
        t, s = payload["queries"], payload.get("spread", {})
        churned = any(
            s[n] > RETRY_SPREAD * t[n] for n in s if t.get(n, 0) > 0
        )
        if churned:
            sys.stderr.write(
                f"bench: chunk {lo}..{lo + len(part)} saw rel spread > "
                f"{RETRY_SPREAD} (steal burst); re-running once\n"
            )
            chunks_retried.append(f"{lo}..{lo + len(part)}")
            p2 = run_worker(part, lo)
            t2, s2 = p2["queries"], p2.get("spread", {})
            for n in part:
                if t2.get(n, float("inf")) < t.get(n, float("inf")):
                    t[n] = t2[n]
                # Spread: max over both runs' observations (ADVICE r9 —
                # keeping only the winner's spread, or popping it when
                # the faster re-run sampled sub-second, would hide the
                # burst variance this field exists to surface).
                if n in s2:
                    s[n] = max(s.get(n, 0.0), s2[n])
        timings.update(t)
        spreads.update(s)
    timings = {n: timings[n] for n in names}
    emit(
        timings,
        spreads,
        sf_dir,
        full_run=True,
        # Steal-burst guard provenance travels IN the artifact (VERDICT
        # r9 #2): threshold that was active plus which chunks re-ran, so
        # a round-over-round diff can see whether a reading was guarded.
        retry_meta={
            "retry_spread_threshold": RETRY_SPREAD,
            "chunks_retried": chunks_retried,
        },
        parallelism=parallelism,
        no_summary=no_summary,
    )


def emit(
    timings: dict[str, float],
    spreads: dict[str, float],
    sf_dir: str,
    full_run: bool,
    retry_meta: dict | None = None,
    parallelism: dict | None = None,
    no_summary: bool = False,
) -> None:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    # Environment-noise summary (VERDICT r7 #3): per-query spread =
    # max−min over the best-of-3 samples (re-run queries only); the
    # relative spread quantiles say how trustworthy a round-over-round
    # per-query diff is before anyone calls it a regression.
    rel = sorted(
        spreads[n] / timings[n] for n in spreads if timings[n] > 0
    )
    variance = {
        "n_multi_sampled": len(rel),
        "median_rel_spread": round(rel[len(rel) // 2], 3) if rel else None,
        "p90_rel_spread": round(rel[int(len(rel) * 0.9)], 3) if rel else None,
        "max_rel_spread": round(rel[-1], 3) if rel else None,
    }
    payload = {
        "metric": "total wall-clock, all registered queries, best of 3 runs (noop sink)",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "variance": variance,
        "sf": sf,
        "full_map": True,
    }
    if retry_meta is not None:
        payload["retry"] = retry_meta
    # Effective-parallelism provenance (VERDICT r13 #2): the driver's
    # 8-vs-32-core scaling probe read ratio ≈ 1 across the board and
    # the artifact carried nothing to attribute it — the contract
    # (master local[$SPARK_GRAFT_CPUS], session.py) is honored in code,
    # but "honored and overhead-bound at sf0.1" was indistinguishable
    # from "env ignored". Record what the timing sessions actually ran
    # with so an ≈1 ratio is attributable from the artifact alone.
    if parallelism is not None:
        payload["parallelism"] = parallelism
    print(json.dumps(payload))
    # The driver records only the TAIL of stdout; with 175+ queries the
    # full line above overflows that window and arrives unparseable
    # (BENCH_r04.json: parsed=null). Emit a compact line LAST — same
    # contract, `queries` trimmed to the slowest 25 (the ones worth
    # reading in a bench artifact) — so whatever captures the tail gets
    # valid JSON; the complete per-query map lives in the line above
    # and in bench_summary.json.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:25]
    )
    compact = {**payload, "queries": slowest,
               "spread": {n: spreads[n] for n in slowest if n in spreads},
               "queries_total": len(timings),
               "queries_shown": "slowest 25; full map in bench_summary.json"}
    del compact["full_map"]  # reverse-scan marker belongs to the full line only
    print(json.dumps(compact))
    # Compact, always-parseable artifact for round-over-round diffs —
    # the driver's stdout capture can truncate the line above. Subset
    # runs (--queries) are ad-hoc measurements; only a full-registry run
    # may replace the committed summary — and only one at the machine's
    # full core width (VERDICT r13 #3: the driver's 8-core scaling probe
    # is a full-registry run too, and it kept clobbering the committed
    # canonical summary with non-comparable low-core numbers). A run
    # with SPARK_GRAFT_CPUS set below the hardware width still prints
    # both JSON lines (the probe's own artifact); it just doesn't
    # replace the canonical file. --no-summary opts any run out. A
    # skipped write names its reason on stderr.
    if not full_run:
        return
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
    skip = None
    if no_summary:
        skip = "--no-summary"
    elif cpus_env is not None and cpus_env != str(os.cpu_count()):
        skip = (
            f"SPARK_GRAFT_CPUS={cpus_env} differs from "
            f"os.cpu_count()={os.cpu_count()}"
        )
    if skip:
        sys.stderr.write(f"bench: bench_summary.json not written ({skip})\n")
        return
    summary_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_summary.json"
    )
    with open(summary_path, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
