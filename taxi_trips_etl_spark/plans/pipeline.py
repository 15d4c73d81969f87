"""Pipeline runner — orchestration parity (SURVEY.md §2.11, O1-O6).

Re-expresses the reference's Airflow DAG control flow
(/root/reference/taxi_trips_etl.py:192-238) with zero Airflow
dependency — the DAG can still schedule it by calling :func:`run` /
``python -m taxi_trips_etl_spark.plans.pipeline --ds YYYY-MM-DD``
(the reference's ``main.py:186-193`` backfill path, O6):

- O1 linear stage chain (``storage_to_bq >> normalization >>
  enrichment >> final_result``, taxi_trips_etl.py:238);
- O2 short-circuit on empty input (ShortCircuitOperator,
  taxi_trips_etl.py:84-85,199-207) — a stage returning ``None``
  stops the pipeline;
- O3 existence-gated stages (taxi_trips_etl.py:88-93,99,128,178);
- O4 one retry per stage (``retries=1``, taxi_trips_etl.py:17-18);
- O5 per-run plan logging (taxi_trips_etl.py:98,126) — the returned
  lazy result's ``explain()`` shows the physical plan instead of
  rendered SQL.

Unlike the reference (4 separate BigQuery jobs with materialized temp
tables dropped between stages, taxi_trips_etl.py:112,141), stages here
hand each other *lazy DataFrames*: Catalyst sees the whole lineage and
optimizes across stage boundaries; only declared outputs materialize.
"""

from __future__ import annotations

import argparse
import logging
import time
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

log = logging.getLogger(__name__)

RETRIES = 1  # reference default_args retries=1 (taxi_trips_etl.py:17)


@dataclass
class Stage:
    name: str
    fn: Callable[..., Any]  # (ctx) -> DataFrame | None; None short-circuits


@dataclass
class Pipeline:
    stages: list[Stage] = field(default_factory=list)

    def add(self, name: str, fn: Callable[..., Any]) -> "Pipeline":
        self.stages.append(Stage(name, fn))
        return self

    def run(self, ctx: dict[str, Any]) -> dict[str, Any]:
        """Run stages in order; a stage returning None short-circuits (O2)."""
        for stage in self.stages:
            attempt = 0
            while True:
                try:
                    t0 = time.monotonic()
                    ctx[stage.name] = stage.fn(ctx)
                    log.info("stage %s ok in %.2fs", stage.name, time.monotonic() - t0)
                    break
                except Exception:
                    attempt += 1
                    if attempt > RETRIES:
                        raise
                    log.exception("stage %s failed; retry %d", stage.name, attempt)
            if ctx[stage.name] is None:
                log.info("stage %s returned None → short-circuit", stage.name)
                break
        return ctx


def run_taxi_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_path: str | None = None,
    ds: str = "2026-01-01",
) -> DataFrame | None:
    """The full 4-stage flagship pipeline over driver testdata.

    storage_to_bq → normalization → enrichment → final_result
    (taxi_trips_etl.py:238), returning the most-populars DataFrame.

    r13 optimization: the enriched stage used to fan out into THREE
    popularity aggregations, which motivated an auto-persist of the
    whole enriched fact table past an input-size threshold. The
    popularity stage now makes ONE pass (the route-grain count is
    materialized inside ``most_populars`` — operators/popularity
    .route_counts), so the enriched stage has a single consumer and
    persisting it would be pure memory pressure at every scale (guide
    §5: cache only reused intermediates). The former
    ``cache_enriched``/``auto_cache_threshold_bytes`` knobs are gone
    with the fan-out they compensated for.

    Plan building runs neither an ``isEmpty`` probe nor a collect of
    the zone dedup: ``load`` takes the input's schema and emptiness
    from parquet footers on the driver (``sources/taxi_testdata
    .read_lineitem``), and ``enrich`` rank-dedups the zone dim on the
    driver from the in-plan rows it indexes there anyway
    (``operators/enrich.dedup_zones``). The only jobs it books are the
    two that fill the route-count checkpoint (AQE runs the aggregate's
    query stages when the checkpoint's RDD is built). With
    ``out_path`` a warm day runs five jobs: those two, the two
    rank-side broadcasts and the partitioned write
    (``tests/test_taxi_pipeline.py``). No stage starts a Python worker.
    """
    from taxi_trips_etl_spark.operators import (
        enrich_trips,
        most_populars,
        normalize_trips,
    )
    from taxi_trips_etl_spark.sources.taxi_testdata import load_trips, zone_dim
    from taxi_trips_etl_spark.sources.writers import write_partitioned_by_run_date

    def load(ctx: dict[str, Any]):
        return load_trips(spark, sf_dir)

    def normalize(ctx: dict[str, Any]):
        return normalize_trips(ctx["load"])

    def enrich(ctx: dict[str, Any]):
        # Single consumer: most_populars makes ONE pass over this
        # DataFrame (the route-grain count inside it is the
        # materialization point), so no persist here.
        return enrich_trips(ctx["normalize"], zone_dim(spark))

    def final(ctx: dict[str, Any]):
        result = most_populars(ctx["enrich"])
        if out_path:
            write_partitioned_by_run_date(result, out_path, ds)
        return result

    ctx = (
        Pipeline()
        .add("load", load)
        .add("normalize", normalize)
        .add("enrich", enrich)
        .add("final", final)
        .run({"ds": ds})
    )
    return ctx.get("final")


def main() -> None:
    parser = argparse.ArgumentParser(description="taxi pipeline backfill (O6)")
    parser.add_argument("--ds", default="2026-01-01")
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--out", default=None)
    args = parser.parse_args()
    from taxi_trips_etl_spark.session import get_spark

    logging.basicConfig(level=logging.INFO)
    df = run_taxi_pipeline(get_spark(), args.sf_dir, args.out, args.ds)
    if df is not None:
        df.show(20, truncate=False)


if __name__ == "__main__":
    main()
