"""Airflow DAG shim — orchestration parity with the reference DAG.

Mirrors /root/reference/taxi_trips_etl.py:192-238: a daily-05:00 DAG of
``storage_to_bq >> normalization >> enrichment >> final_result`` with
``retries=1``, 3-minute retry delay, ``depends_on_past=True`` and a
120-minute task timeout — except each stage is a plain Python callable
over Spark + parquet staging dirs instead of a BigQuery job. Airflow is
NOT a dependency of the engine: the callables run standalone (pytest
drives them exactly as Airflow would), and :func:`build_dag` wires the
operators only when ``airflow`` is importable — the module always
imports cleanly without it.

Stage handoff follows the reference's temp-table discipline
(taxi_trips_etl.py:100-112,141): every stage materializes its output
as parquet under ``work_dir`` and DROPS its input staging dir
afterwards, so each task is independently retryable (Airflow's retry
unit is the task — lazy cross-stage lineage would re-run everything
from the scan). This is the per-stage ``out_path`` staging variant of
the flagship pipeline; the single-process variant with lazy lineage
lives in :mod:`taxi_trips_etl_spark.plans.pipeline`.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import SparkSession

SCHEDULE = "00 05 * * *"  # taxi_trips_etl.py:195
DEFAULT_ARGS = {
    # taxi_trips_etl.py:10-22 default_args, minus BigQuery specifics.
    "retries": 1,
    "retry_delay_minutes": 3,
    "depends_on_past": True,
    "execution_timeout_minutes": 120,
}


def _stage_dir(work_dir: str, name: str) -> str:
    return os.path.join(work_dir, name)


def _drop(path: str) -> None:
    """DROP TABLE analogue (taxi_trips_etl.py:112,141): never raises."""
    shutil.rmtree(path, ignore_errors=True)


def storage_to_bq(spark: SparkSession, sf_dir: str, work_dir: str, **_: object) -> bool:
    """Stage 1 (ShortCircuit semantics, taxi_trips_etl.py:199-207):
    load the day's input into the staging table; False skips the DAG."""
    from taxi_trips_etl_spark.sources.taxi_testdata import load_trips

    trips = load_trips(spark, sf_dir)
    if trips is None:
        return False
    trips.write.mode("overwrite").parquet(_stage_dir(work_dir, "temp_trips"))
    return True


def normalization(spark: SparkSession, work_dir: str, **_: object) -> None:
    """Stage 2 (taxi_trips_etl.py:96-114): filter bad rows into
    normalized_trips, then drop the staging table."""
    from taxi_trips_etl_spark.operators.normalize import normalize_trips

    src = _stage_dir(work_dir, "temp_trips")
    if not os.path.exists(src):  # existence gate (taxi_trips_etl.py:99)
        return
    normalize_trips(spark.read.parquet(src)).write.mode("overwrite").parquet(
        _stage_dir(work_dir, "normalized_trips")
    )
    _drop(src)


def enrichment(spark: SparkSession, work_dir: str, ds: str, **_: object) -> None:
    """Stage 3 (taxi_trips_etl.py:117-143): geo/hex enrichment into the
    per-day table, then drop normalized_trips."""
    from taxi_trips_etl_spark.operators.enrich import enrich_trips
    from taxi_trips_etl_spark.sources.taxi_testdata import zone_dim

    src = _stage_dir(work_dir, "normalized_trips")
    if not os.path.exists(src):
        return
    enrich_trips(spark.read.parquet(src), zone_dim(spark)).write.mode(
        "overwrite"
    ).parquet(_stage_dir(work_dir, f"trips_{ds.replace('-', '')}"))
    _drop(src)


def final_result(spark: SparkSession, work_dir: str, ds: str, **_: object) -> None:
    """Stage 4 (taxi_trips_etl.py:149-190): the most-populars query into
    the per-day result table."""
    from taxi_trips_etl_spark.operators.popularity import most_populars

    day = ds.replace("-", "")
    src = _stage_dir(work_dir, f"trips_{day}")
    if not os.path.exists(src):
        return
    most_populars(spark.read.parquet(src)).write.mode("overwrite").parquet(
        _stage_dir(work_dir, f"most_populars_{day}")
    )


def build_dag(sf_dir: str, work_dir: str, spark_factory=None):
    """Construct the Airflow DAG (taxi_trips_etl.py:192-238 shape).

    Requires airflow at call time only. ``spark_factory`` defaults to
    the engine session factory; inject a configured one in production.
    """
    import datetime

    from airflow import DAG  # deliberate call-time import
    from airflow.operators.python import PythonOperator, ShortCircuitOperator

    if spark_factory is None:
        from taxi_trips_etl_spark.session import get_spark as spark_factory

    def call(fn):
        def inner(**kwargs):  # provide_context parity (taxi_trips_etl.py:21)
            return fn(
                spark_factory(),
                sf_dir=sf_dir,
                work_dir=work_dir,
                ds=kwargs.get("ds", ""),
            )

        return inner

    dag = DAG(
        "taxi_trips_etl_spark",
        schedule=SCHEDULE,
        start_date=datetime.datetime(2026, 1, 1),
        catchup=False,  # taxi_trips_etl.py:196
        default_args={
            "retries": DEFAULT_ARGS["retries"],
            "retry_delay": datetime.timedelta(
                minutes=DEFAULT_ARGS["retry_delay_minutes"]
            ),
            "depends_on_past": DEFAULT_ARGS["depends_on_past"],
            "execution_timeout": datetime.timedelta(
                minutes=DEFAULT_ARGS["execution_timeout_minutes"]
            ),
        },
    )
    with dag:
        t1 = ShortCircuitOperator(
            task_id="storage_to_bq", python_callable=call(storage_to_bq)
        )
        t2 = PythonOperator(
            task_id="normalization", python_callable=call(normalization)
        )
        t3 = PythonOperator(task_id="enrichment", python_callable=call(enrichment))
        t4 = PythonOperator(task_id="final_result", python_callable=call(final_result))
        t1 >> t2 >> t3 >> t4  # taxi_trips_etl.py:238
    return dag
