"""Query registry: every implemented operator as (Spark builder, DuckDB oracle).

This is the single source of truth consumed by ``__spark_entry__.py``
(driver contract), ``bench.py`` and the test suite. Each entry maps a
SURVEY.md §2 operator (or a north-star dataprep operator) onto the
driver testdata tables; the oracle is ANSI-ish SQL DuckDB runs on the
same parquet.

Portability rules that keep the value-hash comparison exact:

- output columns are only BIGINT / DOUBLE / VARCHAR; timestamps are
  rendered ``yyyy-MM-dd HH:mm:ss`` strings on both sides;
- money/cent-quantized doubles are NEVER float-summed-then-rounded
  (their sums land exactly on .005 boundaries where engines' round()
  disagrees) — they are summed as exact integer cents, with averages
  produced by one IEEE division on identical operands;
- every hash is md5-hex (bit-identical in Spark and DuckDB);
- ties are either included via RANK (deterministic) or broken by an
  explicit unique key before any LIMIT.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize

from taxi_trips_etl_spark.dataprep import dedup, multimodal, similarity, text
from taxi_trips_etl_spark.functions.scalar import daypart, timestamp_diff_minutes
from taxi_trips_etl_spark.operators.normalize import normalize_trips
from taxi_trips_etl_spark.plans.models import taxi_models
from taxi_trips_etl_spark.sources.taxi_testdata import (
    N_ZONES,
    _zone_wkt,
    trips_from_lineitem,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _utc(spark: SparkSession) -> None:
    """Entry-point session pin, applied by ``register``'s wrapper to
    every driver-invoked query: timestamp rendering must agree with
    DuckDB's naive reading (UTC), and events parquet may carry
    TIMESTAMP(NANOS) (nanosAsLong). This wrapper layer — not readers —
    is the sanctioned place to mutate these session confs; readers only
    *require* them (``sources.readers.require_utc_session`` /
    ``require_nanos_as_long``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet's ``ts`` physical type has varied across testdata
    generations (TIMESTAMP(NANOS), then NTZ micros); normalize to a
    session-UTC TIMESTAMP either way — see
    :func:`~taxi_trips_etl_spark.sources.readers.normalize_event_ts`."""
    from taxi_trips_etl_spark.sources.readers import normalize_event_ts

    _utc(spark)  # idempotent entry pin (UTC + nanosAsLong)
    return normalize_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _ts_str(col: F.Column, alias: str) -> F.Column:
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss").alias(alias)


def _norm_trips(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_trips(trips_from_lineitem(_t(spark, sf_dir, "lineitem")))


# DuckDB twin of sources/taxi_testdata.trips_from_lineitem + the
# normalization predicate (normalization_query.py:3-9 semantics).
TRIPS_SQL = f"""
    SELECT
        l_shipdate + to_seconds(CAST(l_orderkey % 86400 AS BIGINT)) AS pickup_datetime,
        l_shipdate + to_seconds(CAST(l_orderkey % 86400 AS BIGINT))
            + to_minutes(CAST(l_quantity AS BIGINT)) AS dropoff_datetime,
        CAST(CASE WHEN l_orderkey % 7 = 0 THEN NULL
                  WHEN l_orderkey % 11 = 0 THEN 0
                  ELSE (l_linenumber % 5) + 1 END AS BIGINT) AS passenger_count,
        CASE WHEN l_orderkey % 13 = 0 THEN 0.0 ELSE l_quantity END AS trip_distance,
        l_extendedprice - l_tax * 1000.0 AS fare_amount,
        l_partkey % {N_ZONES} AS pickup_location_id,
        l_suppkey % {N_ZONES} AS dropoff_location_id
    FROM lineitem
"""

NORM_SQL = f"""
    SELECT * FROM ({TRIPS_SQL})
    WHERE pickup_datetime != dropoff_datetime
      AND passenger_count != 0 AND passenger_count IS NOT NULL
      AND trip_distance != 0 AND trip_distance IS NOT NULL
      AND fare_amount != 0
"""

DAYPART_SQL = """
    CASE WHEN {t} >= '06:00:00' AND {t} < '12:00:00' THEN 'Morning'
         WHEN {t} >= '12:00:00' AND {t} < '18:00:00' THEN 'Noon'
         WHEN {t} >= '18:00:00' AND {t} <= '23:59:59' THEN 'Evening'
         WHEN {t} < '06:00:00' THEN 'Night' END
"""

TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"
GRAMS_SQL = f"""
    SELECT doc_id,
           list_distinct(list_transform(
               generate_series(1, len({TOKS_SQL}) - 2),
               i -> concat_ws(' ', {TOKS_SQL}[i], {TOKS_SQL}[i+1], {TOKS_SQL}[i+2])
           )) AS grams
    FROM documents
    WHERE len({TOKS_SQL}) >= 3
"""

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}
# name → (defining module, first docstring line): provenance for the
# generated queries/INDEX.md (VERDICT r10 #4 — the batch-module names
# are opaque; the index makes an entry findable without grepping them).
_PROVENANCE: dict[str, tuple[str, str]] = {}

# Verification rotation. The driver's correctness harness checks the first
# ~50 registry entries per round, so ``all_queries``/``all_oracles`` order
# entries least-recently-verified first: by the last round whose committed
# CORRECTNESS_r{N}.json row for the name has ``hash_match`` true (0 if
# none, or if no such files sit next to the package), then by name.
# REVIEW CHECKLIST for every new mirrored-formula entry (the chi²
# double-division bug proved the shared-expression-text blind spot is
# real — a bug mirrored into both the Spark builder and the oracle SQL
# passes the hash gate): ship an independent pytest that recomputes the
# statistic from raw data in plain Python/numpy (see
# tests/test_round6p_ops.py), not by re-running either engine's SQL.
_ROOT = Path(__file__).resolve().parents[2]


def _last_green_rounds() -> dict[str, int]:
    """name → highest N whose CORRECTNESS_r{N}.json row is hash-green."""
    last: dict[str, int] = {}
    for path in _ROOT.glob("CORRECTNESS_r*.json"):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", path.name)
        if m is None:
            continue
        rnd = int(m.group(1))
        for name, row in json.loads(path.read_text()).items():
            if row.get("hash_match") is True:
                last[name] = max(last.get(name, 0), rnd)
    return last


_LAST_GREEN: dict[str, int] = _last_green_rounds()

# Names whose IMPLEMENTATION (or oracle) changed after their last driver
# check: their green rows predate the change, so the hash claim is
# stale — reset them to the front of the rotation. Add a name IN THE
# SAME COMMIT as its plan change; remove it once a CORRECTNESS file
# shows the post-change hash-green row.
_REVERIFY: frozenset[str] = frozenset()


def register(name: str, oracle: str):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            _utc(spark)
            return fn(spark, sf_dir)

        _QUERIES[name] = wrapped
        doc = (fn.__doc__ or "").strip().splitlines()
        _PROVENANCE[name] = (fn.__module__, doc[0] if doc else "")
        _ORACLES[name] = oracle
        return wrapped

    return deco


def _rotation_order() -> list[str]:
    """Registry names, least-recently-driver-verified first; ties by name."""
    return sorted(
        _QUERIES,
        key=lambda n: (0 if n in _REVERIFY else _LAST_GREEN.get(n, 0), n),
    )


def all_queries() -> dict[str, QueryFn]:
    return {n: _QUERIES[n] for n in _rotation_order()}


def all_oracles() -> dict[str, str]:
    return {n: _ORACLES[n] for n in _rotation_order()}
