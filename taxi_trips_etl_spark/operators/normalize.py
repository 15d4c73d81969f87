"""Stage 2 — normalization (SURVEY.md §2.2 P1/P2).

Re-expresses the packaged normalization query
(/root/reference/taxi_trips_etl_packages/queries/normalization_query.py:3-9):
keep rows where

    pickup_datetime != dropoff_datetime
    AND passenger_count != 0 AND passenger_count IS NOT NULL
    AND trip_distance  != 0 AND trip_distance  IS NOT NULL
    AND fare_amount    != 0

Two deliberate fidelity notes (SURVEY.md §2.2 warning):

- ``main.py:85-91`` in the reference contains an *inverted* version of
  this predicate (keeps the bad rows); the packaged DAG query is
  authoritative and this module implements keep-good-rows.
- The README says "bigger than 0" but the code tests ``!= 0`` — code
  wins: negative fares survive, and our oracle tests assert that.

At scale: a pure conjunctive filter on scan output — Catalyst pushes it
into the parquet reader (``PushedFilters``), so normalization costs a
scan, not a shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def normalization_predicate() -> Column:
    return (
        (F.col("pickup_datetime") != F.col("dropoff_datetime"))
        & (F.col("passenger_count") != 0)
        & F.col("passenger_count").isNotNull()
        & (F.col("trip_distance") != 0)
        & F.col("trip_distance").isNotNull()
        & (F.col("fare_amount") != 0)
    )


def normalize_trips(trips: DataFrame) -> DataFrame:
    """P1 (``SELECT *``) + P2 (conjunctive predicate)."""
    return trips.filter(normalization_predicate())


def observed_normalize_metrics(trips: DataFrame) -> dict:
    """Run the normalization filter while collecting audit counters on
    the SAME scan via the Observation API — total rows, kept,
    rejected, and per-cause null counts ride the pass that computes
    the business result, so a 100 TB quality dashboard costs zero
    extra reads (the alternative — a second aggregate over the fact
    table — doubles the scan bill).

    Returns the observed metrics dict (n_total, n_kept, n_rejected,
    n_null_passengers, n_kept_action — the last from the action
    itself, cross-checking the observed n_kept).
    """
    from pyspark.sql import Observation

    obs = Observation("normalize_metrics")
    flagged = trips.withColumn("__ok", normalization_predicate())
    observed = flagged.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("__ok").cast("long")).alias("n_kept"),
        F.sum((~F.col("__ok")).cast("long")).alias("n_rejected"),
        F.sum(
            F.col("passenger_count").isNull().cast("long")
        ).alias("n_null_passengers"),
    )
    n_kept_action = observed.filter(F.col("__ok")).count()
    m = dict(obs.get)
    m["n_kept_action"] = n_kept_action
    return m
