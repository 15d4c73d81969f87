"""Watermark LATENESS semantics, pinned end-to-end.

Every other streaming entry drains well-ordered batches, so the
watermark only ever *advances* state eviction — nothing ever arrives
late. This module stages a drain that FORCES the late-data path:

  batch 1: the feed's first two days (on time),
  batch 2: day 3 (advances the watermark past day 1 for LATE
           filtering — see the lag note below),
  batch 3: byte-identical RE-DELIVERIES of every day-1 row, plus the
           far-future heartbeat that flushes remaining windows.

Watermark LAG subtlety this staging encodes (Spark 3.4+ splits the
two predicates): late-event FILTERING in batch N uses the watermark
from batch N−1, while state EVICTION uses the one updated from batch
N's own data. A replay arriving in the very next batch after its
window expired is therefore still ACCEPTED (filter wm lags one
batch) — measured here: day-1 counts doubled when the replay rode
batch 2. Day 3 goes in between, so by batch 3 the late-filter
watermark (max day-3 ts − 1 h) is past the day-1 window end and
every re-delivered row must drop; the append-mode output then equals
the plain batch per-day count, and a single accepted duplicate
breaks the oracle hash. This is the semantics a 100 TB ingest relies
on when an upstream replays a partition: lateness bounds state AND
deduplicates replays older than the delay, for free.

Round 9: the replay and the heartbeat share batch 3 — the replay's
DROP decision uses batch 2's watermark either way (the lag), the
heartbeat only raises batch 3's own end-of-batch watermark for
eviction, and the trailing no-data micro-batch still delivers the
flush, so the co-delivery changes nothing under test while removing
one full trigger cycle from every drain (measured ~20% of drain
wall-clock; output bit-identical at sf0.1).

(Contrast: streaming_ingest_dedup / streaming_dedup_watermark drop
replays via EXPLICIT keyed state; this entry pins the implicit
window-eviction rule itself.)
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.streaming.state import drain, stage_file


def windowed_counts_stream(
    spark: SparkSession,
    staged_dir: str,
    schema,
) -> DataFrame:
    """Per-(day window, event_type) counts with a 1-hour watermark delay.

    NO pre-aggregation heartbeat filter: Catalyst pushes any filter
    below the EventTimeWatermark node into the parquet scan, so a
    filtered heartbeat would never reach the event-time tracker and
    the watermark would stall (measured: day-3 windows never flushed).
    The heartbeat instead joins the aggregation as its own far-future
    window group — which append mode can never emit, because the
    final watermark (heartbeat ts − 1 hour) never passes that window's
    end. State holds one extra row; output holds none."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged_dir)
        .withWatermark("ts", "1 hour")
    )
    return stream.groupBy(
        F.window("ts", "1 day").alias("w"), F.col("event_type")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))


def run_late_data_drain(
    spark: SparkSession,
    staged_dir: str,
    schema,
    out_path: str,
    checkpoint_path: str,
) -> None:
    """Append-mode drain of the staged 3-batch sequence, with the
    state-store width pinned by ``streaming.state.state_partitions``."""
    drain(
        spark,
        windowed_counts_stream(spark, staged_dir, schema)
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append"),
        partitions=2,
    )


def stage_late_replay(
    spark: SparkSession, ev: DataFrame, day0, work: str
) -> str:
    """Write the 3-file drain layout described in the module docstring
    into ``work`` and return the staged source dir. ``ev`` must be the
    normalized events slice for days 1-3 of the feed; ``day0`` the
    feed's first day boundary (a datetime)."""
    from taxi_trips_etl_spark.dataprep.materialize import materialize

    # each stage_file() below is its own write job; without this the
    # slice's scan+normalize+filter re-runs once per staged file (3×)
    ev = materialize(ev, eager=True)
    src = f"{work}/src"
    d0 = day0.strftime("%Y-%m-%d %H:%M:%S")
    b1 = ev.filter(F.col("ts") < F.expr(f"TIMESTAMP '{d0}' + INTERVAL 2 DAYS"))
    b2 = ev.filter(
        (F.col("ts") >= F.expr(f"TIMESTAMP '{d0}' + INTERVAL 2 DAYS"))
        & (F.col("ts") < F.expr(f"TIMESTAMP '{d0}' + INTERVAL 3 DAYS"))
    )
    late_dupes = ev.filter(
        F.col("ts") < F.expr(f"TIMESTAMP '{d0}' + INTERVAL 1 DAY")
    )
    heartbeat = spark.sql(
        f"""
        SELECT CAST(-1 AS BIGINT) AS event_id,
               TIMESTAMP '{d0}' + INTERVAL 60 DAYS AS ts,
               CAST(-1 AS BIGINT) AS user_id,
               'click' AS event_type,
               CAST(0.0 AS DOUBLE) AS value,
               CAST(NULL AS STRING) AS props
        """
    ).select(*[f.name for f in ev.schema.fields])
    t0 = os.stat(stage_file(b1, src, "a_ontime")).st_mtime
    b = stage_file(b2, src, "b_day3")
    c = stage_file(
        late_dupes.unionByName(heartbeat), src, "c_late_and_heartbeat"
    )
    os.utime(b, (t0 + 60, t0 + 60))
    os.utime(c, (t0 + 120, t0 + 120))
    return src
