"""Watermarked stream-stream LEFT OUTER join.

The inner join (stream_join.py) emits a row the moment both sides
arrive; the OUTER variant additionally emits (left, NULL) — but only
once the WATERMARK proves no matching right-side row can still
arrive. That "negative" result is the operationally interesting one
(purchases with no preceding click = unattributed conversions), and
its correctness is entirely a watermark property: emit too early and
a late click falsifies the NULL; never advance the watermark and the
NULL never emits.

The second failure mode is real in drains and quiet topics: event-time
watermarks only advance when new events arrive, so the LAST window's
unmatched rows sit in state forever. The standard production fix is a
HEARTBEAT record that pushes event time forward; the drain here
co-delivers one far-future heartbeat with the staged feed — it
matches nothing (its user_id is -1) and exists only to advance the
watermark so the trailing NULLs flush. The watermark updates at
END-of-batch, so Spark's no-data final micro-batch (on by default)
delivers the state-eviction outputs across a batch boundary before
AvailableNow terminates — the watermark proof still spans batches,
while the drain pays one trigger cycle instead of two (round 9;
output measured bit-identical, −1.1s at sf0.1).

State size: both sides keep rows within watermark delay + join range
of current event time — bounded by rate × (delay + window), never
corpus-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.streaming.state import state_partitions as _pin


def purchases_without_clicks_stream(
    spark: SparkSession,
    staged_dir: str,
    schema,
    window_hours: int = 2,
    delay: str = "1 hour",
) -> DataFrame:
    """Streaming DF: every purchase joined LEFT OUTER to the clicks
    that preceded it within ``window_hours`` (NULL click columns when
    none did). ``staged_dir`` holds NORMALIZED-timestamp parquet (the
    staging step runs normalize_event_ts before writing, so the
    file-stream schema carries a plain TIMESTAMP)."""
    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", delay)
        )

    purchases = side("purchase", "p")
    clicks = side("click", "c")
    return purchases.join(
        clicks,
        F.expr(
            f"""p_user = c_user
                AND c_ts <= p_ts
                AND c_ts >= p_ts - INTERVAL {window_hours} HOURS"""
        ),
        "left_outer",
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("p_ts").alias("purchase_ts"),
        F.col("c_id").alias("click_id"),
        F.col("c_ts").alias("click_ts"),
    )


def run_streaming_outer_attribution(
    spark: SparkSession,
    staged_dir: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    window_hours: int = 2,
    state_partitions: int = 8,
) -> None:
    """Drain the staged dir through the outer join into ``out_path``.

    Stateful streaming cost is dominated by state-store COMMITS:
    n_state_partitions × n_batches × both-sides, regardless of row
    count (measured: the same drain at 32 partitions took ~2× the
    8-partition run). State partition count is frozen from
    ``spark.sql.shuffle.partitions`` at query START, so it is set —
    and restored — around the synchronous start→awaitTermination
    bracket; nothing else can observe the temporary value because the
    whole query lifecycle completes inside it. Size it to expected
    keys-in-state, not to the batch engine's shuffle width.
    """
    with _pin(spark, state_partitions):
        q = (
            purchases_without_clicks_stream(
                spark, staged_dir, schema, window_hours
            )
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint_path)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def attribution_full_outer_stream(
    spark: SparkSession,
    staged_dir: str,
    schema,
    window_hours: int = 2,
    delay: str = "1 hour",
) -> DataFrame:
    """FULL OUTER variant of :func:`purchases_without_clicks_stream`:
    additionally emits (NULL, click) for clicks no purchase followed
    within ``window_hours`` — the abandoned-browse signal. Both
    negative emissions are watermark-proofs; state stays bounded by
    rate × (delay + window) on each side. The heartbeat pair matches
    ITSELF (both user −1, equal ts satisfy the range) — callers drop
    user −1 rows, same as the LEFT OUTER drain."""
    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", delay)
        )

    purchases = side("purchase", "p")
    clicks = side("click", "c")
    return purchases.join(
        clicks,
        F.expr(
            f"""p_user = c_user
                AND c_ts <= p_ts
                AND c_ts >= p_ts - INTERVAL {window_hours} HOURS"""
        ),
        "full_outer",
    ).select(
        F.coalesce(F.col("p_user"), F.col("c_user")).alias("user_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("p_ts").alias("purchase_ts"),
        F.col("c_id").alias("click_id"),
        F.col("c_ts").alias("click_ts"),
    )


def run_streaming_full_outer_attribution(
    spark: SparkSession,
    staged_dir: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    window_hours: int = 2,
    state_partitions: int = 2,
) -> None:
    """Drain the staged dir through the FULL OUTER join (same
    state-partition bracket as the LEFT OUTER runner)."""
    with _pin(spark, state_partitions):
        q = (
            attribution_full_outer_stream(
                spark, staged_dir, schema, window_hours
            )
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint_path)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def attributed_purchases_semi_stream(
    spark: SparkSession,
    staged_dir: str,
    schema,
    window_hours: int = 2,
    delay: str = "1 hour",
) -> DataFrame:
    """LEFT SEMI variant: each purchase emits AT MOST ONCE, as soon as
    any qualifying prior click arrives — the dedup-free "attributed
    purchases" feed (an inner join would emit one row per matching
    click; semi state discards the purchase after first emission).
    No heartbeat needed for output completeness: emission happens on
    match, not on watermark proof — the watermark only bounds state."""
    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged_dir)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("event_id").alias(f"{prefix}_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", delay)
        )

    purchases = side("purchase", "p")
    clicks = side("click", "c")
    return purchases.join(
        clicks,
        F.expr(
            f"""p_user = c_user
                AND c_ts <= p_ts
                AND c_ts >= p_ts - INTERVAL {window_hours} HOURS"""
        ),
        "left_semi",
    ).select(
        F.col("p_user").alias("user_id"),
        F.col("p_id").alias("purchase_id"),
        F.col("p_ts").alias("purchase_ts"),
    )


def run_streaming_semi_attribution(
    spark: SparkSession,
    staged_dir: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    window_hours: int = 2,
    state_partitions: int = 2,
) -> None:
    """Drain the staged dir through the LEFT SEMI join."""
    with _pin(spark, state_partitions):
        q = (
            attributed_purchases_semi_stream(
                spark, staged_dir, schema, window_hours
            )
            .writeStream.format("parquet")
            .option("path", out_path)
            .option("checkpointLocation", checkpoint_path)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
