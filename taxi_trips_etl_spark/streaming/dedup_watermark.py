"""Exact-key streaming deduplication with bounded state.

`dropDuplicatesWithinWatermark` is Spark's native answer to at-least-
once delivery: re-delivered events (same key, event time within the
watermark delay of the first sighting) are dropped, and — unlike plain
`dropDuplicates` on a stream — the key state is EVICTED once the
watermark passes it, so state size is bounded by the key arrival rate
× delay instead of growing forever.

Contrast `streaming/ingest_dedup.py`: that catches NEAR-dups with
unbounded lookback by keeping its index in storage; this catches
EXACT-key redelivery with bounded in-memory state. A production
pipeline typically runs both: watermark dedup at the ingest edge
(transport-level redelivery), LSH dedup downstream (content-level
duplication).

Scale shape: the dedup operator shuffles on the key columns once; the
state store is per-partition RocksDB at cluster scale. Append mode —
rows flow through as they arrive (dedup holds no rows back, it only
filters), so sink latency is one micro-batch.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from taxi_trips_etl_spark.sources.readers import normalize_event_ts
from taxi_trips_etl_spark.streaming.state import drain


def run_streaming_dedup_watermark(
    spark: SparkSession,
    source_path: str,
    schema,
    out_path: str,
    checkpoint_path: str,
    keys: list[str] | None = None,
    delay: str = "3650 days",
) -> None:
    """Drain ``source_path`` (AvailableNow, one file per micro-batch)
    dropping re-delivered events by ``keys`` within ``delay``, appending
    survivors to ``out_path``.

    The default delay exceeds the testdata's whole event-time span so a
    full re-delivery of the feed (the oracle scenario) is entirely
    deduplicated; a real deployment sets it to the transport's maximum
    redelivery lag (minutes), which is what bounds the state store.

    Eight state partitions pin the dedup state store width for the
    drain (round 9): dropDuplicates state commits cost n_partitions ×
    n_batches regardless of row count, and this drain is exactly 2
    batches — unpinned, the state ran at the batch engine's 32
    shuffle partitions and the commits dominated (measured 1.8s → 1.1s
    at sf0.1, identical output). Size to expected keys-in-state, same
    rule as streaming/state.py.
    """
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_path)
    )
    deduped = (
        normalize_event_ts(stream)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(keys or ["event_id"])
    )
    drain(
        spark,
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append"),
        partitions=8,
    )
