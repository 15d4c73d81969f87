"""Streaming corpus ingestion with incremental near-dup detection.

The production loop a 100 TB corpus actually runs: documents arrive
continuously; each micro-batch must be deduplicated against EVERYTHING
ingested so far without ever re-pairing the accumulated corpus.

`foreachBatch` is the right Spark primitive here — the band index is a
plain append-only parquet table (no streaming state store), so:

  per micro-batch B:
    1. hash B's docs → band table b        (cost ∝ |B|)
    2. pairs = b ⋈ index ∪ b ⋈ b           (equi-join on band key;
                                            the index side streams,
                                            only b is rebuilt)
    3. docs of B whose pair partner is an ALREADY-INGESTED doc (or a
       lower-id doc in B) are duplicates → only fresh docs append to
       the clean sink
    4. append b to the index               (the index grows, the
                                            per-batch cost doesn't)

State lives in storage, not memory: restarts resume from the index +
checkpoint, and the index parquet can be compacted/partitioned by
band_id independently of the stream. Contrast
`dropDuplicatesWithinWatermark` (exact-key, bounded-window state):
this catches NEAR-dups with unbounded lookback.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from taxi_trips_etl_spark.dataprep.materialize import materialize

from taxi_trips_etl_spark.dataprep.dedup import lsh_bands, minhash_signature
from taxi_trips_etl_spark.streaming.state import drain


def _index_exists(spark: SparkSession, path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet")
        for _, _, fs in os.walk(path)
        for f in fs
    )


def dedup_batch_against_index(
    spark: SparkSession,
    batch: DataFrame,
    index_path: str,
    clean_path: str,
) -> None:
    """The foreachBatch body (callable directly for batch backfills)."""
    b = lsh_bands(minhash_signature(batch)).transform(materialize, eager=True)
    if _index_exists(spark, index_path):
        idx = spark.read.parquet(index_path)
        all_b = idx.unionByName(b)
    else:
        all_b = b
    dup_ids = (
        b.alias("n")
        .join(
            all_b.alias("c"),
            (F.col("n.band_id") == F.col("c.band_id"))
            & (F.col("n.band_key") == F.col("c.band_key"))
            # a batch doc is a dup if it collides with an earlier doc:
            # any indexed doc, or a lower-id doc within the batch
            & (F.col("c.doc_id") < F.col("n.doc_id")),
        )
        .select(F.col("n.doc_id").alias("doc_id"))
        .distinct()
    )
    fresh = batch.join(dup_ids, "doc_id", "left_anti")
    fresh.write.mode("append").parquet(clean_path)
    b.write.mode("append").parquet(index_path)


def run_streaming_ingest_dedup(
    spark: SparkSession,
    source_path: str,
    schema,
    index_path: str,
    clean_path: str,
    checkpoint_path: str,
) -> None:
    """Ingest a document directory as a stream (AvailableNow — drains
    what exists, then stops; swap the trigger for continuous runs) and
    near-dedup each micro-batch against the accumulated index."""
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(source_path)
    drain(
        spark,
        stream.writeStream.foreachBatch(
            lambda df, _epoch: dedup_batch_against_index(
                df.sparkSession, df, index_path, clean_path
            )
        ).option("checkpointLocation", checkpoint_path),
    )
