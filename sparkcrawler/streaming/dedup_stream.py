"""Streaming exact deduplication over an append-only ingest directory.

The reference deduplicates URLs against a Redis set inside its poll
loop (reference consumer.py); the batch engine's analog is the
exact anti-join ``seen`` filter (operators/seen.py). This module is
the *streaming* form of that contract for record streams: an ingest
directory is drained micro-batch by micro-batch and every record key is
emitted exactly once, with duplicate arrivals — including duplicates
that land in DIFFERENT micro-batches — suppressed by keyed state that
Spark retains only within the event-time watermark.

``dropDuplicatesWithinWatermark`` is the right primitive at 100 TB:
unbounded-retention ``dropDuplicates`` would grow state forever on an
infinite stream, while the watermark bound makes state size
proportional to the duplicate-arrival horizon (ingest lag), not stream
lifetime. State lives in the executor-side state store and is never
collected to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


def dedup_events_stream(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    out_table: str = "stream_dedup_events",
    watermark: str = "30 days",
):
    """Start an availableNow stream: events parquet dir → watermarked
    per-event_id dedup → append-mode in-memory sink ``out_table``.

    ``maxFilesPerTrigger=1`` forces one file per micro-batch, so a
    duplicate file is only suppressed if dedup state genuinely
    persists across micro-batches (the property the test pins).
    Returns the StreamingQuery (caller awaits termination).
    """
    schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(events_dir)
    )
    deduped = (
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(*_COLS)
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(out_table)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def dedup_events_batch(spark: SparkSession, events_path: str) -> DataFrame:
    """Batch reference: the same dedup over the same (duplicated)
    input as one relational plan — first arrival per event_id; with
    byte-identical duplicate rows any representative is THE row."""
    return (
        spark.read.parquet(events_path)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .dropDuplicates(["event_id"])
        .select(*_COLS)
    )
