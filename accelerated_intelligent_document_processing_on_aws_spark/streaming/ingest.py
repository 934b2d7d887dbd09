"""Structured Streaming ingest of transcript shards.

The reference ingests via S3 events → SQS → Lambda
(``src/lambda/queue_sender/index.py``, ``queue_processor/index.py``) —
i.e. micro-batched file arrival.  The Spark-native restatement is a
file-source stream: new parquet shards landing in a directory are
picked up per micro-batch, run through the SAME extraction kernel
(mapInArrow is streaming-compatible), and appended to the extracted
table; watermarked windowed aggregates provide the monitoring counts
the reference's dashboard defines (``docs/monitoring.md:22-30``).

The batch and streaming paths share one transformation function —
the Structured Streaming guarantee that a streaming query is just an
incremental execution of the same logical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.extract import EXTRACTED_SCHEMA, _kernel_batches_arrow

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def stream_transcripts(spark: SparkSession, shard_dir: str,
                       max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over a directory of parquet transcript shards
    (the S3-event analog: each landed shard is one micro-batch unit)."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(shard_dir)
    )


def extracted_stream(transcripts: DataFrame) -> DataFrame:
    """The SAME kernel as the batch path, applied incrementally."""
    return transcripts.mapInArrow(_kernel_batches_arrow, schema=EXTRACTED_SCHEMA)


def windowed_turn_counts(extracted: DataFrame, window: str = "1 minute",
                         watermark: str = "2 minutes") -> DataFrame:
    """Watermarked per-class turn counts per event-time window — the
    'pages/minute by class' monitoring metric
    (``docs/monitoring.md:22-30``) with late-data handling."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("classification"))
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "classification",
            "n_turns",
        )
    )


def run_stream_to_parquet(transcripts_stream: DataFrame, out_dir: str,
                          checkpoint_dir: str, once: bool = True):
    """Append the extracted stream to a parquet sink with exactly-once
    checkpointing; ``once=True`` drains available input then stops
    (used in tests and backfills)."""
    writer = (
        extracted_stream(transcripts_stream).writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if once:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="10 seconds").start()


def streaming_session_counts(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    key: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Stateful session aggregation on a stream: Spark's built-in
    ``session_window`` merges a key's events into gap-separated sessions
    ACROSS micro-batches (state held until the watermark passes the
    session end + gap), emitting each finalized session exactly once in
    append mode — the streaming twin of the batch
    ``session_window_agg`` / gaps-and-islands sessionization."""
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(ts_col, gap), F.col(key))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col(key),
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
    )


def dedup_stream(
    transcripts_stream: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    delay: str = "10 minutes",
) -> DataFrame:
    """Exactly-once streaming dedup on the turn key.

    The reference's queue path can deliver the same S3 event twice
    (SQS at-least-once, ``queue_processor/index.py`` relies on the
    DynamoDB conditional write to drop replays); the Spark-native
    restatement is ``dropDuplicatesWithinWatermark``: state holds one
    entry per key only until the event-time watermark passes ``delay``,
    so the dedup state is BOUNDED — at 10^12 turns an unbounded
    ``dropDuplicates`` would accumulate every key forever, while this
    holds only the watermark window's worth.  Replays inside the window
    are dropped; the watermark guarantees replays outside it cannot be
    in flight (the queue's redelivery horizon maps to ``delay``).
    """
    return transcripts_stream.withWatermark("ts", delay).dropDuplicatesWithinWatermark(
        list(keys)
    )
