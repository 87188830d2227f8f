"""Structured Streaming surface: incremental extraction and streaming
rollups.

The reference's "streaming" is a PostgreSQL job queue with LISTEN/NOTIFY
(marie/scheduler/psql.py:1250,1009) — a poll-driven incremental batch
machine. Its Spark-native expression is exactly Structured Streaming with
Trigger.AvailableNow: each invocation drains whatever new input files have
appeared since the last checkpoint, with exactly-once sink semantics from
the checkpoint/WAL — the same guarantee the reference builds by hand with
job-table leases (marie/scheduler/fixtures.py:72-76).

The extraction operator composes unchanged onto streaming DataFrames
(mapInPandas is a stateless narrow map, fully streaming-compatible).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import extract_transcripts
from ..sources.transcripts import TRANSCRIPTS_DDL


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint: str,
):
    """Drain all currently-available new transcript files through the
    extraction map into a parquet sink, exactly-once via the checkpoint.
    Re-invoking after new files land processes only the delta."""
    src = (
        spark.readStream.schema(TRANSCRIPTS_DDL)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    q = (
        extract_transcripts(src)
        .writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_kind_counts(transcripts_stream: DataFrame, window: str = "1 hour",
                          watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window rollup of turn counts per doc payload
    signature — the streaming analog of the page-classifier rollup (A7).
    Late rows beyond the watermark are dropped deterministically."""
    return (
        transcripts_stream.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            F.col("role"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "role",
            "n_turns",
            "n_chars",
        )
    )


def streaming_dedup(
    transcripts_stream: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Streaming exact dedup: drop rows whose content fingerprint was
    already seen within the watermark horizon — the online counterpart of
    the batch fingerprint dedup (operators/dedup.exact_duplicates), with
    BOUNDED state: dropDuplicatesWithinWatermark evicts fingerprints older
    than the watermark, so state size tracks the ingest window, not the
    corpus (the requirement for an unbounded 100 TB stream)."""
    from ..functions import stable_fingerprint

    return (
        transcripts_stream.withColumn("fp", stable_fingerprint("text"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
        .drop("fp")
    )
