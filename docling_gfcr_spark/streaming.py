"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2B: no streams anywhere), so the
batch pipeline is the core product. This module holds the two streaming
pieces the query registry runs: the session-window aggregation behind
``events_session_window`` (one plan for a stream and a batch), and the
memory-sink driver behind ``extract_transcripts_streamed``.

Local tests drive these with a file source + memory sink +
``processAllAvailable()`` (synchronous drain), per the Spark docs pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def sessionized_user_activity(events: DataFrame) -> DataFrame:
    """Session-window aggregation per user (merge events closer than a
    20-minute gap; 1-hour watermark).

    One declarative plan serves BOTH engines of the stream==batch invariant:
    on a streaming DF the watermark bounds session state and append mode
    emits each session once it can no longer grow; on a batch DF the
    watermark is a no-op and the result is the full session table. Session
    semantics: [first_ts, last_ts + gap) with merge-on-overlap — a new
    session starts iff the inter-event gap is >= 20 minutes.
    """
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "20 minutes").alias("w"), "user_id")
        .agg(F.count("*").cast("long").alias("n_events"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("session_end"),
            "n_events",
        )
    )


def run_stream_to_memory(spark: SparkSession, stream_df: DataFrame, name: str) -> DataFrame:
    """Drive a streaming DF to completion over the currently-available files
    and return the materialized result (memory sink)."""
    q = (
        stream_df.writeStream.outputMode("complete" if _has_agg(stream_df) else "append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.table(name)


def _has_agg(df: DataFrame) -> bool:
    return "Aggregate" in df._jdf.queryExecution().logical().toString()
