"""Structured Streaming operators over the events table.

The reference processes its corpus as a one-shot batch with async
fibers (lib/async_processor.rb), which the CLI reproduces. Streams
add what a batch cannot: event-time analytics over a file-source
stream (watermarked windows instead of post-hoc GROUP BYs).

Batch/stream parity: `windowed_event_aggregation` is the streaming
form of plans/olap.events_windowed, and the stream reads `ts` through
the same `normalize_event_ts` helper as the batch path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io_util import events_ts_is_nanos, normalize_event_ts

_EVENT_COLS = "event_id long, {ts}, user_id long, event_type string, value double, props string"
# Watermarks demand TIMESTAMP (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on
# NTZ), so the stream declares plain timestamp — for tz-naive parquet
# micros that is the classic pre-NTZ read, exact because session.py
# pins spark.sql.session.timeZone=UTC.
EVENT_SCHEMA = _EVENT_COLS.format(ts="ts timestamp")
EVENT_SCHEMA_NANOS = _EVENT_COLS.format(ts="ts long")


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """Stream the events table from parquet files as they appear.

    File streams need an explicit schema, so a footer-only batch peek
    (io_util.events_ts_is_nanos) decides which ts encoding the files
    actually carry — plain parquet TIMESTAMP (read natively as
    TIMESTAMP_NTZ) or the legacy int64 nanos — and the SAME
    normalize_event_ts helper as the batch path converts
    conditionally, so batch and stream cannot diverge.
    """
    nanos = events_ts_is_nanos(spark, path)
    reader = (
        spark.readStream.format("parquet")
        .schema(EVENT_SCHEMA_NANOS if nanos else EVENT_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
    )
    if path.endswith(".parquet"):
        # file streams watch directories; single-file layouts stream
        # their parent dir filtered to the one file
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return normalize_event_ts(reader.load(path))


def windowed_event_aggregation(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event type — the
    streaming form of the batch events_windowed plan. Late rows
    beyond the watermark are dropped; state is bounded."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Gap-based sessions via the native session_window — the
    streaming equivalent of the batch sessionization plan (state
    expires once the watermark passes the gap)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )
