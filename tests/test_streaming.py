"""Structured Streaming tests — memory sink + processAllAvailable
drives each stream to completion synchronously (local smoke)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from xml_to_sqlite3_spark.io_util import load
from xml_to_sqlite3_spark.streaming import (
    read_event_stream,
    sessionize_stream,
    windowed_event_aggregation,
)

SF = "/root/testdata/sf0.001"


def _run_to_memory(df, name):
    q = (
        df.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def test_windowed_aggregation_matches_batch(spark, tmp_path):
    events = read_event_stream(spark, os.path.join(SF, "events.parquet"))
    agg = windowed_event_aggregation(events, window="1 hour", watermark="0 seconds")
    _run_to_memory(agg, "win_out")
    streamed = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM win_out").collect()
    }

    batch = (
        load(spark, SF, "events")
        .groupBy(F.date_trunc("hour", "ts").alias("window_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
        .collect()
    )
    expected = {(r["window_start"], r["event_type"]): (r["n"], r["v"]) for r in batch}
    # append mode can only emit a window once the watermark passes its
    # end; the stream's final window stays in state forever, so the
    # streamed result is the batch result minus windows at the max
    # event time.
    last_window = max(k[0] for k in expected)
    emitted_expected = {k: v for k, v in expected.items() if k[0] < last_window}
    assert streamed == emitted_expected


def test_sessionization_stream(spark):
    events = read_event_stream(spark, os.path.join(SF, "events.parquet"))
    sess = sessionize_stream(events, gap="30 minutes", watermark="0 seconds")
    _run_to_memory(sess, "sess_out")
    rows = spark.sql("SELECT * FROM sess_out").collect()
    assert len(rows) > 0
    # session bounds are ordered and per-user
    assert all(r["session_start"] <= r["session_end"] for r in rows)
    # append mode holds back sessions that could still grow (their
    # end + gap exceeds the final watermark), so emitted sessions
    # cover most-but-not-all events.
    total = load(spark, SF, "events").count()
    emitted = sum(r["n_events"] for r in rows)
    assert 0 < emitted <= total
    assert emitted >= 0.8 * total
