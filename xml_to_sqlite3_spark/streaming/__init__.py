"""Structured Streaming: incremental event analytics."""

from .ingest import (  # noqa: F401
    read_event_stream,
    sessionize_stream,
    windowed_event_aggregation,
)
