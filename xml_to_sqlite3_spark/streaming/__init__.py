"""Structured Streaming: incremental event analytics and store
maintenance streams."""

from .ingest import (  # noqa: F401
    read_event_stream,
    sessionize_stream,
    windowed_event_aggregation,
)
