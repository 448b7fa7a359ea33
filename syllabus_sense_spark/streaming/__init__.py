"""Structured Streaming variants of the engine's event-time operators."""

from .events import (  # noqa: F401
    stream_enrich_static_dim,
    stream_session_windows,
    stream_window_counts,
)
