"""Structured Streaming tier (SURVEY.md §2.10 / §7 Phase 3)."""

from .windows import (
    events_file_stream,
    foreach_batch_upsert,
    interval_join,
    session_window_stats,
    stream_dedup,
    tumbling_window_counts,
)

__all__ = [
    "events_file_stream",
    "foreach_batch_upsert",
    "interval_join",
    "session_window_stats",
    "stream_dedup",
    "tumbling_window_counts",
]
