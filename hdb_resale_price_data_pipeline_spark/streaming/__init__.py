"""Structured Streaming extensions (beyond-reference; SURVEY.md §2.11).

The reference has no streaming surface at all. These build the
``events`` analytics as real ``readStream`` pipelines: tumbling /
sliding / session windows with watermark late-data handling and
streaming dedup. Batch twins with DuckDB oracles
live in ``queries/events.py``; the streaming versions are checked
rows-only (no SQL oracle for incremental execution).
"""

from .events import (
    events_stream,
    run_stream_to_df,
    stream_hll_registers,
    stream_hourly_tumbling,
    stream_session_windows,
    stream_sliding_counts,
    stream_user_dedup,
    table_stream,
)

__all__ = [
    "events_stream",
    "run_stream_to_df",
    "stream_hll_registers",
    "stream_hourly_tumbling",
    "stream_session_windows",
    "stream_sliding_counts",
    "stream_user_dedup",
    "table_stream",
]
