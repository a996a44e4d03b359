"""Structured Streaming surface: event-time windows, watermarks,
stateful dedup, arbitrary-stateful operators."""

from .joins import interval_join, write_stream_idempotent, write_stream_with_contract
from .stateful import running_user_totals
from .windows import (
    dedup_within_watermark,
    events_stream,
    run_stream_to_memory,
    session_counts,
    tumbling_counts,
)

__all__ = [
    "interval_join",
    "write_stream_idempotent",
    "write_stream_with_contract",
    "running_user_totals",
    "dedup_within_watermark",
    "events_stream",
    "run_stream_to_memory",
    "session_counts",
    "tumbling_counts",
]
