"""Incremental / streaming processing (SURVEY.md §2.N)."""

from .incremental import (
    read_incremental,
    max_watermark,
    stream_events,
)

__all__ = [
    "read_incremental",
    "max_watermark",
    "stream_events",
]
