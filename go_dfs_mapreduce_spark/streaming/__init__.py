"""Structured Streaming surface (SURVEY.md §2.4 — the reference has no
data-plane streaming; its heartbeats are control-plane only,
cn/struct.go:53-187)."""

from .novelty import (
    first_occurrences_batch,
    first_occurrences_stream_v1,
)
from .windows import (
    enrich_with_dim,
    interval_join,
    read_events_stream,
    run_available_now,
    session_agg,
    sliding_agg,
    throttle_dedup,
    tumbling_agg,
)

__all__ = [
    "enrich_with_dim",
    "first_occurrences_batch",
    "first_occurrences_stream_v1",
    "interval_join",
    "read_events_stream",
    "run_available_now",
    "session_agg",
    "sliding_agg",
    "throttle_dedup",
    "tumbling_agg",
]
