"""Structured Streaming entry points."""

from .daily import daily_counts_stream, drain, read_events_stream, run_available_now  # noqa: F401
