"""Structured Streaming adapters.

The reference is a continuous online system whose only streaming state is
the URL-seen set, per-host politeness timers and running stats — all of
which the batch-rounds engine carries as tables (SURVEY.md §2.8), so
Structured Streaming is not required for crawl parity. This package provides
the stream-analytics operators a crawl metrics pipeline needs:

- ``analytics`` — watermarked tumbling-window aggregations and stateful
  sessionization over event streams
"""
