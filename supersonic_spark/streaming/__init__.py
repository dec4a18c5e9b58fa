"""Structured Streaming extension (SURVEY.md §2.9: the reference has NO
streaming subsystem — this is beyond-reference surface, built so the same
operator vocabulary runs on unbounded data).

- ``ops`` — streaming variants of the stateless operators (Filter/Compute/
  Project compose unchanged), event-time windowed aggregation with
  watermarks, streaming dedup, and a stateful running-sum via
  ``applyInPandasWithState`` (the streaming analog of the reference's
  stateful expressions, stateful_expressions.h).
"""

from supersonic_spark.streaming.ops import (
    events_stream,
    read_stream,
    sessionize,
    stream_changed,
    stream_dedup,
    stream_running_min_with_flush,
    stream_running_sum,
    stream_smudge,
    stream_smudge_if,
    stream_stream_interval_join,
    stream_upsert_latest,
    windowed_aggregate,
)

__all__ = [
    "events_stream",
    "read_stream",
    "sessionize",
    "stream_changed",
    "stream_dedup",
    "stream_running_min_with_flush",
    "stream_running_sum",
    "stream_smudge",
    "stream_smudge_if",
    "stream_stream_interval_join",
    "stream_upsert_latest",
    "windowed_aggregate",
]
