"""Watermarked streaming operators over events (SURVEY §2.9 EXT).

Watermark-bounded dedup; the windowed aggregates are
``operators.sessionize.tumbling_window_agg`` / ``sliding_window_agg``,
which run unchanged on a (watermarked) stream.
Tests drive these with a file source + ``trigger(availableNow=True)`` +
memory sink, asserting batch-by-batch results (SURVEY §5.2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def dedup_within_watermark(events: DataFrame) -> DataFrame:
    """Late/duplicate event guard: dropDuplicatesWithinWatermark on event_id
    within a 60-minute watermark (the reference's unguarded double-insert
    risk, SURVEY §2.9)."""
    return events.withWatermark("ts", "60 minutes").dropDuplicatesWithinWatermark(["event_id"])
