"""Windowed / watermarked streaming aggregation over events (SURVEY §2.9 EXT).

Tumbling windows with a watermark, and watermark-bounded dedup. Tests
drive these with a file source + ``trigger(availableNow=True)`` + memory
sink, asserting batch-by-batch results (SURVEY §5.2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..operators.sessionize import tumbling_window_agg


def tumbling_counts(
    events: DataFrame, minutes: int = 10, watermark_minutes: int = 30
) -> DataFrame:
    """Tumbling-window event counts with a watermark for late data."""
    return tumbling_window_agg(
        events.withWatermark("ts", f"{watermark_minutes} minutes"), minutes
    )


def dedup_within_watermark(events: DataFrame, watermark_minutes: int = 30) -> DataFrame:
    """Late/duplicate event guard: dropDuplicatesWithinWatermark on event_id
    (the reference's unguarded double-insert risk, SURVEY §2.9)."""
    return events.withWatermark("ts", f"{watermark_minutes} minutes").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
