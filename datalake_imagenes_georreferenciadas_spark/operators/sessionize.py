"""Sessionization and event-window operators over the ``events`` table
(SURVEY §2.9 EXT).

Session windows in batch are the classic gaps-and-islands plan: lag(ts)
per user → gap > threshold starts a new island → running count names the
session. One shuffle (partition by user), all window state bounded.

The tumbling and sliding window aggregates are the one body of both the
batch queries and their streaming twins: the same function runs on a
table, on an events stream, and on a watermarked stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions import dsum


def sessionize(events: DataFrame) -> DataFrame:
    """Assign a session id per (user_id, gap > 30 minutes island) of
    ``events(user_id, ts, event_id)``.

    Ordering contract (r16): callers exclude NULL event times (a row
    without a timestamp can't sessionize); the event_id tie-break keeps
    Spark's default ASC NULLS FIRST, written explicitly here and
    mirrored as ``NULLS FIRST`` in every oracle so neither engine's
    default decides frame membership on dirty data."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.col("ts").cast("double") - prev.cast("double")) > 1800.0),
        1,
    ).otherwise(0)
    return events.withColumn("__new", new_sess).withColumn(
        "session_seq", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("__new")


def _window_agg(events: DataFrame, window: Column, **aggs: Column) -> DataFrame:
    """``aggs`` per (window, event_type), keyed by the window start as
    epoch seconds (cross-engine timestamp hashing is not worth the
    risk). Null-event-time contract (r16): a row with a NULL ts can't
    bucket; Spark's window generator drops it silently, the filter
    makes that explicit and pushes IsNotNull(ts) into the scan."""
    return (
        events.filter(F.col("ts").isNotNull())
        .groupBy(window.alias("w"), "event_type")
        .agg(*[c.alias(name) for name, c in aggs.items()])
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"), "event_type", *aggs
        )
    )


def tumbling_window_agg(events: DataFrame) -> DataFrame:
    """10-minute tumbling windows over ``events(ts, event_type, value)``:
    ``(window_start_epoch, event_type, n, sum_value)``, the sum over
    decimal partials. Batch or streaming (give a stream its
    ``withWatermark`` first to emit in append mode)."""
    return _window_agg(
        events, F.window("ts", "10 minutes"), n=F.count("*"), sum_value=dsum(F.col("value"))
    )


def sliding_window_agg(events: DataFrame) -> DataFrame:
    """10-minute windows sliding by 5 minutes over ``events(ts,
    event_type)``: each event lands in 2 overlapping windows;
    ``(window_start_epoch, event_type, n)``. Batch or streaming."""
    return _window_agg(events, F.window("ts", "10 minutes", "5 minutes"), n=F.count("*"))
