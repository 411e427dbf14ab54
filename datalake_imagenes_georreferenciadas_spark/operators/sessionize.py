"""Sessionization and event-window operators over the ``events`` table
(SURVEY §2.9 EXT). Batch twins of the streaming windows in
``streaming.windows`` — same semantics, oracle-checkable.

Session windows in batch are the classic gaps-and-islands plan: lag(ts)
per user → gap > threshold starts a new island → running count names the
session. One shuffle (partition by user), all window state bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize(events: DataFrame, gap_minutes: float = 30.0) -> DataFrame:
    """Assign a session id per (user_id, gap>threshold island) of
    ``events(user_id, ts, event_id)``.

    Ordering contract (r16): callers exclude NULL event times (a row
    without a timestamp can't sessionize); the event_id tie-break keeps
    Spark's default ASC NULLS FIRST, written explicitly here and
    mirrored as ``NULLS FIRST`` in every oracle so neither engine's
    default decides frame membership on dirty data."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()
    )
    gap_s = gap_minutes * 60.0
    prev = F.lag("ts").over(w)
    new_sess = F.when(
        prev.isNull()
        | ((F.col("ts").cast("double") - prev.cast("double")) > gap_s),
        1,
    ).otherwise(0)
    return events.withColumn("__new", new_sess).withColumn(
        "session_seq", F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("__new")


def tumbling_window_agg(events: DataFrame, minutes: int = 10) -> DataFrame:
    """Tumbling-window counts/sums over ``events(ts, event_type, value)``;
    batch twin of ``F.window`` so the oracle can use ``time_bucket``, and
    the body of the streaming ``tumbling_counts``. Exposes window_start
    (not the struct) for cross-engine schema parity."""
    return (
        events.groupBy(F.window("ts", f"{minutes} minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )
