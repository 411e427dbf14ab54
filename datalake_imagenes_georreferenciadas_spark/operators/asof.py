"""As-of and range (interval) joins (SURVEY §2.3 EXT row).

Neither exists in the reference — its only temporal logic is `FECHA`
bookkeeping (mysql_process.py:31,48) — but both are core engine surface
for event/time-series workloads and are called out in the inventory as
the semi/anti/range/as-of extension row.

Scale notes:

- **as-of** is implemented as the union + partitioned ``last(ignorenulls)``
  window — the classic merge shape: ONE shuffle on the key, no range
  explosion, no per-row probe. A join-then-argmax formulation shuffles the
  same data AND materializes every candidate pair; this never does.
- **range join** keeps the equality key in the join condition so Catalyst
  plans a hash join with the range as a residual filter — not a
  BroadcastNestedLoop. Skewed keys fall to AQE skew handling.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: the key both joins partition on, and the as-of timestamp column
KEY = "user_id"
TS = "ts"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    right_value_cols: Sequence[str],
) -> DataFrame:
    """For each left row, the right row of its ``user_id`` with the
    greatest ``ts`` ≤ left's.

    Right should be unique per (user_id, ts) — pre-aggregate if not, or the
    winner among equal timestamps is the union order (nondeterministic).
    Output: all left columns + ``right_value_cols`` + ``asof_ts``, the
    matched right row's ``ts`` (null when no prior right row exists —
    left-join semantics).

    The matched right row is carried as ONE struct through a single
    ``last(ignorenulls)`` — per-column fills would decouple fields when
    a right row carries a NULL payload value (the r16 null-fuzz find:
    the fill skips the null and splices an OLDER row's value next to
    the newer row's timestamp).
    """
    left_payload = [c for c in left.columns if c not in (KEY, TS)]
    r_struct = F.struct(
        F.col(TS).alias("__ts"),
        *[F.col(c).alias(c) for c in right_value_cols],
    )
    null_r = F.lit(None).cast(
        "struct<__ts:"
        + right.schema[TS].dataType.simpleString()
        + ","
        + ",".join(
            f"{c}:{right.schema[c].dataType.simpleString()}" for c in right_value_cols
        )
        + ">"
    )
    lt = left.select(
        KEY,
        F.col(TS),
        F.lit(1).alias("__is_left"),
        *[F.col(c) for c in left_payload],
        null_r.alias("__r"),
    )
    rt = right.select(
        KEY,
        F.col(TS),
        F.lit(0).alias("__is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        r_struct.alias("__r"),
    )
    u = lt.unionByName(rt)
    # right rows (__is_left=0) sort before left at equal ts → "<=" semantics
    w = (
        Window.partitionBy(KEY)
        .orderBy(F.col(TS), F.col("__is_left"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = F.last(F.col("__r"), ignorenulls=True).over(w)
    filled = u.select(
        KEY,
        TS,
        "__is_left",
        *left_payload,
        *[matched[c].alias(c) for c in right_value_cols],
        matched["__ts"].alias("asof_ts"),
    )
    return filled.filter(F.col("__is_left") == 1).drop("__is_left")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_ts: Column,
    right_ts: Column,
    lower: Column,
    upper: Column,
) -> DataFrame:
    """Equi-key left join with a time-range residual: ``right_ts ∈
    [left_ts + lower, left_ts + upper]``; a left row with no match keeps
    NULL right columns. The equality on ``user_id`` keeps this a hash
    join (shuffle-partitionable); the range is a post-join filter."""
    cond = (
        (left[KEY] == right[KEY]) & (right_ts >= left_ts + lower) & (right_ts <= left_ts + upper)
    )
    return left.join(right, cond, "left")


#: resample_interpolate's outlier fail-safe: 1M hourly steps ≈ 114 years.
MAX_STEPS_PER_KEY = 1_000_000
#: resample_interpolate's grid step: hourly
STEP_SECONDS = 3600


def resample_interpolate(events: DataFrame) -> DataFrame:
    """Time-series resample with LINEAR INTERPOLATION of
    ``events(user_id, ts, value, event_id)``: for every
    ``STEP_SECONDS`` grid point inside each user's [min ts, max ts], the
    value interpolated between the latest event at-or-before and the
    earliest event strictly after the grid point (last grid point may
    have no successor → carries the previous value).

    The hypertable-rollup / sensor-resample shape, built as the same
    union-merge as :func:`asof_join` run in BOTH directions: events and
    grid rows union into one timeline per key, a forward window fills
    (prev_x, prev_v), a backward window fills (next_x, next_v) — ONE
    shuffle on the key, no per-grid-point probe, no range explosion.
    Events sort before their exact grid point (``is_grid`` in the order)
    so an event exactly on the grid wins as "prev" and interpolation
    degenerates to its value.

    Timestamps are floored to epoch seconds on entry (cross-engine:
    Spark ``unix_timestamp`` floors, the oracle uses
    ``floor(epoch(...))``); ties within a second resolve by
    ``event_id``.

    ``MAX_STEPS_PER_KEY`` is the outlier fail-safe: a single corrupt
    timestamp (epoch 0, year 2199, ...) would otherwise silently inflate
    one key's grid to hundreds of millions of rows — at cluster scale an
    OOM, found by the r15 extreme-timestamp fuzz as a multi-minute local
    hang. The guard lives INSIDE the grid expression (a raise_error
    branch on the consumed sequence — unprunable, zero cost per healthy
    key) and fails fast with the offending key's span instead of
    materializing it. The cap is INCLUSIVE of its own value: a key
    spanning exactly ``MAX_STEPS_PER_KEY`` grid steps already raises
    (a ``>=`` trigger — the r16 tightening). 1M hourly steps ≈ 114
    years — far beyond any legitimate sensor span.
    The cap is approximate to within one step: for pre-1970 (negative
    epoch) bounds Spark's truncate-toward-zero ``div`` undercounts the
    floor-difference step count by up to one — acceptable slack on a
    fail-safe whose purpose is catching million-fold blow-ups.
    """
    e = events.select(
        F.col("user_id").alias("__k"),
        F.unix_timestamp(F.col("ts")).alias("__x"),
        F.col("value").cast("double").alias("__v"),
        F.col("event_id").cast("long").alias("__tb"),
    )
    bounds = e.groupBy("__k").agg(F.min("__x").alias("__lo"), F.max("__x").alias("__hi"))
    n_steps = f"(__hi div {STEP_SECONDS}) - (__lo div {STEP_SECONDS})"
    grid = bounds.select(
        "__k",
        F.explode(
            F.expr(
                f"CASE WHEN {n_steps} >= {MAX_STEPS_PER_KEY} THEN "
                f"raise_error(concat('resample_interpolate: key ', cast(__k as string), "
                f"' spans ', cast({n_steps} as string), ' grid steps >= max_steps_per_key="
                f"{MAX_STEPS_PER_KEY} — corrupt outlier timestamp?')) "
                f"ELSE sequence((__lo + {STEP_SECONDS - 1}) div {STEP_SECONDS},"
                f" __hi div {STEP_SECONDS}) END"
            )
        ).alias("__g"),
    ).select("__k", (F.col("__g") * STEP_SECONDS).alias("__x"))
    pt = F.struct(F.col("__x").alias("x"), F.col("__v").alias("v"))
    ev_rows = e.select("__k", "__x", F.lit(0).alias("__is_grid"), pt.alias("__pt"), "__tb")
    null_pt = F.lit(None).cast("struct<x:bigint,v:double>")
    grid_rows = grid.select(
        "__k",
        "__x",
        F.lit(1).alias("__is_grid"),
        null_pt.alias("__pt"),
        F.lit(None).cast("long").alias("__tb"),
    )
    order = [F.col("__x"), F.col("__is_grid"), F.col("__tb")]
    w_fwd = (
        Window.partitionBy("__k").orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bwd = (
        Window.partitionBy("__k").orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = (
        ev_rows.unionByName(grid_rows)
        .withColumn("__prev", F.last("__pt", ignorenulls=True).over(w_fwd))
        .withColumn("__next", F.first("__pt", ignorenulls=True).over(w_bwd))
    )
    px, pv = F.col("__prev.x"), F.col("__prev.v")
    nx, nv = F.col("__next.x"), F.col("__next.v")
    interp = F.when(nx.isNull(), pv).otherwise(
        pv + (nv - pv) * (F.col("__x") - px) / (nx - px)
    )
    # explicit HALF-UP rounding: interpolation lands on exact .xxxx5
    # halves (rational grid fractions), where Spark's round() goes up but
    # DuckDB's goes half-to-even — floor(x*1e4 + 0.5) is identical in both
    rounded = F.floor(interp * 10000 + F.lit(0.5)) / 10000.0
    return filled.filter(F.col("__is_grid") == 1).select(
        F.col("__k").alias("user_id"),
        F.col("__x").alias("grid_epoch"),
        rounded.alias("value"),
    )
