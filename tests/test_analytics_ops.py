"""Behavioral analytics ops (funnel, cohorts, rolling distinct, MAD,
mode): invariants beyond the value-level oracle — monotonicity,
equivalence to the naive quadratic plan, non-negativity."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.plans.q05_training import (
    a9_mode,
    a10_mad,
    cohort_retention,
    funnel_conversion,
    ts_rolling_distinct,
)
from datalake_imagenes_georreferenciadas_spark.tables import table

SF = "/root/testdata/sf0.001"


def test_funnel_is_monotone(spark):
    r = funnel_conversion(spark, SF).collect()[0]
    assert r["n_view"] >= r["n_view_click"] >= r["n_view_click_purchase"] >= 0


def test_rolling_distinct_equals_naive_range_join(spark):
    """The bounded explode plan must equal the quadratic range-self-join
    definition of trailing-7-day distinct users."""
    got = {(r["day"], r["wau7"]) for r in ts_rolling_distinct(spark, SF).collect()}
    ev = table(spark, SF, "events").select("user_id", F.to_date("ts").alias("d"))
    ud = ev.distinct()
    days = ev.select(F.col("d").alias("day")).distinct()
    naive = (
        days.join(
            ud,
            (F.col("d") <= F.col("day"))
            & (F.col("d") > F.date_sub(F.col("day"), 7)),
        )
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau7"))
    )
    assert got == {(r["day"], r["wau7"]) for r in naive.collect()}


def test_rolling_distinct_bounds(spark):
    """WAU7 on any day is at least that day's DAU and at most the total
    user count."""
    wau = {r["day"]: r["wau7"] for r in ts_rolling_distinct(spark, SF).collect()}
    ev = table(spark, SF, "events").select("user_id", F.to_date("ts").alias("d"))
    dau = {
        r["day"]: r["n"]
        for r in ev.groupBy(F.date_format("d", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    total = ev.select("user_id").distinct().count()
    for day, w in wau.items():
        assert dau[day] <= w <= total


def test_mad_nonnegative_and_bounded(spark):
    for r in a10_mad(spark, SF).collect():
        assert r["mad"] >= 0.0


def test_cohort_day0_equals_cohort_size(spark):
    """Offset-0 retention is the cohort size itself; all offsets are
    within the observed span and counts never exceed day 0."""
    rows = cohort_retention(spark, SF).collect()
    day0 = {r["cohort_day"]: r["n_users"] for r in rows if r["day_offset"] == 0}
    for r in rows:
        assert r["day_offset"] >= 0
        assert r["n_users"] <= day0[r["cohort_day"]]


def test_mode_is_argmax(spark):
    """The reported mode really is a maximal-count priority per segment."""
    got = {r["c_mktsegment"]: (r["modal_priority"], r["n"]) for r in a9_mode(spark, SF).collect()}
    orders = table(spark, SF, "orders")
    cust = table(spark, SF, "customer").select("c_custkey", "c_mktsegment")
    counts = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    best: dict[str, int] = {}
    for r in counts:
        best[r["c_mktsegment"]] = max(best.get(r["c_mktsegment"], 0), r["n"])
    for seg, (_, n) in got.items():
        assert n == best[seg]


def _spread(i: int) -> int:
    """Offset ``i`` of a 4-wide bucket as an id of the operator's
    2^13-wide buckets: bucket ``i >> 2`` keeps its number, and position
    ``i & 3`` its order within it."""
    return ((i >> 2) << 13) + (i & 3)


def test_bucket_stitched_gaps_matches_global_window(spark):
    """bucket_stitched_gaps must equal the naive global lead() window on
    an id set engineered to hit every stitch case: in-bucket gaps, a gap
    that spans a bucket boundary, and a gap that spans ENTIRELY EMPTY
    buckets. Ids are offsets of 4-wide buckets spread to the operator's
    2^13-wide ones (``_spread``): ids jump from bucket 2 to bucket 30."""
    from datalake_imagenes_georreferenciadas_spark.plans.q09_north_star import (
        bucket_stitched_gaps,
    )

    ids = [_spread(i) for i in (1, 2, 5, 6, 7, 8, 11, 120, 121, 200)]
    df = spark.createDataFrame([(i,) for i in ids], "o_orderkey long")
    got = sorted(tuple(r) for r in bucket_stitched_gaps(df).collect())
    want = sorted(
        (a + 1, b - 1, b - a - 1)
        for a, b in zip(ids, ids[1:])
        if b - a > 1
    )
    assert got == want
    # sanity on the engineered cases: a boundary gap (2 is bucket 0, 5
    # bucket 1), and the empty-bucket jump 11→120 (buckets 2→30)
    assert (_spread(11) + 1, _spread(120) - 1, _spread(120) - _spread(11) - 1) in got


def test_bucket_stitched_gaps_dense_ids_yield_none(spark):
    from datalake_imagenes_georreferenciadas_spark.plans.q09_north_star import (
        bucket_stitched_gaps,
    )

    # dense across two bucket boundaries
    ids = range((1 << 13) - 2, (2 << 13) + 3)
    df = spark.createDataFrame([(i,) for i in ids], "o_orderkey long")
    assert bucket_stitched_gaps(df).count() == 0
