"""operators.asof + the new dedup join families (SURVEY §2.3 EXT)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.operators.asof import asof_join, range_join
from datalake_imagenes_georreferenciadas_spark.operators.dedup import ngram_jaccard_pairs
from datalake_imagenes_georreferenciadas_spark.operators.similarity import cosine_near_pairs

BASE = dt.datetime(2024, 1, 1)


def _t(minutes: float) -> dt.datetime:
    return BASE + dt.timedelta(minutes=minutes)


def test_asof_join_latest_prior(spark):
    left = spark.createDataFrame(
        [(1, 100, _t(10)), (2, 100, _t(30)), (3, 200, _t(5))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, _t(0), 11), (100, _t(25), 12), (200, _t(50), 13)],
        "user_id long, ts timestamp, signup_id long",
    )
    out = {r["event_id"]: r for r in asof_join(left, right, ["signup_id"]).collect()}
    assert out[1]["signup_id"] == 11  # only t=0 precedes t=10
    assert out[2]["signup_id"] == 12  # t=25 is latest ≤ t=30
    assert out[3]["signup_id"] is None  # no prior right row → left-join null
    assert out[2]["asof_ts"] == _t(25)


def test_asof_join_equal_ts_matches(spark):
    left = spark.createDataFrame([(1, 7, _t(10))], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame([(7, _t(10), 99)], "user_id long, ts timestamp, v long")
    out = asof_join(left, right, ["v"]).collect()[0]
    assert out["v"] == 99  # <= semantics: same-instant right row matches


def test_range_join_window(spark):
    errors = spark.createDataFrame(
        [(1, 5, _t(0)), (2, 7, _t(0))], "e_id long, user_id long, e_ts timestamp"
    )
    purchases = spark.createDataFrame(
        [(10, 5, _t(10)), (11, 5, _t(29)), (12, 5, _t(31)), (13, 6, _t(5))],
        "p_id long, user_id long, p_ts timestamp",
    )
    out = range_join(
        errors,
        purchases,
        F.col("e_ts"),
        F.col("p_ts"),
        F.expr("INTERVAL 0 MINUTES"),
        F.expr("INTERVAL 30 MINUTES"),
    ).collect()
    # 31min out; user 6 out; error 2 has no purchase and keeps a NULL one
    assert sorted((r["e_id"], r["p_id"] or 0) for r in out) == [(1, 10), (1, 11), (2, 0)]


def test_ngram_jaccard_identical_and_disjoint(spark):
    t = "uno dos tres cuatro cinco"
    df = spark.createDataFrame(
        [(1, t), (2, t), (3, "aaa bbb ccc ddd eee")], ["doc_id", "text"]
    )
    pairs = ngram_jaccard_pairs(df, max_doc_freq=None).collect()
    assert len(pairs) == 1
    assert (pairs[0]["a_id"], pairs[0]["b_id"], pairs[0]["jaccard"]) == (1, 2, 1.0)


def test_ngram_jaccard_partial_overlap(spark):
    # docs share shingle "b c d" only: A={a b c, b c d}, B={b c d, c d e}
    df = spark.createDataFrame([(1, "a b c d"), (2, "b c d e")], ["doc_id", "text"])
    p = ngram_jaccard_pairs(df, max_doc_freq=None).collect()[0]
    assert p["jaccard"] == round(1 / 3, 6)


def _pad(v: list[float]) -> list[float]:
    """``v`` zero-padded to the 64 dims of every vector table: a plane's
    components depend only on (plane, i), so padding changes no
    signature and no cosine."""
    return v + [0.0] * (64 - len(v))


def test_cosine_near_pairs_detects_duplicates(spark):
    import random

    rng = random.Random(3)
    v = _pad([rng.uniform(-1, 1) for _ in range(8)])
    w = [-x for x in v]  # cosine -1 with v
    rows = [(1, v), (2, v), (3, w)]  # 1 and 2 identical
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = cosine_near_pairs(df, planes_per_band=2, num_bands=2).collect()
    assert len(pairs) == 1
    assert (pairs[0]["a_id"], pairs[0]["b_id"], pairs[0]["cos"]) == (1, 2, 1.0)


def test_cosine_near_pairs_multi_band_collisions_dedup(spark):
    """An identical pair collides in EVERY band (same signature per band)
    — the output must still carry it exactly once."""
    v = _pad([float(i) for i in range(8)])
    df = spark.createDataFrame(
        [(1, v), (2, v)], "vec_id long, embedding array<double>"
    )
    pairs = cosine_near_pairs(df, planes_per_band=3).collect()
    assert len(pairs) == 1 and pairs[0]["cos"] == 1.0


def test_banded_lsh_bucket_occupancy_bounded(spark):
    """VERDICT r1 #4: the banding must keep per-(band,bucket) cardinality
    well under N — the self-join inside a bucket is the quadratic term at
    scale. 200 random 16-dim vectors over 2^5-bucket bands should spread
    so no bucket holds more than ~1/4 of the corpus."""
    import random

    from pyspark.sql import functions as F

    from datalake_imagenes_georreferenciadas_spark.operators.similarity import hyperplane_signature

    rng = random.Random(11)
    rows = [(i, _pad([rng.gauss(0, 1) for _ in range(16)])) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for band in range(4):
        occ = (
            df.select(
                hyperplane_signature("embedding", 5, plane_offset=band * 5).alias("b")
            )
            .groupBy("b")
            .count()
            .agg(F.max("count").alias("mx"))
            .collect()[0]["mx"]
        )
        assert occ <= 50, f"band {band} hot bucket: {occ}/200"
