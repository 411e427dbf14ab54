"""t-digest sketch (operators/tdigest.py): merge invariants, error
bound, and the two-stage Spark wiring; plus MaxSim scoring semantics
(plans/q09_north_star.hybrid_maxsim_topk) against a NumPy oracle."""

from __future__ import annotations

import numpy as np
import pytest

from datalake_imagenes_georreferenciadas_spark.operators import tdigest as TD


def test_merge_bounds_centroid_count():
    rng = np.random.default_rng(7)
    v = np.sort(rng.normal(size=50_000))
    m, w = TD.merge_centroids(v, np.ones(v.size))
    assert m.size <= 200
    assert w.sum() == pytest.approx(50_000)
    assert np.all(np.diff(m) >= 0)  # means stay sorted


def test_rank_error_within_published_bound():
    rng = np.random.default_rng(11)
    v = np.sort(rng.exponential(size=100_000))  # skewed on purpose
    m, w = TD.merge_centroids(v, np.ones(v.size))
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        est = TD.digest_quantile(m, w, q)
        midrank = (np.sum(v < est) + np.sum(v <= est)) / (2 * v.size)
        # published bound ≈ 4·q(1−q)/δ; assert 4× slack
        assert abs(midrank - q) <= max(4 * 4 * q * (1 - q) / 200, 1e-3)


def test_merge_of_merges_matches_single_digest_error():
    """Associativity in effect: digesting 4 shards then merging must be
    as accurate as one global digest (the distributed path)."""
    rng = np.random.default_rng(3)
    v = rng.uniform(0, 1000, size=80_000)
    parts = np.array_split(v, 4)
    ms, ws = [], []
    for p in parts:
        p = np.sort(p)
        m, w = TD.merge_centroids(p, np.ones(p.size))
        ms.append(m)
        ws.append(w)
    cm = np.concatenate(ms)
    cw = np.concatenate(ws)
    order = np.argsort(cm, kind="stable")
    m2, w2 = TD.merge_centroids(cm[order], cw[order])
    assert m2.size <= 200
    sv = np.sort(v)
    for q in (0.1, 0.5, 0.9):
        est = TD.digest_quantile(m2, w2, q)
        midrank = (np.sum(sv < est) + np.sum(sv <= est)) / (2 * sv.size)
        assert abs(midrank - q) <= 0.01


def test_spark_two_stage_quantiles(spark):
    import pandas as pd

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"x": rng.normal(50, 10, size=20_000)})
    df = spark.createDataFrame(pdf).repartition(8)
    rows = {r["q"]: r["approx"] for r in TD.quantiles(df, "x", [0.25, 0.5, 0.9]).collect()}
    v = np.sort(pdf["x"].to_numpy())
    for q, est in rows.items():
        midrank = (np.sum(v < est) + np.sum(v <= est)) / (2 * v.size)
        assert abs(midrank - q) <= 0.02


def test_maxsim_matches_numpy_oracle(spark):
    """Per-pair MaxSim score equals the NumPy Σ max ⟨q_i, d_j⟩ oracle."""
    from datalake_imagenes_georreferenciadas_spark.plans.q09_north_star import hybrid_maxsim_topk
    from datalake_imagenes_georreferenciadas_spark.tables import table

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["q_id"], r["vec_id"]): r["maxsim"]
        for r in hybrid_maxsim_topk(spark, sf_dir).collect()
    }
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in table(spark, sf_dir, "embeddings").collect()
    }
    subs = {k: v.reshape(4, 16) for k, v in emb.items()}
    for (qid, did), score in got.items():
        qs, ds = subs[qid], subs[did]
        want = sum(float(np.max(ds @ qs[i])) for i in range(4))
        assert score == pytest.approx(want, abs=2e-6)
    # ranks are per-query dense 1..5
    assert len(got) == 3 * 5
