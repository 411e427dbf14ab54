"""Mergeable t-digest quantile sketch as a two-stage distributed
aggregate (Dunning & Ertl, "Computing extremely accurate quantiles
using t-digests", arXiv:1902.04023 — public algorithm).

Why a sketch: exact quantiles at 100 TB need a global sort or
multi-pass selection; a t-digest is a bounded-size (O(δ) centroids)
summary that is MERGEABLE — per-partition digests combine into one
digest whose quantile error is bounded in *rank* space
(≈ 4·q·(1−q)/δ), tight exactly where percentile queries care (the
extremes). This is the same execution shape as Spark's built-in
``approx_percentile`` (Greenwald-Khanna) but with the t-digest's
better tail behavior; it demonstrates the custom-sketch path the
built-ins cannot express.

Plan shape (scale posture):
- stage 1 — ``mapInPandas`` over the value column: each Arrow batch
  sorts locally and compresses to ≤δ (mean, weight) centroids. Output
  is O(#batches · δ) rows, thousands of times smaller than the input;
  the scan is the only pass over the data.
- stage 2 — the centroid rows (tiny) funnel to ONE task via a
  single-group ``applyInPandas`` that re-merges (sorted by mean) and
  interpolates the requested quantiles. At extreme partition counts
  insert a tree step (repartition → partial merge) before the final
  task; the merge operator is associative so the result is the same.

Determinism: only rank-tolerance BOOLEANS and exact percentiles leave
the engine (plans/queries.py a19_tdigest_quantile) — the approximation
itself is sensitive to batch boundaries, so it is asserted against its
published error bound rather than value-compared.

Reference scope: the reference has no aggregation beyond MAX(id)
(mysql_process.py:13-25); this belongs to the beyond-reference
training-pipeline layer.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DELTA = 200


def _k(q: float) -> float:
    """k1 scale function: quantile → cluster index (arcsine stretches
    resolution toward the tails)."""
    return DELTA / (2.0 * math.pi) * math.asin(2.0 * q - 1.0)


def _k_inv(k: float) -> float:
    return (math.sin(k * 2.0 * math.pi / DELTA) + 1.0) / 2.0


def merge_centroids(means: np.ndarray, weights: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Merge mean-sorted centroids into ≤``DELTA`` clusters (the MergingDigest
    pass): greedily absorb neighbors while the combined cluster stays
    within one unit of the k1 scale function."""
    total = float(weights.sum())
    out_m: list[float] = []
    out_w: list[float] = []
    cur_m = float(means[0])
    cur_w = float(weights[0])
    w_done = 0.0
    q_limit = _k_inv(_k(0.0) + 1.0)
    for m, w in zip(means[1:], weights[1:]):
        q = (w_done + cur_w + w) / total
        if q <= q_limit:
            cur_w += w
            cur_m += (m - cur_m) * w / cur_w
        else:
            out_m.append(cur_m)
            out_w.append(cur_w)
            w_done += cur_w
            q_limit = _k_inv(_k(w_done / total) + 1.0)
            cur_m, cur_w = float(m), float(w)
    out_m.append(cur_m)
    out_w.append(cur_w)
    return np.asarray(out_m), np.asarray(out_w)


def digest_quantile(means: np.ndarray, weights: np.ndarray, q: float) -> float:
    """Interpolated quantile from a merged digest: piecewise-linear
    through the centroid midpoints (each centroid's mean sits at the
    middle of its weight span), clamped at the extremes."""
    cum = np.cumsum(weights) - weights / 2.0
    return float(np.interp(q * float(weights.sum()), cum, means))


def sketch(df: DataFrame, col: str) -> DataFrame:
    """Stage 1: per-Arrow-batch t-digests → (mean, weight) centroid rows."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            v = pdf[col].to_numpy(dtype="float64")
            v = v[~np.isnan(v)]
            if v.size == 0:
                continue
            v.sort()
            m, w = merge_centroids(v, np.ones(v.size))
            yield pd.DataFrame({"mean": m, "weight": w})

    return df.select(col).mapInPandas(batches, "mean double, weight double")


def quantiles_from_centroids(cent: DataFrame, qs: Sequence[float]) -> DataFrame:
    """Final merge stage: (mean, weight) centroid rows — from any number
    of partial digests, batch or streaming — re-merged in ONE task
    (sorted by mean first, so the result is independent of arrival
    order), then interpolated → (q double, approx double) rows."""
    qs = list(qs)

    def final(_key, pdf):
        pdf = pdf.sort_values(["mean", "weight"]).reset_index(drop=True)
        m, w = merge_centroids(pdf["mean"].to_numpy(), pdf["weight"].to_numpy())
        return pd.DataFrame(
            {"q": qs, "approx": [digest_quantile(m, w, q) for q in qs]}
        )

    return (
        cent.withColumn("__g", F.lit(1))
        .groupBy("__g")
        .applyInPandas(final, "q double, approx double")
    )


def quantiles(df: DataFrame, col: str, qs: Sequence[float]) -> DataFrame:
    """Two-stage t-digest → DataFrame (q double, approx double), one row
    per requested quantile."""
    return quantiles_from_centroids(sketch(df, col), qs)
