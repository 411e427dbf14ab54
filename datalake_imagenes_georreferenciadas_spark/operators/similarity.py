"""Similarity search over embedding columns (SURVEY F17, north star).

Two tiers, as the scale plan demands:

- **Brute-force top-k** (the correctness baseline): broadcast the query
  vectors, score every row with a codegen'd higher-order-function cosine,
  take top-k with a ranking window. At 100 TB this is a full scan but a
  perfectly parallel one — no shuffle until the final per-query top-k,
  which AQE keeps tiny because the window input is pre-filtered per query.
- **LSH-bucketed ANN** (the scale path): random-hyperplane signatures
  (seeded, deterministic, cross-engine reproducible) bucket vectors so a
  query only scans its bucket (+ optional neighboring probes). The bucket
  join is an equi-join on the signature — shuffle-partitionable, index-free.

An IVF variant would swap the hyperplane bucket for a coarse-centroid
assignment (k-means via pyspark.ml) — same join shape.
"""

from __future__ import annotations

import hashlib
import re
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vectors import cosine
from ..tables import spread
from .dedup import band_pairs
from .topk import topk_per_group

#: deterministic pseudo-random hyperplane components derived from md5 of
#: "plane#dim" so Spark, DuckDB, and Python all agree bit-for-bit.
_HPLANE_SCALE = 2**59  # md5-60-bit range is [0, 2^60); center at 2^59


@lru_cache(maxsize=None)
def _plane_matrix(num_planes: int, dim: int) -> tuple[tuple[float, ...], ...]:
    """Plane components in [-1,1), precomputed driver-side.

    The planes depend only on (plane, dim) indices, so they're computed
    ONCE here with hashlib (identical bits to the engines' md5) and
    shipped as literals — zero runtime hashing; the projection becomes a
    plain dot product against a constant array.
    """
    return tuple(
        tuple(
            (int(hashlib.md5(f"{p}#{i}".encode()).hexdigest()[:15], 16) - _HPLANE_SCALE)
            / float(_HPLANE_SCALE)
            for i in range(dim)
        )
        for p in range(num_planes)
    )


def hyperplane_signature(
    vec_col: str, num_planes: int = 8, dim: int = 64, plane_offset: int = 0
) -> Column:
    """Sign pattern of the vector column ``vec_col`` against
    ``num_planes`` hyperplanes, packed into a BIGINT bucket id. ``dim``
    must equal the vector length (the plane matrix is a plan-time
    literal). ``plane_offset`` selects a disjoint slice of the global
    plane family, so band ``b`` of a banded scheme gets independent hash
    functions via ``plane_offset=b*planes_per_band``.

    r19 (guide §1.2 per-task work / §4.1): the expression tree is built
    by PARSING ONE SQL STRING instead of composing ~1,300 Column nodes
    through py4j — the py4j round-trips were ~1.3 s of driver time per
    QUERY CONSTRUCTION (paid on every bench pass and every real job
    submission), dwarfing the execution itself at any corpus size where
    planning matters. The parsed tree is an aggregate/zip_with left-fold
    per plane (fold from 0.0, same null semantics as the DuckDB twin).
    Measured (sf0.1, 4 bands × 5 planes, fresh pass incl. construction):
    2.08 s → 0.78 s; a scalar-unrolled codegen variant was also tried
    and REJECTED — its multi-thousand-node tree cost more in per-pass
    codegen than it saved per row (4.1 s fresh).

    ``vec_col`` is a column name, optionally dot-qualified; each segment
    must be a plain identifier and is backtick-quoted in the splice, so
    any other name raises ``ValueError`` instead of reaching the parser."""
    segs = vec_col.split(".")
    if not all(re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", s) for s in segs):
        raise ValueError(f"hyperplane_signature: not a column name: {vec_col!r}")
    quoted = ".".join(f"`{s}`" for s in segs)
    planes = _plane_matrix(plane_offset + num_planes, dim)
    parts = []
    for p in range(num_planes):
        arr = "array(" + ", ".join(f"{c!r}D" for c in planes[plane_offset + p]) + ")"
        proj = (
            f"aggregate(zip_with({quoted}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y), "
            f"0.0D, (acc, v) -> acc + v)"
        )
        parts.append(
            f"(CASE WHEN {proj} >= 0 THEN CAST({1 << p} AS BIGINT) "
            f"ELSE CAST(0 AS BIGINT) END)"
        )
    return F.expr("CAST(0 AS BIGINT) + " + " + ".join(parts))


def hyperplane_signature_sql(
    vec_expr: str, num_planes: int = 8, plane_offset: int = 0
) -> str:
    """DuckDB twin of :func:`hyperplane_signature` at ``dim=64`` (same
    literal planes, same left-to-right accumulation order)."""
    planes = _plane_matrix(plane_offset + num_planes, 64)
    terms = []
    for p in range(num_planes):
        lits = "[" + ", ".join(repr(c) for c in planes[plane_offset + p]) + "]"
        # list_dot_product sums left-to-right like the lambda+'sum' form
        # it replaced — verified BIT-IDENTICAL on every test SF (and the
        # oracle equality with Spark's aggregate() proves the same for
        # the engine side). The lambda form indexed a literal list per
        # element (O(dim²) interpretive cost: ~14 ms/row·plane — 28 s
        # for 5k rows); the vectorized dot is ~50× cheaper.
        proj = f"list_dot_product(({vec_expr})::DOUBLE[], {lits})"
        terms.append(f"(CASE WHEN {proj} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def brute_force_topk(data: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact cosine top-k of ``queries(q_id, embedding)`` over
    ``data(vec_id, embedding)``: broadcast queries × scan data → window
    top-k.

    Deterministic ordering: (-cosine, vec_id) — the float-tie hazard is
    resolved by the unique id, so results hash-match the oracle.
    """
    q = queries.select(F.col("q_id"), F.col("embedding").alias("__qv"))
    # r19 (guide §2.5): the corpus side of the broadcast score scan is
    # spread() — a single-row-group parquet scan is ONE task, and the
    # per-row cosine fold serialized on it; no-op at cluster scale
    scored = spread(data, "vec_id").join(F.broadcast(q)).select(
        "q_id",
        F.col("vec_id"),
        F.round(cosine(F.col("embedding"), F.col("__qv")), 6).alias("cos"),
    )
    return _topk_by_cosine(scored, k)


def _topk_by_cosine(scored: DataFrame, k: int) -> DataFrame:
    """``(q_id, vec_id, cos, rank)``: the ``k`` best-scored vectors per
    query, ties broken by ``vec_id``."""
    return topk_per_group(
        scored, ["q_id"], [F.col("cos").desc(), F.col("vec_id")], k, rank_col="rank"
    ).select("q_id", "vec_id", "cos", "rank")


def ivf_assign(data: DataFrame, centroids: DataFrame) -> DataFrame:
    """IVF coarse quantization: assign each ``data(vec_id, embedding)``
    vector to its nearest ``centroids(centroid_id, centroid)`` centroid
    (broadcast the tiny centroid table, argmin on squared euclidean with
    the centroid id as the deterministic tiebreak). The argmin groups on
    the row id only — never on the vector payload — then joins the
    assignment back.

    Production centroids come from pyspark.ml KMeans; tests and oracles
    use fixed seed vectors so the assignment is engine-reproducible —
    same join shape either way.
    """
    from ..functions.vectors import euclidean2
    from .topk import argmin_per_group

    # r19 (guide §2.5): spread the assignment scan — same single-split
    # rationale as brute_force_topk
    crossed = spread(data.select("vec_id", "embedding"), "vec_id").join(
        F.broadcast(centroids)
    )
    scored = crossed.withColumn("__d2", euclidean2(F.col("embedding"), F.col("centroid")))
    assign = argmin_per_group(
        scored, ["vec_id"], F.struct(F.col("__d2"), F.col("centroid_id")), ["centroid_id"]
    )
    return data.join(assign, "vec_id")


def ivf_topk(
    data: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """IVF-flat ANN: partition vectors by nearest centroid; each query
    probes its ``nprobe`` nearest cells; exact cosine + window top-k on
    the probed subset. The probe join is an equi-join on centroid_id —
    the same shuffle-partitionable shape as the LSH path, but with a
    learned (or fixed) codebook instead of random hyperplanes.
    """
    from ..functions.vectors import euclidean2

    d = ivf_assign(data, centroids)
    q_scored = queries.join(F.broadcast(centroids)).withColumn(
        "__d2", euclidean2(F.col("embedding"), F.col("centroid"))
    )
    q_probes = topk_per_group(
        q_scored.select("q_id", "embedding", "centroid_id", "__d2"),
        ["q_id"],
        [F.col("__d2"), F.col("centroid_id")],
        nprobe,
        rank_col="__probe_rank",
    ).select(
        F.col("q_id"), F.col("embedding").alias("__qv"), F.col("centroid_id")
    )
    scored = d.join(q_probes, "centroid_id").select(
        "q_id",
        F.col("vec_id"),
        F.round(cosine(F.col("embedding"), F.col("__qv")), 6).alias("cos"),
    )
    return _topk_by_cosine(scored, k)


def cosine_near_pairs(
    data: DataFrame,
    threshold: float = 0.25,
    num_bands: int = 4,
    planes_per_band: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs of ``data(vec_id,
    embedding)`` (dedup family #5), banded OR-of-ANDs LSH — the
    MinHash-banding recall construction on hyperplane signatures.

    Each vector gets ``num_bands`` independent bucket ids (disjoint
    ``planes_per_band``-plane slices of the global plane family); a pair
    is a candidate iff it collides in ANY band. Versus one flat
    signature, bands keep bucket cardinality bounded — 2^planes_per_band
    buckets PER BAND, so at 100 TB the per-bucket self-join stays
    ~N/2^planes_per_band per band instead of an effectively-all-pairs
    join inside a handful of giant buckets — while the OR across bands
    recovers recall (P[candidate] = 1-(1-p^r)^b). Candidates dedup on
    (a,b) before the exact-cosine verify so multi-band collisions score
    once.

    Cost shape (measured at sf0.1, 2k vectors): ~half the wall time is
    DRIVER-side — Catalyst analyzing the num_bands x planes_per_band x
    dim unrolled multiply-add tree (~1,300 expression nodes) — and the
    rest is small-data stage machinery; per-ROW cost is near zero. The
    unrolling is deliberate: a compact zip_with/aggregate lambda would
    shrink the tree but drops the dot product out of whole-stage
    codegen into interpreted HigherOrderFunction evaluation per row.
    Planning is paid once per job regardless of corpus size, per-row
    cost scales with the 100 TB scan — so the tree buys the right side
    of that trade at scale.
    """
    # r19 (guide §2.3 "shuffle keys, not payloads" / §8 "decide with small
    # rows, move big rows once" / §2.5 unsplittable-input rebalance): the
    # band self-join and the candidate pair-dedup now shuffle only
    # (id, band key) rows — the ~0.5 KB embedding payload no longer
    # rides through the ×num_bands band exchange and the dedup exchange; it
    # is re-attached by id from the ORIGINAL scan (which carries size
    # statistics, so the planner keeps broadcast strategies) only for the
    # exact-cosine verify of the tiny candidate set. The signature input is
    # spread() first: a single-row-group parquet file scans as ONE task and
    # serialized the whole per-row signature fold. Same pairs, same cosines
    # (hash-verified). Two variants were measured and REJECTED: an eager
    # localCheckpoint of the signature table (compute-once, but a
    # checkpoint RDD carries no size stats, so every downstream join fell
    # back to sort-merge: 5.6 s) and the payload-carrying original
    # (payload through 2 exchanges + double signature pass: 2.2-3.4 s).
    # This shape: 1.2 s fresh at sf0.1. At 100 TB the production staging is
    # to WRITE the fingerprint table once and band-join the written table
    # (guide §8.4 step 1) — within one ad-hoc query, re-deriving the skinny
    # signature per join side costs one extra map pass and keeps every
    # exchange payload-free, which is the better trade under a planner that
    # can see scan statistics.
    keyed = spread(data.select(F.col("vec_id"), F.col("embedding")), "vec_id").select(
        F.col("vec_id"),
        *[
            hyperplane_signature(
                "embedding",
                planes_per_band,
                dim,
                plane_offset=band * planes_per_band,
            ).alias(f"__s{band}")
            for band in range(num_bands)
        ],
    )
    cand = band_pairs(
        keyed,
        "vec_id",
        F.array(
            *[
                F.lit(band << planes_per_band).bitwiseOR(F.col(f"__s{band}"))
                for band in range(num_bands)
            ]
        ),
    )
    va = data.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("__va"))
    vb = data.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("__vb"))
    return (
        cand.join(va, "a_id")
        .join(vb, "b_id")
        .withColumn("cos", F.round(cosine(F.col("__va"), F.col("__vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", "cos")
    )


#: auto-density calibration for :func:`cosine_near_pairs_auto` —
#: ``planes_per_band = ceil(log2 n) - _AUTO_PLANES_C`` reproduces ALL
#: THREE measured settings in SCALING.md's density demos: n=2,000 → 5
#: (the registered base, 3.77 s), n=16,000 → 8 (×4.9 for ×8 data),
#: n=32,000 → 9 (×2.13 per doubling along the dial). Holding per-bucket
#: density n/2^p constant makes candidate work ~n·2^c — linear.
_AUTO_PLANES_C = 6
_AUTO_PLANES_LO = 4  # ≥16 buckets/band even on tiny corpora
_AUTO_PLANES_HI = 16  # 4 bands × 16 planes: bounded Catalyst tree


def auto_planes_per_band(n: int) -> int:
    """The corpus-derived LSH dial: ``clamp(ceil(log2 n) - c, lo, hi)``
    over the ``_AUTO_PLANES_*`` constants.

    Integer-exact on both engines — ``ceil(log2 n) = (n-1).bit_length()``
    here, ``length(bin(greatest(n,2)-1))`` in the DuckDB oracle — so no
    float log can disagree in the last ulp at a band boundary."""
    return max(
        _AUTO_PLANES_LO,
        min(_AUTO_PLANES_HI, (max(int(n), 2) - 1).bit_length() - _AUTO_PLANES_C),
    )


def cosine_near_pairs_auto(data: DataFrame, threshold: float = 0.25) -> DataFrame:
    """:func:`cosine_near_pairs` (4 bands, 64-dim vectors) with the
    ``planes_per_band`` dial DERIVED from the corpus instead of
    hand-picked (r18 — the last manual step in the 100 TB dedup posture
    made automatic).

    Fixed-parameter banded LSH is Θ(n²/2^p); the published escape is
    p ∝ log n, demonstrated and registered in r16/r17 — but a deployer
    still had to CHOOSE p per corpus. Here one cheap ``count()`` (a
    column-pruned parquet scan — footer-bounded, no shuffle) picks
    ``auto_planes_per_band(n)``, so every doubling of the corpus buys
    its extra plane automatically and the candidate stage stays linear
    at EVERY scale (ladder-verified k=1..16 with no waiver; SCALING.md
    §auto-density). The count contract is the TOTAL row count of the
    input as given (nulls included, filters downstream) — exactly what
    the oracle's scalar-subquery ``count(*)`` replicates, so the derived
    setting — and therefore the banding-defined answer — is bit-agreed
    between engines at any SF."""
    n = data.count()
    return cosine_near_pairs(
        data, threshold=threshold, planes_per_band=auto_planes_per_band(n)
    )


def lsh_ann_topk(
    data: DataFrame,
    queries: DataFrame,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k of ``queries(q_id, embedding)`` over
    ``data(vec_id, embedding)``: equi-join on hyperplane bucket, then
    exact cosine + window inside the bucket. Recall trades off with
    ``num_planes``; at scale add multi-probe (flip one bit) unions."""
    d = data.withColumn("__bucket", hyperplane_signature("embedding", num_planes, dim))
    q = queries.select(
        F.col("q_id"),
        F.col("embedding").alias("__qv"),
        hyperplane_signature("embedding", num_planes, dim).alias("__bucket"),
    )
    scored = d.join(F.broadcast(q), "__bucket").select(
        "q_id",
        F.col("vec_id"),
        F.round(cosine(F.col("embedding"), F.col("__qv")), 6).alias("cos"),
    )
    return _topk_by_cosine(scored, k)


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """Per-query recall@k of an approximate top-k against the exact one:
    ``(q_id, n_hit, recall_at_<k>)``, both inputs ``(q_id, vec_id)``.
    Every query of ``exact`` gets a row (0 hits included); the recall is
    rounded to 6 decimals half-up, as the oracles' ``floor(x + 0.5)``."""
    n_hit = (
        exact.join(approx, ["q_id", "vec_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        exact.select("q_id")
        .distinct()
        .join(n_hit, "q_id", "left")
        .select("q_id", F.coalesce("n_hit", F.lit(0)).alias("n_hit"))
        .select(
            "q_id",
            "n_hit",
            (F.floor(F.col("n_hit") / float(k) * 1e6 + F.lit(0.5)) / 1e6).alias(
                f"recall_at_{k}"
            ),
        )
    )


def rerank_crossencoder(
    cands: DataFrame, docs: DataFrame, query_tag: str = "ce"
) -> DataFrame:
    """Second-stage reranking of a ``cands(doc_id, ...)`` retrieval
    candidate list against ``docs(doc_id, text)``: the cross-encoder step
    of a RAG pipeline. Returns the candidate columns plus ``ce_score``.

    The candidate set (tiny: top-k from RRF/ANN) broadcasts onto the
    document store to fetch texts, then each (query, text) pair is
    scored. The score is the model call site: a real deployment runs the
    cross-encoder forward pass there, as an Arrow batch kernel over just
    these k rows. The package ships no model runtime, so the score is
    a deterministic md5 stub, a built-in expression that DuckDB computes
    identically. Scores are 60-bit-md5 mod 1e6 INTEGERS (exact in both
    engines, no float-rounding drift); NULL text scores NULL.
    """
    joined = docs.select(F.col("doc_id"), F.col("text")).join(
        F.broadcast(cands), "doc_id"
    )
    digest = F.md5(F.concat(F.lit(f"{query_tag}:"), F.col("text")))
    score = F.conv(F.substring(digest, 1, 15), 16, 10).cast("bigint") % 1_000_000
    return joined.select(*cands.columns, score.alias("ce_score"))
