"""Registry segment 14 (round 17 additions — append-only registrations).

- a22's 100 TB twin: distributed exact weighted quantile (bucket
  decomposition, no fact-level global window)
- the three demonstrated LSH scale-path settings registered under the
  oracle gate: simhash 60/15 band-widening, cosine 4x8 plane-deepening
  (pairs + semantic components)
"""

from ._qbase import (
    D,
    DataFrame,
    F,
    SIM,
    SparkSession,
    Window,
    register,
    table,
)
from .q01_j1 import _simhash_sql
from .q02_geo import _cos_cand_cte, _semantic_components, _semantic_components_sql
from .q05_training import _WQ_QS


@register(
    "a22_weighted_quantile_dist",
    f"""
    WITH s AS (
      SELECT l_extendedprice AS v,
             sum(CAST(l_quantity AS DECIMAL(18,4))) OVER
               (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cw,
             sum(CAST(l_quantity AS DECIMAL(18,4))) OVER () AS tw
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_quantity > 0),
    qs AS (SELECT * FROM (VALUES {', '.join(f'({q}::DOUBLE, {n}, {d})' for q, n, d in _WQ_QS)}) AS t(q, num, den))
    SELECT q, min(v) AS wq
    FROM s, qs
    WHERE cw * den >= num * tw
    GROUP BY q ORDER BY q
    """,
)
def a22_weighted_quantile_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """a22's 100 TB twin: the SAME exact lower weighted quantile with
    NO fact-level global window — the scale path a22's docstring
    promises, built and value-checked against the unchanged exact
    oracle. Two distributed passes:

    1. per-VALUE weight sums (hash shuffle on v — the answer of a
       lower weighted quantile is determined at value granularity, so
       row-level tie-break order is irrelevant by construction), then
       per-BUCKET sums over b = floor(v/1000) (monotone, so bucket
       order == value order). The only ordered window runs over the
       BUCKET table — bounded by the price domain (~100 rows, constant
       in n; it sits above two HashAggregates, so the sweep's
       fact-altitude walk never reaches a scan), and the grand total
       rides the same bounded pass as an unbounded-frame window sum,
       so lineitem is scanned exactly twice, like a22.
    2. the one crossing bucket per q (cum_before < q·tw ≤ cum_through,
       unique because weights are positive) is broadcast back onto the
       per-value table; a window PARTITIONED by q over that single
       bucket's values resolves the exact crossing value.

    Arithmetic is a22's bit-exact discipline unchanged: DECIMAL(18,4)
    partial sums (associative), integer-rational thresholds
    (cw·den ≥ num·tw). Domain contract (both engines): weights must be
    POSITIVE — bucket decomposition needs a monotone cumulative, and a
    weighted quantile with negative weights is undefined anyway; TPC-H
    quantities are ≥1, so on clean data this returns bit-identically
    a22's rows (pinned by tests/test_weighted_quantile_dist.py)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_quantity").isNotNull()
        & (F.col("l_quantity") > 0)
    )
    pv = (
        li.groupBy(F.col("l_extendedprice").alias("v"))
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,4)"))
            .cast("decimal(18,4)")
            .alias("w")
        )
        .withColumn("b", F.floor(F.col("v") / F.lit(1000.0)))
    )
    pb = pv.groupBy("b").agg(F.sum("w").cast("decimal(18,4)").alias("bw"))
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    # the grand total rides the SAME bounded bucket pass as the running
    # sum (unbounded frame over ~100 bucket rows) — lineitem is scanned
    # exactly twice, like a22, not once per derived branch
    wt = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    pbc = pb.select(
        "b",
        F.sum("bw").over(wb).alias("cum_b"),
        (F.sum("bw").over(wb) - F.col("bw")).alias("cum_before"),
        F.sum("bw").over(wt).cast("decimal(28,4)").alias("tw"),
    )
    qs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("q"),
                    F.lit(n).alias("num"),
                    F.lit(d).alias("den"),
                )
                for q, n, d in _WQ_QS
            ]
        )
    ).alias("t")
    crossing = (
        pbc.select("b", "cum_b", "cum_before", "tw", qs)
        .select("b", "cum_b", "cum_before", "tw", "t.q", "t.num", "t.den")
        .filter(
            (F.col("cum_b") * F.col("den") >= F.col("num") * F.col("tw"))
            & (F.col("cum_before") * F.col("den") < F.col("num") * F.col("tw"))
        )
        .select("b", "q", "num", "den", "cum_before", "tw")
    )
    wv = (
        Window.partitionBy("q")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        pv.join(F.broadcast(crossing), "b")
        .select(
            "q",
            "v",
            (F.col("cum_before") + F.sum("w").over(wv)).alias("cw"),
            "num",
            "den",
            "tw",
        )
        .filter(F.col("cw") * F.col("den") >= F.col("num") * F.col("tw"))
        .groupBy("q")
        .agg(F.min("v").alias("wq"))
        .orderBy("q")
    )


@register(
    "dedup_simhash_pairs_wide",
    f"""
    WITH fa AS ({_simhash_sql(60)}), fb AS ({_simhash_sql(60)})
    SELECT fa.doc_id AS a_id, fb.doc_id AS b_id,
           bit_count(xor(fa.fp, fb.fp)) AS hamming
    FROM fa JOIN fb ON fa.doc_id < fb.doc_id
    WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
    """,
)
def dedup_simhash_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The simhash band-WIDENING scale setting, registered (r17): a
    60-bit fingerprint in 4 x 15-bit bands at the same hamming <= 3
    bar — the density-matched configuration SCALING.md's r17 demo
    measured at x2.5 cost for x8 data (vs x13.6 at the registered
    32/8), here put under the permanent oracle gate so the dial is
    CORRECT, not just fast. Pigeonhole still holds (4 bands > hamming
    3), so the band join provably finds EVERY qualifying pair and the
    brute-force all-pairs oracle is exact — the wide setting finds a
    superset-at-60-bits answer that is its own ground truth, unlike
    approximate LSH. 60 (not Manku's 64) keeps every bit weight in a
    positive BIGINT lane on both engines."""
    return D.simhash_pairs(table(spark, sf_dir, "documents"), num_bits=60, band_bits=15)


@register(
    "dedup_cosine_pairs_scaled",
    _cos_cand_cte(4, 8) + "SELECT a_id, b_id, cos FROM ver WHERE cos >= 0.25",
)
def dedup_cosine_pairs_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hyperplane-LSH plane-deepening scale setting, registered
    (r17): 4 bands x 8 planes — the density-matched configuration
    SCALING.md's r16 demo measured at x4.9 cost for x8 data (vs x25.6
    at the registered 4x5), under the permanent oracle gate. Unlike
    the simhash wide twin this IS a different candidate family (more
    planes = higher precision, lower recall — the published LSH
    trade), so the oracle replicates the exact 4x8 banding with the
    same deterministic md5 hyperplanes and the match is bit-defined,
    like the registered 4x5 pair."""
    return SIM.cosine_near_pairs(table(spark, sf_dir, "embeddings"), planes_per_band=8)


@register(
    "dedup_semantic_components_scaled", _semantic_components_sql(_cos_cand_cte(4, 8))
)
def dedup_semantic_components_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_semantic_components at the registered scale setting (r17):
    the 4x8 plane-deepened candidate stage (see
    dedup_cosine_pairs_scaled) feeding the same hybrid connected
    components — the third and last waived LSH family's density-matched
    dial as a permanent oracle-checked registry citizen. Same
    null-identity seed exclusion and min-label closure as the 4x5
    registration; only the banding density changes."""
    pairs = SIM.cosine_near_pairs(table(spark, sf_dir, "embeddings"), planes_per_band=8)
    return _semantic_components(spark, sf_dir, pairs)
