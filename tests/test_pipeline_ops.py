"""Round-2 corpus-pipeline operators: packing, bloom join, CMS sketch,
fixed-point PageRank, incremental state merge — invariants the oracle
compare can't express (est>=exact, equivalence to the naive plan, mass
conservation)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.plans.q05_training import (
    cms_heavy_hitters,
    contamination_ngrams,
    graph_pagerank,
    incremental_agg_merge,
    j_bloom_prefilter,
    pack_sequences,
    training_order,
)
from datalake_imagenes_georreferenciadas_spark.tables import table

SF = "/root/testdata/sf0.001"


def test_pack_sequences_conserves_tokens(spark):
    """Binning must neither drop nor duplicate tokens: per-language bin
    totals sum to the corpus token total, and bin ids are dense from 0."""
    packed = pack_sequences(spark, SF)
    docs = table(spark, SF, "documents")
    toks = docs.select(
        "lang",
        F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")).alias("n"),
    )
    expect = {r["lang"]: r["s"] for r in toks.groupBy("lang").agg(F.sum("n").alias("s")).collect()}
    got = {
        r["lang"]: r["s"]
        for r in packed.groupBy("lang").agg(F.sum("bin_tokens").alias("s")).collect()
    }
    assert got == expect
    for r in packed.groupBy("lang").agg(
        F.min("bin_id").alias("lo"), F.max("bin_id").alias("hi"), F.count("*").alias("n")
    ).collect():
        assert r["lo"] == 0 and r["n"] == r["hi"] + 1  # dense, no empty bins


def test_bloom_prefilter_equals_plain_semi_join(spark):
    """The bloom layers only prune; false positives must be removed by the
    exact match, so the result is exactly the unfiltered semi-join."""
    got = {
        (r["o_orderpriority"], r["n_orders"])
        for r in j_bloom_prefilter(spark, SF).collect()
    }
    cust = table(spark, SF, "customer").filter(F.col("c_acctbal") > 9900).select("c_custkey")
    orders = table(spark, SF, "orders")
    plain = (
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )
    assert got == {(r["o_orderpriority"], r["n_orders"]) for r in plain.collect()}


def test_cms_estimate_dominates_exact(spark):
    """Count-min property: the estimate can only over-count (collisions),
    never under-count."""
    rows = cms_heavy_hitters(spark, SF).collect()
    assert rows
    assert all(r["cms_est"] >= r["exact_n"] for r in rows)


def test_pagerank_mass_and_floor(spark):
    """Every node keeps at least the teleport mass (0.15/N in 1e-12 fixed
    point = 6e9); floor division only loses mass, so total rank is at most
    the initial 1e12."""
    rows = graph_pagerank(spark, SF).collect()
    assert len(rows) == 25
    assert min(r["rank_e12"] for r in rows) >= 6_000_000_000
    assert sum(r["rank_e12"] for r in rows) <= 1_000_000_000_000


def test_incremental_merge_equals_recompute(spark):
    merged = {
        (r["month_key"], r["n_orders"], r["total_price"])
        for r in incremental_agg_merge(spark, SF).collect()
    }
    orders = table(spark, SF, "orders")
    direct = (
        orders.groupBy((F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("month_key"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double").alias("total_price"),
        )
    )
    assert merged == {
        (r["month_key"], r["n_orders"], r["total_price"]) for r in direct.collect()
    }


def test_training_order_dense_positions(spark):
    """Positions are a permutation 1..n within each shard and every doc
    appears exactly once."""
    rows = training_order(spark, SF).collect()
    assert len({r["doc_id"] for r in rows}) == len(rows)
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["position"])
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))


def test_range_layout_files_are_disjoint(spark, tmp_path):
    """repartitionByRange + sortWithinPartitions produces files whose
    [min,max] key ranges don't overlap — the layout that lets parquet
    row-group stats skip files for range predicates (the z-order/Morton
    companion for 1-D keys)."""
    orders = table(spark, SF, "orders")
    out = str(tmp_path / "orders_ranged")
    (
        orders.repartitionByRange(4, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    )
    ranges = sorted((r["lo"], r["hi"]) for r in per_file)
    assert len(ranges) == 4
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev < lo_next  # disjoint → range predicates skip files


def test_contamination_bounds(spark):
    """Overlap is a subset count: 0 <= n_overlap <= n_shingles; eval-slice
    docs are excluded from the training side."""
    rows = contamination_ngrams(spark, SF).collect()
    assert rows
    assert all(0 <= r["n_overlap"] <= r["n_shingles"] for r in rows)
    assert all(r["doc_id"] % 97 != 0 for r in rows)
