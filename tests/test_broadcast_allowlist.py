"""Broadcast-hint review gate (r07 VERDICT "What's wrong" #2, applied
repo-wide in r08): a forced ``F.broadcast(x)`` removes AQE's ability to
fall back to a shuffle join, so it is ONLY allowed when the operand is
provably bounded — constant dimensions (nation/region, 25/5 rows at
every SF), top-k / ``limit`` results, per-event-type or per-bucket
aggregates over bounded domains, sketch/codebook tables, fixtures, or
explicitly thresholded structures.

Driver-side rows (the MERGE id set, the ≤250k-edge union-find result)
need no hint: ``tables.local_frame`` makes them Arrow LocalRelations
with exact size stats, so Catalyst broadcasts them while they fit.

Corpus-derived or linear-in-SF operands (candidate-pair sets, label
maps, customer/supplier/part, per-customer aggregates, vector tables)
must stay UNHINTED: Catalyst's size stats compile the same broadcast
join while the operand fits and degrade gracefully when it doesn't.

This test pins every existing call site by (module, enclosing
function). Adding a new ``F.broadcast`` anywhere fails the suite until
the site is added here — which is the review step: before adding an
entry, state why the operand is bounded at 100 TB."""

from __future__ import annotations

import collections
from pathlib import Path

from call_sites import call_sites

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "datalake_imagenes_georreferenciadas_spark"

# (module relative to the package, enclosing function) -> site count.
# Every operand below is bounded: query/centroid/codebook/sketch tables,
# top-k or limit() outputs, per-event-type aggregates (bounded domain),
# constant dims or geo fixtures.
ALLOWED: dict[tuple[str, str], int] = {
    ("catalog/store.py", "_with_ids"): 1,  # per-group offset aggregate
    ("catalog/store.py", "filtered_paths"): 1,  # one process-run row set
    ("operators/similarity.py", "brute_force_topk"): 1,  # query set
    ("operators/similarity.py", "ivf_assign"): 1,  # k centroids
    ("operators/similarity.py", "ivf_topk"): 1,  # k centroids
    ("operators/similarity.py", "lsh_ann_topk"): 1,  # bucketed query set
    ("operators/similarity.py", "rerank_crossencoder"): 1,  # top-k candidates
    ("operators/spatial.py", "classify_points"): 1,  # polygon dim (grid twin is the scale path)
    ("operators/spatial.py", "contains_join"): 1,  # polygon dim
    ("operators/spatial.py", "nearest_vertex_join"): 1,  # polygon vertex dim
    ("plans/flagship.py", "catalog_filtered_join"): 1,  # nation (25 rows)
    ("plans/q08_north_star.py", "_tdigest_rank_check"): 2,  # digest centroids
    # r20: degree table + closure probe over the THRESHOLDED canonical
    # co-purchase edge set (part pairs sharing ≥2 orders) — the
    # item-similarity graph, part-catalog-dimensioned (deg ≤ |parts|),
    # not corpus-sized; the checkpointed edge RDD carries no stats so
    # AQE can no longer make these broadcast calls itself (VERDICT r19
    # item 1 directed exactly these explicit hints)
    ("plans/q08_north_star.py", "graph_triangles"): 3,
    ("plans/q05_training.py", "a10_mad"): 1,  # per-type medians
    ("plans/q06_training.py", "a11_winsorized_mean"): 1,  # per-type quantiles
    ("plans/q06_training.py", "a13_equifreq_bins"): 1,  # bin bounds
    ("plans/q06_training.py", "a14_minmax_scale"): 1,  # per-type min/max
    ("plans/q07_north_star.py", "a16_share_of_parent"): 3,  # nation/region dims + parent totals
    ("plans/q07_north_star.py", "a17_hist_median"): 1,  # histogram counts
    ("plans/q07_north_star.py", "a18_outlier_zscore"): 1,  # per-type moments
    ("plans/q06_training.py", "a22_weighted_quantile"): 1,  # per-type totals
    ("plans/q12_round_7.py", "a25_skyline_2d"): 1,  # skyline (≤ distinct price levels)
    ("plans/q07_north_star.py", "a5_kmv_distinct"): 1,  # k-th minimum value row
    ("plans/q13_round_7.py", "ann_cell_balance"): 2,  # centroids + cell counts
    ("plans/q14_r17.py", "a22_weighted_quantile_dist"): 1,  # per-q crossing bucket (|quantiles| rows)
    ("plans/q10_round_7.py", "ann_ivfpq_topk"): 2,  # centroids + codebooks
    ("plans/q07_north_star.py", "ann_multiprobe_topk"): 1,  # probe buckets
    ("plans/q10_round_7.py", "ann_nprobe_curve"): 5,  # centroids/probes/exact-topk
    ("plans/q01_j1.py", "ann_pq_topk"): 2,  # codebook + queries
    ("plans/q01_j1.py", "ann_sq8_topk"): 2,  # quant stats + queries
    ("plans/q09_north_star.py", "bm25_topk"): 2,  # query terms + corpus stats row
    ("plans/q05_training.py", "contamination_ngrams"): 1,  # eval-set shingles
    ("plans/q11_round_7.py", "corpus_mixture_temperature"): 1,  # per-source totals
    ("plans/q13_round_7.py", "corpus_token_apportion"): 2,  # per-source allocation + gap row
    ("plans/q10_round_7.py", "dq_benford"): 1,  # total-count row
    ("plans/q09_north_star.py", "dq_distribution_drift"): 1,  # baseline histogram
    ("plans/q10_round_7.py", "dq_freshness_sla"): 1,  # per-feed max-ts
    ("plans/q09_north_star.py", "dq_referential_integrity"): 1,  # nation dim
    ("plans/q12_round_7.py", "emb_outlier_zscore"): 1,  # per-dim moments
    ("plans/q08_north_star.py", "emb_quantile_clip"): 1,  # per-dim quantiles
    ("plans/q11_round_7.py", "er_fuzzy_match"): 1,  # dirty feed batch
    ("plans/q01_j1.py", "f17_cosine_all"): 1,  # query vector row
    ("plans/q03_ext.py", "f17_cosine_pandas"): 1,  # query vector row
    ("plans/q02_geo.py", "geo_areal_weighted"): 1,  # polygon fixture
    ("plans/q02_geo.py", "geo_edge_crossings"): 1,  # road fixture
    ("plans/q02_geo.py", "geo_knn_grid"): 1,  # polygon vertex fixture
    ("plans/q08_north_star.py", "geo_nearest_edge"): 1,  # road-segment fixture
    ("plans/q12_round_7.py", "geo_quadtree_cells"): 2,  # per-level cell counts
    ("plans/q11_round_7.py", "geo_track_resample"): 2,  # fixed target grid
    ("plans/q13_round_7.py", "graph_assoc_rules"): 3,  # item supports above threshold + total row
    ("plans/q09_north_star.py", "graph_bfs_distance"): 1,  # 3-hop frontier of ONE source
    ("plans/q12_round_7.py", "graph_incremental_components"): 1,  # delta-batch label map
    ("plans/q10_round_7.py", "graph_modularity"): 1,  # per-community degree sums
    ("plans/q05_training.py", "graph_pagerank"): 4,  # |V|=25 nation rank tables
    ("plans/q08_north_star.py", "hybrid_fused_topk"): 1,  # query set
    ("plans/q09_north_star.py", "hybrid_maxsim_topk"): 1,  # query token vectors
    ("plans/q12_round_7.py", "hybrid_mmr_topk"): 1,  # selected top-k ids
    ("plans/q08_north_star.py", "hybrid_rrf_topk"): 1,  # per-list top-k
    ("plans/q06_training.py", "j1_null_safe_join"): 1,  # tiny keyed build side
    ("plans/q05_training.py", "j_bloom_prefilter"): 1,  # bloom bit set (≤ _BLOOM_M)
    ("plans/q03_ext.py", "j_late_arriving_dim"): 1,  # late-batch dim rows
    ("plans/q10_round_7.py", "ml_chi2_tokens"): 1,  # class totals
    ("plans/q11_round_7.py", "ml_knn_classifier"): 1,  # query points
    ("plans/q12_round_7.py", "ml_lift_table"): 1,  # global base-rate row
    ("plans/q11_round_7.py", "ml_ndcg_at10"): 2,  # per-query ideal DCG (3 rows)
    ("plans/q07_north_star.py", "ml_negative_pairs"): 1,  # per-label counts
    ("plans/q05_training.py", "ml_target_encoding"): 1,  # per-category means
    ("plans/q06_training.py", "p11_dense_ids"): 1,  # per-shard offsets
    ("plans/q10_round_7.py", "pipeline_dsir_weights"): 2,  # 512-row λ tables
    ("plans/q05_training.py", "s21_targeted_delete"): 1,  # RTBF delete-request batch
    ("plans/q03_ext.py", "streaming_stateful_totals"): 1,  # per-type expected totals
    ("plans/q08_north_star.py", "sub_all_rewrite"): 1,  # per-group max row
    ("plans/q12_round_7.py", "text_keyphrase_rake"): 1,  # word scores (vocab-bounded)
    ("plans/q02_geo.py", "text_tfidf_topk"): 1,  # document-frequency table (vocab-bounded)
    ("plans/q03_ext.py", "tpch_q5_shape"): 2,  # nation + region
    ("plans/q05_training.py", "ts_rolling_distinct"): 1,  # day list
    ("plans/q13_round_7.py", "ts_seasonal_adjust"): 1,  # weekday profile (7 rows/type)
    ("plans/q08_north_star.py", "vocab_oov_rate"): 1,  # limit(100) vocab
}


def _scan(files, root: Path) -> dict[tuple[str, str], int]:
    """Count every ``broadcast(...)`` call by (module, enclosing fn):
    ``F.broadcast``, a bare ``broadcast`` imported from
    ``pyspark.sql.functions``, and — deliberately conservative —
    ``sparkContext.broadcast`` / ``sc.broadcast`` variables, which are
    forced broadcasts too and need the same bounded-operand review."""
    return dict(collections.Counter(site for site, name, _ in call_sites(files, root) if name == "broadcast"))


def _sites() -> dict[tuple[str, str], int]:
    return _scan(sorted(PKG.rglob("*.py")), PKG)


def test_every_broadcast_site_is_reviewed():
    found = _sites()
    new = {k: v for k, v in found.items() if k not in ALLOWED}
    grown = {
        k: (v, ALLOWED[k]) for k, v in found.items() if k in ALLOWED and v > ALLOWED[k]
    }
    assert not new and not grown, (
        "unreviewed F.broadcast sites (add to ALLOWED only if the operand "
        f"is provably bounded at 100 TB): new={new} grown={grown}"
    )


def test_no_broadcast_outside_the_package():
    """ADVICE r08: the gate scanned only the package tree, so an
    ``F.broadcast`` added in bench.py, tools/, tests/, or the driver
    entry module would bypass review. Those trees must stay at ZERO
    forced-broadcast sites — any hint belongs in the package behind the
    allowlist above (this file's own docstring mention is prose, not a
    call, so the AST scan ignores it)."""
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    files += sorted((REPO / "tools").rglob("*.py"))
    files += sorted((REPO / "tests").rglob("*.py"))
    outside = _scan([f for f in files if f.exists()], REPO)
    assert not outside, (
        f"forced-broadcast call sites outside the package: {outside} — "
        "move the hint into the package and justify it in ALLOWED"
    )


def test_allowlist_has_no_stale_entries():
    """Removed sites must leave the allowlist too, so it stays the
    exact current posture, not an accumulating grant."""
    found = _sites()
    stale = [k for k in ALLOWED if k not in found]
    assert not stale, f"allowlist entries with no call site: {stale}"


def test_scanner_catches_every_broadcast_form(tmp_path):
    f = tmp_path / "m.py"
    f.write_text(
        "from pyspark.sql.functions import broadcast\n"
        "def bare(a, b):\n    return a.join(broadcast(b), 'k')\n"
        "def attr(a, b):\n    return a.join(F.broadcast(b), 'k')\n"
        "def var(sc, xs):\n    return sc.broadcast(xs)\n"
        "def other(a, b):\n    return a.join(b.hint('shuffle_hash'), 'k')\n"
    )
    assert _scan([f], tmp_path) == {("m.py", "bare"): 1, ("m.py", "attr"): 1, ("m.py", "var"): 1}
