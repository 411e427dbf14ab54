"""Skewed-input behavior (r15 hardening, fifth axis).

``tools/make_sf.py skew`` concentrates 30% of join/window keys on one hot
value and turns half the document corpus into one exact + one near
duplicate cluster — the shape that breaks SCALE claims (bucket bounds,
band caps, skew joins), never semantics. The r15 full-registry
differential passed 330/330 at sf0.001 AND sf0.01 with wall time flat
vs the unmutated run — no pair generator went quadratic in the hot
bucket. This suite pins the two properties that matter cheaply:

- the near-dup pair generator FINDS the planted hot cluster (recall
  under skew), and
- its output stays within the arithmetic bound the cluster implies
  (boundedness under skew — a regression to all-pairs-per-bucket would
  blow past it long before timing out).
"""

from __future__ import annotations

from tools.make_sf import HOT_TEXT, NEAR_TEXT


def test_exact_dedup_collapses_hot_cluster(spark, axis_sf):
    from __spark_entry__ import queries

    import pyarrow.parquet as pq

    skewed_sf = axis_sf("skew")
    texts = pq.read_table(f"{skewed_sf}/documents.parquet").column("text").to_pylist()
    n_docs = len(texts)
    n_distinct = len(set(texts))
    rows = queries()["dedup_exact"](spark, skewed_sf).collect()
    # one representative per distinct text — the planted clusters collapse
    assert len(rows) == n_distinct
    assert n_distinct < n_docs - 100  # the skew actually planted clusters


def test_near_pairs_cover_hot_cluster_within_bound(spark, axis_sf):
    from __spark_entry__ import queries

    import pyarrow.parquet as pq

    skewed_sf = axis_sf("skew")
    tbl = pq.read_table(f"{skewed_sf}/documents.parquet")
    texts = tbl.column("text").to_pylist()
    n_cluster = sum(1 for x in texts if x in (HOT_TEXT, NEAR_TEXT))
    pairs = queries()["dedup_near_pairs"](spark, skewed_sf).collect()
    # boundedness: nothing outside cluster-implied pairs + the organic
    # near-dups the unmutated corpus already had (measured: ~260)
    max_pairs = n_cluster * (n_cluster - 1) // 2 + 1000
    assert 0 < len(pairs) <= max_pairs
    # recall: the hot cluster is actually found — every cluster member
    # appears in at least one pair
    ids = {r["a_id"] for r in pairs} | {r["b_id"] for r in pairs}
    cluster_ids = {
        i for i, x in zip(tbl.column("doc_id").to_pylist(), texts)
        if x in (HOT_TEXT, NEAR_TEXT)
    }
    missing = cluster_ids - ids
    assert not missing, f"{len(missing)} hot-cluster docs missed"
