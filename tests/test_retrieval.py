"""Retrieval stack — BM25, RRF fusion, cross-encoder rerank (COVERAGE
north-star: hybrid retrieval)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.operators.similarity import (
    recall_at_k,
    rerank_crossencoder,
)


def _ce_reference(tag, text):
    """Python cross-encoder stub: first 15 md5 hex digits of
    ``<tag>:<text>`` mod 1e6; NULL text scores NULL."""
    if text is None:
        return None
    return int(hashlib.md5(f"{tag}:{text}".encode("utf-8")).hexdigest()[:15], 16) % 1_000_000


def test_rerank_scores_match_reference_digest(spark):
    """The rerank score must reproduce the documented md5 stub
    bit-for-bit (the same bytes a DuckDB oracle hashes), on edge texts
    too: empty, 1000 and 1001 characters, multibyte, and NULL, which
    scores NULL as the oracle's ``md5('ce:' || NULL)`` does (not the
    score of the string 'ce:None')."""
    texts = (
        (1, "alpha beta"),
        (2, "gamma delta"),
        (3, ""),
        (4, "a" * 1000),
        (5, "b" * 1001),
        (6, "ñ日本\U0001F600" * 300),
        (7, None),
    )
    docs = spark.createDataFrame(list(texts), "doc_id long, text string")
    cands = spark.createDataFrame(
        [(i, 0.5) for i, _ in texts], "doc_id long, rrf_score double"
    )
    out = {r["doc_id"]: r["ce_score"] for r in rerank_crossencoder(cands, docs).collect()}
    assert out == {i: _ce_reference("ce", t) for i, t in texts}


def test_rerank_only_scores_candidates(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    cands = spark.createDataFrame([(2, 0.9)], ["doc_id", "rrf_score"])
    rows = rerank_crossencoder(cands, docs).collect()
    assert [r["doc_id"] for r in rows] == [2]
    assert rows[0]["rrf_score"] == 0.9  # candidate columns pass through


def test_bm25_ranks_term_bearing_docs_first(spark):
    """Docs containing the query terms must outrank docs without them,
    and every returned score must be positive (the +1 idf variant)."""
    from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES

    rows = QUERIES["bm25_topk"](spark, "/root/testdata/sf0.001").collect()
    assert 0 < len(rows) <= 10
    assert all(r["bm25"] > 0 for r in rows)
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks) == list(range(1, len(rows) + 1))
    scores = [r["bm25"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_recall_at_k_counts_hits_per_query(spark):
    """Every exact query gets a row, a query the approximate side missed
    entirely included, and the ratio rounds half-up at 6 decimals."""
    exact = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 4), (1, 5), (1, 6)], "q_id long, vec_id long"
    )
    approx = spark.createDataFrame([(0, 1), (0, 3), (0, 9), (2, 4)], "q_id long, vec_id long")
    rows = {r["q_id"]: (r["n_hit"], r["recall_at_3"]) for r in recall_at_k(exact, approx, 3).collect()}
    assert rows == {0: (2, 0.666667), 1: (0, 0.0)}
