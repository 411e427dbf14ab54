"""Registry segment 15 (round 18 additions — append-only registrations).

Auto-density LSH: the last manual step in the 100 TB dedup posture —
choosing ``planes_per_band`` / ``band_bits`` per corpus size — made
automatic. Both queries derive the dial from a cheap corpus ``count()``
via the integer-exact law calibrated on SCALING.md's measured demos
(cosine: ceil(log2 n) − 6 reproduces ALL THREE measured settings
5/8/9 at n = 2k/16k/32k; simhash: ceil(log2 n) − 5 reproduces the
registered 32/8 base at n = 5k), and the oracles replicate the SAME
derivation with a scalar ``count(*)`` subquery plus variable-bound
list/range comprehensions — no hand-picked parameter appears anywhere,
at any SF, in either engine.

Reference parity note: the reference (script_geo.py) has no dedup at
all; these are the beyond-survey LLM-pipeline operators at their
100 TB operating point.
"""

from ._qbase import (
    D,
    DataFrame,
    H,
    SIM,
    SparkSession,
    V,
    register,
    table,
)
from .q02_geo import _semantic_components, _semantic_components_sql

#: DuckDB twin of operators.similarity._HPLANE_SCALE (2^59)
_HPS = 576460752303423488

#: DuckDB twin of operators.similarity.auto_planes_per_band — clamp(
#: ceil(log2 n) - 6, 4, 16) with the integer-exact ceil(log2 n) =
#: length(bin(n-1)), so no float log can disagree at a band boundary.
_PARAMS_COS = """
params AS (
  SELECT greatest(least(length(bin(greatest(n, 2) - 1)) - 6, 16), 4) AS pp
  FROM (SELECT count(*) AS n FROM embeddings))
"""

_COS_AUTO_CTES = f"""
WITH {_PARAMS_COS},
planes AS MATERIALIZED (
  -- the SAME md5-derived plane family as operators.similarity
  -- ._plane_matrix: component(p, i) = (md5("p#i")[:15 hex] - 2^59)/2^59
  SELECT p, pp,
         [(('0x' || substring(md5(p::VARCHAR || '#' || i::VARCHAR), 1, 15))::BIGINT
            - {_HPS}) / {_HPS}.0
          for i in range(0, 64)] AS plane
  FROM (SELECT unnest(range(0, 4 * pp)) AS p, pp FROM params)),
sigs AS MATERIALIZED (
  -- band = global plane index // pp, bit weight = 1 << (p % pp): the
  -- exact banded signature cosine_near_pairs builds with
  -- plane_offset = band * pp (bucket bits sum order-independently)
  SELECT e.vec_id, p // pp AS band,
         sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.plane) >= 0
                  THEN (1::BIGINT << (p % pp)) ELSE 0::BIGINT END)::BIGINT AS bucket
  FROM (SELECT vec_id, embedding FROM embeddings WHERE embedding IS NOT NULL) e
  CROSS JOIN planes pl
  GROUP BY e.vec_id, p // pp),
cand AS MATERIALIZED (
  SELECT DISTINCT a.vec_id AS a_id, b2.vec_id AS b_id
  FROM sigs a JOIN sigs b2
    ON a.band = b2.band AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id),
ver AS (
  SELECT c.a_id, c.b_id,
         round({V.cosine_sql('va.embedding', 'vb.embedding')}, 6) AS cos
  FROM cand c
  JOIN embeddings va ON va.vec_id = c.a_id
  JOIN embeddings vb ON vb.vec_id = c.b_id)
"""

_COS_AUTO_SQL = _COS_AUTO_CTES + "SELECT a_id, b_id, cos FROM ver WHERE cos >= 0.25"


@register("dedup_cosine_pairs_auto", _COS_AUTO_SQL)
def dedup_cosine_pairs_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH near-dup pairs with the plane dial DERIVED from
    the corpus (r18): one cheap ``count()`` picks planes_per_band =
    clamp(ceil(log2 n) − 6, 4, 16), so every corpus doubling buys its
    extra plane automatically and the candidate stage stays linear at
    EVERY scale — ladder k=1..16 unwaived, unlike the fixed-parameter
    registrations whose linearity holds only AT their matched density.
    The count contract is the total row count of the table as given
    (nulls included; the null filter applies downstream), replicated by
    the oracle's scalar count(*) subquery, so the banding-defined
    answer is bit-agreed between engines at any SF. At sf0.1 (n=2,000)
    the derived dial is 5 — exactly the registered hand-picked base —
    and at the ladder's k=8/k=16 it is 8/9, the two measured
    density-matched settings."""
    return SIM.cosine_near_pairs_auto(table(spark, sf_dir, "embeddings"))


#: DuckDB twin of operators.dedup.auto_band_bits — clamp(ceil(log2 n)
#: - 5, 6, 15); num_bits = 4 * band_bits (bands pinned at 4 by the
#: hamming-3 pigeonhole budget, so band WIDTH absorbs corpus growth).
_PARAMS_SIM = """
params AS (
  SELECT 4 * greatest(least(length(bin(greatest(n, 2) - 1)) - 5, 15), 6) AS nb
  FROM (SELECT count(*) AS n FROM documents))
"""

_SIMHASH_AUTO_SQL = f"""
WITH {_PARAMS_SIM},
ex AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS t
  FROM documents),
h AS (SELECT doc_id,
             ('0x' || substring(md5('0:' || t), 1, {H.HASH_HEX_CHARS}))::BIGINT AS h
      FROM ex),
bits AS (SELECT unnest(range(0, nb)) AS b FROM params),
v AS (
  -- variable-width bit votes: the explode-over-bits twin of
  -- _simhash_sql's unrolled per-bit sums (vote sums are
  -- order-independent integers)
  SELECT h.doc_id, bits.b,
         sum(CASE WHEN (h.h >> bits.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM h CROSS JOIN bits GROUP BY h.doc_id, bits.b),
f0 AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0::BIGINT END)::BIGINT AS fp
  FROM v GROUP BY doc_id),
f AS (
  SELECT d.doc_id, coalesce(f0.fp, 0)::BIGINT AS fp
  FROM documents d LEFT JOIN f0 ON d.doc_id = f0.doc_id)
SELECT fa.doc_id AS a_id, fb.doc_id AS b_id,
       bit_count(xor(fa.fp, fb.fp)) AS hamming
FROM f fa JOIN f fb ON fa.doc_id < fb.doc_id
WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
"""


@register(
    "dedup_semantic_components_auto", _semantic_components_sql(_COS_AUTO_CTES)
)
def dedup_semantic_components_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup clusters at the corpus-DERIVED dial (r18) —
    completing the auto-density trio: the dedup_cosine_pairs_auto
    candidate stage (planes_per_band from one cheap count(), see that
    query) feeding the same hybrid min-label connected components as
    the fixed-dial registrations. The whole SemDeDup path — banding
    density included — now follows corpus growth with no manual
    parameter; the oracle derives the identical dial from its own
    count(*) scalar subquery, so the clustering is bit-agreed at any
    SF. Same null-identity seed exclusion and min-label closure as
    dedup_semantic_components / _scaled; only the dial derivation is
    new."""
    pairs = SIM.cosine_near_pairs_auto(table(spark, sf_dir, "embeddings"))
    return _semantic_components(spark, sf_dir, pairs)


@register("dedup_simhash_pairs_auto", _SIMHASH_AUTO_SQL)
def dedup_simhash_pairs_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the band width DERIVED from the
    corpus (r18): band_bits = clamp(ceil(log2 n) − 5, 6, 15), num_bits
    = 4·band_bits — the band-widening scale path (SCALING.md) made
    automatic, one bit per corpus doubling, per-bucket density (and so
    per-band join cost/row) constant at every scale. Ladder k=1..16:
    WAIVED on the copy-correlated scaled axis (alpha_tail 1.50, output
    growth from cross-copy token correlation — decorrelated control
    0.49, c0dc757:tools/organic_growth_control.py; the cosine/semantic auto
    rows are the unwaived ones). The answer stays EXACT at the derived
    width: 4 bands >
    hamming 3, so pigeonhole makes the band join recall-lossless and
    the oracle is brute-force all-pairs over the same derived-width
    fingerprints — its own ground truth, like dedup_simhash_pairs_wide.
    At sf0.1 (n=5,000 docs) the derived setting is exactly the
    registered 32/8 base; at the ladder's k=8/k=16 it is 44/11 and
    48/12, each doubling absorbing its log-n increment."""
    return D.simhash_pairs_auto(table(spark, sf_dir, "documents"))
