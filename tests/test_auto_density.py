"""Auto-density LSH (r18): the corpus-derived dial and its contracts.

The law — dial = clamp(ceil(log2 n) − c, lo, hi) — must (1) reproduce
every measured density-matched setting from SCALING.md's demos, (2) be
integer-exact so the DuckDB oracle's length(bin(n-1)) twin can never
disagree at a band boundary, and (3) make the auto operators exactly
equal to the explicit-parameter operators at the derived setting.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datalake_imagenes_georreferenciadas_spark.operators.dedup import (
    auto_band_bits,
    simhash_pairs,
    simhash_pairs_auto,
)
from datalake_imagenes_georreferenciadas_spark.operators.similarity import (
    auto_planes_per_band,
    cosine_near_pairs,
    cosine_near_pairs_auto,
)

SF0001 = "/root/testdata/sf0.001"


def test_cosine_dial_reproduces_all_measured_settings():
    # SCALING.md density demos: 2k vecs -> 5 (registered base),
    # 16k -> 8 (x4.9 for x8 data), 32k -> 9 (x2.13 per doubling)
    assert auto_planes_per_band(2000) == 5
    assert auto_planes_per_band(16000) == 8
    assert auto_planes_per_band(32000) == 9
    # one plane per doubling along the law region
    assert auto_planes_per_band(4000) == 6
    assert auto_planes_per_band(8000) == 7


def test_simhash_dial_reproduces_registered_base():
    # 5k docs -> 8 (the registered 32/8); +1 bit per doubling
    assert auto_band_bits(5000) == 8
    assert auto_band_bits(10000) == 9
    assert auto_band_bits(40000) == 11
    assert auto_band_bits(80000) == 12


def test_dial_clamps_and_degenerate_corpora():
    assert auto_planes_per_band(500) == 4  # lo
    assert auto_planes_per_band(10**9) == 16  # hi
    assert auto_planes_per_band(0) == 4
    assert auto_planes_per_band(1) == 4
    assert auto_band_bits(500) == 6  # lo
    assert auto_band_bits(10**9) == 15  # hi (num_bits 60 <= 63)
    assert auto_band_bits(0) == 6
    # the simhash pigeonhole precondition holds at every clamp value:
    # 4 bands > max_hamming 3 and 4*hi = 60 <= 63
    for n in (0, 1, 2, 500, 5000, 10**9):
        bb = auto_band_bits(n)
        assert 4 * bb <= 63 and 4 > 3


def test_integer_exact_ceil_log2_matches_duckdb_twin():
    """(n-1).bit_length() must equal the oracle's length(bin(n-1)) for
    every n — including exact powers of two, where a float log2 could
    disagree by one ulp and shift the whole banding family."""
    con = duckdb.connect()
    ns = list(range(2, 600)) + [
        2**k + d for k in range(9, 40) for d in (-1, 0, 1)
    ]
    rows = con.execute(
        "SELECT n, length(bin(greatest(n, 2) - 1)) FROM (SELECT unnest(?::BIGINT[]) AS n)",
        [ns],
    ).fetchall()
    for n, duck in rows:
        assert duck == (max(n, 2) - 1).bit_length(), n


@pytest.mark.usefixtures("spark")
def test_auto_operators_equal_explicit_at_derived_setting(spark):
    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    n_docs = docs.count()
    bb = auto_band_bits(n_docs)
    auto = simhash_pairs_auto(docs).orderBy("a_id", "b_id").collect()
    explicit = (
        simhash_pairs(docs, num_bits=4 * bb, band_bits=bb)
        .orderBy("a_id", "b_id")
        .collect()
    )
    assert auto == explicit and len(auto) > 0

    emb = spark.read.parquet(f"{SF0001}/embeddings.parquet")
    p = auto_planes_per_band(emb.count())
    auto_c = cosine_near_pairs_auto(emb).orderBy("a_id", "b_id").collect()
    explicit_c = (
        cosine_near_pairs(emb, planes_per_band=p)
        .orderBy("a_id", "b_id")
        .collect()
    )
    assert auto_c == explicit_c and len(auto_c) > 0


# ---------------------------------------------------------------- r19:
# the duplication-aware BUDGET dial (dedup_simhash_pairs_auto2) — the
# law is min{w: C(w) <= tau*n} over MEASURED collision mass, so the
# tests pin (1) the integer selection law itself, (2) the probe
# family's per-bit votes (one pass serves every width), and
# (3) the budget invariant + duplication response on real data.

from datalake_imagenes_georreferenciadas_spark.operators.dedup import (
    _AUTO2_BANDS,
    _AUTO2_LO,
    _AUTO2_TAU,
    _AUTO2_W_PROBE,
    auto_band_bits2,
    simhash_banded_table,
    simhash_collision_masses,
    simhash_pairs_auto2,
)


def test_budget_dial_selection_law():
    n = 100
    budget = _AUTO2_TAU * n  # 6400
    # narrowest width under budget wins
    assert auto_band_bits2({8: 10**6, 9: 10**5, 10: 6400, 11: 1}, n) == 10
    # boundary: exactly tau*n passes (<=, not <)
    assert auto_band_bits2({8: budget}, n) == 8
    assert auto_band_bits2({8: budget + 1, 9: 0}, n) == 9
    # missing mass rows count as 0 (empty corpus -> lo)
    assert auto_band_bits2({}, 0) == _AUTO2_LO
    # over budget everywhere -> clamp at the probe width
    assert (
        auto_band_bits2({w: 10**9 for w in range(8, 25)}, n) == _AUTO2_W_PROBE
    )
    # never below lo even if a narrower width would fit: the scan
    # starts at lo by construction
    assert auto_band_bits2({_AUTO2_LO: 0}, n) == _AUTO2_LO


def test_budget_dial_duckdb_twin_integer_agreement():
    """The oracle's budget scan — generated width series LEFT JOIN the
    mass aggregate, min(w) on the same integer inequality, coalesce to
    w_probe — must agree with auto_band_bits2 on every boundary shape,
    including masses exactly AT tau*n and missing rows."""
    con = duckdb.connect()
    cases = [
        ({8: 10**6, 9: 10**5, 10: 6400, 11: 1}, 100),
        ({8: 6400}, 100),
        ({8: 6401, 9: 0}, 100),
        ({}, 0),
        ({w: 10**9 for w in range(8, 25)}, 100),
        ({8: 1}, 10**9),
    ]
    for masses, n in cases:
        rows = [(w, m) for w, m in masses.items()] or [(None, None)]
        duck = con.execute(
            f"""
            WITH mass AS (
              SELECT w::BIGINT AS w, m::BIGINT AS mass
              FROM (SELECT unnest(?) AS w, unnest(?) AS m)
              WHERE w IS NOT NULL)
            SELECT coalesce(min(ws.w), {_AUTO2_W_PROBE}) AS w
            FROM (SELECT unnest(range({_AUTO2_LO}, {_AUTO2_W_PROBE + 1})) AS w) ws
            LEFT JOIN mass ON mass.w = ws.w
            WHERE coalesce(mass.mass, 0) <= {_AUTO2_TAU} * {n}::BIGINT
            """,
            [[r[0] for r in rows], [r[1] for r in rows]],
        ).fetchone()[0]
        assert duck == auto_band_bits2(masses, n), (masses, n)


@pytest.mark.usefixtures("spark")
def test_banded_probe_prefix_consistency(spark):
    """Key bit j of band b is the sign of the token votes on bit j of
    ``hash64(token, seed=b)`` and depends on nothing else, the width
    included — so the key at width w is the probe key masked to w bits,
    which is what lets ONE probe pass serve the dial measurement, the
    band join, and the hamming verify. Checked against a pure-Python
    twin at the probe width."""
    import hashlib

    docs = spark.read.parquet(f"{SF0001}/documents.parquet").limit(200)
    rows = docs.select("doc_id", "text").collect()
    got = {r["doc_id"]: r["ks"] for r in simhash_banded_table(docs).collect()}

    def key(text, b):
        hs = [
            int(hashlib.md5(f"{b}:{t}".encode()).hexdigest()[:15], 16)
            for t in (text or "").lower().split()
        ]
        return sum(
            1 << j
            for j in range(_AUTO2_W_PROBE)
            if sum(1 if (h >> j) & 1 else -1 for h in hs) > 0
        )

    assert len(got) == 200
    for r in rows:
        assert got[r["doc_id"]] == [key(r["text"], b) for b in range(_AUTO2_BANDS)]


@pytest.mark.usefixtures("spark")
def test_budget_invariant_and_duplication_response(spark):
    """(1) The chosen dial's measured mass fits the budget and the next
    narrower width doesn't (minimality); (2) pairs carry the dial; and
    (3) a copy-correlated 4x inflation (every 3rd word salted — the
    ladder's scaled axis in miniature) must widen the dial at least as
    much as the count law's +2-for-4x AND strictly more than the SAME
    inflation decorrelated (every word salted — independent shards):
    seeing duplication where a count cannot is exactly what the r18
    waiver said the count dial lacked."""
    import pyspark.sql.functions as SF

    docs = spark.read.parquet(f"{SF0001}/documents.parquet")
    n = docs.count()
    banded = simhash_banded_table(docs)
    masses = simhash_collision_masses(banded)
    w = auto_band_bits2(masses, n)
    assert masses.get(w, 0) <= _AUTO2_TAU * n
    if w > _AUTO2_LO:
        assert masses[w - 1] > _AUTO2_TAU * n
    out = simhash_pairs_auto2(docs)
    assert out.select("band_bits").distinct().collect()[0][0] == w

    def inflate(correlated: bool):
        copies = [docs.select("doc_id", "text")]
        for i in range(1, 4):
            tag = SF.lit(f"x{i}")
            salted = SF.array_join(
                SF.transform(
                    SF.split(SF.col("text"), " "),
                    lambda t, j: SF.when(
                        ((j + i) % 3 == 0) if correlated else SF.lit(True),
                        SF.concat(t, tag),
                    ).otherwise(t),
                ),
                " ",
            )
            copies.append(
                docs.select(
                    (SF.col("doc_id") + SF.lit(i * 10_000_000)).alias("doc_id"),
                    salted.alias("text"),
                )
            )
        out = copies[0]
        for c in copies[1:]:
            out = out.unionAll(c)
        return out

    inflated = inflate(correlated=True)
    n4 = inflated.count()
    assert n4 == 4 * n
    masses4 = simhash_collision_masses(simhash_banded_table(inflated))
    w4 = auto_band_bits2(masses4, n4)
    # budget still holds on the inflated corpus...
    assert masses4.get(w4, 0) <= _AUTO2_TAU * n4
    # ...the dial widened at least the count law's +1/doubling...
    assert w4 >= w + 2
    # ...and it SAW the duplication: the same 4x growth decorrelated
    # (independent shards, what a count dial models) picks a strictly
    # narrower width than the copy-correlated axis
    ctl = inflate(correlated=False)
    w4_ctl = auto_band_bits2(
        simhash_collision_masses(simhash_banded_table(ctl)), ctl.count()
    )
    assert w4 > w4_ctl
