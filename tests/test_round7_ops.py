"""Targeted tests for round-7 primitives: geohash bit interleaving,
the shared soundex expression, the business-day closed form, the
CUSUM closed form, and the aHash banding guarantee.

Each checks the ENGINE-side construction against an independent pure-
Python reference (the DuckDB twin is already value-checked by the
oracle harness; these pin the semantics against textbook definitions,
not just cross-engine agreement).
"""

from __future__ import annotations

import datetime
import math

import pytest
from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.plans.q11_round_7 import (
    _soundex_sql,
)

_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def _geohash_py(lon: float, lat: float, precision: int = 6) -> str:
    """Textbook geohash encoder (interval bisection, lon bit first)."""
    lon_lo, lon_hi = -180.0, 180.0
    lat_lo, lat_hi = -90.0, 90.0
    bits = []
    even = True
    while len(bits) < precision * 5:
        if even:
            mid = (lon_lo + lon_hi) / 2
            if lon >= mid:
                bits.append(1)
                lon_lo = mid
            else:
                bits.append(0)
                lon_hi = mid
        else:
            mid = (lat_lo + lat_hi) / 2
            if lat >= mid:
                bits.append(1)
                lat_lo = mid
            else:
                bits.append(0)
                lat_hi = mid
        even = not even
    out = []
    for i in range(precision):
        v = 0
        for b in bits[i * 5 : i * 5 + 5]:
            v = v * 2 + b
        out.append(_GH_ALPHABET[v])
    return "".join(out)


def test_geohash_expression_matches_textbook_encoder(spark):
    pts = [
        (-1.5, 3.25),
        (13.99, 11.0),
        (0.0, 0.0),
        (7.123, -1.875),
        (2.0, 9.999),
    ]
    df = spark.createDataFrame(pts, "lon double, lat double")
    q = df.select(
        "lon",
        "lat",
        F.floor((F.col("lon") + 180.0) / 360.0 * 32768.0)
        .cast("bigint")
        .alias("lon_q"),
        F.floor((F.col("lat") + 90.0) / 180.0 * 32768.0)
        .cast("bigint")
        .alias("lat_q"),
    )
    code = q.select(
        "lon",
        "lat",
        F.expr(
            "aggregate(sequence(0, 14), CAST(0 AS BIGINT), (acc, i) -> acc"
            " + shiftleft(shiftright(lon_q, 14 - i) & 1, 29 - 2 * i)"
            " + shiftleft(shiftright(lat_q, 14 - i) & 1, 28 - 2 * i))"
        ).alias("c30"),
    )
    gh = code.select(
        "lon",
        "lat",
        F.expr(
            "concat_ws('', transform(sequence(0, 5), j -> "
            f"substring('{_GH_ALPHABET}', "
            "CAST((shiftright(c30, 25 - 5 * j) & 31) AS INT) + 1, 1)))"
        ).alias("geohash"),
    )
    for row in gh.collect():
        # 15 bits/axis = 30 bits = 6 chars: matches the textbook encoder
        assert row["geohash"] == _geohash_py(row["lon"], row["lat"]), row


def _soundex_py(name: str) -> str:
    """Python mirror of the simplified soundex (H/W treated as vowels)."""
    letters = "".join(ch for ch in name.upper() if "A" <= ch <= "Z")
    table = {}
    for digit, chars in {
        "1": "BFPV",
        "2": "CGJKQSXZ",
        "3": "DT",
        "4": "L",
        "5": "MN",
        "6": "R",
        "0": "AEIOUYHW",
    }.items():
        for c in chars:
            table[c] = digit
    coded = "".join(table[c] for c in letters)
    out = []
    for c in coded:
        if not (out and out[-1] == c and c != "0"):
            out.append(c)
    collapsed = "".join(out)
    digits = collapsed.replace("0", "")
    return (letters[:1] + (digits[1:4] + "000")[:3]) if letters else "000"


@pytest.mark.parametrize(
    "name",
    ["small ring", "red widget", "blue bolt", "Robert", "Rupert", "Ashcraft"],
)
def test_soundex_expression_matches_python_mirror(spark, name):
    df = spark.createDataFrame([(name,)], "nm string")
    got = df.select(F.expr(_soundex_sql("nm")).alias("sdx")).first()["sdx"]
    assert got == _soundex_py(name)


def test_soundex_blocks_vowel_insertion(spark):
    # the er_fuzzy_match perturbation: vowel inserted between
    # different-code letters preserves the blocking key
    df = spark.createDataFrame(
        [("red widget", "redawidget")], "a string, b string"
    )
    row = df.select(
        F.expr(_soundex_sql("a")).alias("sa"),
        F.expr(_soundex_sql("b")).alias("sb"),
    ).first()
    assert row["sa"] == row["sb"]


def test_business_day_closed_form():
    def wk(d):
        m = d + 4
        return 5 * (m // 7) + min(m % 7, 5)

    def brute(d0, d1):
        return sum(
            1
            for k in range(d0 + 1, d1 + 1)
            if (datetime.date(1970, 1, 1) + datetime.timedelta(days=k)).weekday() < 5
        )

    for d0 in range(0, 30):
        for d1 in range(d0, d0 + 30):
            assert wk(d1) - wk(d0) == brute(d0, d1), (d0, d1)


def test_cusum_closed_form_equals_recursion():
    # prefix - min(0, running-min(prefix)) == max(0, s + d) recursion
    import random

    rng = random.Random(7)
    for _ in range(50):
        devs = [rng.randint(-10, 10) for _ in range(40)]
        s = 0
        rec = []
        for d in devs:
            s = max(0, s + d)
            rec.append(s)
        prefix = 0
        runmin = 0
        closed = []
        for d in devs:
            prefix += d
            runmin = min(runmin, prefix)
            closed.append(prefix - min(0, runmin))
        assert rec == closed


def test_ahash_banding_pigeonhole():
    # 7 bands over 63 bits: any pair with hamming <= 6 shares a band
    import random

    rng = random.Random(13)
    for _ in range(200):
        a = rng.getrandbits(63)
        flips = rng.sample(range(63), rng.randint(0, 6))
        b = a
        for f in flips:
            b ^= 1 << f
        shared = any(
            ((a >> (i * 9)) & 511) == ((b >> (i * 9)) & 511) for i in range(7)
        )
        assert shared, (bin(a ^ b), flips)


def test_ndcg_weights_are_monotone_nano_floor():
    ws = [int(math.floor(1e9 / math.log2(r + 1))) for r in range(1, 11)]
    assert ws[0] == 10**9  # rank 1: no discount
    assert all(ws[i] > ws[i + 1] for i in range(len(ws) - 1))
