"""Property-based tests (SURVEY §5.2-4, hypothesis): containment vs a
pure-Python reference, dedup idempotence, KNN invariants, reprojection
round-trips."""

from __future__ import annotations

import math

from hypothesis import given, settings
from hypothesis import strategies as st

from datalake_imagenes_georreferenciadas_spark import compat

# ---- pure-Python ray casting (reference implementation for the property) --


def _py_point_in_ring(px: float, py: float, ring: list[tuple[float, float]]) -> bool:
    n = len(ring)
    crossings = 0
    for i in range(n):
        ax, ay = ring[i]
        bx, by = ring[(i + 1) % n]
        if (ay > py) != (by > py):
            x_at = (bx - ax) * (py - ay) / (by - ay) + ax
            if px < x_at:
                crossings += 1
    return crossings % 2 == 1


# a convex polygon generator: sorted angles around a center
@st.composite
def convex_rings(draw):
    """Non-degenerate convex polygons: angular gaps ≥ 0.15 rad, so the
    centroid is well inside (slivers make 'inside' boundary-ambiguous)."""
    k = draw(st.integers(min_value=3, max_value=8))
    gaps = draw(
        st.lists(st.floats(0.15, 1.5, allow_nan=False), min_size=k, max_size=k)
    )
    total = sum(gaps)
    start = draw(st.floats(0, 2 * math.pi))
    # normalize: every gap = 0.15 + share of the remaining circle, so the
    # k gaps sum to exactly 2π and each is ≥ 0.15
    spare = 2 * math.pi - 0.15 * k
    norm = [0.15 + g / total * spare for g in gaps]
    angles, acc = [], start
    for g in norm[:k]:
        angles.append(acc)
        acc += g
    r = draw(st.floats(0.5, 5.0))
    return [(r * math.cos(a), r * math.sin(a)) for a in angles]


POINTS = st.tuples(
    st.floats(-6, 6, allow_nan=False, allow_infinity=False),
    st.floats(-6, 6, allow_nan=False, allow_infinity=False),
)


class TestContainmentProperty:
    """The Spark column kernel and the pure-Python walk must agree; we
    validate the SHARED algorithm here (the Spark kernel is checked
    against the DuckDB oracle in geo_contains), plus geometric anchors."""

    @given(ring=convex_rings())
    @settings(max_examples=50, deadline=None)
    def test_centroid_of_convex_ring_is_inside(self, ring):
        cx = sum(x for x, _ in ring) / len(ring)
        cy = sum(y for _, y in ring) / len(ring)
        assert _py_point_in_ring(cx, cy, ring)

    @given(ring=convex_rings(), pt=POINTS)
    @settings(max_examples=100, deadline=None)
    def test_far_points_are_outside(self, ring, pt):
        px, py = pt[0] + 100.0, pt[1] + 100.0  # beyond any generated radius
        assert not _py_point_in_ring(px, py, ring)


class TestReprojectionProperties:
    @given(
        x=st.floats(100000, 900000, allow_nan=False),
        y=st.floats(8500000, 10500000, allow_nan=False),
    )
    @settings(max_examples=100, deadline=None)
    def test_reproject_monotone(self, x, y):
        """Equal-area-ish approximation must be strictly monotone in both
        axes (order-preserving: a point east of another stays east)."""
        [(lon1, lat1)] = compat.reproject_coords([(x, y)])
        [(lon2, lat2)] = compat.reproject_coords([(x + 1000.0, y + 1000.0)])
        assert lon2 > lon1
        assert lat2 > lat1

    @given(coords=st.lists(st.tuples(st.floats(1e5, 9e5), st.floats(8.5e6, 1.05e7)), max_size=5))
    @settings(max_examples=50, deadline=None)
    def test_reproject_length_preserved(self, coords):
        assert len(compat.reproject_coords(coords)) == len(coords)


class TestDedupProperties:
    @given(
        texts=st.lists(
            st.text(alphabet="ab c", min_size=0, max_size=30), min_size=1, max_size=10
        )
    )
    @settings(max_examples=50, deadline=None)
    def test_unique_places_idempotent(self, texts):
        feats = [
            {"properties": {"CODIGO": t, "SECCION": 1, "RODAL": 1, "TIPOUSO": "X", "APL": "A"}}
            for t in texts
        ]
        once = compat.unique_places(feats)
        again = compat.unique_places(
            [
                {"properties": {"CODIGO": k.split("_")[0], "SECCION": 1, "RODAL": 1, "TIPOUSO": "X", "APL": "A"}}
                for k in once
            ]
        )
        # dedup(dedup(x)) == dedup(x) modulo the key round-trip
        assert len(again) <= len(once)
        assert len(set(once)) == len(once)  # no duplicates survive

    @given(st.lists(st.integers(0, 5), min_size=1, max_size=20))
    @settings(max_examples=50, deadline=None)
    def test_get_extent_corner_count(self, _):
        ext = compat.get_extent([0.0, 1.0, 0.0, 0.0, 0.0, -1.0], 7, 9)
        assert len(ext) == 4
        xs = [p[0] for p in ext]
        ys = [p[1] for p in ext]
        assert min(xs) == 0.0 and max(xs) == 7.0
        assert min(ys) == -9.0 and max(ys) == 0.0


def _py_point_in_rings(px, py, rings):
    crossings = 0
    for ring in rings:
        n = len(ring)
        for i in range(n):
            ax, ay = ring[i]
            bx, by = ring[(i + 1) % n]
            if (ay > py) != (by > py):
                if px < (bx - ax) * (py - ay) / (by - ay) + ax:
                    crossings += 1
    return crossings % 2 == 1


class TestEvenOddHoleProperty:
    """Even-odd over [shell, hole] ≡ in-shell AND NOT in-hole — the
    algebraic identity the multi-ring kernel relies on (valid geometry:
    hole strictly inside shell)."""

    @given(pt=POINTS, inner_r=st.floats(0.1, 0.4))
    @settings(max_examples=100, deadline=None)
    def test_annulus_identity(self, pt, inner_r):
        import math as m

        shell = [
            (2.0 * m.cos(a), 2.0 * m.sin(a))
            for a in [i * 2 * m.pi / 8 for i in range(8)]
        ]
        hole = [
            (inner_r * m.cos(a), inner_r * m.sin(a))
            for a in [i * 2 * m.pi / 6 for i in range(6)]
        ]
        px, py = pt
        expected = _py_point_in_ring(px, py, shell) and not _py_point_in_ring(
            px, py, hole
        )
        assert _py_point_in_rings(px, py, [shell, hole]) == expected


class TestMortonKeyProperties:
    """morton_key must be a bijection on 16-bit pairs: even bits carry x,
    odd bits carry y — verified by decoding the Spark-computed key in
    pure Python."""

    @given(
        pts=st.lists(
            st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
            min_size=1,
            max_size=30,
        )
    )
    @settings(max_examples=20, deadline=None)
    def test_interleave_roundtrip(self, pts, spark):
        from pyspark.sql import functions as F

        from datalake_imagenes_georreferenciadas_spark.functions.geo import morton_key

        df = spark.createDataFrame(pts, "qx long, qy long")
        got = df.select(
            "qx", "qy", morton_key(F.col("qx"), F.col("qy")).alias("z")
        ).collect()

        def deinterleave(z):
            x = y = 0
            for b in range(16):
                x |= ((z >> (2 * b)) & 1) << b
                y |= ((z >> (2 * b + 1)) & 1) << b
            return x, y

        for r in got:
            assert deinterleave(r["z"]) == (r["qx"], r["qy"])


class TestWinnowingGuarantee:
    """The winnowing guarantee: two docs sharing a contiguous token run
    of length >= w + k - 1 share at least one fingerprint."""

    @given(seed=st.integers(0, 10_000))
    @settings(max_examples=25, deadline=None)
    def test_shared_run_shares_fingerprint(self, seed):
        import hashlib
        import random

        k, w = 3, 4
        rng = random.Random(seed)
        vocab = [f"tok{i}" for i in range(50)]
        shared = [rng.choice(vocab) for _ in range(w + k - 1)]

        def doc(prefix_n, suffix_n):
            return (
                [rng.choice(vocab) for _ in range(prefix_n)]
                + shared
                + [rng.choice(vocab) for _ in range(suffix_n)]
            )

        def fingerprints(toks):
            shs = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
            hs = [
                int(hashlib.md5(f"0:{s}".encode()).hexdigest()[:15], 16) for s in shs
            ]
            return {min(hs[i : i + w]) for i in range(len(hs) - w + 1)}

        d1 = doc(rng.randint(0, 8), rng.randint(0, 8))
        d2 = doc(rng.randint(0, 8), rng.randint(0, 8))
        assert fingerprints(d1) & fingerprints(d2)


class TestResampleProperties:
    def test_interpolated_values_convex_and_exact_at_events(self, spark):
        """Grid values lie within [min, max] of the key's event values,
        and a grid point coinciding with an event takes its value."""
        import datetime

        from datalake_imagenes_georreferenciadas_spark.operators.asof import resample_interpolate

        base = datetime.datetime(2024, 1, 1, 0, 0, 0)

        def t(mins):
            return base + datetime.timedelta(minutes=mins)

        rows = [
            # user 1: event exactly on the hour grid at 60min
            (1, 1, t(10), 10.0),
            (2, 1, t(60), 99.0),
            (3, 1, t(100), 20.0),
            # user 2: plain interpolation between 0.0 and 8.0
            (4, 2, t(50), 0.0),
            (5, 2, t(70), 8.0),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, ts timestamp, value double"
        )
        out = {
            (r["user_id"], r["grid_epoch"]): r["value"]
            for r in resample_interpolate(df).collect()
        }
        epoch0 = int(base.replace(tzinfo=datetime.timezone.utc).timestamp())
        # user 1, grid at +60min == event 2 exactly
        assert out[(1, epoch0 + 3600)] == 99.0
        # user 2, grid at +60min: halfway between 0.0 and 8.0
        assert out[(2, epoch0 + 3600)] == 4.0
        for (u, _), v in out.items():
            vals = [r[3] for r in rows if r[1] == u]
            assert min(vals) <= v <= max(vals)


# ---- interval-union sweep line vs brute-force coverage ----------------


def _brute_coverage(intervals: list[tuple[int, int]]) -> int:
    covered: set[int] = set()
    for s, e in intervals:
        covered.update(range(s, e))
    return len(covered)


def _sweep_coverage(intervals: list[tuple[int, int]]) -> int:
    """Mirror of the ts_interval_coverage island reduction in pure
    Python: new island when start exceeds the running max end."""
    total = 0
    lo = hi = None
    for s, e in sorted(intervals):
        if lo is None or s > hi:
            if lo is not None:
                total += hi - lo
            lo, hi = s, e
        else:
            hi = max(hi, e)
    if lo is not None:
        total += hi - lo
    return total


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 500), st.integers(1, 40)).map(
            lambda p: (p[0], p[0] + p[1])
        ),
        min_size=1,
        max_size=30,
    )
)
def test_sweep_line_equals_brute_force(intervals):
    assert _sweep_coverage(intervals) == _brute_coverage(intervals)


# ---- prefix-sum rewrite vs naive theta join ---------------------------


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 9), min_size=1, max_size=200))
def test_prefix_sum_equals_theta_join(bands):
    """count(rows with band' < b) per present band b: running sum over
    ordered band counts == the naive quadratic definition."""
    from collections import Counter

    counts = Counter(bands)
    ordered = sorted(counts)
    prefix, acc = {}, 0
    for b in ordered:
        prefix[b] = acc
        acc += counts[b]
    naive = {b: sum(1 for x in bands if x < b) for b in ordered}
    assert prefix == naive


# ---- interval-overlap bucketing: completeness + exactly-once ----------


@st.composite
def interval_pairs(draw):
    n = draw(st.integers(1, 15))
    a = [(s, s + draw(st.integers(1, 10))) for s in (draw(st.integers(0, 60)) for _ in range(n))]
    m = draw(st.integers(1, 15))
    b = [(s, s + draw(st.integers(1, 10))) for s in (draw(st.integers(0, 60)) for _ in range(m))]
    return a, b


@settings(max_examples=200, deadline=None)
@given(interval_pairs())
def test_bucket_join_finds_each_overlap_exactly_once(pairs):
    """The week-bucket plan of j_interval_overlap: bucket equi-join +
    exact predicate + first-shared-bucket filter ≡ the naive O(n·m)
    overlap join, with multiplicity preserved (no distinct)."""
    W = 7
    a, b = pairs
    naive = [
        (i, j)
        for i, (as_, ae) in enumerate(a)
        for j, (bs, be) in enumerate(b)
        if as_ < be and bs < ae
    ]
    bucketed = []
    for i, (as_, ae) in enumerate(a):
        for wk in range(as_ // W, ae // W + 1):
            for j, (bs, be) in enumerate(b):
                if not (bs // W <= wk <= be // W):
                    continue
                if as_ < be and bs < ae and wk == max(as_ // W, bs // W):
                    bucketed.append((i, j))
    assert sorted(bucketed) == sorted(naive)


# ---- triangle counting: degree-ordered orientation ≡ naive ------------


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)), max_size=40))
def test_oriented_wedge_triangles_equal_naive(raw):
    """graph_triangles' plan: orient by (degree, id), generate out-edge
    wedges, close against the canonical edge set — must count exactly the
    naive a<b<c triangles, once each."""
    edges = sorted({(min(u, v), max(u, v)) for u, v in raw if u != v})
    es = set(edges)
    naive = {
        (x, y, z)
        for (x, y) in edges
        for (y2, z) in edges
        if y2 == y and (x, z) in es
    }
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    oriented = [
        (u, v) if (deg[u], u) < (deg[v], v) else (v, u) for u, v in edges
    ]
    out = {}
    for s, d in oriented:
        out.setdefault(s, []).append(d)
    found = []
    for x, outs in out.items():
        outs = sorted(outs)
        for i in range(len(outs)):
            for j in range(i + 1, len(outs)):
                y, z = outs[i], outs[j]
                if (min(y, z), max(y, z)) in es:
                    found.append(tuple(sorted((x, y, z))))
    assert sorted(found) == sorted(tuple(sorted(t)) for t in naive)
    assert len(found) == len(set(found))  # exactly once
