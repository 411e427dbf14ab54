"""operators.spatial + functions.geo — containment, grid prefilter, KNN,
classifier intent semantics (SURVEY J2-J5, §2.11)."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.functions.geo import (
    affine_extent,
    dist2,
    extent_centroid,
    point_in_rings,
)
from datalake_imagenes_georreferenciadas_spark.operators.spatial import (
    GRID_EPS,
    classify_points,
    contains_join,
    contains_join_grid,
    nearest_vertex_join,
)

RINGS_SCHEMA = (
    "id_predio string, nombre string, rings array<array<struct<x:double,y:double>>>"
)


def _sq(x0, y0, side):
    return [
        Row(x=x0, y=y0), Row(x=x0 + side, y=y0),
        Row(x=x0 + side, y=y0 + side), Row(x=x0, y=y0 + side),
    ]


def _polys(spark):
    # unit square at origin and a far square at (10,10)
    return spark.createDataFrame(
        [("P1", "origin", [_sq(0.0, 0.0, 1.0)]), ("P2", "far", [_sq(10.0, 10.0, 1.0)])],
        RINGS_SCHEMA,
    )


def _points(spark, rows):
    return spark.createDataFrame(rows, "img_id long, lon double, lat double")


def _scaled(pts, polys, s):
    """Points and polygons with every coordinate times ``s``: the grid
    join's fixed cells over them are cells of ``GRID_EPS / s`` over the
    original fixture."""
    return (
        pts.select("img_id", (F.col("lon") * s).alias("lon"), (F.col("lat") * s).alias("lat")),
        polys.withColumn(
            "rings",
            F.transform(
                "rings",
                lambda ring: F.transform(
                    ring, lambda p: F.struct((p["x"] * s).alias("x"), (p["y"] * s).alias("y"))
                ),
            ),
        ),
    )


def _grid_and_broadcast(pts, polys, cell):
    """(img_id, id_predio) pairs of the broadcast and of the grid join,
    with the fixture scaled so that each grid cell is ``cell`` units of
    the original fixture."""
    pts, polys = _scaled(pts, polys, GRID_EPS / cell)
    return tuple(
        {(r["img_id"], r["id_predio"]) for r in join(pts, polys).collect()}
        for join in (contains_join, contains_join_grid)
    )


def test_point_in_ring_inside_outside(spark):
    df = spark.createDataFrame(
        [(0.5, 0.5), (1.5, 0.5), (-0.1, 0.0), (0.5, 2.0)], "x double, y double"
    ).withColumn(
        "ring",
        F.expr(
            "array(struct(0.0d as x, 0.0d as y), struct(1.0d as x, 0.0d as y), "
            "struct(1.0d as x, 1.0d as y), struct(0.0d as x, 1.0d as y))"
        ),
    )
    inside = point_in_rings(F.col("x"), F.col("y"), F.array("ring"))
    got = [r["inside"] for r in df.select(inside.alias("inside")).collect()]
    assert got == [True, False, False, False]


def test_contains_join_inner(spark):
    pts = _points(spark, [(1, 0.5, 0.5), (2, 10.5, 10.5), (3, 5.0, 5.0)])
    out = contains_join(pts, _polys(spark)).select("img_id", "id_predio").collect()
    assert {(r["img_id"], r["id_predio"]) for r in out} == {(1, "P1"), (2, "P2")}


def test_grid_join_equals_broadcast_join(spark):
    """§4.3: the scale-path equi-join must reproduce the broadcast result."""
    pts = _points(
        spark, [(1, 0.5, 0.5), (2, 10.5, 10.5), (3, 5.0, 5.0), (4, 0.99, 0.01)]
    )
    polys = _polys(spark)
    for cell in (0.3, 0.5, 2.0):
        a, b = _grid_and_broadcast(pts, polys, cell)
        assert a == b and a, f"cell={cell}"


def test_nearest_vertex_join_picks_closest(spark):
    pts = _points(spark, [(1, 1.2, 1.1), (2, 9.8, 9.9)])
    out = {r["img_id"]: r for r in nearest_vertex_join(pts, _polys(spark)).collect()}
    assert out[1]["id_predio"] == "P1" and (out[1]["vx"], out[1]["vy"]) == (1.0, 1.0)
    assert out[2]["id_predio"] == "P2" and (out[2]["vx"], out[2]["vy"]) == (10.0, 10.0)


def test_nearest_tie_breaks_deterministically(spark):
    # point equidistant from P1's (1,1) and a twin polygon's (1,1)
    sq = _sq(0.0, 0.0, 1.0)
    polys = spark.createDataFrame(
        [("PB", "twin-b", [sq]), ("PA", "twin-a", [sq])], RINGS_SCHEMA
    )
    pts = _points(spark, [(1, 2.0, 2.0)])
    got = nearest_vertex_join(pts, polys).collect()[0]
    assert got["id_predio"] == "PA"  # min over (dist2, id_predio, ...)


def test_classify_contains_beats_nearest(spark):
    """§2.11 bug 1 intent: containment wins even when another polygon's
    vertex is nearer."""
    pts = _points(spark, [(1, 0.5, 0.5), (2, 3.0, 3.0), (3, None, None)])
    out = {r["img_id"]: r for r in classify_points(pts, _polys(spark)).collect()}
    assert (out[1]["method"], out[1]["id_predio"]) == ("contains", "P1")
    assert (out[2]["method"], out[2]["id_predio"]) == ("nearest", "P1")
    assert out[3]["method"] == "IMAGEN NO CLASIFICABLE"
    assert out[3]["id_predio"] is None and out[3]["nombre"] is None


def test_classify_scans_its_input_once(spark, tmp_path):
    """Located and unlocated points come from ONE scan of the input:
    a parquet-backed points frame shows one file scan in the plan that
    ran, not one per branch."""
    path = str(tmp_path / "pts")
    _points(spark, [(1, 0.5, 0.5), (2, 3.0, 3.0), (3, None, None)]).write.parquet(path)
    out = classify_points(spark.read.parquet(path), _polys(spark))
    assert out.count() == 3
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan


def test_classify_total_and_disjoint(spark):
    pts = _points(spark, [(i, float(i), float(i)) for i in range(5)] + [(99, None, None)])
    out = classify_points(pts, _polys(spark)).collect()
    assert len(out) == 6  # every point classified exactly once
    assert len({r["img_id"] for r in out}) == 6


def test_affine_extent_and_centroid(spark):
    df = spark.createDataFrame(
        [([100.0, 2.0, 0.0, 500.0, 0.0, -2.0], 10, 20)], "gt array<double>, cols int, rows int"
    )
    ext = df.select(affine_extent(F.col("gt"), F.col("cols"), F.col("rows")).alias("e"))
    corners = [(p["x"], p["y"]) for p in ext.collect()[0]["e"]]
    # GetExtent order: (0,0),(0,rows),(cols,rows),(cols,0)
    assert corners == [(100.0, 500.0), (100.0, 460.0), (120.0, 460.0), (120.0, 500.0)]
    c = ext.select(extent_centroid(F.col("e")).alias("c")).collect()[0]["c"]
    assert (c["x"], c["y"]) == (110.0, 480.0)


def test_dist2(spark):
    df = spark.createDataFrame([(0.0, 0.0, 3.0, 4.0)], "ax double, ay double, bx double, by double")
    assert df.select(
        dist2(F.col("ax"), F.col("ay"), F.col("bx"), F.col("by")).alias("d")
    ).collect()[0]["d"] == 25.0


@pytest.mark.parametrize("n_pts", [40])
def test_grid_vs_broadcast_property(spark, n_pts):
    """Property check on a pseudo-random scatter (SURVEY §5.2-4)."""
    import random

    rng = random.Random(42)
    pts = _points(
        spark,
        [(i, rng.uniform(-2, 13), rng.uniform(-2, 13)) for i in range(n_pts)],
    )
    a, b = _grid_and_broadcast(pts, _polys(spark), 0.7)
    assert a == b


def test_grid_join_shuffles_both_sides_on_cell(spark):
    """With broadcasts off (both sides too big to ship), the grid join
    hash-partitions points and exploded polygon cells on ``__cell`` — an
    equi-join, never a nested loop or a Cartesian product — and finds
    the same (point, polygon) pairs as the broadcast ray-cast join."""
    import random

    rng = random.Random(7)
    pts = _points(spark, [(i, rng.uniform(-2, 13), rng.uniform(-2, 13)) for i in range(60)])
    # cells of 0.7 units of the fixture
    pts, polys = _scaled(pts, _polys(spark), GRID_EPS / 0.7)
    expected = {
        (r["img_id"], r["id_predio"])
        for r in contains_join(pts, polys).select("img_id", "id_predio").collect()
    }
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        grid = contains_join_grid(pts, polys).select("img_id", "id_predio")
        got = {(r["img_id"], r["id_predio"]) for r in grid.collect()}
        plan = grid._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == expected and expected
    # the polygon side's cell struct is cast to the points' field types
    assert len(re.findall(r"hashpartitioning\((?:cast\()?__cell#", plan)) == 2, plan
    assert re.search(r"SortMergeJoin \[__cell#\d+\], \[cast\(__cell#", plan), plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan


# ---- multi-ring geometry: holes + MultiPolygon (VERDICT r1 item 2) ----


def _holed_polys(spark):
    """P4: 4×4 shell with 2×2 hole; P5: MultiPolygon of two squares, the
    second with a centered hole."""
    return spark.createDataFrame(
        [
            ("P4", "annulus", [_sq(0.0, 0.0, 4.0), _sq(1.0, 1.0, 2.0)]),
            (
                "P5",
                "multi",
                [_sq(10.0, 0.0, 2.0), _sq(20.0, 0.0, 4.0), _sq(21.0, 1.0, 2.0)],
            ),
        ],
        RINGS_SCHEMA,
    )


def test_point_in_rings_honors_holes(spark):
    df = spark.createDataFrame(
        [(0.5, 0.5), (2.0, 2.0), (3.5, 3.5), (5.0, 0.5)], "x double, y double"
    ).withColumn(
        "rings",
        F.expr(
            "array(array(struct(0.0d as x, 0.0d as y), struct(4.0d as x, 0.0d as y), "
            "struct(4.0d as x, 4.0d as y), struct(0.0d as x, 4.0d as y)), "
            "array(struct(1.0d as x, 1.0d as y), struct(3.0d as x, 1.0d as y), "
            "struct(3.0d as x, 3.0d as y), struct(1.0d as x, 3.0d as y)))"
        ),
    )
    got = [
        r["inside"]
        for r in df.select(
            point_in_rings(F.col("x"), F.col("y"), F.col("rings")).alias("inside")
        ).collect()
    ]
    # annulus: in shell / in HOLE / in annulus / outside
    assert got == [True, False, True, False]


def test_contains_join_hole_and_multipolygon(spark):
    pts = _points(
        spark,
        [
            (1, 0.5, 0.5),    # P4 annulus → contained
            (2, 2.0, 2.0),    # P4 hole → NOT contained
            (3, 11.0, 1.0),   # P5 part 1 → contained
            (4, 20.5, 0.5),   # P5 part 2 rim → contained
            (5, 22.0, 2.0),   # P5 part 2 hole → NOT contained
        ],
    )
    out = contains_join(pts, _holed_polys(spark)).select(
        "img_id", "id_predio"
    ).collect()
    assert {(r["img_id"], r["id_predio"]) for r in out} == {
        (1, "P4"), (3, "P5"), (4, "P5")
    }


def test_grid_join_matches_broadcast_on_holed_geometry(spark):
    import random

    rng = random.Random(7)
    pts = _points(
        spark, [(i, rng.uniform(-1, 25), rng.uniform(-1, 5)) for i in range(60)]
    )
    a, b = _grid_and_broadcast(pts, _holed_polys(spark), 1.5)
    assert a == b


def test_classify_hole_point_falls_back_to_nearest(spark):
    pts = _points(spark, [(1, 2.0, 2.0)])  # P4's hole center
    out = classify_points(pts, _holed_polys(spark)).collect()[0]
    assert out["method"] == "nearest" and out["id_predio"] == "P4"


def test_nearest_vertex_includes_hole_vertices(spark):
    # nearest vertex to (2.1, 2.1) is the hole corner (3,3)? no — (2.1,2.1)
    # is nearest to hole corner (1,1)? d2=2.42; (3,3) d2=1.62 → (3,3).
    pts = _points(spark, [(1, 2.1, 2.1)])
    got = nearest_vertex_join(pts, _holed_polys(spark)).collect()[0]
    assert (got["vx"], got["vy"]) == (3.0, 3.0) and got["id_predio"] == "P4"


# ---- F9 exact inverse Transverse Mercator (functions/geo.py) ----------


def _eval_inverse(x: float, y: float, zone: int):
    """Evaluate the shared SQL step chain in pure Python (the same text
    Spark and DuckDB execute)."""
    import math

    from datalake_imagenes_georreferenciadas_spark.functions import geo as G

    env = {"sin": math.sin, "cos": math.cos, "sqrt": math.sqrt}
    vals: dict = {}
    for name, expr in G.utm_inverse_steps(repr(x), repr(y), zone):
        vals[name] = eval(  # noqa: S307 - test-only, our own generated text
            expr.replace("__", "XX"),
            env,
            {k.replace("__", "XX"): v for k, v in vals.items()},
        )
    return vals["lat"], vals["lon"]


def test_utm_inverse_matches_published_ground_truth():
    # CN Tower (the UTM article's worked example): zone 17N,
    # 630084 m E / 4833438 m N == 43.642567 N, 79.387139 W. The
    # easting/northing are meter-rounded, so agreement to ~1e-5 deg
    # (~1 m) is the strongest claim the vector supports. The series is
    # the southern one, whose northing carries the 10,000 km false
    # northing: 4833438 m N is 14833438 m in its frame.
    lat, lon = _eval_inverse(630084.0, 14833438.0, 17)
    assert abs(lat - 43.642567) < 2e-5
    assert abs(lon - (-79.387139)) < 2e-5


def test_utm_inverse_forward_roundtrip_under_1cm():
    # forward TM (Snyder 8-9..8-14, implemented independently here)
    # then the engine's inverse must return to the input within 1e-7 deg
    # (~1 cm) across zone 19S
    import math

    a, f = 6378137.0, 1 / 298.257223563
    e2 = f * (2 - f)
    ep2 = e2 / (1 - e2)
    k0 = 0.9996

    def fwd(lat, lon, zone, south):
        phi, lam = math.radians(lat), math.radians(lon)
        lam0 = math.radians(zone * 6 - 183)
        n = a / math.sqrt(1 - e2 * math.sin(phi) ** 2)
        t = math.tan(phi) ** 2
        c = ep2 * math.cos(phi) ** 2
        aa = (lam - lam0) * math.cos(phi)
        m = a * (
            (1 - e2 / 4 - 3 * e2**2 / 64 - 5 * e2**3 / 256) * phi
            - (3 * e2 / 8 + 3 * e2**2 / 32 + 45 * e2**3 / 1024) * math.sin(2 * phi)
            + (15 * e2**2 / 256 + 45 * e2**3 / 1024) * math.sin(4 * phi)
            - (35 * e2**3 / 3072) * math.sin(6 * phi)
        )
        x = 500000 + k0 * n * (
            aa
            + (1 - t + c) * aa**3 / 6
            + (5 - 18 * t + t**2 + 72 * c - 58 * ep2) * aa**5 / 120
        )
        y = (10000000 if south else 0) + k0 * (
            m
            + n
            * math.tan(phi)
            * (
                aa**2 / 2
                + (5 - t + 9 * c + 4 * c**2) * aa**4 / 24
                + (61 - 58 * t + t**2 + 600 * c - 330 * ep2) * aa**6 / 720
            )
        )
        return x, y

    for lat in (-45.0, -33.45, -18.0):
        for lon in (-72.0, -70.66, -67.0):
            x, y = fwd(lat, lon, 19, True)
            la, lo = _eval_inverse(x, y, 19)
            assert abs(la - lat) < 1e-7 and abs(lo - lon) < 1e-7


def test_utm_inverse_spark_matches_python_eval(spark):
    from datalake_imagenes_georreferenciadas_spark.functions import geo as G

    pts = spark.createDataFrame([(345000.0, 6297000.0)], "x double, y double")
    row = G.reproject_utm_to_wgs84_exact(pts, "x", "y").collect()[0]
    la, lo = _eval_inverse(345000.0, 6297000.0, 19)
    assert abs(row["lat"] - la) < 1e-12 and abs(row["lon"] - lo) < 1e-12


def test_utm_forward_matches_published_ground_truth():
    # CN Tower forward: 43.642567 N, 79.387139 W, zone 17N ->
    # 630084 m E / 4833438 m N (meter-rounded published values). The
    # series is UTM 19S: a point 12 deg (two zones) further east sits at
    # the same offset from zone 19's meridian, and the southern frame
    # adds the 10,000 km false northing.
    import math

    from datalake_imagenes_georreferenciadas_spark.functions import geo as G

    env = {"sin": math.sin, "cos": math.cos, "sqrt": math.sqrt}
    vals: dict = {}
    for name, expr in G.utm_forward_steps("43.642567", "(-79.387139 + 12.0)"):
        vals[name] = eval(  # noqa: S307 - test-only, our own generated text
            expr.replace("__", "XX"),
            env,
            {k.replace("__", "XX"): v for k, v in vals.items()},
        )
    assert abs(vals["easting"] - 630084) < 1.0
    assert abs(vals["northing"] - 10000000.0 - 4833438) < 1.0


def test_utm_forward_inverse_roundtrip(spark):
    from datalake_imagenes_georreferenciadas_spark.functions import geo as G

    pts = spark.createDataFrame(
        [(la, lo) for la in (-45.0, -33.45, -18.0) for lo in (-72.0, -69.0)],
        "lat double, lon double",
    )
    fwd = G.reproject_wgs84_to_utm_exact(pts, "lat", "lon")
    back = G.reproject_utm_to_wgs84_exact(
        fwd.select(
            F.col("lat").alias("lat0"),
            F.col("lon").alias("lon0"),
            "easting",
            "northing",
        ),
        "easting",
        "northing",
    )
    for r in back.collect():
        assert abs(r["lat"] - r["lat0"]) < 1e-7
        assert abs(r["lon"] - r["lon0"]) < 1e-7
