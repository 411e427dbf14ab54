"""Hand-made geo fixture (FIXTURES.md §B) shared by the Spark plans and the
DuckDB oracle as inline VALUES.

Geometry model mirrors the reference's (script_geo.py:3,50-57,84): each
parcel is a Polygon or MultiPolygon whose ``rings`` hold every ring —
exterior shells first, interior holes after (orientation-free: containment
is the even-odd ray-cast, so ring order/winding never matter). P1–P3 are
the original convex single-ring parcels; P4 carries a hole (annulus); P5
is a MultiPolygon of two shells, the second with a hole — the cadastral
shapes shapely's ``Polygon(...).contains`` honors and a single-ring test
would misclassify.

Image centroids cover every branch: inside each parcel, inside P4's hole
(NOT contained → nearest fallback), in each P5 part, inside P5's hole,
outside-all, and null → the P7 unclassifiable branch (script_geo.py:75,
85-86).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions import tiff
from ..tables import local_frame

# (img_id, lon, lat)
POINTS: list[tuple[int, float | None, float | None]] = [
    (1, 1.0, 1.0),      # inside P1 (triangle)
    (2, 1.5, 0.6),      # inside P1
    (3, 5.5, 5.5),      # inside P2 (square)
    (4, 5.2, 5.9),      # inside P2
    (5, 10.3, 0.8),     # inside P3 (pentagon)
    (6, 3.0, 3.1),      # outside all → NN fallback
    (7, 8.0, 8.5),      # outside all → NN fallback
    (8, -2.0, -2.0),    # outside all → NN fallback
    (9, None, None),    # unlocatable → IMAGEN NO CLASIFICABLE
    (10, None, 4.0),    # half-null → unclassifiable
    (11, 12.2, 6.2),    # inside P4's annulus (shell minus hole) → contains
    (12, 12.75, 6.75),  # inside P4's HOLE → not contained → nearest
    (13, 0.7, 8.7),     # inside P5 part A → contains
    (14, 4.7, 9.8),     # inside P5 part B, outside its hole → contains
    (15, 4.0, 9.0),     # inside P5 part B's HOLE → not contained → nearest
]

# id_predio, nombre, codigo, seccion, rodal, tipouso, apl,
# rings = [shell, hole*, shell2, hole*...] (flattened MultiPolygon parts)
POLYS: list[dict] = [
    {
        "id_predio": "P1",
        "nombre": "FUNDO_UNO",
        "codigo": "C01",
        "seccion": "S1",
        "rodal": "R1",
        "tipouso": "BOSQUE",
        "apl": "A",
        "rings": [[(0.0, 0.0), (3.0, 0.0), (1.0, 2.5)]],
    },
    {
        "id_predio": "P2",
        "nombre": "FUNDO_DOS",
        "codigo": "C02",
        "seccion": "S2",
        "rodal": "R2",
        "tipouso": "PRADERA",
        "apl": "B",
        "rings": [[(5.0, 5.0), (6.0, 5.0), (6.0, 6.0), (5.0, 6.0)]],
    },
    {
        "id_predio": "P3",
        "nombre": "FUNDO_TRES",
        "codigo": "C03",
        "seccion": "S3",
        "rodal": "R3",
        "tipouso": "BOSQUE",
        "apl": "A",
        "rings": [[(9.5, 0.0), (10.5, -0.3), (11.2, 0.5), (10.4, 1.4), (9.7, 1.1)]],
    },
    {
        # Polygon with an interior ring: 1.5×1.5 shell, 0.5×0.5 hole
        "id_predio": "P4",
        "nombre": "FUNDO_ANILLO",
        "codigo": "C04",
        "seccion": "S4",
        "rodal": "R4",
        "tipouso": "PRADERA",
        "apl": "B",
        "rings": [
            [(12.0, 6.0), (13.5, 6.0), (13.5, 7.5), (12.0, 7.5)],
            [(12.5, 6.5), (13.0, 6.5), (13.0, 7.0), (12.5, 7.0)],
        ],
    },
    {
        # MultiPolygon: part A (plain square) + part B (square with hole)
        "id_predio": "P5",
        "nombre": "FUNDO_MULTI",
        "codigo": "C05",
        "seccion": "S5",
        "rodal": "R5",
        "tipouso": "BOSQUE",
        "apl": "A",
        "rings": [
            [(0.0, 8.0), (1.5, 8.0), (1.5, 9.5), (0.0, 9.5)],
            [(3.0, 8.0), (5.0, 8.0), (5.0, 10.0), (3.0, 10.0)],
            [(3.6, 8.6), (4.4, 8.6), (4.4, 9.4), (3.6, 9.4)],
        ],
    },
]


def spark_points(spark: SparkSession) -> DataFrame:
    return local_frame(spark, POINTS, "img_id long, lon double, lat double")


def spark_polys(spark: SparkSession) -> DataFrame:
    rows = [
        (
            p["id_predio"],
            p["nombre"],
            p["codigo"],
            p["seccion"],
            p["rodal"],
            p["tipouso"],
            p["apl"],
            [[{"x": x, "y": y} for x, y in ring] for ring in p["rings"]],
        )
        for p in POLYS
    ]
    return local_frame(
        spark,
        rows,
        "id_predio string, nombre string, codigo string, seccion string, rodal string, "
        "tipouso string, apl string, rings array<array<struct<x double, y double>>>",
    )


def _fmt(v: float | None) -> str:
    return "NULL" if v is None else repr(float(v))


def points_values_sql() -> str:
    """``(VALUES ...) AS pts(img_id, lon, lat)`` body."""
    rows = ", ".join(
        f"({i}, {_fmt(x)}::DOUBLE, {_fmt(y)}::DOUBLE)" for i, x, y in POINTS
    )
    return f"(VALUES {rows}) AS pts(img_id, lon, lat)"


def vertices_values_sql() -> str:
    """``(VALUES ...) AS v(id_predio, nombre, seq, x, y)`` — every vertex
    of every ring (shells AND holes), the reference's ``allcoor`` walk over
    all coordinate arrays (script_geo.py:50-57,146-154)."""
    rows = []
    for p in POLYS:
        seq = 0
        for ring in p["rings"]:
            for x, y in ring:
                seq += 1
                rows.append(
                    f"('{p['id_predio']}', '{p['nombre']}', {seq}, {x!r}::DOUBLE, {y!r}::DOUBLE)"
                )
    return f"(VALUES {', '.join(rows)}) AS v(id_predio, nombre, seq, x, y)"


def edges_values_sql() -> str:
    """``(VALUES ...) AS e(id_predio, nombre, x1, y1, x2, y2)`` — closed
    edge walk per ring (shells and holes), same wraparound as
    functions.geo.ring_crossings."""
    rows = []
    for p in POLYS:
        for ring in p["rings"]:
            n = len(ring)
            for i in range(n):
                (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % n]
                rows.append(
                    f"('{p['id_predio']}', '{p['nombre']}', {x1!r}::DOUBLE, {y1!r}::DOUBLE, {x2!r}::DOUBLE, {y2!r}::DOUBLE)"
                )
    return f"(VALUES {', '.join(rows)}) AS e(id_predio, nombre, x1, y1, x2, y2)"


def crossings_sql() -> str:
    """Even-odd ray-cast as SQL over the ``e`` edge table: crossing count
    of the rightward ray from (p.lon, p.lat), exactly mirroring the engine's
    ``_edge_crosses`` float expression (same operand order → identical
    IEEE doubles in both engines). Group by polygon and test
    ``% 2 = 1`` for containment — valid for holes, MultiPolygons, and
    concave rings alike. The inner CASE keeps the division off
    non-straddling (possibly horizontal, y2=y1) edges.
    """
    return (
        "sum(CASE WHEN (e.y1 > p.lat) != (e.y2 > p.lat) THEN "
        "CASE WHEN p.lon < (e.x2 - e.x1) * (p.lat - e.y1) / (e.y2 - e.y1) + e.x1 "
        "THEN 1 ELSE 0 END ELSE 0 END)"
    )


def ring_edges_values_sql() -> str:
    """``(VALUES ...) AS re(id_predio, ring_idx, x1, y1, x2, y2)`` —
    closed edge walk PER RING with the ring's index, for ring-level
    shoelace areas."""
    rows = []
    for p in POLYS:
        for ridx, ring in enumerate(p["rings"]):
            n = len(ring)
            for i in range(n):
                (x1, y1), (x2, y2) = ring[i], ring[(i + 1) % n]
                rows.append(
                    f"('{p['id_predio']}', {ridx}, {x1!r}::DOUBLE, {y1!r}::DOUBLE, "
                    f"{x2!r}::DOUBLE, {y2!r}::DOUBLE)"
                )
    return f"(VALUES {', '.join(rows)}) AS re(id_predio, ring_idx, x1, y1, x2, y2)"


def polys_props_values_sql() -> str:
    """``(VALUES ...) AS pp(id_predio, nombre, codigo, seccion, rodal, tipouso, apl)``."""
    rows = ", ".join(
        f"('{p['id_predio']}', '{p['nombre']}', '{p['codigo']}', '{p['seccion']}', "
        f"'{p['rodal']}', '{p['tipouso']}', '{p['apl']}')"
        for p in POLYS
    )
    return (
        f"(VALUES {rows}) AS pp(id_predio, nombre, codigo, seccion, rodal, tipouso, apl)"
    )


#: geotransform fixture for F8 — (img_id, gt[6], cols, rows)
RASTERS: list[tuple[int, list[float], int, int]] = [
    (1, [200000.0, 0.5, 0.0, 6000000.0, 0.0, -0.5], 1000, 800),
    (2, [350000.0, 2.0, 0.1, 5500000.0, -0.1, -2.0], 512, 512),
    (3, [100.0, 1.0, 0.0, 100.0, 0.0, -1.0], 10, 10),
]


def rasters_values_sql() -> str:
    rows = ", ".join(
        f"({i}, {gt[0]!r}, {gt[1]!r}, {gt[2]!r}, {gt[3]!r}, {gt[4]!r}, {gt[5]!r}, {c}, {r})"
        for i, gt, c, r in RASTERS
    )
    return f"(VALUES {rows}) AS rast(img_id, gt0, gt1, gt2, gt3, gt4, gt5, cols, rows)"


def spark_rasters(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark, RASTERS, "img_id long, gt array<double>, cols int, rows int"
    )


# ---- image fixtures: real EXIF JPEGs and GeoTIFFs from generating
# integers, so the oracles recompute every decoded value in closed form
# (s1_python_datasource, s7_exif_gps_scan, s8_geotiff_meta_scan)


def exif_jpeg(i: int) -> bytes:
    """JPEG ``i``: EXIF GPS (17 + i%17)°S (60 + i%12)°W, minutes and
    hundredths of seconds from ``i``."""
    return tiff.write_jpeg_exif_gps(
        (17 + i % 17, (i * 7) % 60, (i * 131) % 6000, 100),
        (60 + i % 12, (i * 11) % 60, (i * 173) % 6000, 100),
        south=True,
        west=True,
    )


def geotiff(i: int) -> bytes:
    """GeoTIFF ``i``: (512 + i%256) x (256 + i%128) pixels, origin and
    pixel size dyadic rationals of ``i``, so both engines agree bit-exactly."""
    return tiff.write_geotiff(
        512 + i % 256,
        256 + i % 128,
        200000.0 + i * 250.25,
        6000000.0 - i * 125.5,
        0.25 + (i % 8) / 16.0,
        0.25 + (i % 4) / 8.0,
    )
