"""Geospatial column functions (SURVEY §2 F8–F13, M3).

The reference georeferences images and classifies them against parcel
polygons with row-at-a-time shapely/GDAL calls; here each kernel is a pure
column expression over plain Spark types — ``array<double>`` geotransforms
and ``array<struct<x:double,y:double>>`` rings — so the whole geospatial
layer stays inside whole-stage codegen with zero Python in the hot path.

Reference cites (/root/reference/script_geo.py):
- F8 affine extent from a 6-coeff geotransform — ``GetExtent`` (19-30)
- F11 centroid — line 189 (extent centroid for rasters)
- F12 point-in-polygon — ``Polygon(...).contains`` (84) → ray casting here
- F13 euclidean distance / nearest point — 92, 118-124, 136

CRS reprojection (F9, ``convertirCoordenadas`` 42-61) is a dimension-prep
step done once at polygon load, as column arithmetic too:
:func:`reproject_utm_to_wgs84_approx` (closed-form approximation) and
:func:`reproject_utm_to_wgs84_exact` (Snyder's transverse-Mercator
series) replace pyproj's row-at-a-time transformer.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def affine_extent(gt: Column, cols: Column, rows: Column) -> Column:
    """F8: the 4 corner points of a raster from its geotransform.

    ``x = gt0 + px*gt1 + py*gt2 ; y = gt3 + px*gt4 + py*gt5`` evaluated at
    the pixel-space corners (0,0),(0,rows),(cols,rows),(cols,0) — the same
    corner order as the reference's GetExtent loop (script_geo.py:21-29).
    """
    def corner(px: Column, py: Column) -> Column:
        return F.struct(
            (gt[0] + px * gt[1] + py * gt[2]).alias("x"),
            (gt[3] + px * gt[4] + py * gt[5]).alias("y"),
        )

    zero = F.lit(0).cast("double")
    c = cols.cast("double")
    r = rows.cast("double")
    return F.array(corner(zero, zero), corner(zero, r), corner(c, r), corner(c, zero))


def extent_centroid(extent: Column) -> Column:
    """F11: centroid of the 4-corner extent (mean of corners — exact for
    the parallelogram a geotransform produces; script_geo.py:189)."""
    n = F.size(extent).cast("double")
    return F.struct(
        (F.aggregate(extent, F.lit(0.0), lambda acc, p: acc + p["x"]) / n).alias("x"),
        (F.aggregate(extent, F.lit(0.0), lambda acc, p: acc + p["y"]) / n).alias("y"),
    )


def ring_crossings(px: Column, py: Column, ring: Column) -> Column:
    """Crossing count of a rightward ray from (px,py) against one ring.

    ``ring`` is ``array<struct<x,y>>`` (closed or open — the edge walk
    wraps). One ``aggregate`` higher-order expression: count edges whose
    y-span straddles py and whose x-at-py lies right of px.
    """
    n = F.size(ring)
    idx = F.sequence(F.lit(1), n)
    return F.aggregate(
        idx,
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            _edge_crosses(px, py, F.element_at(ring, i), F.element_at(ring, (i % n) + 1)),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )


def point_in_rings(px: Column, py: Column, rings: Column) -> Column:
    """F12 on full (Multi)Polygon geometry: ``rings`` is
    ``array<array<struct<x,y>>>`` holding every ring — exterior shells AND
    interior holes, flattened across MultiPolygon parts.

    Even-odd rule: total ray crossings over ALL rings, odd = inside. For
    valid geometry (holes inside shells, shells disjoint) this equals
    shapely's ``Polygon(shell, holes).contains`` / MultiPolygon-any-part
    semantics (reference script_geo.py:50-57,84 — the nested coordinate
    walk + shapely containment honoring interior rings): in-shell counts
    1, in-a-hole adds 1 more → even → outside; a second shell adds its
    own odd count for points inside it.
    """
    total = F.aggregate(
        rings, F.lit(0), lambda acc, r: acc + ring_crossings(px, py, r)
    )
    return total % 2 == 1


def _edge_crosses(px: Column, py: Column, a: Column, b: Column) -> Column:
    straddles = (a["y"] > py) != (b["y"] > py)
    x_at_py = (b["x"] - a["x"]) * (py - a["y"]) / (b["y"] - a["y"]) + a["x"]
    return straddles & (px < x_at_py)


def dist2(ax: Column, ay: Column, bx: Column, by: Column) -> Column:
    """F13: squared euclidean distance — ordering-equivalent to the
    reference's nearest_points compares (script_geo.py:118-124), cheaper,
    and free of sqrt rounding in argmin ties."""
    return (ax - bx) * (ax - bx) + (ay - by) * (ay - by)


def reproject_utm_to_wgs84_approx(x: Column, y: Column) -> Column:
    """F9: inverse-Mercator-style approximation of UTM 18S→WGS84 as
    ``struct<lon,lat>`` (the reference's EPSG:32718, script_geo.py:33-39).

    Pure column arithmetic both engines reproduce bit-for-bit; the
    oracles replay it. :func:`reproject_utm_to_wgs84_exact` is the
    accurate series when metres matter.
    """
    # central meridian of UTM zone 18; simple equirectangular inverse
    lon0 = F.lit(-75.0)
    k0 = 0.9996
    r = 6378137.0
    lat = (y - F.lit(10000000.0)) / F.lit(k0 * r) * F.lit(180.0 / 3.141592653589793)
    lon = lon0 + (x - F.lit(500000.0)) / F.lit(k0 * r) * F.lit(180.0 / 3.141592653589793)
    return F.struct(lon.alias("lon"), lat.alias("lat"))


_MORTON_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _morton_spread(v: Column) -> Column:
    """Spread a 16-bit int's bits to even positions (magic-number Morton
    interleave; shift literals unrolled — Spark's shiftleft needs them)."""
    for shift, mask in _MORTON_MASKS:
        v = (v.bitwiseOR(F.shiftleft(v, shift))).bitwiseAND(F.lit(mask))
    return v


def morton_key(qx: Column, qy: Column) -> Column:
    """Z-order (Morton) key from two 16-bit quantized coordinates —
    the space-filling-curve sort key that co-locates spatially-near rows.

    The 100 TB use: ``repartitionByRange(morton_key).sortWithinPartitions``
    before the parquet write clusters each file to a small lon/lat tile,
    so min/max column stats turn bbox predicates into file skips — the
    same effect Delta's OPTIMIZE ZORDER buys, from two plain columns."""
    return _morton_spread(qx.cast("bigint")).bitwiseOR(
        F.shiftleft(_morton_spread(qy.cast("bigint")), 1)
    )


def _morton_spread_sql(expr: str) -> str:
    for shift, mask in _MORTON_MASKS:
        expr = f"((({expr}) | (({expr}) << {shift})) & {mask})"
        # NOTE: textual duplication re-evaluates; fine for the oracle
    return expr


def morton_key_sql(qx_expr: str, qy_expr: str) -> str:
    """DuckDB twin of :func:`morton_key` (same bit algebra)."""
    return f"({_morton_spread_sql(qx_expr)} | ({_morton_spread_sql(qy_expr)} << 1))"


def grid_cell(x: Column, y: Column, eps: float) -> Column:
    """Grid-cell id for the spatial-join prefilter (SURVEY §4.3): the cell
    containing (x,y) at resolution ``eps`` degrees."""
    return F.struct(
        F.floor(x / F.lit(eps)).cast("long").alias("cx"),
        F.floor(y / F.lit(eps)).cast("long").alias("cy"),
    )


# ---- F9 exact: inverse Transverse Mercator (UTM -> WGS84), no pyproj ----
#
# The reference reprojects with pyproj (convertirCoordenadas,
# script_geo.py:33-61); that wheel isn't installable here, but UTM is a
# CLOSED-FORM projection: the standard inverse series (Snyder, "Map
# Projections — A Working Manual", USGS PP 1395, eqs. 3-26, 8-17..8-25)
# is accurate to well under 1 mm inside a zone. The series is generated
# ONCE as SQL text and evaluated by BOTH engines (Spark via F.expr, the
# DuckDB oracle via nested selects), so the formulas cannot drift apart;
# pytest validates absolute accuracy against published ground truth and
# a forward-projection round trip (tests/test_spatial.py).

_WGS84_A = 6378137.0
_WGS84_F = 1.0 / 298.257223563
_E2 = _WGS84_F * (2.0 - _WGS84_F)
_EP2 = _E2 / (1.0 - _E2)
_K0 = 0.9996
_E1 = (1.0 - (1.0 - _E2) ** 0.5) / (1.0 + (1.0 - _E2) ** 0.5)
_M_DENOM = _WGS84_A * (1.0 - _E2 / 4.0 - 3.0 * _E2**2 / 64.0 - 5.0 * _E2**3 / 256.0)
_J1 = 3.0 * _E1 / 2.0 - 27.0 * _E1**3 / 32.0
_J2 = 21.0 * _E1**2 / 16.0 - 55.0 * _E1**4 / 32.0
_J3 = 151.0 * _E1**3 / 96.0
_J4 = 1097.0 * _E1**4 / 512.0
_DEG = 180.0 / 3.141592653589793
#: the southern-hemisphere false northing (every zone the package reads is south)
_FALSE_NORTHING = 10000000.0


def utm_inverse_steps(x_expr: str, y_expr: str, zone: int = 19) -> list[tuple[str, str]]:
    """The inverse-TM series of a southern-hemisphere ``zone`` as ordered
    (column, SQL-expression) steps; later steps reference earlier column
    names. One text, two engines."""
    lon0 = float(zone * 6 - 183)
    return [
        ("__mu", f"(({y_expr}) - {_FALSE_NORTHING!r}) / {_K0!r} / {_M_DENOM!r}"),
        (
            "__phi1",
            f"__mu + {_J1!r} * sin(2.0 * __mu) + {_J2!r} * sin(4.0 * __mu)"
            f" + {_J3!r} * sin(6.0 * __mu) + {_J4!r} * sin(8.0 * __mu)",
        ),
        ("__sp", "sin(__phi1)"),
        ("__cp", "cos(__phi1)"),
        ("__tp", "__sp / __cp"),
        ("__t1", "__tp * __tp"),
        ("__c1", f"{_EP2!r} * __cp * __cp"),
        ("__s15", f"1.0 - {_E2!r} * __sp * __sp"),
        ("__n1", f"{_WGS84_A!r} / sqrt(__s15)"),
        ("__r1", f"{_WGS84_A * (1.0 - _E2)!r} / (__s15 * sqrt(__s15))"),
        ("__d", f"(({x_expr}) - 500000.0) / (__n1 * {_K0!r})"),
        ("__d2", "__d * __d"),
        (
            "lat",
            "(__phi1 - (__n1 * __tp / __r1) * (__d2 / 2.0"
            f" - (5.0 + 3.0 * __t1 + 10.0 * __c1 - 4.0 * __c1 * __c1 - 9.0 * {_EP2!r})"
            " * __d2 * __d2 / 24.0"
            f" + (61.0 + 90.0 * __t1 + 298.0 * __c1 + 45.0 * __t1 * __t1"
            f" - 252.0 * {_EP2!r} - 3.0 * __c1 * __c1)"
            f" * __d2 * __d2 * __d2 / 720.0)) * {_DEG!r}",
        ),
        (
            "lon",
            f"{lon0!r} + ((__d - (1.0 + 2.0 * __t1 + __c1) * __d * __d2 / 6.0"
            f" + (5.0 - 2.0 * __c1 + 28.0 * __t1 - 3.0 * __c1 * __c1"
            f" + 8.0 * {_EP2!r} + 24.0 * __t1 * __t1)"
            f" * __d * __d2 * __d2 / 120.0) / __cp) * {_DEG!r}",
        ),
    ]


def reproject_utm_to_wgs84_exact(df, x_col: str, y_col: str):
    """Apply the exact inverse-TM series (UTM 19S) to a DataFrame: adds
    ``lon`` / ``lat`` columns (dropping the ``__*`` intermediates). Pure
    JVM-side column arithmetic — whole-stage-codegen friendly, no UDF."""
    steps = utm_inverse_steps(x_col, y_col)
    for name, expr in steps:
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*[n for n, _ in steps if n.startswith("__")])


def utm_inverse_sql(source_sql: str, x_expr: str, y_expr: str) -> str:
    """DuckDB twin: the same steps as nested selects over ``source_sql``
    (a relation producing ``x_expr``/``y_expr``)."""
    q = source_sql
    for name, expr in utm_inverse_steps(x_expr, y_expr):
        q = f"SELECT *, {expr} AS {name} FROM ({q})"
    return q


_M0 = 1.0 - _E2 / 4.0 - 3.0 * _E2**2 / 64.0 - 5.0 * _E2**3 / 256.0
_M1 = 3.0 * _E2 / 8.0 + 3.0 * _E2**2 / 32.0 + 45.0 * _E2**3 / 1024.0
_M2 = 15.0 * _E2**2 / 256.0 + 45.0 * _E2**3 / 1024.0
_M3 = 35.0 * _E2**3 / 3072.0
_RAD = 3.141592653589793 / 180.0


def utm_forward_steps(lat_expr: str, lon_expr: str) -> list[tuple[str, str]]:
    """Forward Transverse Mercator (WGS84 lon/lat → UTM 19S easting/
    northing), Snyder eqs. 3-21, 8-9..8-14 — the write-back direction of
    :func:`utm_inverse_steps`, same one-text-two-engines contract
    (pytest round-trips the pair to < 1e-7 deg)."""
    lam0 = -69.0  # central meridian of UTM zone 19
    return [
        ("__phi", f"({lat_expr}) * {_RAD!r}"),
        ("__fsp", "sin(__phi)"),
        ("__fcp", "cos(__phi)"),
        ("__ftp", "__fsp / __fcp"),
        ("__fn1", f"{_WGS84_A!r} / sqrt(1.0 - {_E2!r} * __fsp * __fsp)"),
        ("__ft", "__ftp * __ftp"),
        ("__fc", f"{_EP2!r} * __fcp * __fcp"),
        ("__fa", f"((({lon_expr}) - {lam0!r}) * {_RAD!r}) * __fcp"),
        ("__fa2", "__fa * __fa"),
        (
            "__fm",
            f"{_WGS84_A!r} * ({_M0!r} * __phi - {_M1!r} * sin(2.0 * __phi)"
            f" + {_M2!r} * sin(4.0 * __phi) - {_M3!r} * sin(6.0 * __phi))",
        ),
        (
            "easting",
            f"500000.0 + {_K0!r} * __fn1 * (__fa"
            " + (1.0 - __ft + __fc) * __fa * __fa2 / 6.0"
            f" + (5.0 - 18.0 * __ft + __ft * __ft + 72.0 * __fc"
            f" - 58.0 * {_EP2!r}) * __fa * __fa2 * __fa2 / 120.0)",
        ),
        (
            "northing",
            f"{_FALSE_NORTHING!r} + {_K0!r} * (__fm + __fn1 * __ftp * (__fa2 / 2.0"
            " + (5.0 - __ft + 9.0 * __fc + 4.0 * __fc * __fc)"
            " * __fa2 * __fa2 / 24.0"
            f" + (61.0 - 58.0 * __ft + __ft * __ft + 600.0 * __fc"
            f" - 330.0 * {_EP2!r}) * __fa2 * __fa2 * __fa2 / 720.0))",
        ),
    ]


def reproject_wgs84_to_utm_exact(df, lat_col: str, lon_col: str):
    """Apply the forward-TM series (UTM 19S): adds ``easting``/``northing``
    columns (dropping intermediates). Pure JVM column arithmetic."""
    steps = utm_forward_steps(lat_col, lon_col)
    for name, expr in steps:
        df = df.withColumn(name, F.expr(expr))
    return df.drop(*[n for n, _ in steps if n.startswith("__")])


def utm_forward_sql(source_sql: str, lat_expr: str, lon_expr: str) -> str:
    """DuckDB twin of :func:`reproject_wgs84_to_utm_exact`."""
    q = source_sql
    for name, expr in utm_forward_steps(lat_expr, lon_expr):
        q = f"SELECT *, {expr} AS {name} FROM ({q})"
    return q
