"""Spatial join operators (SURVEY J2–J5, §4.3) — the reference's heart.

The reference classifies each image centroid against cadastral parcels:
containment first (``Polygon.contains``, script_geo.py:84), then a
nearest-vertex fallback across three tiers (script_geo.py:92-140). Note
SURVEY §2.11 bug 1: the reference *accidentally discards* its containment
result; we implement the intent (containment, then NN fallback).

Plan shapes, scale-first:

- **contains_join (v1)**: broadcast the polygon dimension (parcels are
  MBs, images are the 100 TB side) → BroadcastNestedLoopJoin with a
  codegen'd ray-casting predicate. No shuffle of the fact side at all.
- **contains_join_grid (v2, the §4.3 scale path)**: explode each polygon
  to the grid cells its bbox overlaps, give each point its cell, and
  **equi-join on cell** before the exact ray-cast. Catalyst shuffle-
  partitions the equi-join; skewed cells are handled by AQE skew-join.
- **nearest_vertex_join (J3)**: explode polygons to vertices (a one-time
  dimension prep, exactly like the reference's ``allcoor`` index,
  script_geo.py:146-154), broadcast, then argmin per point via
  ``min(struct(dist, tiebreak...))`` — deterministic ties by parcel id,
  fixing §2.11 bug 6 (float-equality matching).
- **classify_points (3A pipeline)**: ONE broadcast left join of the
  points with the polygons (a point without coordinates meets none) →
  ONE argmin per point ranking containment above the nearest vertex →
  ``method`` by ``when``: an unlocated point keeps nulls and the P7
  label, implementing §2.11 bug 2's intent. The fact side is scanned
  once.

Polygon encoding: ``rings array<array<struct<x:double,y:double>>>`` —
every ring of the (Multi)Polygon, exterior shells and interior holes
alike, as plain Spark types (WKT would round-trip through a parser for no
benefit here). Containment is the even-odd ray-cast over all rings
(functions.geo.point_in_rings), so holes subtract and MultiPolygon parts
add without the operator caring which ring is which — matching shapely's
semantics in the reference (script_geo.py:50-57,84).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.geo import dist2, grid_cell, point_in_rings
from .topk import argmin_per_group

#: the parcel columns the reference reports for a classified image
PARCEL_KEEP = ("id_predio", "nombre")
#: the grid cell edge of ``contains_join_grid``, in coordinate units
GRID_EPS = 0.5


def contains_join(points: DataFrame, polys: DataFrame) -> DataFrame:
    """J2: point-in-polygon inner join of ``points(lon, lat)`` with
    ``polys(rings)``, broadcast-nested-loop with a ray-cast predicate over
    all rings (holes honored). Use when the polygon side fits in memory
    (the reference's own assumption — it holds all parcels in a driver
    list)."""
    pred = point_in_rings(points["lon"], points["lat"], polys["rings"])
    return points.join(F.broadcast(polys), pred, "inner")


def contains_join_grid(points: DataFrame, polys: DataFrame) -> DataFrame:
    """J2 at scale (§4.3): grid-cell equi-join prefilter, then exact test.

    Each polygon is exploded to every ``GRID_EPS`` cell its bounding box overlaps
    (dimension-side blowup is bounded and tiny); each point maps to exactly
    one cell. The join becomes ``point.cell = poly.cell`` — an equi-join
    Catalyst can hash-partition — and the ray-cast runs only on survivors.
    The bbox spans ALL rings (for valid geometry the shells' bbox — holes
    lie inside shells; MultiPolygon parts each contribute).
    """
    cells = polys.withColumn(
        "__flat", F.flatten(F.col("rings"))
    ).withColumn(
        "__cells",
        F.expr(
            f"""
            flatten(transform(
              sequence(cast(floor(array_min(transform(__flat, p -> p.x)) / {GRID_EPS}) as bigint),
                       cast(floor(array_max(transform(__flat, p -> p.x)) / {GRID_EPS}) as bigint)),
              cx -> transform(
                sequence(cast(floor(array_min(transform(__flat, p -> p.y)) / {GRID_EPS}) as bigint),
                         cast(floor(array_max(transform(__flat, p -> p.y)) / {GRID_EPS}) as bigint)),
                cy -> struct(cx as cx, cy as cy))))
            """
        ),
    ).withColumn("__cell", F.explode("__cells")).drop("__cells", "__flat")
    pts = points.withColumn("__cell", grid_cell(F.col("lon"), F.col("lat"), GRID_EPS))
    joined = pts.join(cells, "__cell")
    return joined.filter(point_in_rings(F.col("lon"), F.col("lat"), F.col("rings"))).drop(
        "__cell"
    )


def explode_vertices(polys: DataFrame) -> DataFrame:
    """Dimension prep for J3: one row per polygon vertex across every ring
    — shells and holes, like the reference's ``allcoor`` vertex→parcel
    index built from the full nested coordinate walk
    (script_geo.py:50-57,146-154)."""
    return polys.select(
        *PARCEL_KEEP, F.explode(F.flatten(F.col("rings"))).alias("__v")
    ).select(*PARCEL_KEEP, F.col("__v.x").alias("vx"), F.col("__v.y").alias("vy"))


def nearest_vertex_join(points: DataFrame, polys: DataFrame) -> DataFrame:
    """J3–J5: nearest polygon vertex per ``points(img_id, lon, lat)``,
    deterministic argmin.

    Broadcast the (small) vertex dimension against the point fact table,
    compute squared distance, and ``min(struct(dist, id_predio, nombre))``
    per point — one partial-aggregated shuffle on point id, no window
    state. Ties break on the parcel columns' ordering (documented,
    deterministic).
    """
    verts = explode_vertices(polys)
    crossed = points.select("img_id", "lon", "lat").join(F.broadcast(verts))
    scored = crossed.withColumn(
        "dist2", dist2(F.col("lon"), F.col("lat"), F.col("vx"), F.col("vy"))
    )
    return argmin_per_group(scored, ["img_id"], F.col("dist2"), [*PARCEL_KEEP, "vx", "vy"])


def classify_points(
    points: DataFrame, polys: DataFrame, keep: tuple[str, ...] = PARCEL_KEEP
) -> DataFrame:
    """The 3A classifier over ``points(img_id, lon, lat)`` and
    ``polys(rings, keep...)``: containment first, nearest-vertex
    fallback, P7 null-guard label for points with no coordinates (§2.11
    intent).

    Output: ``img_id`` + ``keep`` columns + ``method`` ∈
    {'contains', 'nearest', 'IMAGEN NO CLASIFICABLE'}.

    One broadcast left join scores every located (point, polygon) pair
    with BOTH the containment flag and the min vertex distance, then ONE
    argmin whose sort key ranks containment above proximity:
      (0, 0.0, keep...)  for containing polygons  → min keep wins (the
                           deterministic overlap tie-break)
      (1, d2,  keep...)  otherwise                → nearest vertex wins
    Same winners as the contains-then-fallback cascade (the vx/vy
    tie-break of the vertex formulation only ordered rows WITHIN a
    polygon and never changed which polygon won). An unlocated point
    joins no polygon and keeps one row whose NULLs carry each keep
    column's type; ``__u`` is non-null only on those rows, so each is a
    group of its own. At 100 TB the fact side is scanned ONCE.
    """
    px, py = F.col("lon"), F.col("lat")
    rings = F.col("rings")
    located = px.isNotNull() & py.isNotNull()
    # the nondeterministic id is projected first: Spark groups on no
    # nondeterministic expression
    pts = points.select(
        "img_id", "lon", "lat", F.when(~located, F.monotonically_increasing_id()).alias("__u")
    )
    side = polys.select(*keep, "rings", F.lit(True).alias("__p"))
    scored = (
        pts.join(F.broadcast(side), located, "left")
        # a located point with no polygon at all gets no row, as in the
        # oracle's inner joins
        .filter(F.col("__u").isNotNull() | F.col("__p"))
        .select(
            "img_id",
            "__u",
            *keep,
            point_in_rings(px, py, rings).alias("__in"),
            F.array_min(
                F.transform(F.flatten(rings), lambda p: dist2(px, py, p["x"], p["y"]))
            ).alias("__vd2"),
        )
    )
    rank = F.struct(
        F.when(F.col("__in"), 0).otherwise(1).alias("r"),
        F.when(F.col("__in"), F.lit(0.0)).otherwise(F.col("__vd2")).alias("d"),
        *[F.col(c) for c in keep],
        F.col("__in"),
    )
    win = scored.groupBy("img_id", "__u").agg(F.min(rank).alias("__w"))
    return win.select(
        "img_id",
        *[F.col(f"__w.{c}").alias(c) for c in keep],
        F.when(F.col("__u").isNotNull(), F.lit("IMAGEN NO CLASIFICABLE"))
        .when(F.col("__w.__in"), F.lit("contains"))
        .otherwise(F.lit("nearest"))
        .alias("method"),
    )
