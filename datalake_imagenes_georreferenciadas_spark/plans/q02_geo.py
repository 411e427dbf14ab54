"""Registry segment 02 (mechanical split of plans/queries.py, r17).

- GEO — J2/J3 spatial joins + F8 affine (SURVEY M3) on the shared fixture
- SESSION / WINDOWED EVENTS (SURVEY §2.9 EXT)
- CATALOG — the reference's data model end-to-end (SURVEY M2)
- MULTIMODAL — binaryFile scan + Arrow-batched decode (SURVEY S1/S7/S8)
- EXT — as-of / range joins, rank windows, grouping sets (SURVEY §2.3/§2.5)
- EXT — dedup families #4/#5: exact n-gram Jaccard, embedding cosine

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    D,
    DataFrame,
    F,
    GF,
    H,
    SIM,
    SparkSession,
    V,
    Window,
    affine_extent,
    classify_points,
    contains_join,
    contains_join_grid,
    documents_catalog,
    drain,
    dsum,
    dsum_sql,
    events_stream,
    local_frame,
    nearest_vertex_join,
    register,
    sessionize,
    sliding_window_agg,
    table,
    tumbling_window_agg,
)

# ======================================================================
# GEO — J2/J3 spatial joins + F8 affine (SURVEY M3) on the shared fixture
# ======================================================================

_GEO_CONTAINS_SQL = f"""
WITH pts AS (SELECT * FROM {GF.points_values_sql()}),
e AS (SELECT * FROM {GF.edges_values_sql()}),
cr AS (
  SELECT p.img_id, e.id_predio, e.nombre,
         {GF.crossings_sql()} AS crossings
  FROM pts p CROSS JOIN e
  WHERE p.lon IS NOT NULL AND p.lat IS NOT NULL
  GROUP BY p.img_id, e.id_predio, e.nombre)
SELECT img_id, id_predio, nombre FROM cr WHERE crossings % 2 = 1
"""


# road fixture: 4 probe segments (id, ax, ay, bx, by) — R1 crosses the
# triangle + pentagon, R2 the square, R3 the annulus shell AND its hole,
# R4 nothing (the zero row the left join must keep)
_ROADS = (
    (1, -1.0, 0.9, 14.0, 0.9),
    (2, 4.0, 4.2, 7.0, 7.2),
    (3, 12.2, 5.5, 12.8, 8.0),
    (4, -1.5, -1.5, -0.5, -0.5),
)


def _ccw_sql(ax, ay, bx, by, cx, cy):
    return f"(({bx} - {ax}) * ({cy} - {ay}) - ({by} - {ay}) * ({cx} - {ax}))"


_GEO_CROSSINGS_SQL = f"""
WITH e AS (SELECT * FROM {{edges}}),
r AS (SELECT * FROM (VALUES {', '.join(f'({i}, {ax}::DOUBLE, {ay}::DOUBLE, {bx}::DOUBLE, {by}::DOUBLE)' for i, ax, ay, bx, by in _ROADS)})
      AS r(road_id, ax, ay, bx, by)),
hits AS (
  SELECT r.road_id, e.id_predio
  FROM r JOIN e
    ON {_ccw_sql('r.ax','r.ay','r.bx','r.by','e.x1','e.y1')}
       * {_ccw_sql('r.ax','r.ay','r.bx','r.by','e.x2','e.y2')} < 0
   AND {_ccw_sql('e.x1','e.y1','e.x2','e.y2','r.ax','r.ay')}
       * {_ccw_sql('e.x1','e.y1','e.x2','e.y2','r.bx','r.by')} < 0)
SELECT r.road_id, count(h.id_predio) AS n_crossings,
       count(DISTINCT h.id_predio) AS n_parcels
FROM r LEFT JOIN hits h USING (road_id)
GROUP BY r.road_id
"""


@register(
    "geo_edge_crossings",
    _GEO_CROSSINGS_SQL.format(edges=GF.edges_values_sql()),
)
def geo_edge_crossings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-segment intersection (route × parcel-boundary overlay):
    for each probe road, how many boundary edges it properly crosses
    and how many distinct parcels those belong to — the computational-
    geometry kernel under route planning and parcel-impact analysis.
    Proper crossing is the standard double-orientation test (both
    endpoint pairs strictly straddle the other segment:
    ccw(A,B,C)·ccw(A,B,D) < 0 twice) — pure sign arithmetic on cross
    products, identical operand order both engines, no trigonometry and
    no epsilon. Holes count: R3 crosses the annulus shell twice AND its
    interior ring twice. The left join keeps the zero-crossing road.
    Scale: roads broadcast against the edge table (edges are the big
    side at fleet scale); a bbox/grid prefilter (geo_contains_grid's
    cell trick) would bound candidates before the exact test."""
    polys = GF.spark_polys(spark)
    rings = polys.select("id_predio", F.explode("rings").alias("ring"))
    edges = rings.select(
        "id_predio",
        F.explode(
            F.expr(
                "transform(ring, (p, i) -> struct("
                "p.x AS x1, p.y AS y1, "
                "element_at(ring, (i + 1) % size(ring) + 1).x AS x2, "
                "element_at(ring, (i + 1) % size(ring) + 1).y AS y2))"
            )
        ).alias("e"),
    ).select("id_predio", "e.*")
    roads = local_frame(
        spark, _ROADS, "road_id long, ax double, ay double, bx double, by double"
    )

    def ccw(ax, ay, bx, by, cx, cy):
        return (F.col(bx) - F.col(ax)) * (F.col(cy) - F.col(ay)) - (
            F.col(by) - F.col(ay)
        ) * (F.col(cx) - F.col(ax))

    cond = (
        ccw("ax", "ay", "bx", "by", "x1", "y1")
        * ccw("ax", "ay", "bx", "by", "x2", "y2")
        < 0
    ) & (
        ccw("x1", "y1", "x2", "y2", "ax", "ay")
        * ccw("x1", "y1", "x2", "y2", "bx", "by")
        < 0
    )
    hits = F.broadcast(roads).join(edges, cond).select("road_id", "id_predio")
    return (
        roads.join(hits, "road_id", "left")
        .groupBy("road_id")
        .agg(
            F.count("id_predio").alias("n_crossings"),
            F.countDistinct("id_predio").alias("n_parcels"),
        )
    )


_GEO_AREAL_SQL = f"""
WITH v AS (SELECT * FROM {GF.vertices_values_sql()}),
b AS (SELECT id_predio, min(x) AS x1, min(y) AS y1, max(x) AS x2, max(y) AS y2
      FROM v GROUP BY id_predio),
gx AS (SELECT unnest(range(0, 14)) AS cx),
gy AS (SELECT unnest(range(-1, 10)) AS cy),
o AS (
  SELECT cx, cy, id_predio,
         greatest(0.0, least(x2, cx + 1) - greatest(x1, cx))
           * greatest(0.0, least(y2, cy + 1) - greatest(y1, cy))
           / ((x2 - x1) * (y2 - y1)) AS frac
  FROM b, gx, gy)
SELECT cx, cy, count(*) AS n_parcels,
       CAST(sum(CAST(floor(frac * 1e9 + 0.5) AS BIGINT)) AS BIGINT)
         AS density_nano
FROM o WHERE frac > 0 GROUP BY cx, cy
"""


@register("geo_areal_weighted", _GEO_AREAL_SQL)
def geo_areal_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Areal interpolation (bbox tier): distribute each parcel onto a
    regular analysis grid weighted by the FRACTION of the parcel's
    bounding box falling in each cell — the downscaling step that turns
    irregular cadastral units into raster-aligned statistics (population
    /land-use gridding). Interval-overlap arithmetic is closed-form
    (`greatest/least` clamps per axis), identical operand order both
    engines; per-pair weights are fixed-pointed to nano units BEFORE the
    aggregate so the cell sum is integer-exact regardless of addend
    order. Scale shape: bboxes are O(#parcels) — broadcast against the
    (tiny, generated) grid; at fleet scale the join becomes an equi-join
    on overlapping cell-id ranges (each bbox expands to its covered cell
    ids — bounded by bbox size), never a cartesian against the full
    grid."""
    verts = (
        GF.spark_polys(spark)
        .select("id_predio", F.explode("rings").alias("ring"))
        .select("id_predio", F.explode("ring").alias("pt"))
        .select("id_predio", F.col("pt.x").alias("x"), F.col("pt.y").alias("y"))
    )
    bbox = verts.groupBy("id_predio").agg(
        F.min("x").alias("x1"),
        F.min("y").alias("y1"),
        F.max("x").alias("x2"),
        F.max("y").alias("y2"),
    )
    gx = spark.range(0, 14).select(F.col("id").alias("cx"))
    gy = spark.range(-1, 10).select(F.col("id").alias("cy"))
    cells = gx.crossJoin(gy)
    wx = F.greatest(
        F.lit(0.0), F.least(F.col("x2"), F.col("cx") + 1) - F.greatest(F.col("x1"), F.col("cx"))
    )
    wy = F.greatest(
        F.lit(0.0), F.least(F.col("y2"), F.col("cy") + 1) - F.greatest(F.col("y1"), F.col("cy"))
    )
    frac = wx * wy / ((F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1")))
    o = bbox.crossJoin(F.broadcast(cells)).select(
        "cx", "cy", frac.alias("frac")
    )
    return (
        o.filter(F.col("frac") > 0)
        .groupBy("cx", "cy")
        .agg(
            F.count("*").alias("n_parcels"),
            F.sum(F.floor(F.col("frac") * 1e9 + F.lit(0.5)).cast("long")).alias(
                "density_nano"
            ),
        )
    )


@register("geo_contains", _GEO_CONTAINS_SQL)
def geo_contains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: point-in-polygon broadcast join, even-odd ray-cast over all
    rings — holes and MultiPolygon parts honored (script_geo.py:84; the
    oracle mirrors the exact float expression, geo_fixture.crossings_sql)."""
    pts = GF.spark_points(spark).filter(
        F.col("lon").isNotNull() & F.col("lat").isNotNull()
    )
    polys = GF.spark_polys(spark)
    return contains_join(pts, polys).select("img_id", "id_predio", "nombre")


@register("geo_contains_grid", _GEO_CONTAINS_SQL)
def geo_contains_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 scale path (§4.3): grid-cell equi-join prefilter + exact ray-cast
    — must produce exactly the broadcast join's result."""
    pts = GF.spark_points(spark).filter(
        F.col("lon").isNotNull() & F.col("lat").isNotNull()
    )
    polys = GF.spark_polys(spark)
    return contains_join_grid(pts, polys).select("img_id", "id_predio", "nombre")


_GEO_KNN_SQL = f"""
WITH pts AS (SELECT * FROM {GF.points_values_sql()}),
v AS (SELECT * FROM {GF.vertices_values_sql()}),
d AS (
  SELECT p.img_id, v.id_predio, v.nombre, v.x AS vx, v.y AS vy,
         (p.lon - v.x) * (p.lon - v.x) + (p.lat - v.y) * (p.lat - v.y) AS dist2
  FROM pts p CROSS JOIN v
  WHERE p.lon IS NOT NULL AND p.lat IS NOT NULL)
SELECT img_id, id_predio, nombre, vx, vy FROM (
  SELECT *, row_number() OVER (PARTITION BY img_id
                               ORDER BY dist2, id_predio, nombre, vx, vy) AS rn
  FROM d) WHERE rn = 1
"""


@register("geo_knn", _GEO_KNN_SQL)
def geo_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3-J5: nearest-vertex KNN with deterministic argmin (the reference's
    3-tier nearest search collapsed into one plan, script_geo.py:92-140)."""
    pts = GF.spark_points(spark).filter(
        F.col("lon").isNotNull() & F.col("lat").isNotNull()
    )
    polys = GF.spark_polys(spark)
    return nearest_vertex_join(pts, polys)


_KNN_CELL = 4.0

_GEO_KNN_GRID_SQL = f"""
WITH pts AS (SELECT * FROM {GF.points_values_sql()}),
v AS (SELECT *, floor(x / {_KNN_CELL})::BIGINT AS cx,
               floor(y / {_KNN_CELL})::BIGINT AS cy
      FROM {GF.vertices_values_sql()}),
probe AS (
  SELECT p.img_id, p.lon, p.lat,
         floor(p.lon / {_KNN_CELL})::BIGINT + dx.d AS cx,
         floor(p.lat / {_KNN_CELL})::BIGINT + dy.d AS cy
  FROM pts p,
       (SELECT unnest([-1, 0, 1]) AS d) dx,
       (SELECT unnest([-1, 0, 1]) AS d) dy
  WHERE p.lon IS NOT NULL AND p.lat IS NOT NULL),
cand AS (
  SELECT pr.img_id, v.id_predio, v.nombre, v.x AS vx, v.y AS vy,
         (pr.lon - v.x) * (pr.lon - v.x) + (pr.lat - v.y) * (pr.lat - v.y)
           AS dist2
  FROM probe pr JOIN v ON pr.cx = v.cx AND pr.cy = v.cy),
grid_nn AS (
  SELECT img_id, id_predio, nombre, vx, vy FROM (
    SELECT *, row_number() OVER (PARTITION BY img_id
                                 ORDER BY dist2, id_predio, nombre, vx, vy) AS rn
    FROM cand) WHERE rn = 1),
brute AS ({_GEO_KNN_SQL})
SELECT g.img_id, g.id_predio, g.nombre, g.vx, g.vy,
       (g.id_predio = b.id_predio AND g.vx = b.vx AND g.vy = b.vy)
         AS matches_brute
FROM grid_nn g JOIN brute b USING (img_id)
"""


@register("geo_knn_grid", _GEO_KNN_GRID_SQL)
def geo_knn_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3-J5 SCALE path: grid-bucketed nearest-vertex search — each
    located point probes its 3×3 neighborhood of 4-unit cells
    and the argmin runs over those candidates only, turning the
    all-pairs cross join (`geo_knn`) into a shuffle-partitionable
    equi-join on the cell key, the same §4.3 rewrite
    `geo_contains_grid` applies to containment. Probe expansion is a
    fixed 9 rows per point (data-independent). The output carries its
    own exactness proof: `matches_brute` compares the grid answer to
    the full brute-force argmin in-engine (true whenever the true NN
    lies within one cell ring — guaranteed here by the fixture's
    geometry; at fleet scale the standard escalation re-probes wider
    rings for the rare unmatched point)."""
    pts = GF.spark_points(spark).filter(
        F.col("lon").isNotNull() & F.col("lat").isNotNull()
    )
    polys = GF.spark_polys(spark)
    verts = (
        polys.select("id_predio", "nombre", F.explode("rings").alias("ring"))
        .select("id_predio", "nombre", F.explode("ring").alias("pt"))
        .select(
            "id_predio",
            "nombre",
            F.col("pt.x").alias("x"),
            F.col("pt.y").alias("y"),
        )
        .withColumn("cx", F.floor(F.col("x") / _KNN_CELL))
        .withColumn("cy", F.floor(F.col("y") / _KNN_CELL))
    )
    d = F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    probe = (
        pts.select("img_id", "lon", "lat", d.alias("dx"))
        .select("img_id", "lon", "lat", "dx", d.alias("dy"))
        .select(
            "img_id",
            "lon",
            "lat",
            (F.floor(F.col("lon") / _KNN_CELL) + F.col("dx")).alias("cx"),
            (F.floor(F.col("lat") / _KNN_CELL) + F.col("dy")).alias("cy"),
        )
    )
    dist2 = (F.col("lon") - F.col("x")) * (F.col("lon") - F.col("x")) + (
        F.col("lat") - F.col("y")
    ) * (F.col("lat") - F.col("y"))
    cand = probe.join(F.broadcast(verts), ["cx", "cy"]).select(
        "img_id", "id_predio", "nombre",
        F.col("x").alias("vx"), F.col("y").alias("vy"),
        dist2.alias("dist2"),
    )
    w = Window.partitionBy("img_id").orderBy(
        "dist2", "id_predio", "nombre", "vx", "vy"
    )
    grid_nn = (
        cand.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn", "dist2")
    )
    brute = nearest_vertex_join(pts, polys).select(
        "img_id",
        F.col("id_predio").alias("b_predio"),
        F.col("vx").alias("b_vx"),
        F.col("vy").alias("b_vy"),
    )
    # brute is one row per image — corpus-sized, so the self-proving
    # equi-join carries no broadcast hint (AQE decides)
    return grid_nn.join(brute, "img_id").select(
        "img_id",
        "id_predio",
        "nombre",
        "vx",
        "vy",
        (
            (F.col("id_predio") == F.col("b_predio"))
            & (F.col("vx") == F.col("b_vx"))
            & (F.col("vy") == F.col("b_vy"))
        ).alias("matches_brute"),
    )


_GEO_CLASSIFY_SQL = f"""
WITH pts AS (SELECT * FROM {GF.points_values_sql()}),
e AS (SELECT * FROM {GF.edges_values_sql()}),
v AS (SELECT * FROM {GF.vertices_values_sql()}),
cr AS (
  SELECT p.img_id, e.id_predio, e.nombre,
         {GF.crossings_sql()} AS crossings
  FROM pts p CROSS JOIN e
  WHERE p.lon IS NOT NULL AND p.lat IS NOT NULL
  GROUP BY p.img_id, e.id_predio, e.nombre),
inside AS (
  SELECT img_id, id_predio, nombre FROM (
    SELECT img_id, id_predio, nombre,
           row_number() OVER (PARTITION BY img_id ORDER BY id_predio, nombre) AS rn
    FROM cr WHERE crossings % 2 = 1) WHERE rn = 1),
near AS (
  SELECT img_id, id_predio, nombre FROM (
    SELECT d.img_id, d.id_predio, d.nombre,
           row_number() OVER (PARTITION BY d.img_id
                              ORDER BY d.dist2, d.id_predio, d.nombre, d.vx, d.vy) AS rn
    FROM (
      SELECT p.img_id, v.id_predio, v.nombre, v.x AS vx, v.y AS vy,
             (p.lon - v.x) * (p.lon - v.x) + (p.lat - v.y) * (p.lat - v.y) AS dist2
      FROM pts p CROSS JOIN v
      WHERE p.lon IS NOT NULL AND p.lat IS NOT NULL
        AND p.img_id NOT IN (SELECT img_id FROM inside)) d) WHERE rn = 1)
SELECT img_id, id_predio, nombre, 'contains' AS method FROM inside
UNION ALL SELECT img_id, id_predio, nombre, 'nearest' AS method FROM near
UNION ALL SELECT img_id, NULL AS id_predio, NULL AS nombre,
                 'IMAGEN NO CLASIFICABLE' AS method
FROM pts WHERE lon IS NULL OR lat IS NULL
"""


@register("geo_classify", _GEO_CLASSIFY_SQL)
def geo_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3A classifier: containment first, NN fallback, unclassifiable →
    nulls (§2.11 intent semantics)."""
    return classify_points(GF.spark_points(spark), GF.spark_polys(spark))


_GEO_AFFINE_SQL = f"""
WITH rast AS (SELECT * FROM {GF.rasters_values_sql()}),
c AS (SELECT * FROM (VALUES (0), (1), (2), (3)) AS c(corner)),
px AS (
  SELECT img_id, corner,
         CASE WHEN corner IN (2, 3) THEN cols ELSE 0 END::DOUBLE AS px,
         CASE WHEN corner IN (1, 2) THEN rows ELSE 0 END::DOUBLE AS py,
         gt0, gt1, gt2, gt3, gt4, gt5
  FROM rast CROSS JOIN c)
SELECT img_id, corner,
       round(gt0 + px * gt1 + py * gt2, 6) AS x,
       round(gt3 + px * gt4 + py * gt5, 6) AS y
FROM px
"""


@register("geo_affine_extent", _GEO_AFFINE_SQL)
def geo_affine_extent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: geotransform → 4-corner extent, pure column arithmetic
    (GetExtent, script_geo.py:19-30)."""
    rast = GF.spark_rasters(spark)
    ext = rast.withColumn("ext", affine_extent(F.col("gt"), F.col("cols"), F.col("rows")))
    return ext.select(
        "img_id", F.posexplode("ext").alias("corner", "pt")
    ).select(
        "img_id",
        "corner",
        F.round(F.col("pt.x"), 6).alias("x"),
        F.round(F.col("pt.y"), 6).alias("y"),
    )


# ======================================================================
# SESSION / WINDOWED EVENTS (SURVEY §2.9 EXT)
# ======================================================================


@register(
    "session_stats",
    """
    WITH o AS (
      SELECT user_id, event_id, ts, value,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev
      FROM events WHERE ts IS NOT NULL),
    m AS (SELECT *, CASE WHEN prev IS NULL OR (epoch(ts) - epoch(prev)) > 1800.0
                         THEN 1 ELSE 0 END AS new_sess FROM o),
    s AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM m)
    SELECT user_id, session_seq, count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM s GROUP BY user_id, session_seq
    """,
)
def session_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands) + per-session aggregates.

    Oracle note: DuckDB's windowed ``sum(INTEGER)`` yields HUGEINT
    (int128), which an Arrow/pandas fetch widens to float64 — hashing
    ``3.0`` against Spark's ``3``. The oracle CASTs the running sum to
    BIGINT so both engines emit int64 (CORRECTNESS_r01 red cell).
    """
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    s = sessionize(ev)
    return s.groupBy("user_id", "session_seq").agg(
        F.count("*").alias("n_events"), dsum(F.col("value")).alias("sum_value")
    )


_TUMBLING_SQL = """
SELECT (epoch(time_bucket(INTERVAL '10 minutes', ts)))::BIGINT AS window_start_epoch,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


@register("tumbling_window_agg", _TUMBLING_SQL)
def tumbling_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregate (batch twin of the streaming query);
    NULL event times are excluded on both sides (r16 contract)."""
    return tumbling_window_agg(table(spark, sf_dir, "events"))


_SLIDING_SQL = """
SELECT (epoch(time_bucket(INTERVAL '5 minutes', ts)
        - (k * INTERVAL '5 minutes')))::BIGINT AS window_start_epoch,
       event_type, count(*) AS n
FROM events CROSS JOIN (VALUES (0), (1)) AS ks(k)
WHERE ts IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "sliding_window_agg",
    _SLIDING_SQL,
)
def sliding_window_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min window, 5 min slide) — each event lands in 2
    overlapping windows. Null event time excluded (r16 contract)."""
    return sliding_window_agg(table(spark, sf_dir, "events"))


@register("streaming_tumbling", _TUMBLING_SQL)
def streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregate executed as a Structured Streaming query
    (file source, availableNow trigger, complete-mode memory sink) — proves
    batch/stream semantic parity, checked against the same oracle."""
    stream, src = events_stream(spark, sf_dir)
    return drain(tumbling_window_agg(stream), "complete", src)


# ======================================================================
# CATALOG — the reference's data model end-to-end (SURVEY M2)
# ======================================================================

_CATALOG_ROUNDTRIP_SQL = """
WITH rows0 AS (
  SELECT 'C' || (doc_id % 10)::VARCHAR AS codigo,
         lang AS seccion, source AS especie, 'A' AS apl,
         concat_ws('_', 'C' || (doc_id % 10)::VARCHAR, lang, 'X', 'A') AS indice,
         'lake/BR/C' || (doc_id % 10)::VARCHAR || '/' || doc_id::VARCHAR || '.jpg' AS ruta_resultado
  FROM documents),
ids AS (
  SELECT *, row_number() OVER (ORDER BY indice, ruta_resultado) AS id FROM rows0)
SELECT id, ruta_resultado FROM ids WHERE indice = 'C3_es_X_A'
"""


@register("catalog_roundtrip", _CATALOG_ROUNDTRIP_SQL)
def catalog_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 end-to-end: documents → catalog insert (+run +lineage) → the
    reference's flagship filtered retrieval (mysql_process.py:67-74) on the
    real domain tables. Deterministic ids via row_number over the business
    key, so the whole pipeline is oracle-reproducible."""
    return documents_catalog(spark, sf_dir).filtered_paths(0, [0, 3], "C3_es_X_A")


# ======================================================================
# MULTIMODAL — binaryFile scan + Arrow-batched decode (SURVEY S1/S7/S8)
# ======================================================================

_MULTIMODAL_SQL = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'BR' ELSE 'TIF' END AS clase,
       CASE WHEN doc_id % 2 = 0 THEN
         round(-35.0 + 2.0 * (('0x' || substring(md5(text), 1, 8))::BIGINT / 4294967296.0), 6)
       END AS lat,
       CASE WHEN doc_id % 2 = 0 THEN
         round(-72.0 + 2.0 * (('0x' || substring(md5(text), 9, 8))::BIGINT / 4294967296.0), 6)
       END AS lon,
       CASE WHEN doc_id % 2 = 1 THEN
         round(200000.0 + 1000 * (('0x' || substring(md5(text), 1, 8))::BIGINT / 4294967296.0), 4)
       END AS gt0,
       CASE WHEN doc_id % 2 = 1 THEN
         1000 + floor((('0x' || substring(md5(text), 17, 8))::BIGINT / 4294967296.0) * 1000)::INT
       END AS cols,
       CASE WHEN doc_id % 2 = 1 THEN
         1000 + floor((('0x' || substring(md5(text), 25, 8))::BIGINT / 4294967296.0) * 1000)::INT
       END AS rows
FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
"""


@register("multimodal_meta", _MULTIMODAL_SQL)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal column plumbing end-to-end: write blobs → binaryFile scan
    → Arrow-batched mapInPandas metadata extraction (EXIF/raster decode is
    the documented deterministic stub) → typed metadata columns.

    The oracle reproduces the stub's digest arithmetic in SQL, so schema,
    batching, and dispatch are all value-checked."""
    from ..sources.binary import extract_image_meta, read_binary_dir, stage_documents

    dest = stage_documents(spark, sf_dir)
    binary = read_binary_dir(spark, dest)
    meta = extract_image_meta(binary)
    return meta.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.(jpg|tif)$", 1).cast("long").alias("doc_id"),
        "clase",
        F.round(F.col("lat"), 6).alias("lat"),
        F.round(F.col("lon"), 6).alias("lon"),
        F.round(F.element_at(F.col("gt"), 1), 4).alias("gt0"),
        F.col("cols"),
        F.col("rows"),
    )


_EXIF_GPS_SQL = """
SELECT i AS img_id,
       round(-((17 + i % 17) + ((i * 7) % 60) / 60.0
               + (((i * 131) % 6000) / 100.0) / 3600.0), 6) AS lat,
       round(-((60 + i % 12) + ((i * 11) % 60) / 60.0
               + (((i * 173) % 6000) / 100.0) / 3600.0), 6) AS lon
FROM generate_series(0, 59) t(i)
"""


@register("s7_exif_gps_scan", _EXIF_GPS_SQL)
def s7_exif_gps_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 executed for REAL, no PIL required: the fixture writes 60
    spec-shaped JPEGs whose APP1 segment carries an actual EXIF TIFF
    stream (GPS sub-IFD, DMS RATIONAL triples, S/W hemisphere refs —
    functions/tiff.py), binaryFile-scanned and parsed back byte-level by
    the pure-stdlib EXIF walker inside the Arrow mapInPandas kernel
    (sources/binary.py:_decode_image middle tier; the reference's
    gpsphoto.getGPSData, script_geo.py:170-171). The oracle recomputes
    the same deg + min/60 + sec/3600 closed form from the generating
    integers, so the byte roundtrip is value-checked end to end —
    unlike `multimodal_meta`, whose blobs are text and exercise the
    digest-stub tier."""
    from ..sources.binary import extract_image_meta, read_binary_dir, stage_files

    def to_file(r):
        return f"{r['id']}.jpg", GF.exif_jpeg(r["id"])

    dest = stage_files(spark, "exif_fix", spark.range(60), to_file)
    meta = extract_image_meta(read_binary_dir(spark, dest))
    return meta.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.jpg$", 1)
        .cast("long")
        .alias("img_id"),
        F.round(F.col("lat"), 6).alias("lat"),
        F.round(F.col("lon"), 6).alias("lon"),
    )


_GEOTIFF_META_SQL = """
SELECT i AS img_id,
       512 + i % 256 AS cols, 256 + i % 128 AS rows,
       200000.0::DOUBLE + i * 250.25::DOUBLE AS x0,
       0.25::DOUBLE + (i % 8) / 16.0 AS px,
       6000000.0::DOUBLE - i * 125.5::DOUBLE AS y0,
       -(0.25::DOUBLE + (i % 4) / 8.0) AS neg_py
FROM generate_series(0, 47) t(i)
"""


@register("s8_geotiff_meta_scan", _GEOTIFF_META_SQL)
def s8_geotiff_meta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 executed for REAL, no GDAL required: 48 minimal GeoTIFFs
    (ModelPixelScale + ModelTiepoint DOUBLE tags, sorted IFD —
    functions/tiff.py) are written, binaryFile-scanned, and parsed back
    by the pure-stdlib TIFF walker (the reference's GetGeoTransform,
    script_geo.py:176-179) into the affine geotransform + dimensions.
    All fixture values are dyadic rationals, so engine and oracle agree
    bit-exactly with no rounding at all."""
    from ..sources.binary import extract_image_meta, read_binary_dir, stage_files

    def to_file(r):
        return f"{r['id']}.tif", GF.geotiff(r["id"])

    dest = stage_files(spark, "geotiff_fix", spark.range(48), to_file)
    meta = extract_image_meta(read_binary_dir(spark, dest))
    return meta.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.tif$", 1)
        .cast("long")
        .alias("img_id"),
        F.col("cols").cast("long").alias("cols"),
        F.col("rows").cast("long").alias("rows"),
        F.element_at("gt", 1).alias("x0"),
        F.element_at("gt", 2).alias("px"),
        F.element_at("gt", 4).alias("y0"),
        F.element_at("gt", 6).alias("neg_py"),
    )


# ======================================================================
# EXT — as-of / range joins, rank windows, grouping sets (SURVEY §2.3/§2.5)
# ======================================================================


@register(
    "graph_item_similarity",
    """
    WITH bp AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    deg AS (SELECT pk, count(*) AS n FROM bp GROUP BY pk),
    co AS (
      SELECT a.pk AS p1, b.pk AS p2, count(*) AS co
      FROM bp a JOIN bp b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY a.pk, b.pk),
    j AS (
      SELECT p1, p2, co, d1.n AS n1, d2.n AS n2,
             floor(co * 1e6 / (d1.n + d2.n - co) + 0.5)::BIGINT AS jacc_micro
      FROM co JOIN deg d1 ON d1.pk = p1 JOIN deg d2 ON d2.pk = p2)
    SELECT p1, p2, co, n1, n2, jacc_micro FROM (
      SELECT *, row_number() OVER (ORDER BY jacc_micro DESC, p1, p2) AS rn
      FROM j) WHERE rn <= 20
    """,
)
def graph_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering similarity (the recommender
    primitive): parts are similar when the same orders contain both —
    neighbor-set Jaccard |A∩B| / |A∪B| over the order-part bipartite
    graph. Candidates come from the SHARED-ORDER self-join (equi on
    order key — fan-out bounded by basket size, ~4-7 parts per TPC-H
    order, never all item pairs), degrees from one distinct-count pass,
    and the score as fixed-point micro-units so ranking is
    integer-exact. This composes with graph_copurchase (raw pair
    counts) the way BM25 composes with raw term counts — normalization
    turns counts into a comparable score. Scale: at a 10^9-order
    fleet the basket-size bound keeps the pair stream ~|orders|·k²,
    shuffle-partitioned on the order key; hub ITEMS never explode
    because pairs are generated per order, not per item."""
    bp = (
        table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    deg = bp.groupBy("pk").agg(F.count("*").alias("n"))
    a = bp.select("ok", F.col("pk").alias("p1"))
    b = bp.select("ok", F.col("pk").alias("p2"))
    co = (
        a.join(b, "ok")
        .filter(F.col("p1") < F.col("p2"))
        .groupBy("p1", "p2")
        .agg(F.count("*").alias("co"))
    )
    j = (
        co.join(deg.select(F.col("pk").alias("p1"), F.col("n").alias("n1")), "p1")
        .join(deg.select(F.col("pk").alias("p2"), F.col("n").alias("n2")), "p2")
        .select(
            "p1",
            "p2",
            "co",
            "n1",
            "n2",
            F.floor(
                F.col("co") * 1e6 / (F.col("n1") + F.col("n2") - F.col("co"))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("jacc_micro"),
        )
    )
    w = Window.orderBy(F.col("jacc_micro").desc(), "p1", "p2")
    return (
        j.select("p1", "p2", "co", "n1", "n2", "jacc_micro", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )


_TILE_WORLD = 1 << 23  # 8,388,608 m square world → zoom-z tile = WORLD/2^z
_TILE_ZOOMS = (0, 1, 2, 3)


@register(
    "geo_tile_pyramid",
    f"""
    WITH r AS (SELECT * FROM {GF.rasters_values_sql()}),
    c AS (
      SELECT img_id,
             least(gt0, gt0 + gt1*cols, gt0 + gt2*rows, gt0 + gt1*cols + gt2*rows) AS x0,
             greatest(gt0, gt0 + gt1*cols, gt0 + gt2*rows, gt0 + gt1*cols + gt2*rows) AS x1,
             least(gt3, gt3 + gt4*cols, gt3 + gt5*rows, gt3 + gt4*cols + gt5*rows) AS y0,
             greatest(gt3, gt3 + gt4*cols, gt3 + gt5*rows, gt3 + gt4*cols + gt5*rows) AS y1
      FROM r),
    z AS (SELECT unnest([{', '.join(str(z) for z in _TILE_ZOOMS)}]) AS zoom)
    SELECT img_id, zoom,
           floor(x0 / ({_TILE_WORLD} / (1 << zoom)))::BIGINT AS tx_min,
           floor(y0 / ({_TILE_WORLD} / (1 << zoom)))::BIGINT AS ty_min,
           (floor(x1 / ({_TILE_WORLD} / (1 << zoom)))::BIGINT
              - floor(x0 / ({_TILE_WORLD} / (1 << zoom)))::BIGINT + 1)
           * (floor(y1 / ({_TILE_WORLD} / (1 << zoom)))::BIGINT
              - floor(y0 / ({_TILE_WORLD} / (1 << zoom)))::BIGINT + 1)
             AS n_tiles
    FROM c, z
    """,
)
def geo_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tile-pyramid planning for raster serving (the XYZ/slippy-map
    layout, zooms 0-3 over a fixed 2^23 m world): each raster's affine
    geotransform (script_geo.py:177 parity — the same gt[6] the
    reference reads from GDAL) yields its exact corner extent
    (including skew terms), and per zoom the covered tile-id rectangle
    (tx, ty ranges + count) — the partition layout a 100 TB imagery
    lake serves and compacts by. All integer/closed-form double
    arithmetic, identical operand order both engines; the zoom axis is
    a generated 4-row explode, so the plan is map-only over the raster
    catalog."""
    r = GF.spark_rasters(spark)
    g = [F.col("gt").getItem(i) for i in range(6)]
    xs = [
        g[0],
        g[0] + g[1] * F.col("cols"),
        g[0] + g[2] * F.col("rows"),
        g[0] + g[1] * F.col("cols") + g[2] * F.col("rows"),
    ]
    ys = [
        g[3],
        g[3] + g[4] * F.col("cols"),
        g[3] + g[5] * F.col("rows"),
        g[3] + g[4] * F.col("cols") + g[5] * F.col("rows"),
    ]
    c = r.select(
        "img_id",
        F.least(*xs).alias("x0"),
        F.greatest(*xs).alias("x1"),
        F.least(*ys).alias("y0"),
        F.greatest(*ys).alias("y1"),
    )
    z = c.select(
        "*", F.explode(F.array(*[F.lit(z) for z in _TILE_ZOOMS])).alias("zoom")
    )
    # powers of two are exact doubles, so WORLD / 2^z matches the
    # oracle's integer-shift division bit-for-bit
    size = F.lit(float(_TILE_WORLD)) / F.pow(F.lit(2.0), F.col("zoom"))
    tx0 = F.floor(F.col("x0") / size).cast("long")
    tx1 = F.floor(F.col("x1") / size).cast("long")
    ty0 = F.floor(F.col("y0") / size).cast("long")
    ty1 = F.floor(F.col("y1") / size).cast("long")
    return z.select(
        "img_id",
        "zoom",
        tx0.alias("tx_min"),
        ty0.alias("ty_min"),
        ((tx1 - tx0 + 1) * (ty1 - ty0 + 1)).alias("n_tiles"),
    )


_RB_WINDOW_S = 300  # ±5-minute proximity window = the bucket width


@register(
    "j_range_bucketed",
    f"""
    WITH e AS (SELECT event_id, floor(epoch(CAST(ts AS TIMESTAMP)))::BIGINT AS t
               FROM events WHERE event_type = 'error' AND user_id < 200),
    s AS (SELECT floor(epoch(CAST(ts AS TIMESTAMP)))::BIGINT AS t
          FROM events WHERE event_type = 'signup')
    SELECT e.event_id, count(s.t) AS n_nearby
    FROM e LEFT JOIN s ON abs(s.t - e.t) <= {_RB_WINDOW_S}
    GROUP BY e.event_id
    """,
)
def j_range_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join via interval bucketing — the rewrite that
    scales a pure-proximity join (no equi key: every error vs every
    signup within ±5 min, ACROSS users). Naive is |E|·|S| cross; the
    engine buckets time into window-width cells, expands the probe side
    into its cell ±1 (3 rows each — bounded, data-independent), and
    equi-joins on the cell with the true |Δt| ≤ w residual. Each
    qualifying pair meets in exactly ONE cell (the build row's own), so
    no dedup pass is needed. This is the temporal twin of the spatial
    grid trick (`geo_contains_grid`) — shuffle-partitionable where the
    oracle's inequality join is not. The left join keeps zero-match
    errors in the output."""
    ev = table(spark, sf_dir, "events")
    t_sec = F.unix_timestamp("ts")
    err = ev.filter(
        (F.col("event_type") == "error") & (F.col("user_id") < 200)
    ).select(
        "event_id",
        t_sec.alias("t"),
        F.floor(t_sec / _RB_WINDOW_S).alias("cell"),
    )
    sig = ev.filter(F.col("event_type") == "signup").select(
        t_sec.alias("s_t"),
        F.floor(t_sec / _RB_WINDOW_S).alias("s_cell"),
    )
    sig_exp = sig.select(
        "s_t",
        F.explode(
            F.array(
                F.col("s_cell") - 1, F.col("s_cell"), F.col("s_cell") + 1
            )
        ).alias("cell"),
    )
    joined = err.join(
        sig_exp,
        (err.cell == sig_exp.cell)
        & (F.abs(F.col("s_t") - F.col("t")) <= _RB_WINDOW_S),
        "left",
    )
    return joined.groupBy("event_id").agg(
        F.count("s_t").alias("n_nearby")
    )


@register(
    "j_range_join",
    """
    SELECT e.event_id, count(p.event_id) AS n_purchases
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON p.user_id = e.user_id
     AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL '30 minutes'
    GROUP BY e.event_id
    """,
)
def j_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: purchases within 30min after each error,
    per user. Equi-key keeps it a hash join; range is a residual filter."""
    from ..operators.asof import range_join

    ev = table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("e_id"), F.col("user_id"), F.col("ts").alias("e_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"), F.col("user_id"), F.col("ts").alias("p_ts")
    )
    joined = range_join(
        errors,
        purchases,
        F.col("e_ts"),
        F.col("p_ts"),
        F.expr("INTERVAL 0 MINUTES"),
        F.expr("INTERVAL 30 MINUTES"),
    )
    return joined.groupBy(F.col("e_id").alias("event_id")).agg(
        F.count("p_id").alias("n_purchases")
    )


@register(
    "j_asof_join",
    """
    WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
    s AS (SELECT user_id, ts, max(event_id) AS signup_id
          FROM events WHERE event_type = 'signup'
            AND user_id IS NOT NULL AND ts IS NOT NULL
          GROUP BY user_id, ts)
    -- strict inequality semantics: a NULL-ts probe matches NOTHING
    -- (DuckDB's sort-based ASOF would quirk-match it to the latest
    -- entry; the explicit split pins the engine-neutral contract)
    SELECT p.event_id, p.user_id, s.signup_id,
           floor(epoch(s.ts))::BIGINT AS asof_epoch
    FROM (SELECT * FROM p WHERE ts IS NOT NULL) p
    ASOF LEFT JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts
    UNION ALL
    SELECT event_id, user_id, NULL::BIGINT, NULL::BIGINT
    FROM p WHERE ts IS NULL
    """,
)
def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's latest prior signup
    (union + last(ignorenulls) window — one shuffle, no pair explosion).

    r16 null contract: the RIGHT (dimension) side requires key + time —
    a null-keyed or null-ts signup can match nothing in SQL ASOF
    semantics, but the union-merge would group null keys together;
    filtering the signup side keeps left rows intact and both engines
    agree (null-ts/key purchases simply match nothing)."""
    from ..operators.asof import asof_join

    ev = table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = (
        ev.filter(
            (F.col("event_type") == "signup")
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_id"))
    )
    out = asof_join(purchases, signups, ["signup_id"])
    return out.select(
        "event_id",
        "user_id",
        "signup_id",
        F.unix_timestamp("asof_ts").alias("asof_epoch"),
    )


@register(
    "w4_rank_funcs",
    """
    SELECT o_custkey, o_orderkey,
           rank() OVER w AS rnk, dense_rank() OVER w AS drnk,
           ntile(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice DESC, o_orderkey NULLS FIRST)
    """,
)
def w4_rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile ranking windows (SURVEY §2.5 surface)."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@register(
    "a4_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n, {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def a4_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (beyond rollup/cube)."""
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               {dsum_sql('l_quantity')} AS sum_qty
        FROM {{lineitem}}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        lineitem=table(spark, sf_dir, "lineitem"),
    )


@register(
    "a5_approx_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders_exact,
           true AS within_tol
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a5_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct — the 100 TB cardinality path (HLL sketch,
    map-side mergeable). The sketch estimate itself is engine-specific,
    so the oracle checks the exact count plus a tolerance BOOLEAN: the
    engine asserts |approx - exact| <= 10%·exact (5× the configured
    rsd=0.02 — a sketch that far off is broken, not unlucky) and the
    oracle expects `true`. The approximation is thereby externally
    checked without demanding bit-identical HLL registers (same pattern
    as a5_kmv_distinct).

    Plan shape (r10 rewrite): mixing a DISTINCT aggregate with the HLL
    in ONE agg triggers Spark's two-phase distinct rewrite, which
    materializes a partial_approx_count_distinct buffer (~410 longs at
    rsd=0.02) PER (flag, orderkey) PAIR and shuffles all of them —
    hundreds of MB at sf0.1, ruinous at corpus scale. HLL registers are
    max-merged over hashed VALUES, so the sketch over the distinct
    pairs is bit-identical to the sketch over the raw rows: aggregate
    to distinct pairs first (keys-only shuffle, map-side partial), then
    compute BOTH the exact count and the sketch from the pairs (3.6 s
    -> sub-second warm at sf0.1, same output)."""
    pairs = (
        table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_orderkey")
        .distinct()
    )
    return (
        pairs.groupBy("l_returnflag")
        # count(col) not count(*): NULL keys are not a cardinality —
        # matches COUNT(DISTINCT ...) and the HLL, which both skip
        # nulls (r16 null contract)
        .agg(
            F.approx_count_distinct("l_orderkey", 0.02).alias("n_orders_approx"),
            F.count("l_orderkey").alias("n_orders_exact"),
        )
        .select(
            "l_returnflag",
            "n_orders_exact",
            (
                F.abs(F.col("n_orders_approx") - F.col("n_orders_exact"))
                <= 0.1 * F.col("n_orders_exact")
            ).alias("within_tol"),
        )
    )


# ======================================================================
# EXT — dedup families #4/#5: exact n-gram Jaccard, embedding cosine
# ======================================================================

@register(
    "text_tfidf_topk",
    """
    WITH tok AS (
      SELECT doc_id, lower(t.token) AS token
      FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
      WHERE t.token <> ''),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
    df AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY token),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    scored AS (
      SELECT tf.doc_id, tf.token,
             (tf.tf * n.n_docs * 1000000 // df.df)::BIGINT AS score_micro
      FROM tf JOIN df USING (token), n)
    SELECT doc_id, token, score_micro, rank FROM (
      SELECT doc_id, token, score_micro,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score_micro DESC, token) AS rank
      FROM scored) WHERE rank <= 3
    """,
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document TF-IDF keyword extraction (top-3 terms): term
    frequency × inverse document frequency, the classic relevance
    weight (Spärck Jones 1972). The IDF is kept as the exact integer
    rational tf·N·10⁶ ÷ df (floor division) instead of the usual
    log(N/df) — the RANKING is identical for top-k-per-doc and the
    score stays bit-exact cross-engine with no libm log in sight (the
    same discipline as text_bigram_fluency). Plan: one explode, two
    count aggregates at different keys, a token-keyed join back
    (AQE-decided, unhinted — the text_rarity_score rationale), a
    one-row N broadcast, and a per-doc ranking window."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .select("doc_id", F.lower("token").alias("token"))
        .filter(F.col("token") != "")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tok.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    n = tok.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            # integral `div`, not floor(double /): a double quotient one
            # ulp under an integer can round up and break the floor
            F.expr("(tf * n_docs * 1000000L) div df")
            .cast("long")
            .alias("score_micro"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), "token"
    )
    return (
        scored.select(
            "doc_id", "token", "score_micro", F.row_number().over(w).alias("rank")
        )
        .filter(F.col("rank") <= 3)
    )


_NGRAM_MAX_DF = 100
_NGRAM_JACCARD_SQL = f"""
WITH base AS (SELECT doc_id, {H.shingles_sql('text', 3)} AS shingles FROM documents),
ex0 AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(shingles) AS sh FROM base)),
hot AS (SELECT sh FROM ex0 GROUP BY sh HAVING count(*) > {_NGRAM_MAX_DF}),
ex AS (SELECT * FROM ex0 WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id, round(i::DOUBLE / (sa.n + sb.n - i), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(i::DOUBLE / (sa.n + sb.n - i), 6) >= 0.1
"""


@register("dedup_ngram_jaccard", _NGRAM_JACCARD_SQL)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard join (inverted-index equi-join, count-based —
    no arrays cross the shuffle), with the hot-shingle document-frequency
    cap active (VERDICT r1 #5) and mirrored in the oracle."""
    return D.ngram_jaccard_pairs(
        table(spark, sf_dir, "documents"), max_doc_freq=_NGRAM_MAX_DF
    )


_CONTAINMENT_THR = 0.8
_CONTAINMENT_SQL = f"""
WITH base AS (SELECT doc_id, {H.shingles_sql('text', 3)} AS shingles FROM documents),
ex0 AS (SELECT DISTINCT doc_id, sh FROM (SELECT doc_id, unnest(shingles) AS sh FROM base)),
hot AS (SELECT sh FROM ex0 GROUP BY sh HAVING count(*) > {_NGRAM_MAX_DF}),
ex AS (SELECT * FROM ex0 WHERE sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
  FROM ex a JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT a_id, b_id,
       round(i::DOUBLE / sa.n, 6) AS cont_a,
       round(i::DOUBLE / sb.n, 6) AS cont_b
FROM inter
JOIN sizes sa ON sa.doc_id = a_id
JOIN sizes sb ON sb.doc_id = b_id
WHERE round(i::DOUBLE / sa.n, 6) >= {_CONTAINMENT_THR}
   OR round(i::DOUBLE / sb.n, 6) >= {_CONTAINMENT_THR}
"""


@register("dedup_containment", _CONTAINMENT_SQL)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup (operators/dedup.py
    containment_pairs): c(A→B) = |A∩B|/|A| catches documents SUBSUMED by
    larger ones — quotes, truncated mirrors, boilerplate-wrapped reposts
    — which symmetric Jaccard scores near zero. Same inverted-index
    aggregative plan and hot-shingle DF cap as dedup_ngram_jaccard; both
    directions from one intersection count."""
    return D.containment_pairs(
        table(spark, sf_dir, "documents"),
        threshold=_CONTAINMENT_THR,
        max_doc_freq=_NGRAM_MAX_DF,
    )


def _cos_cand_cte(bands: int, planes: int) -> str:
    """The oracle's banded-cosine CTEs ``b`` (per-band hyperplane
    buckets), ``cand`` (distinct candidate pairs) and ``ver`` (their
    exact cosine) at ``bands`` x ``planes``; a query appends its tail.

    One equi-join PER BAND unioned + DISTINCT, exactly the engine's
    band-bucket join + dropDuplicates-before-verify. (An earlier OR-of-
    band-equalities single join forced DuckDB into a nested-loop that
    re-evaluated the un-materialized hyperplane signatures per pair —
    ~14 s at sf0.01; the materialized equi-join form is ~10× cheaper and
    is also the only shape that stays hash-joinable at scale.)"""
    band_cols = ",\n         ".join(
        SIM.hyperplane_signature_sql(
            "embedding", planes, plane_offset=b * planes
        )
        + f" AS bucket{b}"
        for b in range(bands)
    )
    band_union = "\n    UNION ALL\n".join(
        f"    SELECT a.vec_id AS a_id, b2.vec_id AS b_id\n"
        f"    FROM b a JOIN b b2\n"
        f"      ON a.bucket{k} = b2.bucket{k} AND a.vec_id < b2.vec_id"
        for k in range(bands)
    )
    return f"""
WITH b AS MATERIALIZED (
  SELECT vec_id, embedding,
         {band_cols}
  FROM embeddings WHERE embedding IS NOT NULL),
cand AS MATERIALIZED (
  SELECT DISTINCT a_id, b_id FROM (
{band_union}
  )),
ver AS (
  SELECT c.a_id, c.b_id,
         round({V.cosine_sql('va.embedding', 'vb.embedding')}, 6) AS cos
  FROM cand c
  JOIN b va ON va.vec_id = c.a_id
  JOIN b vb ON vb.vec_id = c.b_id)
"""


_COS_BANDS, _COS_PLANES = 4, 5
_COSINE_CAND_CTE = _cos_cand_cte(_COS_BANDS, _COS_PLANES)
_COSINE_PAIRS_SQL = (
    _COSINE_CAND_CTE + "SELECT a_id, b_id, cos FROM ver WHERE cos >= 0.25"
)


@register("dedup_cosine_pairs", _COSINE_PAIRS_SQL)
def dedup_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded OR-of-ANDs hyperplane LSH
    candidates (bounded per-band buckets), exact cosine verify (dedup
    family #5, VERDICT r1 #4)."""
    return SIM.cosine_near_pairs(
        table(spark, sf_dir, "embeddings"), planes_per_band=_COS_PLANES, num_bands=_COS_BANDS
    )


#: unrolled contraction rounds of ``_min_label_components_cte``
N_ROUNDS = 12


def _min_label_components_cte() -> str:
    """Bounded-round min-label contraction over an ``edges`` (src, dst)
    symmetric CTE — the oracle twin of ``D.components_from_edges``'s
    distributed min-label loop, replacing the earlier recursive-CTE
    transitive closure whose ``reach`` set is O(ΣC²) rows (one row per
    reachable pair; ~210 s at sf0.001 before materialization hints, and
    still quadratic in cluster size after them — ADVICE r07 medium).

    Each round: (a) every edge-incident node takes the min label over
    its closed neighborhood (one O(E) join + groupBy, exactly the Spark
    round shape), then (b) path compression — relabel through the label
    table itself (comp := comp[comp], pointer jumping). Compression
    makes convergence O(log diameter), so 12 unrolled rounds cover any
    component the Spark side's 20 plain rounds can resolve, at O(rounds
    × E) total cost. Invariant both steps preserve: comp(x) is the id
    of some node reachable from x, monotonically non-increasing — the
    fixpoint is the component minimum.

    The bound is ENFORCED, not assumed (ADVICE r08): a companion
    ``nonconv`` CTE runs one more un-compressed min-label step over
    ``lab{N_ROUNDS}`` and counts labels that would still shrink; the final
    projection raises via ``error()`` (CASE short-circuits, so the
    branch costs nothing when converged) instead of silently emitting
    unconverged labels as a confusing engine-vs-oracle hash mismatch.
    One extra O(E) join, total cost still O(rounds × E)."""
    parts = ["lab0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS comp FROM edges)"]
    for i in range(1, N_ROUNDS + 1):
        parts.append(
            f"""step{i} AS MATERIALIZED (
  SELECT id, min(comp) AS comp FROM (
    SELECT id, comp FROM lab{i - 1}
    UNION ALL
    SELECT e.dst AS id, l.comp FROM lab{i - 1} l JOIN edges e ON e.src = l.id
  ) GROUP BY id),
lab{i} AS MATERIALIZED (
  SELECT s.id, l.comp FROM step{i} s JOIN step{i} l ON l.id = s.comp)"""
        )
    parts.append(
        f"""nonconv AS (
  SELECT count(*) AS n FROM (
    SELECT id, min(comp) AS comp FROM (
      SELECT id, comp FROM lab{N_ROUNDS}
      UNION ALL
      SELECT e.dst AS id, l.comp FROM lab{N_ROUNDS} l JOIN edges e ON e.src = l.id
    ) GROUP BY id
  ) chk JOIN lab{N_ROUNDS} cur ON cur.id = chk.id AND cur.comp <> chk.comp)"""
    )
    parts.append(
        f"""comp AS (
  SELECT id,
         CASE WHEN (SELECT n FROM nonconv) > 0
              THEN CAST(error('min-label contraction not converged in {N_ROUNDS} rounds — raise n_rounds') AS BIGINT)
              ELSE comp END AS component
  FROM lab{N_ROUNDS})"""
    )
    return ",\n".join(parts)


def _semantic_components_sql(cand_ctes: str) -> str:
    """Oracle of a semantic-components registration: the pairs of
    ``cand_ctes`` (a WITH list ending in ``ver``) at cosine ≥ 0.25 →
    symmetric edges → min-label contraction → one label per vector.
    Components run over edge-incident nodes only — singletons (the vast
    majority) never enter the label loop and get their self-label from
    the final left join."""
    return (
        cand_ctes
        + """, pairs AS MATERIALIZED (SELECT a_id, b_id FROM ver WHERE cos >= 0.25),
edges AS MATERIALIZED (
  SELECT a_id AS src, b_id AS dst FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs),
"""
        + _min_label_components_cte()
        + """
SELECT emb.vec_id,
       CAST(coalesce(comp.component, emb.vec_id) AS BIGINT) AS component
FROM embeddings emb LEFT JOIN comp ON comp.id = emb.vec_id"""
    )


def _semantic_components(spark: SparkSession, sf_dir: str, pairs: DataFrame) -> DataFrame:
    """Spark side of :func:`_semantic_components_sql`: ``pairs(a_id,
    b_id)`` → ``components_from_edges`` → every ``embeddings`` vector
    with its component (its own id when it pairs with nothing)."""
    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    labels = D.components_from_edges(edges)
    vecs = table(spark, sf_dir, "embeddings").select("vec_id")
    return vecs.join(labels, vecs.vec_id == labels.id, "left").select(
        "vec_id",
        F.coalesce("component", F.col("vec_id").cast("long")).alias("component"),
    )


_SEMANTIC_COMPONENTS_SQL = _semantic_components_sql(_COSINE_CAND_CTE)


@register("dedup_semantic_components", _SEMANTIC_COMPONENTS_SQL)
def dedup_semantic_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup clusters: embedding-cosine near-dup
    pairs (banded hyperplane LSH candidates + exact cosine verify, same
    kernel as dedup_cosine_pairs) fed into connected components — every
    vector gets a canonical cluster id (min vec_id reachable), isolated
    vectors label themselves. The keep-one-per-semantic-cluster decision
    for an embedding-deduped corpus, end to end in one plan.

    Scale shape: candidate generation is the banded bucket equi-join
    (never all-pairs), components run on the verified pair graph only
    (edge-incident nodes, ≪ corpus), and the final label assignment is
    one left join back to the vector table. The oracle replays the same
    closure as a recursive CTE."""
    pairs = SIM.cosine_near_pairs(
        table(spark, sf_dir, "embeddings"), planes_per_band=_COS_PLANES, num_bands=_COS_BANDS
    )
    return _semantic_components(spark, sf_dir, pairs)


