"""Registry segment 03 (mechanical split of plans/queries.py, r17).

- EXT — sinks: CSV roundtrip (S11), content-addressed key (S12)
- EXT — streaming session windows (SURVEY §2.9)
- EXT — F9/F10/F11 reprojection pipeline on the raster fixture
- EXT — IVF ANN, skew-mitigation plans, partitioned publish, multimodal
- EXT — pivot/unpivot, subqueries, percentiles, edit distance
- EXT — multi-join analytics (join-reordering surface), pandas_udf path, map columns
- GEO at volume — the classifier over 20k generated points (bench-scale spatial join, still fully oracle-checked)
- S6 — JSON feature scan (script_geo.py:193-194)
- F — scalar surface pack 2: date arithmetic, strings, arrays, conditionals
- S2 — archive extraction end-to-end (zip + tar.gz + skipped channel)
- F16 — the training-corpus quality pre-filter pipeline
- F16 — winnowing fingerprints (rolling-hash document sketch)
- §2.9 EXT — custom stateful streaming operator (applyInPandasWithState)

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    DataFrame,
    F,
    GEO,
    GF,
    H,
    SIM,
    SparkSession,
    TX,
    V,
    Window,
    _dsum,
    _dsum_sql,
    affine_extent,
    classify_points,
    drain,
    events_stream,
    local_frame,
    os,
    register,
    scratch_dir,
    spread,
    table,
)
from .q01_j1 import _COSINE_ALL_SQL

# ======================================================================
# EXT — sinks: CSV roundtrip (S11), content-addressed key (S12)
# ======================================================================


@register(
    "s11_csv_roundtrip",
    f"""
    SELECT event_type, count(*) AS n, {_dsum_sql('value')} AS sum_value
    FROM events GROUP BY event_type
    """,
)
def s11_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: CSV sink + re-scan roundtrip (script_geo.py:158-160 done right:
    header AND rows). The aggregate over the re-read copy must equal the
    oracle's aggregate over the original — proving the codec loses nothing.

    Lossless-dialect contract (r17): the sink pins an explicit CSV
    dialect instead of engine defaults — quoteAll + RFC-4180
    doubled-quote escaping (escape='\"'), a distinct null sentinel
    (nullValue=\\\\N, so an EMPTY string round-trips as '' instead of
    being read back as NULL — the default dialect's ambiguity misgrouped
    the extreme axis's injected empty strings), and whitespace
    preservation + multiLine on read (embedded newlines and
    leading/trailing spaces survive). Previously an allowlisted
    divergence; now byte-lossless for arbitrary payloads. Scale note:
    multiLine=true makes a single CSV file non-splittable — fine here
    and at 100 TB, where parallelism comes from many files, not from
    splitting one."""
    dest = os.path.join(scratch_dir("csv_sink_"), "events_csv")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    (
        ev.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(dest)
    )
    back = (
        spark.read.option("header", True)
        .option("escape", '"')
        .option("nullValue", "\\N")
        .option("multiLine", True)
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .schema("event_id long, event_type string, value double")
        .csv(dest)
    )
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), _dsum(F.col("value")).alias("sum_value")
    )


@register(
    "s12_content_key",
    "SELECT doc_id, md5(text) AS content_key FROM documents",
)
def s12_content_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 fixed: TRUE content-addressed object key md5(content) — the
    reference hashed os.urandom instead (§2.11 bug 5)."""
    from ..sources.binary import content_key

    docs = table(spark, sf_dir, "documents").withColumn(
        "content", F.col("text").cast("binary")
    )
    return content_key(docs).select("doc_id", "content_key")


# ======================================================================
# EXT — streaming session windows (SURVEY §2.9)
# ======================================================================

_STREAM_SESSION_SQL = """
WITH o AS (
  SELECT user_id, event_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev
  FROM events
  -- r19 initial-watermark cut (extreme allowlist): Spark's watermark
  -- starts at epoch 0, so rows before 1970 are late BY DEFINITION in
  -- the first (and, single-file availableNow, only) micro-batch —
  -- the oracle encodes that exact semantics instead of allowlisting
  WHERE ts IS NOT NULL
    AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '1970-01-01 00:00:00'),
m AS (SELECT *, CASE WHEN prev IS NULL OR (epoch(ts) - epoch(prev)) >= 1800.0
                     THEN 1 ELSE 0 END AS new_sess FROM o),
s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                    ROWS UNBOUNDED PRECEDING) AS seq FROM m)
SELECT user_id, floor(epoch(min(ts)))::BIGINT AS session_start_epoch,
       count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, seq
"""


@register("streaming_session", _STREAM_SESSION_SQL)
def streaming_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window(ts, 30min) as a Structured Streaming query
    (availableNow, complete mode, memory sink) — checked against the
    batch gaps-and-islands oracle: stream/batch session parity. The
    oracle applies Spark's initial-watermark late cut (rows before
    epoch 0 are late by definition in the single-file batch; r19), so
    the extreme axis verifies value-exactly."""
    stream, src = events_stream(spark, sf_dir)
    agg = (
        stream.filter(F.col("ts").isNotNull())
        .withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n"), _dsum(F.col("value")).alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_epoch"),
            "n",
            "sum_value",
        )
    )
    return drain(agg, "complete", src)


# ======================================================================
# EXT — F9/F10/F11 reprojection pipeline on the raster fixture
# ======================================================================

_REPROJECT_SQL = f"""
WITH rast AS (SELECT * FROM {GF.rasters_values_sql()}),
ext AS (
  SELECT img_id,
         gt0 + 0 * gt1 + 0 * gt2 AS x0, gt3 + 0 * gt4 + 0 * gt5 AS y0,
         gt0 + 0 * gt1 + rows * gt2 AS x1, gt3 + 0 * gt4 + rows * gt5 AS y1,
         gt0 + cols * gt1 + rows * gt2 AS x2, gt3 + cols * gt4 + rows * gt5 AS y2,
         gt0 + cols * gt1 + 0 * gt2 AS x3, gt3 + cols * gt4 + 0 * gt5 AS y3
  FROM rast),
cen AS (SELECT img_id, (x0 + x1 + x2 + x3) / 4.0 AS cx, (y0 + y1 + y2 + y3) / 4.0 AS cy FROM ext)
SELECT img_id,
       round((18 * 6 - 183) + (cx - 500000.0) / (0.9996 * 6378137.0) * (180.0 / 3.141592653589793), 6) AS lon,
       round((cy - 10000000.0) / (0.9996 * 6378137.0) * (180.0 / 3.141592653589793), 6) AS lat
FROM cen
"""


@register("geo_reproject_centroid", _REPROJECT_SQL)
def geo_reproject_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8+F10+F11+F9 composed: geotransform → extent → centroid →
    UTM→WGS84 reprojection (the reference's raster branch,
    script_geo.py:175-189, as one column pipeline)."""
    from ..functions.geo import extent_centroid, reproject_utm_to_wgs84_approx

    rast = GF.spark_rasters(spark)
    ext = rast.withColumn("ext", affine_extent(F.col("gt"), F.col("cols"), F.col("rows")))
    cen = ext.withColumn("c", extent_centroid(F.col("ext")))
    rep = cen.withColumn(
        "ll", reproject_utm_to_wgs84_approx(F.col("c.x"), F.col("c.y"), zone=18, south=True)
    )
    return rep.select(
        "img_id",
        F.round(F.col("ll.lon"), 6).alias("lon"),
        F.round(F.col("ll.lat"), 6).alias("lat"),
    )


_UTM_FWD_SQL = (
    "SELECT pt_id, round(easting, 4) AS easting,"
    " round(northing, 4) AS northing, in_zone FROM ("
    + GEO.utm_forward_sql(
        "SELECT i AS pt_id, -44.0 + (i // 10) * 2.6 AS lat,"
        " -73.5 + (i % 10) * 0.9 AS lon,"
        " (-72.0 <= -73.5 + (i % 10) * 0.9"
        "  AND -73.5 + (i % 10) * 0.9 < -66.0) AS in_zone"
        " FROM generate_series(0, 99) t(i)",
        "lat",
        "lon",
        zone=19,
        south=True,
    )
    + ")"
)


@register("geo_utm_forward_grid", _UTM_FWD_SQL)
def geo_utm_forward_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 write-back direction: WGS84 → UTM 19S via the full forward
    Transverse Mercator series (functions/geo.py utm_forward_steps;
    pytest pins the published CN Tower easting/northing within its meter
    rounding and round-trips against the inverse to ~1e-9°). Same
    shared-SQL-text contract as geo_utm_inverse_grid; the in_zone flag
    marks points inside the zone's longitude band, where the series is
    mm-exact. Pure codegen arithmetic, zero exchanges, no UDF."""
    pts = spark.range(100).select(
        F.col("id").alias("pt_id"),
        (-44.0 + (F.col("id") / 10).cast("long") * 2.6).alias("lat"),
        (-73.5 + (F.col("id") % 10) * 0.9).alias("lon"),
    ).withColumn(
        "in_zone", (F.col("lon") >= -72.0) & (F.col("lon") < -66.0)
    )
    out = GEO.reproject_wgs84_to_utm_exact(pts, "lat", "lon", zone=19, south=True)
    return out.select(
        "pt_id",
        F.round("easting", 4).alias("easting"),
        F.round("northing", 4).alias("northing"),
        "in_zone",
    )


_UTM_INV_SQL = (
    "SELECT pt_id, round(lat, 6) AS lat, round(lon, 6) AS lon FROM ("
    + GEO.utm_inverse_sql(
        "SELECT i AS pt_id, 200000.0 + i * 6100.0 AS x,"
        " 5600000.0 + i * 7300.0 AS y FROM generate_series(0, 99) t(i)",
        "x",
        "y",
        zone=19,
        south=True,
    )
    + ")"
)


@register("geo_utm_inverse_grid", _UTM_INV_SQL)
def geo_utm_inverse_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9 with the EXACT inverse Transverse Mercator — no pyproj, no
    approximation: the full Snyder USGS series (functions/geo.py:
    utm_inverse_steps, mm-accurate; pytest checks published ground truth
    + a forward round trip) over a 100-point UTM 19S grid spanning the
    zone. The series is generated once as SQL text and evaluated by both
    engines, so this externally checks the reprojection the reference
    does through pyproj (convertirCoordenadas, script_geo.py:33-61).
    Pure column arithmetic — whole-stage codegen, no UDF, broadcast-free."""
    pts = (
        spark.range(100)
        .select(
            F.col("id").alias("pt_id"),
            (200000.0 + F.col("id") * 6100.0).alias("x"),
            (5600000.0 + F.col("id") * 7300.0).alias("y"),
        )
    )
    out = GEO.reproject_utm_to_wgs84_exact(pts, "x", "y", zone=19, south=True)
    return out.select(
        "pt_id",
        F.round("lat", 6).alias("lat"),
        F.round("lon", 6).alias("lon"),
    )


# ======================================================================
# EXT — IVF ANN, skew-mitigation plans, partitioned publish, multimodal
# ======================================================================

_IVF_D2 = V.euclidean2_sql("e.embedding", "c.centroid")
_IVF_TOPK_SQL = f"""
WITH c AS (SELECT vec_id AS centroid_id, embedding AS centroid FROM embeddings WHERE vec_id < 8),
d0 AS (
  SELECT e.vec_id, e.embedding, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.centroid_id) AS rn
  FROM embeddings e CROSS JOIN c),
assign AS (SELECT vec_id, embedding, centroid_id FROM d0 WHERE rn = 1),
probes AS (
  SELECT e.vec_id AS q_id, e.embedding AS qe, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY {_IVF_D2}, c.centroid_id) AS rn
  FROM embeddings e CROSS JOIN c
  WHERE e.vec_id IN (10, 11, 12)),
scored AS (
  SELECT p.q_id, a.vec_id, round({V.cosine_sql('a.embedding', 'p.qe')}, 6) AS cos
  FROM assign a JOIN (SELECT * FROM probes WHERE rn <= 2) p ON a.centroid_id = p.centroid_id)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 5
"""


@register("ann_ivf_topk", _IVF_TOPK_SQL)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: coarse-quantize to fixed centroids (vec_id < 8 as the
    codebook — production swaps in pyspark.ml KMeans centers, same plan),
    probe the 2 nearest cells per query, exact cosine + window top-k."""
    emb = table(spark, sf_dir, "embeddings")
    centroids = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    queries = emb.filter(F.col("vec_id").isin(10, 11, 12)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return SIM.ivf_topk(emb, queries, centroids, k=5, nprobe=2)


@register(
    "skew_salted_agg",
    f"""
    SELECT l_returnflag, {_dsum_sql('l_quantity')} AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (§4.2 skew path) — result identical to
    the plain groupBy, so the plain SQL is the oracle. Decimal partials
    keep the double sum order-independent across salt groupings."""
    from ..operators.skew import salted_sum_count

    li = table(spark, sf_dir, "lineitem")
    out = salted_sum_count(
        li, ["l_returnflag"], F.col("l_quantity").cast("decimal(18,4)"), n_salts=8,
        sum_alias="__dsum", count_alias="n",
    )
    return out.select(
        "l_returnflag", F.col("__dsum").cast("double").alias("sum_qty"), "n"
    )


@register(
    "skew_salted_join",
    f"""
    SELECT p.p_brand, count(*) AS n, {_dsum_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicate join (§4.2): hot fact keys spread over 8 salt
    partitions; small side replicated per salt. Same rows as the plain
    equi-join → plain-join oracle."""
    from ..operators.skew import salted_broadcast_replicate_join

    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_broadcast_replicate_join(li, part, "l_partkey", n_salts=8)
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n"), _dsum(F.col("l_extendedprice")).alias("revenue")
    )


@register(
    "s16_partitioned_publish",
    f"""
    SELECT source, count(*) AS n, {_dsum_sql('n_chars')} AS total_chars
    FROM documents WHERE lang = 'es' GROUP BY source
    """,
)
def s16_partitioned_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16/model-publish layout: partitioned write (partitionBy lang — the
    reference's <codigo>/<indice>/<fecha> object layout as table
    partitions), then a partition-PRUNED read back (only lang=es files are
    scanned; .explain shows PartitionFilters). Aggregate must equal the
    oracle's direct filter — proving the codec + pruning lose nothing."""
    dest = os.path.join(scratch_dir("publish_"), "docs_by_lang")
    # path safety: a partition value becomes a DIRECTORY NAME — a dirty
    # multi-KB category blows up the writer (Mkdirs ENAMETOOLONG), so
    # unpublishable categories go to the bad-records channel. Value-
    # neutral here: the read-back filters lang = 'es'.
    docs = table(spark, sf_dir, "documents").filter(
        F.col("lang").isNull() | (F.length("lang") <= 255)
    )
    docs.write.mode("overwrite").partitionBy("lang").parquet(dest)
    # Explicit schema on the read-back: a republish of an empty batch
    # writes zero data files and schema inference has nothing to read —
    # the published contract, not the file listing, defines the schema.
    back = spark.read.schema(docs.schema).parquet(dest).filter(
        F.col("lang") == "es"
    )
    return back.groupBy("source").agg(
        F.count("*").alias("n"), _dsum(F.col("n_chars")).alias("total_chars")
    )


_FRAMES_SQL = """
SELECT doc_id, (i * 10) AS frame_idx,
       md5(md5(text) || ':' || (i * 10)::VARCHAR) AS frame_key
FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i)
"""


@register("multimodal_frames", _FRAMES_SQL)
def multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling contract: one binary row → N frame rows via one
    explode of the frame-index sequence (decode stubbed on a digest chain
    the oracle reproduces — schema and row expansion are real)."""
    from ..sources.binary import sample_frames

    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("path"),
        F.col("text").cast("binary").alias("content"),
    )
    frames = sample_frames(docs, every_n=10, max_frames=5)
    return frames.select(
        F.col("path").cast("long").alias("doc_id"), "frame_idx", "frame_key"
    )


_RESIZE_SQL = """
SELECT doc_id, 32 AS width, 32 AS height,
       length(thumb_hex) // 2 AS thumb_len,
       md5(thumb_hex) AS thumb_md5
FROM (
  SELECT doc_id,
         substring(repeat(md5(text), 32*32//16 + 1), 1, 2*32*32) AS thumb_hex
  FROM documents)
"""


@register("multimodal_resize", _RESIZE_SQL)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize contract (SURVEY §2.10 multimodal family): binary
    column → digest-slice thumbnail (sources/binary.py resize_images, a
    built-in expression) → per-image (width, height, byte length,
    content digest). The oracle replays the stub's digest chain in
    hex-string space (byte slicing aligns to hex pairs), so schema and
    binary-out length semantics are externally checked end to end, like
    multimodal_frames."""
    from ..sources.binary import resize_images

    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("path"),
        F.col("text").cast("binary").alias("content"),
    )
    thumbs = resize_images(docs, width=32, height=32)
    return thumbs.select(
        F.col("path").cast("long").alias("doc_id"),
        "width",
        "height",
        F.length("thumb").alias("thumb_len"),
        F.md5(F.lower(F.hex("thumb"))).alias("thumb_md5"),
    )


# ======================================================================
# EXT — pivot/unpivot, subqueries, percentiles, edit distance
# ======================================================================


@register(
    "a4_pivot_dynamic",
    """
    SELECT source,
           count(*) FILTER (WHERE lang = 'de') AS n_de,
           count(*) FILTER (WHERE lang = 'en') AS n_en,
           count(*) FILTER (WHERE lang = 'es') AS n_es,
           count(*) FILTER (WHERE lang = 'fr') AS n_fr,
           count(*) FILTER (WHERE lang = 'zh') AS n_zh
    FROM documents GROUP BY source
    """,
)
def a4_pivot_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC pivot: the value list is DISCOVERED at runtime (distinct
    langs, sorted for a stable column order) instead of hard-coded —
    the report-building pattern where the category set is data-driven.
    The discovery is a one-column distinct collected to the driver:
    bounded by the domain's cardinality (languages, statuses — tens,
    not millions; the same one-small-collect posture as the catalog's
    max-id lookup), and the pivot itself stays a single map-side-
    combined aggregate. The oracle pins the expected discovered set, so
    the external check also verifies the discovery found exactly the
    corpus's languages."""
    docs = table(spark, sf_dir, "documents").select("source", "lang")
    # a NULL category is not a pivot column (same convention as SQL
    # PIVOT ... IN lists, which enumerate only real values), and a
    # discovered category becomes a COLUMN NAME — the same
    # identifier-safety contract as partition-directory values (r16):
    # only identifier-safe categories ([A-Za-z0-9_-]{1,64}) mint schema
    # columns; dirty ones keep their rows but get no column (the
    # downstream consumers of a pivoted report — files, BI — can't
    # address a 10k-char or control-character column anyway)
    import re as _re

    _safe = _re.compile(r"^[A-Za-z0-9_-]{1,64}$")
    langs = sorted(
        r["lang"]
        for r in docs.select("lang").distinct().collect()
        if r["lang"] is not None and _safe.match(r["lang"])
    )
    out = docs.groupBy("source").pivot("lang", langs).count().na.fill(0)
    return out.select(
        "source", *[F.col(lg).alias(f"n_{lg}") for lg in langs]
    )


@register(
    "j_late_arriving_dim",
    """
    WITH dim0 AS (SELECT * FROM customer WHERE c_custkey % 10 <> 7),
    missing AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE NOT EXISTS (SELECT 1 FROM dim0 d WHERE d.c_custkey = o_custkey)),
    seg AS (
      -- LEFT join + __UNKNOWN__: a fact whose key has NO dim row at all
      -- (even late) keeps its inferred placeholder — facts are never
      -- dropped. Null-keyed facts can reference nothing: excluded.
      SELECT CASE WHEN c.c_custkey IS NULL THEN '__UNKNOWN__'
                  ELSE c.c_mktsegment END AS segment,
             count(*) AS n_orders,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_custkey IS NOT NULL
      GROUP BY 1)
    SELECT segment, n_orders, revenue FROM seg
    UNION ALL
    SELECT '__reconciled_inferred',
           (SELECT count(*) FROM missing),
           0.0
    ORDER BY segment
    """,
)
def j_late_arriving_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-arriving dimension (inferred members): facts reference
    customer keys the dimension does not have yet (every 10th key is
    withheld to simulate late dim data). The warehouse discipline, run
    END TO END: (1) the anti-join discovers orphan keys and INSERTS
    placeholder members flagged inferred — facts are never dropped or
    stalled; (2) facts join the augmented dimension losslessly; (3) the
    late dim rows arrive and a MERGE overwrites exactly the inferred
    placeholders with real attributes. The output is the post-
    reconciliation revenue by segment — value-identical to a join
    against the complete dimension (the oracle's formulation) — plus a
    ledger row counting the placeholders that were reconciled. Scale:
    the orphan-key set is the anti-join's output (small by definition);
    placeholders broadcast back into the MERGE."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    dim0 = cust.filter(F.col("c_custkey") % 10 != 7).withColumn(
        "inferred", F.lit(False)
    )
    missing = (
        orders.select("o_custkey")
        .distinct()
        .join(dim0, orders.o_custkey == dim0.c_custkey, "left_anti")
    )
    inferred = missing.select(
        F.col("o_custkey").alias("c_custkey"),
        F.lit("__UNKNOWN__").alias("c_mktsegment"),
        F.lit(True).alias("inferred"),
    )
    dim1 = dim0.unionByName(inferred)
    n_inferred = inferred.count()
    # the late data arrives: MERGE — real attributes overwrite exactly
    # the inferred placeholders, everything else is untouched
    # reconciliation is keyed on the late ROW arriving, not on its
    # attribute being non-null: a late row carrying a NULL attribute
    # still reconciles (to NULL) — r16 null contract, mirrored by the
    # oracle's complete-dimension join
    late = cust.withColumnRenamed("c_mktsegment", "late_seg").withColumn(
        "__late_has", F.lit(True)
    )
    dim2 = (
        dim1.join(
            F.broadcast(late.select("c_custkey", "late_seg", "__late_has")),
            "c_custkey",
            "left",
        )
        .select(
            "c_custkey",
            F.when(F.col("inferred") & F.col("__late_has").isNotNull(), F.col("late_seg"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
            (F.col("inferred") & F.col("__late_has").isNull()).alias("inferred"),
        )
    )
    seg = (
        orders.join(dim2, orders.o_custkey == dim2.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )
    ledger = local_frame(
        seg.sparkSession,
        [("__reconciled_inferred", n_inferred, 0.0)],
        "segment string, n_orders long, revenue double",
    )
    return seg.unionByName(ledger).orderBy("segment")


@register(
    "a4_pivot",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'O') AS st_o,
           count(*) FILTER (WHERE o_orderstatus = 'F') AS st_f,
           count(*) FILTER (WHERE o_orderstatus = 'P') AS st_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def a4_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide): order counts per priority × status. Explicit
    value list → no extra distinct-values job, fixed output schema."""
    out = (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
        .na.fill(0)
    )
    return out.select(
        "o_orderpriority",
        F.col("O").alias("st_o"),
        F.col("F").alias("st_f"),
        F.col("P").alias("st_p"),
    )


@register(
    "a4_unpivot",
    """
    SELECT l_orderkey, l_linenumber, 'quantity' AS metric, round(l_quantity, 2) AS val
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'discount', round(l_discount, 2) FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'tax', round(l_tax, 2) FROM lineitem WHERE l_orderkey < 100
    """,
)
def a4_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long, melt) via the native unpivot operator."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    out = li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )
    name_map = {"l_quantity": "quantity", "l_discount": "discount", "l_tax": "tax"}
    mapped = out.replace(name_map, subset=["metric"])
    return mapped.select(
        "l_orderkey", "l_linenumber", "metric", F.round("val", 2).alias("val")
    )


@register(
    "sub_scalar",
    """
    SELECT o_orderkey,
           round(o_totalprice / (SELECT avg(o_totalprice) FROM orders), 6) AS price_ratio
    FROM orders WHERE o_totalprice > 400000
    """,
)
def sub_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery (Catalyst turns it into a broadcast one-row join)."""
    return spark.sql(
        """
        SELECT o_orderkey,
               round(o_totalprice / (SELECT avg(o_totalprice) FROM {orders}), 6) AS price_ratio
        FROM {orders} WHERE o_totalprice > 400000
        """,
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "sub_in",
    """
    SELECT o_orderkey, o_custkey FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9000)
    """,
)
def sub_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (planned as a left-semi join)."""
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey FROM {orders}
        WHERE o_custkey IN (SELECT c_custkey FROM {customer} WHERE c_acctbal > 9000)
        """,
        orders=table(spark, sf_dir, "orders"),
        customer=table(spark, sf_dir, "customer"),
    )


@register(
    "a4_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS q25,
           round(quantile_cont(l_quantity, 0.5), 4) AS median,
           round(quantile_cont(l_quantity, 0.75), 4) AS q75
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a4_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (both engines: linear interpolation;
    the 100 TB variant is approx_percentile — same plan, sketch agg)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", F.lit(0.25)), 4).alias("q25"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("median"),
        F.round(F.percentile("l_quantity", F.lit(0.75)), 4).alias("q75"),
    )


@register(
    "text_edit_distance",
    """
    WITH a AS (
      SELECT doc_id,
             regexp_replace(source, '[^\\x20-\\x7E]', '', 'g') AS src_a,
             regexp_replace(lang,   '[^\\x20-\\x7E]', '', 'g') AS lang_a,
             regexp_replace(text,   '[^\\x20-\\x7E]', '', 'g') AS text_a
      FROM documents)
    SELECT doc_id, levenshtein(substring(src_a, 1, 8), substring(lang_a, 1, 8)) AS src_lang_dist,
           levenshtein(lower(substring(text_a, 1, 12)), 'lorem ipsum!') AS lorem_dist
    FROM a
    """,
)
def text_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein edit distance (fuzzy matching surface for text dedup).

    Printable-ASCII-projection contract (r17): distances are computed
    over the printable-ASCII projection of the text — codepoints
    outside [0x20, 0x7E] are stripped on BOTH engines before slicing
    and comparing. On that projection bytes == codepoints == graphemes,
    so Spark's codepoint-level levenshtein and DuckDB's byte-level one
    agree exactly (the extreme axis's multibyte payloads made them
    count different units; previously allowlisted). Java regex sees an
    astral codepoint as two surrogate units and RE2 as one codepoint,
    but both STRIP the whole character, so the projection itself is
    engine-identical."""
    d = table(spark, sf_dir, "documents")
    ascii_only = lambda c: F.regexp_replace(c, r"[^\x20-\x7E]", "")
    return d.select(
        "doc_id",
        F.levenshtein(
            F.substring(ascii_only(F.col("source")), 1, 8),
            F.substring(ascii_only(F.col("lang")), 1, 8),
        ).alias("src_lang_dist"),
        F.levenshtein(
            F.lower(F.substring(ascii_only(F.col("text")), 1, 12)),
            F.lit("lorem ipsum!"),
        ).alias("lorem_dist"),
    )


@register(
    "w5_range_frame",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY floor(epoch(ts))::BIGINT
                                  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 2) AS rolling_10m,
           first_value(event_id) OVER w AS first_ev,
           last_value(event_id) OVER w AS last_ev,
           coalesce(nth_value(event_id, 2) OVER w, -1) AS second_ev
    FROM events
    WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def w5_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame keyed on event-time seconds (true time-windowed running
    sum — rows at the same second aggregate together) + first/last/nth
    positional window functions. A RANGE frame is event-time arithmetic,
    so null ts is excluded on both sides (r16 contract)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .withColumn("__sec", F.unix_timestamp("ts"))
    )
    w_range = (
        Window.partitionBy("user_id").orderBy("__sec").rangeBetween(-600, 0)
    )
    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w_range), 2).alias("rolling_10m"),
        F.first("event_id").over(w_rows).alias("first_ev"),
        F.last("event_id").over(w_rows).alias("last_ev"),
        F.coalesce(F.nth_value("event_id", 2).over(w_rows), F.lit(-1)).alias(
            "second_ev"
        ),
    )


# ======================================================================
# EXT — multi-join analytics (join-reordering surface), pandas_udf path,
# map columns
# ======================================================================


@register(
    "tpch_q3_shape",
    f"""
    SELECT l.l_orderkey,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           floor(epoch(o.o_orderdate))::BIGINT AS orderdate_epoch,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join with selective filters on every side,
    grouped revenue, top-10. Catalyst pushes all three predicates into
    the scans and broadcasts the filtered customer side."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer scales linearly with SF — no hint; Catalyst's size
        # stats broadcast it while it fits and fall back above that
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "tpch_q5_shape",
    f"""
    SELECT n.n_name,
           {_dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way star join (region→nation→customer→orders→
    lineitem). Three dimension broadcasts chain into the fact scan; the
    only shuffle is the final group-by."""
    r = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = table(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # linear-in-SF: stats decide
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
    )


@register("f17_cosine_pandas", _COSINE_ALL_SQL)
def f17_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME cosine scan as f17_cosine_all, but through an Arrow-
    vectorized pandas_udf (numpy batch kernel) instead of higher-order
    column functions — the documented slow-path escape hatch, checked
    against the identical oracle to prove the two paths agree."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos_batch(a, b):
        # `from __future__ import annotations` stringifies type hints,
        # which pandas_udf can't resolve → use the explicit-returnType form
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:  # NULL vector → NULL cosine
                out.append(None)
                continue
            xv = np.asarray(x, dtype=np.float64)
            yv = np.asarray(y, dtype=np.float64)
            out.append(
                float(np.dot(xv, yv) / (np.sqrt(np.dot(xv, xv)) * np.sqrt(np.dot(yv, yv))))
            )
        # nullable Float64: a plain float64 Series renders None as NaN,
        # which Arrow keeps as NaN instead of SQL NULL
        return pd.Series(out, dtype="Float64")

    cos_pd = pandas_udf(_cos_batch, "double")

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return emb.crossJoin(F.broadcast(q)).select(
        "vec_id", F.round(cos_pd(F.col("embedding"), F.col("qe")), 6).alias("cos")
    )


@register(
    "f15_map_ops",
    """
    SELECT doc_id,
           map_extract(m, 'lang')[1] AS lang_v,
           len(map_keys(m)) AS n_keys
    FROM (SELECT doc_id, MAP {'lang': lang, 'source': source} AS m FROM documents)
    """,
)
def f15_map_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface (§1.4: properties pass-through as maps): build,
    access by key, enumerate keys."""
    docs = table(spark, sf_dir, "documents")
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return docs.select(
        "doc_id",
        m.getItem("lang").alias("lang_v"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


# ======================================================================
# GEO at volume — the classifier over 20k generated points (bench-scale
# spatial join, still fully oracle-checked)
# ======================================================================

_BULK_N = 20000
_BULK_PTS_SQL = f"""
SELECT i AS img_id,
       ((i * 73) % 997) / 997.0 * 16.0 - 2.0 AS lon,
       ((i * 131) % 983) / 983.0 * 14.0 - 2.0 AS lat
FROM generate_series(0, {_BULK_N - 1}) AS g(i)
"""

_GEO_BULK_SQL = f"""
WITH pts AS ({_BULK_PTS_SQL}),
e AS (SELECT * FROM {GF.edges_values_sql()}),
v AS (SELECT * FROM {GF.vertices_values_sql()}),
cr AS (
  SELECT p.img_id, e.id_predio, e.nombre,
         {GF.crossings_sql()} AS crossings
  FROM pts p CROSS JOIN e
  GROUP BY p.img_id, e.id_predio, e.nombre),
vd AS (
  SELECT p.img_id, v.id_predio, v.nombre,
         min((p.lon - v.x) * (p.lon - v.x) + (p.lat - v.y) * (p.lat - v.y)) AS d2
  FROM pts p CROSS JOIN v
  GROUP BY p.img_id, v.id_predio, v.nombre),
scored AS (
  SELECT cr.img_id, cr.id_predio, cr.nombre,
         CASE WHEN cr.crossings % 2 = 1 THEN 0 ELSE 1 END AS r,
         CASE WHEN cr.crossings % 2 = 1 THEN 0.0 ELSE vd.d2 END AS d
  FROM cr JOIN vd ON cr.img_id = vd.img_id
       AND cr.id_predio = vd.id_predio AND cr.nombre = vd.nombre),
win AS (
  SELECT img_id, id_predio, nombre, r,
         row_number() OVER (PARTITION BY img_id ORDER BY r, d, id_predio, nombre) AS rn
  FROM scored)
SELECT img_id, id_predio, nombre,
       CASE WHEN r = 0 THEN 'contains' ELSE 'nearest' END AS method
FROM win WHERE rn = 1
"""


@register("geo_classify_bulk", _GEO_BULK_SQL)
def geo_classify_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The single-pass classifier over 20k generated points — the spatial
    join at bench volume (20k × 5 parcels scored in one broadcast pass),
    still value-checked against the oracle.

    The oracle is the same even-odd ray-cast as the engine (identical
    float expression, see geo_fixture.crossings_sql), so holes, the
    MultiPolygon, and concave rings all agree; the generated rational-grid
    points never land exactly on an edge.
    """
    pts = spark.range(_BULK_N).select(
        F.col("id").alias("img_id"),
        (((F.col("id") * 73) % 997) / 997.0 * 16.0 - 2.0).alias("lon"),
        (((F.col("id") * 131) % 983) / 983.0 * 14.0 - 2.0).alias("lat"),
    )
    return classify_points(pts, GF.spark_polys(spark)).select(
        "img_id", "id_predio", "nombre", "method"
    )


# ======================================================================
# S6 — JSON feature scan (script_geo.py:193-194)
# ======================================================================

_S6_SQL = f"""
SELECT pp.id_predio, pp.nombre, pp.codigo, pp.seccion, pp.rodal, pp.tipouso, pp.apl,
       (SELECT count(*) FROM {GF.vertices_values_sql()}
        WHERE v.id_predio = pp.id_predio) AS n_vertices
FROM {GF.polys_props_values_sql()}
"""


@register("s6_features_json", _S6_SQL)
def s6_features_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: per-parcel polygon JSON files → explicit-schema json scan
    (no inference pass) → properties + ring cardinality. The fixture
    polygons round-trip through real JSON files on disk."""
    import json

    from ..sources.files import read_features_json

    d = scratch_dir("features_json_")
    for p in GF.POLYS:
        rec = {k: v for k, v in p.items() if k != "rings"}
        rec["rings"] = [
            [{"x": x, "y": y} for x, y in ring] for ring in p["rings"]
        ]
        with open(os.path.join(d, f"{p['id_predio']}.json"), "w") as f:
            f.write(json.dumps(rec))
    feats = read_features_json(spark, d)
    return feats.select(
        "id_predio",
        "nombre",
        "codigo",
        "seccion",
        "rodal",
        "tipouso",
        "apl",
        F.size(F.flatten("rings")).alias("n_vertices"),
    )


# ======================================================================
# F — scalar surface pack 2: date arithmetic, strings, arrays, conditionals
# ======================================================================


@register(
    "f_date_arith",
    """
    SELECT o_orderkey,
           date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_epoch_start,
           floor(epoch(CAST(o_orderdate AS DATE) + INTERVAL '3 months'))::BIGINT AS plus3m_epoch,
           floor(epoch(date_trunc('month', o_orderdate)))::BIGINT AS month_start_epoch,
           dayofweek(o_orderdate) AS dow
    FROM orders WHERE o_orderkey < 200
    """,
)
def f_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic: datediff, add_months, date_trunc, day-of-week.
    (DuckDB dayofweek is 0=Sunday; Spark dayofweek is 1=Sunday → align.)

    Date-projection contract (r17): month arithmetic operates on the
    DATE projection of the input — Spark's add_months drops any
    time-of-day by definition, so the oracle casts to DATE before
    adding the interval (DuckDB's TIMESTAMP + INTERVAL would carry a
    non-midnight time component into the epoch; found by the extreme
    axis's 03:04:05 outlier instants, previously allowlisted)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 200)
    return o.select(
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).alias(
            "days_since_epoch_start"
        ),
        F.unix_timestamp(F.add_months("o_orderdate", 3).cast("timestamp")).alias(
            "plus3m_epoch"
        ),
        F.unix_timestamp(F.date_trunc("month", "o_orderdate")).alias("month_start_epoch"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
    )


@register(
    "f_string_pack2",
    """
    SELECT doc_id,
           upper(substring(source, 1, 4)) AS up4,
           lpad(lang, 5, '*') AS padded,
           reverse(regexp_replace(lang, '[^\\x20-\\x7E]', '', 'g')) AS rev,
           repeat(lang, 2) AS doubled,
           replace(source, 'src', 'S-') AS translated,
           strpos(text, 'a') AS first_a
    FROM documents
    """,
)
def f_string_pack2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface pack 2: case, pad, reverse, repeat, replace, locate.

    Printable-ASCII-projection contract on ``rev`` (r18, the
    text_edit_distance playbook): reversal of combining-character text
    is grapheme-cluster-defined and engine-divergent (Spark reverses
    codepoints, DuckDB grapheme clusters), so ``rev`` is pinned to the
    printable-ASCII projection of ``lang`` — on that projection bytes
    == codepoints == graphemes and the engines agree exactly; on clean
    data (ASCII language tags) the projection is the identity.
    Previously extreme-allowlisted."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("source", 1, 4)).alias("up4"),
        F.lpad("lang", 5, "*").alias("padded"),
        F.reverse(F.regexp_replace(F.col("lang"), r"[^\x20-\x7E]", "")).alias("rev"),
        F.repeat("lang", 2).alias("doubled"),
        F.replace(F.col("source"), F.lit("src"), F.lit("S-")).alias("translated"),
        F.locate("a", F.col("text")).alias("first_a"),
    )


@register(
    "f_array_pack2",
    """
    SELECT vec_id,
           round(list_sort(list_transform(embedding[1:6], x -> round(x::DOUBLE, 4)))[1], 4) AS min_of_first6,
           len(list_distinct(list_transform(embedding[1:8], x -> round(x::DOUBLE, 1)))) AS distinct_rounded,
           list_position(list_transform(embedding[1:6], x -> round(x::DOUBLE, 4)),
                         round(embedding[3]::DOUBLE, 4)) AS pos_of_third,
           CASE WHEN embedding IS NULL THEN NULL
                ELSE len(flatten([embedding[1:3], embedding[4:6]])) END AS flat_len
    FROM embeddings
    """,
)
def f_array_pack2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface pack 2: sort, distinct, position, flatten."""
    e = table(spark, sf_dir, "embeddings")
    first6 = F.transform(F.slice("embedding", 1, 6), lambda x: F.round(x.cast("double"), 4))
    return e.select(
        "vec_id",
        F.round(F.element_at(F.array_sort(first6), 1), 4).alias("min_of_first6"),
        F.size(
            F.array_distinct(
                F.transform(F.slice("embedding", 1, 8), lambda x: F.round(x.cast("double"), 1))
            )
        ).alias("distinct_rounded"),
        F.array_position(first6, F.round(F.element_at("embedding", 3).cast("double"), 4)).alias(
            "pos_of_third"
        ),
        F.size(F.flatten(F.array(F.slice("embedding", 1, 3), F.slice("embedding", 4, 3)))).alias(
            "flat_len"
        ),
    )


@register(
    "f_conditionals",
    """
    SELECT event_id,
           nullif(event_type, 'error') AS non_error,
           coalesce(nullif(event_type, 'error'), 'ERR!') AS labeled,
           greatest(value, 50.0) AS at_least_50,
           least(value, 50.0) AS at_most_50,
           CASE WHEN value IS NULL THEN 'null' ELSE 'set' END AS nvl2ish
    FROM events
    """,
)
def f_conditionals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional scalar surface: nullif, coalesce chains, greatest/least."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.nullif(F.col("event_type"), F.lit("error")).alias("non_error"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("ERR!")).alias(
            "labeled"
        ),
        F.greatest("value", F.lit(50.0)).alias("at_least_50"),
        F.least("value", F.lit(50.0)).alias("at_most_50"),
        F.when(F.col("value").isNull(), "null").otherwise("set").alias("nvl2ish"),
    )


@register(
    "w6_distribution_funcs",
    """
    SELECT c_custkey, c_nationkey,
           floor(percent_rank() OVER w * 1e6 + 0.5) / 1e6 AS pr,
           floor(cume_dist() OVER w * 1e6 + 0.5) / 1e6 AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey
                 ORDER BY c_acctbal NULLS FIRST, c_custkey NULLS FIRST)
    """,
)
def w6_distribution_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions: percent_rank, cume_dist. Explicit
    half-up rounding on both sides — (rank-1)/(n-1) lands on exact
    decimal halves (e.g. 41/640 = .0640625), where Spark's HALF_UP
    round() and DuckDB's half-even diverge."""
    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    half_up = lambda col: F.floor(col * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return c.select(
        "c_custkey",
        "c_nationkey",
        half_up(F.percent_rank().over(w)).alias("pr"),
        half_up(F.cume_dist().over(w)).alias("cd"),
    )


@register(
    "j1_correlated_exists",
    """
    SELECT c.c_custkey, c.c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > c.c_acctbal * 50)
    """,
)
def j1_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a cross-table predicate (decorrelated by
    Catalyst into a left-semi join with a non-equi condition)."""
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_acctbal FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > c.c_acctbal * 50)
        """,
        customer=table(spark, sf_dir, "customer"),
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "f15_lateral_explode",
    """
    SELECT vec_id, pos, round(val, 4) AS val FROM (
      SELECT vec_id, unnest(list_transform(embedding[1:4], x -> round(x::DOUBLE, 4))) AS val,
             generate_subscripts(embedding[1:4], 1) AS pos
      FROM embeddings WHERE vec_id < 20)
    """,
)
def f15_lateral_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LATERAL VIEW posexplode via SQL — the generator/UDTF surface."""
    return spark.sql(
        """
        SELECT vec_id, pos + 1 AS pos, round(val, 4) AS val
        FROM {embeddings}
        LATERAL VIEW posexplode(slice(transform(embedding, x -> round(cast(x AS double), 4)), 1, 4)) t AS pos, val
        WHERE vec_id < 20
        """,
        embeddings=table(spark, sf_dir, "embeddings"),
    )


# ======================================================================
# S2 — archive extraction end-to-end (zip + tar.gz + skipped channel)
# ======================================================================

_ARCHIVE_SQL = """
SELECT 'zip' AS kind, doc_id, strlen(text)::BIGINT AS size
FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL
UNION ALL
SELECT 'tar' AS kind, doc_id, strlen(text)::BIGINT AS size
FROM documents WHERE doc_id % 10 = 1 AND text IS NOT NULL
UNION ALL
SELECT 'skipped' AS kind, NULL::BIGINT AS doc_id, NULL::BIGINT AS size
"""


@register("s2_archive_extract", _ARCHIVE_SQL)
def s2_archive_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 end-to-end (download_list_images.py:27-30 parity): a landing
    bucket holding a zip (docs with doc_id%10=0), a tar.gz (%10=1), and a
    garbage blob → binaryFile scan → extract_archives mapInPandas →
    one row per member + ONE skipped_reason row for the garbage. The
    archive fixture is built driver-side (it IS the landing bucket, not
    the engine path); member sizes equal the docs' utf-8 byte lengths,
    which the oracle reproduces via strlen."""
    import io
    import tarfile
    import zipfile

    from ..sources.binary import extract_archives, read_binary_dir

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    sub = {
        r["doc_id"]: r["text"]
        for r in docs.filter(F.col("doc_id") % 10 < 2).collect()
        if r["text"] is not None  # null payloads never reach the bucket
    }
    d = scratch_dir("s2_archives_")
    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as zf:
        for i in sorted(k for k in sub if k % 10 == 0):
            zf.writestr(f"doc_{i}.txt", sub[i].encode("utf-8"))
    with open(os.path.join(d, "batch.zip"), "wb") as f:
        f.write(zbuf.getvalue())
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w:gz") as tf:
        for i in sorted(k for k in sub if k % 10 == 1):
            data = sub[i].encode("utf-8")
            info = tarfile.TarInfo(f"doc_{i}.txt")
            info.size = len(data)
            tf.addfile(info, io.BytesIO(data))
    with open(os.path.join(d, "batch.tar.gz"), "wb") as f:
        f.write(tbuf.getvalue())
    with open(os.path.join(d, "corrupt.rar"), "wb") as f:
        f.write(b"Rar!\x1a\x07\x00 not really")

    out = extract_archives(read_binary_dir(spark, d))
    return out.select(
        F.when(F.col("skipped_reason").isNotNull(), "skipped")
        .when(F.col("archive").endswith(".zip"), "zip")
        .otherwise("tar")
        .alias("kind"),
        F.regexp_extract("member", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        F.col("size"),
    )


_SEVENZIP_SQL = """
SELECT 'member' AS kind, doc_id, strlen(text)::BIGINT AS size
FROM documents WHERE doc_id % 10 = 2 AND text IS NOT NULL
UNION ALL
SELECT 'skipped' AS kind, NULL::BIGINT AS doc_id, NULL::BIGINT AS size
"""


@register("s2_7z_extract", _SEVENZIP_SQL)
def s2_7z_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2, 7z tier (download_list_images.py:27-30 parity — patoolib's
    external-tool coverage of .7z, re-done in-engine): a landing bucket
    holding a SOLID LZMA2 .7z (docs with doc_id%10=2 concatenated into
    one compressed stream, split back by the substream-size table —
    sources/sevenzip.py, pure stdlib) and a truncated 7z whose
    start-header CRC cannot verify → binaryFile scan →
    extract_archives mapInPandas → one row per member + ONE
    skipped_reason row. Member sizes equal the docs' utf-8 byte
    lengths, which the oracle reproduces via strlen."""
    from ..sources.binary import extract_archives, read_binary_dir
    from ..sources.sevenzip import write_7z

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    sub = {
        r["doc_id"]: r["text"]
        for r in docs.filter(F.col("doc_id") % 10 == 2).collect()
        if r["text"] is not None  # null payloads never reach the bucket
    }
    d = scratch_dir("s2_sevenzip_")
    members = [
        (f"doc_{i}.txt", sub[i].encode("utf-8")) for i in sorted(sub)
    ]
    arc = write_7z(members, codec="lzma2")
    with open(os.path.join(d, "batch.7z"), "wb") as f:
        f.write(arc)
    with open(os.path.join(d, "torn.7z"), "wb") as f:
        f.write(arc[:20])  # truncated mid start-header
    out = extract_archives(read_binary_dir(spark, d))
    return out.select(
        F.when(F.col("skipped_reason").isNotNull(), "skipped")
        .otherwise("member")
        .alias("kind"),
        F.regexp_extract("member", r"doc_(\d+)\.txt", 1).cast("long").alias("doc_id"),
        F.col("size"),
    )


# ======================================================================
# F16 — the training-corpus quality pre-filter pipeline
# ======================================================================


@register(
    "text_quality_filter",
    f"""
    SELECT doc_id, {TX.quality_score_sql('text')} AS score,
           {TX.lang_guess_sql('text')} AS lang_guess
    FROM documents
    WHERE {TX.quality_score_sql('text')} >= 0.5
      AND {TX.lang_guess_sql('text')} <> 'unknown'
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical LLM-corpus pre-filter: quality score + language ID,
    keep docs above threshold with a confident language — pure column
    expressions, no shuffle, trivially parallel at 100 TB."""
    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        TX.quality_score(F.col("text")).alias("score"),
        TX.lang_guess(F.col("text")).alias("lang_guess"),
    )
    return scored.filter((F.col("score") >= 0.5) & (F.col("lang_guess") != "unknown"))


# ======================================================================
# F16 — winnowing fingerprints (rolling-hash document sketch)
# ======================================================================

_WINNOW_K, _WINNOW_W = 3, 4

_WINNOW_SQL = f"""
WITH hs AS (
  SELECT doc_id,
         [{H.hash64_sql('sh', 0)} FOR sh IN {H.shingles_sql('text', _WINNOW_K)}] AS hs
  FROM documents)
SELECT doc_id, fp FROM (
  SELECT doc_id,
         unnest(list_distinct([list_min(list_slice(hs, i, i + {_WINNOW_W - 1}))
                               FOR i IN generate_series(1, len(hs) - {_WINNOW_W} + 1)])) AS fp
  FROM hs WHERE len(hs) >= {_WINNOW_W})
"""


@register("text_winnowing_fp", _WINNOW_SQL)
def text_winnowing_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. MOSS): min shingle-hash
    per sliding window of {w}, deduped — the rolling-hash document sketch
    guaranteeing a shared fingerprint for any match ≥ w+k-1 tokens.

    Plan shape: the raw docs rebalance through one small exchange (text
    payload, only when the scan under-parallelizes), so the
    tokenize→shingle→hash kernel runs at full parallelism; the hash
    array stays a single-reference projection (CollapseProject keeps the
    boundary for non-trivial multi-referenced aliases, so the window
    mins do NOT re-evaluate the subtree per position); the window sweep
    is O(T·w) array arithmetic, JVM-side, shuffle-free.
    """
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    hs = docs.select(
        "doc_id",
        F.transform(
            H.shingles(F.col("text"), _WINNOW_K),
            lambda sh: H.hash64(sh, seed=0),
        ).alias("__hs"),
    )
    w = _WINNOW_W
    return hs.filter(F.size("__hs") >= w).select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size("__hs") - w + 1),
                    lambda i: F.array_min(F.slice(F.col("__hs"), i, w)),
                )
            )
        ).alias("fp"),
    )


# ======================================================================
# §2.9 EXT — custom stateful streaming operator (applyInPandasWithState)
# ======================================================================


@register(
    "streaming_stateful_totals",
    """
    SELECT event_type, count(*) AS n, true AS matches_batch
    FROM events GROUP BY event_type
    """,
)
def streaming_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state streaming: per-event-type running totals held in
    GroupState (streaming.stateful.running_totals). One availableNow
    micro-batch over the events file → one updated row per key. The
    exact per-key COUNT is oracle-checked directly, and the custom-state
    SUM is asserted in-engine against the batch groupBy twin (same
    input, tolerance 1e-3 for float accumulation order) and exported as
    the `matches_batch` boolean the oracle expects to be uniformly true
    — the exactly-once accumulation claim is thereby externally checked,
    not just pytest-verified (test_streaming.py covers multi-batch)."""
    from ..streaming.stateful import running_totals

    stream, src = events_stream(spark, sf_dir)
    state = drain(running_totals(stream.select("event_type", "value")), "update", src)
    batch = (
        table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("b_n"), F.sum("value").alias("b_sum"))
    )
    # null-SAFE join key (r16): a null event_type is a legitimate group
    # in BOTH the state op and the batch twin; a plain equi-join would
    # split it into two unmatched rows (null never equals null).
    return (
        state.join(
            F.broadcast(batch),
            state["event_type"].eqNullSafe(batch["event_type"]),
            "full_outer",
        )
        .select(
            F.coalesce(state["event_type"], batch["event_type"]).alias("event_type"),
            F.col("n"),
            (
                (F.col("n") == F.col("b_n"))
                & (F.abs(F.col("sum_value") - F.col("b_sum")) < 1e-3)
            ).alias("matches_batch"),
        )
    )


