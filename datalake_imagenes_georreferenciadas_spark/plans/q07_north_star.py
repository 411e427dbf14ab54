"""Registry segment 07 (mechanical split of plans/queries.py, r17).

- NORTH STAR — the reference's own workflow end to end (SURVEY M1-M3)

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    D,
    DataFrame,
    F,
    GF,
    H,
    ORACLES,
    SIM,
    SparkSession,
    V,
    Window,
    classify_points,
    drain_batches,
    dsum,
    dsum_sql,
    os,
    publish_state,
    register,
    scratch_dir,
    shard_stream,
    stage_dir,
    table,
    topk_per_group,
)
from .q01_j1 import _simhash_sql
from .q05_training import _TOKS_SQL

# ======================================================================
# NORTH STAR — the reference's own workflow end to end (SURVEY M1-M3)
# ======================================================================

_GEO_PIPELINE_SQL = f"""
WITH pts AS (
  SELECT doc_id AS img_id,
         (round(-72.0 + 2.0 * (('0x' || substring(md5(text), 9, 8))::BIGINT
                / 4294967296.0), 6) + 72.0) * 7.0 AS lon,
         (round(-35.0 + 2.0 * (('0x' || substring(md5(text), 1, 8))::BIGINT
                / 4294967296.0), 6) + 35.0) * 7.0 AS lat
  FROM documents
  -- mirrors the landing-zone bad-records filter: filename needs the id,
  -- payload needs the text (r15 convention, made explicit here in r16)
  WHERE doc_id % 2 = 0 AND doc_id IS NOT NULL AND text IS NOT NULL),
e AS (SELECT * FROM {{edges}}),
v AS (SELECT * FROM {{vertices}}),
cr AS (
  SELECT p.img_id, e.id_predio, e.nombre,
         {{crossings}} AS crossings
  FROM pts p CROSS JOIN e
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
      WHERE p.img_id NOT IN (SELECT img_id FROM inside)) d) WHERE rn = 1),
classified AS (
  SELECT id_predio, nombre, 'contains' AS method FROM inside
  UNION ALL SELECT id_predio, nombre, 'nearest' FROM near)
SELECT id_predio, nombre, method, count(*) AS n_images
FROM classified GROUP BY id_predio, nombre, method
"""


@register("pipeline_geo_ingest", None)
def pipeline_geo_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OWN job as one composed plan (download_list_images
    → script_geo main): write image blobs → binaryFile scan → Arrow
    mapInPandas EXIF extraction (digest stub) → affine rescale of the
    GPS fix into the cadastral plane → containment-first /
    nearest-fallback classification against the multi-ring parcels →
    per-parcel image counts, ready for the catalog insert. Every stage
    is individually oracle-verified (multimodal_meta, geo_classify);
    this entry verifies the COMPOSITION: the mapInPandas kernel feeds
    the broadcast spatial join without materializing, and the whole
    flow is one lazy DataFrame."""
    from ..sources.binary import extract_image_meta, read_binary_dir, stage_documents

    dest = stage_documents(spark, sf_dir)
    # binaryFile sizes partitions by openCostInBytes (4 MB/file default), so
    # thousands of small blobs explode into near-empty partitions that each
    # pay an Arrow python-worker round trip; coalesce (no shuffle) back to
    # core parallelism before the decode kernel.
    blobs = read_binary_dir(spark, dest).coalesce(
        spark.sparkContext.defaultParallelism
    )
    meta = extract_image_meta(blobs)
    pts = meta.filter(F.col("clase") == "BR").select(
        F.regexp_extract(F.col("path"), r"(\d+)\.jpg$", 1)
        .cast("long")
        .alias("img_id"),
        ((F.round(F.col("lon"), 6) + 72.0) * 7.0).alias("lon"),
        ((F.round(F.col("lat"), 6) + 35.0) * 7.0).alias("lat"),
    )
    classified = classify_points(pts, GF.spark_polys(spark))
    return classified.groupBy("id_predio", "nombre", "method").agg(
        F.count("*").alias("n_images")
    )


ORACLES["pipeline_geo_ingest"] = _GEO_PIPELINE_SQL.format(
    edges=GF.edges_values_sql(),
    vertices=GF.vertices_values_sql(),
    crossings=GF.crossings_sql(),
)


@register(
    "w8_leave_one_out",
    """
    WITH m AS (
      SELECT o_orderkey,
             year(o_orderdate)*100 + month(o_orderdate) AS month_key,
             o_totalprice,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE) AS s,
             count(*) OVER w AS n
      FROM orders WHERE o_custkey < 200
      WINDOW w AS (PARTITION BY year(o_orderdate)*100 + month(o_orderdate)))
    SELECT o_orderkey, month_key,
           CASE WHEN n > 1
                THEN floor((o_totalprice - (s - o_totalprice) / (n - 1))
                           * 1e2 + 0.5) / 1e2 END AS delta_vs_peers
    FROM m
    """,
)
def w8_leave_one_out(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out peer comparison: each order against the average of
    the OTHER orders in its month — SQL's EXCLUDE CURRENT ROW frame,
    which Spark lacks, emulated algebraically as (S - x)/(n - 1) from
    plain partition aggregates (decimal window sums keep S exact). The
    anomaly-scoring shape: one window, no self-join, single-row
    months yield null."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    month_key = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
        "month_key"
    )
    m = orders.select("o_orderkey", month_key, "o_totalprice")
    w = Window.partitionBy("month_key")
    s = F.sum(F.col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double")
    n = F.count("*").over(w)
    loo = (F.col("o_totalprice") - (s - F.col("o_totalprice")) / (n - 1))
    return m.select(
        "o_orderkey",
        "month_key",
        F.when(n > 1, F.floor(loo * 1e2 + F.lit(0.5)) / 1e2).alias(
            "delta_vs_peers"
        ),
    )


_PII_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


@register(
    "text_pii_scrub",
    f"""
    WITH aug AS (
      SELECT doc_id,
             text || CASE WHEN doc_id % 10 = 0
                          THEN ' contact: user' || doc_id || '@example.com'
                          ELSE '' END AS t
      FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(t, '{_PII_RE}')) AS n_redacted,
           length(regexp_replace(t, '{_PII_RE}', '[EMAIL]', 'g')) AS scrubbed_len
    FROM aug
    """,
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (the corpus text is synthetic/digit-free, so a
    deterministic email is injected into every 10th doc to give the
    scrubber real work): regex match-count plus the scrubbed length
    after placeholder substitution — pure column regexes that run in
    both engines' RE dialects (no lookaround/backrefs), embarrassingly
    parallel at any scale. Production swaps in the full PII pattern
    battery; the plan shape is identical."""
    docs = table(spark, sf_dir, "documents")
    t = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 10 == 0,
            F.concat(
                F.lit(" contact: user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(""),
    )
    aug = docs.select("doc_id", t.alias("t"))
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("t"), F.lit(_PII_RE), 0)).alias(
            "n_redacted"
        ),
        F.length(F.regexp_replace("t", _PII_RE, "[EMAIL]")).alias(
            "scrubbed_len"
        ),
    )


@register(
    "w9_trailing_array",
    """
    SELECT event_id, user_id,
           coalesce(array_to_string(
             [CAST(round(x * 1e6) AS BIGINT) FOR x IN
              list(value) FILTER (value IS NOT NULL) OVER (
                PARTITION BY user_id
                ORDER BY CAST(ts AS TIMESTAMP) NULLS FIRST,
                         event_id NULLS FIRST
                ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)], ','), '')
             AS last3
    FROM events WHERE user_id < 50
    """,
)
def w9_trailing_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window ARRAY materialization: each event carries the
    ordered array of its last ≤3 values — the feature-vector shape
    sequence models consume (sliding context windows), built by
    collect_list over a bounded row frame (state is O(frame), not
    O(history)). The array is serialized as comma-joined micro-unit
    integers: the driver canonicalizes via pandas (list cells are
    unhashable), and double→string formatting differs between engines,
    so round(x*1e6)→bigint→string is the stable cross-engine encoding
    (identical IEEE double in, identical integer out).

    Array-aggregation null contract (r16): NULL values are EXCLUDED
    from collected arrays — Spark's collect_list semantics, mirrored
    explicitly in the oracle with FILTER (value IS NOT NULL).
    All-NULL-frame contract (r17): when every value in the frame is
    NULL, both engines serialize the EMPTY STRING. Spark's
    collect_list returns [] there and concat_ws('') of an empty array
    is ''; DuckDB diverges TWICE on that shape — the bare filtered
    list() window yields NULL over an empty frame, and even
    array_to_string([], ',') returns NULL (unlike concat_ws) — so the
    oracle pins coalesce(array_to_string(...), '') at the string
    level, which closes both."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.concat_ws(
            ",",
            F.transform(
                F.collect_list("value").over(w),
                lambda x: F.round(x * 1e6).cast("long").cast("string"),
            ),
        ).alias("last3"),
    )


@register(
    "s1_python_datasource",
    """
    WITH jp AS (
      SELECT i,
             round(-((17 + i % 17) + ((i * 7) % 60) / 60.0
                     + (((i * 131) % 6000) / 100.0) / 3600.0), 6) AS lat
      FROM generate_series(0, 39) t(i)),
    tf AS (
      SELECT i, 512 + i % 256 AS cols,
             200000.0::DOUBLE + i * 250.25::DOUBLE AS x0
      FROM generate_series(0, 39) t(i))
    SELECT 'BR' AS kind, count(*) AS n,
           CAST(sum(floor(lat * 1e6 + 0.5)) AS BIGINT) AS checksum
    FROM jp
    UNION ALL
    SELECT 'TIF' AS kind, count(*) AS n,
           CAST(sum(cols) + sum(CAST(floor(x0 * 4.0 + 0.5) AS BIGINT))
                AS BIGINT) AS checksum
    FROM tf
    """,
)
def s1_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4): the ``exifscan`` format
    (sources/pyds.py) reads an image directory as a TYPED table — the
    file list is split into planner partitions, each executor split
    decodes JPEG-EXIF / GeoTIFF metadata INSIDE the scan with the
    pure-stdlib codec and emits rows, not blobs. The fixture mixes 40
    real-EXIF JPEGs and 40 GeoTIFFs (same generating integers as
    s7/s8); per-kind fixed-point checksums over the decoded coordinates
    prove the whole source — partition planning, executor-side read,
    typed schema — end to end against a closed-form oracle."""
    from ..sources.pyds import register_exifscan

    def write(dest: str) -> None:
        for i in range(40):
            for name, blob in ((f"{i}.jpg", GF.exif_jpeg(i)), (f"{i}.tif", GF.geotiff(i))):
                with open(os.path.join(dest, name), "wb") as f:
                    f.write(blob)

    dest = stage_dir(spark, ("pyds", sf_dir), write)
    register_exifscan(spark)
    scan = spark.read.format("exifscan").load(dest)
    return (
        scan.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.when(
                    F.col("kind") == "BR",
                    F.floor(F.round(F.col("lat"), 6) * 1e6 + 0.5).cast("long"),
                ).otherwise(
                    F.col("cols").cast("long")
                    + F.floor(F.col("x0") * 4.0 + 0.5).cast("long")
                )
            ).alias("checksum"),
        )
    )


@register(
    "j_dynamic_partition_pruning",
    f"""
    WITH li AS (
      SELECT strftime(CAST(l_shipdate AS TIMESTAMP), '%Y-%m') AS ship_month,
             l_extendedprice
      FROM lineitem)
    SELECT ship_month, count(*) AS n,
           {dsum_sql('l_extendedprice')} AS revenue
    FROM li
    WHERE ship_month IN ('1995-10', '1995-11', '1995-12')
    GROUP BY ship_month
    """,
)
def j_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — THE mechanism that makes
    dim-filtered fact scans cheap on a partitioned 100 TB lake: the
    fact (lineitem, hive-partitioned by ship month, ~80 partitions) is
    joined to a month dimension filtered on an attribute
    (quarter = '1995-Q4') that only the DIM carries, so static pruning
    cannot apply; at runtime Spark turns the dim's surviving keys into a
    partition filter on the fact scan (`dynamicpruningexpression` in
    the formatted plan, asserted by tools/plan_audit.py) and reads 3
    of ~80 partitions instead of all of them. Layout staged once per
    application and sf_dir (standing-table posture, like the bucketed
    join)."""

    def write(base: str) -> None:
        li = table(spark, sf_dir, "lineitem").select(
            "l_extendedprice",
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        )
        li.write.partitionBy("ship_month").parquet(os.path.join(base, "fact"))
        dim = (
            table(spark, sf_dir, "lineitem")
            .select(
                F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
                F.concat(
                    F.year("l_shipdate").cast("string"),
                    F.lit("-Q"),
                    F.quarter("l_shipdate").cast("string"),
                ).alias("quarter"),
            )
            .distinct()
        )
        dim.write.parquet(os.path.join(base, "dim"))

    base = stage_dir(spark, ("dpp", sf_dir), write)
    # Explicit schemas: a zero-row source writes no data files, and the
    # layout's schema is a contract, not something to re-infer per read.
    fact = spark.read.schema("l_extendedprice double, ship_month string").parquet(
        os.path.join(base, "fact")
    )
    dim = (
        spark.read.schema("ship_month string, quarter string")
        .parquet(os.path.join(base, "dim"))
        .filter(F.col("quarter") == "1995-Q4")
    )
    return (
        fact.join(dim.select("ship_month"), "ship_month")
        .groupBy("ship_month")
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("l_extendedprice")).alias("revenue"),
        )
    )


@register(
    "streaming_foreachbatch_merge",
    """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS DOUBLE)
             AS total
    FROM events GROUP BY event_type
    """,
)
def streaming_foreachbatch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production streaming-sink pattern: ``foreachBatch`` MERGE.
    The event file is staged as 4 shards read one-per-micro-batch
    (maxFilesPerTrigger=1), and each batch UPSERTS its per-type partial
    aggregate into a copy-on-write state table keyed by the batch id —
    a replayed batch is SKIPPED (the exactly-once discipline every
    Delta/Iceberg streaming MERGE uses, here over plain parquet).
    Partials are DECIMAL so cross-batch accumulation is exact and
    order-independent; the final state must equal the one-shot batch
    aggregate the oracle computes. Four micro-batches exercise the
    read-merge-write loop for real, not a single-batch degenerate."""
    base = scratch_dir("febm_")
    stream_dir = os.path.join(base, "in")
    state_dir = os.path.join(base, "state")
    ev = table(spark, sf_dir, "events").select("event_type", F.round("value", 4).alias("value"))
    ev.repartition(4).write.parquet(stream_dir)

    applied: set[int] = set()

    def merge(batch_df, batch_id: int) -> None:
        if batch_id in applied:  # replay guard: batch already merged
            return
        applied.add(batch_id)
        part = batch_df.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total"),
        )
        cur_dir = os.path.join(state_dir, "cur")
        if os.path.isdir(cur_dir):
            cur = batch_df.sparkSession.read.parquet(cur_dir)
            merged = (
                cur.select("event_type", "n", "total")
                .unionByName(part)
                .groupBy("event_type")
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("total").cast("decimal(18,4)").alias("total"),
                )
            )
        else:
            merged = part
        publish_state(merged, state_dir)

    drain_batches(shard_stream(spark, stream_dir), merge, stream_dir)
    return (
        spark.read.parquet(os.path.join(state_dir, "cur"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            F.col("total").cast("double").alias("total"),
        )
    )


@register(
    "f14_variant_extract",
    f"""
    WITH e AS (
      SELECT event_type, value,
             CASE WHEN json_valid(props) THEN props END AS props
      FROM events)
    SELECT event_type,
           count(*) AS n,
           CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
           count(*) FILTER (WHERE props->>'nope' IS NULL) AS n_missing,
           {dsum_sql("round(value * 2, 6)")} AS sum_doubled
    FROM e GROUP BY event_type
    """,
)
def f14_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT columns (Spark 4): ``parse_json`` turns
    the raw ``props`` JSON into the binary VARIANT encoding — schema-free
    like a string, but field access is O(path) on the encoded tree
    instead of a re-parse per extraction, the storage answer for
    heterogeneous event payloads at 100 TB. Exercised end to end:
    typed path extraction (``variant_get`` '$.k' as int), graceful
    missing-path handling (``try_variant_get`` → NULL, never an error),
    and a NESTED array path ('$.vs[1]') through a JSON→VARIANT roundtrip
    of a constructed document — the oracle recomputes every extraction
    relationally. try_parse_json (not parse_json): a malformed payload
    in a heterogeneous event stream parses to NULL instead of failing
    the scan — the oracle mirrors with a json_valid guard."""
    ev = table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    nested = F.parse_json(
        F.to_json(
            F.struct(
                F.col("user_id").alias("uid"),
                F.array(F.col("value"), F.col("value") * 2).alias("vs"),
            )
        )
    )
    return (
        ev.select(
            "event_type",
            F.variant_get(v, "$.k", "int").alias("k"),
            F.try_variant_get(v, "$.nope", "string").alias("missing"),
            F.round(F.variant_get(nested, "$.vs[1]", "double"), 6).alias(
                "doubled"
            ),
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.count(F.when(F.col("missing").isNull(), 1)).alias("n_missing"),
            dsum(F.col("doubled")).alias("sum_doubled"),
        )
    )


@register(
    "ts_ewma",
    """
    WITH w AS (
      SELECT event_id, user_id,
             list(value) FILTER (value IS NOT NULL) OVER (
               PARTITION BY user_id
               ORDER BY CAST(ts AS TIMESTAMP) NULLS FIRST, event_id NULLS FIRST
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS vals
      FROM events WHERE user_id < 50)
    SELECT event_id, user_id,
           CASE WHEN len(vals) = 0 THEN NULL ELSE
           CAST(floor(
             CAST(list_sum(list_transform(vals,
               (x, i) -> CAST(floor(x * pow(0.9, len(vals) - i) * 1e6 + 0.5)
                              AS BIGINT))) AS DOUBLE) * 1000.0
             / list_sum(list_transform(vals,
               (x, i) -> CAST(floor(pow(0.9, len(vals) - i) * 1e6 + 0.5)
                              AS BIGINT)))
             + 0.5) AS BIGINT) END AS ewma_milli
    FROM w
    """,
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average per user (pandas
    ``ewm(alpha=0.1, adjust=True)`` semantics, truncated to the last 20
    rows — weights beyond 20 lags are < 0.9^20 ≈ 12% and the truncation
    makes state O(frame), the streaming-compatible form). Arithmetic is
    fixed-point: each weighted term and each weight is floored to
    integer micro-units and summed as BIGINT (order-independent), with
    one final IEEE division — no float-sum association drift between
    engines. The trailing frame + zip_with shape is the w9 pattern;
    at 100 TB the window partitions by entity like any running agg."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, 0)
    )
    vals = F.collect_list("value").over(w)
    exps = F.sequence(F.size("vals") - 1, F.lit(0), F.lit(-1))
    num = F.aggregate(
        F.zip_with(
            F.col("vals"),
            exps,
            lambda x, k: F.floor(x * F.pow(F.lit(0.9), k) * 1e6 + 0.5).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    den = F.aggregate(
        F.transform(
            exps,
            lambda k: F.floor(F.pow(F.lit(0.9), k) * 1e6 + 0.5).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        ev.select("event_id", "user_id", vals.alias("vals"))
        .select(
            "event_id",
            "user_id",
            # empty frame (every value in the trailing window NULL) has
            # no average — NULL out instead of an ANSI 0/0 (r16)
            F.when(
                F.size("vals") > 0,
                F.floor(num.cast("double") * 1000.0 / den + 0.5).cast("long"),
            ).alias("ewma_milli"),
        )
    )


@register(
    "dq_k_anonymity",
    """
    WITH g AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n
      FROM customer GROUP BY 1, 2)
    SELECT count(*) AS n_groups,
           count(*) FILTER (WHERE n < 5) AS n_risky_groups,
           CAST(coalesce(sum(n) FILTER (WHERE n < 5), 0) AS BIGINT)
             AS n_risky_rows,
           CAST(min(n) AS BIGINT) AS min_group_size
    FROM g
    """,
)
def dq_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier tuple (nation,
    segment): groups smaller than k=5 re-identify their members, so the
    release gate needs the risky-group and affected-row counts plus the
    worst group size. One grouped count + one tiny aggregate — the
    privacy twin of `dq_constraints`, and the pre-check before
    generalization/suppression."""
    cust = table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count("*").alias("n")
    )
    risky = F.col("n") < 5
    return g.agg(
        F.count("*").alias("n_groups"),
        F.count_if(risky).alias("n_risky_groups"),
        F.coalesce(F.sum(F.when(risky, F.col("n"))), F.lit(0)).alias(
            "n_risky_rows"
        ),
        F.min("n").alias("min_group_size"),
    )


@register(
    "ml_negative_pairs",
    f"""
    WITH n AS (SELECT count(*) AS n FROM documents),
    anchors AS (SELECT doc_id, lang FROM documents WHERE doc_id % 7 = 0),
    negs AS (
      SELECT a.doc_id, j,
             (a.doc_id + 1 +
              ({H.hash64_sql("a.doc_id::VARCHAR || ':' || j::VARCHAR", 23)}
               % (n.n - 1))) % n.n AS neg_id
      FROM anchors a CROSS JOIN n
      CROSS JOIN (SELECT unnest([1, 2, 3]) AS j))
    SELECT negs.doc_id, negs.j, negs.neg_id, d.lang AS neg_lang
    FROM negs JOIN documents d ON d.doc_id = negs.neg_id
    """,
)
def ml_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive negative sampling: each anchor document draws 3
    deterministic negatives via seeded-hash modular offsets in
    [1, N-1] — never itself, reproducible across runs/engines (no RNG),
    uniform over the corpus. The join back to the corpus attaches the
    negative's features (here its language) — at scale that join
    shuffles on doc_id like any fact join, and the offset trick needs
    only the corpus COUNT broadcast, not an id table."""
    docs = table(spark, sf_dir, "documents")
    n = docs.agg(F.count("*").alias("n"))
    anchors = docs.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    js = F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("j")
    negs = (
        anchors.crossJoin(F.broadcast(n))
        .select("doc_id", "n", js)
        .select(
            "doc_id",
            "j",
            (
                (
                    F.col("doc_id")
                    + 1
                    + H.hash64(
                        F.concat(
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("j").cast("string"),
                        ),
                        seed=23,
                    )
                    % (F.col("n") - 1)
                )
                % F.col("n")
            ).alias("neg_id"),
        )
    )
    d = docs.select(F.col("doc_id").alias("neg_id"), F.col("lang").alias("neg_lang"))
    return negs.join(d, "neg_id").select("doc_id", "j", "neg_id", "neg_lang")


@register(
    "ts_hypertable_rollup",
    """
    WITH ev AS (
      SELECT CAST(ts AS TIMESTAMP) AS ts, value FROM events),
    b AS (
      SELECT floor(epoch(date_trunc('day', ts)))::BIGINT AS day_epoch,
             floor(epoch(date_trunc('hour', ts)))::BIGINT AS hour_epoch,
             value
      FROM ev)
    SELECT CASE WHEN grouping(hour_epoch) = 1 THEN 'day' ELSE 'hour' END
             AS granularity,
           day_epoch,
           CASE WHEN grouping(hour_epoch) = 1 THEN NULL ELSE hour_epoch END
             AS hour_epoch,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM b
    GROUP BY GROUPING SETS ((day_epoch), (day_epoch, hour_epoch))
    """,
)
def ts_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hour AND day continuous
    aggregates materialized in ONE pass via GROUPING SETS (no
    re-reading the raw hypertable per granularity; map-side partials
    feed both set levels). The labels disambiguate levels; at 100 TB
    coarser granularities come almost free once the finest is paid for,
    and each level is independently mergeable for incremental refresh
    (the `incremental_agg_merge` pattern)."""
    ev = table(spark, sf_dir, "events").select(
        F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch"),
        F.unix_timestamp(F.date_trunc("hour", "ts")).alias("hour_epoch"),
        "value",
    )
    return spark.sql(
        """
        SELECT CASE WHEN grouping(hour_epoch) = 1 THEN 'day' ELSE 'hour' END
                 AS granularity,
               day_epoch,
               CASE WHEN grouping(hour_epoch) = 1 THEN NULL ELSE hour_epoch END
                 AS hour_epoch,
               count(*) AS n,
               CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        FROM {ev}
        GROUP BY GROUPING SETS ((day_epoch), (day_epoch, hour_epoch))
        """,
        ev=ev,
    )


@register(
    "a5_kmv_distinct",
    f"""
    WITH h AS (
      SELECT DISTINCT {H.hash64_sql('tok', 29)} AS hv
      FROM (SELECT unnest({_TOKS_SQL}) AS tok FROM documents)),
    mins AS (SELECT hv FROM h ORDER BY hv LIMIT 16),
    kth AS (SELECT max(hv) AS hk, count(*) AS k FROM mins)
    SELECT k, hk,
           CAST(floor((k - 1) * 1152921504606846976.0 / hk) AS BIGINT)
             AS kmv_estimate,
           (SELECT count(*) FROM h) AS exact_distinct
    FROM kth
    """,
)
def a5_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch: keep the k=16
    smallest 60-bit hashes of the value set; the k-th smallest estimates
    cardinality as (k-1)·2^60 / h_k. Unlike HLL (engine-specific,
    rows-only `a5_approx_distinct`), the md5 hash family makes this
    sketch BIT-IDENTICAL cross-engine — the estimate itself is
    oracle-verified next to the exact count. Mergeable at scale: union
    the per-partition min-k sets and re-take k smallest (a
    TakeOrdered, no full shuffle of the distinct set)."""
    docs = table(spark, sf_dir, "documents")
    h = (
        docs.select(F.explode(H.tokens(F.col("text"))).alias("tok"))
        .select(H.hash64(F.col("tok"), seed=29).alias("hv"))
        .distinct()
    )
    mins = h.orderBy("hv").limit(16)
    kth = mins.agg(F.max("hv").alias("hk"), F.count("*").alias("k"))
    exact = h.agg(F.count("*").alias("exact_distinct"))
    return kth.crossJoin(F.broadcast(exact)).select(
        "k",
        "hk",
        F.floor((F.col("k") - 1) * 1152921504606846976.0 / F.col("hk"))
        .cast("bigint")
        .alias("kmv_estimate"),
        "exact_distinct",
    )


@register(
    "graph_copurchase",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders
    FROM li a JOIN li b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 2
    """,
)
def graph_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-purchase graph (bipartite projection of the order→part graph):
    part pairs that share an order, counted across orders — the
    market-basket / related-items edge list. The self-join is keyed on
    l_orderkey, so pair fan-out is bounded by (items per order choose
    2), NOT corpus size — the same bounded-blowup argument as the LSH
    band join; the canonical a<b ordering halves the pairs and makes
    edges unique."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.alias("a")
    b = li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"),
        F.col("b.l_partkey").alias("part_b"),
    )
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
    )


@register(
    "s22_orphan_files",
    """
    SELECT count(*) FILTER (WHERE doc_id % 5 = 0) AS n_orphans,
           count(*) FILTER (WHERE doc_id % 5 <> 0) AS n_tracked
    FROM documents WHERE doc_id < 200 AND text IS NOT NULL
    """,
)
def s22_orphan_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake janitor: files present in storage but absent from the
    catalog (orphans from failed writes / manual drops). Storage is
    listed with the binaryFile source, the catalog side is the tracked
    subset (here every doc_id % 5 != 0), and a broadcast ANTI-join
    splits orphans from tracked — the reconciliation sweep that
    precedes a vacuum. At 100 TB the listing is the expensive side;
    the catalog path column broadcasts."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    from ..sources.binary import read_binary_dir, stage_files

    def to_file(r):
        # null payloads never reach the bucket
        return None if r["text"] is None else (f"{r['doc_id']}.bin", r["text"].encode("utf-8"))

    dest = stage_files(spark, ("orphan_scan", sf_dir), docs, to_file)
    listed = read_binary_dir(spark, dest).select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("long")
        .alias("doc_id")
    )
    catalog = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id")
    # both sides are corpus-sized id lists — unhinted; at 100 TB the
    # orphan sweep is a shuffled anti/semi join on doc_id
    orphans = listed.join(catalog, "doc_id", "left_anti")
    tracked = listed.join(catalog, "doc_id", "left_semi")
    return orphans.agg(F.count("*").alias("n_orphans")).crossJoin(
        tracked.agg(F.count("*").alias("n_tracked"))
    )


_MULTIPROBE_SQL = f"""
WITH b AS (SELECT vec_id, {SIM.hyperplane_signature_sql('embedding', 6)} AS bucket,
                  embedding FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS q_id, bucket, embedding AS qe FROM b WHERE vec_id IN (0, 1, 2)),
probes AS (
  SELECT q_id, qe,
         unnest([bucket, {", ".join(f"xor(bucket, {1 << p})" for p in range(6))}])
           AS bucket
  FROM q),
scored AS (
  SELECT p.q_id, e.vec_id, round({V.cosine_sql('e.embedding', 'p.qe')}, 6) AS cos
  FROM b e JOIN probes p ON e.bucket = p.bucket)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 5
"""


@register("ann_multiprobe_topk", _MULTIPROBE_SQL)
def ann_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: besides its own hyperplane bucket, each query
    probes the 6 one-bit-flip NEIGHBOR buckets — the standard recall
    fix for points near a hyperplane, trading a bounded ×(planes+1)
    candidate fan-out for far better recall than a single probe, with
    no extra tables or index passes (probing is pure key arithmetic on
    the query side; the data side is still one bucket per vector).
    Null vectors excluded per the similarity-search contract."""
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    b = emb.select(
        "vec_id",
        SIM.hyperplane_signature("embedding", 6).alias("bucket"),
        "embedding",
    )
    q = b.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"),
        "bucket",
        F.col("embedding").alias("qe"),
    )
    probes = q.select(
        "q_id",
        "qe",
        F.explode(
            F.array(
                F.col("bucket"),
                *[
                    F.col("bucket").bitwiseXOR(F.lit(1 << p))
                    for p in range(6)
                ],
            )
        ).alias("bucket"),
    )
    scored = b.join(F.broadcast(probes), "bucket").select(
        "q_id",
        "vec_id",
        F.round(V.cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"),
    )
    return topk_per_group(
        scored, ["q_id"], [F.col("cos").desc(), F.col("vec_id")], 5, rank_col="rank"
    ).select("q_id", "vec_id", "cos", "rank")


_MATRYOSHKA_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings
           WHERE vec_id IN (0, 1, 2)),
pre AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({V.cosine_sql('e.embedding[1:16]', 'q.qe[1:16]')}, 6) DESC,
                      e.vec_id) AS rank
    FROM embeddings e, q) WHERE rank <= 10),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({V.cosine_sql('e.embedding', 'q.qe')}, 6) DESC,
                      e.vec_id) AS rank
    FROM embeddings e, q) WHERE rank <= 10)
SELECT exact.q_id,
       count(pre.vec_id) AS n_hit,
       floor(count(pre.vec_id) / 10.0 * 1e6 + 0.5) / 1e6 AS recall_at_10
FROM exact LEFT JOIN pre USING (q_id, vec_id)
GROUP BY exact.q_id
"""


@register("ann_matryoshka_recall", _MATRYOSHKA_SQL)
def ann_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka/MRL-style truncated-embedding evaluation: recall@10 of
    ranking by only the FIRST 16 of 64 dimensions against the full-dim
    exact top-10 — the measurement behind serving truncated embedding
    prefixes (4× less scan + memory per query, the dimensionality twin
    of ann_sq8_recall's compression axis). Both rankings are
    deterministic window top-ks; the prefix is a zero-copy array slice,
    no re-embedding pass."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries_df = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    pre16 = emb.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    q16 = queries_df.select("q_id", F.slice("embedding", 1, 16).alias("embedding"))
    pre = SIM.brute_force_topk(pre16, q16, k=10).select("q_id", "vec_id")
    exact = SIM.brute_force_topk(emb, queries_df, k=10).select("q_id", "vec_id")
    return SIM.recall_at_k(exact, pre, 10)


_RECALL_SQL = f"""
WITH b AS (SELECT vec_id, {SIM.hyperplane_signature_sql('embedding', 6)} AS bucket,
                  embedding FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS q_id, bucket, embedding AS qe FROM b WHERE vec_id IN (0, 1, 2)),
ann AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({V.cosine_sql('e.embedding', 'q.qe')}, 6) DESC,
                      e.vec_id) AS rank
    FROM b e JOIN q ON e.bucket = q.bucket) WHERE rank <= 5),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({V.cosine_sql('e.embedding', 'q.qe')}, 6) DESC,
                      e.vec_id) AS rank
    FROM b e, q) WHERE rank <= 5)
SELECT exact.q_id,
       count(ann.vec_id) AS n_hit,
       floor(count(ann.vec_id) / 5.0 * 1e6 + 0.5) / 1e6 AS recall_at_5
FROM exact LEFT JOIN ann USING (q_id, vec_id)
GROUP BY exact.q_id
"""


@register("ann_recall_eval", _RECALL_SQL)
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation IN the engine: single-probe LSH top-5
    joined against the exact brute-force top-5 ground truth → recall@5
    per query. The standard index-tuning loop (raise planes/probes
    until recall clears the bar) as one query — at scale ground truth
    runs on a sampled query set while the index serves the rest.
    Null vectors excluded per the similarity-search contract."""
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    ann = SIM.lsh_ann_topk(emb, queries).select("q_id", "vec_id")
    exact = SIM.brute_force_topk(emb, queries, k=5).select("q_id", "vec_id")
    return SIM.recall_at_k(exact, ann, 5)


@register(
    "dedup_simhash_pairs",
    f"""
    WITH fa AS ({_simhash_sql(32)}), fb AS ({_simhash_sql(32)})
    SELECT fa.doc_id AS a_id, fb.doc_id AS b_id,
           bit_count(xor(fa.fp, fb.fp)) AS hamming
    FROM fa JOIN fb ON fa.doc_id < fb.doc_id
    WHERE bit_count(xor(fa.fp, fb.fp)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS with hamming-band blocking: the 32-bit
    fingerprint splits into 4 bytes; by pigeonhole, any pair within
    hamming distance 3 shares at least one whole byte, so the band
    equi-join provably finds EVERY qualifying pair (the oracle checks
    against the brute-force all-pairs definition) while candidates stay
    bucket-bounded — the simhash completion of the MinHash band-join
    story, no cross join anywhere.

    Registered at the 32-bit / 8-bit-band setting its DuckDB oracle
    evaluates exactly; ``operators.dedup.simhash_pairs`` exposes
    ``band_bits`` as the corpus-size dial (SCALING.md measures the
    widened 60/15 setting at k=8 data — the band-widening scale path)."""
    return D.simhash_pairs(table(spark, sf_dir, "documents"), num_bits=32, band_bits=8)


@register(
    "ts_rank_shift",
    """
    WITH halves AS (
      SELECT event_type,
             CASE WHEN day(CAST(ts AS TIMESTAMP)) <= 15 THEN 'h1' ELSE 'h2' END
               AS half,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, half, n,
             row_number() OVER (PARTITION BY half ORDER BY n DESC, event_type)
               AS r
      FROM halves)
    SELECT a.event_type, a.r AS rank_h1, b.r AS rank_h2,
           a.r - b.r AS rank_gain
    FROM ranked a JOIN ranked b USING (event_type)
    WHERE a.half = 'h1' AND b.half = 'h2'
    """,
)
def ts_rank_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-shift trending report: event types ranked by volume in the
    first vs second half of the month, with the rank delta (positive =
    climbing). Ranks run over the tiny post-aggregate; the period
    comparison is a self-join on the ranked table — the "movers and
    shakers" report shape."""
    ev = table(spark, sf_dir, "events")
    halves = ev.groupBy(
        "event_type",
        F.when(F.dayofmonth("ts") <= 15, "h1").otherwise("h2").alias("half"),
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("half").orderBy(F.col("n").desc(), "event_type")
    ranked = halves.select("event_type", "half", F.row_number().over(w).alias("r"))
    a = ranked.filter(F.col("half") == "h1").select(
        "event_type", F.col("r").alias("rank_h1")
    )
    b = ranked.filter(F.col("half") == "h2").select(
        "event_type", F.col("r").alias("rank_h2")
    )
    return a.join(b, "event_type").select(
        "event_type",
        "rank_h1",
        "rank_h2",
        (F.col("rank_h1") - F.col("rank_h2")).alias("rank_gain"),
    )


@register(
    "a15_abc_classify",
    """
    WITH p AS (
      SELECT l.l_partkey, pt.p_brand,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
               AS rev
      FROM lineitem l JOIN part pt ON l.l_partkey = pt.p_partkey
      GROUP BY 1, 2),
    c AS (
      SELECT p_brand, l_partkey, rev,
             CAST(sum(CAST(rev AS DECIMAL(18,4))) OVER (
               PARTITION BY p_brand ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS cum,
             CAST(sum(CAST(rev AS DECIMAL(18,4))) OVER (PARTITION BY p_brand)
               AS DOUBLE) AS tot
      FROM p)
    SELECT p_brand,
           CASE WHEN cum / tot <= 0.8 THEN 'A'
                WHEN cum / tot <= 0.95 THEN 'B' ELSE 'C' END AS abc,
           count(*) AS n_parts,
           CAST(sum(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) AS class_rev
    FROM c GROUP BY 1, 2
    """,
)
def a15_abc_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification: parts bucketed by cumulative revenue
    share within their brand (A = first 80%, B = to 95%, C = tail). The
    running share is a BRAND-partitioned window over the part-level
    aggregate — post-agg altitude, decimal window sums for exact
    cumulative totals, the inventory-analysis staple."""
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    p = (
        li.join(part, li.l_partkey == part.p_partkey)  # linear-in-SF: stats decide
        .groupBy("l_partkey", "p_brand")
        .agg(dsum(F.col("l_extendedprice")).alias("rev"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.col("rev").desc(), "l_partkey")
    cum = (
        F.sum(F.col("rev").cast("decimal(18,4)"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("double")
    )
    tot = (
        F.sum(F.col("rev").cast("decimal(18,4)"))
        .over(Window.partitionBy("p_brand"))
        .cast("double")
    )
    c = p.select(
        "p_brand",
        "rev",
        F.when(cum / tot <= 0.8, "A")
        .when(cum / tot <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
    )
    return c.groupBy("p_brand", "abc").agg(
        F.count("*").alias("n_parts"),
        dsum(F.col("rev")).alias("class_rev"),
    )


@register(
    "a16_share_of_parent",
    """
    WITH n AS (
      SELECT r.r_name, na.n_name,
             CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation na ON c.c_nationkey = na.n_nationkey
      JOIN region r ON na.n_regionkey = r.r_regionkey
      GROUP BY 1, 2),
    rt AS (SELECT r_name, CAST(sum(CAST(rev AS DECIMAL(18,4))) AS DOUBLE)
                    AS region_rev
           FROM n GROUP BY r_name)
    SELECT n.r_name, n.n_name, n.rev,
           floor(n.rev / rt.region_rev * 1e6 + 0.5) / 1e6 AS share_of_region
    FROM n JOIN rt USING (r_name)
    """,
)
def a16_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent in the region→nation hierarchy: nation revenue as
    a fraction of its region's — child aggregate once, parent totals
    re-aggregated FROM THE CHILD level (never rescanning facts) and
    broadcast back. The drill-down percent-of-total OLAP staple with
    decimal-exact totals at both levels."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    n = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)  # linear-in-SF
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum(F.col("o_totalprice")).alias("rev"))
    )
    rt = n.groupBy("r_name").agg(
        F.sum(F.col("rev").cast("decimal(18,4)")).cast("double").alias("region_rev")
    )
    return n.join(F.broadcast(rt), "r_name").select(
        "r_name",
        "n_name",
        "rev",
        (
            F.floor(F.col("rev") / F.col("region_rev") * 1e6 + F.lit(0.5)) / 1e6
        ).alias("share_of_region"),
    )


@register(
    "seq_first_last_flow",
    """
    WITH s AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL),
    fl AS (
      SELECT user_id,
             min({'ts': ts, 'event_id': event_id, 'event_type': event_type})
               AS first_r,
             max({'ts': ts, 'event_id': event_id, 'event_type': event_type})
               AS last_r
      FROM s GROUP BY user_id)
    SELECT first_r.event_type AS first_type,
           last_r.event_type AS last_type,
           count(*) AS n_users
    FROM fl GROUP BY 1, 2
    """,
)
def seq_first_last_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entry→exit flow (Sankey endpoints): each user's FIRST and LAST
    event types via min/max over a (ts, event_id, payload) struct — the
    deterministic argmin/argmax idiom (ties broken by event_id inside
    the struct ordering, no window needed), then flow-pair counts. One
    grouped agg + one tiny count. Endpoint selection orders by
    (ts, event_id) — rows missing either have no position in the
    journey and are excluded on both sides (r16 contract; engine
    struct-comparison null conventions differ)."""
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select("user_id", "event_type", "ts", "event_id")
    )
    r = F.struct("ts", "event_id", "event_type")
    fl = ev.groupBy("user_id").agg(
        F.min(r).alias("first_r"), F.max(r).alias("last_r")
    )
    return fl.groupBy(
        F.col("first_r.event_type").alias("first_type"),
        F.col("last_r.event_type").alias("last_type"),
    ).agg(F.count("*").alias("n_users"))


@register(
    "p12_per_source_cap",
    f"""
    WITH r AS (
      SELECT source, lang,
             row_number() OVER (PARTITION BY source
               ORDER BY {H.hash64_sql('doc_id::VARCHAR', 31)}, doc_id) AS rn
      FROM documents)
    SELECT source,
           count(*) FILTER (WHERE rn <= 15) AS n_kept,
           count(*) FILTER (WHERE rn > 15) AS n_capped
    FROM r GROUP BY source
    """,
)
def p12_per_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (anti-domination): at most K=15 docs per
    source survive, chosen by seeded-hash order so the kept subset is
    reproducible — the guard against one crawl domain flooding the
    training mix. One source-partitioned window; at 100 TB the
    two-phase per-partition pre-cap (keep K per partition, then K of
    those) bounds window state."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        H.hash64(F.col("doc_id"), seed=31), "doc_id"
    )
    r = docs.select("source", F.row_number().over(w).alias("rn"))
    return r.groupBy("source").agg(
        F.count_if(F.col("rn") <= 15).alias("n_kept"),
        F.count_if(F.col("rn") > 15).alias("n_capped"),
    )


@register(
    "a17_hist_median",
    """
    WITH h AS (
      SELECT CAST(floor(o_totalprice / 20000) AS BIGINT) AS b, count(*) AS n
      FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
    c AS (
      SELECT b, n,
             sum(n) OVER (ORDER BY b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS below,
             sum(n) OVER () AS total
      FROM h),
    med AS (
      SELECT b, n, coalesce(below, 0) AS below, total FROM c
      WHERE coalesce(below, 0) < (total + 1) / 2.0
        AND (total + 1) / 2.0 <= coalesce(below, 0) + n)
    SELECT floor((b * 20000
                  + ((total + 1) / 2.0 - below) / n * 20000) * 1e4 + 0.5) / 1e4
             AS hist_median_est,
           round((SELECT quantile_cont(o_totalprice, 0.5) FROM orders
                  WHERE o_totalprice IS NOT NULL), 4)
             AS exact_median
    FROM med
    """,
)
def a17_hist_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based median ESTIMATE with its accuracy on display: the
    fixed-width histogram (one mergeable grouped count — the streaming-
    friendly path) locates the median bucket and interpolates within
    it; the exact interpolated median sits beside it in the same row.
    Like the KMV sketch, every arithmetic step is deterministic, so the
    oracle verifies the approximation itself — at 100 TB the histogram
    needs one map-side-combined pass while exact quantiles need a
    sort/percentile machinery. Median over NON-NULL values — a null
    price has no bucket (r16 contract)."""
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    h = orders.groupBy(
        F.floor(F.col("o_totalprice") / 20000).cast("bigint").alias("b")
    ).agg(F.count("*").alias("n"))
    wo = Window.orderBy("b")
    c = h.select(
        "b",
        "n",
        F.coalesce(
            F.sum("n").over(wo.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("below"),
        F.sum("n").over(Window.partitionBy()).alias("total"),
    )
    half = (F.col("total") + 1) / 2.0
    med = c.filter((F.col("below") < half) & (half <= F.col("below") + F.col("n")))
    est = (
        F.col("b") * 20000
        + (half - F.col("below")) / F.col("n") * 20000
    )
    exact = orders.agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("exact_median")
    )
    return med.select(
        (F.floor(est * 1e4 + F.lit(0.5)) / 1e4).alias("hist_median_est")
    ).crossJoin(F.broadcast(exact))


@register(
    "a18_outlier_zscore",
    """
    WITH st AS (
      SELECT event_type, count(*) AS n,
             CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS s,
             CAST(sum(CAST(value * value AS DECIMAL(28,4))) AS DOUBLE) AS ss
      FROM events GROUP BY event_type),
    m AS (
      SELECT event_type, s / n AS mu,
             sqrt(greatest(ss / n - (s / n) * (s / n), 0.0)) AS sigma
      FROM st)
    SELECT e.event_type,
           count(*) FILTER (WHERE abs(e.value - m.mu) > 3 * m.sigma)
             AS n_outliers,
           count(*) AS n
    FROM events e JOIN m USING (event_type)
    GROUP BY e.event_type
    """,
)
def a18_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier counting per group: mean and stddev from DECIMAL
    power sums (one scan, order-independent — the same reason as
    `a8_corr`), broadcast back, deviations counted in a second map-only
    pass. sqrt and IEEE ±*/ are deterministic cross-engine, unlike
    built-in stddev's streaming update order."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    v = F.col("value")
    st = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(v).alias("s"),
        F.sum((v * v).cast("decimal(28,4)")).cast("double").alias("ss"),
    )
    mu = F.col("s") / F.col("n")
    sigma = F.sqrt(F.greatest(F.col("ss") / F.col("n") - mu * mu, F.lit(0.0)))
    m = st.select("event_type", mu.alias("mu"), sigma.alias("sigma"))
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.count_if(
                F.abs(v - F.col("mu")) > 3 * F.col("sigma")
            ).alias("n_outliers"),
            F.count("*").alias("n"),
        )
    )


_TDIGEST_QS = [0.25, 0.5, 0.75, 0.95]

_TDIGEST_SQL = f"""
WITH e AS (
  SELECT quantile_cont(value, {_TDIGEST_QS}) AS arr, count(*) AS n
  FROM events WHERE value IS NOT NULL)
SELECT ({_TDIGEST_QS}::DOUBLE[])[i] AS q,
       n AS n_total,
       round(arr[i], 4) AS exact_q,
       true AS within_tol
FROM e, UNNEST(generate_series(1, {len(_TDIGEST_QS)})) AS t(i)
ORDER BY q
"""
