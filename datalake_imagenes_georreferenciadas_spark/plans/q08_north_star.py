"""Registry segment 08 (mechanical split of plans/queries.py, r17).

- NORTH STAR — the reference's own workflow end to end (SURVEY M1-M3) (cont. 2)

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
    drain_batches,
    dsum,
    os,
    register,
    scratch_dir,
    shard_stream,
    spread,
    table,
)
from .q01_j1 import _COMPONENTS_SQL, _near_pairs_cte
from .q03_ext import _BULK_N, _BULK_PTS_SQL
from .q05_training import _TOKS_SQL
from .q07_north_star import _TDIGEST_QS, _TDIGEST_SQL



def _tdigest_rank_check(ev: DataFrame, approx: DataFrame) -> DataFrame:
    """Shared external-check tail for the t-digest queries: join the
    (q, approx) digest estimates back to the data — exact percentile
    value-compared, the estimate graded as a midrank-tolerance boolean
    (see a19_tdigest_quantile docstring for the bound).

    r20: a spread() of the check tail was measured and REJECTED — the
    single-task percentile/midrank work here is cheaper than the
    repartition exchange at bench scale (isolated A/B min-of-3: unspread
    1.19 s vs spread-both 1.37 s vs spread-rank-only 1.32 s)."""
    q_arr = F.array(*[F.lit(x) for x in _TDIGEST_QS])
    # one row per requested quantile even over empty input (n_total 0,
    # NULL exact_q), as the global aggregate the oracle mirrors returns:
    # an empty input's NULL percentile array explodes as len(qs) NULLs
    no_data = F.array_repeat(F.lit(None).cast("double"), len(_TDIGEST_QS))
    stats = (
        ev.agg(
            F.count("*").alias("n_total"),
            F.percentile("value", q_arr).alias("ex"),
        )
        .select("n_total", F.posexplode(F.coalesce("ex", no_data)).alias("pos", "exact_q"))
        .select(
            F.element_at(q_arr, F.col("pos") + 1).alias("q"),
            "n_total",
            F.round("exact_q", 4).alias("exact_q"),
        )
    )
    rank = (
        ev.crossJoin(F.broadcast(approx))
        .groupBy("q")
        .agg(
            (
                (
                    F.count_if(F.col("value") < F.col("approx"))
                    + F.count_if(F.col("value") <= F.col("approx"))
                )
                / (2.0 * F.count("*"))
            ).alias("midrank")
        )
    )
    # no data, no estimate to grade; on data a missing estimate is NULL
    return (
        stats.join(F.broadcast(rank), "q", "left")
        .select(
            "q",
            "n_total",
            "exact_q",
            (
                (F.col("n_total") == 0) | (F.abs(F.col("midrank") - F.col("q")) <= 0.02)
            ).alias("within_tol"),
        )
        .orderBy("q")
    )


@register("a19_tdigest_quantile", _TDIGEST_SQL)
def a19_tdigest_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom mergeable quantile sketch: a two-stage t-digest
    (operators/tdigest.py — per-Arrow-batch digests via mapInPandas,
    tiny centroid rows merged in one final task) estimating 4 quantiles
    of events.value in ONE scan + one O(δ·batches) reduction — the
    100 TB percentile path where exact `percentile` would global-sort.

    External check (same discipline as a5_approx_distinct /
    ann_recall_eval): the sketch estimate is batch-boundary-sensitive,
    so what leaves the engine is the EXACT interpolated percentile
    (value-compared against DuckDB quantile_cont) plus a boolean
    asserting the t-digest's published rank-error bound: the midrank of
    the estimate must sit within ±0.02 of the target quantile (δ=200
    bounds rank error at ≈4·q(1−q)/δ ≤ 0.005 — 4× margin). Midrank
    (count(<) + count(≤))/2 keeps the check stable across the 2-decimal
    tie mass in events.value. A broken digest reports false and
    red-rows the round.

    r16 contract: quantiles are over NON-NULL values — a null value has
    no rank, and leaving it in the midrank denominator silently shifts
    the rank check by the null rate (the null-shifted-bucket-stat fuzz
    mechanism). Both sides filter value IS NOT NULL."""
    from ..operators import tdigest as TD

    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("value")
    )
    return _tdigest_rank_check(ev, TD.quantiles(ev, "value", _TDIGEST_QS))


@register("streaming_tdigest", _TDIGEST_SQL)
def streaming_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile monitoring: the t-digest's MERGEABILITY is
    what makes it a streaming sketch — each micro-batch compresses to
    ≤δ centroid rows written once under its batch id (idempotent on
    replay: an existing batch directory is never rewritten — the same
    exactly-once discipline as streaming_foreachbatch_merge), and the
    monitor's estimate is the merge of ALL batches' centroids, which by
    associativity equals a single digest over the full stream. State
    grows O(δ) per batch and never touches raw history — the shape of
    a production latency/price quantile dashboard fed by a stream.

    The stream is the events file staged as 4 shards read
    one-per-micro-batch (availableNow); the external check is the same
    exact-percentile + midrank-tolerance contract as
    a19_tdigest_quantile, so the streamed-and-merged digest is graded
    against the full batch table."""
    from ..operators import tdigest as TD

    base = scratch_dir("stdg_")
    stream_dir = os.path.join(base, "in")
    cent_dir = os.path.join(base, "centroids")
    # non-null contract shared with a19_tdigest_quantile (r16)
    ev = (
        table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("value")
    )
    ev.repartition(4).write.parquet(stream_dir)

    applied: set[int] = set()

    def add_digest(batch_df, batch_id: int) -> None:
        if batch_id in applied:
            return
        applied.add(batch_id)
        out = os.path.join(cent_dir, f"batch_{batch_id}")
        if os.path.isdir(out):  # replayed after restart: already merged
            return
        TD.sketch(batch_df, "value").write.parquet(out)

    drain_batches(shard_stream(spark, stream_dir), add_digest, stream_dir)
    cent = (
        spark.read.option("recursiveFileLookup", "true")
        .schema("mean double, weight double")
        .parquet(cent_dir)
    )
    approx = TD.quantiles_from_centroids(cent, _TDIGEST_QS)
    return _tdigest_rank_check(ev, approx)


@register(
    "dq_shard_balance",
    f"""
    WITH s AS (
      SELECT {H.hash64_sql('doc_id::VARCHAR', 99)} % 32 AS shard, count(*) AS n
      FROM documents GROUP BY 1)
    SELECT count(*) AS n_shards,
           CAST(min(n) AS BIGINT) AS min_rows,
           CAST(max(n) AS BIGINT) AS max_rows,
           floor(max(n) / (sum(n) / count(*)) * 1e4 + 0.5) / 1e4
             AS skew_factor
    FROM s
    """,
)
def dq_shard_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance diagnostic for the hash partitioning the engine's
    training-order/packing ops rely on: rows per shard, extremes, and
    the skew factor (max/mean — 1.0 is perfect). The ops report that
    decides whether a salting or re-sharding pass is needed BEFORE a
    skewed key ruins a 1000-executor stage; cost is one grouped count."""
    docs = table(spark, sf_dir, "documents")
    s = docs.groupBy(
        (H.hash64(F.col("doc_id"), seed=99) % 32).alias("shard")
    ).agg(F.count("*").alias("n"))
    skew = F.col("max_rows") / (F.col("total") / F.col("n_shards"))
    return (
        s.agg(
            F.count("*").alias("n_shards"),
            F.min("n").alias("min_rows"),
            F.max("n").alias("max_rows"),
            F.sum("n").alias("total"),
        )
        .select(
            "n_shards",
            "min_rows",
            "max_rows",
            (F.floor(skew * 1e4 + F.lit(0.5)) / 1e4).alias("skew_factor"),
        )
    )


@register(
    "dedup_cluster_sizes",
    "WITH comp AS ("
    + _COMPONENTS_SQL
    + """)
    SELECT cluster_size, count(*) AS n_clusters FROM (
      SELECT component, count(*) AS cluster_size
      FROM comp GROUP BY component)
    GROUP BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution: how many singleton / pair /
    larger duplicate groups the corpus contains — the dedup IMPACT
    report (docs removed = Σ(size-1)·clusters) that decides whether
    near-dedup is worth its cost on a new corpus; two tiny aggregates
    over the component assignment."""
    comp = D.dedup_components(table(spark, sf_dir, "documents"))
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(F.count("*").alias("n_clusters"))


@register(
    "j_lateral_topn",
    """
    SELECT r.r_name, t.n_name, t.n_customers
    FROM region r, LATERAL (
      SELECT n.n_name, count(*) AS n_customers
      FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      WHERE n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name
      ORDER BY n_customers DESC, n.n_name
      LIMIT 2) t
    """,
)
def j_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 nations by customer count FOR
    EACH region, written as the SQL-standard lateral join — Catalyst
    decorrelates it into the join+window plan rather than re-executing
    the subquery per outer row (the per-row loop a naive engine would
    run). Same semantics as `w1_topk_per_group`, exercised through the
    LATERAL SQL path."""
    return spark.sql(
        """
        SELECT r.r_name, t.n_name, t.n_customers
        FROM {region} r, LATERAL (
          SELECT n.n_name, count(*) AS n_customers
          FROM {nation} n
          JOIN {customer} c ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          GROUP BY n.n_name
          ORDER BY n_customers DESC, n.n_name
          LIMIT 2) t
        """,
        region=table(spark, sf_dir, "region"),
        nation=table(spark, sf_dir, "nation"),
        customer=table(spark, sf_dir, "customer"),
    )


@register(
    "f_binary_codecs",
    """
    SELECT doc_id,
           upper(md5(text)) AS content_hex,
           to_base64(unhex(md5(text))) AS content_b64,
           octet_length(unhex(md5(text))) AS n_bytes
    FROM documents WHERE doc_id < 50
    """,
)
def f_binary_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary codec surface: hex ⇄ bytes ⇄ base64 round-trips over the
    content digest — the encodings object keys, manifests, and wire
    formats speak. Pure column functions with identical RFC semantics
    in both engines."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    b = F.unhex(F.md5("text"))
    return docs.select(
        "doc_id",
        F.upper(F.md5("text")).alias("content_hex"),
        F.base64(b).alias("content_b64"),
        F.length(b).alias("n_bytes"),
    )


@register(
    "s23_analyze_stats",
    """
    SELECT 'orders' AS tbl, count(*) AS n_rows,
           count(DISTINCT o_custkey) AS n_distinct_key,
           floor(count(*) FILTER (WHERE o_totalprice IS NULL)::DOUBLE
                 / count(*) * 1e6 + 0.5) / 1e6 AS null_frac
    FROM orders
    UNION ALL
    SELECT 'lineitem', count(*), count(DISTINCT l_orderkey),
           floor(count(*) FILTER (WHERE l_quantity IS NULL)::DOUBLE
                 / count(*) * 1e6 + 0.5) / 1e6
    FROM lineitem
    UNION ALL
    SELECT 'customer', count(*), count(DISTINCT c_nationkey),
           floor(count(*) FILTER (WHERE c_acctbal IS NULL)::DOUBLE
                 / count(*) * 1e6 + 0.5) / 1e6
    FROM customer
    UNION ALL
    SELECT 'documents', count(*), count(DISTINCT lang),
           floor(count(*) FILTER (WHERE text IS NULL)::DOUBLE
                 / count(*) * 1e6 + 0.5) / 1e6
    FROM documents
    """,
)
def s23_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style statistics collection: per-table row counts, key
    cardinalities, and null fractions in one union of single-scan
    aggregates — the stats a cost-based optimizer (and a data-quality
    dashboard) feeds on; each branch is map-side combinable and the
    union is plan-parallel."""

    def one(tbl: str, key: str, nullable: str) -> DataFrame:
        df = table(spark, sf_dir, tbl)
        # try_divide: an empty table has a well-defined stats row (n=0,
        # null_frac NULL), not an ANSI divide-by-zero.
        nf = F.try_divide(
            F.count_if(F.col(nullable).isNull()).cast("double"), F.count("*")
        )
        return df.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct(key).alias("n_distinct_key"),
            (F.floor(nf * 1e6 + F.lit(0.5)) / 1e6).alias("null_frac"),
        ).select(F.lit(tbl).alias("tbl"), "n_rows", "n_distinct_key", "null_frac")

    return (
        one("orders", "o_custkey", "o_totalprice")
        .unionByName(one("lineitem", "l_orderkey", "l_quantity"))
        .unionByName(one("customer", "c_nationkey", "c_acctbal"))
        .unionByName(one("documents", "lang", "text"))
    )


@register(
    "f14_json_hetero",
    """
    WITH j AS (
      SELECT doc_id,
             CASE doc_id % 3
               WHEN 0 THEN '{"kind":"a","len":' || n_chars || '}'
               WHEN 1 THEN '{"kind":"b","lang":"' || lang || '"}'
               ELSE '{"kind":"c"}'
             END AS payload
      FROM documents WHERE doc_id < 300)
    SELECT json_extract_string(payload, '$.kind') AS kind,
           count(*) AS n,
           CAST(coalesce(sum(CAST(json_extract_string(payload, '$.len')
                                  AS BIGINT)), 0) AS BIGINT) AS total_len,
           count(json_extract_string(payload, '$.lang')) AS n_with_lang
    FROM j GROUP BY 1
    """,
)
def f14_json_hetero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous JSON payloads (the landing-zone reality: one column,
    several shapes): extract shared and shape-specific fields with
    null-safe defaults, aggregate per shape — get_json_object returns
    null for absent paths rather than erroring, so one pass handles
    every variant without pre-splitting the stream."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    payload = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit('{"kind":"a","len":'),
                F.col("n_chars").cast("string"),
                F.lit("}"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit('{"kind":"b","lang":"'), F.col("lang"), F.lit('"}')),
        )
        .otherwise('{"kind":"c"}')
    )
    j = docs.select("doc_id", payload.alias("payload"))
    kind = F.get_json_object("payload", "$.kind")
    jlen = F.get_json_object("payload", "$.len").cast("bigint")
    jlang = F.get_json_object("payload", "$.lang")
    return j.groupBy(kind.alias("kind")).agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(jlen), F.lit(0)).alias("total_len"),
        F.count(jlang).alias("n_with_lang"),
    )


@register(
    "seq_since_marker",
    """
    WITH s AS (
      SELECT user_id, event_id, event_type,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE user_id < 60),
    seg AS (
      SELECT user_id, event_id, event_type,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS n_purchases,
             row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
               AS rn
      FROM s),
    marked AS (
      SELECT user_id, event_id, event_type, n_purchases, rn,
             max(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER (PARTITION BY user_id ORDER BY rn
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS last_purchase_rn
      FROM seg)
    SELECT user_id, event_id,
           CAST(rn - coalesce(last_purchase_rn, 0) AS BIGINT)
             AS events_since_purchase
    FROM marked WHERE event_type <> 'purchase'
    """,
)
def seq_since_marker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resettable running counter: for every event, how many events since
    the user's most recent purchase (0-start users count from their
    first event). The reset is the running MAX of the marker's row
    number — no island self-join, one partitioned window pass; the
    recency feature ("actions since last conversion") every behavioral
    model wants."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cur = w.rowsBetween(Window.unboundedPreceding, 0)
    seg = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.row_number().over(w).alias("rn"),
    )
    wr = Window.partitionBy("user_id").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    marked = seg.select(
        "user_id",
        "event_id",
        "event_type",
        "rn",
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("rn"))
        )
        .over(wr)
        .alias("last_purchase_rn"),
    )
    return marked.filter(F.col("event_type") != "purchase").select(
        "user_id",
        "event_id",
        (F.col("rn") - F.coalesce("last_purchase_rn", F.lit(0)))
        .cast("bigint")
        .alias("events_since_purchase"),
    )


_NEAREST_EDGE_SQL = f"""
WITH pts AS (SELECT * FROM {GF.points_values_sql()}),
e AS (SELECT * FROM {GF.edges_values_sql()}),
d AS (
  SELECT p.img_id, e.id_predio, e.nombre,
         CASE WHEN (e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1) = 0 THEN
           (p.lon-e.x1)*(p.lon-e.x1) + (p.lat-e.y1)*(p.lat-e.y1)
         ELSE
           (p.lon - (e.x1 + least(greatest(
              ((p.lon-e.x1)*(e.x2-e.x1) + (p.lat-e.y1)*(e.y2-e.y1))
              / ((e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1)), 0.0), 1.0)
              * (e.x2-e.x1)))
           * (p.lon - (e.x1 + least(greatest(
              ((p.lon-e.x1)*(e.x2-e.x1) + (p.lat-e.y1)*(e.y2-e.y1))
              / ((e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1)), 0.0), 1.0)
              * (e.x2-e.x1)))
           + (p.lat - (e.y1 + least(greatest(
              ((p.lon-e.x1)*(e.x2-e.x1) + (p.lat-e.y1)*(e.y2-e.y1))
              / ((e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1)), 0.0), 1.0)
              * (e.y2-e.y1)))
           * (p.lat - (e.y1 + least(greatest(
              ((p.lon-e.x1)*(e.x2-e.x1) + (p.lat-e.y1)*(e.y2-e.y1))
              / ((e.x2-e.x1)*(e.x2-e.x1) + (e.y2-e.y1)*(e.y2-e.y1)), 0.0), 1.0)
              * (e.y2-e.y1)))
         END AS d2
  FROM pts p CROSS JOIN e
  WHERE p.lon IS NOT NULL AND p.lat IS NOT NULL)
SELECT img_id, id_predio, nombre FROM (
  SELECT img_id, id_predio, nombre,
         row_number() OVER (PARTITION BY img_id
                            ORDER BY d2, id_predio, nombre) AS rn
  FROM d) WHERE rn = 1
"""


@register("geo_nearest_edge", _NEAREST_EDGE_SQL)
def geo_nearest_edge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-EDGE parcel matching: point-to-segment squared distance
    with the projection parameter clamped to [0,1] — strictly more
    faithful than the reference's nearest-VERTEX fallback (a point
    beside a long boundary edge matches that parcel even when another
    parcel's corner is closer). Pure IEEE +*/ comparisons (no sqrt
    needed for the argmin), broadcast polygon edges, deterministic
    tiebreak — the J3 upgrade path."""
    pts = GF.spark_points(spark).filter(
        F.col("lon").isNotNull() & F.col("lat").isNotNull()
    )
    polys = GF.spark_polys(spark)
    edges = polys.select(
        "id_predio",
        "nombre",
        F.explode("rings").alias("ring"),
    ).select(
        "id_predio",
        "nombre",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ring) - 1), i -> "
                "struct(ring[i].x AS x1, ring[i].y AS y1, "
                "ring[(i + 1) % size(ring)].x AS x2, "
                "ring[(i + 1) % size(ring)].y AS y2))"
            )
        ).alias("e"),
    ).select("id_predio", "nombre", "e.x1", "e.y1", "e.x2", "e.y2")
    p, a_x, a_y = F.col("lon"), F.col("x1"), F.col("y1")
    dx, dy = F.col("x2") - a_x, F.col("y2") - a_y
    len2 = dx * dx + dy * dy
    t = F.least(
        F.greatest(
            ((p - a_x) * dx + (F.col("lat") - a_y) * dy) / len2, F.lit(0.0)
        ),
        F.lit(1.0),
    )
    px = p - (a_x + t * dx)
    py = F.col("lat") - (a_y + t * dy)
    d2 = F.when(len2 == 0, (p - a_x) * (p - a_x) + (F.col("lat") - a_y) * (F.col("lat") - a_y)).otherwise(
        px * px + py * py
    )
    scored = pts.crossJoin(F.broadcast(edges)).select(
        "img_id", "id_predio", "nombre", d2.alias("d2")
    )
    w = Window.partitionBy("img_id").orderBy("d2", "id_predio", "nombre")
    return (
        scored.select("img_id", "id_predio", "nombre", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("img_id", "id_predio", "nombre")
    )


@register(
    "s24_blob_chunking",
    """
    WITH h AS (
      SELECT doc_id, hex(encode(text)) AS hx
      FROM documents WHERE doc_id < 100),
    c AS (
      SELECT doc_id, hx,
             unnest(generate_series(0,
               CAST(ceil(length(hx) / 128.0) AS BIGINT) - 1)) AS chunk_idx
      FROM h)
    SELECT doc_id, chunk_idx,
           md5(substring(hx, CAST(chunk_idx * 128 + 1 AS INTEGER), 128))
             AS chunk_md5
    FROM c
    """,
)
def s24_blob_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size content chunking for a content-addressed store: each
    blob splits into 64-byte chunks, each chunk keyed by its digest —
    identical chunks dedupe across blobs and rsync-style delta sync
    ships only changed chunks. sequence+explode fan-out is linear in
    content size; chunk hashing is pure map work (production adds
    content-defined boundaries — the winnowing rolling hash already in
    `text_winnowing_fp` — same plan shape).

    Byte-boundary contract (r17): chunk boundaries are defined on
    CONTENT BYTES, not characters — the text is carried through a hex
    transport encoding (2 hex chars per UTF-8 byte, bit-identical
    uppercase on both engines), chunks are 128-hex-char slices = 64
    content bytes, and the chunk key is the md5 of the hex slice. A
    blob store chunks bytes; the previous character-based slicing split
    multibyte payloads at different offsets per engine (Spark
    codepoints vs DuckDB graphemes/bytes; previously allowlisted).
    Zero-length blobs produce zero chunks (explicit n>=1 guard — Spark
    would otherwise infer a NEGATIVE sequence step for sequence(0,-1)
    where DuckDB's generate_series returns empty)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    h = docs.select(
        "doc_id", F.hex(F.encode(F.col("text"), "UTF-8")).alias("hx")
    )
    n_chunks = F.ceil(F.length("hx") / 128.0).cast("bigint")
    c = h.select(
        "doc_id",
        "hx",
        F.explode(
            F.when(n_chunks >= 1, F.sequence(F.lit(0), n_chunks - 1))
        ).alias("chunk_idx"),
    )
    return c.select(
        "doc_id",
        "chunk_idx",
        F.md5(
            F.col("hx").substr(
                (F.col("chunk_idx") * 128 + 1).cast("int"), F.lit(128)
            )
        ).alias("chunk_md5"),
    )


@register(
    "a20_growth_curve",
    """
    WITH fs AS (
      SELECT user_id, min(CAST(ts AS TIMESTAMP)::DATE) AS first_day
      FROM events GROUP BY user_id),
    daily AS (
      SELECT first_day AS day, count(*) AS new_users FROM fs GROUP BY 1)
    SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_users
    FROM daily
    """,
)
def a20_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative-distinct growth curve: running COUNT DISTINCT over
    time, which no window frame computes directly — rewritten as
    first-seen attribution (min date per user, one shuffle) + daily new
    counts + a running sum over the ~#days post-aggregate. The
    user-growth chart every dashboard opens with, in its scale-correct
    decomposition."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    fs = ev.groupBy("user_id").agg(F.min("d").alias("first_day"))
    daily = fs.groupBy("first_day").agg(F.count("*").alias("new_users"))
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cumulative_users"),
    )


@register(
    "sub_all_rewrite",
    """
    SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
    FROM customer c
    WHERE c.c_acctbal > ALL (SELECT s.s_acctbal FROM supplier s
                             WHERE s.s_nationkey = c.c_nationkey)
    """,
)
def sub_all_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified ALL comparison (x > ALL correlated subquery) — syntax
    Spark SQL does not accept — rewritten as the aggregate it means:
    greater than the per-nation MAX (vacuously true for nations with no
    suppliers, per SQL ALL-over-empty semantics, hence the left join +
    null-true coalesce). The oracle runs the genuine > ALL form,
    proving the rewrite's edge cases match.

    Full ALL null semantics (r16): a NULL in the subquery set makes
    `> ALL` UNKNOWN (row filtered) even when the value beats every
    non-null element — so the rewrite carries a null-presence count,
    not just the max (which silently skips nulls)."""
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    supp = table(spark, sf_dir, "supplier")
    mx = supp.groupBy(F.col("s_nationkey").alias("c_nationkey")).agg(
        F.max("s_acctbal").alias("max_s"),
        F.count("*").alias("__n_all"),
        F.count("s_acctbal").alias("__n_nonnull"),
    )
    return (
        cust.join(F.broadcast(mx), "c_nationkey", "left")
        .filter(
            F.col("__n_all").isNull()  # no suppliers: vacuously true
            | (
                (F.col("__n_all") == F.col("__n_nonnull"))
                & (F.col("c_acctbal") > F.col("max_s"))
            )
        )
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )


@register(
    "w10_moving_median",
    """
    SELECT event_id, user_id,
           round(quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id
             ORDER BY CAST(ts AS TIMESTAMP) NULLS FIRST, event_id NULLS FIRST
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5
    FROM events WHERE user_id < 40
    """,
)
def w10_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median over a trailing 5-row frame — robust signal
    smoothing that a moving AVERAGE can't give (one spike drags a mean,
    not a median). Exact interpolated percentile as a window aggregate,
    frame-bounded state; Spark `percentile` and DuckDB `quantile_cont`
    interpolate identically."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percentile("value", F.lit(0.5)).over(w), 6).alias("med5"),
    )


@register(
    "a21_cohort_ltv",
    """
    WITH ev AS (
      SELECT user_id, value, CAST(ts AS TIMESTAMP)::DATE AS d FROM events),
    first AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY user_id),
    daily AS (
      SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
             date_diff('day', f.d0, e.d) AS day_offset,
             CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS rev
      FROM ev e JOIN first f USING (user_id)
      GROUP BY 1, 2)
    SELECT cohort_day, day_offset, rev,
           CAST(sum(CAST(rev AS DECIMAL(18,4))) OVER (
             PARTITION BY cohort_day ORDER BY day_offset NULLS FIRST
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS cumulative_rev
    FROM daily
    """,
)
def a21_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: revenue per (cohort, day-offset)
    with the running cumulative per cohort — the LTV chart behind
    payback-period decisions. Same first-touch decomposition as
    `cohort_retention`, plus a cohort-partitioned running decimal sum
    over the ~#offsets post-aggregate."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "value", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    daily = (
        ev.join(first, "user_id")
        .groupBy(
            F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "d0").alias("day_offset"),
        )
        .agg(dsum(F.col("value")).alias("rev"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy("day_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "cohort_day",
        "day_offset",
        "rev",
        F.sum(F.col("rev").cast("decimal(18,4)"))
        .over(w)
        .cast("double")
        .alias("cumulative_rev"),
    )


@register(
    "geo_grid_density",
    f"""
    WITH pts AS ({_BULK_PTS_SQL}),
    cells AS (
      SELECT CAST(floor(lon) AS BIGINT) AS cx,
             CAST(floor(lat) AS BIGINT) AS cy, count(*) AS n
      FROM pts GROUP BY 1, 2)
    SELECT cx, cy, n FROM (
      SELECT cx, cy, n,
             row_number() OVER (ORDER BY n DESC, cx, cy) AS rn
      FROM cells) WHERE rn <= 10
    """,
)
def geo_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density heatmap: the 20k bulk points bucketed into unit
    grid cells, top-10 densest cells — the hotspot/coverage report and
    the stats that size the grid-join prefilter (`geo_contains_grid`
    cell width) and choose salting for skewed tiles. One grouped count
    + a TakeOrdered over the tiny cell table."""
    pts = spark.range(_BULK_N).select(
        ((F.col("id") * 73 % 997) / 997.0 * 16.0 - 2.0).alias("lon"),
        ((F.col("id") * 131 % 983) / 983.0 * 14.0 - 2.0).alias("lat"),
    )
    cells = pts.groupBy(
        F.floor("lon").cast("bigint").alias("cx"),
        F.floor("lat").cast("bigint").alias("cy"),
    ).agg(F.count("*").alias("n"))
    w = Window.orderBy(F.col("n").desc(), "cx", "cy")
    return (
        cells.select("cx", "cy", "n", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("cx", "cy", "n")
    )


@register(
    "emb_quantile_clip",
    """
    WITH comp AS (
      SELECT unnest(generate_series(0, len(embedding) - 1)) AS pos,
             unnest(embedding)::DOUBLE AS v
      FROM embeddings),
    q AS (
      SELECT pos, quantile_cont(v, 0.01) AS lo, quantile_cont(v, 0.99) AS hi
      FROM comp GROUP BY pos)
    SELECT c.pos,
           count(*) FILTER (WHERE c.v < q.lo) AS n_clip_lo,
           count(*) FILTER (WHERE c.v > q.hi) AS n_clip_hi,
           count(*) AS n
    FROM comp c JOIN q USING (pos)
    GROUP BY c.pos
    """,
)
def emb_quantile_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding outlier audit: exact p01/p99 per
    coordinate, then counts of components outside the band — the
    preprocessing stats behind quantile clipping / int8 calibration of
    an embedding table. Posexplode + per-position percentile (64
    groups), broadcast back, one counting pass."""
    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(F.posexplode("embedding").alias("pos", "v")).select(
        "pos", F.col("v").cast("double").alias("v")
    )
    q = comp.groupBy("pos").agg(
        F.percentile("v", F.lit(0.01)).alias("lo"),
        F.percentile("v", F.lit(0.99)).alias("hi"),
    )
    return (
        comp.join(F.broadcast(q), "pos")
        .groupBy("pos")
        .agg(
            F.count_if(F.col("v") < F.col("lo")).alias("n_clip_lo"),
            F.count_if(F.col("v") > F.col("hi")).alias("n_clip_hi"),
            F.count("*").alias("n"),
        )
    )


@register(
    "ts_anomaly_vs_baseline",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS TIMESTAMP)::DATE AS d, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2),
    base AS (
      SELECT event_type, d, n,
             quantile_cont(n, 0.5) OVER (
               PARTITION BY event_type ORDER BY d
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS baseline
      FROM daily)
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day, n,
           floor(n / baseline * 1e4 + 0.5) / 1e4 AS ratio,
           n > 1.5 * baseline AS is_spike
    FROM base WHERE baseline IS NOT NULL
    """,
)
def ts_anomaly_vs_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly monitor: each day's event count against the MEDIAN
    of its trailing week (robust to one bad day in the baseline,
    unlike a mean), with the spike flag the alerting rule fires on.
    Daily aggregate first, so the percentile window runs over ~#days
    rows per type — the ops-monitoring staple at post-agg altitude.
    Null ts has no day — excluded both sides (r16 contract)."""
    ev = table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-7, -1)
    )
    base = daily.select(
        "event_type",
        "d",
        "n",
        F.percentile("n", F.lit(0.5)).over(w).alias("baseline"),
    )
    return base.filter(F.col("baseline").isNotNull()).select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        (
            F.floor(F.col("n") / F.col("baseline") * 1e4 + F.lit(0.5)) / 1e4
        ).alias("ratio"),
        (F.col("n") > 1.5 * F.col("baseline")).alias("is_spike"),
    )


_DEDUP_REPORT_SQL = (
    _near_pairs_cte(0.1)
    + """,
exd AS (
  SELECT count(*) AS n_docs,
         count(*) - count(DISTINCT sha256(text)) AS n_exact_dupes
  FROM documents),
npx AS (SELECT count(*) AS n_near_pairs FROM pairs)
SELECT exd.n_docs, exd.n_exact_dupes, npx.n_near_pairs,
       floor(exd.n_exact_dupes::DOUBLE / exd.n_docs * 1e6 + 0.5) / 1e6
         AS exact_dup_rate
FROM exd, npx
"""
).replace("WITH base AS", "WITH RECURSIVE base AS", 1)


@register("corpus_dedup_report", _DEDUP_REPORT_SQL)
def corpus_dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DASHBOARD row: corpus size, exact-duplicate count and
    rate (digest groups), and verified near-duplicate pair count — the
    one-line health summary a corpus pipeline publishes after every
    snapshot, composed from the same machinery the per-family queries
    verify. All three inputs are tiny aggregates over already-verified
    plans."""
    docs = table(spark, sf_dir, "documents")
    n_docs = docs.count()
    exact = docs.agg(
        (F.count("*") - F.countDistinct(F.sha2("text", 256))).alias(
            "n_exact_dupes"
        )
    )
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.1)
    np_ = pairs.agg(F.count("*").alias("n_near_pairs"))
    return (
        exact.crossJoin(np_)
        .select(
            F.lit(n_docs).alias("n_docs"),
            "n_exact_dupes",
            "n_near_pairs",
            (
                F.floor(
                    # try_divide: an empty corpus publishes a NULL rate
                    # instead of failing the whole dashboard row.
                    F.try_divide(
                        F.col("n_exact_dupes").cast("double"), F.lit(n_docs)
                    )
                    * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            ).alias("exact_dup_rate"),
        )
    )


@register(
    "a6_string_agg",
    """
    SELECT lang,
           string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_list,
           count(*) AS n
    FROM documents WHERE doc_id < 60 GROUP BY lang
    """,
)
def a6_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG/string_agg): per-group
    comma-joined id lists — the manifest/report formatting aggregate.
    Built as sort_array(collect_list(...)) + concat_ws so the
    concatenation order is DETERMINISTIC regardless of partition
    arrival order (raw listagg without ORDER BY is nondeterministic on
    any parallel engine)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    return docs.groupBy("lang").agg(
        F.concat_ws(
            ",",
            F.sort_array(F.collect_list(F.col("doc_id"))).cast(
                "array<string>"
            ),
        ).alias("doc_list"),
        F.count("*").alias("n"),
    )


@register(
    "p13_path_rollup",
    """
    WITH f AS (
      SELECT source || '/' || lang AS dir2, source AS dir1, n_chars
      FROM documents),
    pre AS (
      SELECT dir1 AS prefix, n_chars FROM f
      UNION ALL
      SELECT dir2, n_chars FROM f)
    SELECT prefix, count(*) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS total_bytes
    FROM pre GROUP BY prefix
    """,
)
def p13_path_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directory-size rollup (du -s over the lake): every object charges
    each of its path prefixes, so one exploded pass yields file counts
    and byte totals at every directory level — the storage-accounting
    report behind quota and retention decisions. Fan-out is path depth
    (bounded), one grouped sum. Path composition is null-PROPAGATING
    (SQL || semantics, the r15 f20 convention): a null path segment
    yields a NULL prefix (grouped as its own bad-path bucket), not a
    silently shortened directory."""
    docs = table(spark, sf_dir, "documents")
    f = docs.select(
        F.col("source").alias("dir1"),
        F.concat("source", F.lit("/"), "lang").alias("dir2"),
        "n_chars",
    )
    pre = f.select(
        F.explode(F.array("dir1", "dir2")).alias("prefix"), "n_chars"
    )
    return pre.groupBy("prefix").agg(
        F.count("*").alias("n_files"),
        F.sum("n_chars").alias("total_bytes"),
    )


_INCR_SPLIT = 400

_INCR_PAIRS_SQL = (
    _near_pairs_cte(0.1, _INCR_SPLIT) + "\nSELECT a_id, b_id, jaccard FROM pairs"
)


@register("dedup_incremental_pairs", _INCR_PAIRS_SQL)
def dedup_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time near-dup gate: a new batch (doc_id ≥ split) probed
    against the already-deduped corpus via MinHash-LSH — corpus-internal
    pairs are never generated, only new×corpus and new×new. The probe-side
    predicate pushes below the band join, so the corpus side is a full
    index while the probe side is just the delta — hash-the-delta /
    probe-the-index, the shape an incremental 100 TB ingest needs."""
    return D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"), jaccard_threshold=0.1, new_from=_INCR_SPLIT
    )


_ANN_FILTERED_SQL = f"""
WITH cand AS (SELECT vec_id, embedding FROM embeddings WHERE label = 3),
q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.q_id, e.vec_id, round({V.cosine_sql('e.embedding', 'q.qe')}, 6) AS cos
  FROM cand e, q)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 5
"""


@register("ann_filtered_topk", _ANN_FILTERED_SQL)
def ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search (PRE-filter semantics): the label
    predicate prunes the candidate scan BEFORE any vector math — top-k is
    then exact over survivors. Pre-filter beats post-filter whenever the
    predicate is selective: post-filtering an ANN result can return < k
    rows, while the pushed predicate here reaches the parquet scan
    (PushedFilters) and the per-vector cosine runs only on the filtered
    partition stream."""
    emb = table(spark, sf_dir, "embeddings")
    cand = emb.filter(F.col("label") == 3)
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return SIM.brute_force_topk(cand, queries, k=5)


_VOCAB_OOV_SQL = f"""
WITH tok AS (
  SELECT doc_id, lang, unnest({_TOKS_SQL}) AS t FROM documents),
vocab AS (
  SELECT t FROM (
    SELECT t, count(*) AS c,
           row_number() OVER (ORDER BY count(*) DESC, t) AS rn
    FROM tok GROUP BY t) WHERE rn <= 100),
flagged AS (
  SELECT doc_id, lang,
         CASE WHEN t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END AS oov
  FROM tok)
SELECT lang, count(DISTINCT doc_id) AS n_docs,
       count(*) AS total_tokens,
       CAST(sum(oov) AS BIGINT) AS oov_tokens,
       round(sum(oov)::DOUBLE / count(*), 6) AS oov_rate
FROM flagged GROUP BY lang
"""


@register("vocab_oov_rate", _VOCAB_OOV_SQL)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-health report: corpus-wide top-100 vocabulary (ties
    broken lexically for determinism), then per-language out-of-vocabulary
    token rate. Plan: one token explode feeds BOTH the vocab aggregate
    (tiny, broadcast back) and the per-language flag/aggregate — the OOV
    flag is a broadcast left-semi-style join, no shuffle of the token
    stream beyond its own groupBys; rates are one division per language
    over exact integer sums (order-independent, cross-engine stable)."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    tok = docs.select("doc_id", "lang", F.explode(H.tokens(F.col("text"))).alias("t"))
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("t"))
        .limit(100)  # TakeOrderedAndProject: per-partition top-k, no global sort
        .select("t")
    )
    flagged = tok.join(
        F.broadcast(vocab.withColumn("__in", F.lit(1))), "t", "left"
    ).select(
        "doc_id",
        "lang",
        F.when(F.col("__in").isNotNull(), F.lit(0)).otherwise(F.lit(1)).alias("oov"),
    )
    return flagged.groupBy("lang").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("*").alias("total_tokens"),
        F.sum("oov").cast("bigint").alias("oov_tokens"),
        F.round(F.sum("oov") / F.count("*"), 6).alias("oov_rate"),
    )


_HYBRID_TERMS = ("spark", "merge", "table")
_HYBRID_TERMS_SQL = "('" + "', '".join(_HYBRID_TERMS) + "')"

_HYBRID_FUSED_SQL = f"""
WITH lex AS (
  SELECT doc_id, count(DISTINCT t) AS n_hit
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents)
  WHERE t IN {_HYBRID_TERMS_SQL} GROUP BY doc_id),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
vec AS (
  SELECT e.vec_id AS doc_id, round({V.cosine_sql('e.embedding', 'q.qe')}, 6) AS cos
  FROM embeddings e, q),
fused AS (
  SELECT v.doc_id,
         coalesce(l.n_hit, 0) AS n_hit, v.cos,
         round(0.3 * coalesce(l.n_hit, 0) / {len(_HYBRID_TERMS)}.0 + 0.7 * v.cos, 6) AS score
  FROM vec v LEFT JOIN lex l ON v.doc_id = l.doc_id)
SELECT doc_id, n_hit, cos, score, rank FROM (
  SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rank FROM fused)
WHERE rank <= 10
"""


@register("hybrid_fused_topk", _HYBRID_FUSED_SQL)
def hybrid_fused_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, weighted-fusion flavor: a lexical signal (count of
    distinct query terms present) and a vector signal (cosine vs the query
    embedding) combined as 0.3·lex_norm + 0.7·cos, global top-10. The
    lexical side filters the token explode to the (tiny, literal) term set
    BEFORE any aggregation — the inverted-index probe — and joins onto the
    vector scores at #candidates altitude; the final top-k is
    TakeOrderedAndProject, never a global sort."""
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = (
        docs.select("doc_id", F.explode(H.tokens(F.col("text"))).alias("t"))
        .filter(F.col("t").isin(*_HYBRID_TERMS))
        .groupBy("doc_id")
        .agg(F.count_distinct("t").alias("n_hit"))
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    vec = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(V.cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"),
    )
    fused = (
        vec.join(lex, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            "cos",
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) * (0.3 / len(_HYBRID_TERMS))
                + 0.7 * F.col("cos"),
                6,
            ).alias("score"),
        )
    )
    return (
        fused.orderBy(F.col("score").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "n_hit",
            "cos",
            "score",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
            .alias("rank"),
        )
    )


_HYBRID_RRF_SQL = f"""
WITH lex AS (
  SELECT doc_id, count(*) AS n_hit
  FROM (SELECT doc_id, unnest({_TOKS_SQL}) AS t FROM documents)
  WHERE t IN {_HYBRID_TERMS_SQL} GROUP BY doc_id),
lex_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY n_hit DESC, doc_id) AS r
  FROM lex),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
vec_rank AS (
  SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS r FROM (
    SELECT e.vec_id AS doc_id, round({V.cosine_sql('e.embedding', 'q.qe')}, 6) AS cos
    FROM embeddings e, q)),
rrf AS (
  SELECT coalesce(l.doc_id, v.doc_id) AS doc_id,
         round(coalesce(1.0 / (60 + l.r), 0) + coalesce(1.0 / (60 + v.r), 0), 9) AS rrf_score
  FROM (SELECT * FROM lex_rank WHERE r <= 100) l
  FULL OUTER JOIN (SELECT * FROM vec_rank WHERE r <= 100) v ON l.doc_id = v.doc_id)
SELECT doc_id, rrf_score, rank FROM (
  SELECT doc_id, rrf_score,
         row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rank FROM rrf)
WHERE rank <= 10
"""


@register("hybrid_rrf_topk", _HYBRID_RRF_SQL)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval, reciprocal-rank-fusion flavor: top-100 lexical and
    top-100 vector result lists fused by Σ 1/(60+rank) — score-scale-free,
    the standard RAG ensemble. Each list's global ranking runs over an
    ALREADY-REDUCED candidate set (term-filtered hits / per-query top-100),
    so the unpartitioned windows rank hundreds of rows, not the corpus; at
    fleet scale the per-query lists arrive pre-truncated from the ANN
    path (ann_lsh_topk) and fusion stays O(lists × k)."""
    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    lex = (
        docs.select("doc_id", F.explode(H.tokens(F.col("text"))).alias("t"))
        .filter(F.col("t").isin(*_HYBRID_TERMS))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    lex_rank = lex.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("n_hit").desc(), F.col("doc_id")))
        .alias("r"),
    ).filter(F.col("r") <= 100)
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    vec = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(V.cosine(F.col("embedding"), F.col("qe")), 6).alias("cos"),
    )
    vec_rank = vec.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("cos").desc(), F.col("doc_id")))
        .alias("r"),
    ).filter(F.col("r") <= 100)
    l = lex_rank.select(F.col("doc_id").alias("l_id"), F.col("r").alias("lr"))
    v = vec_rank.select(F.col("doc_id").alias("v_id"), F.col("r").alias("vr"))
    rrf = l.join(v, l.l_id == v.v_id, "full_outer").select(
        F.coalesce(F.col("l_id"), F.col("v_id")).alias("doc_id"),
        F.round(
            F.coalesce(1.0 / (60 + F.col("lr")), F.lit(0.0))
            + F.coalesce(1.0 / (60 + F.col("vr")), F.lit(0.0)),
            9,
        ).alias("rrf_score"),
    )
    return (
        rrf.orderBy(F.col("rrf_score").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "rrf_score",
            F.row_number()
            .over(Window.orderBy(F.col("rrf_score").desc(), F.col("doc_id")))
            .alias("rank"),
        )
    )


_TRIANGLES_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1
  JOIN edges e2 ON e2.u = e1.v          -- a<b<c chains
  JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
nodes AS (
  SELECT a AS part FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT part, count(*) AS n_triangles FROM nodes GROUP BY part
"""


@register("graph_triangles", _TRIANGLES_SQL)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph — the classic
    distributed graph kernel (clustering-coefficient numerator, community
    density signal).

    Scale shape: edges are oriented by (degree, id) — each triangle then
    has exactly ONE node with two out-edges, so wedge generation (the
    self-join on the out-endpoint) counts every triangle once, and
    orientation bounds out-degree by O(sqrt(E)) so the wedge fan-out
    never explodes on hub nodes (the standard degree-ordering trick;
    id-only orientation leaves hubs with huge out-degree). Wedges probe
    the canonical edge set with one more equi-join. The oracle counts
    the same triangles via the naive a<b<c chain join — orientation
    changes the plan's skew profile, never the triangle set."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a_ = li.alias("a")
    b_ = li.alias("b")
    edges = (
        a_.join(
            b_,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("u", "v")
    )
    # r19 (guide §1.2): the canonical edge set feeds FOUR branches
    # (degree union ×2, the orientation join, the closure probe) and
    # the distinct + self-join + threshold agg pipeline re-ran for
    # each; one eager localCheckpoint materializes it once. r20
    # adjudication (VERDICT item 1): a checkpoint RDD carries no size
    # stats, so the r19 shape lost every downstream broadcast (22 BHJ →
    # 0, all SMJ); explicit F.broadcast() on the known-small sides
    # (degree table, closure probe — both bounded by the thresholded
    # canonical edge set, orders smaller than lineitem) restores them.
    # 3 interleaved fresh-cold-session rounds: ckpt+hints min 2.19 s vs
    # plain-revert 2.46 s vs unhinted ckpt 2.51 s; hints fastest 2/3
    # rounds. Same triangles (hash-verified). r20 follow-up: LAZY
    # checkpoint — the plan barrier is identical, but eager=True ran a
    # separate driver-synchronous job per pass; lazy materializes the
    # cut inside the single final action (same-session A/B min-of-3:
    # 3.51 → 3.15 s).
    edges = edges.localCheckpoint(eager=False)
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    du = F.broadcast(deg.select(F.col("node").alias("u"), F.col("deg").alias("du")))
    dv = F.broadcast(deg.select(F.col("node").alias("v"), F.col("deg").alias("dv")))
    # orient each edge from the (degree, id)-smaller endpoint
    ranked = edges.join(du, "u").join(dv, "v").select(
        F.when(
            (F.col("du") < F.col("dv"))
            | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
            F.struct(F.col("u").alias("src"), F.col("v").alias("dst")),
        )
        .otherwise(F.struct(F.col("v").alias("src"), F.col("u").alias("dst")))
        .alias("e")
    ).select(F.col("e.src").alias("src"), F.col("e.dst").alias("dst"))
    w1 = ranked.select(F.col("src").alias("x"), F.col("dst").alias("y"))
    w2 = ranked.select(F.col("src").alias("x"), F.col("dst").alias("z"))
    wedges = w1.join(w2, "x").filter(F.col("y") < F.col("z"))
    closure = F.broadcast(
        edges.select(F.col("u").alias("cy"), F.col("v").alias("cz"))
    )
    tri = wedges.join(
        closure,
        (F.least(F.col("y"), F.col("z")) == F.col("cy"))
        & (F.greatest(F.col("y"), F.col("z")) == F.col("cz")),
    ).select("x", "y", "z")
    nodes = tri.select(F.explode(F.array("x", "y", "z")).alias("part"))
    return nodes.groupBy("part").agg(F.count("*").alias("n_triangles"))


_IVL_OVERLAP_SQL = """
WITH a AS (
  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS a_start,
         CAST(o_orderdate AS DATE) + 7 AS a_end
  FROM orders WHERE o_custkey < 200),
b AS (
  SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS b_start,
         CAST(l_shipdate AS DATE) + 2 AS b_end
  FROM lineitem WHERE l_suppkey < 20)
SELECT a.o_orderkey, count(*) AS n_overlapping
FROM a JOIN b ON a.a_start < b.b_end AND b.b_start < a.a_end
GROUP BY a.o_orderkey
"""


@register("j_interval_overlap", _IVL_OVERLAP_SQL)
def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join — the temporal analogue of the spatial grid
    join: each interval explodes to the WEEK buckets it covers, the two
    sides equi-join on the bucket (shuffle-partitionable, never a
    cartesian inequality join), and the exact overlap predicate verifies.
    Each qualifying pair is emitted EXACTLY once — not via distinct
    (which would collapse genuinely duplicate fact rows and lose
    multiplicity) but structurally: the pair is kept only in the FIRST
    bucket both intervals cover, ``wk == max(floor(a_start/7),
    floor(b_start/7))`` (the later start day lies in both intervals, and
    floor is monotone, so that bucket is always shared). Bucket fan-out
    is ceil(span/bucket)+1 <= 3 here — bounded, unlike the O(n*m) plan
    the naive theta join degrades to. The oracle runs the naive
    inequality join on the same filtered sides."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    a = orders.filter(F.col("o_custkey") < 200).select(
        "o_orderkey",
        F.to_date("o_orderdate").alias("a_start"),
        F.date_add(F.to_date("o_orderdate"), 7).alias("a_end"),
    )
    b = li.filter(F.col("l_suppkey") < 20).select(
        "l_orderkey",
        "l_linenumber",
        F.to_date("l_shipdate").alias("b_start"),
        F.date_add(F.to_date("l_shipdate"), 2).alias("b_end"),
    )

    def week_buckets(start, end):
        # weeks covered by [start, end): epoch-day div 7 over the span
        s = F.floor(F.unix_date(start) / 7)
        e = F.floor(F.unix_date(end) / 7)
        return F.sequence(s, e)

    ax = a.withColumn(
        "wk0", F.floor(F.unix_date(F.col("a_start")) / 7)
    ).withColumn("wk", F.explode(week_buckets(F.col("a_start"), F.col("a_end"))))
    bx = b.withColumn(
        "wk0", F.floor(F.unix_date(F.col("b_start")) / 7)
    ).withColumn("wk", F.explode(week_buckets(F.col("b_start"), F.col("b_end"))))
    pairs = (
        ax.join(bx.withColumnRenamed("wk0", "bwk0"), "wk")
        .filter(
            (F.col("a_start") < F.col("b_end"))
            & (F.col("b_start") < F.col("a_end"))
            & (F.col("wk") == F.greatest(F.col("wk0"), F.col("bwk0")))
        )
        .select("o_orderkey")
    )
    return pairs.groupBy("o_orderkey").agg(F.count("*").alias("n_overlapping"))


_EPS_CLUSTER = 0.1

# deterministic point cloud in the [0,14]² cadastral plane, md5-derived
# from the doc id (identical IEEE doubles in both engines: integer hash
# → exact division/multiply, no transcendentals)
_EPS_PTS_SQL = f"""
  SELECT doc_id AS id,
         ('0x' || substring(md5('px:' || doc_id), 1, 8))::BIGINT / 4294967296.0 * 14 AS x,
         ('0x' || substring(md5('py:' || doc_id), 1, 8))::BIGINT / 4294967296.0 * 14 AS y
  FROM documents WHERE doc_id IS NOT NULL"""

_EPS_CLUSTER_SQL = f"""
WITH RECURSIVE pts AS ({_EPS_PTS_SQL}),
pairs AS (
  SELECT a.id AS a_id, b.id AS b_id
  FROM pts a JOIN pts b
    ON a.id < b.id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= {_EPS_CLUSTER} * {_EPS_CLUSTER}),
edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs),
reach AS (
  SELECT id, id AS r FROM pts
  UNION
  SELECT e.dst AS id, r.r FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(r) AS cluster FROM reach GROUP BY id
"""


@register("geo_cluster_eps", _EPS_CLUSTER_SQL)
def geo_cluster_eps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density-based spatial clustering (eps-connectivity / single-linkage
    DBSCAN core): points within eps of each other share a cluster,
    clusters are connected components of the eps-neighbor graph.

    Scale shape: NEVER all-pairs — each point lands in a grid cell of
    side eps; one side explodes to its 3×3 cell neighborhood and
    equi-joins the other side's home cell, so candidate pairs are
    shuffle-partitionable by cell and each qualifying pair is found
    exactly once (the home cell of b is unique). Components run on the
    shared hybrid engine (operators.dedup.components_from_edges:
    driver union-find below threshold, iterative min-label propagation
    above). The oracle computes the identical clustering via O(n²)
    distance join + recursive closure — affordable at oracle scale,
    which is exactly why the grid plan exists for the engine.
    Null doc_id has no point identity — excluded both sides (r16)."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    eps = _EPS_CLUSTER
    h8 = lambda tag: (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(tag + ":"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        / F.lit(4294967296.0)
        * 14
    )
    pts = docs.select(
        F.col("doc_id").alias("id"),
        h8("px").alias("x"),
        h8("py").alias("y"),
    ).withColumn("cx", F.floor(F.col("x") / eps)).withColumn(
        "cy", F.floor(F.col("y") / eps)
    )
    probe = pts.select(
        F.col("id").alias("a_id"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.explode(
            F.array(*[F.struct(
                (F.col("cx") + dx).alias("cx"), (F.col("cy") + dy).alias("cy")
            ) for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
        ).alias("cell"),
    ).select("a_id", "ax", "ay", F.col("cell.cx").alias("cx"), F.col("cell.cy").alias("cy"))
    home = pts.select(
        F.col("id").alias("b_id"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        "cx",
        "cy",
    )
    pairs = (
        probe.join(home, ["cx", "cy"])
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (
                (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
                <= F.lit(eps * eps)
            )
        )
        .select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    labels = D.components_from_edges(pairs)
    return pts.select("id").join(labels, "id", "left").select(
        F.col("id").alias("doc_id"),
        F.coalesce("component", F.col("id").cast("long")).alias("cluster"),
    )
