"""Registry segment 04 (mechanical split of plans/queries.py, r17).

- EXT — bucketed co-located join (the 100 TB shuffle-elimination path)
- EXT — forward-fill (gap-fill) window: last_value IGNORE NULLS
- S15/M2 — snapshot time-travel diff (the MERGE made driver-checkable)
- F16 — corpus-wide n-gram statistics (the classic big-data shuffle)
- EXT — correlated scalar subquery (decorrelated agg-join)
- §2.9 EXT — watermarked stream-stream interval join
- EXT — z-order keys, histograms, deterministic sampling
- §2.10 EXT — per-group model fit (JVM regr_slope) + learned IVF codebook
- EXT — lake maintenance: compaction, schema-evolution reads
- EXT — time-series resample + linear interpolation (hypertable rollup)
- §2.9/F-geo/S6 — streaming sliding twin, shoelace areas, corrupt JSON
- §2.10 EXT — Python UDTF (table function), array set ops, grouping_id
- A7 / F15 — deterministic moments, map transforms
- NORTH STAR — the full training-corpus preparation pipeline, end to end

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
    TX,
    Window,
    documents_catalog,
    drain,
    dsum,
    dsum_sql,
    events_stream,
    local_frame,
    os,
    register,
    scratch_dir,
    sliding_window_agg,
    stage_dir,
    table,
)
from .q01_j1 import _near_pairs_cte
from .q02_geo import _SLIDING_SQL
from .q03_ext import _BULK_N, _BULK_PTS_SQL

# ======================================================================
# EXT — bucketed co-located join (the 100 TB shuffle-elimination path)
# ======================================================================

@register(
    "j_bucketed_join",
    f"""
    SELECT o.o_orderpriority, count(*) AS n,
           {dsum_sql('l.l_extendedprice')} AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def j_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-big join WITHOUT a join-side shuffle: both fact tables written
    ``bucketBy(8, orderkey).sortBy(orderkey)``, then SortMergeJoined on
    the bucket column — bucket-aligned scans feed the join directly (the
    formatted plan shows SelectedBucketsCount and no Exchange before the
    join; only the final groupBy shuffles). At 100 TB this is THE
    standing join layout: pay the bucketed write once, every subsequent
    orderkey join is exchange-free. The merge hint pins SMJ so the demo
    doesn't degrade to broadcast at toy scale.
    """
    # The bucketed layout is a STANDING table: write once per corpus
    # snapshot, reuse for every subsequent join (that's the whole point
    # of bucketing). Staged once per application and sf_dir; the table
    # names derive from the staged dir, so a re-stage gets fresh ones.
    def bkt(base: str, name: str) -> str:
        return f"__bkt_{name}_{os.path.basename(base)}"

    def write(base: str) -> None:
        for name, src_cols in (
            ("orders", ["o_orderkey", "o_orderpriority"]),
            ("lineitem", ["l_orderkey", "l_extendedprice"]),
        ):
            key = src_cols[0]
            (
                table(spark, sf_dir, name)
                .select(*src_cols)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", os.path.join(base, name))
                .saveAsTable(bkt(base, name))
            )

    base = stage_dir(spark, ("bucketed", sf_dir), write)
    o = spark.table(bkt(base, "orders"))
    li = spark.table(bkt(base, "lineitem"))
    joined = o.hint("merge").join(li, li.l_orderkey == o.o_orderkey)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), dsum(F.col("l_extendedprice")).alias("revenue")
    )


# ======================================================================
# EXT — forward-fill (gap-fill) window: last_value IGNORE NULLS
# ======================================================================


@register(
    "w7_gap_fill",
    """
    SELECT event_id, user_id,
           floor(epoch(ts))::BIGINT AS ts_epoch,
           round(last_value(CASE WHEN event_type = 'click' THEN NULL ELSE value END
                            IGNORE NULLS)
                 OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS filled_value
    FROM events WHERE user_id < 50
    """,
)
def w7_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill over event gaps: clicks carry no value (masked null),
    each row takes the most recent non-null value in its user timeline —
    ``last(col, ignorenulls=True)`` over an unbounded-preceding row
    frame. The sensor/telemetry gap-fill shape; one hash exchange on
    user_id."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    masked = F.when(F.col("event_type") == "click", F.lit(None)).otherwise(
        F.col("value")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.round(F.last(masked, ignorenulls=True).over(w), 4).alias("filled_value"),
    )


# ======================================================================
# S15/M2 — snapshot time-travel diff (the MERGE made driver-checkable)
# ======================================================================

_SNAPSHOT_DIFF_SQL = """
WITH rows0 AS (
  SELECT 'C' || (doc_id % 10)::VARCHAR AS codigo,
         concat_ws('_', 'C' || (doc_id % 10)::VARCHAR, lang, 'X', 'A') AS indice,
         'lake/BR/C' || (doc_id % 10)::VARCHAR || '/' || doc_id::VARCHAR || '.jpg' AS ruta_resultado,
         CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 3 END AS tipo0
  FROM documents),
ids AS (
  SELECT *, row_number() OVER (ORDER BY indice, ruta_resultado) AS id FROM rows0)
SELECT id, tipo0 AS tipo_old, 10 AS tipo_new FROM ids WHERE id % 7 = 0
"""


@register("catalog_snapshot_diff", _SNAPSHOT_DIFF_SQL)
def catalog_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 end-to-end through the versioned store: insert (version 0),
    MERGE-update every 7th id (file-level copy-on-write → version 1 in
    the commit log), then DIFF the two time-travel reads — an anti-equi
    join on (id, id_tipo_img) between ``catalog(version=0)`` and
    ``catalog(version=1)`` reporting exactly the changed rows. The
    oracle reproduces the deterministic id allocation and the %7 update
    set in closed form."""
    store = documents_catalog(spark, sf_dir)
    # r20 (guide §1.2 don't recompute): the returned frame is lazy, so
    # filtering IT re-runs the whole id-allocation plan (documents scan +
    # window + broadcast join); the ids are already durable in the
    # just-written v0 files — read them back from parquet instead.
    # Identical ids (fresh store: the snapshot holds exactly the insert).
    update_ids = [
        r["id"]
        for r in store.catalog().filter(F.col("id") % 7 == 0).select("id").collect()
    ]
    store.update_processed_img(10, update_ids)
    v0 = store.catalog(version=0).select("id", F.col("id_tipo_img").alias("tipo_old"))
    v1 = store.catalog(version=1).select("id", F.col("id_tipo_img").alias("tipo_new"))
    return v0.join(v1, "id").filter(F.col("tipo_old") != F.col("tipo_new"))


@register(
    "catalog_wap_publish",
    """
    -- the oracle DERIVES each batch's audit verdict from the data
    -- (key non-null + uniqueness + non-empty), mirroring the engine's
    -- staged audit — on dirty feeds the clean batch can legitimately
    -- fail and quarantine (r16)
    SELECT 'clean' AS batch, n_rows, audit_passed,
           audit_passed AS published FROM (
      SELECT count(*) AS n_rows,
             (count(*) > 0
              AND count(*) FILTER (WHERE o_orderkey IS NULL) = 0
              AND count(DISTINCT o_orderkey) = count(*)) AS audit_passed
      FROM orders WHERE o_orderstatus = 'F')
    UNION ALL
    SELECT 'dirty',
           (SELECT count(*) * 2 FROM orders WHERE o_custkey < 5),
           false, false
    ORDER BY batch
    """,
)
def catalog_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-Audit-Publish — the lakehouse publish discipline: every
    batch lands in STAGING, a data-quality audit runs against the
    staged files (key non-null + key uniqueness here; dq_constraints is
    the general gate), and only a passing batch is atomically promoted
    to the published location — a failing batch is quarantined, and the
    published table never serves a row that skipped its audit. Two
    batches exercise both paths: the clean 'F'-status slice publishes;
    a deliberately doubled slice (duplicate keys) fails the uniqueness
    audit and lands in quarantine. The final output re-derives each
    batch's verdict FROM THE DIRECTORIES (published vs quarantine
    re-read), not from in-memory state — the audit trail a catalog
    would record. Promotion is a directory rename: the same atomic-rename
    posture as the catalog store's log commit."""
    base = scratch_dir("wap_")
    orders = table(spark, sf_dir, "orders")
    batches = {
        "clean": orders.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        "dirty": orders.filter(F.col("o_custkey") < 5)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .unionAll(
            orders.filter(F.col("o_custkey") < 5).select(
                "o_orderkey", "o_custkey", "o_totalprice"
            )
        ),
    }
    for name, df in batches.items():
        staging = os.path.join(base, "staging", name)
        df.write.parquet(staging)
        staged = spark.read.parquet(staging)
        n = staged.count()
        n_keys = staged.select("o_orderkey").distinct().count()
        n_null = staged.filter(F.col("o_orderkey").isNull()).count()
        audit_ok = n > 0 and n_null == 0 and n_keys == n
        dest = "published" if audit_ok else "quarantine"
        os.makedirs(os.path.join(base, dest), exist_ok=True)
        os.rename(staging, os.path.join(base, dest, name))

    def _dir_rows(kind: str):
        root = os.path.join(base, kind)
        out = []
        for name in sorted(os.listdir(root)) if os.path.isdir(root) else []:
            n = spark.read.parquet(os.path.join(root, name)).count()
            out.append((name, n, kind == "published"))
        return out

    rows = [
        (name, n, True if published else False, published)
        for name, n, published in _dir_rows("published")
    ] + [
        (name, n, False, False) for name, n, _ in _dir_rows("quarantine")
    ]
    return local_frame(
        spark, rows, "batch string, n_rows long, audit_passed boolean, published boolean"
    ).orderBy("batch")


# ======================================================================
# F16 — corpus-wide n-gram statistics (the classic big-data shuffle)
# ======================================================================


@register(
    "text_top_bigrams",
    f"""
    SELECT bigram, n FROM (
      SELECT bigram, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, bigram) AS rn
      FROM (SELECT unnest({H.shingles_sql('text', 2)}) AS bigram FROM documents)
      GROUP BY bigram)
    WHERE rn <= 20
    """,
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 bigrams: explode → map-side-combined count →
    TakeOrdered top-k (deterministic tiebreak on the bigram). The
    canonical one-shuffle-plus-limit corpus statistic; at 100 TB the
    partial aggregation keeps the shuffle linear in DISTINCT bigrams,
    not corpus size."""
    docs = table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(H.shingles(F.col("text"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
    )
    return (
        counts.orderBy(F.col("n").desc(), "bigram").limit(20).select("bigram", "n")
    )


# ======================================================================
# EXT — correlated scalar subquery (decorrelated agg-join)
# ======================================================================


@register(
    "sub_correlated_scalar",
    """
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price
    FROM orders o
    WHERE o.o_totalprice > 2 * (SELECT avg(o2.o_totalprice) FROM orders o2
                                WHERE o2.o_custkey = o.o_custkey)
    """,
)
def sub_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated SCALAR subquery — Catalyst decorrelates the per-row
    avg into one grouped aggregate + an equi-join (the rewrite you'd
    hand-write at scale: no per-row re-scan)."""
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS price
        FROM {orders} o
        WHERE o.o_totalprice > 2 * (SELECT avg(o2.o_totalprice) FROM {orders} o2
                                    WHERE o2.o_custkey = o.o_custkey)
        """,
        orders=table(spark, sf_dir, "orders"),
    )


# ======================================================================
# §2.9 EXT — watermarked stream-stream interval join
# ======================================================================


@register(
    "streaming_stream_join",
    """
    SELECT p.event_id AS p_id, v.event_id AS view_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = p.user_id
     AND v.ts >= p.ts - INTERVAL '30 minutes' AND v.ts <= p.ts
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with watermarks: purchases matched to the
    views that preceded them within 30 minutes per user. Both sides carry
    watermarks and the join condition bounds event time, so the state
    store can evict expired rows — the unbounded-state hazard of naive
    stream joins, solved the Structured Streaming way. availableNow over
    one batch ⇒ the result equals the batch interval join the oracle
    runs."""

    def side(s: DataFrame, event_type: str, id_alias: str, ts_alias: str):
        return (
            s.filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(id_alias),
                F.col("user_id").alias(f"{id_alias}_user"),
                F.col("ts").alias(ts_alias),
            )
            .withWatermark(ts_alias, "1 hour")
        )

    purchases, src = events_stream(spark, sf_dir)
    views, _ = events_stream(spark, sf_dir)
    purchases = side(purchases, "purchase", "p_id", "p_ts")
    views = side(views, "view", "view_id", "v_ts")
    joined = purchases.join(
        views,
        F.expr(
            "view_id_user = p_id_user AND "
            "v_ts >= p_ts - INTERVAL 30 MINUTES AND v_ts <= p_ts"
        ),
        "inner",
    ).select("p_id", "view_id", F.col("p_id_user").alias("user_id"))
    return drain(joined, "append", src)


# ======================================================================
# EXT — z-order keys, histograms, deterministic sampling
# ======================================================================

from ..functions.geo import morton_key, morton_key_sql  # noqa: E402

_ZQX = "cast(floor((lon + 2.0) / 16.0 * 65536) AS BIGINT)"
_ZQY = "cast(floor((lat + 2.0) / 16.0 * 65536) AS BIGINT)"


@register(
    "geo_zorder_key",
    f"""
    WITH pts AS ({_BULK_PTS_SQL})
    SELECT img_id, {morton_key_sql(_ZQX, _ZQY)} AS zkey FROM pts
    """,
)
def geo_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering keys over the 20k bulk points — the
    space-filling-curve layout op: ``repartitionByRange(zkey)`` +
    sortWithinPartitions before the write co-locates spatial tiles per
    file so min/max stats turn bbox scans into file skips (Delta
    OPTIMIZE ZORDER semantics from plain columns). The key itself is
    pure bit algebra, identical in both engines."""
    pts = spark.range(_BULK_N).select(
        F.col("id").alias("img_id"),
        ((F.col("id") * 73 % 997) / 997.0 * 16.0 - 2.0).alias("lon"),
        ((F.col("id") * 131 % 983) / 983.0 * 14.0 - 2.0).alias("lat"),
    )
    qx = F.floor((F.col("lon") + 2.0) / 16.0 * 65536).cast("bigint")
    qy = F.floor((F.col("lat") + 2.0) / 16.0 * 65536).cast("bigint")
    return pts.select("img_id", morton_key(qx, qy).alias("zkey"))


@register(
    "a4_histogram",
    f"""
    SELECT cast(floor(o_totalprice / 50000.0) AS BIGINT) AS bucket,
           count(*) AS n, {dsum_sql('o_totalprice')} AS total
    FROM orders GROUP BY 1
    """,
)
def a4_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: floor-bucket + grouped count/sum — one
    map-side-combined shuffle over ~dozens of buckets regardless of
    table size."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.floor(F.col("o_totalprice") / 50000.0).cast("bigint").alias("bucket")
        )
        .agg(F.count("*").alias("n"), dsum(F.col("o_totalprice")).alias("total"))
    )


@register(
    "p8_hash_sample",
    f"""
    SELECT o_orderkey, round(o_totalprice, 2) AS price
    FROM orders WHERE {H.hash64_sql('o_orderkey::VARCHAR')} % 20 = 0
    """,
)
def p8_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5% sample via the cross-engine hash family —
    reproducible across runs/engines and stable under repartitioning,
    unlike TABLESAMPLE; the standard trick for consistent dev subsets
    and A/B splits of a 100 TB corpus."""
    o = table(spark, sf_dir, "orders")
    return o.filter(
        H.hash64(F.col("o_orderkey").cast("string")) % 20 == 0
    ).select("o_orderkey", F.round("o_totalprice", 2).alias("price"))


# ======================================================================
# §2.10 EXT — per-group model fit (JVM regr_slope) + learned IVF codebook
# ======================================================================


@register(
    "g1_trend_fit",
    """
    WITH e AS (
      SELECT user_id, value,
             (floor(epoch(ts))::BIGINT
              - min(floor(epoch(ts))::BIGINT) OVER (PARTITION BY user_id)) / 3600.0 AS xh
      FROM events)
    -- "+ 0.0" canonicalizes IEEE -0.0 to 0.0: a tiny negative slope
    -- rounding to zero must hash identically on both engines (r16)
    SELECT user_id, count(*) AS n, round(regr_slope(value, xh), 4) + 0.0 AS slope
    FROM e GROUP BY user_id
    """,
)
def g1_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trend slope: least squares of value over hours-since-
    first-event, entirely JVM-side via the built-in ``regr_slope``
    aggregate (Spark >= 3.4) over a window-shifted x — the same closed
    form cov(x,y)/var(x) the DuckDB oracle computes, so values
    hash-match at 4 decimals.

    This was a grouped ``applyInPandas`` kernel through r08; the first
    full-registry sf0.1 timing showed the per-group Arrow overhead
    (~3.6 s warm for ~40k one-row-out groups) dwarfing the actual
    arithmetic. A closed-form fit never needs Python: one
    hashpartitioning(user_id) exchange feeds both the min() window and
    the final aggregate (no second shuffle), and whole-stage codegen
    covers the rest — 3.6 s -> ~0.4 s warm, and at 100 TB the
    difference is a cluster-sized Python worker pool doing nothing.
    Grouped-map kernels remain for fits with no closed form
    (operators/tdigest.py, the a19/streaming t-digest path)."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.floor(F.unix_timestamp("ts")).cast("long").alias("epoch"), "value"
    )
    w = Window.partitionBy("user_id")
    xh = (F.col("epoch") - F.min("epoch").over(w)) / F.lit(3600.0)
    return (
        ev.withColumn("xh", xh)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            # + 0.0 canonicalizes IEEE -0.0 (see oracle note)
            (F.round(F.regr_slope("value", "xh"), 4) + F.lit(0.0)).alias("slope"),
        )
    )


@register(
    "ann_ivf_kmeans",
    """
    SELECT vec_id AS q_id, 10 AS n_results, true AS recall_ok
    FROM embeddings WHERE vec_id < 3 AND embedding IS NOT NULL
    """,
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a REAL learned codebook: pyspark.ml KMeans (seeded)
    fits coarse centroids over the embeddings, then the same
    centroid-equi-join probe plan as `ann_ivf_topk` runs against them.

    The codebook itself has no cross-engine twin (k-means centers are
    float-order dependent), so the oracle checks the index's CONTRACT
    instead of its internals: per query, the probe must return a full
    k=10 results and recall@10 against the in-engine exact top-10
    (brute_force_topk — itself oracle-checked via f17_cosine_topk) must
    clear 0.5. Measured recall at nprobe=4 is 0.7-1.0 across
    sf0.001/0.01/0.1, so the boolean has ≥0.2 absolute margin over
    codebook jitter; a degenerate codebook or broken probe join drives
    it false and red-rows the round (same pattern as a5_approx_distinct
    and ann_recall_eval)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # undecodable (NULL) vectors can't train or probe the index —
    # array_to_vector NPEs on them inside the KMeans fit
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    feat = emb.select(
        "vec_id", array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    # KMeans.fit crashes on a zero-row training set ("Nothing has been
    # added to this summarizer"); an empty corpus has no codebook and no
    # queries — return the empty contract frame. The existence probe is
    # a single limit-1 scan, negligible next to the fit it guards.
    if feat.isEmpty():
        return emb.select(
            F.col("vec_id").alias("q_id"),
            F.lit(0).cast("int").alias("n_results"),
            F.lit(False).alias("recall_ok"),
        ).filter(F.lit(False))
    model = KMeans(k=8, seed=42, maxIter=5).fit(feat)
    centroids = local_frame(
        spark,
        [(i, [float(v) for v in c]) for i, c in enumerate(model.clusterCenters())],
        "centroid_id int, centroid array<double>",
    )
    queries_df = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    ivf = SIM.ivf_topk(emb, queries_df, centroids, k=10, nprobe=4).select(
        "q_id", "vec_id"
    )
    exact = SIM.brute_force_topk(emb, queries_df, k=10).select("q_id", "vec_id")
    n_hit = (
        exact.join(ivf, ["q_id", "vec_id"], "left_semi")
        .groupBy("q_id")
        .agg(F.count("*").alias("n_hit"))
    )
    n_res = ivf.groupBy("q_id").agg(F.count("*").alias("n_results"))
    return (
        queries_df.select("q_id")
        .join(n_res, "q_id", "left")
        .join(n_hit, "q_id", "left")
        .select(
            F.col("q_id"),
            F.coalesce("n_results", F.lit(0)).cast("int").alias("n_results"),
            (F.coalesce("n_hit", F.lit(0)) >= 5).alias("recall_ok"),
        )
    )


# ======================================================================
# EXT — lake maintenance: compaction, schema-evolution reads
# ======================================================================


@register(
    "s17_compaction",
    f"""
    SELECT lang, count(*) AS n, {dsum_sql('n_chars')} AS total_chars
    FROM documents GROUP BY lang
    """,
)
def s17_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the lake-maintenance op every streaming
    ingest needs: a fragmented write (64 shards) is compacted to 4 files
    via ``repartition`` and re-read; the aggregate must equal the
    oracle's direct scan, proving compaction loses nothing. At 100 TB
    the same plan runs per partition-dir with checkpointed progress."""
    frag_dir = os.path.join(scratch_dir("compact_"), "frag")
    compact_dir = os.path.join(os.path.dirname(frag_dir), "compact")
    docs = table(spark, sf_dir, "documents")
    docs.repartition(64).write.mode("overwrite").parquet(frag_dir)
    frag = spark.read.parquet(frag_dir)
    frag.repartition(4).write.mode("overwrite").parquet(compact_dir)
    n_files = len(
        [f for f in os.listdir(compact_dir) if f.endswith(".parquet")]
    )
    assert n_files <= 4, f"compaction produced {n_files} files"
    return (
        spark.read.parquet(compact_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("n"), dsum(F.col("n_chars")).alias("total_chars"))
    )


@register(
    "s18_schema_evolution",
    """
    SELECT doc_id, lang, NULL::DOUBLE AS score FROM documents WHERE doc_id % 2 = 0
    UNION ALL
    SELECT doc_id, lang, round(n_chars / 1000.0, 4) AS score
    FROM documents WHERE doc_id % 2 = 1
    """,
)
def s18_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an old partition written WITHOUT the
    ``score`` column and a new partition WITH it, merged by
    ``mergeSchema`` — old rows surface score=NULL, exactly the
    additive-column contract a long-lived lake table relies on."""
    base = scratch_dir("schema_evo_")
    docs = table(spark, sf_dir, "documents")
    docs.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.mode(
        "overwrite"
    ).parquet(os.path.join(base, "v1"))
    docs.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", F.round(F.col("n_chars") / 1000.0, 4).alias("score")
    ).write.mode("overwrite").parquet(os.path.join(base, "v2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(base, "v1"), os.path.join(base, "v2"))
        .select("doc_id", "lang", "score")
    )


# ======================================================================
# EXT — time-series resample + linear interpolation (hypertable rollup)
# ======================================================================


@register(
    "ts_resample_interp",
    """
    WITH e AS (
      SELECT user_id, floor(epoch(ts))::BIGINT AS x, value::DOUBLE AS v, event_id AS tb
      FROM events
      WHERE user_id < 50 AND ts IS NOT NULL AND value IS NOT NULL),
    b AS (SELECT user_id, min(x) AS lo, max(x) AS hi FROM e GROUP BY user_id),
    grid AS (
      SELECT user_id, unnest(generate_series((lo + 3599) // 3600, hi // 3600)) * 3600 AS x
      FROM b),
    u AS (
      SELECT user_id, x, 0 AS is_grid, x AS px, v AS pv, tb FROM e
      UNION ALL
      SELECT user_id, x, 1, NULL, NULL, NULL FROM grid),
    f AS (
      SELECT user_id, x, is_grid,
             last_value(px IGNORE NULLS) OVER w AS prev_x,
             last_value(pv IGNORE NULLS) OVER w AS prev_v,
             first_value(px IGNORE NULLS) OVER w2 AS next_x,
             first_value(pv IGNORE NULLS) OVER w2 AS next_v
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY x, is_grid, tb NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w2 AS (PARTITION BY user_id ORDER BY x, is_grid, tb NULLS FIRST
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, x AS grid_epoch,
           floor((CASE WHEN next_x IS NULL THEN prev_v
                  ELSE prev_v + (next_v - prev_v) * (x - prev_x) / (next_x - prev_x)
                  END) * 10000 + 0.5) / 10000.0 AS value
    FROM f WHERE is_grid = 1
    """,
)
def ts_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample of each user's event-value series with linear
    interpolation between surrounding events (operators.asof.
    resample_interpolate): the hypertable-rollup/sensor shape as ONE
    union-merge timeline per key — forward window fills prev, backward
    window fills next, no per-grid-point probe. Oracle mirrors the exact
    window ordering and float expression."""
    from ..operators.asof import resample_interpolate

    # r16 contract: a sensor reading without a timestamp or a value
    # can't anchor interpolation — excluded on both sides.
    ev = table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 50)
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    return resample_interpolate(ev)


# ======================================================================
# §2.9/F-geo/S6 — streaming sliding twin, shoelace areas, corrupt JSON
# ======================================================================


@register("streaming_sliding", _SLIDING_SQL)
def streaming_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sliding-window aggregate executed as a Structured Streaming
    query (file source, availableNow, complete-mode memory sink) —
    batch/stream parity against the same oracle as
    ``sliding_window_agg``."""
    stream, src = events_stream(spark, sf_dir)
    return drain(sliding_window_agg(stream), "complete", src)


@register(
    "geo_ring_areas",
    f"""
    SELECT id_predio, ring_idx,
           round(abs(sum(x1 * y2 - x2 * y1)) / 2, 6) AS area
    FROM {GF.ring_edges_values_sql()}
    GROUP BY id_predio, ring_idx
    """,
)
def geo_ring_areas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace area per polygon RING (shells and holes alike,
    orientation-free via abs): one higher-order aggregate over the edge
    walk — pure column arithmetic, no UDF, trivially parallel. Ring-level
    rather than role-inferred so MultiPolygon parts and holes each report
    their own area (net parcel area = shells − holes once roles are
    assigned upstream)."""
    polys = GF.spark_polys(spark)
    ring = F.col("__r")
    n = F.size(ring)
    shoelace = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, i: acc
        + (
            F.element_at(ring, i)["x"] * F.element_at(ring, (i % n) + 1)["y"]
            - F.element_at(ring, (i % n) + 1)["x"] * F.element_at(ring, i)["y"]
        ),
    )
    return polys.select(
        "id_predio", F.posexplode("rings").alias("ring_idx", "__r")
    ).select(
        "id_predio", "ring_idx", F.round(F.abs(shoelace) / 2, 6).alias("area")
    )


@register(
    "s9_jdbc_roundtrip",
    f"""
    SELECT c_nationkey, count(*) AS n, {dsum_sql('c_acctbal')} AS total_bal
    FROM customer WHERE c_mktsegment = 'BUILDING'
    GROUP BY c_nationkey
    """,
)
def s9_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 executed for real — no external DB required: the customer
    table is loaded into an EMBEDDED Apache Derby database (the JDBC
    engine Spark already ships for its metastore), then read back
    through ``spark.read.format("jdbc")`` as a PARTITIONED parallel scan
    (4 range partitions on c_custkey — each executor opens its own
    connection, the 100 TB-era ingest shape for relational sources,
    vs the reference's single cursor in mysql_process.py:13-25) with the
    segment predicate and column pruning PUSHED into the external
    engine's SQL ("External engine query" in the formatted plan). String
    columns are pinned to VARCHAR at create time — Derby maps Spark
    strings to CLOB by default, and CLOB predicates don't push.

    The Derby database is a STANDING source, staged once per application
    and sf_dir (like the bucketed layout): the single-connection write
    is paid once, every later read is the partitioned parallel scan."""

    def load(d: str) -> None:
        # Spark's Derby dialect maps StringType→CLOB and binds NULL
        # strings with setNull(CLOB), which Derby rejects into the pinned
        # VARCHAR column (ERROR 22005). Rows with a null segment go to
        # the bad-records channel instead of the relational stage —
        # value-identical here since the read-back filters segment =
        # 'BUILDING', which a NULL can never match.
        # the length cap matches the staged table's declared VARCHAR(64)
        # (widened from 10 in r16 — TPC-H segments are <=10 chars, but a
        # dirty wide feed should stage losslessly, not drop rows): a
        # still-over-width segment is a bad-records row, not a Derby
        # truncation abort (value-neutral: the read-back filters
        # segment = 'BUILDING', which both guards can never exclude)
        cust = (
            table(spark, sf_dir, "customer")
            .filter(
                F.col("c_mktsegment").isNotNull()
                & (F.length("c_mktsegment") <= 64)
            )
            .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
        )
        (
            cust.write.format("jdbc")
            .option("url", f"jdbc:derby:{os.path.join(d, 'db')};create=true")
            .option("dbtable", "CUSTOMER")
            .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
            .option("createTableColumnTypes", "c_mktsegment VARCHAR(64)")
            .save()
        )

    db = os.path.join(stage_dir(spark, ("derby", sf_dir), load), "db")
    hi = (
        table(spark, sf_dir, "customer")
        .agg(F.max("c_custkey"))
        .collect()[0][0]
    )
    # max() is NULL on an empty source; keep the range-read bounds legal
    # (lowerBound < upperBound) so the parallel scan of an empty table is
    # an empty result, not a TypeError.
    hi = int(hi) if hi is not None else 1
    back = (
        spark.read.format("jdbc")
        .option("url", f"jdbc:derby:{db}")
        .option("dbtable", "CUSTOMER")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("partitionColumn", "c_custkey")
        .option("lowerBound", "1")
        .option("upperBound", str(hi + 1))
        .option("numPartitions", "4")
        .load()
    )
    return (
        back.filter(F.col("c_mktsegment") == "BUILDING")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"), dsum(F.col("c_acctbal")).alias("total_bal"))
    )


@register(
    "s6_features_corrupt",
    "SELECT 5::BIGINT AS n_valid, 1::BIGINT AS n_corrupt",
)
def s6_features_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode JSON scan with a corrupt-record channel: five
    valid feature files plus one malformed blob read in one pass; bad
    rows land in _corrupt_record instead of failing the scan (cache
    before filtering on the corrupt column — Spark requires the
    materialization). The production posture for a landing bucket where
    one bad file must not kill the ingest."""
    import json

    d = scratch_dir("features_corrupt_")
    for p in GF.POLYS:
        rec = {k: v for k, v in p.items() if k != "rings"}
        rec["rings"] = [[{"x": x, "y": y} for x, y in ring] for ring in p["rings"]]
        with open(os.path.join(d, f"{p['id_predio']}.json"), "w") as f:
            f.write(json.dumps(rec))
    with open(os.path.join(d, "zz_broken.json"), "w") as f:
        f.write('{"id_predio": "BAD", "rings": [[{"x": 1')

    from pyspark.sql import types as T

    from ..sources.files import FEATURE_SCHEMA

    # fresh StructType — StructType.add mutates in place, don't touch the
    # shared FEATURE_SCHEMA
    schema = T.StructType(
        list(FEATURE_SCHEMA.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    feats = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(d)
        .cache()
    )
    return feats.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_valid"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_corrupt"),
    )


# ======================================================================
# §2.10 EXT — Python UDTF (table function), array set ops, grouping_id
# ======================================================================


@register(
    "f18_python_udtf",
    """
    SELECT doc_id, seg_idx, seg
    FROM (
      SELECT doc_id,
             generate_subscripts(string_split(text, ' the '), 1) - 1 AS seg_idx,
             unnest(string_split(text, ' the ')) AS seg
      FROM documents WHERE doc_id < 30)
    WHERE seg <> ''
    """,
)
def f18_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table function): one input row → N output
    rows from arbitrary Python, here segmenting text on a delimiter
    token. The UDTF surface matters where the expansion logic is real
    Python (parsers, tokenizers); this query's segmentation is
    deliberately SQL-expressible so the oracle can value-check the
    row-expansion contract itself."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="seg_idx int, seg string")
    class SplitSegments:
        def eval(self, doc_id: int, text: str):
            if text is None:  # NULL payload expands to zero rows
                return
            for i, seg in enumerate(text.split(" the ")):
                if seg != "":
                    yield i, seg

    # registering the same name again replaces the entry
    spark.udtf.register("split_segments", SplitSegments)
    return spark.sql(
        """
        SELECT d.doc_id, s.seg_idx, s.seg
        FROM {docs} d, LATERAL split_segments(d.doc_id, d.text) s
        """,
        docs=table(spark, sf_dir, "documents").filter(F.col("doc_id") < 30),
    )


@register(
    "f15_array_setops",
    f"""
    WITH s AS (
      SELECT doc_id, text,
             list_distinct({H.shingles_sql('text', 3)}) AS a,
             list_distinct({H.shingles_sql('lower(text)', 4)}) AS b
      FROM documents WHERE doc_id < 100)
    SELECT doc_id,
           -- null-in-null-out keyed on the SOURCE column (Spark's
           -- array-op convention; DuckDB comprehensions over a NULL
           -- split yield [] rather than NULL, so a/b never read NULL)
           CASE WHEN text IS NULL THEN NULL
                ELSE len(list_intersect(a, b))::INT END AS n_inter,
           CASE WHEN text IS NULL THEN NULL
                ELSE len(list_distinct(list_concat(a, b)))::INT END AS n_union,
           CASE WHEN text IS NULL THEN NULL
                ELSE (len(a) - len(list_intersect(a, b)))::INT END AS n_only_a
    FROM s
    """,
)
def f15_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra (F15 pack 3): intersect/union/except
    cardinalities between two shingle sets per row — pure higher-order
    column functions, no explode, no shuffle."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    a = F.array_distinct(H.shingles(F.col("text"), 3))
    b = F.array_distinct(H.shingles(F.lower(F.col("text")), 4))
    withab = docs.select("doc_id", a.alias("a"), b.alias("b"))
    return withab.select(
        "doc_id",
        F.size(F.array_intersect("a", "b")).alias("n_inter"),
        F.size(F.array_union("a", "b")).alias("n_union"),
        F.size(F.array_except("a", "b")).alias("n_only_a"),
    )


@register(
    "a4_grouping_id",
    """
    SELECT l_returnflag, l_linestatus,
           (CASE WHEN grouping(l_returnflag) = 1 THEN 2 ELSE 0 END
            + CASE WHEN grouping(l_linestatus) = 1 THEN 1 ELSE 0 END)::BIGINT AS gid,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a4_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping_id: the aggregation-level marker that lets a
    consumer distinguish subtotal rows from real NULL groups — the
    detail a naive rollup reader gets wrong."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().alias("gid"), F.count("*").alias("n"))
        .select("l_returnflag", "l_linestatus", "gid", "n")
    )


_RECURSIVE_YM_SQL = """
WITH RECURSIVE ym(n, mx) AS (
  SELECT MIN(year(o_orderdate) * 12 + month(o_orderdate)),
         MAX(year(o_orderdate) * 12 + month(o_orderdate))
  FROM orders
  UNION ALL
  SELECT n + 1, mx FROM ym WHERE n < mx
)
SELECT n AS ym, count(o_orderkey) AS n_orders
FROM ym LEFT JOIN orders ON year(o_orderdate) * 12 + month(o_orderdate) = n
GROUP BY n
"""


@register("sql_recursive_cte", _RECURSIVE_YM_SQL)
def sql_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE): generate the contiguous
    month series between the first and last order date — carrying the
    bound through the recursion, no subquery in the recursive member —
    then LEFT JOIN so empty months still appear (the gap-filled calendar
    a naive GROUP BY month silently drops)."""
    return spark.sql(
        _RECURSIVE_YM_SQL.replace("FROM orders", "FROM {orders}").replace(
            "JOIN orders", "JOIN {orders}"
        ),
        orders=table(spark, sf_dir, "orders"),
    )


@register(
    "a6_collect_sorted",
    """
    SELECT o_orderpriority,
           array_to_string((list(o_orderkey ORDER BY o_orderkey))[1:5], ',')
             AS first_keys,
           count(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def a6_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered-array aggregate: sort_array(collect_list)
    sliced — collect_list alone is partition-order nondeterministic, the
    sort restores a stable contract. (At 100 TB collect the TOP-k per
    group via a ranking window instead of sorting whole groups; the
    slice here keeps the output bounded either way.) The array is
    serialized through concat_ws because the external driver
    canonicalizes results via pandas, which cannot sort/hash list cells
    — output columns must stay atomic (see tests/test_output_schemas.py)."""
    return (
        table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.concat_ws(
                ",",
                F.slice(F.sort_array(F.collect_list("o_orderkey")), 1, 5).cast(
                    "array<string>"
                ),
            ).alias("first_keys"),
            F.count("*").alias("n"),
        )
    )


# ======================================================================
# A7 / F15 — deterministic moments, map transforms
# ======================================================================


@register(
    "a7_moments",
    """
    WITH s AS (
      SELECT lang, count(*) AS n,
             sum(n_chars) AS s1, sum(n_chars * n_chars) AS s2,
             sum(n_chars * n_chars * n_chars) AS s3
      FROM documents GROUP BY lang)
    SELECT lang, n,
           round(s1 / n, 6) AS mean,
           round(s2 / n - (s1 / n) * (s1 / n), 6) AS var_pop,
           -- skewness is UNDEFINED at zero variance (a singleton or
           -- constant group): NULL, not a divide-by-zero (r16)
           CASE WHEN s2 / n - (s1 / n) * (s1 / n) > 0 THEN
           round((s3 / n - 3 * (s1 / n) * (s2 / n - (s1 / n) * (s1 / n))
                  - (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) END AS skew
    FROM s
    """,
)
def a7_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical moments (mean/variance/skewness) per group computed
    from EXACT integer power sums — the order-independent formulation
    that makes distributed float moments deterministic: the shuffle
    carries bigint partials (map-side combined), the float arithmetic
    happens once per group from identical inputs in both engines.
    (Built-in var_pop/skewness stream floats partition-order-dependently
    and won't hash-match.)"""
    docs = table(spark, sf_dir, "documents")
    nc = F.col("n_chars").cast("long")
    s = docs.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(nc).alias("s1"),
        F.sum(nc * nc).alias("s2"),
        F.sum(nc * nc * nc).alias("s3"),
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    mean = s1 / n
    var = s2 / n - mean * mean
    # zero variance (singleton/constant group) leaves skewness
    # undefined — NULL, not an ANSI divide-by-zero (r16 mega-fuzz find)
    skew = F.when(
        var > 0,
        (s3 / n - 3 * mean * var - mean * mean * mean) / F.pow(var, 1.5),
    )
    return s.select(
        "lang",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("var_pop"),
        F.round(skew, 6).alias("skew"),
    )


@register(
    "f15_map_transform",
    """
    SELECT doc_id,
           'lang=' || upper(lang) AS lang_kv,
           1 AS n_filtered,
           3 AS n_concat
    FROM documents WHERE doc_id < 200
    """,
)
def f15_map_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map transform surface: transform_values, map_filter, map_concat —
    the property-bag manipulation ops (§1.4 maps). The oracle computes
    the equivalent scalars directly; the Spark plan routes them through
    the real map higher-order functions."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    m = F.create_map(F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source"))
    mt = F.transform_values(m, lambda k, v: F.concat(k, F.lit("="), F.upper(v)))
    mf = F.map_filter(m, lambda k, v: k == "lang")
    mc = F.map_concat(m, F.create_map(F.lit("extra"), F.col("lang")))
    return docs.select(
        "doc_id",
        mt.getItem("lang").alias("lang_kv"),
        F.size(mf).alias("n_filtered"),
        F.size(mc).alias("n_concat"),
    )


# ======================================================================
# NORTH STAR — the full training-corpus preparation pipeline, end to end
# ======================================================================

# quality filter → exact dedup → near-dup components → canonical keep →
# per-lang stats. The oracle composes the SAME CTE pieces the individual
# queries verify, re-rooted onto the filtered/deduped subset.
_PIPELINE_SQL = (
    f"""
WITH q AS (
  SELECT doc_id, lang, text FROM documents
  WHERE {TX.quality_score_sql('text')} >= 0.4),
exact AS (
  SELECT min(doc_id) AS doc_id FROM q GROUP BY sha256(text)),
kept AS (
  SELECT q.* FROM q JOIN exact USING (doc_id)),
"""
    + _near_pairs_cte(0.2).replace("WITH base AS", "base AS").replace(
        "FROM documents", "FROM kept"
    )
    + """,
edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM kept
  UNION
  SELECT e.dst AS id, r.r FROM reach r JOIN edges e ON e.src = r.id
),
comp AS (SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id),
canon AS (
  SELECT k.doc_id, k.lang FROM kept k JOIN comp c USING (doc_id)
  WHERE c.doc_id = c.component)
SELECT lang, count(*) AS n_kept FROM canon GROUP BY lang
"""
)
# WITH RECURSIVE must prefix the whole CTE chain (DuckDB allows it even
# when only `reach` recurses); the near-pairs CTE is re-rooted onto the
# filtered/deduped subset via the replaces above.
_PIPELINE_SQL = _PIPELINE_SQL.replace("WITH q AS", "WITH RECURSIVE q AS", 1)


@register("pipeline_corpus_prep", _PIPELINE_SQL)
def pipeline_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole LLM-training-corpus preparation flow as ONE composed
    plan: quality pre-filter (pure columns) → exact dedup (digest
    groupBy, min-id representative) → near-dup connected components over
    the survivors (MinHash-LSH pairs + union-find) → keep only each
    cluster's canonical doc → per-language corpus stats. Every stage is
    individually oracle-verified elsewhere; this entry verifies their
    COMPOSITION — filters push into the scan, dedup shuffles on
    digests, the component join broadcasts, and the whole thing remains
    one lazy DataFrame until the final aggregate."""
    docs = table(spark, sf_dir, "documents")
    q = docs.filter(TX.quality_score(F.col("text")) >= 0.4).select(
        "doc_id", "lang", "text"
    )
    exact = D.exact_dedup(q).select("doc_id")
    # Stage boundary: the survivor set feeds two consumers (pair
    # generation and the canonical filter). localCheckpoint materializes
    # it once instead of re-running the quality filter + digest dedup per
    # consumer — the same staging a production pipeline does between
    # phases (~30% faster at sf0.1). The inner join drops null doc ids.
    kept = q.join(exact, "doc_id").localCheckpoint(eager=True)
    pairs = D.minhash_lsh_pairs(kept, jaccard_threshold=0.2)
    labels = D.components_from_edges(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    # a survivor is canonical unless its cluster's min id is another doc:
    # the driver-side labels broadcast by their exact size, so the corpus
    # side is never shuffled for this filter
    canon = kept.join(
        labels.filter(F.col("id") != F.col("component")),
        F.col("doc_id") == F.col("id"),
        "left_anti",
    )
    return canon.groupBy("lang").agg(F.count("*").alias("n_kept"))


