"""Registry segment 11 (mechanical split of plans/queries.py, r17).

- Round 7 — time-series bars, Benford audit, DSIR selection, chi² tokens (cont. 2)

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    D,
    DataFrame,
    F,
    H,
    SparkSession,
    V,
    Window,
    documents_catalog,
    dsum,
    dsum_sql,
    local_frame,
    os,
    register,
    scratch_dir,
    spread,
    table,
)
from .q01_j1 import _near_pairs_cte
from .q10_round_7 import _NDCG_SQL, _NDCG_W



@register("ml_ndcg_at10", _NDCG_SQL)
def ml_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 ranking evaluation: score the cosine retrieval ranking
    against graded label relevance (same label = gain 3, adjacent = 1)
    with the standard log-position discount, normalized by the ideal
    ordering — the metric that grades ANN/hybrid rankers beyond binary
    recall (completing the eval suite: recall for coverage, AUC for
    classification, NDCG for ranking quality). Discount weights are
    precomputed integer nano literals (⌊1e9/log2(r+1)⌋), so DCG and
    IDCG are exact BIGINT sums and the single normalization is floored
    micro fixed point. At scale ground truth runs on a labeled sample;
    both rankings are windows over the per-query candidate set."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(10, 11, 12)).select(
        F.col("vec_id").alias("q_id"),
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("qe"),
        F.col("label").alias("q_lab"),
    )
    cand = (
        emb.select(
            "vec_id",
            F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("ve"),
            "label",
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(V.cosine(F.col("ve"), F.col("qe")), 6).alias("cos"),
            F.when(F.col("label") == F.col("q_lab"), 3)
            .when(F.abs(F.col("label") - F.col("q_lab")) == 1, 1)
            .otherwise(0)
            .alias("gain"),
        )
    )
    weights = F.array(*[F.lit(w) for w in _NDCG_W])
    ranked = cand.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
        ),
    ).filter(F.col("rank") <= 10)
    ideal = cand.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("q_id").orderBy(F.col("gain").desc(), "vec_id")
        ),
    ).filter(F.col("rank") <= 10)
    w_at = F.element_at(weights, F.col("rank")).cast("bigint")
    dcg = ranked.groupBy("q_id").agg(
        F.sum(F.col("gain") * w_at).alias("dcg_nano")
    )
    idcg = ideal.groupBy("q_id").agg(
        F.sum(F.col("gain") * w_at).alias("idcg_nano")
    )
    return dcg.join(F.broadcast(idcg), "q_id").select(
        "q_id",
        "dcg_nano",
        "idcg_nano",
        F.floor(
            F.col("dcg_nano").cast("double")
            * 1e6
            / F.greatest(F.col("idcg_nano"), F.lit(1).cast("bigint"))
        )
        .cast("bigint")
        .alias("ndcg_micro"),
    )


@register(
    "ivm_join_delta",
    f"""
    SELECT c.c_mktsegment, count(*) AS n,
           {dsum_sql('o.o_totalprice')} AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE o.o_orderkey IS NOT NULL
    GROUP BY c.c_mktsegment
    """,
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of a join-aggregate: with base and
    delta partitions on BOTH join sides, the maintained view updates as
    V ⊎ Δ(A⋈B) where Δ(A⋈B) = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB — the classic IVM
    delta rule, so the base⋈base join (the 100 TB part) is NEVER
    re-executed on refresh; only delta-sided joins run. All four
    grouped partials merge by re-aggregation (counts add; decimal
    partial sums add exactly — the same mergeability that powers
    incremental_agg_merge). The oracle recomputes the view from
    scratch; equality proves the delta rule lost nothing.
    The base/delta split is keyed on o_orderkey — a null key belongs to
    neither partition, so it is excluded on both sides (r16)."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isNotNull())
        .select(
            "o_orderkey", "o_custkey", "o_totalprice",
            (F.col("o_orderkey") % 7 == 0).alias("o_delta"),
        )
    )
    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment",
        (F.col("c_custkey") % 5 == 0).alias("c_delta"),
    )

    def part(df, flag, is_delta):
        return df.filter(F.col(flag) == is_delta)

    def grouped(orders_df, cust_df):
        return (
            orders_df.join(
                cust_df, orders_df.o_custkey == cust_df.c_custkey
            )
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias(
                    "rev_partial"
                ),
            )
        )

    v_base = grouped(part(o, "o_delta", False), part(c, "c_delta", False))
    d1 = grouped(part(o, "o_delta", True), part(c, "c_delta", False))
    d2 = grouped(part(o, "o_delta", False), part(c, "c_delta", True))
    d3 = grouped(part(o, "o_delta", True), part(c, "c_delta", True))
    merged = (
        v_base.unionByName(d1).unionByName(d2).unionByName(d3)
        .groupBy("c_mktsegment")
        .agg(
            F.sum("n").alias("n"),
            F.sum("rev_partial").cast("double").alias("revenue"),
        )
    )
    return merged


@register(
    "s26_dynamic_overwrite",
    f"""
    -- nullif: the Hive partition layout stores '' as
    -- __HIVE_DEFAULT_PARTITION__, so an empty-string category reads
    -- back as NULL — the published contract, mirrored here
    SELECT nullif(o_orderpriority, '') AS o_orderpriority, count(*) AS n,
           {dsum_sql(
               "o_totalprice + CASE WHEN o_orderpriority = '1-URGENT' "
               "THEN 100.0 ELSE 0.0 END"
           )} AS total
    FROM orders
    WHERE o_orderpriority IS NULL OR length(o_orderpriority) <= 255
    GROUP BY nullif(o_orderpriority, '')
    """,
)
def s26_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite: INSERT OVERWRITE replaces ONLY the
    partitions present in the incoming batch (here: a corrected
    1-URGENT feed re-publishes with +100 per order), leaving all other
    partitions' files untouched — the idempotent partition-level
    restatement every partitioned lake needs (static overwrite mode
    would have deleted the other four priorities). The read-back
    aggregate must equal the oracle's expected post-restatement state.
    At 100 TB only the restated partition is rewritten; the others are
    never opened."""
    dest = os.path.join(scratch_dir("dynover_"), "orders_by_prio")
    # path safety (same posture as s16): a partition value is a
    # directory name; dirty multi-KB priorities go to the bad-records
    # channel, mirrored in the oracle's length guard
    orders = (
        table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderpriority").isNull()
            | (F.length("o_orderpriority") <= 255)
        )
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )
    orders.write.partitionBy("o_orderpriority").parquet(dest)
    upd = orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") + 100.0
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        upd.write.mode("overwrite").partitionBy("o_orderpriority").parquet(
            dest
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # Explicit schema: restating an empty feed writes zero data files
    # and the read-back must still bind to the table's contract schema.
    back = spark.read.schema(orders.schema).parquet(dest)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"), dsum(F.col("o_totalprice")).alias("total")
    )


@register(
    "j_asof_nearest",
    """
    WITH c AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'purchase' AND user_id < 40
        AND ts IS NOT NULL AND event_id IS NOT NULL),
    e AS (
      SELECT event_id AS err_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'error' AND user_id < 40
        AND ts IS NOT NULL AND event_id IS NOT NULL),
    ranked AS (
      -- floor to whole epoch seconds BEFORE the diff (Spark's
      -- unix_timestamp truncates; DuckDB's epoch keeps fractions)
      SELECT c.event_id, c.user_id, e.err_id,
             abs(CAST(floor(epoch(c.ts)) AS BIGINT)
                 - CAST(floor(epoch(e.ts)) AS BIGINT)) AS dt_s,
             row_number() OVER (PARTITION BY c.event_id
               ORDER BY abs(CAST(floor(epoch(c.ts)) AS BIGINT)
                            - CAST(floor(epoch(e.ts)) AS BIGINT)),
                        CASE WHEN e.ts <= c.ts THEN 0 ELSE 1 END,
                        e.err_id) AS rn
      FROM c JOIN e USING (user_id))
    SELECT event_id, user_id, err_id, dt_s
    FROM ranked WHERE rn = 1
    """,
)
def j_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-as-of join, BOTH directions: each purchase pairs with the
    temporally closest error event of the same user (ties: prefer the
    earlier-or-equal side, then id) — the diagnosis join ('what went
    wrong nearest this outcome') that backward-only as-of
    (j_asof_join) cannot express. Plan: per-user equi-join bounds the
    candidate fan-out to the user's own events, then one argmin window
    per left row — at 100 TB the same plan holds with a time-bucket
    prefilter (j_range_bucketed) stacked under the equi-join to cap
    per-user fan-out; the window key is the left row, so no global
    sort. Nearest-in-time needs a timestamp and an identity on both
    sides — null ts/event_id rows excluded (r16 contract)."""
    ev = table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 40)
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    c = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("c_ts")
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        "user_id",
        F.col("ts").alias("e_ts"),
    )
    j = c.join(e, "user_id")
    dt = F.abs(
        F.unix_timestamp("c_ts") - F.unix_timestamp("e_ts")
    ).cast("bigint")
    w = Window.partitionBy("event_id").orderBy(
        dt,
        F.when(F.col("e_ts") <= F.col("c_ts"), 0).otherwise(1),
        "err_id",
    )
    return (
        j.withColumn("dt_s", dt)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "err_id", "dt_s")
    )


@register(
    "ml_prf1_eval",
    f"""
    WITH p AS (
      SELECT ({H.hash64_sql('o_orderkey', 11)}) % 1000 < 450 AS pred,
             o_orderstatus = 'F' AS label
      FROM orders),
    cm AS (
      SELECT count(*) FILTER (WHERE pred AND label) AS tp,
             count(*) FILTER (WHERE pred AND NOT label) AS fp,
             count(*) FILTER (WHERE NOT pred AND label) AS fn,
             count(*) FILTER (WHERE NOT pred AND NOT label) AS tn
      FROM p)
    SELECT tp, fp, fn, tn,
           CAST(floor(tp * 1000000.0 / greatest(tp + fp, 1)) AS BIGINT)
             AS precision_micro,
           CAST(floor(tp * 1000000.0 / greatest(tp + fn, 1)) AS BIGINT)
             AS recall_micro,
           CAST(floor(2 * tp * 1000000.0 / greatest(2 * tp + fp + fn, 1))
                AS BIGINT) AS f1_micro
    FROM cm
    """,
)
def ml_prf1_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1 — the classification-eval
    companion to ml_auc_exact (threshold-free) and ml_calibration_bins
    (probability quality): one conditional aggregate produces the four
    cells, and the three ratios are exact integer rationals in micro
    units (F1 = 2tp/(2tp+fp+fn) — no float, no harmonic-mean
    intermediate). The 'model' is the same deterministic hash
    pseudo-score family as the calibration query. One map-side-
    combinable pass at any scale; one output row."""
    o = table(spark, sf_dir, "orders")
    p = o.select(
        (H.hash64(F.col("o_orderkey"), 11) % 1000 < 450).alias("pred"),
        (F.col("o_orderstatus") == "F").alias("label"),
    )
    cm = p.agg(
        F.count_if(F.col("pred") & F.col("label")).alias("tp"),
        F.count_if(F.col("pred") & ~F.col("label")).alias("fp"),
        F.count_if(~F.col("pred") & F.col("label")).alias("fn"),
        F.count_if(~F.col("pred") & ~F.col("label")).alias("tn"),
    )
    one = F.lit(1).cast("bigint")
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.floor(
            F.col("tp") * 1000000 / F.greatest(F.col("tp") + F.col("fp"), one)
        )
        .cast("bigint")
        .alias("precision_micro"),
        F.floor(
            F.col("tp") * 1000000 / F.greatest(F.col("tp") + F.col("fn"), one)
        )
        .cast("bigint")
        .alias("recall_micro"),
        F.floor(
            2 * F.col("tp") * 1000000
            / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), one)
        )
        .cast("bigint")
        .alias("f1_micro"),
    )


@register(
    "corpus_mixture_temperature",
    """
    WITH agg AS (
      SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
    s AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000) AS BIGINT)
               AS w_milli
      FROM agg),
    t AS (SELECT CAST(sum(w_milli) AS BIGINT) AS w_tot FROM s)
    SELECT source, n_docs, w_milli,
           CAST(floor(w_milli * 1000000.0 / w_tot) AS BIGINT) AS share_micro
    FROM s CROSS JOIN t
    ORDER BY source
    """,
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixture (the multilingual/multi-source
    sampling rule, α = 0.5): each source's sampling share is
    n^α / Σ n^α, flattening the head and boosting the tail relative to
    proportional sampling (α=1, corpus_mixture's regime) without going
    fully uniform (α=0) — the published recipe from multilingual BERT/
    XLM-R onward. √n is floored to milli units BEFORE normalization so
    the share division is an exact integer rational. One aggregate per
    source + a one-row broadcast total at any scale."""
    docs = table(spark, sf_dir, "documents")
    agg = docs.groupBy("source").agg(F.count("*").alias("n_docs"))
    s = agg.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("n_docs").cast("double")) * 1000)
        .cast("bigint")
        .alias("w_milli"),
    )
    t = s.agg(F.sum("w_milli").alias("w_tot"))
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            "w_milli",
            F.floor(F.col("w_milli") * 1000000 / F.col("w_tot"))
            .cast("bigint")
            .alias("share_micro"),
        )
        .orderBy("source")
    )


@register(
    "catalog_snapshot_expire",
    """
    WITH v AS (SELECT unnest(generate_series(0, 3)) AS version),
    n AS (SELECT count(*) AS n_rows FROM documents)
    SELECT v.version, n.n_rows,
           v.version >= 2 AS kept,
           v.version >= 2 AS readable_after
    FROM v CROSS JOIN n
    ORDER BY v.version
    """,
)
def catalog_snapshot_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot expiry (VACUUM retention): the versioned catalog
    accumulates copy-on-write snapshots on every MERGE; expiry keeps the
    last K (here 2) and deletes older log entries and the files only they
    list — bounding time-travel storage exactly like Delta VACUUM / Iceberg
    expire_snapshots. Builds a real store, advances it through three
    MERGE updates (4 snapshots), reads every snapshot's row count
    BEFORE expiry, expires with keep_last=2, and reports which versions
    remain readable — the oracle predicts the full lifecycle in closed
    form. Update sets are disjoint id slices, so each snapshot has
    identical cardinality (copy-on-write replaces rows)."""
    store = documents_catalog(spark, sf_dir)
    # r19 (guide §5 driver discipline / §1.2 don't recompute): ONE id
    # collect; the %10 slicing is a pure function of the ids. r20: read
    # the ids back from the just-written v0 snapshot instead of
    # collecting the lazy insert frame — the latter re-ran the whole
    # id-allocation plan (documents scan + window + broadcast join);
    # the snapshot read is a small parquet scan. Identical ids (fresh
    # store: the snapshot holds exactly the insert).
    all_ids = [r["id"] for r in store.catalog().select("id").collect()]
    for mod in (3, 4, 5):
        ids = [i for i in all_ids if i % 10 == mod]
        store.update_processed_img(10, ids)
    versions = store.catalog_versions()
    n_rows = {v: store.catalog(version=v).count() for v in versions}
    removed = store.expire_snapshots(keep_last=2)
    readable = store.catalog_versions()
    out = [(v, n_rows[v], v not in removed, v in readable) for v in versions]
    return local_frame(
        spark, out, "version int, n_rows bigint, kept boolean, readable_after boolean"
    )


@register(
    "f19_url_parse",
    r"""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) || '?lang=' || lang
               || '&v=' || CAST(doc_id % 5 AS VARCHAR) AS url
      FROM documents WHERE doc_id % 37 = 0)
    SELECT doc_id,
           regexp_extract(url, '^https?://([^/]+)', 1) AS host,
           regexp_extract(url, '^https?://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, 'lang=([^&]*)', 1) AS lang_param,
           CAST(regexp_extract(url, 'v=([0-9]+)', 1) AS BIGINT) AS v_param
    FROM u
    """,
)
def f19_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition — host/path/query-parameter extraction with one
    shared regex family (the log-analytics / web-corpus canonicalization
    primitive; the reference parses object paths the same way at
    download_list_images.py:44-55). Spark's parse_url is JVM-only and
    DuckDB has none, so BOTH engines run the identical anchored
    regexes — no dialect drift, pure codegen'd projection, no shuffle
    at all."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") % 37 == 0)
    u = docs.select(
        "doc_id",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".example.com/docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?lang="),
            F.col("lang"),
            F.lit("&v="),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("url"),
    )
    return u.select(
        "doc_id",
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        F.regexp_extract("url", r"^https?://[^/]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract("url", r"lang=([^&]*)", 1).alias("lang_param"),
        F.regexp_extract("url", r"v=([0-9]+)", 1)
        .cast("bigint")
        .alias("v_param"),
    )


_CIDRS = (("10.0.0.0", 8), ("172.16.0.0", 12), ("192.168.0.0", 16))


def _ip_int(dotted: str) -> int:
    a, b, c, d = (int(x) for x in dotted.split("."))
    return (a << 24) | (b << 16) | (c << 8) | d


@register(
    "f20_ip_cidr",
    f"""
    WITH ips AS (
      SELECT ({H.hash64_sql('event_id', 13)}) % 4294967296 AS ip
      FROM events),
    tagged AS (
      SELECT ip,
             CASE
               WHEN ip >> 24 = {_ip_int(_CIDRS[0][0]) >> 24}
                 THEN '10.0.0.0/8'
               WHEN ip >> 20 = {_ip_int(_CIDRS[1][0]) >> 20}
                 THEN '172.16.0.0/12'
               WHEN ip >> 16 = {_ip_int(_CIDRS[2][0]) >> 16}
                 THEN '192.168.0.0/16'
               ELSE 'public'
             END AS subnet,
             ((ip >> 24) & 255) || '.' || ((ip >> 16) & 255) || '.'
               || ((ip >> 8) & 255) || '.' || (ip & 255) AS dotted
      FROM ips),
    rt AS (
      SELECT subnet,
             CAST(string_split(dotted, '.')[1] AS BIGINT) * 16777216
             + CAST(string_split(dotted, '.')[2] AS BIGINT) * 65536
             + CAST(string_split(dotted, '.')[3] AS BIGINT) * 256
             + CAST(string_split(dotted, '.')[4] AS BIGINT) AS back,
             ip
      FROM tagged)
    SELECT subnet, count(*) AS n,
           count(*) FILTER (WHERE back = ip) AS n_roundtrip_ok
    FROM rt GROUP BY subnet ORDER BY subnet
    """,
)
def f20_ip_cidr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP/CIDR analytics: classify addresses into RFC-1918 subnets by
    prefix shift-compare (membership in a /n block is one right-shift
    equality — no string matching), render dotted-quad, and prove the
    parse/format round trip en masse — the security/access-log
    enrichment layer a datalake ingesting service logs needs. Addresses
    derive deterministically from the event stream via the cross-engine
    hash family. Pure integer bit math; one aggregate; map-side
    combined."""
    ev = table(spark, sf_dir, "events")
    ip = (H.hash64(F.col("event_id"), 13) % 4294967296).alias("ip")
    ips = ev.select(ip)
    subnet = (
        F.when(
            F.shiftright(F.col("ip"), 32 - _CIDRS[0][1])
            == _ip_int(_CIDRS[0][0]) >> (32 - _CIDRS[0][1]),
            "10.0.0.0/8",
        )
        .when(
            F.shiftright(F.col("ip"), 32 - _CIDRS[1][1])
            == _ip_int(_CIDRS[1][0]) >> (32 - _CIDRS[1][1]),
            "172.16.0.0/12",
        )
        .when(
            F.shiftright(F.col("ip"), 32 - _CIDRS[2][1])
            == _ip_int(_CIDRS[2][0]) >> (32 - _CIDRS[2][1]),
            "192.168.0.0/16",
        )
        .otherwise("public")
    )
    octet = lambda s: (F.shiftright(F.col("ip"), s) % 256).cast("string")  # noqa: E731
    tagged = ips.select(
        "ip",
        subnet.alias("subnet"),
        # concat (not concat_ws): concat_ws SKIPS nulls and renders a
        # NULL ip as '' whose octet cast then throws under ANSI; concat
        # propagates NULL like the SQL || operator
        F.concat(
            octet(24),
            F.lit("."),
            octet(16),
            F.lit("."),
            octet(8),
            F.lit("."),
            (F.col("ip") % 256).cast("string"),
        ).alias("dotted"),
    )
    parts = F.split(F.col("dotted"), r"\.")
    back = (
        F.element_at(parts, 1).cast("bigint") * 16777216
        + F.element_at(parts, 2).cast("bigint") * 65536
        + F.element_at(parts, 3).cast("bigint") * 256
        + F.element_at(parts, 4).cast("bigint")
    )
    return (
        tagged.withColumn("back", back)
        .groupBy("subnet")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("back") == F.col("ip")).alias("n_roundtrip_ok"),
        )
        .orderBy("subnet")
    )


_DEGREE_DIST_SQL = (
    _near_pairs_cte()
    + """,
deg AS (
  SELECT id, count(*) AS degree FROM (
    SELECT a_id AS id FROM pairs UNION ALL SELECT b_id FROM pairs)
  GROUP BY id)
SELECT CAST(floor(log2(degree)) AS BIGINT) AS degree_bin,
       count(*) AS n_nodes,
       CAST(min(degree) AS BIGINT) AS min_degree,
       CAST(max(degree) AS BIGINT) AS max_degree
FROM deg GROUP BY degree_bin ORDER BY degree_bin
"""
)


@register("graph_degree_distribution", _DEGREE_DIST_SQL)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-binned degree distribution of the near-dup graph — the
    skew diagnostic read BEFORE running components/pagerank at fleet
    scale (a heavy-tailed bin histogram says 'salt the hubs or cap
    per-template fan-out'; dedup_cluster_sizes reports the aftermath,
    this predicts it from the edge list alone). Two grouped counts over
    the band-join pair output; log2 runs on small exact integers only."""
    docs = table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.1).select("a_id", "b_id").localCheckpoint()
    deg = (
        pairs.select(F.col("a_id").alias("id"))
        .unionAll(pairs.select(F.col("b_id").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.groupBy(
            F.floor(F.log2("degree")).cast("bigint").alias("degree_bin")
        )
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("degree").cast("bigint").alias("min_degree"),
            F.max("degree").cast("bigint").alias("max_degree"),
        )
        .orderBy("degree_bin")
    )


_AHASH_BLOCKS = 64
_AHASH_MAX_HAMMING = 6


def _ahash_duck(band_ctes: str, max_hamming: int) -> str:
    """The aHash pair oracle: the hash index ``h``, then ``band_ctes``
    (CTEs ending in ``cand(a_id, b_id)``), then the exact Hamming
    verify at ``max_hamming``."""
    block = (
        "('0x' || substring(md5(substring(t, "
        f"1 + CAST(floor(b * L / {_AHASH_BLOCKS}.0) AS INT), "
        f"CAST(greatest(floor(L / {_AHASH_BLOCKS}.0), 1) AS INT)"
        ")), 1, 2))::BIGINT"
    )
    return f"""
WITH src AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000,
         substring(text, 1, 9) || 'ZZZ' || substring(text, 13)
  FROM documents WHERE doc_id % 50 = 0 AND length(text) >= 12),
px AS (
  SELECT doc_id,
         [ {block} FOR b IN range({_AHASH_BLOCKS}) ] AS p
  FROM (SELECT doc_id, text AS t, greatest(length(text), 1) AS L
        FROM src)),
h AS (
  SELECT doc_id,
         list_sum([ CASE WHEN p[b + 1] * {_AHASH_BLOCKS} > list_sum(p)
                         THEN 1 << b ELSE 0 END
                    FOR b IN range({_AHASH_BLOCKS - 1}) ]) AS ahash
  FROM px),
{band_ctes}
ham AS (
  SELECT c.a_id, c.b_id,
         bit_count(xor(ha.ahash, hb.ahash)) AS hamming
  FROM cand c
  JOIN h ha ON ha.doc_id = c.a_id
  JOIN h hb ON hb.doc_id = c.b_id)
SELECT a_id, b_id, CAST(hamming AS BIGINT) AS hamming
FROM ham WHERE hamming <= {max_hamming}
"""


_AHASH_NARROW_CTES = """bands AS (
  SELECT doc_id, ahash, b AS band_idx, (ahash >> (b * 9)) & 511 AS band_val
  FROM h, (SELECT unnest(range(7)) AS b)),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.doc_id < b.doc_id),"""


def _ahash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ahash) for the perturbed-augmented document corpus —
    the shared index behind both aHash pair queries. localCheckpoint:
    the per-doc hash table is consumed multiple times (band explode +
    both verify sides); without the barrier, projection collapse
    inlines the 64-md5 block array into the per-bit lambda — O(blocks²)
    md5 per row per consumer (measured 48 s vs 4 s here). Materializing
    the (tiny) index is also what production does."""
    base = table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = (
        base.filter((F.col("doc_id") % 50 == 0) & (F.length("text") >= 12))
        .select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.concat(
                F.substring("text", 1, 9),
                F.lit("ZZZ"),
                F.expr("substring(text, 13)"),
            ).alias("text"),
        )
    )
    # r19 (guide §2.5): spread the single-split scan so the 64-md5 block
    # kernel (646k md5 at sf0.1) parallelizes instead of running on the
    # 1-2 union tasks
    docs = spread(base.unionByName(variants), "doc_id").select(
        "doc_id",
        F.col("text").alias("t"),
        F.greatest(F.length("text"), F.lit(1)).alias("L"),
    )
    block = (
        f"transform(sequence(0, {_AHASH_BLOCKS - 1}), b -> "
        "CAST(conv(substring(md5(substring(t, "
        f"1 + CAST(floor(b * L / {_AHASH_BLOCKS}.0) AS INT), "
        f"CAST(greatest(floor(L / {_AHASH_BLOCKS}.0), 1) AS INT)"
        ")), 1, 2), 16, 10) AS BIGINT))"
    )
    # r20: LAZY checkpoints (here and on the final rows below) — the
    # plan barrier is what matters (projection-collapse O(len²) md5,
    # see the verify-skill gotcha) and it holds at plan level either
    # way; eager=True ran two serialized driver-synchronous jobs per
    # pass. Same-session A/B: multimodal_ahash_pairs 1.70 → 1.45 s.
    px = docs.select("doc_id", F.expr(block).alias("p")).localCheckpoint(
        eager=False
    )
    return px.select(
        "doc_id",
        F.expr("aggregate(p, CAST(0 AS BIGINT), (a, x) -> a + x)").alias(
            "psum"
        ),
        "p",
    ).select(
        "doc_id",
        F.expr(
            f"aggregate(sequence(0, {_AHASH_BLOCKS - 2}), CAST(0 AS BIGINT), "
            f"(acc, b) -> acc + CASE WHEN element_at(p, b + 1) * {_AHASH_BLOCKS} "
            "> psum THEN shiftleft(CAST(1 AS BIGINT), b) "
            "ELSE CAST(0 AS BIGINT) END)"
        ).alias("ahash"),
        # r19 second barrier (guide §1.2): the FINAL (doc_id, ahash) rows
        # are what the three consumers (band explode + both verify sides)
        # actually read — without this, the per-bit vote aggregate re-ran
        # per consumer on top of the px checkpoint. Skinny table (~16 B/row);
        # measured multimodal_ahash_pairs fresh 4.4 s → 1.7 s, hash-identical.
        # r20: lazy (see the px checkpoint note above).
    ).localCheckpoint(eager=False)


def _hamming_verify(cand: DataFrame, h: DataFrame, max_hamming: int) -> DataFrame:
    """(a_id, b_id, hamming) of the candidate pairs whose hashes in
    ``h`` differ in at most ``max_hamming`` bits."""
    ha = h.select(F.col("doc_id").alias("a_id"), F.col("ahash").alias("h_a"))
    hb = h.select(F.col("doc_id").alias("b_id"), F.col("ahash").alias("h_b"))
    return (
        cand.join(ha, "a_id")
        .join(hb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
            .cast("bigint")
            .alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


@register("multimodal_ahash_pairs", _ahash_duck(_AHASH_NARROW_CTES, _AHASH_MAX_HAMMING))
def multimodal_ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash near-dup pairs for binary assets: the
    payload is tiled into 64 length-proportional blocks (the 8×8 resize
    analogue), each block reduced to one 8-bit intensity (digest stub —
    PIL absent from the container; with it, the block reduction becomes
    a real luma downsample and NOTHING else changes), bits set by
    compare-to-mean (the aHash construction), and near-duplicates found
    by 9-bit pigeonhole band join + exact Hamming verify — image dedup
    joining the text (simhash) and embedding (cosine) families. 7 bands
    over 63 bits GUARANTEE recall at Hamming ≤ 6 (pigeonhole: some band
    is untouched); candidates are an equi-join, never all-pairs. The
    corpus is augmented with deterministic same-length perturbed copies
    (every 50th doc, 3 chars overwritten) so the pair channel is
    exercised end-to-end. Codegen'd column math throughout — one md5
    per block, integer bit ops, no Python.

    Banding vs scale: 9-bit bands collide ~N²/512 candidate pairs per
    band on random hashes, so the candidate set GROWS QUADRATICALLY
    with corpus size. The candidate join is therefore left unhinted —
    AQE broadcasts it only when it actually fits (a forced broadcast
    here OOMs the driver on a pathological corpus). At 100 TB, keep
    the pigeonhole guarantee but shrink collisions: wider bands with
    multi-probe (e.g. 4×16-bit bands probed at Hamming ≤ 1 per band
    guarantee overall Hamming ≤ 7), or a two-level (band, prefix)
    scheme — ``multimodal_ahash_pairs_wide`` is the registered
    wide-band variant and the PRODUCTION DEFAULT.

    Crossover (when to switch): narrow pays ~7·N²/2/2⁹ random band
    collisions for a cheap ×7 index explode; wide pays a fixed ×66
    index explode (3 bands × 22 Hamming≤1 probes) for only
    ~22·N²/2/2²¹ collisions — ~186× fewer. Both collision terms are
    quadratic, so the decision is narrow's extra collisions vs wide's
    extra ~59·N index rows: (7/2⁹ − 22/2²¹)·N²/2 > 59·N at
    N ≳ 9·10³ distinct hashes. I.e. narrow wins only on toy corpora
    (< ~10⁴ assets, where everything fits anyway); at any production
    corpus size — let alone 100 TB — use the wide variant."""
    h = _ahash_table(spark, sf_dir)
    cand = D.band_pairs(
        h,
        "doc_id",
        F.expr(
            "transform(sequence(0, 6), b -> "
            "shiftleft(CAST(b AS BIGINT), 9) | (shiftright(ahash, b * 9) & 511))"
        ),
    )
    # cand is corpus-derived (quadratic-in-N band collisions) — no
    # broadcast hint; AQE converts to broadcast at runtime iff it fits
    return _hamming_verify(cand, h, _AHASH_MAX_HAMMING)


_AHASH_WIDE_BITS = 21  # 3 bands × 21 bits cover the 63-bit hash
_AHASH_WIDE_BANDS = 3
_AHASH_WIDE_MAX_HAMMING = 5  # 3 bands × (1 probe flip + 1) - 1


_AHASH_WIDE_CTES = f"""idx AS (
  SELECT doc_id, b AS band_idx,
         (ahash >> (b * {_AHASH_WIDE_BITS})) & {(1 << _AHASH_WIDE_BITS) - 1} AS band_val
  FROM h, (SELECT unnest(range({_AHASH_WIDE_BANDS})) AS b)),
probe AS (
  SELECT doc_id, band_idx,
         CASE WHEN j < 0 THEN band_val ELSE xor(band_val, 1 << j) END
           AS probe_val
  FROM idx, (SELECT unnest(range(-1, {_AHASH_WIDE_BITS})) AS j)),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM probe a JOIN idx b
    ON a.band_idx = b.band_idx AND a.probe_val = b.band_val
   AND a.doc_id < b.doc_id),"""


@register("multimodal_ahash_pairs_wide", _ahash_duck(_AHASH_WIDE_CTES, _AHASH_WIDE_MAX_HAMMING))
def multimodal_ahash_pairs_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-posture aHash near-dup join: WIDE bands + multi-probe,
    trading a slightly tighter guarantee for ~200× fewer band
    collisions. 3 bands of 21 bits tile the 63-bit hash; the probe side
    emits each band value plus its 21 single-bit flips (22 keys/band),
    so a pair is found iff some band differs in ≤ 1 bit — by pigeonhole
    every pair with total Hamming ≤ 5 is guaranteed (6+ could spread 2
    flips into every band). Expected random collisions fall from
    ~N²/2⁹ per band (the 9-bit scheme in ``multimodal_ahash_pairs``) to
    ~22·N²/2²¹ — the candidate set stays join-shaped at corpus sizes
    where narrow bands go quadratic. Probe fan-out is a fixed ×66
    explode of the TINY hash index, never of payloads; the verify join
    is unhinted (AQE broadcasts iff it fits)."""
    h = _ahash_table(spark, sf_dir)
    w, nb = _AHASH_WIDE_BITS, _AHASH_WIDE_BANDS
    idx = h.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("band_idx"),
        "ahash",
    ).select(
        "doc_id",
        "band_idx",
        F.expr(f"shiftright(ahash, band_idx * {w}) % {1 << w}").alias(
            "band_val"
        ),
    )
    probe = idx.select(
        F.col("doc_id").alias("a_id"),
        "band_idx",
        F.explode(
            F.expr(
                f"array_union(array(band_val), transform(sequence(0, {w - 1}), "
                "j -> CAST(band_val ^ shiftleft(1, j) AS BIGINT)))"
            )
        ).alias("probe_val"),
    )
    cand = (
        probe.join(
            idx.select(
                F.col("doc_id").alias("b_id"),
                "band_idx",
                F.col("band_val").alias("probe_val"),
            ),
            ["band_idx", "probe_val"],
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .select("a_id", "b_id")
        .dropDuplicates(["a_id", "b_id"])
    )
    return _hamming_verify(cand, h, _AHASH_WIDE_MAX_HAMMING)


def _soundex_sql(name_expr: str) -> str:
    """American-Soundex-style code as ONE shared SQL expression evaluated
    identically by Spark and DuckDB (neither dialect's builtin is used:
    DuckDB has none, and sharing the text guarantees bit-equality).
    H/W adjacency is simplified to vowel treatment — a deterministic,
    documented variant; blocking only needs both engines to agree."""
    letters = f"regexp_replace(upper({name_expr}), '[^A-Z]', '')"
    coded = letters
    mapping = {
        "1": "BFPV",
        "2": "CGJKQSXZ",
        "3": "DT",
        "4": "L",
        "5": "MN",
        "6": "R",
        "0": "AEIOUYHW",
    }
    for digit, chars in mapping.items():
        for ch in chars:
            coded = f"replace({coded}, '{ch}', '{digit}')"
    for _ in range(4):  # collapse runs up to length 16
        for d in "123456":
            coded = f"replace({coded}, '{d}{d}', '{d}')"
    coded = f"replace({coded}, '0', '')"
    return (
        f"(substring({letters}, 1, 1) || "
        f"rpad(substring({coded}, 2, 3), 3, '0'))"
    )


_ER_SDX = _soundex_sql("nm")


@register(
    "er_fuzzy_match",
    f"""
    WITH clean AS (
      SELECT p_partkey AS id, p_name AS nm, 'master' AS side FROM part),
    dirty AS (
      SELECT p_partkey + 1000000 AS id,
             substring(p_name, 1, 3) || 'a' || substring(p_name, 4) AS nm,
             'feed' AS side
      FROM part WHERE p_partkey % 20 = 0),
    allr AS (SELECT * FROM clean UNION ALL SELECT * FROM dirty),
    keyed AS (SELECT id, nm, side, {_ER_SDX} AS sdx FROM allr),
    cand AS (
      SELECT m.id AS master_id, f.id AS feed_id, m.nm AS master_nm,
             f.nm AS feed_nm
      FROM keyed m JOIN keyed f
        ON m.sdx = f.sdx AND m.side = 'master' AND f.side = 'feed'),
    verified AS (
      SELECT master_id, feed_id,
             CAST(levenshtein(master_nm, feed_nm) AS BIGINT) AS lev
      FROM cand)
    SELECT master_id, feed_id, lev
    FROM verified WHERE lev <= 2
    """,
)
def er_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage: match a dirty feed (part
    names with a deterministic typo — a vowel inserted at position 4)
    back to the master by BLOCKING on a phonetic soundex key and
    verifying candidates with bounded Levenshtein — the MDM dedup
    pattern that never compares all pairs: the quadratic step runs only
    within phonetic blocks (an equi-join on the code), and the O(n·m)
    edit-distance DP touches candidates alone. The soundex is one
    shared SQL expression both engines evaluate identically (a vowel
    inserted between different-code letters preserves the key, so this
    perturbation family blocks correctly; same-code neighbors would
    need a second blocking pass, as production linkage runs do). At
    100 TB: blocking key = shuffle key; hot blocks salt like any
    skewed join."""
    part = table(spark, sf_dir, "part")
    clean = part.select(
        F.col("p_partkey").alias("id"),
        F.col("p_name").alias("nm"),
        F.lit("master").alias("side"),
    )
    dirty = part.filter(F.col("p_partkey") % 20 == 0).select(
        (F.col("p_partkey") + 1000000).alias("id"),
        F.concat(
            F.substring("p_name", 1, 3),
            F.lit("a"),
            F.expr("substring(p_name, 4)"),
        ).alias("nm"),
        F.lit("feed").alias("side"),
    )
    keyed = clean.unionByName(dirty).withColumn("sdx", F.expr(_ER_SDX))
    m = keyed.filter(F.col("side") == "master").select(
        F.col("id").alias("master_id"),
        F.col("nm").alias("master_nm"),
        "sdx",
    )
    f_ = keyed.filter(F.col("side") == "feed").select(
        F.col("id").alias("feed_id"), F.col("nm").alias("feed_nm"), "sdx"
    )
    return (
        m.join(F.broadcast(f_), "sdx")
        .select(
            "master_id",
            "feed_id",
            F.levenshtein("master_nm", "feed_nm").cast("bigint").alias("lev"),
        )
        .filter(F.col("lev") <= 2)
    )


@register(
    "a24_seq_motifs",
    """
    WITH s AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE user_id < 100),
    tri AS (
      SELECT user_id,
             event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS motif
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST))
    SELECT motif, n, rank FROM (
      SELECT motif, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, motif) AS rank
      FROM tri WHERE motif IS NOT NULL
      GROUP BY motif)
    WHERE rank <= 10
    """,
)
def a24_seq_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent behavioral 3-motifs: the top event-type trigrams across
    user streams (two stacked leads over ONE per-user window — the
    sequence-mining upgrade of seq_transitions' bigrams; the journeys
    that dominate tell you what to optimize or what a bot loop looks
    like). The window shuffles once by user; the motif count is
    map-side-combinable; top-10 is TakeOrdered. NULL-tailed partials
    (streams shorter than 3) drop before counting."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # null-PROPAGATING concat (SQL || semantics): a trigram with any
    # null element — stream tail OR null event_type — is no motif.
    # concat_ws would silently splice "a>b" out of (a, NULL, b) (r16).
    tri = ev.select(
        F.concat(
            "event_type",
            F.lit(">"),
            F.lead("event_type", 1).over(w),
            F.lit(">"),
            F.lead("event_type", 2).over(w),
        ).alias("motif"),
    ).filter(F.col("motif").isNotNull())
    counts = tri.groupBy("motif").agg(F.count("*").alias("n"))
    return (
        counts.orderBy(F.col("n").desc(), "motif")
        .limit(10)
        .select(
            "motif",
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "motif"))
            .alias("rank"),
        )
    )


_TRACK_N = 200
_TRACK_STEP = 10


@register(
    "geo_track_resample",
    f"""
    WITH pts AS (
      SELECT i // {_TRACK_N} AS track_id,
             (i % {_TRACK_N}) * 7 + (i % {_TRACK_N}) * 13 % 5 AS t,
             (i % {_TRACK_N}) * 31 % 1000 AS x,
             (i % {_TRACK_N}) * 57 % 1000 AS y
      FROM (SELECT unnest(generate_series(0, {5 * _TRACK_N - 1})) AS i)),
    seg AS (
      SELECT track_id, t AS t0, x AS x0, y AS y0,
             lead(t) OVER w AS t1, lead(x) OVER w AS x1,
             lead(y) OVER w AS y1
      FROM pts WINDOW w AS (PARTITION BY track_id ORDER BY t)),
    tgt AS (
      SELECT track_id, g.k * {_TRACK_STEP} AS tt
      FROM (SELECT DISTINCT track_id FROM pts),
           (SELECT unnest(generate_series(0, {_TRACK_N * 7 // _TRACK_STEP}))
              AS k) g),
    j AS (
      SELECT s.track_id, g.tt,
             CAST(floor((CAST(s.x0 AS DOUBLE) * (s.t1 - s.t0)
                         + (s.x1 - s.x0) * (g.tt - s.t0))
                        * 1e6 / (s.t1 - s.t0)) AS BIGINT) AS x_micro,
             CAST(floor((CAST(s.y0 AS DOUBLE) * (s.t1 - s.t0)
                         + (s.y1 - s.y0) * (g.tt - s.t0))
                        * 1e6 / (s.t1 - s.t0)) AS BIGINT) AS y_micro
      FROM seg s JOIN tgt g
        ON g.track_id = s.track_id AND g.tt >= s.t0 AND g.tt < s.t1
      WHERE s.t1 IS NOT NULL AND s.t1 > s.t0)
    SELECT track_id, tt, x_micro, y_micro FROM j
    """,
)
def geo_track_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trajectory resampling: linearly interpolate each GPS track onto a
    fixed time grid (the normalization every fleet/mobility pipeline
    runs before map-matching or stay-point detection — irregular pings
    become comparable fixed-step positions). Segments come from one
    lead window per track; each grid instant joins its bracketing
    segment and interpolates with exact integer-rational arithmetic,
    floored to micro units. The bracketing join is per-track with a
    bounded time predicate — at 100 TB it stacks on the
    j_range_bucketed time-cell rewrite so the planner gets an
    equi-join, and the grid side is generated, never stored."""
    pts = spark.range(5 * _TRACK_N).select(
        (F.col("id") / _TRACK_N).cast("bigint").alias("track_id"),
        (
            (F.col("id") % _TRACK_N) * 7 + ((F.col("id") % _TRACK_N) * 13) % 5
        ).alias("t"),
        ((F.col("id") % _TRACK_N) * 31 % 1000).alias("x"),
        ((F.col("id") % _TRACK_N) * 57 % 1000).alias("y"),
    )
    w = Window.partitionBy("track_id").orderBy("t")
    seg = pts.select(
        "track_id",
        F.col("t").alias("t0"),
        F.col("x").alias("x0"),
        F.col("y").alias("y0"),
        F.lead("t").over(w).alias("t1"),
        F.lead("x").over(w).alias("x1"),
        F.lead("y").over(w).alias("y1"),
    ).filter(F.col("t1").isNotNull() & (F.col("t1") > F.col("t0")))
    tgt = (
        pts.select("track_id")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(_TRACK_N * 7 // _TRACK_STEP + 1).select(
                    (F.col("id") * _TRACK_STEP).alias("tt")
                )
            )
        )
    )
    j = seg.join(
        F.broadcast(tgt),
        (F.col("tt") >= F.col("t0"))
        & (F.col("tt") < F.col("t1"))
        & (seg.track_id == tgt.track_id),
    )

    def interp(c0, c1):
        return (
            F.floor(
                (
                    F.col(c0).cast("double") * (F.col("t1") - F.col("t0"))
                    + (F.col(c1) - F.col(c0)) * (F.col("tt") - F.col("t0"))
                )
                * 1e6
                / (F.col("t1") - F.col("t0"))
            )
            .cast("bigint")
        )

    return j.select(
        seg.track_id.alias("track_id"),
        "tt",
        interp("x0", "x1").alias("x_micro"),
        interp("y0", "y1").alias("y_micro"),
    )


_DOC_CONTRACT = [
    ("doc_id", "bigint"),
    ("text", "string"),
    ("lang", "string"),
    ("source", "string"),
    ("n_chars", "bigint"),
    ("embedding_dim", "int"),  # deliberately absent: contract violation
]

_CONTRACT_SQL = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS col_name, '{t}' AS expected_type, "
    + (
        f"'{t}' AS actual_type, true AS ok"
        if c != "embedding_dim"
        else "'<missing>' AS actual_type, false AS ok"
    )
    for c, t in _DOC_CONTRACT
)


@register("dq_schema_contract", _CONTRACT_SQL + "\nORDER BY col_name")
def dq_schema_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-contract gate: assert a dataset's ACTUAL parquet schema
    against the declared contract column-by-column (name + Spark type),
    reporting per-column verdicts — the producer/consumer handshake
    that catches upstream type drift (int→bigint widenings, dropped
    columns) BEFORE a 100 TB backfill bakes it in. One deliberately
    missing contract column ('embedding_dim') exercises the violation
    path; the oracle pins the expected verdict table. Schema comes from
    file-footer metadata only — zero data rows are read."""
    actual = {
        f.name: f.dataType.simpleString()
        for f in spark.read.parquet(
            os.path.join(sf_dir, "documents.parquet")
        ).schema.fields
    }
    rows = [
        (
            c,
            t,
            actual.get(c, "<missing>"),
            actual.get(c) == t,
        )
        for c, t in _DOC_CONTRACT
    ]
    return local_frame(
        spark,
        rows,
        "col_name string, expected_type string, actual_type string, ok boolean",
    ).orderBy("col_name")


@register(
    "j_shuffle_hash_hint",
    f"""
    SELECT p.p_brand, count(*) AS n, {dsum_sql('l.l_extendedprice')} AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def j_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHUFFLE_HASH-hinted fact join: when the build side fits one
    partition's memory but not a broadcast, a shuffled hash join beats
    sort-merge by skipping BOTH sort passes entirely — the right
    physical strategy for medium-dimension × huge-fact at 100 TB where
    broadcast is too big and SMJ pays two O(n log n) sorts plus spill.
    The hint pins the strategy (audited: ShuffledHashJoin, no Sort
    above the scans); results are identical to the plain join, so the
    plain SQL is the oracle. Decimal partials keep the revenue sum
    order-independent across the hash partitioning."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice"
    )
    part = table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = li.join(part.hint("SHUFFLE_HASH"), "l_partkey")
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n"),
        dsum(F.col("l_extendedprice")).alias("revenue"),
    )


_KNN_HELDOUT = (400, 450)
_KNN_K = 5


_KNN_SQL = f"""
WITH tr AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ve, label
  FROM embeddings
  WHERE (vec_id < {_KNN_HELDOUT[0]} OR vec_id >= {_KNN_HELDOUT[1]})
    AND embedding IS NOT NULL),
q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe,
         label AS true_label
  FROM embeddings
  WHERE vec_id >= {_KNN_HELDOUT[0]} AND vec_id < {_KNN_HELDOUT[1]}
    AND embedding IS NOT NULL),
nn AS (
  SELECT q_id, true_label, label AS n_label FROM (
    SELECT q.q_id, q.true_label, tr.label,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({V.cosine_sql('tr.ve', 'q.qe')}, 6) DESC,
                      tr.vec_id) AS rank
    FROM tr CROSS JOIN q) WHERE rank <= {_KNN_K}),
votes AS (
  SELECT q_id, true_label, n_label, count(*) AS votes
  FROM nn GROUP BY q_id, true_label, n_label),
pred AS (
  SELECT q_id, true_label, n_label AS pred_label FROM (
    SELECT q_id, true_label, n_label, votes,
           row_number() OVER (PARTITION BY q_id
             ORDER BY votes DESC, n_label NULLS FIRST) AS r
    FROM votes) WHERE r = 1)
SELECT true_label, count(*) AS n,
       count(*) FILTER (WHERE pred_label = true_label) AS n_correct,
       CAST(floor(count(*) FILTER (WHERE pred_label = true_label)
                  * 1000000.0 / count(*)) AS BIGINT) AS acc_micro
FROM pred GROUP BY true_label
"""


@register("ml_knn_classifier", _KNN_SQL)
def ml_knn_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification accuracy on the embedding table: hold out a
    50-vector slice, predict each held-out label by majority vote of
    its 5 nearest training neighbors (cosine; ties → more votes, then
    smaller label), and report per-class accuracy — the standard
    embedding-quality probe (a space where k-NN can't classify won't
    retrieve either; complements recall/NDCG which grade ranking, not
    label structure). Queries broadcast over the training scan; one
    ranking window + one vote argmax window per query; accuracies are
    floored micro rationals. Search-corpus null contract (r16):
    non-null id + vector; a null LABEL may still vote (and a null
    prediction is simply never correct) — identical on both engines."""
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select(
            "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("ve"), "label"
        )
    )
    lo, hi = _KNN_HELDOUT
    # r19 (guide §2.5): spread the training-side scan — 97.5k interpreted
    # cosine folds serialized on the single-split embeddings scan
    tr = spread(emb.filter((F.col("vec_id") < lo) | (F.col("vec_id") >= hi)), "vec_id")
    q = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).select(
        F.col("vec_id").alias("q_id"),
        F.col("ve").alias("qe"),
        F.col("label").alias("true_label"),
    )
    nn = (
        tr.crossJoin(F.broadcast(q))
        .select(
            "q_id",
            "true_label",
            F.col("label").alias("n_label"),
            "vec_id",
            F.round(V.cosine(F.col("ve"), F.col("qe")), 6).alias("cos"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("cos").desc(), "vec_id"
                )
            ),
        )
        .filter(F.col("rank") <= _KNN_K)
    )
    votes = nn.groupBy("q_id", "true_label", "n_label").agg(
        F.count("*").alias("votes")
    )
    pred = (
        votes.withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.col("votes").desc(), "n_label"
                )
            ),
        )
        .filter(F.col("r") == 1)
        .select("q_id", "true_label", F.col("n_label").alias("pred_label"))
    )
    correct = F.col("pred_label") == F.col("true_label")
    return pred.groupBy("true_label").agg(
        F.count("*").alias("n"),
        F.count_if(correct).alias("n_correct"),
        F.floor(F.count_if(correct) * 1000000.0 / F.count("*"))
        .cast("bigint")
        .alias("acc_micro"),
    )


@register(
    "dq_quarantine_reasons",
    """
    WITH feed AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      UNION ALL
      SELECT o_orderkey + 10000000, -o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 97 = 0
      UNION ALL
      SELECT o_orderkey + 20000000, o_totalprice, 'X'
      FROM orders WHERE o_orderkey % 89 = 0),
    checked AS (
      SELECT o_orderkey,
             list_filter([
               CASE WHEN o_totalprice <= 0 THEN 'nonpositive_price' END,
               CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 'invalid_status' END,
               CASE WHEN o_orderkey >= 10000000 THEN 'synthetic_id_range' END
             ], r -> r IS NOT NULL) AS reasons
      FROM feed),
    bad AS (
      SELECT o_orderkey, unnest(reasons) AS reason
      FROM checked WHERE len(reasons) > 0)
    SELECT reason, count(*) AS n,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM bad GROUP BY reason ORDER BY reason
    """,
)
def dq_quarantine_reasons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level quarantine with reason codes: every incoming row is
    checked against the full rule set at once (an ARRAY of fired rules,
    not first-failure — triage needs to know ALL reasons), violating
    rows explode into a (row, reason) quarantine feed, and the report
    aggregates per reason with key ranges for debugging — the row
    detail layer under dq_constraints' table-level gate and
    catalog_wap_publish's batch gate. Dirty rows are seeded
    deterministically (negated prices, invalid status). One pass, one
    explode, one aggregate at any scale."""
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    feed = (
        o.unionByName(
            o.filter(F.col("o_orderkey") % 97 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("o_orderkey"),
                (-F.col("o_totalprice")).alias("o_totalprice"),
                "o_orderstatus",
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 89 == 0).select(
                (F.col("o_orderkey") + 20000000).alias("o_orderkey"),
                "o_totalprice",
                F.lit("X").alias("o_orderstatus"),
            )
        )
    )
    reasons = F.filter(
        F.array(
            F.when(F.col("o_totalprice") <= 0, "nonpositive_price"),
            F.when(
                ~F.col("o_orderstatus").isin("F", "O", "P"), "invalid_status"
            ),
            F.when(F.col("o_orderkey") >= 10000000, "synthetic_id_range"),
        ),
        lambda r: r.isNotNull(),
    )
    checked = feed.select("o_orderkey", reasons.alias("reasons"))
    bad = checked.filter(F.size("reasons") > 0).select(
        "o_orderkey", F.explode("reasons").alias("reason")
    )
    return (
        bad.groupBy("reason")
        .agg(
            F.count("*").alias("n"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("reason")
    )
