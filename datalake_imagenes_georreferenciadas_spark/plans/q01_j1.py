"""Registry segment 01 (mechanical split of plans/queries.py, r17).

- J1 — flagship + join variants (SURVEY §2.3)
- P — projections / filters (SURVEY §2.2)
- A — aggregations (SURVEY §2.4)
- W / S — windows, sorts, top-k (SURVEY §2.5/§2.6)
- SET — set operations (SURVEY §2.7)
- F — scalar functions (SURVEY §2.8)
- F17 / ANN — vector similarity (SURVEY F17, north star)
- DEDUP — exact + near (SURVEY A3/A5, north star)
- TEXT — analysis functions (SURVEY F16, north star)

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    D,
    DataFrame,
    F,
    FLAGSHIP_ORACLE_SQL,
    H,
    SIM,
    SparkSession,
    TX,
    V,
    Window,
    _dsum,
    _dsum_sql,
    argmin_per_group,
    catalog_filtered_join,
    composite_key,
    parse_model_filename,
    path_parts,
    register,
    spread,
    table,
    topk_per_group,
)

# ======================================================================
# J1 — flagship + join variants (SURVEY §2.3)
# ======================================================================

register("catalog_filtered_join", FLAGSHIP_ORACLE_SQL)(catalog_filtered_join)


@register(
    "j1_semi_join",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def j1_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi = EXISTS (SURVEY §2.3 EXT; incremental-ingest shape)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "j1_anti_join",
    """
    SELECT c.c_custkey, c.c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def j1_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_anti = NOT EXISTS — the 'new files only' ingest guard."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "p7_left_join_null_guard",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           coalesce(p.p_brand, 'IMAGEN NO CLASIFICABLE') AS brand
    FROM lineitem l
    LEFT JOIN (SELECT * FROM part WHERE p_size >= 40) p
      ON l.l_partkey = p.p_partkey
    """,
)
def p7_left_join_null_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: the unclassifiable branch as left-join + coalesce (§2.11 bug 2
    intent — script_geo.py:198-202)."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_size") >= 40)
    # part is linear-in-SF — unhinted; size stats broadcast while it fits
    return li.join(part, li.l_partkey == part.p_partkey, "left").select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.col("p_brand"), F.lit("IMAGEN NO CLASIFICABLE")).alias("brand"),
    )


# ======================================================================
# P — projections / filters (SURVEY §2.2)
# ======================================================================


@register(
    "p1_projection_filter",
    "SELECT n_nationkey, n_name FROM nation WHERE n_regionkey = 2",
)
def p1_projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: property projection (script_geo.py:75) — pruned scan + filter."""
    return (
        table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey") == 2)
        .select("n_nationkey", "n_name")
    )


@register(
    "p2_filename_parse",
    """
    WITH named AS (
      SELECT doc_id,
             source || '_' || lang || '_E' || (doc_id % 5)::VARCHAR
                    || '_A' || (doc_id % 3)::VARCHAR || '_grilla.tif' AS name
      FROM documents
    ), stems AS (
      SELECT doc_id,
             string_split(regexp_replace(regexp_replace(name, '\\.[^.]*$', ''),
                                         '(_grilla|_etiquetas|_rodal)$', ''), '_') AS parts
      FROM named
    )
    SELECT doc_id, parts[1] AS codigo, parts[2] AS seccion,
           parts[3] AS especie, parts[4] AS apl
    FROM stems
    """,
)
def p2_filename_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: CODIGO_SECCION_ESPECIE_APL[_suffix].ext codec
    (download_list_images.py:92-99)."""
    docs = table(spark, sf_dir, "documents")
    named = docs.withColumn(
        "name",
        F.concat(
            F.col("source"),
            F.lit("_"),
            F.col("lang"),
            F.lit("_E"),
            (F.col("doc_id") % 5).cast("string"),
            F.lit("_A"),
            (F.col("doc_id") % 3).cast("string"),
            F.lit("_grilla.tif"),
        ),
    )
    parsed = named.withColumn("p", parse_model_filename(F.col("name")))
    return parsed.select(
        "doc_id",
        F.col("p.codigo").alias("codigo"),
        F.col("p.seccion").alias("seccion"),
        F.col("p.especie").alias("especie"),
        F.col("p.apl").alias("apl"),
    )


@register(
    "p3_composite_key",
    """
    SELECT c_custkey,
           concat_ws('_', c_custkey::VARCHAR, c_mktsegment, c_nationkey::VARCHAR) AS indice
    FROM customer
    """,
)
def p3_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: INDICE composite business key (script_geo.py:197)."""
    return table(spark, sf_dir, "customer").select(
        "c_custkey",
        composite_key("c_custkey", "c_mktsegment", "c_nationkey").alias("indice"),
    )


@register(
    "p4_path_parse",
    """
    WITH paths AS (
      SELECT doc_id, 'lake/' || source || '/' || doc_id::VARCHAR || '.txt' AS path
      FROM documents
    ), parts AS (SELECT doc_id, string_split(path, '/') AS p FROM paths)
    SELECT doc_id, p[-1] AS filename, p[-2] AS parent, p[1] AS root FROM parts
    """,
)
def p4_path_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: RUTA_RESULTADO path part recovery (download_list_images.py:59-64)."""
    docs = table(spark, sf_dir, "documents").withColumn(
        "path",
        F.concat(F.lit("lake/"), F.col("source"), F.lit("/"), F.col("doc_id").cast("string"), F.lit(".txt")),
    )
    parsed = docs.withColumn("pp", path_parts(F.col("path")))
    return parsed.select(
        "doc_id",
        F.col("pp.filename").alias("filename"),
        F.col("pp.parent").alias("parent"),
        F.col("pp.root").alias("root"),
    )


@register(
    "p5_filter_in_conj",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    WHERE l_returnflag IN ('A', 'N') AND l_quantity >= 30
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    """,
)
def p5_filter_in_conj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: IN + conjunctive predicate (mysql_process.py:72-74); all three
    predicates push into the parquet scan."""
    return (
        table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_returnflag").isin("A", "N")
            & (F.col("l_quantity") >= 30)
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_linenumber", "l_quantity")
    )


@register(
    "p6_type_dispatch",
    """
    SELECT event_id,
           CASE WHEN event_type = 'error' THEN 'BR'
                WHEN event_type = 'purchase' THEN 'TIF' ELSE 'OTRO' END AS clase,
           CASE WHEN event_type = 'error' THEN 0
                WHEN event_type = 'purchase' THEN 3 ELSE 10 END AS tipo_img
    FROM events
    """,
)
def p6_type_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: BR/TIF dispatch as expressions, not exceptions
    (script_geo.py:167-175)."""
    ev = table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.when(F.col("event_type") == "error", "BR")
        .when(F.col("event_type") == "purchase", "TIF")
        .otherwise("OTRO")
        .alias("clase"),
        F.when(F.col("event_type") == "error", 0)
        .when(F.col("event_type") == "purchase", 3)
        .otherwise(10)
        .alias("tipo_img"),
    )


# ======================================================================
# A — aggregations (SURVEY §2.4)
# ======================================================================


@register("a1_max_id", "SELECT max(o_orderkey) AS last_id FROM orders")
def a1_max_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the AUTO_INCREMENT peek as a one-row aggregate
    (mysql_process.py:13-25)."""
    return table(spark, sf_dir, "orders").agg(F.max("o_orderkey").alias("last_id"))


@register(
    "a2_argmin_per_group",
    """
    SELECT c_nationkey, c_custkey AS min_cust, round(c_acctbal, 2) AS min_acctbal
    FROM customer
    QUALIFY row_number() OVER (PARTITION BY c_nationkey
             ORDER BY c_acctbal NULLS FIRST, c_custkey NULLS FIRST) = 1
    """,
)
def a2_argmin_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: min_by argmin with deterministic ties (the reference's running
    compare, script_geo.py:117-125)."""
    cust = table(spark, sf_dir, "customer")
    win = argmin_per_group(
        cust,
        ["c_nationkey"],
        F.struct(F.col("c_acctbal"), F.col("c_custkey")),
        ["c_custkey", "c_acctbal"],
    )
    return win.select(
        "c_nationkey",
        F.col("c_custkey").alias("min_cust"),
        F.round("c_acctbal", 2).alias("min_acctbal"),
    )


@register(
    "a3_first_seen_dedup",
    "SELECT lang, min(doc_id) AS first_doc, count(*) AS n FROM documents GROUP BY lang",
)
def a3_first_seen_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: ordered-distinct intent (script_geo.py:71-77): deterministic
    first representative per key."""
    return (
        table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.min("doc_id").alias("first_doc"), F.count("*").alias("n"))
    )


@register(
    "a4_group_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           {_dsum_sql('l_quantity')} AS sum_qty,
           {_dsum_sql('l_extendedprice')} AS sum_base_price,
           {_dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a4_group_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: TPC-H-Q1-shaped grouped aggregate — partial (map-side) aggs, one
    shuffle on the group keys; decimal partials for cross-engine exactness."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dsum(F.col("l_quantity")).alias("sum_qty"),
        _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        _dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("sum_disc_price"),
        F.count("*").alias("count_order"),
    )


@register(
    "a4_rollup",
    f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n, {_dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def a4_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: rollup (subtotals + grand total)."""
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@register(
    "a4_cube",
    f"""
    SELECT l_returnflag, l_linestatus, count(*) AS n, {_dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a4_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: cube (all grouping-set combinations)."""
    return (
        table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dsum(F.col("l_quantity")).alias("sum_qty"))
    )


@register(
    "a4_count_distinct",
    """
    SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a4_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: exact distinct counts (approx_count_distinct is the 100 TB
    variant — same plan shape, sketch aggregation)."""
    return (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
        )
    )


# ======================================================================
# W / S — windows, sorts, top-k (SURVEY §2.5/§2.6)
# ======================================================================


@register(
    "w1_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def w1_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — the J3 top-1-per-group plan generalized."""
    orders = table(spark, sf_dir, "orders")
    top = topk_per_group(
        orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3
    )
    return top.select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("price"), "rn"
    )


@register(
    "w2_running_sum",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                  ROWS UNBOUNDED PRECEDING), 2) AS running
    FROM events
    """,
)
def w2_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window (frame-ordered fold — same order both
    engines)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 2).alias("running")
    )


@register(
    "w3_lag_lead",
    """
    SELECT event_id, user_id,
           round(value - coalesce(lag(value) OVER
                 (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST), 0.0), 2) AS delta,
           coalesce(lead(event_id) OVER
                 (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST), -1) AS next_event
    FROM events
    """,
)
def w3_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead windows (session ordering surface, SURVEY §2.5)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0.0)), 2).alias(
            "delta"
        ),
        F.coalesce(F.lead("event_id").over(w), F.lit(-1)).alias("next_event"),
    )


@register(
    "s1_sort_limit",
    """
    SELECT event_id, user_id, event_type FROM events
    ORDER BY ts NULLS FIRST, event_id NULLS FIRST LIMIT 100
    """,
)
def s1_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit (TakeOrderedAndProject — no full sort at scale)."""
    return (
        table(spark, sf_dir, "events")
        .orderBy("ts", "event_id")
        .limit(100)
        .select("event_id", "user_id", "event_type")
    )


# ======================================================================
# SET — set operations (SURVEY §2.7)
# ======================================================================


@register(
    "set_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION SELECT s_nationkey FROM supplier
    """,
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.union(supp).distinct()


@register(
    "set_intersect",
    """
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT SELECT s_nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.intersect(supp)


@register(
    "set_except",
    """
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT SELECT s_nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    supp = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return cust.subtract(supp)  # EXCEPT DISTINCT (set semantics, like SQL EXCEPT)


# ======================================================================
# F — scalar functions (SURVEY §2.8)
# ======================================================================


@register(
    "f_string_scalars",
    """
    SELECT doc_id, md5(text) AS digest, length(text) AS n_chars2,
           substring(lower(text), 1, 12) AS prefix,
           len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS n_tokens
    FROM documents
    """,
)
def f_string_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F5/F6: split/substr/md5/cast scalar pack
    (download_list_images.py:45,92-99)."""
    docs = table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("digest"),
        F.length("text").alias("n_chars2"),
        F.substring(F.lower(F.col("text")), 1, 12).alias("prefix"),
        TX.token_count(F.col("text")).alias("n_tokens"),
    )


@register(
    "f_date_parts",
    """
    SELECT year(o_orderdate) AS y, month(o_orderdate) AS m, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders GROUP BY year(o_orderdate), month(o_orderdate)
    """,
)
def f_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: timestamp handling as typed dates, never strings (§1.4 FECHA)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(F.count("*").alias("n"), _dsum(F.col("o_totalprice")).alias("total"))
    )


@register(
    "f14_json_extract",
    """
    SELECT event_id,
           json_extract_string(CASE WHEN json_valid(props) THEN props END,
                               '$.k')::BIGINT AS k
    FROM events
    """,
)
def f14_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: JSON parse of the props side-channel (script_geo.py:194 shape)."""
    return table(spark, sf_dir, "events").select(
        "event_id", F.get_json_object("props", "$.k").cast("bigint").alias("k")
    )


@register(
    "f15_array_ops",
    """
    SELECT vec_id, len(embedding) AS n_dims,
           round(embedding[1]::DOUBLE, 6) AS first_val,
           round(list_aggregate(list_transform(list_slice(embedding, 1, 8),
                                x -> x::DOUBLE), 'sum'), 6) AS sum_first8
    FROM embeddings
    """,
)
def f15_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F15: array ops over nested data (the reference's coordinate nesting,
    script_geo.py:50-57)."""
    emb = table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("n_dims"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(
            F.aggregate(
                F.slice(F.col("embedding"), 1, 8),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double"),
            ),
            6,
        ).alias("sum_first8"),
    )


# ======================================================================
# F17 / ANN — vector similarity (SURVEY F17, north star)
# ======================================================================

_COSINE_ALL_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)
SELECT e.vec_id, round({V.cosine_sql('e.embedding', 'q.qe')}, 6) AS cos
FROM embeddings e, q
"""


@register("f17_cosine_all", _COSINE_ALL_SQL)
def f17_cosine_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of every vector against query vec 0 — the brute-force scan
    kernel (higher-order fns, codegen'd, no UDF)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    return emb.crossJoin(F.broadcast(q)).select(
        "vec_id", F.round(V.cosine(F.col("embedding"), F.col("qe")), 6).alias("cos")
    )


_COSINE_TOPK_SQL = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.q_id, e.vec_id, round({V.cosine_sql('e.embedding', 'q.qe')}, 6) AS cos
  FROM embeddings e, q)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 10
"""


@register("f17_cosine_topk", _COSINE_TOPK_SQL)
def f17_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k similarity search (3 queries, k=10)."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return SIM.brute_force_topk(emb, queries, k=10)


_ANN_BUCKETS_SQL = f"""
SELECT vec_id, {SIM.hyperplane_signature_sql('embedding', 6)} AS bucket
FROM embeddings WHERE embedding IS NOT NULL
"""


@register("ann_hyperplane_buckets", _ANN_BUCKETS_SQL)
def ann_hyperplane_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH random-hyperplane bucket assignment (the ANN scale path's
    partitioning key). Null vectors are excluded from the index — the
    similarity-search contract (DuckDB's list_inner_product also
    refuses them outright)."""
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    return emb.select(
        "vec_id", SIM.hyperplane_signature("embedding", 6).alias("bucket")
    )


_ANN_TOPK_SQL = f"""
WITH b AS (SELECT vec_id, {SIM.hyperplane_signature_sql('embedding', 6)} AS bucket, embedding
           FROM embeddings WHERE embedding IS NOT NULL),
q AS (SELECT vec_id AS q_id, bucket, embedding AS qe FROM b WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.q_id, e.vec_id, round({V.cosine_sql('e.embedding', 'q.qe')}, 6) AS cos
  FROM b e JOIN q ON e.bucket = q.bucket)
SELECT q_id, vec_id, cos, rank FROM (
  SELECT q_id, vec_id, cos,
         row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 5
"""


@register("ann_lsh_topk", _ANN_TOPK_SQL)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN top-k: equi-join on hyperplane bucket then exact cosine
    — the O(n²)→equi-join rewrite that scales. Null vectors excluded
    per the similarity-search contract."""
    emb = table(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    return SIM.lsh_ann_topk(emb, queries, k=5, num_planes=6)


# SQ8 scalar quantization: shared formula text so Spark and DuckDB run
# BIT-IDENTICAL double arithmetic (same ops, same order). {v}/{mn}/{mx}
# are the raw element and the per-dimension min/max; codes clamp to 255
# and reconstruct at bin centers.
_SQ8_DEQUANT_FMT = (
    "CASE WHEN {mx} = {mn} THEN {mn} "
    "ELSE {mn} + (least(floor(({v} - {mn}) * 256 / ({mx} - {mn})), 255) + 0.5) "
    "* ({mx} - {mn}) / 256 END"
)

_SQ8_CTE = f"""
WITH dims AS (
  SELECT i AS pos, min(embedding[i+1]::DOUBLE) AS mn, max(embedding[i+1]::DOUBLE) AS mx
  FROM embeddings, UNNEST(range(len(embedding))) t(i)
  GROUP BY i),
stats AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM dims),
dq AS (
  SELECT e.vec_id,
         list_transform(range(len(e.embedding)), i ->
           {_SQ8_DEQUANT_FMT.format(v='e.embedding[i+1]::DOUBLE', mn='mns[i+1]', mx='mxs[i+1]')}
         ) AS sq
  FROM embeddings e, stats),
q AS (SELECT vec_id AS q_id, embedding AS qe FROM embeddings WHERE vec_id IN (0, 1, 2)),
scored AS (
  SELECT q.q_id, d.vec_id, round({V.cosine_sql('d.sq', 'q.qe')}, 6) AS cos_q
  FROM dq d, q)"""

_ANN_SQ8_SQL = (
    _SQ8_CTE
    + """
SELECT q_id, vec_id, cos_q, rank FROM (
  SELECT q_id, vec_id, cos_q,
         row_number() OVER (PARTITION BY q_id ORDER BY cos_q DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 5
"""
)


@register("ann_sq8_topk", _ANN_SQ8_SQL)
def ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-aware ANN: 8-bit SCALAR-QUANTIZED vector search.
    Per-dimension min/max train a uniform 256-level codebook; the corpus
    scan scores raw queries against the DEQUANTIZED codes (asymmetric
    distance, the standard SQ8 search) and takes top-5 per query. At
    fleet scale the uint8 codes cut vector-scan bytes 4× vs float32 —
    the memory/IO lever that makes brute-force rerank affordable inside
    IVF/LSH cells — while this plan keeps the whole thing oracle-exact:
    codebook training is integer-free double math with a shared formula
    string, so Spark and DuckDB produce bit-identical codes.

    Scale shape: codebook = one posexplode groupBy(pos) over dims (64
    rows) collected into ONE broadcast row; scoring = broadcast
    queries × corpus scan (no shuffle of the corpus); top-k = one
    window partitioned by query id."""
    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(F.posexplode("embedding").alias("pos", "v")).select(
        "pos", F.col("v").cast("double").alias("v")
    )
    stats = (
        dims.groupBy("pos")
        .agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
        .agg(
            F.expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)").alias("mns"),
            F.expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)").alias("mxs"),
        )
    )
    dq = (
        emb.crossJoin(F.broadcast(stats))
        .select(
            "vec_id",
            F.expr(
                "transform(sequence(0, size(embedding) - 1), i -> "
                + _SQ8_DEQUANT_FMT.format(
                    v="CAST(embedding[i] AS DOUBLE)", mn="mns[i]", mx="mxs[i]"
                )
                + ")"
            ).alias("sq"),
        )
    )
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    scored = dq.crossJoin(F.broadcast(queries)).select(
        "q_id",
        "vec_id",
        F.round(V.cosine(F.col("sq"), F.col("qe")), 6).alias("cos_q"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_q").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id", "cos_q", "rank")
    )


# ---- PQ (product quantization): M=8 subspaces × K=16 codewords ------
# Codebook = the subvectors of the first 16 vectors (deterministic
# data-sampled codebook — k-means would refine it but breaks
# cross-engine exactness; the SEARCH mechanics are identical either
# way). Indexing: Spark uses element_at (1-based; its [] is 0-based),
# DuckDB uses list_extract (1-based; its element_at is MAP-only).

@register(
    "multimodal_audio_features",
    """
    WITH fr AS (
      SELECT doc_id,
             CASE WHEN length(text) = 0 THEN ['']
                  ELSE [substring(text, s, 1000)
                        FOR s IN range(1, length(text) + 1, 1000)]
             END AS chunks
      FROM documents),
    rms AS (
      SELECT doc_id,
             [('0x' || substring(md5(c), 1, 8))::BIGINT % 1000000
              FOR c IN chunks] AS vals
      FROM fr)
    SELECT doc_id,
           CAST(len(vals) AS INT) AS n_frames,
           list_extract(vals, 1) AS first_rms,
           CAST(list_sum(vals) AS BIGINT) AS total_rms
    FROM rms
    """,
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio feature extraction (sources/binary.py audio_features) — the
    third modality beside image resize and video frame-sampling: the
    payload is windowed into fixed 1000-char frames, each frame reduced
    to a scalar energy, aggregated per document, all in one projection
    of built-in array expressions (no Python worker). The per-frame DSP
    body is the documented digest stub; the windowing and typed
    aggregation are value-checked against the digest-twin oracle."""
    from ..sources.binary import audio_features

    return audio_features(table(spark, sf_dir, "documents"))


_PQ_M, _PQ_K, _PQ_D = 8, 16, 8


def _pq_l2_spark(a: str, b: str) -> str:
    """Spark-SQL squared-L2 text, same sequential fold as V.euclidean2."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
        "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), CAST(0.0 AS DOUBLE), "
        "(acc, x) -> acc + x)"
    )


def _pq_sub(arr: str, m: str) -> str:  # m is 0-based in both engines
    return f"slice({arr}, {m} * {_PQ_D} + 1, {_PQ_D})"


_PQ_CODES_SPARK = (
    f"transform(sequence(0, {_PQ_M - 1}), m -> array_position("
    + f"transform(element_at(cbs, m + 1), c -> {_pq_l2_spark(_pq_sub('emb', 'm'), 'c')}), "
    + "array_min(transform(element_at(cbs, m + 1), c -> "
    + _pq_l2_spark(_pq_sub("emb", "m"), "c")
    + "))))"
)

_PQ_ADC_SPARK = (
    f"aggregate(sequence(0, {_PQ_M - 1}), CAST(0 AS BIGINT), (acc, m) -> "
    "acc + CAST(floor("
    + _pq_l2_spark(
        _pq_sub("qe", "m"),
        "element_at(element_at(cbs, m + 1), CAST(element_at(codes, m + 1) AS INT))",
    )
    + " * 1e9 + 0.5) AS BIGINT))"
)


def _pq_sub_duck(arr: str, m: str) -> str:
    return f"({arr})[({m}) * {_PQ_D} + 1 : ({m}) * {_PQ_D} + {_PQ_D}]"


_PQ_DUCK_CODES = (
    "[ list_position("
    + f"[ {V.euclidean2_sql(_pq_sub_duck('embedding', 'm'), 'list_extract(list_extract(cbs, m + 1), k + 1)')} FOR k IN range({_PQ_K}) ], "
    + f"list_min([ {V.euclidean2_sql(_pq_sub_duck('embedding', 'm'), 'list_extract(list_extract(cbs, m + 1), k + 1)')} FOR k IN range({_PQ_K}) ])"
    + f") FOR m IN range({_PQ_M}) ]"
)

_PQ_DUCK_ADC = (
    "list_sum([ CAST(floor("
    + V.euclidean2_sql(
        _pq_sub_duck("qe", "m"),
        "list_extract(list_extract(cbs, m + 1), CAST(list_extract(codes, m + 1) AS INT))",
    )
    + " * 1e9 + 0.5) AS BIGINT) FOR m IN range("
    + str(_PQ_M)
    + ") ])"
)

_PQ_TOPK_SQL = f"""
WITH cb AS (
  SELECT [ [ {_pq_sub_duck('e', 'm')} FOR e IN cvs ] FOR m IN range({_PQ_M}) ] AS cbs
  FROM (SELECT list(CAST(embedding AS DOUBLE[]) ORDER BY vec_id) AS cvs
        FROM embeddings WHERE vec_id < {_PQ_K} AND embedding IS NOT NULL)),
enc AS (
  SELECT vec_id, {_PQ_DUCK_CODES} AS codes
  FROM embeddings, cb
  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL),
q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id IN (0, 1, 2) AND embedding IS NOT NULL),
scored AS (
  SELECT q.q_id, enc.vec_id,
         CAST({_PQ_DUCK_ADC} AS BIGINT) AS adc_nano
  FROM enc, q, cb)
SELECT q_id, vec_id, adc_nano, rank FROM (
  SELECT q_id, vec_id, adc_nano,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_nano, vec_id) AS rank
  FROM scored) WHERE rank <= 5
"""


@register("ann_pq_topk", _PQ_TOPK_SQL)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-quantized ANN (the vector completion of ann_sq8_topk's
    scalar axis): 64 dims split into M=8 subspaces, each encoded as the
    nearest of K=16 codewords, so a vector stores as 8 small codes —
    32× smaller than float32 — and search runs by Asymmetric Distance
    Computation: per query, L2 to each codeword once, then every
    database vector scores as a sum of 8 table lookups. ADC partials
    are floored to nano-units and summed as BIGINT (order-independent,
    hash-exact cross-engine).

    Scale shape: the codebook collapses to ONE broadcast row (nested
    array, 8×16×8 doubles); encoding and scoring are corpus scans with
    broadcast joins only — no shuffle of the vector table; top-k is one
    window. The codebook here is deterministically data-sampled (first
    K vectors) to stay oracle-exact; swapping in k-means centroids
    changes only the cb row, not the plan. Search corpus = non-null id
    AND non-null vector (the r15 ANN convention, extended to PQ in
    r16 — IsNotNull pushed into the scan on both engines)."""
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    cb = (
        emb.filter(F.col("vec_id") < _PQ_K)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(vec_id, "
                "CAST(embedding AS ARRAY<DOUBLE>) AS e))), s -> s.e)"
            ).alias("cvs")
        )
        .select(
            F.expr(
                f"transform(sequence(0, {_PQ_M - 1}), m -> "
                f"transform(cvs, e -> {_pq_sub('e', 'm')}))"
            ).alias("cbs")
        )
    )
    enc = (
        # r19 (guide §2.5): spread — the M×K per-row encode fold
        # serialized on the single-split scan
        spread(emb, "vec_id").crossJoin(F.broadcast(cb))
        .select(
            "vec_id",
            F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("emb"),
            F.col("cbs"),
        )
        .select("vec_id", F.expr(_PQ_CODES_SPARK).alias("codes"), "cbs")
    )
    queries_df = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"),
        F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("qe"),
    )
    scored = enc.crossJoin(F.broadcast(queries_df)).select(
        "q_id", "vec_id", F.expr(_PQ_ADC_SPARK).alias("adc_nano")
    )
    w = Window.partitionBy("q_id").orderBy("adc_nano", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id", "adc_nano", "rank")
    )


_PQ_RECALL_SQL = (
    _PQ_TOPK_SQL.replace(
        """SELECT q_id, vec_id, adc_nano, rank FROM (
  SELECT q_id, vec_id, adc_nano,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_nano, vec_id) AS rank
  FROM scored) WHERE rank <= 5""",
        f""", pq AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id
             ORDER BY adc_nano, vec_id) AS rank
    FROM scored) WHERE rank <= 5),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({V.cosine_sql('CAST(e.embedding AS DOUBLE[])', 'q.qe')}, 6) DESC,
                      e.vec_id) AS rank
    FROM embeddings e, q
    WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL) WHERE rank <= 5)
SELECT exact.q_id,
       count(pq.vec_id) AS n_hit,
       floor(count(pq.vec_id) / 5.0 * 1e6 + 0.5) / 1e6 AS recall_at_5
FROM exact LEFT JOIN pq USING (q_id, vec_id)
GROUP BY exact.q_id""",
    ).replace("WITH cb AS (", "WITH cb AS (", 1)
)


@register("ann_pq_recall", _PQ_RECALL_SQL)
def ann_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the product-quantized ADC ranking against exact
    cosine ground truth — the index-quality measurement that decides
    whether 8-code vectors are safe to serve (completing the eval trio:
    ann_recall_eval for LSH, ann_sq8_recall for scalar quantization,
    this for PQ). Note ADC ranks by L2 while ground truth ranks by
    cosine — recall here also absorbs that metric gap, as it does in a
    real deployment. Search-corpus null contract as ann_pq_topk."""
    pq = ann_pq_topk(spark, sf_dir).select("q_id", "vec_id")
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
    )
    queries_df = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    exact = SIM.brute_force_topk(emb, queries_df, k=5).select("q_id", "vec_id")
    return SIM.recall_at_k(exact, pq, 5)


_SQ8_RECALL_SQL = (
    _SQ8_CTE
    + f""",
sq8 AS (
  SELECT q_id, vec_id FROM (
    SELECT q_id, vec_id,
           row_number() OVER (PARTITION BY q_id ORDER BY cos_q DESC, vec_id) AS rank
    FROM scored) WHERE rank <= 5),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({V.cosine_sql('e.embedding', 'q.qe')}, 6) DESC,
                      e.vec_id) AS rank
    FROM embeddings e, q) WHERE rank <= 5)
SELECT exact.q_id,
       count(sq8.vec_id) AS n_hit,
       floor(count(sq8.vec_id) / 5.0 * 1e6 + 0.5) / 1e6 AS recall_at_5
FROM exact LEFT JOIN sq8 USING (q_id, vec_id)
GROUP BY exact.q_id
"""
)


@register("ann_sq8_recall", _SQ8_RECALL_SQL)
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization-quality evaluation: recall@5 of the SQ8 quantized
    search against exact brute-force ground truth, per query — the
    measurement that decides whether 8-bit codes are safe to serve (or
    whether to rerank with raw vectors). Same eval loop as
    ann_recall_eval, applied to the compression axis instead of the
    bucketing axis: 'measure, don't guess' for index quality."""
    emb = table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    sq8 = ann_sq8_topk(spark, sf_dir).select("q_id", "vec_id")
    exact = SIM.brute_force_topk(emb, queries, k=5).select("q_id", "vec_id")
    return SIM.recall_at_k(exact, sq8, 5)


# ======================================================================
# DEDUP — exact + near (SURVEY A3/A5, north star)
# ======================================================================


@register(
    "dedup_exact",
    """
    SELECT min(doc_id) AS doc_id, sha256(text) AS digest, count(*) AS n_copies
    FROM documents GROUP BY sha256(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest, deterministic representative."""
    return D.exact_dedup(table(spark, sf_dir, "documents"))


def _minhash_cte() -> str:
    """Shared CTE prefix mirroring the explode+groupBy MinHash plan at 16
    hashes in 4 bands over 3-shingles — tokenize/shingle once, ONE md5
    per shingle, per-seed affine-derived mins (the min list and signature
    SQL of operators.dedup)."""
    mins, arr = D._minhash_sql(16, "list_value")
    band_list = "[" + ", ".join(
        f"md5('{b}|' || array_to_string("
        f"list_transform(sig[{b * 4 + 1}:{(b + 1) * 4}], v -> v::VARCHAR), ','))"
        for b in range(4)
    ) + "]"
    return f"""
WITH base AS (
  SELECT doc_id, {H.shingles_sql('text', 3)} AS shingles FROM documents),
ex AS (SELECT doc_id, unnest(shingles) AS sh FROM base),
hsh AS (
  SELECT doc_id,
         ('0x' || substring(md5('0:' || sh), 1, {H.HASH_HEX_CHARS}))::BIGINT % 1073741824 AS lo,
         ('0x' || substring(md5('0:' || sh), 1, {H.HASH_HEX_CHARS}))::BIGINT >> 30 AS hi
  FROM ex),
mh AS (SELECT doc_id, {', '.join(mins)} FROM hsh GROUP BY doc_id),
sigt AS (SELECT doc_id, {arr} AS sig FROM mh),
bandt AS (SELECT doc_id, {band_list} AS bands FROM sigt)
"""


_MINHASH_BANDS_SQL = _minhash_cte() + "SELECT doc_id, unnest(bands) AS band FROM bandt"


@register("dedup_minhash_bands", _MINHASH_BANDS_SQL)
def dedup_minhash_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature → LSH band keys, exploded (the near-dup join key)."""
    docs = D.with_minhash(
        table(spark, sf_dir, "documents"), "text", 3, 16, 4, keep_shingles=False
    )
    return docs.select("doc_id", F.explode("__bands").alias("band"))


def _lsh_cand_cte(new_from: int | None = None) -> str:
    """``_minhash_cte`` plus ``cand`` = the distinct MinHash-LSH
    candidate pairs, the oracle twin of ``operators.dedup.band_pairs``.
    ``new_from`` mirrors the incremental probe-side split of
    ``minhash_lsh_pairs``."""
    probe = f" AND b.doc_id >= {new_from}" if new_from is not None else ""
    return _minhash_cte() + f""",
expl AS (SELECT doc_id, unnest(bands) AS band FROM bandt),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM expl a JOIN expl b ON a.band = b.band AND a.doc_id < b.doc_id{probe})"""


def _near_pairs_cte(threshold: float = 0.1, new_from: int | None = None) -> str:
    """CTE prefix ending in ``pairs`` = verified MinHash-LSH near-dup
    pairs above ``threshold`` (shared by the pairs query and the
    connected-components oracle)."""
    return _lsh_cand_cte(new_from) + f""",
verified AS (
  SELECT c.a_id, c.b_id,
         round(len(list_filter(list_distinct(sa.shingles), s -> list_contains(sb.shingles, s)))::DOUBLE
               / greatest(len(list_distinct(sa.shingles)) + len(list_distinct(sb.shingles))
                          - len(list_filter(list_distinct(sa.shingles), s -> list_contains(sb.shingles, s))), 1)::DOUBLE, 6) AS jaccard
  FROM cand c
  JOIN base sa ON sa.doc_id = c.a_id
  JOIN base sb ON sb.doc_id = c.b_id),
pairs AS (SELECT a_id, b_id, jaccard FROM verified WHERE jaccard >= {threshold})"""


_NEAR_PAIRS_SQL = _near_pairs_cte() + "\nSELECT a_id, b_id, jaccard FROM pairs"


@register("dedup_near_pairs", _NEAR_PAIRS_SQL)
def dedup_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs + exact-Jaccard verification."""
    return D.minhash_lsh_pairs(
        table(spark, sf_dir, "documents"),
        k=3,
        num_hashes=16,
        bands=4,
        jaccard_threshold=0.1,
    )


# connected components over the near-dup graph: min reachable id per doc,
# expressed for the oracle as a recursive closure (UNION dedups, so the
# recursion terminates); docs not in any pair stay their own component
_COMPONENTS_SQL = (
    _near_pairs_cte()
    + """,
edges AS (SELECT a_id AS src, b_id AS dst FROM pairs
          UNION ALL SELECT b_id, a_id FROM pairs),
reach AS (
  SELECT doc_id AS id, doc_id AS r FROM documents WHERE doc_id IS NOT NULL
  UNION
  SELECT e.dst AS id, r.r FROM reach r JOIN edges e ON e.src = r.id
)
SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
"""
).replace("WITH base AS", "WITH RECURSIVE base AS", 1)


@register("dedup_components", _COMPONENTS_SQL)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the verified
    MinHash-LSH pair graph by iterative min-label propagation (each round
    a distributed join+groupBy; converges in graph-diameter rounds). The
    oracle computes the same min-reachable-id via a recursive CTE."""
    return D.dedup_components(
        table(spark, sf_dir, "documents"),
        k=3,
        num_hashes=16,
        bands=4,
        jaccard_threshold=0.1,
    )


def _simhash_sql(num_bits: int = 32) -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(num_bits)
    )
    terms = " + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(num_bits))
    return f"""
WITH ex AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS t
  FROM documents),
h AS (SELECT doc_id, ('0x' || substring(md5('0:' || t), 1, {H.HASH_HEX_CHARS}))::BIGINT AS h FROM ex),
v AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id),
f AS (SELECT doc_id, ({terms})::BIGINT AS fp FROM v)
SELECT d.doc_id, coalesce(f.fp, 0)::BIGINT AS fp
FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
"""


@register("simhash_fingerprints", _simhash_sql(32))
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash 32-bit fingerprints (near-dup family #3) — explode+groupBy
    bit-vote plan (see operators.dedup.simhash_table)."""
    return D.simhash_table(table(spark, sf_dir, "documents"), num_bits=32)


# ======================================================================
# TEXT — analysis functions (SURVEY F16, north star)
# ======================================================================

_TEXT_STATS_SQL = f"""
SELECT doc_id,
       len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS n_tokens,
       {TX.quality_score_sql('text')} AS quality,
       {TX.lang_guess_sql('text')} AS lang_guess,
       {TX.fingerprint_sql('text', 3)} AS fp
FROM documents
"""


@register("text_stats", _TEXT_STATS_SQL)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring + language-ID + fingerprint.
    The four kernels are embarrassingly parallel; ``spread`` rebalances a
    single-split scan so they don't serialize into one task."""
    docs = spread(table(spark, sf_dir, "documents"), "doc_id")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.lang_guess(F.col("text")).alias("lang_guess"),
        TX.fingerprint(F.col("text"), 3).alias("fp"),
    )


@register(
    "text_lang_agg",
    """
    SELECT lang, count(*) AS n_docs,
           CAST(sum(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) AS total_chars,
           round(avg(len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))), 2) AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def text_lang_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            _dsum(F.col("n_chars")).alias("total_chars"),
            F.round(F.avg(TX.token_count(F.col("text"))), 2).alias("avg_tokens"),
        )
    )


@register(
    "text_bpe_tokens",
    """
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_bpe
    FROM documents
    """,
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pretokenizer token counts."""
    return table(spark, sf_dir, "documents").select(
        "doc_id", F.size(TX.word_tokens_bpe_ish(F.col("text"))).alias("n_bpe")
    )


