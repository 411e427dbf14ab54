"""Registry segment 12 (mechanical split of plans/queries.py, r17).

- Round 7 — time-series bars, Benford audit, DSIR selection, chi² tokens (cont. 3)

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    D,
    DataFrame,
    F,
    GF,
    H,
    SparkSession,
    V,
    Window,
    dsum,
    dsum_sql,
    os,
    register,
    scratch_dir,
    spread,
    table,
)
from .q01_j1 import _COMPONENTS_SQL
from .q05_training import _TOKS_SQL
from .q08_north_star import _HYBRID_TERMS_SQL
from .q09_north_star import _BM25_B, _BM25_K1, bm25_topk



_SPAN_LEN = 3
_SPAN_SEED = 17


@register(
    "pipeline_span_corruption",
    f"""
    WITH d AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents),
    pos AS (
      SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p
      FROM d),
    starts AS (
      SELECT doc_id, p AS s FROM pos
      WHERE ({H.hash64_sql("doc_id::VARCHAR || ':' || p::VARCHAR", _SPAN_SEED)}) % 7 = 0),
    masked AS (
      SELECT DISTINCT pos.doc_id, pos.p
      FROM pos JOIN starts
        ON starts.doc_id = pos.doc_id
       AND pos.p >= starts.s AND pos.p < starts.s + {_SPAN_LEN}),
    agg AS (
      SELECT d.doc_id, len(d.toks) AS n_tokens,
             coalesce(st.n_spans, 0) AS n_spans,
             coalesce(mk.n_masked, 0) AS n_masked
      FROM d
      LEFT JOIN (SELECT doc_id, count(*) AS n_spans
                 FROM starts GROUP BY doc_id) st USING (doc_id)
      LEFT JOIN (SELECT doc_id, count(*) AS n_masked
                 FROM masked GROUP BY doc_id) mk USING (doc_id))
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_spans AS BIGINT) AS n_spans,
           CAST(n_masked AS BIGINT) AS n_masked,
           CAST(floor(n_masked * 1000000.0 / greatest(n_tokens, 1))
                AS BIGINT) AS corruption_micro
    FROM agg WHERE doc_id % 11 = 0
    """,
)
def pipeline_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption mask planning (the T5/UL2 denoising objective):
    deterministic hash-seeded span starts (rate 1/7), fixed span length
    3, overlapping spans merged by position-distinct — reporting per
    document the span count, masked-token count and corruption rate
    the batch builder needs BEFORE materializing targets (~15% here ≈
    T5's default). Mask positions derive from the cross-engine hash
    family, so the whole plan — position explode, start filter,
    coverage join, distinct — is exactly reproducible; at 100 TB the
    coverage join is per-doc position-bounded, never cross-doc."""
    docs = table(spark, sf_dir, "documents")
    d = spread(docs, "doc_id").select(
        "doc_id", H.tokens(F.col("text")).alias("toks")
    )
    pos = d.select(
        "doc_id", F.posexplode("toks").alias("p0", "__t")
    ).select("doc_id", (F.col("p0") + 1).alias("p"))
    starts = pos.filter(
        H.hash64(
            F.concat(
                F.col("doc_id").cast("string"),
                F.lit(":"),
                F.col("p").cast("string"),
            ),
            _SPAN_SEED,
        )
        % 7
        == 0
    ).select("doc_id", F.col("p").alias("s"))
    masked = (
        pos.join(starts, "doc_id")
        .filter(
            (F.col("p") >= F.col("s"))
            & (F.col("p") < F.col("s") + _SPAN_LEN)
        )
        .select("doc_id", "p")
        .distinct()
    )
    st = starts.groupBy("doc_id").agg(F.count("*").alias("n_spans"))
    mk = masked.groupBy("doc_id").agg(F.count("*").alias("n_masked"))
    agg = (
        d.select("doc_id", F.size("toks").cast("bigint").alias("n_tokens"))
        .join(st, "doc_id", "left")
        .join(mk, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_masked", F.lit(0)).cast("bigint").alias("n_masked"),
        )
    )
    return agg.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        "n_tokens",
        "n_spans",
        "n_masked",
        F.floor(
            F.col("n_masked") * 1000000.0 / F.greatest(F.col("n_tokens"), F.lit(1))
        )
        .cast("bigint")
        .alias("corruption_micro"),
    )
@register(
    "pipeline_padding_waste",
    """
    WITH d AS (
      SELECT doc_id, len(list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> ''))
               AS n_tok
      FROM documents),
    b AS (
      SELECT doc_id, n_tok,
             CAST(power(2, ceil(log2(greatest(n_tok, 1)))) AS BIGINT)
               AS bucket_len
      FROM d)
    SELECT bucket_len, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS real_tokens,
           CAST(count(*) * bucket_len - sum(n_tok) AS BIGINT) AS pad_tokens,
           CAST(floor((count(*) * bucket_len - sum(n_tok)) * 1000000.0
                      / (count(*) * bucket_len)) AS BIGINT) AS waste_micro
    FROM b GROUP BY bucket_len ORDER BY bucket_len
    """,
)
def pipeline_padding_waste(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-waste report for length-bucketed batching: docs bucket to
    the next power-of-two sequence length and each bucket reports how
    many pad tokens a rectangular batch would burn — the measurement
    that decides between plain padding, length-grouped batching, and
    sequence packing (pack_sequences is the fix; this quantifies the
    problem it fixes). log2/ceil run on small exact integers; waste
    ratios are floored micro rationals. One aggregate, map-side
    combined."""
    docs = table(spark, sf_dir, "documents")
    d = spread(docs, "doc_id").select(
        "doc_id", F.size(H.tokens(F.col("text"))).alias("n_tok")
    )
    b = d.select(
        "n_tok",
        F.pow(2.0, F.ceil(F.log2(F.greatest(F.col("n_tok"), F.lit(1)))))
        .cast("bigint")
        .alias("bucket_len"),
    )
    g = b.groupBy("bucket_len").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("real_tokens")
    )
    pad = F.col("n_docs") * F.col("bucket_len") - F.col("real_tokens")
    return g.select(
        "bucket_len",
        "n_docs",
        "real_tokens",
        pad.alias("pad_tokens"),
        F.floor(pad * 1000000.0 / (F.col("n_docs") * F.col("bucket_len")))
        .cast("bigint")
        .alias("waste_micro"),
    ).orderBy("bucket_len")


@register(
    "ts_business_days",
    """
    WITH ship AS (
      SELECT l_orderkey, min(CAST(l_shipdate AS TIMESTAMP)) AS first_ship
      FROM lineitem GROUP BY l_orderkey),
    lag AS (
      SELECT o.o_orderpriority,
             CAST(floor(epoch(CAST(o.o_orderdate AS TIMESTAMP)) / 86400)
                  AS BIGINT) AS d0,
             CAST(floor(epoch(s.first_ship) / 86400) AS BIGINT) AS d1
      FROM orders o JOIN ship s ON s.l_orderkey = o.o_orderkey),
    biz AS (
      SELECT o_orderpriority,
             (5 * ((d1 + 4) // 7) + least((d1 + 4) % 7, 5))
             - (5 * ((d0 + 4) // 7) + least((d0 + 4) % 7, 5)) AS bdays
      FROM lag WHERE d1 >= d0)
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(bdays) AS BIGINT) AS total_bdays,
           CAST(floor(sum(bdays) * 1000000.0 / count(*)) AS BIGINT)
             AS avg_bdays_micro
    FROM biz GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ts_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Business-day SLA latency: weekdays between order placement and
    first shipment, per priority — the calendar-aware lag every ops
    dashboard needs (7 calendar days spanning a weekend is 5 business
    days). Weekday counting is a pure integer closed form on epoch day
    numbers (validated against a date-walk oracle: g(d) = 5·⌊(d+4)/7⌋ +
    min((d+4) mod 7, 5) counts weekdays below d; the difference counts
    (d0, d1]) — no dayofweek() builtin, whose week-start convention
    differs between engines. One join + one aggregate; at 100 TB the
    per-order min-shipdate is map-side combined before the join."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    ship = li.groupBy("l_orderkey").agg(
        F.min("l_shipdate").alias("first_ship")
    )
    lag = orders.join(
        ship, orders.o_orderkey == ship.l_orderkey
    ).select(
        "o_orderpriority",
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("bigint")
        .alias("d0"),
        F.floor(F.unix_timestamp("first_ship") / 86400)
        .cast("bigint")
        .alias("d1"),
    )

    def wk(d):
        m = F.col(d) + 4
        return 5 * F.floor(m / 7).cast("bigint") + F.least(
            m % 7, F.lit(5).cast("bigint")
        )

    biz = lag.filter(F.col("d1") >= F.col("d0")).select(
        "o_orderpriority", (wk("d1") - wk("d0")).alias("bdays")
    )
    return (
        biz.groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            F.sum("bdays").alias("total_bdays"),
        )
        .select(
            "o_orderpriority",
            "n",
            "total_bdays",
            F.floor(F.col("total_bdays") * 1000000.0 / F.col("n"))
            .cast("bigint")
            .alias("avg_bdays_micro"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "ab_test_zscore",
    f"""
    WITH assign AS (
      SELECT ({H.hash64_sql('o_orderkey', 21)}) % 2 = 0 AS variant_a,
             o_orderstatus = 'F' AS converted
      FROM orders),
    g AS (
      SELECT count(*) FILTER (WHERE variant_a) AS n_a,
             count(*) FILTER (WHERE variant_a AND converted) AS c_a,
             count(*) FILTER (WHERE NOT variant_a) AS n_b,
             count(*) FILTER (WHERE NOT variant_a AND converted) AS c_b
      FROM assign)
    SELECT n_a, c_a, n_b, c_b,
           round((CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
                 / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_score
    FROM g
    """,
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test for an A/B experiment: deterministic
    hash-bucketed assignment (the same salted-split discipline as
    p10_train_val_test), pooled-variance z-score for the conversion
    delta — the experimentation readout layered on the engine's eval
    suite. One conditional aggregate produces the four counts; the only
    float math is the final z from identical exact integers in both
    engines, rounded to 6 decimals. A |z| < 1.96 here is the expected
    null result: the hash split is independent of order status by
    construction."""
    o = table(spark, sf_dir, "orders")
    a = o.select(
        (H.hash64(F.col("o_orderkey"), 21) % 2 == 0).alias("variant_a"),
        (F.col("o_orderstatus") == "F").alias("converted"),
    )
    g = a.agg(
        F.count_if("variant_a").alias("n_a"),
        F.count_if(F.col("variant_a") & F.col("converted")).alias("c_a"),
        F.count_if(~F.col("variant_a")).alias("n_b"),
        F.count_if(~F.col("variant_a") & F.col("converted")).alias("c_b"),
    )
    # try_divide throughout: a zero-row (or one-sided) experiment reads
    # out as NULL z, not an ANSI divide-by-zero; identical to `/` on any
    # populated split.
    p_a = F.try_divide(F.col("c_a").cast("double"), F.col("n_a"))
    p_b = F.try_divide(F.col("c_b").cast("double"), F.col("n_b"))
    p_pool = F.try_divide(
        (F.col("c_a") + F.col("c_b")).cast("double"),
        F.col("n_a") + F.col("n_b"),
    )
    z = F.try_divide(
        p_a - p_b,
        F.sqrt(
            p_pool
            * (1 - p_pool)
            * (
                F.try_divide(F.lit(1.0), F.col("n_a"))
                + F.try_divide(F.lit(1.0), F.col("n_b"))
            )
        ),
    )
    return g.select(
        "n_a", "c_a", "n_b", "c_b", F.round(z, 6).alias("z_score")
    )


@register(
    "geo_snap_simplify",
    f"""
    SELECT id_predio, ring_idx,
           count(*) AS n_edges,
           count(*) FILTER (WHERE floor(x1 * 4) = floor(x2 * 4)
                              AND floor(y1 * 4) = floor(y2 * 4))
             AS n_collapsed,
           CAST(floor(count(*) FILTER (WHERE floor(x1 * 4) = floor(x2 * 4)
                                         AND floor(y1 * 4) = floor(y2 * 4))
                      * 1000000.0 / count(*)) AS BIGINT) AS collapse_micro
    FROM {GF.ring_edges_values_sql()}
    GROUP BY id_predio, ring_idx
    """,
)
def geo_snap_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snap-to-grid simplification planning: quantize every ring vertex
    to a quarter-unit grid and count edges that collapse (both endpoints
    in one cell) — the vertex-budget estimate run before rendering or
    coarse-zoom tiling (geo_tile_pyramid picks the zoom; this says how
    much geometry each zoom can drop). The edge walk is the same
    higher-order traversal as geo_ring_areas — pure column math, one
    aggregate, no UDF, no join."""
    polys = GF.spark_polys(spark)
    ring = F.col("__r")
    n = F.size(ring)
    snapped_same = lambda i: (  # noqa: E731
        (
            F.floor(F.element_at(ring, i)["x"] * 4)
            == F.floor(F.element_at(ring, (i % n) + 1)["x"] * 4)
        )
        & (
            F.floor(F.element_at(ring, i)["y"] * 4)
            == F.floor(F.element_at(ring, (i % n) + 1)["y"] * 4)
        )
    )
    collapsed = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + F.when(snapped_same(i), 1).otherwise(0),
    )
    out = polys.select(
        "id_predio", F.posexplode("rings").alias("ring_idx", "__r")
    ).select(
        "id_predio",
        "ring_idx",
        n.cast("bigint").alias("n_edges"),
        collapsed.alias("n_collapsed"),
    )
    return out.select(
        "id_predio",
        "ring_idx",
        "n_edges",
        "n_collapsed",
        F.floor(F.col("n_collapsed") * 1000000.0 / F.col("n_edges"))
        .cast("bigint")
        .alias("collapse_micro"),
    )


@register(
    "j_mark_join_flags",
    """
    WITH f AS (
      SELECT o_custkey,
             bool_or(o_orderpriority = '1-URGENT') AS has_urgent,
             bool_or(o_orderstatus = 'O') AS has_open,
             count(*) FILTER (WHERE o_totalprice > 300000) AS n_big
      FROM orders GROUP BY o_custkey)
    SELECT coalesce(f.has_urgent, false) AS has_urgent,
           coalesce(f.has_open, false) AS has_open,
           count(*) AS n_customers,
           CAST(sum(coalesce(f.n_big, 0)) AS BIGINT) AS total_big_orders
    FROM customer c LEFT JOIN f ON f.o_custkey = c.c_custkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def j_mark_join_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mark-join rewrite: three correlated EXISTS predicates computed as
    ONE grouped pass over the fact table (bool_or flags + a conditional
    count), then a single left join back to the dimension — the
    optimizer transformation that turns N existence subqueries into one
    scan (a naive plan runs three semi-joins over the same 100 TB
    fact). Customers with no orders land in the (false, false) segment
    via coalesce — the LEFT join preserves them where a semi-join chain
    would not. One fact aggregate + one broadcast-joinable flag table."""
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer").select("c_custkey")
    f = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderpriority") == "1-URGENT").alias("has_urgent"),
        F.max(F.col("o_orderstatus") == "O").alias("has_open"),
        F.count_if(F.col("o_totalprice") > 300000).alias("n_big"),
    )
    # f is a per-customer aggregate — linear-in-SF, unhinted (AQE decides)
    j = c.join(f, c.c_custkey == f.o_custkey, "left")
    return (
        j.groupBy(
            F.coalesce("has_urgent", F.lit(False)).alias("has_urgent"),
            F.coalesce("has_open", F.lit(False)).alias("has_open"),
        )
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.coalesce("n_big", F.lit(0))).alias("total_big_orders"),
        )
        .orderBy("has_urgent", "has_open")
    )


@register(
    "emb_outlier_zscore",
    """
    WITH comp AS (
      SELECT vec_id, unnest(generate_series(0, len(embedding) - 1)) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
               AS q
      FROM embeddings),
    s AS (
      SELECT pos, count(*) AS n, CAST(sum(q) AS BIGINT) AS s1,
             CAST(sum(q * q) AS BIGINT) AS s2
      FROM comp GROUP BY pos),
    z AS (
      SELECT c.vec_id,
             CAST(floor(CAST((c.q * s.n - s.s1) AS DOUBLE)
                        * (c.q * s.n - s.s1)
                        / greatest(CAST(s.n AS DOUBLE)
                                   * (s.n * s.s2 - s.s1 * s.s1), 1)
                        * 1e9 + 0.5) AS BIGINT) AS z2_nano
      FROM comp c JOIN s USING (pos)),
    v AS (SELECT vec_id, CAST(sum(z2_nano) AS BIGINT) AS maha_nano
          FROM z GROUP BY vec_id)
    SELECT vec_id, maha_nano, rank FROM (
      SELECT vec_id, maha_nano,
             row_number() OVER (ORDER BY maha_nano DESC, vec_id) AS rank
      FROM v)
    WHERE rank <= 10
    """,
)
def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection by diagonal Mahalanobis distance:
    per-dimension standardized deviations squared and summed — the
    cheap anomaly screen that catches corrupted vectors (wrong scale,
    truncated writes, NaN-zeroed dims) before they poison an ANN index
    or a semantic-dedup pass. Components quantize to integer micro
    units (emb_dim_stats discipline), z² terms are exact-integer
    numerators over exact-integer variances fixed-pointed to nano, and
    the per-vector sum is pure BIGINT. Stats are 64 rows broadcast back
    onto the component stream; top-10 is TakeOrdered."""
    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        F.posexplode(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias(
            "pos", "v"
        ),
    ).select(
        "vec_id", "pos", F.floor(F.col("v") * 1e6).cast("bigint").alias("q")
    )
    s = comp.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    num = F.col("q") * F.col("n") - F.col("s1")
    den = F.greatest(
        F.col("n").cast("double")
        * (F.col("n") * F.col("s2") - F.col("s1") * F.col("s1")),
        F.lit(1.0),
    )
    z = comp.join(F.broadcast(s), "pos").select(
        "vec_id",
        F.floor(num.cast("double") * num / den * 1e9 + F.lit(0.5))
        .cast("bigint")
        .alias("z2_nano"),
    )
    v = z.groupBy("vec_id").agg(F.sum("z2_nano").alias("maha_nano"))
    return (
        v.orderBy(F.col("maha_nano").desc(), "vec_id")
        .limit(10)
        .select(
            "vec_id",
            "maha_nano",
            F.row_number()
            .over(Window.orderBy(F.col("maha_nano").desc(), "vec_id"))
            .alias("rank"),
        )
    )


@register(
    "ml_lift_table",
    f"""
    WITH p AS (
      SELECT ({H.hash64_sql('o_orderkey', 31)}) % 1000000 AS score,
             o_orderstatus = 'F' AS is_pos
      FROM orders WHERE o_orderkey IS NOT NULL),
    b AS (
      SELECT 9 - score // 100000 AS decile, count(*) AS n,
             count(*) FILTER (WHERE is_pos) AS pos
      FROM p GROUP BY decile),
    t AS (SELECT sum(n) AS n_tot, sum(pos) AS pos_tot FROM b),
    c AS (
      SELECT decile, n, pos,
             sum(pos) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             sum(n) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
      FROM b)
    SELECT c.decile, c.n, c.pos,
           CAST(floor(c.cum_pos * 1000000.0 / t.pos_tot) AS BIGINT)
             AS capture_micro,
           CAST(floor(c.cum_pos * t.n_tot * 1000000.0
                      / (c.cum_n * t.pos_tot)) AS BIGINT) AS lift_micro
    FROM c CROSS JOIN t ORDER BY c.decile
    """,
)
def ml_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table: rank the population by model score, split into
    deciles (0 = highest-scored), and report cumulative capture rate
    and lift vs the base rate — the targeting readout (with AUC, PR/F1,
    calibration and NDCG this completes the eval suite; lift is what a
    campaign owner actually reads). Deciles come from integer score
    buckets so there is no global sort of raw rows; the cumulative
    window runs over 10 aggregated rows; capture and lift are floored
    micro rationals from exact integers. Near-1.0 lifts everywhere are
    the expected null: the hash score is independent of the label.
    Unscoreable rows (null key → null hash) excluded both sides (r16)."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    p = o.select(
        (H.hash64(F.col("o_orderkey"), 31) % 1000000).alias("score"),
        (F.col("o_orderstatus") == "F").alias("is_pos"),
    )
    b = p.groupBy(
        (9 - F.floor(F.col("score") / 100000)).cast("bigint").alias("decile")
    ).agg(F.count("*").alias("n"), F.count_if("is_pos").alias("pos"))
    t = b.agg(F.sum("n").alias("n_tot"), F.sum("pos").alias("pos_tot"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = b.withColumn("cum_pos", F.sum("pos").over(w)).withColumn(
        "cum_n", F.sum("n").over(w)
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "decile",
            "n",
            "pos",
            F.floor(F.col("cum_pos") * 1000000.0 / F.col("pos_tot"))
            .cast("bigint")
            .alias("capture_micro"),
            F.floor(
                F.col("cum_pos")
                * F.col("n_tot")
                * 1000000.0
                / (F.col("cum_n") * F.col("pos_tot"))
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
        .orderBy("decile")
    )


_RAKE_STOP = ("a", "the", "to", "of", "and", "in", "is", "on")
_RAKE_STOP_SQL = "('" + "', '".join(_RAKE_STOP) + "')"


@register(
    "text_keyphrase_rake",
    f"""
    WITH d AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents),
    pos AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(range(1, len(toks) + 1)) AS p
      FROM d),
    cw AS (
      SELECT doc_id, tok, p,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      FROM pos WHERE tok NOT IN {_RAKE_STOP_SQL}),
    phr AS (
      SELECT doc_id, grp,
             string_agg(tok, ' ' ORDER BY p) AS phrase,
             count(*) AS plen
      FROM cw GROUP BY doc_id, grp),
    wstat AS (
      SELECT tok, count(*) AS freq,
             CAST(sum(plen) AS BIGINT) AS degree
      FROM cw JOIN phr USING (doc_id, grp)
      GROUP BY tok),
    wscore AS (
      SELECT tok, CAST(floor(degree * 1000000.0 / freq) AS BIGINT)
               AS wscore_micro
      FROM wstat),
    pscore AS (
      SELECT p.phrase, CAST(sum(w.wscore_micro) AS BIGINT) AS score_micro
      FROM cw c
      JOIN phr p USING (doc_id, grp)
      JOIN wscore w ON w.tok = c.tok
      GROUP BY p.doc_id, p.grp, p.phrase),
    best AS (
      SELECT phrase, CAST(max(score_micro) AS BIGINT) AS score_micro,
             count(*) AS n_occurrences
      FROM pscore GROUP BY phrase)
    SELECT phrase, score_micro, n_occurrences, rank FROM (
      SELECT phrase, score_micro, n_occurrences,
             row_number() OVER (ORDER BY score_micro DESC, phrase) AS rank
      FROM best)
    WHERE rank <= 15
    """,
)
def text_keyphrase_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (the islands trick — position
    minus dense rank — finds runs without iteration), each word scores
    degree/frequency (degree = Σ lengths of phrases containing it), and
    a phrase scores the sum of its word scores — the unsupervised
    keyphrase baseline that beats TF-IDF on multi-word terms
    (text_tfidf_topk is the unigram sibling). Word scores are floored
    micro rationals, phrase sums exact BIGINT. Per-doc islands window,
    three vocabulary-sized aggregates, one broadcast word-score join —
    nothing scales beyond (doc, position)."""
    docs = table(spark, sf_dir, "documents")
    d = spread(docs, "doc_id").select(
        "doc_id", H.tokens(F.col("text")).alias("toks")
    )
    pos = d.select(
        "doc_id", F.posexplode("toks").alias("p0", "tok")
    ).select("doc_id", "tok", (F.col("p0") + 1).alias("p"))
    w_doc = Window.partitionBy("doc_id").orderBy("p")
    cw = pos.filter(~F.col("tok").isin(*_RAKE_STOP)).withColumn(
        "grp", F.col("p") - F.row_number().over(w_doc)
    )
    phr = cw.groupBy("doc_id", "grp").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("p"), F.col("tok")))
                ),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    wstat = (
        cw.join(phr, ["doc_id", "grp"])
        .groupBy("tok")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("degree"))
    )
    wscore = wstat.select(
        "tok",
        F.floor(F.col("degree") * 1000000.0 / F.col("freq"))
        .cast("bigint")
        .alias("wscore_micro"),
    )
    pscore = (
        cw.join(phr, ["doc_id", "grp"])
        .join(F.broadcast(wscore), "tok")
        .groupBy("doc_id", "grp", "phrase")
        .agg(F.sum("wscore_micro").alias("score_micro"))
    )
    best = pscore.groupBy("phrase").agg(
        F.max("score_micro").alias("score_micro"),
        F.count("*").alias("n_occurrences"),
    )
    return (
        best.orderBy(F.col("score_micro").desc(), "phrase")
        .limit(15)
        .select(
            "phrase",
            "score_micro",
            "n_occurrences",
            F.row_number()
            .over(Window.orderBy(F.col("score_micro").desc(), "phrase"))
            .alias("rank"),
        )
    )


@register("graph_incremental_components", _COMPONENTS_SQL)
def graph_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL connected components by graph contraction: components
    over the old edge set are computed once (the expensive pass), and a
    new edge batch refreshes labels by mapping its endpoints through
    the OLD labels and running components on the CONTRACTED graph —
    whose size is O(new edges + touched clusters), not O(all edges).
    Because labels are min-ids, contraction composes exactly: the
    refreshed label is the global min id, bit-identical to a full
    recompute (the oracle IS the full-graph recursive closure — the
    same one dedup_components answers — so equality proves the
    incremental refresh lost nothing). This is IVM for graphs: at
    100 TB the nightly dedup-cluster refresh touches only the delta's
    neighborhood; the historical edge set is never re-joined.
    Null doc_id excluded — the components null-identity contract
    (operators/dedup.py dedup_components, r16)."""
    from ..operators.dedup import components_from_edges

    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.1).select("a_id", "b_id").localCheckpoint()
    split = 400
    old_e = pairs.filter(
        (F.col("a_id") < split) & (F.col("b_id") < split)
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    new_e = pairs.filter(
        (F.col("a_id") >= split) | (F.col("b_id") >= split)
    ).select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    old_lab = components_from_edges(old_e)

    def relabel(e, col):
        lab = old_lab.select(
            F.col("id").alias(col), F.col("component").alias(f"__{col}_lab")
        )
        # lab is O(old edge-incident nodes) — unbounded in corpus size,
        # so no broadcast hint (the delta-only posture of this query
        # must not require shipping the full historical label map to
        # every executor); AQE broadcasts at runtime iff it fits
        return e.join(lab, col, "left").withColumn(
            col, F.coalesce(f"__{col}_lab", F.col(col))
        ).drop(f"__{col}_lab")

    edges2 = relabel(relabel(new_e, "src"), "dst")
    comp2 = components_from_edges(edges2)
    all_ids = docs.select(F.col("doc_id").alias("id"))
    with_old = all_ids.join(old_lab, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("label0")
    )
    # comp2 is O(delta batch + its touched clusters) — bounded by the
    # incremental batch size BY DESIGN (the whole point of IVM refresh),
    # unlike the full old-label map above; broadcasting it is the
    # correct scale shape
    final = with_old.join(
        F.broadcast(
            comp2.select(
                F.col("id").alias("label0"),
                F.col("component").alias("label1"),
            )
        ),
        "label0",
        "left",
    ).select(
        F.col("id").alias("doc_id"),
        F.coalesce("label1", "label0").cast("long").alias("component"),
    )
    return final


_AUTOCORR_SQL = """
WITH s AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x,
         CAST(ts AS TIMESTAMP) AS ts, event_id
  FROM events WHERE event_id IS NOT NULL),
p AS (
  SELECT event_type, x,
         lead(x) OVER (PARTITION BY event_type ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS y
  FROM s),
m AS (
  SELECT event_type, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM p WHERE y IS NOT NULL GROUP BY event_type)
SELECT event_type, n,
       round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS autocorr_lag1
FROM m ORDER BY event_type
"""


@register("ts_autocorrelation", _AUTOCORR_SQL)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation per stream: Pearson correlation between
    consecutive observations — the seriality diagnostic that separates
    white noise from trending/mean-reverting feeds (and calibrates how
    much ts_ewma smoothing is defensible). Values fix to integer cents,
    the five power sums are exact BIGINTs shuffled as map-side partials
    (the a8_corr discipline applied along the time axis via one lead
    window), and the single float expression runs once per group on
    identical integers in both engines. Consecutive-pair formation
    needs a TOTAL order — rows with a null event_id (the unique
    tie-break) are excluded on both sides (r16: two null-id rows at
    the same ts pair nondeterministically in BOTH engines)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    p = s.select(
        "event_type", "x", F.lead("x").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    m = p.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    num = n * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    )
    return m.select(
        "event_type", "n", F.round(num / den, 6).alias("autocorr_lag1")
    ).orderBy("event_type")


_ATTR_WINDOW_S = 7 * 86400


@register(
    "attribution_last_touch",
    f"""
    WITH conv AS (
      SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
      FROM events WHERE event_type = 'purchase'),
    touch AS (
      SELECT event_id AS t_id, user_id, event_type AS channel,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type IN ('click', 'view')),
    ranked AS (
      SELECT c.event_id, c.value, t.channel,
             row_number() OVER (PARTITION BY c.event_id
               ORDER BY t.ts DESC, t.t_id DESC) AS rn
      FROM conv c JOIN touch t
        ON t.user_id = c.user_id
       AND t.ts <= c.ts
       AND t.ts >= c.ts - INTERVAL {_ATTR_WINDOW_S} SECOND),
    attr AS (SELECT event_id, value, channel FROM ranked WHERE rn = 1)
    SELECT channel, count(*) AS n_conversions,
           {dsum_sql('value')} AS attributed_value
    FROM attr GROUP BY channel ORDER BY channel
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase credits the most recent
    click/view by the same user inside a 7-day lookback — the
    single-touch model every marketing warehouse starts from (the
    backward as-of join wearing its business hat; multi-touch models
    change only the window aggregation). Per-user equi-join bounds
    fan-out, one argmax window per conversion, decimal partials for the
    credited revenue. At 100 TB the j_range_bucketed time-cell rewrite
    stacks under the lookback predicate."""
    ev = table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("c_ts"), "value"
    )
    touch = ev.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        "user_id",
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
    )
    j = conv.join(
        touch,
        (conv.user_id == touch.user_id)
        & (F.col("t_ts") <= F.col("c_ts"))
        & (
            F.col("t_ts")
            >= F.col("c_ts") - F.expr(f"INTERVAL {_ATTR_WINDOW_S} SECOND")
        ),
    )
    w = Window.partitionBy("event_id").orderBy(
        F.col("t_ts").desc(), F.col("t_id").desc()
    )
    attr = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "value", "channel")
    )
    return (
        attr.groupBy("channel")
        .agg(
            F.count("*").alias("n_conversions"),
            dsum(F.col("value")).alias("attributed_value"),
        )
        .orderBy("channel")
    )


@register(
    "s27_csv_badrecords",
    """
    WITH rows0 AS (
      SELECT o_orderkey, o_totalprice, o_orderstatus,
             o_orderkey % 53 = 0 AS is_bad
      FROM orders WHERE o_orderkey < 3000)
    SELECT count(*) FILTER (WHERE NOT is_bad) AS n_good,
           count(*) FILTER (WHERE is_bad) AS n_bad,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                FILTER (WHERE NOT is_bad) AS DOUBLE) AS good_total
    FROM rows0
    """,
)
def s27_csv_badrecords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV corrupt-record channel (the CSV twin of s6_features_corrupt):
    a feed where every 53rd line is malformed (wrong arity / non-numeric
    price) is read in PERMISSIVE mode with an explicit schema and a
    _corrupt_record column — bad lines land in the quarantine channel
    with their raw text preserved instead of failing the job or
    silently nulling (the ingest posture the reference's CSV loader
    lacks, mysql_process.py:94-100). The oracle predicts the good/bad
    split and the parsed aggregate in closed form."""
    import csv

    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 3000)
        .select("o_orderkey", "o_totalprice", "o_orderstatus")
        .collect()
    )
    d = scratch_dir("csv_bad_")
    path = os.path.join(d, "feed.csv")
    with open(path, "w", newline="") as fh:
        w = csv.writer(fh)
        for r in o:
            if r["o_orderkey"] % 53 == 0:
                fh.write(f"{r['o_orderkey']},not_a_price\n")
            else:
                w.writerow(
                    [r["o_orderkey"], r["o_totalprice"], r["o_orderstatus"]]
                )
    schema = (
        "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING, "
        "_corrupt_record STRING"
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    df = df.cache()  # one pass feeds both channels (SPARK-21610 posture)
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.count_if(~bad).alias("n_good"),
        F.count_if(bad).alias("n_bad"),
        F.sum(
            F.when(~bad, F.col("o_totalprice").cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("good_total"),
    )


def _mmr_sql() -> str:
    cos = V.cosine_sql("a.v", "b.v")
    head = f"""
WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks) AS dl FROM d),
stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, t, count(*) AS tf
  FROM (SELECT doc_id, unnest(toks) AS t FROM d)
  WHERE t IN {_HYBRID_TERMS_SQL} GROUP BY doc_id, t),
df AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
scored AS (
  SELECT tf.doc_id,
         sum(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
             * tf.tf * ({_BM25_K1} + 1)
             / (tf.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * dl.dl / s.avgdl))
         ) AS score
  FROM tf JOIN df USING (t) JOIN dl USING (doc_id) CROSS JOIN stats s
  GROUP BY tf.doc_id),
cand AS MATERIALIZED (
  SELECT doc_id,
         CAST(floor(round(score, 6) * 1e6 + 0.5) AS BIGINT) AS rel_micro
  FROM (SELECT doc_id, score,
               row_number() OVER (ORDER BY round(score, 6) DESC, doc_id)
                 AS rnk
        FROM scored)
  WHERE rnk <= 8),
emb8 AS MATERIALIZED (
  SELECT c.doc_id, c.rel_micro, CAST(e.embedding AS DOUBLE[]) AS v
  FROM cand c JOIN embeddings e ON e.vec_id = c.doc_id),
sim AS MATERIALIZED (
  SELECT a.doc_id AS a, b.doc_id AS b,
         CAST(floor(round({cos}, 6) * 1e6 + 0.5) AS BIGINT) AS s
  FROM emb8 a JOIN emb8 b ON a.doc_id <> b.doc_id),
p1 AS MATERIALIZED (
  SELECT doc_id, rel_micro, CAST(7 * rel_micro AS BIGINT) AS score_micro,
         1 AS rank
  FROM emb8 ORDER BY rel_micro DESC, doc_id LIMIT 1),
sel1 AS MATERIALIZED (SELECT doc_id FROM p1)"""
    steps = []
    for k in range(2, 6):
        prev_sel = f"sel{k - 1}"
        steps.append(f""",
c{k} AS MATERIALIZED (
  SELECT e.doc_id, e.rel_micro, max(s.s) AS ms
  FROM emb8 e JOIN sim s ON s.a = e.doc_id
  WHERE s.b IN (SELECT doc_id FROM {prev_sel})
    AND e.doc_id NOT IN (SELECT doc_id FROM {prev_sel})
  GROUP BY e.doc_id, e.rel_micro),
p{k} AS (
  SELECT doc_id, rel_micro,
         CAST(7 * rel_micro - 3 * ms AS BIGINT) AS score_micro, {k} AS rank
  FROM c{k} ORDER BY 7 * rel_micro - 3 * ms DESC, doc_id LIMIT 1),
sel{k} AS MATERIALIZED (SELECT doc_id FROM {prev_sel} UNION ALL SELECT doc_id FROM p{k})""")
    tail = "\n" + "\nUNION ALL\n".join(
        f"SELECT rank, doc_id, rel_micro, score_micro FROM p{k}"
        for k in range(1, 6)
    )
    return head + "".join(steps) + tail


@register("hybrid_mmr_topk", _mmr_sql())
def hybrid_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified re-ranking (Carbonell & Goldstein 1998): greedily
    pick 5 of the top-8 BM25 candidates maximizing λ·relevance −
    (1−λ)·max-similarity-to-selected (λ=0.7, embedding cosine as the
    redundancy signal) — the serving-layer answer to near-duplicate
    result lists that pure relevance ranking (bm25_topk) and fusion
    (hybrid_rrf_topk) both exhibit. The greedy recursion unrolls into 5
    plan steps over an 8-row candidate set — each an anti-join +
    max-sim aggregate + argmin-window — so nothing iterative touches
    the executors; λ-weights are exact integer tenths (7·rel − 3·sim in
    micro units). At 100 TB only candidate generation scales; MMR
    always runs on k² similarities."""
    emb = table(spark, sf_dir, "embeddings")
    cand = (
        bm25_topk(spark, sf_dir)
        .filter(F.col("rank") <= 8)
        .select(
            "doc_id",
            F.floor(F.col("bm25") * 1e6 + F.lit(0.5))
            .cast("bigint")
            .alias("rel_micro"),
        )
    )
    emb8 = cand.join(
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v"),
        ),
        "doc_id",
    ).localCheckpoint()
    ea = emb8.select(
        F.col("doc_id").alias("a"),
        F.col("v").alias("va"),
    )
    eb = emb8.select(F.col("doc_id").alias("b"), F.col("v").alias("vb"))
    sim = (
        ea.join(eb, F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.floor(
                F.round(V.cosine(F.col("va"), F.col("vb")), 6) * 1e6
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("s"),
        )
        .localCheckpoint()
    )
    selected = (
        emb8.orderBy(F.col("rel_micro").desc(), "doc_id")
        .limit(1)
        .select(
            F.lit(1).alias("rank"),
            "doc_id",
            "rel_micro",
            (7 * F.col("rel_micro")).cast("bigint").alias("score_micro"),
        )
    )
    for k in range(2, 6):
        sel_ids = selected.select("doc_id")
        rem = emb8.join(sel_ids, "doc_id", "left_anti")
        ms = (
            rem.join(sim, rem.doc_id == sim.a)
            .join(
                F.broadcast(sel_ids.select(F.col("doc_id").alias("b"))), "b"
            )
            .groupBy(rem.doc_id, "rel_micro")
            .agg(F.max("s").alias("ms"))
        )
        pick = (
            ms.select(
                F.lit(k).alias("rank"),
                "doc_id",
                "rel_micro",
                (7 * F.col("rel_micro") - 3 * F.col("ms"))
                .cast("bigint")
                .alias("score_micro"),
            )
            .orderBy(F.col("score_micro").desc(), "doc_id")
            .limit(1)
        )
        # checkpoint per pick: step k's plan otherwise embeds steps
        # 1..k-1 and re-executes the whole prefix at every level
        selected = selected.unionByName(pick).localCheckpoint()
    return selected


@register(
    "ts_local_peaks",
    """
    WITH s AS (
      SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x,
             CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE event_id IS NOT NULL),
    n AS (
      SELECT event_type, x,
             lag(x) OVER w AS xp, lead(x) OVER w AS xn
      FROM s
      WINDOW w AS (PARTITION BY event_type ORDER BY ts NULLS FIRST, event_id NULLS FIRST)),
    pk AS (
      SELECT event_type, x - greatest(xp, xn) AS prom
      FROM n WHERE xp IS NOT NULL AND xn IS NOT NULL
        AND x > xp AND x > xn)
    SELECT event_type,
           count(*) AS n_peaks,
           count(*) FILTER (WHERE prom >= 200) AS n_prominent,
           CAST(max(prom) AS BIGINT) AS max_prominence_cents
    FROM pk GROUP BY event_type ORDER BY event_type
    """,
)
def ts_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-peak detection with a prominence floor: a sample is a peak
    when it exceeds both neighbors, and 'prominent' when it clears them
    by ≥ 2.00 — the spike census behind alert tuning (ts_cusum_alerts
    finds sustained shifts; this counts instantaneous spikes, and the
    prominence floor is what separates signal from jitter). One
    lag+lead window per stream over integer cents, then a conditional
    aggregate — no joins, map-side combined. Neighbor comparison needs
    a TOTAL order — null event_id rows excluded both sides (r16, same
    rule as ts_autocorrelation)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id").isNotNull())
    s = ev.select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    n = s.select(
        "event_type",
        "x",
        F.lag("x").over(w).alias("xp"),
        F.lead("x").over(w).alias("xn"),
    )
    pk = n.filter(
        F.col("xp").isNotNull()
        & F.col("xn").isNotNull()
        & (F.col("x") > F.col("xp"))
        & (F.col("x") > F.col("xn"))
    ).select(
        "event_type",
        (F.col("x") - F.greatest("xp", "xn")).alias("prom"),
    )
    return (
        pk.groupBy("event_type")
        .agg(
            F.count("*").alias("n_peaks"),
            F.count_if(F.col("prom") >= 200).alias("n_prominent"),
            F.max("prom").alias("max_prominence_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "a25_skyline_2d",
    """
    WITH o AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_c,
             CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
                  AS BIGINT) AS day_n
      FROM orders WHERE o_custkey < 300
        AND o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL),
    per_price AS (
      SELECT price_c, CAST(max(day_n) AS BIGINT) AS best_day
      FROM o GROUP BY price_c),
    run AS (
      SELECT price_c, best_day,
             max(best_day) OVER (ORDER BY price_c
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_best
      FROM per_price),
    sky_prices AS (
      SELECT price_c, best_day FROM run
      WHERE prev_best IS NULL OR best_day > prev_best)
    SELECT o.o_orderkey, o.price_c, o.day_n
    FROM o JOIN sky_prices s
      ON o.price_c = s.price_c AND o.day_n = s.best_day
    """,
)
def a25_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator: the orders not dominated in
    (minimize price, maximize recency) — the multi-criteria shortlist
    query (BNL/D&C in the OLAP literature) that no single ORDER BY can
    answer. 2-D skylines reduce to ONE ordered window: group to
    distinct prices (map-side), take the running max of best-date over
    strictly cheaper prices, and a price level survives iff it beats
    that prefix max — O(n log n) total, no pairwise domination join
    (the naive skyline is quadratic). Ties on both axes all survive,
    matching the standard weak-domination definition. Exact integer
    cents/day numbers end-to-end. A skyline point needs BOTH axes —
    rows missing either are excluded on both sides (r16)."""
    o = table(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") < 300)
        & F.col("o_totalprice").isNotNull()
        & F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("price_c"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400)
        .cast("bigint")
        .alias("day_n"),
    )
    per_price = o.groupBy("price_c").agg(F.max("day_n").alias("best_day"))
    w = Window.orderBy("price_c").rowsBetween(
        Window.unboundedPreceding, -1
    )
    run = per_price.withColumn("prev_best", F.max("best_day").over(w))
    sky = run.filter(
        F.col("prev_best").isNull() | (F.col("best_day") > F.col("prev_best"))
    ).select(
        F.col("price_c").alias("sky_price"), F.col("best_day")
    )
    return o.join(
        F.broadcast(sky),
        (o.price_c == sky.sky_price) & (o.day_n == sky.best_day),
    ).select("o_orderkey", "price_c", "day_n")


_QT_THRESHOLD = 300
_QT_N = 20000


@register(
    "geo_quadtree_cells",
    f"""
    WITH pts AS (
      SELECT (i * 73 % 997) / 997.0 * 16.0 - 2.0 AS lon,
             (i * 131 % 983) / 983.0 * 14.0 - 2.0 AS lat
      FROM (SELECT unnest(generate_series(0, {_QT_N - 1})) AS i)),
    q AS (
      SELECT CAST(floor((lon + 2.0) / 16.0 * 8) AS BIGINT) AS cx3,
             CAST(floor((lat + 2.0) / 16.0 * 8) AS BIGINT) AS cy3
      FROM pts),
    l3 AS (SELECT cx3, cy3, count(*) AS n3 FROM q GROUP BY cx3, cy3),
    l2 AS (SELECT cx3 // 2 AS cx2, cy3 // 2 AS cy2,
                  CAST(sum(n3) AS BIGINT) AS n2
           FROM l3 GROUP BY cx2, cy2),
    l1 AS (SELECT cx2 // 2 AS cx1, cy2 // 2 AS cy1,
                  CAST(sum(n2) AS BIGINT) AS n1
           FROM l2 GROUP BY cx1, cy1),
    pick AS (
      SELECT l3.cx3, l3.cy3, l3.n3, l2.n2, l1.n1,
             CASE WHEN l1.n1 <= {_QT_THRESHOLD} THEN 1
                  WHEN l2.n2 <= {_QT_THRESHOLD} THEN 2
                  ELSE 3 END AS level
      FROM l3
      JOIN l2 ON l2.cx2 = l3.cx3 // 2 AND l2.cy2 = l3.cy3 // 2
      JOIN l1 ON l1.cx1 = l3.cx3 // 4 AND l1.cy1 = l3.cy3 // 4)
    SELECT level,
           CASE level WHEN 1 THEN cx3 // 4 WHEN 2 THEN cx3 // 2
                      ELSE cx3 END AS cell_x,
           CASE level WHEN 1 THEN cy3 // 4 WHEN 2 THEN cy3 // 2
                      ELSE cy3 END AS cell_y,
           CAST(sum(n3) AS BIGINT) AS n_points
    FROM pick GROUP BY level, cell_x, cell_y
    """,
)
def geo_quadtree_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive quadtree tiling: each region is served at the COARSEST
    level whose cell stays under the occupancy threshold, and dense
    regions subdivide (3 unrolled levels over an 8×8 finest grid) —
    the density-adaptive partitioning that fixes what geo_grid_density
    diagnoses and geo_contains_grid's fixed cells suffer: uniform grids
    over skewed data give hot cells (salting territory) AND empty ones.
    Counts aggregate bottom-up (each level from the one below, never a
    rescan); level choice is a broadcast join of three cell-count
    tables; everything is integer cell arithmetic."""
    pts = spark.range(_QT_N).select(
        ((F.col("id") * 73 % 997) / 997.0 * 16.0 - 2.0).alias("lon"),
        ((F.col("id") * 131 % 983) / 983.0 * 14.0 - 2.0).alias("lat"),
    )
    q = pts.select(
        F.floor((F.col("lon") + 2.0) / 16.0 * 8).cast("bigint").alias("cx3"),
        F.floor((F.col("lat") + 2.0) / 16.0 * 8).cast("bigint").alias("cy3"),
    )
    l3 = q.groupBy("cx3", "cy3").agg(F.count("*").alias("n3"))
    l2 = l3.groupBy(
        F.floor(F.col("cx3") / 2).cast("bigint").alias("cx2"),
        F.floor(F.col("cy3") / 2).cast("bigint").alias("cy2"),
    ).agg(F.sum("n3").alias("n2"))
    l1 = l2.groupBy(
        F.floor(F.col("cx2") / 2).cast("bigint").alias("cx1"),
        F.floor(F.col("cy2") / 2).cast("bigint").alias("cy1"),
    ).agg(F.sum("n2").alias("n1"))
    pick = (
        l3.join(
            F.broadcast(l2),
            (F.floor(F.col("cx3") / 2) == F.col("cx2"))
            & (F.floor(F.col("cy3") / 2) == F.col("cy2")),
        )
        .join(
            F.broadcast(l1),
            (F.floor(F.col("cx3") / 4) == F.col("cx1"))
            & (F.floor(F.col("cy3") / 4) == F.col("cy1")),
        )
        .select(
            "cx3",
            "cy3",
            "n3",
            F.when(F.col("n1") <= _QT_THRESHOLD, 1)
            .when(F.col("n2") <= _QT_THRESHOLD, 2)
            .otherwise(3)
            .alias("level"),
        )
    )
    cell = lambda c: (  # noqa: E731
        F.when(F.col("level") == 1, F.floor(F.col(c) / 4))
        .when(F.col("level") == 2, F.floor(F.col(c) / 2))
        .otherwise(F.col(c))
        .cast("bigint")
    )
    return pick.groupBy(
        "level", cell("cx3").alias("cell_x"), cell("cy3").alias("cell_y")
    ).agg(F.sum("n3").alias("n_points"))


@register(
    "ts_wma",
    """
    WITH s AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x,
             CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE user_id < 20),
    l AS (
      SELECT user_id, ts, event_id, x,
             lag(x, 1) OVER w AS x1, lag(x, 2) OVER w AS x2,
             lag(x, 3) OVER w AS x3
      FROM s WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST))
    SELECT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           x,
           CAST((4 * x + 3 * x1 + 2 * x2 + 1 * x3) // 10 AS BIGINT)
             AS wma_cents
    FROM l WHERE x3 IS NOT NULL
    """,
)
def ts_wma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-weighted moving average (WMA-4): the newest of 4 samples
    weighs 4/10, the oldest 1/10 — the finite-window, integer-exact
    smoother between the plain moving average and ts_ewma's infinite
    tail (weights sum to 10, so the division is exact integer division
    of a non-negative sum — zero float anywhere). One lag window per
    key; rows without a full 4-sample history are excluded rather than
    silently under-weighted."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    s = ev.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    l = s.select(
        "user_id",
        "ts",
        "x",
        F.lag("x", 1).over(w).alias("x1"),
        F.lag("x", 2).over(w).alias("x2"),
        F.lag("x", 3).over(w).alias("x3"),
    ).filter(F.col("x3").isNotNull())
    return l.select(
        "user_id",
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("epoch_s"),
        "x",
        F.floor(
            (4 * F.col("x") + 3 * F.col("x1") + 2 * F.col("x2") + F.col("x3"))
            / 10
        )
        .cast("bigint")
        .alias("wma_cents"),
    )


@register(
    "multimodal_scene_cuts",
    """
    WITH fr AS (
      SELECT doc_id, (i * 10) AS frame_idx,
             ('0x' || substring(
                md5(md5(text) || ':' || (i * 10)::VARCHAR), 1, 2))::BIGINT
               AS intensity
      FROM documents CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i)),
    d AS (
      SELECT doc_id, frame_idx, intensity,
             lag(intensity) OVER (PARTITION BY doc_id ORDER BY frame_idx)
               AS prev
      FROM fr)
    SELECT doc_id,
           count(*) FILTER (WHERE prev IS NOT NULL
                              AND abs(intensity - prev) > 64) AS n_cuts,
           CAST(max(abs(intensity - prev)) AS BIGINT) AS max_delta
    FROM d GROUP BY doc_id HAVING count(*) FILTER (WHERE prev IS NOT NULL
                              AND abs(intensity - prev) > 64) > 0
    """,
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection over sampled video frames: consecutive frame
    intensities (digest stub — a real decoder swaps in per-frame luma
    histograms, nothing else changes) compared per document, a cut
    declared when the jump clears a threshold — the shot-boundary pass
    that picks keyframes for captioning/embedding instead of wasting
    compute on every frame. Frames come from the one-to-many frame
    explode (multimodal_frames' contract); the boundary logic is one lag
    window per asset + a conditional aggregate. At 100 TB each asset's
    frames stay in one partition group — the window never crosses
    assets."""
    from ..sources.binary import sample_frames

    docs = table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("path"),
        F.col("text").cast("binary").alias("content"),
    )
    frames = sample_frames(docs)
    fr = frames.select(
        F.col("path").cast("long").alias("doc_id"),
        "frame_idx",
        F.conv(F.substring("frame_key", 1, 2), 16, 10)
        .cast("bigint")
        .alias("intensity"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    d = fr.withColumn("prev", F.lag("intensity").over(w))
    cut = F.col("prev").isNotNull() & (
        F.abs(F.col("intensity") - F.col("prev")) > 64
    )
    return (
        d.groupBy("doc_id")
        .agg(
            F.count_if(cut).alias("n_cuts"),
            F.max(F.abs(F.col("intensity") - F.col("prev"))).alias(
                "max_delta"
            ),
        )
        .filter(F.col("n_cuts") > 0)
    )
