"""Registry segment 05 (mechanical split of plans/queries.py, r17).

- Training-data pipeline ops, round 2: packing, mixture, contamination, repetition, bloom-prefiltered join

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    DataFrame,
    F,
    GF,
    H,
    SparkSession,
    TX,
    Window,
    drain,
    dsum,
    dsum_sql,
    events_stream,
    os,
    register,
    scratch_dir,
    spread,
    table,
)

# ======================================================================
# Training-data pipeline ops, round 2: packing, mixture, contamination,
# repetition, bloom-prefiltered join
# ======================================================================

_TOKS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


@register(
    "pack_sequences",
    f"""
    WITH base AS (
      SELECT doc_id, lang, len({_TOKS_SQL}) AS n_tok,
             {H.hash64_sql('doc_id::VARCHAR', 41)} AS ord_key
      FROM documents),
    packed AS (
      SELECT lang, n_tok,
             CAST(floor(coalesce(sum(n_tok) OVER (
               PARTITION BY lang ORDER BY ord_key NULLS FIRST, doc_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0)
               AS BIGINT) AS bin_id
      FROM base)
    SELECT lang, bin_id, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY lang, bin_id
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: concatenate documents in a deterministic
    shuffled order and chunk the token stream into fixed context windows
    (2048 tokens) — each doc lands in the bin where its first token
    falls. The pack order is a seeded md5 shuffle (reproducible across
    engines and runs); packing is PER LANGUAGE SHARD, so the window is
    partitioned — no global sort, no single-partition exchange, and at
    100 TB each shard packs independently (the real-world layout: one
    packing stream per data shard/domain)."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "lang",
        TX.token_count(F.col("text")).alias("n_tok"),
        H.hash64(F.col("doc_id"), seed=41).alias("ord_key"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("ord_key", "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = base.select(
        "lang",
        "n_tok",
        F.floor(
            F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / F.lit(2048.0)
        ).alias("bin_id"),
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("bin_tokens")
    )


@register(
    "corpus_mixture",
    """
    WITH agg AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang)
    SELECT lang, n_docs,
      floor((n_docs::DOUBLE / (sum(n_docs) OVER ())) * 1e6 + 0.5) / 1e6 AS share,
      floor((0.2 / (n_docs::DOUBLE / (sum(n_docs) OVER ()))) * 1e6 + 0.5) / 1e6
        AS repeat_factor
    FROM agg
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture reweighting: per-language corpus share and the
    repeat (epoch) factor needed to hit a uniform 20% target mixture —
    the bookkeeping behind up/down-sampling domains for a training run.
    The global window runs over the POST-aggregate (one row per
    language), so the single-partition stage touches ~#domains rows, not
    the corpus; rounding is explicit half-up on both engines."""
    docs = table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = F.sum("n_docs").over(Window.partitionBy())
    share_raw = F.col("n_docs") / tot
    half_up = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return agg.select(
        "lang",
        "n_docs",
        half_up(share_raw).alias("share"),
        half_up(F.lit(0.2) / share_raw).alias("repeat_factor"),
    )


@register(
    "contamination_ngrams",
    f"""
    WITH ev AS (
      SELECT DISTINCT unnest({H.shingles_sql('text', 2)}) AS sh
      FROM documents WHERE doc_id % 97 = 0),
    tr AS (
      SELECT DISTINCT doc_id, unnest({H.shingles_sql('text', 2)}) AS sh
      FROM documents WHERE doc_id % 97 <> 0),
    tot AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id),
    hit AS (SELECT t.doc_id, count(*) AS n_overlap
            FROM tr t JOIN ev USING (sh) GROUP BY t.doc_id)
    SELECT d.doc_id, coalesce(tot.n_shingles, 0) AS n_shingles,
           coalesce(hit.n_overlap, 0) AS n_overlap
    FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
    LEFT JOIN tot USING (doc_id) LEFT JOIN hit USING (doc_id)
    """,
)
def contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: per training document, how many of
    its distinct word bigrams also appear in a held-out eval set (here a
    deterministic 1/97 slice of the corpus). The eval shingle set is
    tiny relative to the corpus, so it BROADCASTS — the training side is
    scanned once, exploded, and semi-matched with no shuffle of the big
    side by shingle; at 100 TB this is the standard inverted-index
    decontamination pass (eval n-grams as the build side)."""
    docs = table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 97 == 0
    ev = (
        docs.filter(is_eval)
        .select(F.explode(H.shingles(F.col("text"), 2)).alias("sh"))
        .distinct()
    )
    tr = (
        spread(docs, "doc_id")  # shingle kernel parallel even off 1 split
        .filter(~is_eval)
        .select("doc_id", F.explode(H.shingles(F.col("text"), 2)).alias("sh"))
        .distinct()
    )
    tot = tr.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    hit = (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    base = docs.filter(~is_eval).select("doc_id")
    return (
        base.join(tot, "doc_id", "left")
        .join(hit, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
        )
    )


@register(
    "text_repetition",
    f"""
    WITH base AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents)
    SELECT doc_id, len(toks) AS n_tok,
           len(list_distinct(toks)) AS n_uniq,
           floor((1.0 - len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1))
                 * 1e6 + 0.5) / 1e6 AS rep_ratio
    FROM base
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition score (Gopher-style quality signal):
    fraction of tokens that are repeats of an earlier token in the same
    doc. Pure per-row column expressions — embarrassingly parallel, no
    shuffle; rounding is explicit half-up so Spark (HALF_UP) and DuckDB
    (half-even on doubles) cannot disagree on knife-edge ratios."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select("doc_id", H.tokens(F.col("text")).alias("toks"))
    n_tok = F.size("toks")
    n_uniq = F.size(F.array_distinct("toks"))
    ratio = 1.0 - n_uniq / F.greatest(n_tok, F.lit(1))
    return base.select(
        "doc_id",
        n_tok.alias("n_tok"),
        n_uniq.alias("n_uniq"),
        (F.floor(ratio * 1e6 + F.lit(0.5)) / 1e6).alias("rep_ratio"),
    )


_BLOOM_M = 8192  # bits in the two-hash bloom prefilter


@register(
    "j_bloom_prefilter",
    """
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 9900)
    GROUP BY o.o_orderpriority
    """,
)
def j_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: the small build side (high-balance
    customers) is condensed into a two-hash bloom bit set (≤2·|build|
    distinct ints, kilobytes) that is BROADCAST and applied to the fact
    scan as two semi-joins BEFORE the exact key match — the hand-rolled
    twin of Spark's row-level runtime filtering. Output is exactly the
    semi-join (the bloom layers only prune, false positives are removed
    by the final exact semi-join), so the oracle is a plain EXISTS. At
    100 TB the bloom prefilter drops ~(1 - |build|/m)^2 of fact rows
    before any shuffle or probe of the real key set."""
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select("c_custkey")
    )
    orders = table(spark, sf_dir, "orders")
    bits = cust.select(
        F.explode(
            F.array(
                H.hash64(F.col("c_custkey"), seed=1) % _BLOOM_M,
                H.hash64(F.col("c_custkey"), seed=2) % _BLOOM_M,
            )
        ).alias("bit")
    ).distinct()
    pref = orders
    for s in (1, 2):
        b = bits.withColumnRenamed("bit", f"bit{s}")
        pref = pref.join(
            F.broadcast(b),
            (H.hash64(F.col("o_custkey"), seed=s) % _BLOOM_M) == F.col(f"bit{s}"),
            "left_semi",
        )
    # cust is linear-in-SF — unhinted; stats broadcast it while small
    exact = pref.join(
        cust, pref.o_custkey == cust.c_custkey, "left_semi"
    )
    return exact.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


@register(
    "incremental_agg_merge",
    """
    SELECT year(o_orderdate)*100 + month(o_orderdate) AS month_key,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_price
    FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the historical partition
    ("state": orders before 1997) and the fresh partition ("delta") are
    aggregated SEPARATELY into algebraic partial states (count, decimal
    sum) and then MERGED by re-aggregating the states — never rescanning
    history. The oracle is the full direct aggregate, proving state-merge
    ≡ recompute. At 100 TB this is the nightly-refresh pattern: the
    state table is O(groups), the delta scan is O(new data), and decimal
    partials make the merge order-independent bit-for-bit.

    Null-partition-key contract (r16): a row with NULL o_orderdate
    belongs to neither the state nor the delta partition — the split
    predicates exclude it on the Spark side, and the oracle carries the
    same explicit IS NOT NULL."""
    orders = table(spark, sf_dir, "orders")
    month_key = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias(
        "month_key"
    )

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy(month_key).agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"),
        )

    state = partial(orders.filter(F.col("o_orderdate") < "1997-01-01"))
    delta = partial(orders.filter(F.col("o_orderdate") >= "1997-01-01"))
    return (
        state.unionByName(delta)
        .groupBy("month_key")
        .agg(
            F.sum("cnt").alias("n_orders"),
            F.sum("s").cast("double").alias("total_price"),
        )
    )


@register(
    "training_order",
    f"""
    SELECT doc_id,
           {H.hash64_sql('doc_id::VARCHAR', 99)} % 32 AS shard,
           row_number() OVER (
             PARTITION BY {H.hash64_sql('doc_id::VARCHAR', 99)} % 32
             ORDER BY {H.hash64_sql('doc_id::VARCHAR', 100)}, doc_id) AS position
    FROM documents
    """,
)
def training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-order shuffle: every doc gets a
    reproducible (shard, position) — shard from one seeded md5, position
    from a row_number ordered by a second independent hash WITHIN the
    shard. No global sort: the window is partitioned 32 ways, so at
    100 TB each shard orders independently (and maps 1:1 onto output
    files via repartitionByRange/partitionBy on shard)."""
    docs = table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        (H.hash64(F.col("doc_id"), seed=99) % 32).alias("shard"),
        H.hash64(F.col("doc_id"), seed=100).alias("__ord"),
    )
    w = Window.partitionBy("shard").orderBy("__ord", "doc_id")
    return base.select(
        "doc_id", "shard", F.row_number().over(w).alias("position")
    )


def _trade_edges_sql() -> str:
    """Nation-to-nation trade edges (customer nation → supplier nation,
    weighted by lineitem count) + per-source totals, as SQL CTE bodies."""
    return """
    e AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, count(*) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2),
    ow AS (SELECT src, sum(w) AS out_w FROM e GROUP BY src),
    ew AS (SELECT e.src, e.dst, e.w, ow.out_w FROM e JOIN ow USING (src))
    """


def _pagerank_iter_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
      SELECT n.id,
             CAST(6000000000 + (85 * coalesce(f.infl, 0)) // 100 AS BIGINT) AS r
      FROM (SELECT id FROM r0) n
      LEFT JOIN (
        SELECT ew.dst AS id, sum((p.r * ew.w) // ew.out_w) AS infl
        FROM {prev} p JOIN ew ON ew.src = p.id GROUP BY ew.dst) f
      USING (id))
    """


@register(
    "graph_pagerank",
    "WITH "
    + _trade_edges_sql()
    + ", r0 AS (SELECT n_nationkey AS id, CAST(40000000000 AS BIGINT) AS r FROM nation),"
    + _pagerank_iter_sql("r0", "r1")
    + ","
    + _pagerank_iter_sql("r1", "r2")
    + ","
    + _pagerank_iter_sql("r2", "r3")
    + """
    SELECT n.n_name, r3.r AS rank_e12
    FROM r3 JOIN nation n ON n.n_nationkey = r3.id
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 unrolled iterations, damping 0.85) over the
    nation trade graph: customer-nation → supplier-nation edges weighted
    by lineitem count. Ranks are held in FIXED-POINT BIGINT (units of
    1e-12) with floor integer division — every arithmetic step is exact
    and order-independent, so Spark's partition-parallel sums and the
    DuckDB oracle agree bit-for-bit (no float-summation drift, the thing
    that normally makes iterative numeric algorithms un-verifiable
    cross-engine). The per-iteration plan is: tiny rank table (|V| rows)
    broadcast-joined to the edge list, one groupBy(dst) — at 100 TB the
    edge AGGREGATION dominates and shuffles once; iterations touch only
    the aggregated |V|² graph."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation")

    e = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)  # linear-in-SF
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)  # linear-in-SF
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
        # r20 (guide §1.2 / §3.3 plan truncation): the aggregated edge
        # table (≤|V|² = 625 rows) fed every unrolled iteration WITHOUT
        # any common-subtree reuse — the plan carried 58 parquet scans /
        # 80 exchanges, re-running the 4-table join+agg once per
        # iteration reference. A lazy localCheckpoint materializes it
        # once; every downstream join already has an explicit broadcast
        # side, so the RDD's missing stats change no join choice.
        # Same-session A/B (min-of-3): 2.14 → 1.92 s warm, 7.00 → 2.90 s
        # first pass; hash-identical.
        .localCheckpoint(eager=False)
    )
    ow = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    ew = e.join(F.broadcast(ow), "src").localCheckpoint(eager=False)

    nodes = nation.select(F.col("n_nationkey").alias("id"))
    ranks = nodes.select("id", F.lit(40000000000).alias("r"))
    for _ in range(3):
        infl = (
            F.broadcast(ranks.withColumnRenamed("id", "src"))
            .join(ew, "src")
            .select(F.col("dst").alias("id"), F.expr("(r * w) div out_w").alias("c"))
            .groupBy("id")
            .agg(F.sum("c").alias("infl"))
        )
        ranks = nodes.join(F.broadcast(infl), "id", "left").select(
            "id",
            (
                F.lit(6000000000)
                + F.expr("(85 * coalesce(infl, 0)) div 100")
            ).alias("r"),
        )
    return ranks.join(F.broadcast(nation), ranks.id == nation.n_nationkey).select(
        "n_name", F.col("r").alias("rank_e12")
    )


_CMS_W, _CMS_D = 256, 3  # count-min sketch width (columns) and depth (hash rows)


def _cms_hash_sql(expr: str) -> str:
    return f"(('0x' || substring(md5(s::VARCHAR || ':' || {expr}), 1, {H.HASH_HEX_CHARS}))::BIGINT % {_CMS_W})"


@register(
    "cms_heavy_hitters",
    f"""
    WITH tok AS (SELECT unnest({_TOKS_SQL}) AS tok FROM documents),
    cells AS (SELECT tok, s, {_cms_hash_sql('tok')} AS col
              FROM tok CROSS JOIN generate_series(0, {_CMS_D - 1}) t(s)),
    sketch AS (SELECT s, col, count(*) AS cnt FROM cells GROUP BY s, col),
    q AS (SELECT DISTINCT tok, s, col FROM cells),
    est AS (SELECT q.tok, min(sk.cnt) AS cms_est
            FROM q JOIN sketch sk ON sk.s = q.s AND sk.col = q.col
            GROUP BY q.tok),
    exact AS (SELECT tok, count(*) AS exact_n FROM tok GROUP BY tok)
    SELECT e.tok, e.exact_n, est.cms_est FROM exact e JOIN est USING (tok)
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the corpus token stream ({_CMS_D} hash rows ×
    {_CMS_W} columns), queried for every vocabulary token next to its
    exact count (est ≥ exact always; equal when no bucket collision).
    The sketch is an ALGEBRAIC aggregate — O(d·w) cells regardless of
    corpus size, built with map-side partial counts and mergeable across
    partitions/days — the scale story for streaming heavy-hitters where
    exact per-token counts would need a corpus-wide shuffle. The seeded
    md5 hash family makes the sketch bit-identical in both engines."""
    docs = table(spark, sf_dir, "documents")
    tok = docs.select(F.explode(H.tokens(F.col("text"))).alias("tok"))
    cells = tok.select(
        "tok",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        (H.hash64(F.col("tok"), seed=s) % _CMS_W).alias("col"),
                    )
                    for s in range(_CMS_D)
                ]
            )
        ).alias("sc"),
    ).select("tok", F.col("sc.s").alias("s"), F.col("sc.col").alias("col"))
    sketch = cells.groupBy("s", "col").agg(F.count("*").alias("cnt"))
    q = cells.distinct()
    est = (
        q.join(sketch, ["s", "col"])
        .groupBy("tok")
        .agg(F.min("cnt").alias("cms_est"))
    )
    exact = tok.groupBy("tok").agg(F.count("*").alias("exact_n"))
    return exact.join(est, "tok").select("tok", "exact_n", "cms_est")


@register(
    "dq_constraints",
    """
    SELECT 'orders_totalprice_positive' AS rule,
           count(*) FILTER (WHERE o_totalprice IS NULL OR o_totalprice <= 0)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_orderkey_unique',
           count(*) - count(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'orders_custkey_fk',
           count(*) FILTER (WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
    FROM orders o
    UNION ALL
    SELECT 'lineitem_quantity_le_45',
           count(*) FILTER (WHERE l_quantity > 45) FROM lineitem
    UNION ALL
    SELECT 'lineitem_discount_in_0_1',
           count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) FROM lineitem
    """,
)
def dq_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (Deequ-style ingest validation): one
    violation count per declared rule — null/range checks as conditional
    aggregates (ONE scan per table, map-side combined), uniqueness as
    count minus count-distinct, referential integrity as an anti-join
    count with the dimension side broadcast. At 100 TB the whole audit
    is two fact scans + one broadcast — this is the pre-publish gate a
    lake pipeline runs on every batch."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    cust = table(spark, sf_dir, "customer").select("c_custkey")

    def one(rule: str, agg: F.Column, df: DataFrame) -> DataFrame:
        return df.agg(agg.alias("n_violations")).select(
            F.lit(rule).alias("rule"), "n_violations"
        )

    bad_price = F.count_if(
        F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0)
    )
    dup_keys = F.count("*") - F.countDistinct("o_orderkey")
    orphans = one(
        "orders_custkey_fk",
        F.count("*"),
        orders.join(
            cust, orders.o_custkey == cust.c_custkey, "left_anti"  # linear-in-SF: unhinted
        ),
    )
    return (
        one("orders_totalprice_positive", bad_price, orders)
        .unionByName(one("orders_orderkey_unique", dup_keys, orders))
        .unionByName(orphans)
        .unionByName(one("lineitem_quantity_le_45", F.count_if(F.col("l_quantity") > 45), li))
        .unionByName(
            one(
                "lineitem_discount_in_0_1",
                F.count_if((F.col("l_discount") < 0) | (F.col("l_discount") > 1)),
                li,
            )
        )
    )


@register(
    "stratified_sample",
    f"""
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             row_number() OVER (PARTITION BY lang
               ORDER BY {H.hash64_sql('doc_id::VARCHAR', 7)} NULLS FIRST,
                        doc_id NULLS FIRST) AS rn
      FROM documents)
    WHERE rn <= 10
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size stratified sample: exactly k=10 docs per language,
    chosen by a seeded md5 order — deterministic and reproducible across
    runs/engines (unlike TABLESAMPLE), the eval-holdout / inspection
    sampling primitive. Partitioned window (one shuffle by stratum); at
    100 TB a two-phase refinement (per-partition top-k then global top-k
    per stratum, i.e. the topk_per_group shape) bounds state."""
    docs = table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        H.hash64(F.col("doc_id"), seed=7), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("lang", "doc_id")
    )


@register(
    "streaming_dedup",
    # r19 initial-watermark cut (extreme allowlist): Spark's watermark
    # starts at epoch 0, so pre-1970 rows are late by definition in
    # batch 1 and dropped by dropDuplicatesWithinWatermark. For this
    # fixture the rest of the trajectory is batching-INDEPENDENT: the
    # two stream files are identical copies, so whether availableNow
    # drains them in one batch (wm 0 throughout) or two (batch 2's
    # advanced watermark drops exactly the rows already emitted in
    # batch 1), the emitted set is the same — distinct ids with
    # ts >= epoch 0. The oracle encodes that exact semantics.
    """
    SELECT event_type, count(*) AS n FROM events
    WHERE event_id IS NOT NULL AND ts IS NOT NULL
      AND CAST(ts AS TIMESTAMP) >= TIMESTAMP '1970-01-01 00:00:00'
    GROUP BY event_type
    """,
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once ingest under at-least-once delivery: the SAME events
    file is fed to the stream TWICE (two copies — a replayed upstream),
    and dropDuplicatesWithinWatermark(event_id) reduces it to the exact
    event set (oracle = per-type counts of the un-duplicated table
    restricted to ts >= epoch 0 — Spark's initial-watermark late cut,
    exact for this doubled-copy fixture at ANY batch split; r19). The watermark bounds dedup state: at 100 TB/day the state
    store holds only ids within the lateness horizon, not the full
    history — the scalable form of the reference's unguarded
    double-insert (SURVEY §2.9)."""
    from ..streaming.windows import dedup_within_watermark

    stream, src = events_stream(spark, sf_dir, copies=2)
    # r16 contract: exactly-once identity dedup needs BOTH an identity
    # (a NULL event_id would collapse every null-id row into one state
    # entry) and an event time (the watermark can't admit a null ts) —
    # rows lacking either are bad-records, excluded on both sides.
    stream = stream.filter(F.col("event_id").isNotNull() & F.col("ts").isNotNull())
    deduped = dedup_within_watermark(stream).select(
        "event_id", "event_type"
    )
    return drain(deduped, "append", src).groupBy("event_type").agg(F.count("*").alias("n"))


@register(
    "j1_full_outer",
    """
    SELECT coalesce(c.c_custkey, o.o_custkey) AS custkey,
           c.c_custkey IS NOT NULL AS in_customers,
           coalesce(o.n_orders, 0) AS n_orders
    FROM (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 0) c
    FULL OUTER JOIN (SELECT o_custkey, count(*) AS n_orders
                     FROM orders GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    """,
)
def j1_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — the reconciliation shape (catalog entries vs
    observed files: rows only-left are unreferenced, only-right are
    untracked). Shuffle join on the key; both sides keep their unmatched
    rows, so neither side can broadcast — the one join type where SMJ on
    co-partitioned inputs IS the 100 TB plan."""
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_name")
    )
    oagg = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
    )
    j = cust.join(oagg, cust.c_custkey == oagg.o_custkey, "full_outer")
    return j.select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        F.col("c_custkey").isNotNull().alias("in_customers"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@register(
    "s19_orc_roundtrip",
    """
    SELECT o_orderpriority, count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
    FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderpriority
    """,
)
def s19_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round-trip: the filtered orders partition is
    written as ORC (columnar, predicate-pushdown-capable like parquet)
    and read back for the aggregate; the oracle runs on the original
    table, proving the format round-trip is lossless. Exercises the
    second columnar format a lake engine must speak."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    out = os.path.join(scratch_dir("orc_rt_"), "orders_f")
    orders.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        dsum(F.col("o_totalprice")).alias("total"),
    )


@register(
    "a8_corr",
    f"""
    WITH s AS (
      SELECT l_returnflag,
             count(*) AS n,
             {dsum_sql('l_quantity')} AS sx,
             {dsum_sql('l_extendedprice')} AS sy,
             {dsum_sql('l_quantity * l_quantity')} AS sxx,
             {dsum_sql('l_extendedprice * l_extendedprice')} AS syy,
             {dsum_sql('l_quantity * l_extendedprice')} AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag,
           floor(((n * sxy - sx * sy) /
                  (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)))
                 * 1e6 + 0.5) / 1e6 AS corr_qty_price
    FROM s
    """,
)
def a8_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group — computed from DECIMAL power sums
    (one scan, map-side partials) instead of the built-in corr(), whose
    streaming (Welford) update order differs between engines and isn't
    bit-reproducible. Power sums are order-independent and exact; the
    final scalar formula is identical IEEE math on both sides. The
    2-pass-free single-scan shape is the 100 TB statistics pattern."""
    # r19 (guide §2.5 unsplittable input): the single-row-group lineitem
    # file scans as ONE task, serializing the six DECIMAL(18,4) partial
    # sums (~2.4 s of single-core BigDecimal work at sf0.1). spread()
    # rebalances the 3 projected columns so the partials parallelize —
    # a no-op on a cluster where the scan arrives as many splits.
    # Decimal partials are order-independent, so values are identical
    # (hash-verified). r20: KEYLESS round-robin — the r19 version hashed
    # on l_returnflag (3 distinct values), which capped the partials at
    # 3 of N tasks and made the exchange a skew concentrator; the keyed
    # exchange bought nothing because the groupBy below does its own
    # keyed exchange over the tiny partial rows anyway (guide §2.5).
    li = spread(
        table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice"
        )
    )
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        dsum(x).alias("sx"),
        dsum(y).alias("sy"),
        dsum(x * x).alias("sxx"),
        dsum(y * y).alias("syy"),
        dsum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    num = n * F.col("sxy") - sx * sy
    den = F.sqrt(n * F.col("sxx") - sx * sx) * F.sqrt(n * F.col("syy") - sy * sy)
    return s.select(
        "l_returnflag",
        (F.floor((num / den) * 1e6 + F.lit(0.5)) / 1e6).alias("corr_qty_price"),
    )


@register(
    "set_intersect_all",
    """
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset intersection (INTERSECT ALL): each priority appears
    min(count_F, count_O) times — bag semantics the DISTINCT-based set
    ops can't express. Spark plans this as a counted hash aggregate +
    generate, one shuffle on the value."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return f.intersectAll(o)


@register(
    "set_except_all",
    """
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_orderpriority FROM orders WHERE o_orderstatus = 'O'
    """,
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset difference (EXCEPT ALL): count_F - count_O surviving
    copies per value — the bag complement of `set_except`."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_orderpriority")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_orderpriority")
    return f.exceptAll(o)


@register(
    "a9_mode",
    """
    SELECT c_mktsegment, modal_priority, n FROM (
      SELECT c.c_mktsegment, o.o_orderpriority AS modal_priority,
             count(*) AS n,
             row_number() OVER (PARTITION BY c.c_mktsegment
                                ORDER BY count(*) DESC, o.o_orderpriority)
               AS rn
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_orderpriority)
    WHERE rn = 1
    """,
)
def a9_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic mode: the most frequent order priority per market
    segment, ties broken by value order — built as count + row_number
    (the built-in mode()'s tie behavior is engine-specific, so the
    explicit argmax shape is the reproducible form). Two shuffles:
    grouped count, then a window over the (few) per-segment rows."""
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    counts = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)  # linear-in-SF
        .groupBy("c_mktsegment", F.col("o_orderpriority").alias("modal_priority"))
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("n").desc(), "modal_priority"
    )
    return (
        counts.select("c_mktsegment", "modal_priority", "n", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", "modal_priority", "n")
    )


@register(
    "funnel_conversion",
    """
    WITH ev AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
                FROM events),
    v AS (SELECT user_id, min(ts) AS tv FROM ev
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(e.ts) AS tc
          FROM ev e JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(e.ts) AS tp
          FROM ev e JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: users who viewed, then clicked AFTER their first
    view, then purchased AFTER that first qualifying click. Each stage
    is a grouped min-timestamp + a semi-structured join back to the
    event stream — no window over the global timeline, so each stage is
    one shuffle by user_id and the stage tables shrink monotonically.
    The oracle µs-truncates timestamps so both engines compare the same
    time domain (the events file is nanosecond-precision parquet)."""
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("tv"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("tc"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("tp"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_view_click_purchase")))
    )


@register(
    "cohort_retention",
    """
    WITH ev AS (SELECT user_id, CAST(ts AS TIMESTAMP)::DATE AS d FROM events),
    first AS (SELECT user_id, min(d) AS d0 FROM ev GROUP BY user_id)
    SELECT strftime(f.d0, '%Y-%m-%d') AS cohort_day,
           date_diff('day', f.d0, e.d) AS day_offset,
           count(DISTINCT e.user_id) AS n_users
    FROM ev e JOIN first f USING (user_id)
    GROUP BY f.d0, day_offset
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, counted
    distinct on each day-offset they return. Two shuffles (first-touch
    agg by user, then the cohort×offset count-distinct); the first-touch
    table is user-granular and joins back user-partitioned — at scale
    this is the shape that avoids any global timeline window."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    first = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            F.date_format("d0", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff("d", "d0").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "streaming_topk",
    """
    WITH agg AS (
      SELECT (epoch(time_bucket(INTERVAL '60 minutes', ts)))::BIGINT
               AS window_start_epoch,
             event_type, count(*) AS n
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2)
    SELECT window_start_epoch, event_type, n FROM (
      SELECT *, row_number() OVER (
               PARTITION BY window_start_epoch
               ORDER BY n DESC, event_type NULLS FIRST) AS rn
      FROM agg)
    WHERE rn <= 2
    """,
)
def streaming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending top-k over a stream: hourly tumbling counts per event
    type maintained by a Structured Streaming query (complete-mode
    memory sink), then the top-2 types per hour ranked from the
    streaming state — the live-dashboard "what's trending now" shape.
    The streaming side holds only (window × type) state; the rank runs
    over that tiny aggregate, never the event stream."""
    stream, src = events_stream(spark, sf_dir)
    agg = (
        stream.filter(F.col("ts").isNotNull())
        .groupBy(F.window("ts", "60 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n",
        )
    )
    w = Window.partitionBy("window_start_epoch").orderBy(
        F.col("n").desc(), F.col("event_type").asc_nulls_first()
    )
    return (
        drain(agg, "complete", src)
        .select("window_start_epoch", "event_type", "n", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 2)
        .select("window_start_epoch", "event_type", "n")
    )


@register(
    "geo_bbox_agg",
    f"""
    SELECT id_predio,
           min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax
    FROM {GF.vertices_values_sql()}
    GROUP BY id_predio
    """,
)
def geo_bbox_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-parcel bounding box: flatten every ring of every (multi)
    polygon and min/max the coordinates — the spatial-index build step
    (bboxes feed the grid prefilter and file-skipping zone maps). Pure
    explode + grouped min/max, map-side combinable."""
    polys = GF.spark_polys(spark)
    pts = polys.select(
        "id_predio", F.explode(F.flatten("rings")).alias("p")
    )
    return pts.groupBy("id_predio").agg(
        F.min("p.x").alias("xmin"),
        F.max("p.x").alias("xmax"),
        F.min("p.y").alias("ymin"),
        F.max("p.y").alias("ymax"),
    )


@register(
    "emb_centroid",
    """
    WITH q AS (
      SELECT label,
             unnest(generate_series(0, len(embedding) - 1)) AS pos,
             CAST(floor(unnest(embedding)::DOUBLE * 1e6 + 0.5) AS BIGINT)
               AS qv
      FROM embeddings)
    SELECT label, pos,
           floor((sum(qv)::DOUBLE / (count(*) * 1e6)) * 1e6 + 0.5) / 1e6
             AS centroid
    FROM q GROUP BY label, pos
    """,
)
def emb_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid under int quantization: each float
    component is quantized to a 1e-6-grid BIGINT (the int8-quantization
    pattern, coarser grid), summed EXACTLY, and averaged — integer sums
    make the reduction order-independent, so the distributed average is
    bit-reproducible (the raw-float sum would depend on partition
    order). This is the k-means update step / class-prototype
    computation for the IVF codebook, one shuffle on (label, pos)."""
    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        "pos",
        F.floor(F.col("v").cast("double") * 1e6 + F.lit(0.5))
        .cast("bigint")
        .alias("qv"),
    )
    return comp.groupBy("label", "pos").agg(
        (
            F.floor(
                (F.sum("qv").cast("double") / (F.count("*") * 1e6)) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("centroid")
    )


@register(
    "ts_mom_growth",
    """
    WITH m AS (
      SELECT year(o_orderdate)*100 + month(o_orderdate) AS month_key,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
    SELECT month_key, rev,
           floor(((rev - lag(rev) OVER (ORDER BY month_key))
                  / lag(rev) OVER (ORDER BY month_key)) * 1e6 + 0.5) / 1e6
             AS mom_growth
    FROM m
    """,
)
def ts_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: decimal-sum monthly revenue,
    then lag + relative delta. The unpartitioned window runs over the
    POST-aggregate (~#months rows), not the fact table — the correct
    altitude for period-over-period at any scale. Null order dates
    have no period — excluded both sides (r16 contract)."""
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    m = orders.groupBy(
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("month_key")
    ).agg(dsum(F.col("o_totalprice")).alias("rev"))
    w = Window.orderBy("month_key")
    prev = F.lag("rev").over(w)
    return m.select(
        "month_key",
        "rev",
        (F.floor(((F.col("rev") - prev) / prev) * 1e6 + F.lit(0.5)) / 1e6).alias(
            "mom_growth"
        ),
    )


@register(
    "ts_rolling_distinct",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP)::DATE AS d FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    contrib AS (
      SELECT ud.user_id, days.d
      FROM ud JOIN days ON days.d >= ud.d
                       AND days.d < ud.d + INTERVAL 7 DAY)
    SELECT strftime(d, '%Y-%m-%d') AS day, count(DISTINCT user_id) AS wau7
    FROM contrib GROUP BY d
    """,
)
def ts_rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day (rolling WAU) — windowed
    COUNT DISTINCT, which window frames cannot express in either engine.
    Spark-first decomposition: dedup to (user, active-day), EXPLODE each
    activity into the ≤7 future days it contributes to (sequence +
    explode, a bounded ×7 fan-out — NOT a range self-join), then one
    count-distinct per day. At 100 TB the fan-out is linear in activity
    and shuffles once by day; the active-day dedup collapses the event
    stream first."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    ud = ev.distinct()
    days = ev.select("d").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("day"),
    ).join(F.broadcast(days), F.col("day") == days.d, "left_semi")
    return (
        contrib.groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau7"))
    )


@register(
    "a10_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS m
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           round(med.m, 6) AS median_value,
           round(quantile_cont(abs(e.value - med.m), 0.5), 6) AS mad
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type, med.m
    """,
)
def a10_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    statistic: exact interpolated median, broadcast back, second exact
    median of the absolute deviations. Two passes by design (MAD is not
    an algebraic aggregate); Spark `percentile` and DuckDB
    `quantile_cont` interpolate identically."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("m")
    )
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "m")
        .agg(
            F.percentile(F.abs(F.col("value") - F.col("m")), F.lit(0.5)).alias(
                "mad_raw"
            )
        )
        .select(
            "event_type",
            F.round("m", 6).alias("median_value"),
            F.round("mad_raw", 6).alias("mad"),
        )
    )


@register(
    "ts_streaks",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP)::DATE AS d FROM events),
    isl AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS island
      FROM ud),
    runs AS (
      SELECT user_id, count(*) AS len FROM isl GROUP BY user_id, island)
    SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak
    FROM runs GROUP BY user_id
    """,
)
def ts_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user — gaps-and-islands:
    date minus per-user row_number is constant within a consecutive run,
    so the island id is a pure expression and the whole computation is
    one user-partitioned window + two grouped aggs (no self-join, no
    iteration). Engagement/retention staple."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    ud = ev.distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = ud.select(
        "user_id",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(F.count("*").alias("len"))
    return runs.groupBy("user_id").agg(F.max("len").alias("longest_streak"))


@register(
    "s20_jsonl_roundtrip",
    """
    SELECT c_mktsegment, count(*) AS n,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
    FROM customer WHERE c_acctbal > 0 GROUP BY c_mktsegment
    """,
)
def s20_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + scan round-trip: the filtered customer slice is
    written as newline-delimited JSON (the interchange format for
    event feeds and labeling tools) and read back WITH AN EXPLICIT
    SCHEMA — never schema inference, which at 100 TB means a second full
    scan before the real one. Oracle runs on the original table: the
    text round-trip is lossless for the projected columns."""
    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0)
        .select("c_custkey", "c_mktsegment", "c_acctbal")
    )
    out = os.path.join(scratch_dir("jsonl_rt_"), "customers")
    cust.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "c_custkey bigint, c_mktsegment string, c_acctbal double"
    ).json(out)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        dsum(F.col("c_acctbal")).alias("total_bal"),
    )


@register(
    "s25_xml_roundtrip",
    """
    SELECT s_nationkey, count(*) AS n,
           CAST(sum(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal,
           min(s_name) AS first_name
    FROM supplier WHERE s_acctbal >= 0 GROUP BY s_nationkey
    """,
)
def s25_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink + scan round-trip (Spark 4 built-in XML source — the
    interchange format for cadastral/government feeds like the
    reference's SECCION/COMUNA parcel metadata, §1.2): the filtered
    supplier slice is written as <supplier> row elements and read back
    WITH AN EXPLICIT SCHEMA and rowTag — never schema inference (a
    second full scan at 100 TB). Oracle runs on the original table: the
    XML round-trip is lossless for the projected columns. Scale shape:
    XML parsing is per-row/per-split work in the executors; the
    aggregate after read-back is an ordinary one-exchange groupBy.

    Whitespace-preservation contract (r17): the reader pins
    ignoreSurroundingSpaces=false, so element text round-trips
    byte-identically — the default trimmed the extreme axis's
    trailing-space payloads on read-back (previously an allowlisted
    divergence). The writer already escapes &<> per the XML spec;
    with trimming off the round-trip is lossless for arbitrary
    payloads including empty strings."""
    sup = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") >= 0)
        .select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    )
    out = os.path.join(scratch_dir("xml_rt_"), "suppliers")
    sup.write.mode("overwrite").option("rowTag", "supplier").format("xml").save(out)
    back = (
        spark.read.schema(
            "s_suppkey bigint, s_name string, s_nationkey bigint, s_acctbal double"
        )
        .option("rowTag", "supplier")
        .option("ignoreSurroundingSpaces", False)
        .format("xml")
        .load(out)
    )
    return back.groupBy("s_nationkey").agg(
        F.count("*").alias("n"),
        dsum(F.col("s_acctbal")).alias("total_bal"),
        F.min("s_name").alias("first_name"),
    )


@register(
    "s21_targeted_delete",
    """
    -- null-keyed rows SURVIVE a targeted delete (they can't be on a
    -- deletion list — anti-join semantics, mirrored explicitly)
    SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
    FROM events WHERE user_id IS NULL OR user_id % 13 <> 0
    GROUP BY event_type
    """,
)
def s21_targeted_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten delete: a deletion list (users with
    user_id % 13 = 0 here; in production the DSAR table) is anti-joined
    against the fact table and the survivors are REWRITTEN to storage —
    the copy-on-write DELETE a plain-parquet lake performs, same shape
    as the catalog's versioned-snapshot MERGE. The re-read aggregate
    matches the oracle's filtered view, proving the rewrite dropped
    exactly the targeted rows. At 100 TB the anti-join build side is the
    (tiny, broadcast) deletion list, and partition pruning limits the
    rewrite to affected files."""
    ev = table(spark, sf_dir, "events")
    dels = ev.select("user_id").distinct().filter(F.col("user_id") % 13 == 0)
    survivors = ev.join(F.broadcast(dels), "user_id", "left_anti")
    out = os.path.join(scratch_dir("gdpr_del_"), "events_v2")
    survivors.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").alias("n_users"),
    )


@register(
    "scd2_build",
    """
    SELECT o_custkey AS custkey, o_orderstatus AS status,
           floor(epoch(o_orderdate))::BIGINT AS valid_from,
           floor(epoch(lead(o_orderdate) OVER
             (PARTITION BY o_custkey
              ORDER BY o_orderdate, o_orderkey NULLS FIRST)))::BIGINT
             AS valid_to
    FROM orders WHERE o_custkey < 100 AND o_orderdate IS NOT NULL
    """,
)
def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) build: turn a change log into
    effective-dated rows — valid_from = the change timestamp, valid_to =
    the NEXT change per key (null = current). One partitioned window
    (lead), the standard warehouse dimension-history constructor; the
    result feeds the as-of/range joins (`j_asof_join`, `j_range_join`)
    for temporal lookups. A change record without a timestamp can't be
    effective-dated (NULL valid_to means CURRENT — a null change date
    would corrupt that sentinel) — excluded both sides (r16)."""
    orders = table(spark, sf_dir, "orders").filter(
        (F.col("o_custkey") < 100) & F.col("o_orderdate").isNotNull()
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.unix_timestamp("o_orderdate").alias("valid_from"),
        F.unix_timestamp(F.lead("o_orderdate").over(w)).alias("valid_to"),
    )


@register(
    "j_scd2_asof",
    """
    WITH dim AS (
      SELECT o_custkey AS custkey, o_orderstatus AS status,
             floor(epoch(o_orderdate))::BIGINT AS valid_from,
             floor(epoch(lead(o_orderdate) OVER
               (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)))::BIGINT
               AS valid_to
      FROM orders WHERE o_custkey < 100),
    fact AS (
      SELECT l_orderkey, o_custkey AS custkey,
             floor(epoch(l_shipdate))::BIGINT AS ship_ts,
             l_quantity
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_custkey < 100 AND l_linenumber = 1)
    SELECT f.custkey, d.status,
           count(*) AS n,
           CAST(sum(CAST(f.l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS qty
    FROM fact f JOIN dim d
      ON f.custkey = d.custkey
     AND f.ship_ts >= d.valid_from
     AND (d.valid_to IS NULL OR f.ship_ts < d.valid_to)
    GROUP BY f.custkey, d.status
    """,
)
def j_scd2_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal dimension lookup — the query every SCD2 dimension
    exists FOR: each fact row joins the dimension VERSION that was
    valid at the fact's event time (equi on the key + the
    half-open [valid_from, valid_to) interval predicate; NULL
    valid_to = current version). Consumes the exact effective-dating
    shape `scd2_build` constructs. Scale shape: an equi-join on the
    dimension key with the interval check as a residual filter — the
    per-key version count is small (it is a HISTORY, not a fact), so
    the join never amplifies; here the dimension side is
    broadcast-sized and Catalyst picks BroadcastHashJoin with the
    range residual attached."""
    orders = table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderstatus").alias("status"),
        F.unix_timestamp("o_orderdate").alias("valid_from"),
        F.unix_timestamp(F.lead("o_orderdate").over(w)).alias("valid_to"),
    )
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_linenumber") == 1)
    fact = li.join(
        orders.select(
            F.col("o_orderkey"), F.col("o_custkey").alias("custkey")
        ),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        "custkey",
        F.unix_timestamp("l_shipdate").alias("ship_ts"),
        "l_quantity",
    )
    joined = fact.join(
        dim,
        (fact.custkey == dim.custkey)
        & (F.col("ship_ts") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("ship_ts") < F.col("valid_to"))),
    )
    return joined.groupBy(fact.custkey.alias("custkey"), "status").agg(
        F.count("*").alias("n"),
        dsum(F.col("l_quantity")).alias("qty"),
    )


@register(
    "a23_bitmap_distinct",
    """
    WITH m AS (
      SELECT o_orderpriority, o_custkey // 32 AS chunk,
             bit_or(1::BIGINT << CAST(o_custkey % 32 AS INT)) AS mask
      FROM orders GROUP BY o_orderpriority, o_custkey // 32),
    b AS (
      SELECT o_orderpriority, count(*) AS n_chunks,
             CAST(sum(CAST(bit_count(mask) AS BIGINT)) AS BIGINT) AS n_distinct
      FROM m GROUP BY o_orderpriority),
    e AS (
      SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_exact
      FROM orders GROUP BY o_orderpriority)
    SELECT b.o_orderpriority, b.n_chunks, b.n_distinct,
           b.n_distinct = e.n_exact AS matches_exact
    FROM b JOIN e USING (o_orderpriority)
    """,
)
def a23_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmap-index distinct counting for DENSE integer keys: ids chunk
    into 32-bit words (chunk = id/32, bit = id%32 — 32 not 64 because a
    63-bit shift overflows DuckDB's checked BIGINT arithmetic while
    Spark wraps; 32 keeps both engines in-range), a bit_or aggregate
    folds each chunk's membership into one BIGINT, and popcounts sum to
    the EXACT distinct count — the roaring-bitmap trick without the
    library. Why it matters at 100 TB: the bitmap partial state is
    O(id-range/32) BITS per group instead of a hash set of raw keys —
    map-side combine ships words, not values, and merging shards is
    bit_or (associative, commutative, constant-size). The query emits
    its own exactness proof next to the construction: n_distinct must
    equal count(DISTINCT) — both engines compute both paths."""
    o = table(spark, sf_dir, "orders").select("o_orderpriority", "o_custkey")
    m = (
        o.select(
            "o_orderpriority",
            F.floor(F.col("o_custkey") / 32).alias("chunk"),
            # pyspark's F.shiftleft only takes a literal shift amount;
            # the SQL form accepts a column
            F.expr("shiftleft(1L, cast(o_custkey % 32 as int))").alias("bit"),
        )
        .groupBy("o_orderpriority", "chunk")
        .agg(F.bit_or("bit").alias("mask"))
    )
    b = m.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_chunks"),
        F.sum(F.bit_count("mask").cast("long")).alias("n_distinct"),
    )
    e = o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_exact")
    )
    return b.join(e, "o_orderpriority").select(
        "o_orderpriority",
        "n_chunks",
        "n_distinct",
        (F.col("n_distinct") == F.col("n_exact")).alias("matches_exact"),
    )


@register(
    "ml_target_encoding",
    """
    WITH f AS (
      SELECT event_type, event_id % 5 AS fold,
             count(*) AS cnt,
             sum(CAST(round(value, 4) AS DECIMAL(18,4))) AS s
      FROM events GROUP BY event_type, event_id % 5),
    t AS (
      SELECT event_type, sum(cnt) AS tot_cnt, sum(s) AS tot_s
      FROM f GROUP BY event_type)
    SELECT f.event_type, f.fold, f.cnt AS n_rows,
           floor(CAST(t.tot_s - f.s AS DOUBLE)
                 / nullif(t.tot_cnt - f.cnt, 0) * 1e6 + 0.5) / 1e6
             AS oof_encoding
    FROM f JOIN t USING (event_type)
    """,
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding — the leakage-safe categorical
    featurizer: a category's encoding for fold k is the target mean
    computed from every OTHER fold (total − fold partials), so no row's
    own target leaks into its feature. Two aggregates at different
    altitudes (category×fold partials, then category totals re-derived
    FROM THE PARTIALS — the incremental_agg_merge discipline; the
    lazy plan re-expands the partial subtree on both join inputs, so at
    fleet scale localCheckpoint the 25-row partials first) and a
    broadcast join back; DECIMAL partials make the
    subtraction exact, one double division at the end, fixed-point
    rounded. At 100 TB this is one shuffle on (category, fold) plus an
    O(#categories) broadcast."""
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        (F.col("event_id") % 5).alias("fold"),
        F.round("value", 4).alias("value"),
    )
    f = ev.groupBy("event_type", "fold").agg(
        F.count("*").alias("cnt"),
        F.sum(F.col("value").cast("decimal(18,4)")).alias("s"),
    )
    t = f.groupBy("event_type").agg(
        F.sum("cnt").alias("tot_cnt"),
        F.sum("s").cast("decimal(18,4)").alias("tot_s"),
    )
    joined = f.join(F.broadcast(t), "event_type")
    enc = (
        F.floor(
            (F.col("tot_s") - F.col("s")).cast("double")
            / F.nullif(F.col("tot_cnt") - F.col("cnt"), F.lit(0))
            * 1e6
            + F.lit(0.5)
        )
        / 1e6
    )
    return joined.select(
        "event_type",
        "fold",
        F.col("cnt").alias("n_rows"),
        enc.alias("oof_encoding"),
    )


# weighted-quantile targets as exact rationals (q, numerator, denominator)
_WQ_QS = ((0.5, 1, 2), (0.9, 9, 10))
