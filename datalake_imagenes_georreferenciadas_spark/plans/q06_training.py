"""Registry segment 06 (mechanical split of plans/queries.py, r17).

- Training-data pipeline ops, round 2: packing, mixture, contamination, repetition, bloom-prefiltered join (cont. 2)

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    DataFrame,
    F,
    H,
    SparkSession,
    Window,
    drain_batches,
    dsum,
    os,
    publish_state,
    register,
    scratch_dir,
    shard_stream,
    table,
)
from .q05_training import _WQ_QS



@register(
    "a22_weighted_quantile",
    f"""
    WITH s AS (
      SELECT l_extendedprice AS v,
             sum(CAST(l_quantity AS DECIMAL(18,4))) OVER
               (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS cw,
             sum(CAST(l_quantity AS DECIMAL(18,4))) OVER () AS tw
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL),
    qs AS (SELECT * FROM (VALUES {', '.join(f'({q}::DOUBLE, {n}, {d})' for q, n, d in _WQ_QS)}) AS t(q, num, den))
    SELECT q, min(v) AS wq
    FROM s, qs
    WHERE cw * den >= num * tw
    GROUP BY q ORDER BY q
    """,
)
def a22_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-aware quantile (lower weighted quantile): the smallest
    value whose CUMULATIVE weight reaches q of the total — price
    percentiles where each row counts `l_quantity` times, the form
    inventory/risk queries need and plain `percentile` cannot express.
    One ordered cumulative-weight window + a one-row total broadcast.
    Exactness discipline: weights accumulate as DECIMAL (associative —
    a double cumsum could disagree between engines at the threshold
    row because window sums are not required to fold sequentially) and
    the q·total threshold is an integer rational (cw·den ≥ num·tw), so
    the crossing row is bit-determined. At 100 TB the global-ordered
    window is the cost — the scale path distributes it as a
    per-partition pre-aggregation over value buckets (a17's histogram
    shape) or a weighted t-digest (a19); this query pins the EXACT
    semantics those approximations are graded against. A weighted
    observation needs BOTH value and weight — null rows excluded on
    both sides (r16; a null value would otherwise sort engine-
    dependently and shift every crossing row)."""
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice").isNotNull() & F.col("l_quantity").isNotNull()
    )
    w_cum = Window.orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(Window.unboundedPreceding, 0)
    s = li.select(
        F.col("l_extendedprice").alias("v"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .over(w_cum)
        .alias("cw"),
    ).crossJoin(
        F.broadcast(
            li.agg(
                F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("tw")
            )
        )
    )
    qs = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(q).alias("q"),
                    F.lit(n).alias("num"),
                    F.lit(d).alias("den"),
                )
                for q, n, d in _WQ_QS
            ]
        )
    ).alias("t")
    return (
        s.select("v", "cw", "tw", qs)
        .select("v", "cw", "tw", "t.q", "t.num", "t.den")
        .filter(F.col("cw") * F.col("den") >= F.col("num") * F.col("tw"))
        .groupBy("q")
        .agg(F.min("v").alias("wq"))
        .orderBy("q")
    )


@register(
    "j1_null_safe_join",
    """
    WITH a AS (SELECT nullif(c_nationkey % 5, 0) AS k, count(*) AS n_cust
               FROM customer GROUP BY 1),
    b AS (SELECT nullif(s_nationkey % 5, 0) AS k, count(*) AS n_supp
          FROM supplier GROUP BY 1)
    SELECT a.k, a.n_cust, b.n_supp
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def j1_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): null keys
    MATCH each other instead of vanishing — the semantics for joining on
    optional attributes (unknown region, missing device id) without an
    explicit coalesce-sentinel rewrite. Still hash-partitionable: null
    is one more key value, so the plan is a plain shuffled/broadcast
    hash join, not a theta join."""
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    a = cust.groupBy(
        F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("k")
    ).agg(F.count("*").alias("n_cust"))
    b = supp.groupBy(
        F.nullif(F.col("s_nationkey") % 5, F.lit(0)).alias("kb")
    ).agg(F.count("*").alias("n_supp"))
    return a.join(F.broadcast(b), a.k.eqNullSafe(b.kb)).select(
        "k", "n_cust", "n_supp"
    )


def _range_digest_sql(src: str) -> str:
    # value is quantized to a 1e-6-grid BIGINT before hashing: double→
    # string formatting is not cross-engine stable, integers are. XOR is
    # the order-independent, overflow-free set digest.
    qv = "CAST(floor(value * 1e6 + 0.5) AS BIGINT)"
    return f"""
      SELECT user_id // 100 AS rng,
             bit_xor({H.hash64_sql(f"event_id::VARCHAR || '|' || {qv}::VARCHAR", 5)})
               AS digest
      FROM {src} GROUP BY 1"""


@register(
    "table_checksum_diff",
    f"""
    WITH v2 AS (
      SELECT event_id, user_id,
             CASE WHEN user_id % 97 = 0 THEN value + 1.0 ELSE value END AS value
      FROM events),
    d1 AS ({_range_digest_sql('events')}),
    d2 AS ({_range_digest_sql('v2')})
    SELECT d1.rng, count(*) OVER () AS n_dirty_ranges
    FROM d1 JOIN d2 USING (rng)
    WHERE d1.digest <> d2.digest
    """,
)
def table_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style table reconciliation: both table versions are reduced
    to per-range digests (sum of seeded md5 row hashes — integer sums,
    so order- and partition-independent), and only ranges whose digests
    differ are reported. At 100 TB this finds the changed key ranges
    with two scans and a join of ~#ranges rows — no row-level compare
    until you descend into a dirty range. The mutated 'v2' here bumps
    value for user_id % 97 = 0, so exactly the ranges containing such
    users report dirty."""
    ev = table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    v2 = ev.withColumn(
        "value",
        F.when(F.col("user_id") % 97 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )

    def digest(df: DataFrame) -> DataFrame:
        qv = F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint")
        row_h = H.hash64(
            F.concat(
                F.col("event_id").cast("string"),
                F.lit("|"),
                qv.cast("string"),
            ),
            seed=5,
        )
        return df.groupBy(F.expr("user_id div 100").alias("rng")).agg(
            F.bit_xor(row_h).alias("digest")
        )

    d1, d2 = digest(ev), digest(v2)
    dirty = (
        d1.join(d2.withColumnRenamed("digest", "digest2"), "rng")
        .filter(F.col("digest") != F.col("digest2"))
        .select("rng")
    )
    return dirty.select(
        "rng", F.count("*").over(Window.partitionBy()).alias("n_dirty_ranges")
    )


@register(
    "theta_avoid_prefix",
    """
    WITH deciles AS (
      SELECT DISTINCT CAST(floor(o_totalprice / 50000) AS BIGINT) AS band
      FROM orders WHERE o_totalprice IS NOT NULL)
    SELECT d.band,
           (SELECT count(*) FROM orders o
            WHERE o.o_totalprice < d.band * 50000) AS n_cheaper
    FROM deciles d
    """,
)
def theta_avoid_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality-join avoidance: "orders cheaper than each band
    threshold" is a theta join (O(bands × rows)) written naively — the
    oracle runs exactly that correlated form. The Spark plan instead
    aggregates once per band and takes a RUNNING SUM over the ~#bands
    ordered rows: same result, one scan + one tiny window. The standard
    rewrite that turns a 100 TB×k theta join into a prefix sum.
    A row without a price has no band (r16: NULL o_totalprice would
    otherwise sort first and leak its count into every prefix)."""
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice").isNotNull()
    )
    bands = orders.select(
        F.floor(F.col("o_totalprice") / 50000).alias("band")
    )
    per_band = bands.groupBy("band").agg(F.count("*").alias("n"))
    w = Window.orderBy("band").rowsBetween(Window.unboundedPreceding, -1)
    return per_band.select(
        "band",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("n_cheaper"),
    )


@register(
    "g2_cogroup_merge",
    """
    SELECT c.c_custkey, c.c_acctbal,
           CAST(coalesce(o.n, 0) AS BIGINT) AS n_orders,
           CAST(coalesce(o.total, 0.0) AS DOUBLE) AS total_spend
    FROM customer c
    LEFT JOIN (SELECT o_custkey, count(*) AS n,
                      CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                        AS total
               FROM orders GROUP BY o_custkey) o
      ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey < 200
    """,
)
def g2_cogroup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped Arrow kernel (`groupBy().cogroup().applyInPandas`): both
    tables are hash-partitioned by key and each key's two pandas frames
    arrive together — the escape hatch for per-entity merge logic SQL
    can't express (custom matching, model scoring over an entity's full
    history). The kernel here computes a per-customer order rollup so a
    plain SQL twin can verify the plumbing: batch shapes, empty-side
    behavior (customers with no orders), and exact decimal totals
    (summed via integer cents in pandas to stay order-independent).

    Scale note: the entity predicate is applied to BOTH cogroup sides.
    Catalyst derives this transitivity for joins, but a cogroup kernel
    is opaque — an unfiltered right side hash-partitions the FULL fact
    table and invokes the Python kernel once per fact-side key (~100k
    interpreter round-trips at sf0.1, measured 17.9 s vs 1.1 s with
    the pushed filter; at 100 TB it is the difference between a bounded
    per-entity merge and cogrouping the whole corpus). When the entity
    set is a table rather than a literal predicate, the same move is a
    LEFT SEMI join prefilter on the fact side before the cogroup."""
    import pandas as pd

    cust = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < 200)
        .select("c_custkey", "c_acctbal")
    )
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select("o_custkey", "o_totalprice")
    )

    def merge(c: pd.DataFrame, o: pd.DataFrame) -> pd.DataFrame:
        if c.empty:  # orders for a customer outside the filtered slice
            return pd.DataFrame(
                columns=["c_custkey", "c_acctbal", "n_orders", "total_spend"]
            )
        # dropna: SQL SUM skips NULLs; NaN would throw on the int cast
        cents = (o["o_totalprice"].dropna() * 10000).round().astype("int64")
        return pd.DataFrame(
            {
                "c_custkey": c["c_custkey"].iloc[:1],
                "c_acctbal": c["c_acctbal"].iloc[:1],
                "n_orders": [len(o)],
                "total_spend": [cents.sum() / 10000.0],
            }
        )

    return (
        cust.groupBy("c_custkey")
        .cogroup(orders.groupBy("o_custkey"))
        .applyInPandas(
            merge,
            "c_custkey bigint, c_acctbal double, n_orders bigint, total_spend double",
        )
    )


@register(
    "streaming_cdc_apply",
    """
    WITH log AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CASE WHEN event_id % 10 = 0 THEN 'D'
                  WHEN event_id % 10 < 5 THEN 'U' ELSE 'I' END AS op,
             round(value, 6) AS value
      FROM events),
    latest AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM log) WHERE rn = 1)
    SELECT user_id, event_id AS last_event_id, op AS last_op,
           value AS last_value
    FROM latest WHERE op <> 'D'
    """,
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC APPLY: an insert/update/delete change log (ops
    derived deterministically from event ids) streams in micro-batches
    into a keyed state table via foreachBatch MERGE. The merge is
    VERSION-ORDERED, not arrival-ordered: state and batch rows compete
    on (ts, event_id) and the newest wins, deletes included — so the
    result is independent of how the log is sharded into batches (the
    property a real CDC consumer needs, since file arrival order is
    not guaranteed) and replays are idempotent twice over (batch-id
    guard + the merge itself is idempotent). A key whose LATEST change
    is a delete is absent from the final read — tombstones survive
    compaction until they win or lose, they are never dropped early.
    Complements cdc_upsert_compact (the batch read-side compaction of
    the same log shape)."""
    base = scratch_dir("scdc_")
    stream_dir = os.path.join(base, "in")
    state_dir = os.path.join(base, "state")
    log = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "ts",
        F.when(F.col("event_id") % 10 == 0, "D")
        .when(F.col("event_id") % 10 < 5, "U")
        .otherwise("I")
        .alias("op"),
        F.round("value", 6).alias("value"),
    )
    log.repartition(4).write.parquet(stream_dir)

    applied: set[int] = set()
    w_latest = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )

    def merge(batch_df, batch_id: int) -> None:
        if batch_id in applied:
            return
        applied.add(batch_id)
        cur_dir = os.path.join(state_dir, "cur")
        ss = batch_df.sparkSession
        # r20 (guide §1.2 one pass, not two): ONE version-order window
        # over (state ∪ raw batch) per micro-batch instead of windowing
        # the batch first and re-windowing the union — rn=1 over the
        # union picks the same newest row per key whether or not the
        # batch was pre-reduced (max of a set is the max of subset
        # maxima), so the state table is bit-identical while each batch
        # pays one sort, not two. Same-session A/B (min-of-3):
        # 3.02 → 2.75 s.
        src = batch_df
        if os.path.isdir(cur_dir):
            src = ss.read.parquet(cur_dir).unionByName(batch_df)
        publish_state(
            src.withColumn("rn", F.row_number().over(w_latest))
            .filter(F.col("rn") == 1)
            .drop("rn"),
            state_dir,
        )

    drain_batches(shard_stream(spark, stream_dir), merge, stream_dir)
    return (
        spark.read.parquet(os.path.join(state_dir, "cur"))
        .filter(F.col("op") != "D")
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("op").alias("last_op"),
            F.col("value").alias("last_value"),
        )
    )


@register(
    "cdc_upsert_compact",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_type,
           round(value, 6) AS last_value
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY user_id
        ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def cdc_upsert_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert-log compaction: keep the LATEST record per key (ts then
    event_id as the deterministic version tiebreak) — how a CDC/upsert
    stream collapses to current-state, and the read-side 'merge-on-read'
    a lakehouse performs. One partitioned window; at scale this is the
    compaction job that bounds read amplification."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.round("value", 6).alias("last_value"),
        )
    )


@register(
    "seq_transitions",
    """
    WITH s AS (
      SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events),
    pairs AS (
      SELECT event_type AS src,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS dst
      FROM s)
    SELECT src, dst, count(*) AS n
    FROM pairs WHERE dst IS NOT NULL
    GROUP BY src, dst
    """,
)
def seq_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-transition matrix (behavioral Markov chain): consecutive
    event-type pairs within each user timeline via lead(), counted
    corpus-wide — the page-path / next-action analysis. One partitioned
    window + one grouped count; the µs-truncated oracle keeps both
    engines ordering the same timeline."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    )
    return (
        pairs.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )


@register(
    "a11_winsorized_mean",
    """
    WITH q AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo, quantile_cont(value, 0.95) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_type,
           CAST(sum(CAST(least(greatest(e.value, q.lo), q.hi)
                         AS DECIMAL(18,4))) AS DOUBLE)
             / count(*) AS wmean_raw_div,
           count(*) AS n
    FROM events e JOIN q USING (event_type)
    GROUP BY e.event_type
    """,
)
def a11_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group — outlier-robust averaging: exact p05/
    p95 computed first, broadcast back, values CLAMPED to the band, then
    a decimal-partial mean. Two passes like MAD; the clamp is pure
    column min/max so the second pass stays one scan."""
    ev = table(spark, sf_dir, "events").select("event_type", "value")
    q = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    clamped = ev.join(F.broadcast(q), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias("cv"),
    )
    return clamped.groupBy("event_type").agg(
        (dsum(F.col("cv")) / F.count("*")).alias("wmean_raw_div"),
        F.count("*").alias("n"),
    )


@register(
    "a12_gini",
    """
    WITH pos AS (
      SELECT c_mktsegment, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS r
      FROM customer WHERE c_acctbal > 0),
    s AS (
      SELECT c_mktsegment, count(*) AS n,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sw,
             CAST(sum(CAST(r * c_acctbal AS DECIMAL(28,4))) AS DOUBLE) AS srw
      FROM pos GROUP BY c_mktsegment)
    SELECT c_mktsegment,
           floor((2.0 * srw / (n * sw) - (n + 1.0) / n) * 1e6 + 0.5) / 1e6
             AS gini
    FROM s
    """,
)
def a12_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration coefficient per segment (how unevenly balances
    are distributed) from the rank-weighted sum identity — one
    partitioned sort-rank window plus decimal power sums; ties
    contribute a rank-block sum that is order-invariant, so the
    statistic is exactly reproducible. No logs, no trig — the
    inequality measure that stays cross-engine exact."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    pos = cust.select(
        "c_mktsegment", "c_acctbal", F.row_number().over(w).alias("r")
    )
    s = pos.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
        .cast("double")
        .alias("sw"),
        F.sum((F.col("r") * F.col("c_acctbal")).cast("decimal(28,4)"))
        .cast("double")
        .alias("srw"),
    )
    n, sw, srw = F.col("n"), F.col("sw"), F.col("srw")
    gini = 2.0 * srw / (n * sw) - (n + 1.0) / n
    return s.select(
        "c_mktsegment",
        (F.floor(gini * 1e6 + F.lit(0.5)) / 1e6).alias("gini"),
    )


@register(
    "f15_explode_outer",
    f"""
    WITH base AS (
      SELECT doc_id, {H.shingles_sql('text', 12)} AS sh FROM documents
      WHERE doc_id < 40)
    SELECT b.doc_id, u.s AS shingle
    FROM base b LEFT JOIN (
      SELECT doc_id, unnest(sh) AS s FROM base) u USING (doc_id)
    """,
)
def f15_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving fan-out (`explode_outer`): documents too short to
    produce any 12-token shingle keep ONE row with a null shingle
    instead of vanishing — the generator variant that doesn't silently
    drop entities, required when the exploded side feeds a per-entity
    aggregate that must cover every input row (DuckDB twin: LEFT JOIN
    against the unnest)."""
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") < 40)
    base = docs.select("doc_id", H.shingles(F.col("text"), 12).alias("sh"))
    return base.select(
        "doc_id", F.explode_outer("sh").alias("shingle")
    )


@register(
    "ts_missing_days",
    """
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS TIMESTAMP)::DATE AS d FROM events),
    span AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM ud GROUP BY user_id),
    cal AS (
      SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
      FROM span)
    SELECT c.user_id,
           count(*) AS n_span_days,
           count(*) FILTER (WHERE ud.d IS NULL) AS n_missing
    FROM cal c LEFT JOIN ud ON ud.user_id = c.user_id AND ud.d = c.d
    GROUP BY c.user_id
    """,
)
def ts_missing_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar densification: per user, generate the full day span
    between first and last activity (sequence + explode — the calendar
    is derived per key, never a global dimension scan) and anti-match
    observed days to count coverage gaps — the dual of forward-fill
    (`w7_gap_fill`) and the prerequisite for any per-day model feature.
    Fan-out is bounded by the span, and the join is co-partitioned on
    user_id."""
    ev = table(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("d")
    )
    ud = ev.distinct()
    span = ud.groupBy("user_id").agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    # outlier fail-safe (same posture as operators/asof.py
    # resample_interpolate): one corrupt date inflates a key's calendar
    # unboundedly; fail fast past ~274 years instead of materializing it
    cal = span.select(
        "user_id",
        F.explode(
            F.expr(
                "CASE WHEN datediff(d1, d0) > 100000 THEN "
                "raise_error(concat('ts_missing_days: user ', cast(user_id as string), "
                "' spans ', cast(datediff(d1, d0) as string), "
                "' days > 100000 — corrupt outlier date?')) "
                "ELSE sequence(d0, d1) END"
            )
        ).alias("d"),
    )
    j = cal.join(
        ud.withColumnRenamed("d", "seen"),
        (cal.user_id == ud.user_id) & (cal.d == F.col("seen")),
        "left",
    ).select(cal.user_id.alias("user_id"), "d", "seen")
    return j.groupBy("user_id").agg(
        F.count("*").alias("n_span_days"),
        F.count_if(F.col("seen").isNull()).alias("n_missing"),
    )


@register(
    "a13_equifreq_bins",
    """
    WITH b AS (
      SELECT ["""
    + ", ".join(f"quantile_cont(o_totalprice, 0.{x})" for x in range(1, 10))
    + """] AS bounds
      FROM orders)
    SELECT len(list_filter(b.bounds, v -> v <= o.o_totalprice)) AS bin,
           count(*) AS n,
           round(min(o.o_totalprice), 2) AS lo,
           round(max(o.o_totalprice), 2) AS hi
    FROM orders o, b
    GROUP BY bin
    """,
)
def a13_equifreq_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency discretization WITHOUT a global sort: the naive
    ntile(10) needs a single-partition window over the fact table; the
    scale plan computes the 9 exact decile BOUNDARIES in one aggregate,
    broadcasts the tiny array, and assigns bins by counting boundaries
    ≤ value (a higher-order filter, pure map work). Per-bin stats
    verify the assignment. This is the feature-binning step of every
    tabular ML pipeline, in its 100 TB shape.

    The nine boundaries come from ONE array-percentile aggregate, not
    nine scalar ones: each scalar ``percentile`` call carries its own
    full collect-and-sort buffer, so the naive spelling buffers the
    fact column 9× (measured 3.3 s vs 1.0 s at sf0.1; at 100 TB the
    difference is 9× the aggregate-state memory per task)."""
    orders = table(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.percentile(
            "o_totalprice",
            F.array(*[F.lit(x / 10.0) for x in range(1, 10)]),
        ).alias("bounds")
    )
    binned = orders.join(F.broadcast(bounds)).select(
        F.size(
            F.filter(F.col("bounds"), lambda v: v <= F.col("o_totalprice"))
        ).alias("bin"),
        "o_totalprice",
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "ts_twap",
    """
    WITH s AS (
      SELECT user_id, value, CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE user_id < 100),
    seg AS (
      SELECT user_id, value,
             date_diff('second', ts,
               lead(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST))
               AS dur_s
      FROM s)
    SELECT user_id,
           CAST(sum(CAST(value * dur_s AS DECIMAL(28,4))) AS DOUBLE)
             / CAST(sum(dur_s) AS DOUBLE) AS twap_raw_div,
           CAST(sum(dur_s) AS BIGINT) AS total_s
    FROM seg WHERE dur_s IS NOT NULL AND dur_s > 0
    GROUP BY user_id
    """,
)
def ts_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation is weighted by how
    long it was the current value (lead-timestamp delta), the
    sensor/pricing average that a plain mean gets wrong under irregular
    sampling. Integer second durations × decimal partial sums keep the
    weighted reduction order-independent; one partitioned window + one
    grouped agg."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seg = ev.select(
        "user_id",
        "value",
        (
            F.unix_timestamp(F.lead("ts").over(w)) - F.unix_timestamp("ts")
        ).alias("dur_s"),
    )
    seg = seg.filter(F.col("dur_s").isNotNull() & (F.col("dur_s") > 0))
    return seg.groupBy("user_id").agg(
        (
            F.sum((F.col("value") * F.col("dur_s")).cast("decimal(28,4)"))
            .cast("double")
            / F.sum("dur_s").cast("double")
        ).alias("twap_raw_div"),
        F.sum("dur_s").alias("total_s"),
    )


@register(
    "ts_interval_coverage",
    """
    WITH iv AS (
      SELECT user_id,
             floor(epoch(CAST(ts AS TIMESTAMP)))::BIGINT AS s,
             floor(epoch(CAST(ts AS TIMESTAMP)))::BIGINT + 300 AS e
      FROM events WHERE user_id < 100 AND ts IS NOT NULL),
    marked AS (
      SELECT user_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_island
      FROM iv),
    isl AS (
      SELECT user_id, s, e,
             sum(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM marked),
    runs AS (
      SELECT user_id, island, min(s) AS lo, max(e) AS hi
      FROM isl GROUP BY user_id, island)
    SELECT user_id, CAST(sum(hi - lo) AS BIGINT) AS covered_s,
           count(*) AS n_islands
    FROM runs GROUP BY user_id
    """,
)
def ts_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union length per user (sweep line): each event opens a
    5-minute activity interval; overlaps must not double-count. A new
    island starts when an interval's start exceeds the running max end
    of everything before it; islands reduce to [min start, max end] and
    their lengths sum. All integer-second arithmetic over partitioned
    windows — the active-time / uptime metric without a self-join.
    Null ts opens no interval — excluded both sides (r16 contract)."""
    ev = table(spark, sf_dir, "events").filter(
        (F.col("user_id") < 100) & F.col("ts").isNotNull()
    )
    iv = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("s"),
        (F.unix_timestamp("ts") + 300).alias("e"),
    )
    wp = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(wp.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(prev_max_e, F.lit(-(2**63))), 1
        )
        .otherwise(0)
        .alias("new_island"),
    )
    isl = marked.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(wp.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island"),
    )
    runs = isl.groupBy("user_id", "island").agg(
        F.min("s").alias("lo"), F.max("e").alias("hi")
    )
    return runs.groupBy("user_id").agg(
        F.sum(F.col("hi") - F.col("lo")).alias("covered_s"),
        F.count("*").alias("n_islands"),
    )


@register(
    "p9_weighted_sample",
    f"""
    WITH w AS (
      SELECT doc_id, lang, n_chars,
             {H.hash64_sql('doc_id::VARCHAR', 11)} % 1000000 AS u
      FROM documents)
    SELECT lang, count(*) AS n_sampled,
           CAST(sum(n_chars) AS BIGINT) AS sampled_chars
    FROM w
    WHERE u < n_chars * 400
    GROUP BY lang
    """,
)
def p9_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance sampling with inclusion probability ∝ document length:
    a seeded md5 uniform in [0, 1e6) is compared against the scaled
    weight, so longer documents are proportionally more likely to be
    kept — the curriculum/mixture sampling primitive, deterministic and
    reproducible (re-runs select the SAME sample; integer comparison, no
    float RNG). Pure scan+filter, no shuffle before the final stats."""
    docs = table(spark, sf_dir, "documents")
    u = H.hash64(F.col("doc_id"), seed=11) % 1000000
    return (
        docs.filter(u < F.col("n_chars") * 400)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
    )


@register(
    "a14_minmax_scale",
    """
    WITH st AS (
      SELECT event_type, min(value) AS lo, max(value) AS hi
      FROM events GROUP BY event_type)
    SELECT e.event_id, e.event_type,
           floor(CASE WHEN st.hi = st.lo THEN 0.0
                      ELSE (e.value - st.lo) / (st.hi - st.lo) END
                 * 1e6 + 0.5) / 1e6 AS scaled
    FROM events e JOIN st USING (event_type)
    WHERE e.user_id < 50
    """,
)
def a14_minmax_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling: group extrema in one aggregate,
    broadcast back, normalize as pure map work (degenerate groups pin to
    0). The fit/transform split of a feature scaler in its distributed
    form — the fitted stats are O(groups), the transform never
    shuffles. Explicit half-up rounding (division ratios hit exact
    halves at scale)."""
    ev = table(spark, sf_dir, "events")
    st = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    scaled = F.when(F.col("hi") == F.col("lo"), F.lit(0.0)).otherwise(
        (F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    )
    return (
        ev.filter(F.col("user_id") < 50)
        .join(F.broadcast(st), "event_type")
        .select(
            "event_id",
            "event_type",
            (F.floor(scaled * 1e6 + F.lit(0.5)) / 1e6).alias("scaled"),
        )
    )


@register(
    "p10_train_val_test",
    f"""
    WITH s AS (
      SELECT lang,
             {H.hash64_sql('doc_id::VARCHAR', 13)} % 1000000 AS u
      FROM documents)
    SELECT lang,
           CASE WHEN u < 800000 THEN 'train'
                WHEN u < 900000 THEN 'val' ELSE 'test' END AS split,
           count(*) AS n
    FROM s GROUP BY 1, 2
    """,
)
def p10_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: one seeded md5
    uniform per doc mapped to hash ranges — membership is a pure
    function of doc_id, so the split is stable across runs, machines,
    and engines (no RNG state, no global sort), and a doc can never leak
    between splits when the corpus is re-processed. Scan + map + one
    grouped count."""
    docs = table(spark, sf_dir, "documents")
    u = H.hash64(F.col("doc_id"), seed=13) % 1000000
    split = (
        F.when(u < 800000, "train").when(u < 900000, "val").otherwise("test")
    )
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count("*").alias("n")
    )


@register(
    "p11_dense_ids",
    f"""
    WITH s AS (
      SELECT doc_id, {H.hash64_sql('doc_id::VARCHAR', 17)} % 32 AS shard,
             {H.hash64_sql('doc_id::VARCHAR', 18)} AS ord
      FROM documents),
    sized AS (SELECT shard, count(*) AS n FROM s GROUP BY shard),
    offs AS (
      SELECT shard,
             coalesce(sum(n) OVER (ORDER BY shard NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      FROM sized),
    ranked AS (
      SELECT doc_id, shard,
             row_number() OVER (PARTITION BY shard
               ORDER BY ord NULLS FIRST, doc_id NULLS FIRST) - 1
               AS r
      FROM s)
    SELECT ranked.doc_id,
           CAST(offs.off + ranked.r AS BIGINT) AS dense_id
    FROM ranked JOIN offs USING (shard)
    """,
)
def p11_dense_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense contiguous 0..N-1 id assignment WITHOUT a global sort — the
    declarative zipWithIndex: rows hash into 32 shards, shard SIZES (a
    tiny aggregate) get running-sum offsets, and each row's id is its
    shard offset plus its within-shard rank. The only unpartitioned
    window runs over 32 rows; the catalog's id allocator
    (catalog/store.py) uses the same pattern imperatively. Deterministic
    because shard and order come from seeded md5, not partition
    placement."""
    docs = table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id",
        (H.hash64(F.col("doc_id"), seed=17) % 32).alias("shard"),
        H.hash64(F.col("doc_id"), seed=18).alias("ord"),
    )
    sized = s.groupBy("shard").agg(F.count("*").alias("n"))
    w_off = Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)
    offs = sized.select(
        "shard", F.coalesce(F.sum("n").over(w_off), F.lit(0)).alias("off")
    )
    w_rank = Window.partitionBy("shard").orderBy("ord", "doc_id")
    ranked = s.select(
        "doc_id", "shard", (F.row_number().over(w_rank) - 1).alias("r")
    )
    return ranked.join(F.broadcast(offs), "shard").select(
        "doc_id", (F.col("off") + F.col("r")).cast("bigint").alias("dense_id")
    )


