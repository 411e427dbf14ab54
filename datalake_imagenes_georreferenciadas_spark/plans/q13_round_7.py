"""Registry segment 13 (mechanical split of plans/queries.py, r17).

- Round 7 — time-series bars, Benford audit, DSIR selection, chi² tokens (cont. 4)

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    DataFrame,
    F,
    H,
    SparkSession,
    V,
    Window,
    drain,
    dsum,
    dsum_sql,
    os,
    register,
    scratch_dir,
    shard_stream,
    spread,
    table,
)
from .q10_round_7 import _IVFPQ_NCELLS



@register(
    "graph_assoc_rules",
    """
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_orders AS (SELECT count(DISTINCT l_orderkey) AS n FROM li),
    item AS (SELECT l_partkey, count(*) AS n_item FROM li GROUP BY l_partkey),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             count(*) AS n_both
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY part_a, part_b
      HAVING count(*) >= 3)
    SELECT p.part_a, p.part_b, p.n_both,
           CAST(floor(p.n_both * 1000000.0 / ia.n_item) AS BIGINT)
             AS confidence_micro,
           CAST(floor(p.n_both * t.n * 1000000.0
                      / (ia.n_item * ib.n_item)) AS BIGINT) AS lift_micro
    FROM pairs p
    JOIN item ia ON ia.l_partkey = p.part_a
    JOIN item ib ON ib.l_partkey = p.part_b
    CROSS JOIN n_orders t
    """,
)
def graph_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the co-purchase graph: support, confidence
    (P(b|a)) and lift (observed/expected co-occurrence) for item pairs
    sharing ≥3 baskets — the Apriori readout that turns
    graph_copurchase's raw edges into ranked recommendations (lift > 1
    is the signal; confidence alone favors popular items). Pair
    generation rides the basket-bounded self-join; item supports are a
    broadcast-sized table joined twice; the basket total is a one-row
    broadcast. Metrics are floored micro rationals from exact counts."""
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    item = li.groupBy("l_partkey").agg(F.count("*").alias("n_item"))
    a = li.alias("a")
    b = li.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    ia = item.select(
        F.col("l_partkey").alias("part_a"), F.col("n_item").alias("n_a")
    )
    ib = item.select(
        F.col("l_partkey").alias("part_b"), F.col("n_item").alias("n_b")
    )
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.floor(F.col("n_both") * 1000000.0 / F.col("n_a"))
            .cast("bigint")
            .alias("confidence_micro"),
            F.floor(
                F.col("n_both")
                * F.col("n")
                * 1000000.0
                / (F.col("n_a") * F.col("n_b"))
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
    )


@register(
    "ts_spc_limits",
    """
    WITH s AS (
      SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) AS BIGINT)
               AS hr,
             CAST(round(value * 100) AS BIGINT) AS x
      FROM events),
    sub AS (
      SELECT event_type, hr, count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(max(x) - min(x) AS BIGINT) AS r
      FROM s GROUP BY event_type, hr
      HAVING count(*) >= 4),
    g AS (
      SELECT event_type, count(*) AS n_subgroups,
             CAST(sum(sx) AS BIGINT) AS sxx,
             CAST(sum(n) AS BIGINT) AS nn,
             CAST(sum(r) AS BIGINT) AS sr
      FROM sub GROUP BY event_type)
    SELECT event_type, n_subgroups,
           CAST(sxx // nn AS BIGINT) AS xbar_cents,
           CAST(sr // n_subgroups AS BIGINT) AS rbar_cents,
           CAST(sxx // nn + 577 * (sr // n_subgroups) // 1000 AS BIGINT)
             AS ucl_cents,
           CAST(sxx // nn - 577 * (sr // n_subgroups) // 1000 AS BIGINT)
             AS lcl_cents
    FROM g ORDER BY event_type
    """,
)
def ts_spc_limits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical process control (X̄-R chart) limits: hourly subgroups
    per stream, center line = grand mean, control limits = X̄ ± A₂·R̄
    with the n=4 Shewhart constant A₂ ≈ 0.577 as an exact integer
    ratio (577/1000) — the manufacturing-grade alerting bands that
    complement ts_cusum_alerts (CUSUM catches slow drifts; Shewhart
    limits catch single excursions). All arithmetic is integer cents
    with floor division on non-negative sums; two map-side-combinable
    aggregates, no window, no join."""
    ev = table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hr"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
    )
    sub = (
        s.groupBy("event_type", "hr")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            (F.max("x") - F.min("x")).alias("r"),
        )
        .filter(F.col("n") >= 4)
    )
    g = sub.groupBy("event_type").agg(
        F.count("*").alias("n_subgroups"),
        F.sum("sx").alias("sxx"),
        F.sum("n").alias("nn"),
        F.sum("r").alias("sr"),
    )
    xbar = F.floor(F.col("sxx") / F.col("nn")).cast("bigint")
    rbar = F.floor(F.col("sr") / F.col("n_subgroups")).cast("bigint")
    band = F.floor(577 * rbar / 1000).cast("bigint")
    return g.select(
        "event_type",
        "n_subgroups",
        xbar.alias("xbar_cents"),
        rbar.alias("rbar_cents"),
        (xbar + band).alias("ucl_cents"),
        (xbar - band).alias("lcl_cents"),
    ).orderBy("event_type")


@register(
    "streaming_append_windows",
    # r19: eviction-EXACT oracle (extreme allowlist 9 → 8). The batch
    # structure is deterministic (time-ordered ntile(4) split,
    # maxFilesPerTrigger=1, strictly increasing mtimes pinned by the
    # fixture), so the WATERMARK TRAJECTORY is a pure function of the
    # data and SQL can replicate the whole lifecycle, not just the
    # terminal cut: batch of a row = the same ntile(4) (Spark null
    # ordering spelled out), watermark in effect during batch b =
    # max event time over batches < b minus the 30-minute delay,
    # floored at epoch 0 (Spark's initial watermark — what drops
    # pre-1970 outlier rows in batch 1 on the extreme axis), a row
    # survives iff its window END is still OPEN at its batch's
    # watermark (end > wm, the same <=-comparator as emission), and a
    # window is published iff the terminal watermark passed its end.
    # On in-order clean data no row is ever late, so this reduces to
    # the previous terminal-watermark oracle; on corrupt out-of-range
    # timestamps it reproduces the eviction the batch aggregate used
    # to be blind to.
    f"""
    WITH ordered AS (
      SELECT CAST(ts AS TIMESTAMP) AS tts, event_type, value,
             ntile(4) OVER (ORDER BY CAST(ts AS TIMESTAMP) ASC NULLS FIRST,
                            event_id ASC NULLS FIRST) AS b
      FROM events),
    batch_max AS (SELECT b, max(tts) AS mx FROM ordered GROUP BY b),
    wm AS (
      SELECT b,
             greatest(
               TIMESTAMP '1970-01-01 00:00:00',
               coalesce(max(mx) OVER (ORDER BY b
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        - INTERVAL 30 MINUTE,
                        TIMESTAMP '1970-01-01 00:00:00')) AS wm_b
      FROM batch_max),
    kept AS (
      SELECT o.tts, o.event_type, o.value
      FROM ordered o JOIN wm ON wm.b = o.b
      WHERE to_timestamp(floor(epoch(o.tts) / 3600) * 3600 + 3600) > wm.wm_b),
    m AS (SELECT max(tts) AS mt FROM ordered),
    w AS (
      SELECT CAST(floor(epoch(tts) / 3600) * 3600 AS BIGINT)
               AS window_start_epoch,
             event_type, count(*) AS n, {dsum_sql('value')} AS sum_value
      FROM kept GROUP BY 1, 2)
    SELECT w.window_start_epoch, w.event_type, w.n, w.sum_value
    FROM w CROSS JOIN m
    WHERE to_timestamp(w.window_start_epoch + 3600)
          <= m.mt - INTERVAL 30 MINUTE
    """,
)
def streaming_append_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPEND-mode windowed aggregation — the production streaming-agg
    semantics the complete-mode twins (streaming_tumbling/sliding) do
    not exercise: each hourly window emits EXACTLY ONCE, only after the
    30-minute watermark passes its end, and late rows beyond the
    watermark are dropped rather than restating published results (the
    contract downstream consumers of an append sink rely on). The file
    source is split into 4 time-ordered files with maxFilesPerTrigger=1
    (strictly increasing mtimes — deterministic batch order) so the
    watermark actually advances across micro-batches; the final
    availableNow flush emits every closed window. The oracle (r19) is
    eviction-EXACT: it replays the deterministic watermark trajectory —
    ntile(4) batch of each row, watermark in effect per batch (prefix
    max − 30 min, floored at Spark's epoch-0 initial watermark), the
    late-row drop, and the terminal publication cut — so the extreme
    axis (out-of-range timestamps advancing the watermark) verifies
    value-exactly instead of via allowlist."""
    import glob as _g
    import shutil

    ev = table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    split_dir = scratch_dir("append_split_")
    src_dir = scratch_dir("append_src_")
    part = ev.withColumn(
        "part", F.ntile(4).over(Window.orderBy("ts", "event_id"))
    )
    # r19 (guide §1.2 one pass, not four): ONE partitionBy("part") write
    # stages all 4 shards — previously each shard re-ran the global ntile
    # sort in its own write job. Identical shard contents (the window is
    # deterministic on the unique (ts, event_id) order; partitionBy drops
    # the part column exactly as .drop("part") did).
    part.write.mode("overwrite").partitionBy("part").parquet(split_dir)
    # a partitionBy write emits NO data file for a part with zero rows
    # (empty/short inputs leave ntile buckets unpopulated, and a
    # zero-row table writes nothing at all) — those shards fall back to
    # one shared empty schema-bearing file so the 4-batch trajectory is
    # preserved exactly as the old per-shard writes produced it
    empty_src = None
    for p in range(1, 5):
        found = _g.glob(os.path.join(split_dir, f"part={p}", "*.parquet"))
        if found:
            # r20 (ADVICE): the one-shard-one-file invariant is load-
            # bearing — each shard is one micro-batch, and copying only
            # found[0] would silently DROP rows if the staging write ever
            # emitted several files per partition (e.g. maxRecordsPerFile
            # set, or a plan change un-collapsing the ntile task). Fail
            # loud instead of losing data.
            if len(found) != 1:
                raise RuntimeError(
                    f"append_windows staging wrote {len(found)} files for "
                    f"part={p}; the 1-file-per-shard invariant broke"
                )
            src = found[0]
        else:
            if empty_src is None:
                empty_dir = os.path.join(split_dir, "__empty")
                part.drop("part").limit(0).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(empty_dir)
                empty_src = _g.glob(os.path.join(empty_dir, "*.parquet"))[0]
            src = empty_src
        dst = os.path.join(src_dir, f"{p:02d}.parquet")
        shutil.copy(src, dst)
        # strictly increasing mtimes: FileStreamSource orders new files
        # by modification time, and the eviction-exact oracle replays
        # the watermark trajectory batch by batch — a tie-broken file
        # order would make the trajectory nondeterministic
        os.utime(dst, (1_000_000_000 + p, 1_000_000_000 + p))
    agg = (
        shard_stream(spark, src_dir)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("sum_value"))
        .select(
            F.unix_timestamp("w.start").alias("window_start_epoch"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return drain(agg, "append", src_dir)


@register(
    "ts_seasonal_adjust",
    """
    WITH s AS (
      SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
               AS day_n,
             CAST(round(value * 100) AS BIGINT) AS x,
             event_id
      FROM events),
    dow AS (SELECT event_type, (day_n + 4) % 7 AS dw, x, event_id FROM s),
    base AS (
      SELECT event_type, dw, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx
      FROM dow GROUP BY event_type, dw),
    resid AS (
      SELECT d.event_type, d.event_id,
             d.x * b.n - b.sx AS r_scaled, b.n
      FROM dow d JOIN base b ON b.event_type = d.event_type AND b.dw = d.dw)
    SELECT event_type,
           count(*) FILTER (WHERE abs(r_scaled) > 20000 * n) AS n_outliers,
           CAST(max(abs(r_scaled) // n) AS BIGINT) AS max_resid_cents
    FROM resid GROUP BY event_type ORDER BY event_type
    """,
)
def ts_seasonal_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal adjustment by day-of-week profile: residual = value −
    same-weekday mean (the simplest STL step — weekly seasonality is
    the dominant cycle in ops metrics, and an 'anomaly' that is just
    'it's Saturday' is the classic false page). Weekday comes from the
    epoch-day closed form (ts_business_days' convention), means stay
    exact rationals by scaling residuals with the group count, and the
    outlier census (|residual| > 200.00) is pure integer compare. One
    profile aggregate broadcast back onto the stream, one final
    aggregate."""
    ev = table(spark, sf_dir, "events")
    s = ev.select(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day_n"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        "event_id",
    ).select(
        "event_type",
        ((F.col("day_n") + 4) % 7).alias("dw"),
        "x",
        "event_id",
    )
    base = s.groupBy("event_type", "dw").agg(
        F.count("*").alias("n"), F.sum("x").alias("sx")
    )
    resid = s.join(F.broadcast(base), ["event_type", "dw"]).select(
        "event_type",
        (F.col("x") * F.col("n") - F.col("sx")).alias("r_scaled"),
        "n",
    )
    return (
        resid.groupBy("event_type")
        .agg(
            F.count_if(F.abs(F.col("r_scaled")) > 20000 * F.col("n")).alias(
                "n_outliers"
            ),
            F.max(
                F.floor(F.abs(F.col("r_scaled")) / F.col("n"))
            )
            .cast("bigint")
            .alias("max_resid_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "s28_column_rename_evolution",
    f"""
    SELECT o_orderstatus AS status, count(*) AS n,
           {dsum_sql('o_totalprice')} AS total
    FROM orders WHERE o_orderkey IS NOT NULL GROUP BY o_orderstatus
    """,
)
def s28_column_rename_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-rename schema evolution: half the table's files carry the
    old column name (``price``), half the new (``amount``) — plain
    parquet has no column-mapping metadata (the Delta/Iceberg feature),
    so the engine-side fix is an explicit mapping read: scan each
    vintage with its own schema, normalize names, union — never
    mergeSchema (which would produce two half-null columns, silently).
    The read-back aggregate must equal the original table's — proving
    no rows or values were lost across the rename boundary. At 100 TB
    the two vintage scans are partition-pruned by their directories.
    The vintage split is keyed on o_orderkey — a null key belongs to
    neither vintage, excluded both sides (r16, the ivm split rule)."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isNotNull())
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    root = scratch_dir("rename_evo_")
    old_dir = os.path.join(root, "v_old")
    new_dir = os.path.join(root, "v_new")
    o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("price"),
    ).write.parquet(old_dir)
    o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_totalprice").alias("amount"),
    ).write.parquet(new_dir)
    old = spark.read.parquet(old_dir).select(
        "o_orderkey", "o_orderstatus", F.col("price").alias("o_totalprice")
    )
    new = spark.read.parquet(new_dir).select(
        "o_orderkey", "o_orderstatus", F.col("amount").alias("o_totalprice")
    )
    both = old.unionByName(new)
    return both.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count("*").alias("n"), dsum(F.col("o_totalprice")).alias("total")
    )


_CELL_BAL_SQL = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centroid
  FROM embeddings WHERE vec_id < {_IVFPQ_NCELLS}),
a0 AS (
  SELECT e.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {V.euclidean2_sql('CAST(e.embedding AS DOUBLE[])', 'c.centroid')},
                    c.centroid_id) AS rn
  FROM embeddings e CROSS JOIN c),
sizes AS (
  SELECT centroid_id, count(*) AS n
  FROM a0 WHERE rn = 1 GROUP BY centroid_id),
tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot, count(*) AS n_cells
        FROM sizes)
SELECT s.centroid_id, s.n,
       CAST(floor(s.n * t.n_cells * 1000000.0 / t.n_tot) AS BIGINT)
         AS load_ratio_micro,
       s.n * t.n_cells > 2 * t.n_tot AS is_hot
FROM sizes s CROSS JOIN tot t
ORDER BY s.centroid_id
"""


@register("ann_cell_balance", _CELL_BAL_SQL)
def ann_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-balance report: posting-list sizes per coarse cell, the
    load ratio vs a perfectly uniform split, and a hot-cell flag at 2×
    — the skew diagnostic for the ANN probe join (a hot cell is a hot
    shuffle key: the fix is salting the cell or re-training the coarse
    codebook, and this report is what triggers either). One assignment
    pass (the same argmin the index build runs), one aggregate, a
    one-row total broadcast."""
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("ve")
    )
    c = emb.filter(F.col("vec_id") < _IVFPQ_NCELLS).select(
        F.col("vec_id").alias("centroid_id"), F.col("ve").alias("centroid")
    )
    a0 = (
        emb.crossJoin(F.broadcast(c))
        .select(
            "vec_id",
            "centroid_id",
            V.euclidean2(F.col("ve"), F.col("centroid")).alias("__d2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("__d2", "centroid_id")
            ),
        )
    )
    sizes = (
        a0.filter(F.col("rn") == 1)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
    )
    tot = sizes.agg(
        F.sum("n").alias("n_tot"), F.count("*").alias("n_cells")
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .select(
            "centroid_id",
            "n",
            F.floor(
                F.col("n") * F.col("n_cells") * 1000000.0 / F.col("n_tot")
            )
            .cast("bigint")
            .alias("load_ratio_micro"),
            (F.col("n") * F.col("n_cells") > 2 * F.col("n_tot")).alias(
                "is_hot"
            ),
        )
        .orderBy("centroid_id")
    )


@register(
    "ts_naive_forecast_mae",
    """
    WITH d AS (
      SELECT event_type,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
               AS day_n,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS total_c
      FROM events GROUP BY event_type, day_n),
    j AS (
      SELECT cur.event_type, cur.day_n,
             cur.total_c AS actual_c, prev.total_c AS forecast_c
      FROM d cur JOIN d prev
        ON prev.event_type = cur.event_type
       AND prev.day_n = cur.day_n - 7)
    SELECT event_type, count(*) AS n_days,
           CAST(sum(abs(actual_c - forecast_c)) AS BIGINT)
             AS total_abs_err_c,
           CAST(floor(sum(abs(actual_c - forecast_c)) * 1.0 / count(*))
                AS BIGINT) AS mae_cents
    FROM j GROUP BY event_type ORDER BY event_type
    """,
)
def ts_naive_forecast_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast baseline: predict each day's total as the
    same weekday one week earlier and score MAE — the benchmark every
    real forecasting model must beat before it ships (if your model
    can't beat 'same as last Tuesday', it isn't a model; pairs with
    ts_seasonal_adjust, which removes exactly the signal this forecast
    exploits). Daily totals are one map-side-combined aggregate; the
    t−7 join is a self equi-join on the shifted day number — no window,
    no cross. All integer cents."""
    ev = table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / 86400).cast("bigint").alias("day_n"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint")).alias(
            "total_c"
        )
    )
    cur = d.select("event_type", "day_n", F.col("total_c").alias("actual_c"))
    prev = d.select(
        "event_type",
        (F.col("day_n") + 7).alias("day_n"),
        F.col("total_c").alias("forecast_c"),
    )
    j = cur.join(prev, ["event_type", "day_n"])
    err = F.abs(F.col("actual_c") - F.col("forecast_c"))
    return (
        j.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            F.sum(err).alias("total_abs_err_c"),
        )
        .select(
            "event_type",
            "n_days",
            "total_abs_err_c",
            F.floor(F.col("total_abs_err_c") * 1.0 / F.col("n_days"))
            .cast("bigint")
            .alias("mae_cents"),
        )
        .orderBy("event_type")
    )


@register(
    "seq_regex_funnel",
    """
    WITH s AS (
      SELECT user_id, substring(event_type, 1, 1) AS c,
             CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE user_id < 100),
    seq AS (
      SELECT user_id, string_agg(c, '' ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS journey
      FROM s GROUP BY user_id)
    SELECT count(*) AS n_users,
           count(*) FILTER (WHERE regexp_matches(journey, 'v[^p]*c[^p]*p'))
             AS n_funnel,
           count(*) FILTER (WHERE regexp_matches(journey, 'ee'))
             AS n_double_error,
           count(*) FILTER (WHERE regexp_matches(journey, '^s'))
             AS n_signup_first
    FROM seq
    """,
)
def seq_regex_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex pattern matching over event journeys — the MATCH_RECOGNIZE
    stand-in: each user's ordered event-type initials collapse into one
    journey string, and funnel questions become regexes (view → click →
    purchase with no intervening purchase; an error immediately
    retried; signup as first action) — strictly more expressive than
    funnel_conversion's fixed stages (backtracking, negations, and
    anchors come free). The per-user collapse is one ordered aggregate;
    journeys are short strings, so the regex pass is map-only; both
    engines run the identical pattern."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    s = ev.select(
        "user_id",
        F.substring("event_type", 1, 1).alias("c"),
        "ts",
        "event_id",
    )
    seq = s.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("ts"), F.col("event_id"), F.col("c"))
                    )
                ),
                lambda r: r["c"],
            ),
            "",
        ).alias("journey")
    )
    return seq.agg(
        F.count("*").alias("n_users"),
        F.count_if(F.col("journey").rlike("v[^p]*c[^p]*p")).alias("n_funnel"),
        F.count_if(F.col("journey").rlike("ee")).alias("n_double_error"),
        F.count_if(F.col("journey").rlike("^s")).alias("n_signup_first"),
    )


@register(
    "pipeline_dataset_card",
    """
    WITH d AS (
      SELECT source,
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 t -> t <> '')) AS n_tok,
             n_chars,
             md5(text) AS h
      FROM documents),
    g AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             count(DISTINCT h) AS n_unique,
             CAST(min(n_tok) AS BIGINT) AS min_tokens,
             CAST(max(n_tok) AS BIGINT) AS max_tokens
      FROM d GROUP BY source)
    SELECT source, n_docs, total_tokens, total_chars,
           min_tokens, max_tokens,
           CAST(n_docs - n_unique AS BIGINT) AS n_exact_dups,
           CAST(floor(total_tokens * 1.0 / n_docs) AS BIGINT)
             AS mean_tokens,
           CAST(floor((n_docs - n_unique) * 1000000.0 / n_docs) AS BIGINT)
             AS dup_rate_micro
    FROM g ORDER BY source
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset card, one pass: per source — document and token volumes,
    length extremes, exact-duplicate counts and rate — the stat sheet
    published alongside a training corpus (Datasheets for Datasets /
    model-card practice) and the round-trip sanity check before and
    after every pipeline stage. ONE scan computes everything: token
    counts and content hashes are row-local projections; the aggregate
    is map-side combined (count-distinct via the hash, not the text).
    Derived ratios are floored integer rationals."""
    docs = table(spark, sf_dir, "documents")
    d = spread(docs, "doc_id").select(
        "source",
        F.size(H.tokens(F.col("text"))).alias("n_tok"),
        "n_chars",
        F.md5("text").alias("h"),
    )
    g = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.countDistinct("h").alias("n_unique"),
        F.min("n_tok").cast("bigint").alias("min_tokens"),
        F.max("n_tok").cast("bigint").alias("max_tokens"),
    )
    return g.select(
        "source",
        "n_docs",
        "total_tokens",
        "total_chars",
        "min_tokens",
        "max_tokens",
        (F.col("n_docs") - F.col("n_unique")).alias("n_exact_dups"),
        F.floor(F.col("total_tokens") * 1.0 / F.col("n_docs"))
        .cast("bigint")
        .alias("mean_tokens"),
        F.floor(
            (F.col("n_docs") - F.col("n_unique")) * 1000000.0 / F.col("n_docs")
        )
        .cast("bigint")
        .alias("dup_rate_micro"),
    ).orderBy("source")


@register(
    "dq_duplicate_payments",
    """
    WITH p AS (
      SELECT event_id, user_id,
             CAST(floor(value) AS BIGINT) AS amount_d,
             CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t_s
      FROM events WHERE event_type = 'purchase'),
    pairs AS (
      SELECT a.user_id, a.amount_d,
             a.event_id AS a_id, b.event_id AS b_id,
             b.t_s - a.t_s AS dt_s
      FROM p a JOIN p b
        ON b.user_id = a.user_id AND b.amount_d = a.amount_d
       AND a.event_id < b.event_id
       AND abs(b.t_s - a.t_s) <= 86400)
    SELECT user_id, amount_d, a_id, b_id, dt_s FROM pairs
    """,
)
def dq_duplicate_payments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-charge detection: purchase pairs by the same user for
    the same whole-dollar amount within 24 hours — the double-submit /
    retry-storm audit every payments lake runs nightly (exact dedup
    misses these: the rows differ in id and timestamp; near-dedup text
    tricks don't apply to amounts; the dollar bucket absorbs cent-level
    fee jitter). The self-join is keyed on (user, amount bucket), so
    fan-out is bounded by per-user same-amount multiplicity — never a
    time-range scan; at 100 TB the j_range_bucketed day-cell rewrite
    stacks under the |Δt| residual. Integer dollars and epoch seconds
    end-to-end."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    p = ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value")).cast("bigint").alias("amount_d"),
        F.floor(F.unix_timestamp("ts")).cast("bigint").alias("t_s"),
    )
    a = p.select(
        "user_id",
        "amount_d",
        F.col("event_id").alias("a_id"),
        F.col("t_s").alias("ta"),
    )
    b = p.select(
        "user_id",
        "amount_d",
        F.col("event_id").alias("b_id"),
        F.col("t_s").alias("tb"),
    )
    return (
        a.join(b, ["user_id", "amount_d"])
        .filter(
            (F.col("a_id") < F.col("b_id"))
            & (F.abs(F.col("tb") - F.col("ta")) <= 86400)
        )
        .select(
            "user_id",
            "amount_d",
            "a_id",
            "b_id",
            (F.col("tb") - F.col("ta")).alias("dt_s"),
        )
    )


@register(
    "emb_centroid_drift",
    """
    WITH comp AS (
      SELECT label, vec_id % 2 AS half,
             unnest(generate_series(0, len(embedding) - 1)) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
               AS q
      FROM embeddings),
    s AS (
      SELECT label, half, pos, count(*) AS n,
             CAST(sum(q) AS BIGINT) AS sq
      FROM comp GROUP BY label, half, pos),
    j AS (
      SELECT a.label, a.pos,
             a.n AS n0, b.n AS n1,
             CAST(floor(
               (CAST(a.sq * b.n - b.sq * a.n AS DOUBLE) / (a.n * b.n))
               * (CAST(a.sq * b.n - b.sq * a.n AS DOUBLE) / (a.n * b.n))
               / 1e12 * 1e9 + 0.5) AS BIGINT) AS term_nano
      FROM s a JOIN s b
        ON a.label = b.label AND a.pos = b.pos
       AND a.half = 0 AND b.half = 1)
    SELECT label, CAST(min(n0) AS BIGINT) AS n_half0,
           CAST(min(n1) AS BIGINT) AS n_half1,
           CAST(sum(term_nano) AS BIGINT) AS drift_nano
    FROM j GROUP BY label ORDER BY label
    """,
)
def emb_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-centroid drift: per label, the squared L2 distance
    between the class centroid computed on two dataset halves — the
    drift monitor for VECTOR columns (dq_distribution_drift watches
    scalars; a re-embedded or silently re-normalized upstream model
    shows up here first, before ANN recall degrades). Components
    quantize to integer micro units; per-dimension mean differences are
    exact rationals (s₀n₁ − s₁n₀ over n₀n₁) fixed-pointed to nano
    BEFORE the cross-dimension sum, so the reduction is pure BIGINT.
    One explode + one aggregate + a self-join on (label, pos) — 64
    rows per label per half."""
    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias(
            "pos", "v"
        ),
    ).select(
        "label",
        "half",
        "pos",
        F.floor(F.col("v") * 1e6).cast("bigint").alias("q"),
    )
    s = comp.groupBy("label", "half", "pos").agg(
        F.count("*").alias("n"), F.sum("q").alias("sq")
    )
    a = s.filter(F.col("half") == 0).select(
        "label", "pos", F.col("n").alias("n0"), F.col("sq").alias("s0")
    )
    b = s.filter(F.col("half") == 1).select(
        "label", "pos", F.col("n").alias("n1"), F.col("sq").alias("s1")
    )
    num = F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0")
    ratio = num.cast("double") / (F.col("n0") * F.col("n1"))
    j = a.join(b, ["label", "pos"]).select(
        "label",
        "n0",
        "n1",
        F.floor(ratio * ratio / 1e12 * 1e9 + F.lit(0.5))
        .cast("bigint")
        .alias("term_nano"),
    )
    return (
        j.groupBy("label")
        .agg(
            F.min("n0").alias("n_half0"),
            F.min("n1").alias("n_half1"),
            F.sum("term_nano").alias("drift_nano"),
        )
        .orderBy("label")
    )


@register(
    "ts_bollinger_breaches",
    """
    WITH s AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS x,
             CAST(ts AS TIMESTAMP) AS ts, event_id
      FROM events WHERE user_id < 50),
    w AS (
      SELECT user_id, x,
             count(*) OVER win AS n,
             CAST(sum(x) OVER win AS BIGINT) AS sx,
             CAST(sum(x * x) OVER win AS BIGINT) AS sxx
      FROM s
      WINDOW win AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                     ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
    b AS (
      -- breach iff n(x·n − sx)² > 4·n(n·sxx − sx²): the |x−μ| > 2σ
      -- test cleared of divisions — pure integer compare
      SELECT user_id,
             (x * n - sx) * (x * n - sx) * n
               > 4 * (n * sxx - sx * sx) * n AS breach
      FROM w WHERE n = 20)
    SELECT user_id, count(*) AS n_windows,
           count(*) FILTER (WHERE breach) AS n_breaches
    FROM b GROUP BY user_id
    HAVING count(*) FILTER (WHERE breach) > 0
    ORDER BY user_id
    """,
)
def ts_bollinger_breaches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breaches: samples outside mean ± 2σ of their own
    trailing 20-observation window — the volatility-normalized spike
    detector (a fixed threshold pages on volatile streams and sleeps on
    quiet ones; bands adapt). The breach test is cleared of every
    division and square root: |x−μ| > 2σ rearranges to
    n(xn−sx)² > 4n(n·sxx−sx²) over exact BIGINT window power sums — a
    pure integer comparison, bit-identical cross-engine. One windowed
    pass, one aggregate."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    s = ev.select(
        "user_id",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
        "ts",
        "event_id",
    )
    win = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    w = s.select(
        "user_id",
        "x",
        F.count("*").over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
    ).filter(F.col("n") == 20)
    dev = F.col("x") * F.col("n") - F.col("sx")
    var_n2 = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    b = w.select(
        "user_id",
        (dev * dev * F.col("n") > 4 * var_n2 * F.col("n")).alias("breach"),
    )
    return (
        b.groupBy("user_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.count_if("breach").alias("n_breaches"),
        )
        .filter(F.col("n_breaches") > 0)
        .orderBy("user_id")
    )


@register(
    "ts_max_drawdown",
    """
    WITH s AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(round(value * 100) AS BIGINT) - 25000 AS pnl
      FROM events WHERE user_id < 50),
    c AS (
      SELECT user_id, ts, event_id,
             CAST(sum(pnl) OVER w AS BIGINT) AS equity
      FROM s
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    d AS (
      SELECT user_id, equity,
             CAST(max(equity) OVER w AS BIGINT) AS peak
      FROM c
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT user_id,
           CAST(max(peak - equity) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS peak_equity_cents
    FROM d GROUP BY user_id ORDER BY user_id
    """,
)
def ts_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per stream: the deepest peak-to-trough fall of
    the cumulative P&L curve — the risk statistic (and its cousin, the
    high-water mark) that summarizes 'how bad did it get' where
    variance can't. Two stacked running windows (cumulative sum, then
    running max) and one aggregate — the same closed-form discipline as
    ts_cusum_alerts (drawdown IS the CUSUM mirror: running-max minus
    current), all integer cents with a constant drift offset so
    equities actually go down as well as up."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.round(F.col("value") * 100, 0).cast("bigint") - 25000).alias(
            "pnl"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = s.select(
        "user_id", "ts", "event_id", F.sum("pnl").over(w).alias("equity")
    )
    d = c.select(
        "user_id", "equity", F.max("equity").over(w).alias("peak")
    )
    return (
        d.groupBy("user_id")
        .agg(
            F.max(F.col("peak") - F.col("equity")).alias(
                "max_drawdown_cents"
            ),
            F.max("peak").alias("peak_equity_cents"),
        )
        .orderBy("user_id")
    )


@register(
    "corpus_token_apportion",
    """
    WITH d AS (
      SELECT source,
             CAST(sum(len(list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '')))
               AS BIGINT) AS n_tok
      FROM documents GROUP BY source),
    t AS (SELECT CAST(sum(n_tok) AS BIGINT) AS total FROM d),
    q AS (
      SELECT source, n_tok,
             (n_tok * 1000000) // t.total AS base_alloc,
             (n_tok * 1000000) % t.total AS remainder
      FROM d CROSS JOIN t),
    r AS (
      SELECT source, n_tok, base_alloc, remainder,
             row_number() OVER (ORDER BY remainder DESC, source) AS frac_rank
      FROM q),
    gap AS (
      SELECT CAST(1000000 - sum(base_alloc) AS BIGINT) AS n_extra FROM r)
    SELECT r.source, r.n_tok,
           CAST(r.base_alloc
                + CASE WHEN r.frac_rank <= g.n_extra THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens
    FROM r CROSS JOIN gap g
    ORDER BY r.source
    """,
)
def corpus_token_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget apportionment by largest remainder (Hamilton's
    method): divide a 1M-token training budget across sources exactly
    proportionally to their corpus sizes — floors first, then the
    leftover tokens go to the largest fractional remainders, so the
    allocations are integers that sum EXACTLY to the budget (naive
    rounding over- or under-shoots; at fleet scale that error is whole
    shards). Everything is integer division/modulo on exact token
    counts; the remainder ranking is a window over #sources rows; the
    leftover count is re-derived from the allocation table itself (one
    row, broadcast)."""
    docs = table(spark, sf_dir, "documents")
    budget = 1000000
    # the per-source token table is #sources rows but its upstream is
    # the corpus token count — checkpoint so the four consumers
    # (total, quotas, remainder ranking, gap) scan the corpus ONCE
    d = (
        spread(docs, "doc_id")
        .select("source", F.size(H.tokens(F.col("text"))).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n_tok"))
        .localCheckpoint()
    )
    t = d.agg(F.sum("n_tok").alias("total"))
    q = d.crossJoin(F.broadcast(t)).select(
        "source",
        "n_tok",
        F.floor(F.col("n_tok") * budget / F.col("total"))
        .cast("bigint")
        .alias("base_alloc"),
        ((F.col("n_tok") * budget) % F.col("total")).alias("remainder"),
    )
    r = q.withColumn(
        "frac_rank",
        F.row_number().over(
            Window.orderBy(F.col("remainder").desc(), "source")
        ),
    ).localCheckpoint()
    gap = r.agg((budget - F.sum("base_alloc")).alias("n_extra"))
    return (
        r.crossJoin(F.broadcast(gap))
        .select(
            "source",
            "n_tok",
            (
                F.col("base_alloc")
                + F.when(F.col("frac_rank") <= F.col("n_extra"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("alloc_tokens"),
        )
        .orderBy("source")
    )


@register(
    "f21_luhn_check",
    f"""
    WITH c AS (
      SELECT event_id,
             lpad(CAST(({H.hash64_sql('event_id', 23)}) % 100000000 AS VARCHAR),
                  8, '0') || lpad(CAST(({H.hash64_sql('event_id', 29)})
                  % 10000000 AS VARCHAR), 7, '0') AS body
      FROM events WHERE event_id % 101 = 0),
    w AS (
      -- body digit at right-position i sits at PAN right-position i+1,
      -- so ODD body positions are the doubled ones
      SELECT event_id, body,
             CAST(list_sum(list_transform(range(1, 16),
               i -> CASE WHEN i % 2 = 1 THEN
                      CASE WHEN 2 * CAST(substring(body, 16 - i, 1) AS BIGINT) > 9
                           THEN 2 * CAST(substring(body, 16 - i, 1) AS BIGINT) - 9
                           ELSE 2 * CAST(substring(body, 16 - i, 1) AS BIGINT) END
                    ELSE CAST(substring(body, 16 - i, 1) AS BIGINT) END))
               AS BIGINT) AS s
      FROM c),
    pan AS (
      SELECT event_id, body || CAST((10 - s % 10) % 10 AS VARCHAR) AS pan
      FROM w),
    v AS (
      SELECT event_id, pan,
             CAST(list_sum(list_transform(range(1, 17),
               i -> CASE WHEN i % 2 = 0 THEN
                      CASE WHEN 2 * CAST(substring(pan, 17 - i, 1) AS BIGINT) > 9
                           THEN 2 * CAST(substring(pan, 17 - i, 1) AS BIGINT) - 9
                           ELSE 2 * CAST(substring(pan, 17 - i, 1) AS BIGINT) END
                    ELSE CAST(substring(pan, 17 - i, 1) AS BIGINT) END))
               AS BIGINT) % 10 = 0 AS luhn_ok
      FROM pan)
    SELECT count(*) AS n, count(*) FILTER (WHERE luhn_ok) AS n_valid,
           count(*) FILTER (WHERE NOT luhn_ok) AS n_invalid
    FROM v
    """,
)
def f21_luhn_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn checksum (mod-10) generation + validation en masse: build
    16-digit card-like numbers from the hash family (15-digit body, the
    16th digit computed so Luhn holds), then validate the full PAN —
    the detector that turns text_pii_scrub's regex hits into CONFIRMED
    card numbers (a 16-digit string that fails Luhn is a false
    positive; this is the standard second-stage PII filter). The
    double-every-second-digit fold is a higher-order transform over
    digit positions — pure integer column math, no UDF; validation of
    our own generated checks must return 100% valid, which the oracle
    asserts from the same construction."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 101 == 0)
    body = F.concat(
        F.lpad(
            (H.hash64(F.col("event_id"), 23) % 100000000).cast("string"),
            8,
            "0",
        ),
        F.lpad(
            (H.hash64(F.col("event_id"), 29) % 10000000).cast("string"),
            7,
            "0",
        ),
    )
    c = ev.select("event_id", body.alias("body"))

    def luhn_sum(col: str, length: int, double_parity: int) -> str:
        return (
            f"aggregate(sequence(1, {length}), CAST(0 AS BIGINT), (acc, i) -> "
            f"acc + CASE WHEN i % 2 = {double_parity} THEN "
            f"CASE WHEN 2 * CAST(substring({col}, {length + 1} - i, 1) AS BIGINT) > 9 "
            f"THEN 2 * CAST(substring({col}, {length + 1} - i, 1) AS BIGINT) - 9 "
            f"ELSE 2 * CAST(substring({col}, {length + 1} - i, 1) AS BIGINT) END "
            f"ELSE CAST(substring({col}, {length + 1} - i, 1) AS BIGINT) END)"
        )

    # body right-position i lands at PAN right-position i+1 → odd body
    # positions double; in the final PAN the even positions double
    w = c.select(
        "event_id", "body", F.expr(luhn_sum("body", 15, 1)).alias("s")
    )
    pan = w.select(
        "event_id",
        F.concat(
            F.col("body"), ((10 - F.col("s") % 10) % 10).cast("string")
        ).alias("pan"),
    )
    v = pan.select(
        "event_id",
        (F.expr(luhn_sum("pan", 16, 0)) % 10 == 0).alias("luhn_ok"),
    )
    return v.agg(
        F.count("*").alias("n"),
        F.count_if("luhn_ok").alias("n_valid"),
        F.count_if(~F.col("luhn_ok")).alias("n_invalid"),
    )


