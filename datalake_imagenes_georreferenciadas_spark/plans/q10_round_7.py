"""Registry segment 10 (mechanical split of plans/queries.py, r17).

- Round 7 — time-series bars, Benford audit, DSIR selection, chi² tokens

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
    drain,
    dsum,
    dsum_sql,
    events_stream,
    register,
    spread,
    table,
)
from .q01_j1 import (
    _PQ_ADC_SPARK,
    _PQ_CODES_SPARK,
    _PQ_D,
    _PQ_DUCK_ADC,
    _PQ_DUCK_CODES,
    _PQ_K,
    _PQ_M,
    _lsh_cand_cte,
    _near_pairs_cte,
    _pq_sub,
    _pq_sub_duck,
)

# ======================================================================
# Round 7 — time-series bars, Benford audit, DSIR selection, chi² tokens
# ======================================================================


@register(
    "ts_ohlc_resample",
    """
    SELECT event_type,
           CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT)
             AS bucket_s,
           first(value ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS open,
           max(value) AS high,
           min(value) AS low,
           last(value ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS close,
           count(*) AS n_obs
    FROM events
    WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1, 2
    """,
)
def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar resampling: per event_type and hour, the opening value
    (first by event time, event_id tiebreak), high, low, close, and
    observation count — the canonical downsampling of an irregular tick
    stream into fixed bars (script_geo.py's FECHA stamping generalized
    to interval analytics). min_by/max_by over a (ts, event_id) struct
    makes open/close deterministic under duplicate timestamps; the raw
    doubles pass through un-arithmetic'd so both engines hash identical
    bits. One map-side-combinable aggregate, no window, no shuffle
    beyond the groupBy — at 100 TB the bar table is
    |types|·|hours| rows, orders of magnitude smaller than the input.
    A tick without a time or a value is no observation — excluded on
    both sides (r16 contract; also dodges the engines' divergent
    min_by/first null-value conventions)."""
    ev = table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    return ev.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .cast("bigint")
        .alias("bucket_s"),
    ).agg(
        F.expr("min_by(value, struct(ts, event_id))").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.expr("max_by(value, struct(ts, event_id))").alias("close"),
        F.count("*").alias("n_obs"),
    )


_BENFORD_P = [
    0.301029995663981,
    0.176091259055681,
    0.124938736608300,
    0.096910013008056,
    0.079181246047625,
    0.066946789630613,
    0.057991946977687,
    0.051152522447381,
    0.045757490560675,
]

_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d + 1} THEN {p!r}" for d, p in enumerate(_BENFORD_P)
) + " END"


@register(
    "dq_benford",
    f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice > 0),
    c AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
    t AS (SELECT sum(n) AS total FROM c)
    SELECT digit, n,
           CAST(floor((CAST(n AS DOUBLE) / total - ({_BENFORD_CASE}))
                      * (CAST(n AS DOUBLE) / total - ({_BENFORD_CASE}))
                      / ({_BENFORD_CASE}) * 1e9 + 0.5) AS BIGINT)
             AS chi2_nano
    FROM c CROSS JOIN t
    ORDER BY digit
    """,
)
def dq_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order amounts: observed leading-digit
    frequencies vs the Benford expectation, per-digit chi² contribution
    in nano fixed point — the classic fabricated-data / unit-mixup
    detector for financial columns. The leading digit is taken through
    integer cents → string head (no log10, no libm); the expected
    probabilities are shared 15-digit literals; the only double math is
    the final fixed-pointed ratio. One conditional aggregate over one
    scan, a 9-row result re-joined to its own one-row total — at 100 TB
    this is a single map-side-combined pass."""
    benford = F.array(*[F.lit(p) for p in _BENFORD_P])
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digits = o.select(
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    c = digits.groupBy("digit").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    p = F.element_at(benford, F.col("digit"))
    frac = F.col("n").cast("double") / F.col("total")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.floor((frac - p) * (frac - p) / p * 1e9 + F.lit(0.5))
            .cast("long")
            .alias("chi2_nano"),
        )
        .orderBy("digit")
    )


_DSIR_BUCKETS = 512
_DSIR_SEED = 7
_DSIR_TARGET = ("src1", "src2", "src3")
_DSIR_TARGET_SQL = "('src1', 'src2', 'src3')"


@register(
    "pipeline_dsir_weights",
    f"""
    WITH d AS (
      SELECT doc_id, source IN {_DSIR_TARGET_SQL} AS is_target,
             {H.shingles_sql('text', 2)} AS bgs
      FROM documents WHERE doc_id IS NOT NULL),
    xb AS (
      SELECT doc_id, is_target,
             ({H.hash64_sql('bg', _DSIR_SEED)}) % {_DSIR_BUCKETS} AS bucket
      FROM (SELECT doc_id, is_target, unnest(bgs) AS bg FROM d)),
    bs AS (
      SELECT bucket, count(*) FILTER (WHERE is_target) AS t_b,
             count(*) AS r_b
      FROM xb GROUP BY bucket),
    tot AS (SELECT sum(t_b) AS t_tot, sum(r_b) AS r_tot FROM bs),
    lam AS (
      SELECT bucket,
             CAST(floor((ln((t_b + 0.5) / (t_tot + {_DSIR_BUCKETS / 2.0}))
                         - ln((r_b + 0.5) / (r_tot + {_DSIR_BUCKETS / 2.0})))
                        * 1e6 + 0.5) AS BIGINT) AS lam_micro
      FROM bs CROSS JOIN tot),
    dc AS (SELECT doc_id, bucket, count(*) AS cnt
           FROM xb GROUP BY doc_id, bucket),
    w AS (SELECT doc_id, CAST(sum(cnt * lam_micro) AS BIGINT) AS weight_micro
          FROM dc JOIN lam USING (bucket) GROUP BY doc_id)
    SELECT doc_id, weight_micro, rank FROM (
      SELECT doc_id, weight_micro,
             row_number() OVER (ORDER BY weight_micro DESC, doc_id) AS rank
      FROM w)
    WHERE rank <= 20
    """,
)
def pipeline_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023, arXiv:2302.03169): score
    every raw document by the hashed-bigram importance ratio between a
    target distribution (here the docs from sources src1–3) and the raw
    corpus, then keep the top-weighted docs — the published
    importance-resampling recipe for matching a pretraining corpus to a
    target domain without a model in the loop. Bigram features hash into
    512 fixed buckets (cross-engine md5 family), per-bucket smoothed
    log-ratios λ_b are fixed-pointed to micro units at the bucket level
    (512 rows — the only libm ln in the plan), and each doc's weight is
    the exact integer Σ count·λ over its buckets. At 100 TB: one explode
    pass, two map-side-combinable aggregates, a 512-row broadcast — the
    corpus never shuffles by anything wider than (doc_id, bucket).
    Selection weights attach to a document IDENTITY — null doc_id rows
    excluded both sides (r16)."""
    docs = table(spark, sf_dir, "documents").filter(
        F.col("doc_id").isNotNull()
    )
    d = spread(docs, "doc_id").select(
        "doc_id",
        F.col("source").isin(*_DSIR_TARGET).alias("is_target"),
        H.shingles(F.col("text"), 2).alias("bgs"),
    )
    xb = d.select(
        "doc_id", "is_target", F.explode("bgs").alias("bg")
    ).select(
        "doc_id",
        "is_target",
        (H.hash64(F.col("bg"), _DSIR_SEED) % _DSIR_BUCKETS).alias("bucket"),
    )
    # ONE explode pass: per-(doc, bucket) counts first; the per-bucket
    # target/raw totals then aggregate from this (vocabulary-sized)
    # table instead of re-expanding the corpus explode a second time.
    # r20 (guide §1.2): dc_full feeds TWO branches (bucket stats and the
    # per-doc weight join) and nothing deduped the shared subtree — the
    # shingle explode + hash + groupBy ran twice per query. One eager
    # localCheckpoint materializes it once; the stats loss that usually
    # vetoes checkpoints is harmless here because every downstream join
    # is already explicitly broadcast-hinted (lam is 512 rows by
    # construction). Same-session A/B (min-of-3): 3.43 → 3.09 s warm,
    # 9.19 → 4.90 s first pass; hash-identical.
    dc_full = xb.groupBy("doc_id", "bucket").agg(
        F.count("*").alias("cnt"), F.first("is_target").alias("is_target")
    ).localCheckpoint(eager=True)
    bs = dc_full.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_target"), F.col("cnt")).otherwise(0)).alias(
            "t_b"
        ),
        F.sum("cnt").alias("r_b"),
    )
    tot = bs.agg(F.sum("t_b").alias("t_tot"), F.sum("r_b").alias("r_tot"))
    half_b = _DSIR_BUCKETS / 2.0
    lam = bs.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            (
                F.log((F.col("t_b") + 0.5) / (F.col("t_tot") + half_b))
                - F.log((F.col("r_b") + 0.5) / (F.col("r_tot") + half_b))
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lam_micro"),
    )
    dc = dc_full.select("doc_id", "bucket", "cnt")
    w = (
        dc.join(F.broadcast(lam), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") * F.col("lam_micro")).alias("weight_micro"))
    )
    return (
        w.orderBy(F.col("weight_micro").desc(), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            "weight_micro",
            F.row_number()
            .over(Window.orderBy(F.col("weight_micro").desc(), "doc_id"))
            .alias("rank"),
        )
    )


_CHI2_POS = ("src1", "src3", "src5", "src7", "src9")
_CHI2_POS_SQL = "('src1', 'src3', 'src5', 'src7', 'src9')"


@register(
    "ml_chi2_tokens",
    f"""
    WITH lab AS (
      SELECT doc_id, source IN {_CHI2_POS_SQL} AS is_pos,
             list_distinct(list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS toks
      FROM documents),
    tot AS (
      SELECT count(*) FILTER (WHERE is_pos) AS p_tot,
             count(*) FILTER (WHERE NOT is_pos) AS n_tot
      FROM lab),
    tc AS (
      SELECT t, count(*) FILTER (WHERE is_pos) AS a,
             count(*) FILTER (WHERE NOT is_pos) AS b
      FROM (SELECT doc_id, is_pos, unnest(toks) AS t FROM lab)
      GROUP BY t),
    sc AS (
      SELECT t, a, b,
             CAST(floor(
               CAST(p_tot + n_tot AS DOUBLE)
               * (a * (n_tot - b) - b * (p_tot - a))
               * (a * (n_tot - b) - b * (p_tot - a))
               / ((a + b) * (p_tot + n_tot - a - b)
                  * p_tot * n_tot)
               * 1e6 + 0.5) AS BIGINT) AS chi2_micro
      FROM tc CROSS JOIN tot
      WHERE a + b >= 10 AND a + b <= p_tot + n_tot - 10)
    SELECT t AS token, a AS pos_docs, b AS neg_docs, chi2_micro, rank FROM (
      SELECT *, row_number() OVER (ORDER BY chi2_micro DESC, t) AS rank
      FROM sc)
    WHERE rank <= 15
    """,
)
def ml_chi2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² feature selection: rank vocabulary tokens by their chi-square
    association with a binary document label (source ∈ odd-numbered
    sources) from the 2×2 presence/label contingency table — the
    classic pre-training feature screen (and leakage detector: a
    too-predictive token is a label proxy). Counts stay exact integers
    end-to-end; the χ² ratio is the only double op and is fixed-pointed
    to micro units. Plan: distinct-token explode → one conditional
    aggregate per token; the 2-number doc-label total is a one-row
    broadcast; df-bounds prune the long tail before ranking. At 100 TB
    the token table is vocabulary-sized, not corpus-sized."""
    docs = table(spark, sf_dir, "documents")
    lab = spread(docs, "doc_id").select(
        "doc_id",
        F.col("source").isin(*_CHI2_POS).alias("is_pos"),
        F.array_distinct(H.tokens(F.col("text"))).alias("toks"),
    )
    tot = lab.agg(
        F.count_if("is_pos").alias("p_tot"),
        F.count_if(~F.col("is_pos")).alias("n_tot"),
    )
    tc = (
        lab.select("is_pos", F.explode("toks").alias("t"))
        .groupBy("t")
        .agg(
            F.count_if("is_pos").alias("a"),
            F.count_if(~F.col("is_pos")).alias("b"),
        )
    )
    n_all = F.col("p_tot") + F.col("n_tot")
    det = F.col("a") * (F.col("n_tot") - F.col("b")) - F.col("b") * (
        F.col("p_tot") - F.col("a")
    )
    sc = (
        tc.crossJoin(F.broadcast(tot))
        .filter(
            ((F.col("a") + F.col("b")) >= 10)
            & ((F.col("a") + F.col("b")) <= n_all - 10)
        )
        .select(
            "t",
            "a",
            "b",
            F.floor(
                n_all.cast("double")
                * det
                * det
                / (
                    (F.col("a") + F.col("b"))
                    * (n_all - F.col("a") - F.col("b"))
                    * F.col("p_tot")
                    * F.col("n_tot")
                )
                * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("chi2_micro"),
        )
    )
    return (
        sc.orderBy(F.col("chi2_micro").desc(), "t")
        .limit(15)
        .select(
            F.col("t").alias("token"),
            F.col("a").alias("pos_docs"),
            F.col("b").alias("neg_docs"),
            "chi2_micro",
            F.row_number()
            .over(Window.orderBy(F.col("chi2_micro").desc(), "t"))
            .alias("rank"),
        )
    )


@register(
    "streaming_static_join",
    f"""
    SELECT c.c_mktsegment, count(*) AS n, {dsum_sql('e.value')} AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream (file source, availableNow)
    enriches against a BATCH dimension table inside the streaming query —
    the Structured Streaming surface for slowly-changing lookups, where
    the static side is re-planned per micro-batch (so a dimension update
    lands without restarting the stream). The dimension is broadcast
    (1.5k rows), the post-join aggregate runs in complete mode, and the
    decimal partial sums keep the double total order-independent across
    micro-batch boundaries. Oracle: the same join as one batch SQL. At
    100 TB of stream the static side is still dimension-sized — the
    join never shuffles the stream."""
    stream, src = events_stream(spark, sf_dir)
    dim = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # the static dim is customer — linear-in-SF, so unhinted: per-batch
    # planning broadcasts it while small and shuffles the batch when not
    joined = stream.join(
        dim, stream.user_id == dim.c_custkey, "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n"), dsum(F.col("value")).alias("sum_value")
    )
    return drain(agg, "complete", src)


_CUSUM_SLACK_C = 500  # 5.00 drift allowance per observation, in cents
_CUSUM_THR_C = 20000  # alert when cumulative excess passes 200.00


@register(
    "ts_cusum_alerts",
    f"""
    WITH s AS (
      SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE user_id < 100),
    u AS (SELECT user_id, count(*) AS n, sum(cents) AS total
          FROM s GROUP BY user_id),
    d AS (
      SELECT s.user_id, s.event_id, s.ts,
             s.cents * u.n - u.total - {_CUSUM_SLACK_C} * u.n AS dev,
             u.n
      FROM s JOIN u USING (user_id)),
    p AS (
      SELECT user_id, event_id, ts, n,
             sum(dev) OVER w AS prefix
      FROM d
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    p2 AS (
      SELECT user_id, event_id, ts, n, prefix,
             min(prefix) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
      FROM p),
    cu AS (
      SELECT user_id, event_id, ts, n,
             prefix - least(CAST(0 AS BIGINT), runmin) AS cusum
      FROM p2)
    SELECT user_id,
           count(*) FILTER (WHERE cusum > {_CUSUM_THR_C} * n) AS n_alerts,
           CAST(floor(epoch(min(ts) FILTER (WHERE cusum > {_CUSUM_THR_C} * n)))
                AS BIGINT) AS first_alert_epoch,
           CAST(max(cusum // n) AS BIGINT) AS peak_cusum_cents
    FROM cu
    GROUP BY user_id
    HAVING count(*) FILTER (WHERE cusum > {_CUSUM_THR_C} * n) > 0
    """,
)
def ts_cusum_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint alerts: the one-sided cumulative-sum control
    chart S_i = max(0, S_{{i-1}} + (x_i − mean − slack)) per user stream,
    alerting when the statistic crosses a threshold — upward
    level-shift detection for metrics pipelines. The recursion solves in
    closed form as prefix − min(0, running-min(prefix)), so it is TWO
    stacked window functions, not an iterative loop; everything is
    integer cents scaled by the per-user count n (mean stays an exact
    rational), so both engines agree bit-for-bit with zero float math.
    At 100 TB: one join against a per-key aggregate, one partitioned
    window — no driver loop, no state store."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    s = ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    u = s.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("cents").alias("total")
    )
    d = s.join(u, "user_id").select(
        "user_id",
        "event_id",
        "ts",
        "n",
        (
            F.col("cents") * F.col("n")
            - F.col("total")
            - _CUSUM_SLACK_C * F.col("n")
        ).alias("dev"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = d.select(
        "user_id",
        "event_id",
        "ts",
        "n",
        F.sum("dev").over(w).alias("prefix"),
    ).withColumn("runmin", F.min("prefix").over(w))
    cu = p.select(
        "user_id",
        "ts",
        "n",
        (
            F.col("prefix")
            - F.least(F.lit(0).cast("bigint"), F.col("runmin"))
        ).alias("cusum"),
    )
    alert = F.col("cusum") > _CUSUM_THR_C * F.col("n")
    out = cu.groupBy("user_id").agg(
        F.count_if(alert).alias("n_alerts"),
        F.floor(F.unix_timestamp(F.min(F.when(alert, F.col("ts")))))
        .cast("bigint")
        .alias("first_alert_epoch"),
        F.max(F.floor(F.col("cusum") / F.col("n")))
        .cast("bigint")
        .alias("peak_cusum_cents"),
    )
    return out.filter(F.col("n_alerts") > 0)


@register(
    "text_entropy_quality",
    """
    WITH d AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents),
    tc AS (
      SELECT doc_id, t, count(*) AS c
      FROM (SELECT doc_id, unnest(toks) AS t FROM d)
      GROUP BY doc_id, t),
    terms AS (
      SELECT doc_id,
             CAST(sum(CAST(floor(c * log2(c) * 1e6 + 0.5) AS BIGINT))
                  AS BIGINT) AS sum_terms,
             CAST(sum(c) AS BIGINT) AS n_tokens
      FROM tc GROUP BY doc_id),
    ent AS (
      -- floor division via DOUBLE: DuckDB's integer // truncates toward
      -- zero, Spark's floor() floors — they differ when the rounding
      -- residue makes the numerator slightly negative (all-same-token doc)
      SELECT doc_id, n_tokens,
             CAST(floor(CAST(n_tokens * CAST(floor(log2(n_tokens) * 1e6 + 0.5)
                                             AS BIGINT)
                             - sum_terms AS DOUBLE) / n_tokens) AS BIGINT)
               AS ent_micro
      FROM terms WHERE n_tokens > 0)
    SELECT doc_id, n_tokens, ent_micro, rank FROM (
      SELECT doc_id, n_tokens, ent_micro,
             row_number() OVER (ORDER BY ent_micro, doc_id) AS rank
      FROM ent)
    WHERE rank <= 15
    """,
)
def text_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-entropy quality gate: per-document Shannon entropy of the
    unigram distribution, H = log2(L) − (Σ c·log2 c)/L — the standard
    low-diversity filter (boilerplate, keyword stuffing, stuck
    generators score near 0 bits; natural text 5+). Each c·log2(c) term
    is fixed-pointed to micro units BEFORE the per-doc sum, so the
    reduction is pure BIGINT and order-independent; the only libm calls
    take small-integer inputs both engines evaluate identically. Output:
    the 15 most repetitive docs. At 100 TB this is explode → two
    map-side-combinable aggregates, vocabulary-bounded per doc."""
    docs = table(spark, sf_dir, "documents")
    d = spread(docs, "doc_id").select(
        "doc_id", H.tokens(F.col("text")).alias("toks")
    )
    tc = (
        d.select("doc_id", F.explode("toks").alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c"))
    )
    terms = tc.groupBy("doc_id").agg(
        F.sum(
            F.floor(F.col("c") * F.log2("c") * 1e6 + F.lit(0.5)).cast("bigint")
        ).alias("sum_terms"),
        F.sum("c").alias("n_tokens"),
    )
    ent = terms.filter(F.col("n_tokens") > 0).select(
        "doc_id",
        "n_tokens",
        F.floor(
            (
                F.col("n_tokens")
                * F.floor(F.log2("n_tokens") * 1e6 + F.lit(0.5)).cast("bigint")
                - F.col("sum_terms")
            )
            / F.col("n_tokens")
        )
        .cast("bigint")
        .alias("ent_micro"),
    )
    return (
        ent.orderBy("ent_micro", "doc_id")
        .limit(15)
        .select(
            "doc_id",
            "n_tokens",
            "ent_micro",
            F.row_number()
            .over(Window.orderBy("ent_micro", "doc_id"))
            .alias("rank"),
        )
    )


_IVFPQ_NCELLS = 8
_IVFPQ_DIM = _PQ_M * _PQ_D  # 64


def _res_duck(ve: str, cent: str) -> str:
    return (
        f"list_transform(range(1, {_IVFPQ_DIM + 1}), "
        f"i -> ({ve})[i] - ({cent})[i])"
    )


_IVFPQ_TOPK_SQL = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centroid
  FROM embeddings
  WHERE vec_id < {_IVFPQ_NCELLS} AND embedding IS NOT NULL),
a0 AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve,
         c.centroid_id, c.centroid,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {V.euclidean2_sql('CAST(e.embedding AS DOUBLE[])', 'c.centroid')},
                    c.centroid_id) AS rn
  FROM embeddings e CROSS JOIN c
  WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL),
assign AS (
  SELECT vec_id, centroid_id, {_res_duck('ve', 'centroid')} AS residual
  FROM a0 WHERE rn = 1),
pcb AS (
  SELECT [ [ {_pq_sub_duck('r', 'm')} FOR r IN cvs ] FOR m IN range({_PQ_M}) ] AS cbs
  FROM (SELECT list(residual ORDER BY vec_id) AS cvs
        FROM assign WHERE vec_id >= {_IVFPQ_NCELLS} AND vec_id < {_IVFPQ_NCELLS + _PQ_K})),
enc AS (
  SELECT vec_id, centroid_id, {_PQ_DUCK_CODES} AS codes
  FROM (SELECT vec_id, centroid_id, residual AS embedding FROM assign), pcb),
probes AS (
  SELECT vec_id AS q_id, centroid_id, {_res_duck('ve', 'centroid')} AS qe
  FROM a0 WHERE vec_id IN (10, 11, 12) AND rn <= 2),
scored AS (
  SELECT p.q_id, enc.vec_id, CAST({_PQ_DUCK_ADC} AS BIGINT) AS adc_nano
  FROM enc JOIN probes p USING (centroid_id) CROSS JOIN pcb)
SELECT q_id, vec_id, adc_nano, rank FROM (
  SELECT q_id, vec_id, adc_nano,
         row_number() OVER (PARTITION BY q_id
           ORDER BY adc_nano, vec_id) AS rank
  FROM scored) WHERE rank <= 5
"""


@register("ann_ivfpq_topk", _IVFPQ_TOPK_SQL)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the production ANN index layout (FAISS IndexIVFPQ):
    coarse-quantize every vector to its nearest of 8 cells, PRODUCT-
    quantize the RESIDUAL (vector − cell centroid) to 8 one-byte codes,
    and serve queries by probing the 2 nearest cells with Asymmetric
    Distance Computation against the per-cell posting lists. Combines
    ann_ivf_topk's cell equi-join (the shuffle-partitionable probe) with
    ann_pq_topk's 32×-compressed scoring: at 100 TB the vector table
    stores as (cell, 8 codes), the probe is an equi-join on cell — never
    a corpus scan — and both codebooks broadcast as one row each. ADC
    partials floor to nano units and sum as BIGINT (hash-exact). The
    codebooks are deterministically data-sampled (first 8 raw vectors /
    next 16 residuals) so the oracle is exact; k-means training swaps in
    without changing the plan. Search-corpus null contract (r16):
    non-null id AND vector on both engines."""
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select("vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("ve"))
    )
    cents = (
        emb.filter(F.col("vec_id") < _IVFPQ_NCELLS)
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(vec_id, ve AS e))), "
                "s -> s.e)"
            ).alias("cents")
        )
    )
    a0 = (
        emb.crossJoin(F.broadcast(cents))
        .select(
            "vec_id",
            "ve",
            F.posexplode("cents").alias("pos", "centroid"),
        )
        .select(
            "vec_id",
            "ve",
            (F.col("pos") + 1).alias("centroid_id"),
            "centroid",
            V.euclidean2(F.col("ve"), F.col("centroid")).alias("__d2"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy("__d2", "centroid_id")
            ),
        )
    )
    assign = a0.filter(F.col("rn") == 1).select(
        "vec_id",
        "centroid_id",
        F.expr("zip_with(ve, centroid, (x, y) -> x - y)").alias("residual"),
    )
    pcb = (
        assign.filter(
            (F.col("vec_id") >= _IVFPQ_NCELLS)
            & (F.col("vec_id") < _IVFPQ_NCELLS + _PQ_K)
        )
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(vec_id, "
                "residual AS e))), s -> s.e)"
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
        assign.crossJoin(F.broadcast(pcb))
        .select(
            "vec_id",
            "centroid_id",
            F.col("residual").alias("emb"),
            "cbs",
        )
        .select(
            "vec_id", "centroid_id", F.expr(_PQ_CODES_SPARK).alias("codes"), "cbs"
        )
    )
    probes = a0.filter(
        F.col("vec_id").isin(10, 11, 12) & (F.col("rn") <= 2)
    ).select(
        F.col("vec_id").alias("q_id"),
        "centroid_id",
        F.expr("zip_with(ve, centroid, (x, y) -> x - y)").alias("qe"),
    )
    scored = enc.join(probes, "centroid_id").select(
        "q_id", "vec_id", F.expr(_PQ_ADC_SPARK).alias("adc_nano")
    )
    w = Window.partitionBy("q_id").orderBy("adc_nano", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "vec_id", "adc_nano", "rank")
    )


@register(
    "ml_auc_exact",
    """
    WITH o AS (
      SELECT o_totalprice AS score, o_orderstatus = 'F' AS is_pos
      FROM orders WHERE o_totalprice IS NOT NULL),
    sc AS (
      SELECT score, count(*) FILTER (WHERE is_pos) AS pos_s,
             count(*) FILTER (WHERE NOT is_pos) AS neg_s
      FROM o GROUP BY score),
    cum AS (
      SELECT score, pos_s, neg_s,
             sum(neg_s) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumneg
      FROM sc),
    agg AS (
      SELECT CAST(sum(pos_s) AS BIGINT) AS n_pos,
             CAST(sum(neg_s) AS BIGINT) AS n_neg,
             CAST(sum(pos_s * (2 * (cumneg - neg_s) + neg_s)) AS BIGINT)
               AS two_u
      FROM cum)
    SELECT n_pos, n_neg,
           CAST(two_u * 1000000 // (2 * n_pos * n_neg) AS BIGINT) AS auc_micro
    FROM agg
    """,
)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC by the Mann-Whitney rank-sum identity, tie-correct:
    AUC = U/(P·N) with U = Σ_pos avg-rank − P(P+1)/2 — the standard
    offline evaluation of a scoring model (here: does order value
    predict fulfilment status). Reduced FIRST to the distinct-score
    contingency table (pos/neg counts per score), so the only ordered
    window runs over |distinct scores| aggregated rows, not the raw
    events — Σ_s pos_s·(2·neg_below + neg_s) counts discordant pairs
    exactly with ties at half weight, all in BIGINT; the single
    division is integer micro fixed point. At 100 TB: one map-side-
    combinable aggregate, then a window over the (much smaller) score
    table — never a global sort of the fact table. A score-less row
    can't be ranked — excluded both sides (r16); a null LABEL counts as
    neither positive nor negative on either engine."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_totalprice").alias("score"),
            (F.col("o_orderstatus") == "F").alias("is_pos"),
        )
    )
    sc = o.groupBy("score").agg(
        F.count_if("is_pos").alias("pos_s"),
        F.count_if(~F.col("is_pos")).alias("neg_s"),
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = sc.withColumn("cumneg", F.sum("neg_s").over(w))
    agg = cum.agg(
        F.sum("pos_s").alias("n_pos"),
        F.sum("neg_s").alias("n_neg"),
        F.sum(
            F.col("pos_s")
            * (2 * (F.col("cumneg") - F.col("neg_s")) + F.col("neg_s"))
        ).alias("two_u"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.floor(
            F.col("two_u") * 1000000 / (2 * F.col("n_pos") * F.col("n_neg"))
        )
        .cast("bigint")
        .alias("auc_micro"),
    )


@register(
    "ml_calibration_bins",
    f"""
    WITH p AS (
      SELECT ({H.hash64_sql('o_orderkey', 3)}) % 1000000 AS pred_micro,
             o_orderstatus = 'F' AS is_pos
      FROM orders),
    b AS (
      SELECT pred_micro // 100000 AS bin, count(*) AS n,
             count(*) FILTER (WHERE is_pos) AS pos,
             CAST(sum(pred_micro) AS BIGINT) AS sum_pred
      FROM p GROUP BY bin)
    SELECT bin, n,
           CAST(sum_pred // n AS BIGINT) AS mean_pred_micro,
           CAST(pos * 1000000 // n AS BIGINT) AS frac_pos_micro,
           CAST(abs(sum_pred // n - pos * 1000000 // n) AS BIGINT)
             AS gap_micro
    FROM b ORDER BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability bins: decile-bucket a model score
    against the observed positive rate and report the per-bin gap — the
    ECE (expected calibration error) building block every model-serving
    pipeline monitors. The 'model' is a deterministic hash-derived
    pseudo-score in [0,1) (micro units) so the oracle is exact; swapping
    in a real prediction column changes nothing structural. Pure
    integer arithmetic end-to-end — bin means and rates are floor-div
    micro rationals. One map-side-combinable aggregate → 10 rows."""
    o = table(spark, sf_dir, "orders")
    p = o.select(
        (H.hash64(F.col("o_orderkey"), 3) % 1000000).alias("pred_micro"),
        (F.col("o_orderstatus") == "F").alias("is_pos"),
    )
    b = p.groupBy(
        F.floor(F.col("pred_micro") / 100000).cast("bigint").alias("bin")
    ).agg(
        F.count("*").alias("n"),
        F.count_if("is_pos").alias("pos"),
        F.sum("pred_micro").alias("sum_pred"),
    )
    mean_pred = F.floor(F.col("sum_pred") / F.col("n")).cast("bigint")
    frac_pos = F.floor(F.col("pos") * 1000000 / F.col("n")).cast("bigint")
    return b.select(
        "bin",
        "n",
        mean_pred.alias("mean_pred_micro"),
        frac_pos.alias("frac_pos_micro"),
        F.abs(mean_pred - frac_pos).alias("gap_micro"),
    ).orderBy("bin")


_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"
_GH_N = 20000


@register(
    "geo_geohash_cells",
    f"""
    WITH pts AS (
      SELECT (i * 73 % 997) / 997.0 * 16.0 - 2.0 AS lon,
             (i * 131 % 983) / 983.0 * 14.0 - 2.0 AS lat
      FROM (SELECT unnest(generate_series(0, {_GH_N - 1})) AS i)),
    q AS (
      SELECT CAST(floor((lon + 180.0) / 360.0 * 32768.0) AS BIGINT) AS lon_q,
             CAST(floor((lat + 90.0) / 180.0 * 32768.0) AS BIGINT) AS lat_q
      FROM pts),
    code AS (
      SELECT list_sum(list_transform(range(0, 15), i ->
               (((lon_q >> (14 - i)) & 1) << (29 - 2 * i))
               + (((lat_q >> (14 - i)) & 1) << (28 - 2 * i)))) AS c30
      FROM q),
    gh AS (
      SELECT list_aggregate(list_transform(range(0, 6), j ->
               substring('{_GH_ALPHABET}',
                         CAST(((c30 >> (25 - 5 * j)) & 31) AS INT) + 1, 1)),
             'string_agg', '') AS geohash
      FROM code),
    cells AS (SELECT geohash, count(*) AS n FROM gh GROUP BY geohash)
    SELECT geohash, n, rank FROM (
      SELECT geohash, n,
             row_number() OVER (ORDER BY n DESC, geohash) AS rank
      FROM cells)
    WHERE rank <= 15
    """,
)
def geo_geohash_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash spatial indexing: encode each point as a 6-character
    base-32 geohash (the interleaved-bit cell key used for spatial
    partitioning, prefix-range queries and neighbor lookups in every
    geo datalake — the string sibling of geo_zorder_key) and report the
    densest cells. The encode is pure integer bit math — quantize
    lon/lat to 15 bits each, interleave with one fold, emit chars by
    5-bit slices — identical cross-engine, no libm, no UDF. At 100 TB
    the encode is a map-only projection and the density report one
    map-side-combinable aggregate; prefix truncation gives every
    coarser zoom level for free."""
    pts = spark.range(_GH_N).select(
        ((F.col("id") * 73 % 997) / 997.0 * 16.0 - 2.0).alias("lon"),
        ((F.col("id") * 131 % 983) / 983.0 * 14.0 - 2.0).alias("lat"),
    )
    q = pts.select(
        F.floor((F.col("lon") + 180.0) / 360.0 * 32768.0)
        .cast("bigint")
        .alias("lon_q"),
        F.floor((F.col("lat") + 90.0) / 180.0 * 32768.0)
        .cast("bigint")
        .alias("lat_q"),
    )
    code = q.select(
        F.expr(
            "aggregate(sequence(0, 14), CAST(0 AS BIGINT), (acc, i) -> acc"
            " + shiftleft(shiftright(lon_q, 14 - i) & 1, 29 - 2 * i)"
            " + shiftleft(shiftright(lat_q, 14 - i) & 1, 28 - 2 * i))"
        ).alias("c30")
    )
    gh = code.select(
        F.expr(
            "concat_ws('', transform(sequence(0, 5), j -> "
            f"substring('{_GH_ALPHABET}', "
            "CAST((shiftright(c30, 25 - 5 * j) & 31) AS INT) + 1, 1)))"
        ).alias("geohash")
    )
    cells = gh.groupBy("geohash").agg(F.count("*").alias("n"))
    return (
        cells.orderBy(F.col("n").desc(), "geohash")
        .limit(15)
        .select(
            "geohash",
            "n",
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "geohash"))
            .alias("rank"),
        )
    )


_MH_ACC_SQL = (
    _lsh_cand_cte()
    + """,
est AS (
  SELECT c.a_id, c.b_id,
         CAST(len(list_filter(range(0, 16),
                i -> sa.sig[i + 1] = sb.sig[i + 1])) * 62500 AS BIGINT)
           AS est_micro
  FROM cand c
  JOIN sigt sa ON sa.doc_id = c.a_id
  JOIN sigt sb ON sb.doc_id = c.b_id),
ex2 AS (
  SELECT c.a_id, c.b_id,
         CAST(len(list_filter(list_distinct(sa.shingles),
                              s -> list_contains(sb.shingles, s)))
              AS BIGINT) AS inter,
         CAST(len(list_distinct(sa.shingles)) AS BIGINT) AS na,
         CAST(len(list_distinct(sb.shingles)) AS BIGINT) AS nb
  FROM cand c
  JOIN base sa ON sa.doc_id = c.a_id
  JOIN base sb ON sb.doc_id = c.b_id)
SELECT e.a_id, e.b_id, e.est_micro,
       CAST(x.inter * 1000000 // greatest(x.na + x.nb - x.inter, 1)
            AS BIGINT) AS exact_micro,
       CAST(abs(e.est_micro
                - x.inter * 1000000 // greatest(x.na + x.nb - x.inter, 1))
            AS BIGINT) AS err_micro
FROM est e JOIN ex2 x ON e.a_id = x.a_id AND e.b_id = x.b_id
"""
)


@register("dedup_minhash_accuracy", _MH_ACC_SQL)
def dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy evaluation for the MinHash-LSH dedup path: for
    every LSH candidate pair, the Jaccard ESTIMATE from 16-hash
    signature agreement (matches/16) next to the EXACT shingle-set
    Jaccard and the absolute error — the eval that justifies a
    signature width before a fleet-scale dedup run (the dedup twin of
    ann_*_recall). Candidates come from the production band equi-join
    (never all-pairs); the estimate is a zip-compare of two 16-int
    arrays; exact Jaccard uses the same integer intersect/union counts
    as the verify stage, floor-divided to micro units so both engines
    hash identically."""
    docs = table(spark, sf_dir, "documents")
    # three consumers (band explode + both verify sides) — checkpoint
    # the signature index once, as a production index store would
    s = D.with_minhash(docs, keep_shingles=True).localCheckpoint()
    cand = D.band_pairs(s, "doc_id", F.col("__bands"))
    side = s.select(
        "doc_id",
        F.col("__sig").alias("sig"),
        F.array_distinct("__shingles").alias("sh"),
    )
    pa = side.select(
        F.col("doc_id").alias("a_id"),
        F.col("sig").alias("sig_a"),
        F.col("sh").alias("sh_a"),
    )
    pb = side.select(
        F.col("doc_id").alias("b_id"),
        F.col("sig").alias("sig_b"),
        F.col("sh").alias("sh_b"),
    )
    # cand is the LSH candidate-pair set — corpus-derived and unbounded,
    # so no broadcast hint (AQE converts at runtime iff it fits)
    j = cand.join(pa, "a_id").join(pb, "b_id")
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda v: v,
            )
        ).cast("bigint")
        * 62500
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    na = F.size("sh_a").cast("bigint")
    nb = F.size("sh_b").cast("bigint")
    exact = F.floor(
        inter * 1000000 / F.greatest(na + nb - inter, F.lit(1).cast("bigint"))
    ).cast("bigint")
    return j.select(
        "a_id",
        "b_id",
        est.alias("est_micro"),
        exact.alias("exact_micro"),
        F.abs(est - exact).alias("err_micro"),
    )


_NPROBE_MAX = 4


_NPROBE_CURVE_SQL = f"""
WITH c AS (
  SELECT vec_id AS centroid_id, CAST(embedding AS DOUBLE[]) AS centroid
  FROM embeddings
  WHERE vec_id < {_IVFPQ_NCELLS} AND embedding IS NOT NULL),
a0 AS (
  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ve, c.centroid_id,
         row_number() OVER (PARTITION BY e.vec_id
           ORDER BY {V.euclidean2_sql('CAST(e.embedding AS DOUBLE[])', 'c.centroid')},
                    c.centroid_id) AS rn
  FROM embeddings e CROSS JOIN c
  WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL),
assign AS (SELECT vec_id, centroid_id FROM a0 WHERE rn = 1),
probes AS (
  SELECT vec_id AS q_id, centroid_id, rn AS prn
  FROM a0 WHERE vec_id IN (10, 11, 12) AND rn <= {_NPROBE_MAX}),
q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings
      WHERE vec_id IN (10, 11, 12) AND embedding IS NOT NULL),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, e.vec_id,
           row_number() OVER (PARTITION BY q.q_id
             ORDER BY round({V.cosine_sql('CAST(e.embedding AS DOUBLE[])', 'q.qe')}, 6) DESC,
                      e.vec_id) AS rank
    FROM embeddings e, q
    WHERE e.vec_id IS NOT NULL AND e.embedding IS NOT NULL)
  WHERE rank <= 10),
m AS (
  SELECT x.q_id, x.vec_id, p.prn
  FROM exact x
  JOIN assign a ON a.vec_id = x.vec_id
  LEFT JOIN probes p ON p.q_id = x.q_id AND p.centroid_id = a.centroid_id)
SELECT m.q_id, g.p AS nprobe,
       count(*) FILTER (WHERE m.prn IS NOT NULL AND m.prn <= g.p) AS n_hit,
       CAST(count(*) FILTER (WHERE m.prn IS NOT NULL AND m.prn <= g.p)
            * 100000 AS BIGINT) AS recall_micro
FROM m CROSS JOIN (SELECT unnest(range(1, {_NPROBE_MAX + 1})) AS p) g
GROUP BY m.q_id, g.p
"""


@register("ann_nprobe_curve", _NPROBE_CURVE_SQL)
def ann_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF tuning curve: recall@10 as a function of nprobe (1–4) in ONE
    plan — the measurement that picks the probe budget before a fleet
    rollout (recall@10 of probing p cells = fraction of the exact
    top-10 whose assigned cell ranks ≤ p among the query's nearest
    centroids; exact in-cell scoring means no further loss). The cell
    assignment and probe ranking reuse the IVF machinery; the sweep is
    an explode over p, not four plans. At 100 TB ground truth comes
    from a held-out sample; the curve table is |queries|×|p| rows.
    Search-corpus null contract (r16): non-null id + vector."""
    emb = (
        table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id").isNotNull() & F.col("embedding").isNotNull())
        .select("vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("ve"))
    )
    c = emb.filter(F.col("vec_id") < _IVFPQ_NCELLS).select(
        F.col("vec_id").alias("centroid_id"), F.col("ve").alias("centroid")
    )
    a0 = (
        emb.crossJoin(F.broadcast(c))
        .select(
            "vec_id",
            "ve",
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
    assign = a0.filter(F.col("rn") == 1).select("vec_id", "centroid_id")
    probes = a0.filter(
        F.col("vec_id").isin(10, 11, 12) & (F.col("rn") <= _NPROBE_MAX)
    ).select(
        F.col("vec_id").alias("q_id"),
        "centroid_id",
        F.col("rn").alias("prn"),
    )
    q = emb.filter(F.col("vec_id").isin(10, 11, 12)).select(
        F.col("vec_id").alias("q_id"), F.col("ve").alias("qe")
    )
    exact = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "q_id",
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
        .filter(F.col("rank") <= 10)
        .select("q_id", "vec_id")
    )
    m = F.broadcast(exact).join(assign, "vec_id").join(
        F.broadcast(probes), ["q_id", "centroid_id"], "left"
    )
    g = spark.range(1, _NPROBE_MAX + 1).select(F.col("id").alias("p"))
    hit = F.col("prn").isNotNull() & (F.col("prn") <= F.col("p"))
    return (
        m.crossJoin(F.broadcast(g))
        .groupBy("q_id", F.col("p").alias("nprobe"))
        .agg(
            F.count_if(hit).alias("n_hit"),
            (F.count_if(hit) * 100000).cast("bigint").alias("recall_micro"),
        )
    )


@register(
    "emb_dim_stats",
    """
    WITH comp AS (
      SELECT unnest(generate_series(0, len(embedding) - 1)) AS pos,
             CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT)
               AS q
      FROM embeddings),
    s AS (
      SELECT pos, count(*) AS n,
             CAST(sum(q) AS BIGINT) AS s1,
             CAST(sum(q * q) AS BIGINT) AS s2
      FROM comp GROUP BY pos)
    SELECT pos, n,
           CAST(floor(CAST(s1 AS DOUBLE) / n) AS BIGINT) AS mean_micro,
           round((CAST(s2 AS DOUBLE) / n
                  - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                 / 1e12, 6) AS var_unit
    FROM s
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (mean + variance) — the
    whitening/pruning screen run before quantization or dimensionality
    cuts (a near-zero-variance dimension carries no information and
    wastes index bytes; ann_matryoshka_recall measures the serving side
    of the same decision). Components quantize to integer micro units
    FIRST, so the distributed power sums are exact BIGINTs (the
    a7_moments discipline applied along the vector axis); the variance
    double is derived once per dimension from identical integers. At
    100 TB: explode to (pos, q) → one map-side-combinable aggregate,
    64 output rows."""
    emb = table(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode(F.expr("CAST(embedding AS ARRAY<DOUBLE>)")).alias(
            "pos", "v"
        )
    ).select(
        "pos", F.floor(F.col("v") * 1e6).cast("bigint").alias("q")
    )
    s = comp.groupBy("pos").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return s.select(
        "pos",
        "n",
        F.floor(s1 / n).cast("bigint").alias("mean_micro"),
        F.round(
            (
                s2.cast("double") / n
                - (s1.cast("double") / n) * (s1.cast("double") / n)
            )
            / 1e12,
            6,
        ).alias("var_unit"),
    )


_FRESH_SLA_S = 86400


@register(
    "dq_freshness_sla",
    f"""
    WITH per AS (
      SELECT event_type,
             CAST(floor(epoch(max(CAST(ts AS TIMESTAMP)))) AS BIGINT)
               AS last_epoch,
             count(*) AS n
      FROM events GROUP BY event_type),
    g AS (SELECT max(last_epoch) AS global_last FROM per)
    SELECT event_type, n, last_epoch,
           global_last - last_epoch AS lag_s,
           global_last - last_epoch > {_FRESH_SLA_S} AS sla_breach
    FROM per CROSS JOIN g
    ORDER BY event_type
    """,
)
def dq_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness SLA monitor: per feed (event_type), the latest event
    time, its lag behind the freshest feed, and a breach flag when the
    lag passes the SLA window — the first data-quality page an
    ingestion on-call looks at (a silently stalled upstream shows up
    here before any value-level check fires). Lag stays integer epoch
    seconds; the global watermark is a one-row broadcast. One
    map-side-combinable aggregate at any scale."""
    ev = table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.floor(F.unix_timestamp(F.max("ts")))
        .cast("bigint")
        .alias("last_epoch"),
        F.count("*").alias("n"),
    )
    g = per.agg(F.max("last_epoch").alias("global_last"))
    lag = F.col("global_last") - F.col("last_epoch")
    return (
        per.crossJoin(F.broadcast(g))
        .select(
            "event_type",
            "n",
            "last_epoch",
            lag.alias("lag_s"),
            (lag > _FRESH_SLA_S).alias("sla_breach"),
        )
        .orderBy("event_type")
    )


_PHRASE = ("value", "table")


@register(
    "text_phrase_search",
    f"""
    WITH d AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(text), '\\s+'), t -> t <> '') AS toks
      FROM documents),
    post AS (
      SELECT doc_id, unnest(toks) AS tok,
             unnest(range(1, len(toks) + 1)) AS pos
      FROM d),
    hits AS (
      SELECT a.doc_id, count(*) AS n_occurrences
      FROM post a JOIN post b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.tok = '{_PHRASE[0]}' AND b.tok = '{_PHRASE[1]}'
      GROUP BY a.doc_id)
    SELECT doc_id, n_occurrences FROM hits
    """,
)
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: find documents containing the
    exact phrase 'value table' by joining the two terms' postings lists on
    adjacent positions — the retrieval surface BM25's bag-of-words
    ranking cannot express (phrase and proximity queries need token
    POSITIONS in the index). The posting explode filters to the two
    query terms immediately, so the position join touches only their
    postings — inverted-index probe shape, never a corpus scan. At
    100 TB the postings join is an equi-join on (doc_id, pos),
    shuffle-partitionable by doc."""
    docs = table(spark, sf_dir, "documents")
    d = spread(docs, "doc_id").select(
        "doc_id", H.tokens(F.col("text")).alias("toks")
    )
    post = d.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    a = post.filter(F.col("tok") == _PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = post.filter(F.col("tok") == _PHRASE[1]).select(
        "doc_id", F.col("pos").alias("pos_b")
    )
    return (
        a.join(b, "doc_id")
        .filter(F.col("pos_b") == F.col("pos_a") + 1)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_occurrences"))
    )


_MODULARITY_SQL = (
    _near_pairs_cte()
    + """,
src AS (SELECT doc_id, source FROM documents),
lab AS (
  SELECT p.a_id, p.b_id, sa.source AS src_a, sb.source AS src_b
  FROM pairs p
  JOIN src sa ON sa.doc_id = p.a_id
  JOIN src sb ON sb.doc_id = p.b_id),
m AS (SELECT count(*) AS m FROM lab),
ec AS (
  SELECT src_a AS source, count(*) AS intra_edges
  FROM lab WHERE src_a = src_b GROUP BY src_a),
dc AS (
  SELECT source, count(*) AS degree_sum FROM (
    SELECT src_a AS source FROM lab
    UNION ALL SELECT src_b FROM lab) GROUP BY source)
SELECT dc.source,
       CAST(coalesce(ec.intra_edges, 0) AS BIGINT) AS intra_edges,
       CAST(dc.degree_sum AS BIGINT) AS degree_sum,
       CAST(floor(CAST(4 * m.m * coalesce(ec.intra_edges, 0)
                       - dc.degree_sum * dc.degree_sum AS DOUBLE)
                  * 1e6 / (4 * m.m * m.m)) AS BIGINT) AS contrib_micro
FROM dc LEFT JOIN ec USING (source) CROSS JOIN m
"""
)


@register("graph_modularity", _MODULARITY_SQL)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of a labeling over the near-dup graph: score
    how strongly MinHash-LSH duplicate pairs concentrate WITHIN document
    sources (Q = Σ_c e_c/m − (d_c/2m)² — per-source contributions here;
    a high sum means dup clusters are source-internal, so per-source
    dedup sharding is safe; a low one means cross-source dedup is
    required). The edge list is the production band-join pair output —
    never all-pairs; modularity itself needs only two grouped counts
    over the (tiny) edge set and one broadcast edge total; the single
    division is floored micro fixed point from exact integers."""
    docs = table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.1).select("a_id", "b_id")
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("a_id"), F.col("source").alias("src_a")
            ),
            "a_id",
        )
        .join(
            src.select(
                F.col("doc_id").alias("b_id"), F.col("source").alias("src_b")
            ),
            "b_id",
        )
        # the labeled edge list is tiny but its upstream is the whole
        # MinHash band-join machinery — checkpoint so the three
        # consumers (m, ec, dc) don't each recompute it
        .localCheckpoint()
    )
    m = lab.agg(F.count("*").alias("m"))
    ec = (
        lab.filter(F.col("src_a") == F.col("src_b"))
        .groupBy(F.col("src_a").alias("source"))
        .agg(F.count("*").alias("intra_edges"))
    )
    dc = (
        lab.select(F.col("src_a").alias("source"))
        .unionAll(lab.select(F.col("src_b").alias("source")))
        .groupBy("source")
        .agg(F.count("*").alias("degree_sum"))
    )
    j = dc.join(ec, "source", "left").crossJoin(F.broadcast(m))
    e_c = F.coalesce(F.col("intra_edges"), F.lit(0)).cast("bigint")
    d_c = F.col("degree_sum").cast("bigint")
    return j.select(
        "source",
        e_c.alias("intra_edges"),
        d_c.alias("degree_sum"),
        F.floor(
            (4 * F.col("m") * e_c - d_c * d_c).cast("double")
            * 1e6
            / (4 * F.col("m") * F.col("m"))
        )
        .cast("bigint")
        .alias("contrib_micro"),
    )


import math as _math

_NDCG_W = [int(_math.floor(1e9 / _math.log2(r + 1))) for r in range(1, 11)]
_NDCG_W_SQL = "[" + ", ".join(str(w) for w in _NDCG_W) + "]"


_NDCG_SQL = f"""
WITH q AS (
  SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe, label AS q_lab
  FROM embeddings WHERE vec_id IN (10, 11, 12)),
cand AS (
  SELECT q.q_id,
         e.vec_id,
         round({V.cosine_sql('CAST(e.embedding AS DOUBLE[])', 'q.qe')}, 6)
           AS cos,
         CASE WHEN e.label = q.q_lab THEN 3
              WHEN abs(e.label - q.q_lab) = 1 THEN 1 ELSE 0 END AS gain
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.q_id),
ranked AS (
  SELECT q_id, gain,
         row_number() OVER (PARTITION BY q_id
           ORDER BY cos DESC, vec_id) AS rank
  FROM cand),
ideal AS (
  SELECT q_id, gain,
         row_number() OVER (PARTITION BY q_id
           ORDER BY gain DESC, vec_id) AS rank
  FROM cand),
dcg AS (
  SELECT q_id,
         CAST(sum(CAST(gain AS BIGINT) * ({_NDCG_W_SQL})[rank]) AS BIGINT)
           AS dcg_nano
  FROM ranked WHERE rank <= 10 GROUP BY q_id),
idcg AS (
  SELECT q_id,
         CAST(sum(CAST(gain AS BIGINT) * ({_NDCG_W_SQL})[rank]) AS BIGINT)
           AS idcg_nano
  FROM ideal WHERE rank <= 10 GROUP BY q_id)
SELECT dcg.q_id, dcg.dcg_nano, idcg.idcg_nano,
       CAST(floor(CAST(dcg.dcg_nano AS DOUBLE) * 1e6
                  / greatest(idcg.idcg_nano, 1)) AS BIGINT) AS ndcg_micro
FROM dcg JOIN idcg USING (q_id)
"""
