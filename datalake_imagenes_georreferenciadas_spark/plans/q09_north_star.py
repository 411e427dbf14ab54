"""Registry segment 09 (mechanical split of plans/queries.py, r17).

- NORTH STAR — the reference's own workflow end to end (SURVEY M1-M3) (cont. 3)

Pure move — bodies are byte-identical slices of the original file;
registration order is preserved by the facade import order.
"""

from ._qbase import (
    DataFrame,
    F,
    H,
    SIM,
    SparkSession,
    V,
    Window,
    register,
    spread,
    table,
)
from .q05_training import _TOKS_SQL
from .q08_north_star import (
    _HYBRID_RRF_SQL,
    _HYBRID_TERMS,
    _HYBRID_TERMS_SQL,
    hybrid_rrf_topk,
)



_BM25_K1, _BM25_B = 1.2, 0.75

_BM25_SQL = f"""
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
  GROUP BY tf.doc_id)
SELECT doc_id, round(score, 6) AS bm25, rank FROM (
  SELECT doc_id, score,
         row_number() OVER (ORDER BY round(score, 6) DESC, doc_id) AS rank
  FROM scored)
WHERE rank <= 10
"""


@register("bm25_topk", _BM25_SQL)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical ranking for the query terms — the standard sparse
    retriever (k1=1.2, b=0.75, the +1 idf variant that stays positive).
    Plan shape: the token explode filters to the (literal, tiny) term set
    immediately — the inverted-index probe — so tf/df aggregates run over
    hits only; doc lengths come from a separate no-explode projection;
    the corpus stats (N, avgdl) are a one-row aggregate broadcast into
    the scoring join; final top-10 is TakeOrdered. Nothing in the plan
    scales with corpus size except the initial scan."""
    docs = table(spark, sf_dir, "documents")
    d = spread(docs, "doc_id").select("doc_id", H.tokens(F.col("text")).alias("toks"))
    dl = d.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        d.select("doc_id", F.explode("toks").alias("t"))
        .filter(F.col("t").isin(*_HYBRID_TERMS))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("t").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
                * F.col("tf") * (_BM25_K1 + 1)
                / (
                    F.col("tf")
                    + _BM25_K1
                    * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
                )
            ).alias("score")
        )
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
        .select(
            "doc_id",
            "bm25",
            F.row_number()
            .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id")))
            .alias("rank"),
        )
    )


_HYBRID_RERANK_SQL = f"""
WITH cand10 AS ({_HYBRID_RRF_SQL}),
scored AS (
  SELECT c.doc_id, c.rrf_score, c.rank,
         (('0x' || substring(md5('ce:' || d.text), 1, 15))::BIGINT % 1000000) AS ce_score
  FROM cand10 c JOIN documents d USING (doc_id))
SELECT doc_id, rrf_score, ce_score, ce_rank FROM (
  SELECT doc_id, rrf_score, ce_score,
         row_number() OVER (ORDER BY ce_score DESC, doc_id) AS ce_rank
  FROM scored)
WHERE ce_rank <= 5
"""


@register("hybrid_rerank_topk", _HYBRID_RERANK_SQL)
def hybrid_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full two-stage retrieval: RRF-fused top-10 candidates →
    cross-encoder rerank → top-5. The rerank score is the model call
    site (see operators.similarity.rerank_crossencoder): candidates
    broadcast onto the doc store, and an integer digest stub scores each
    text, oracle-exact. At fleet scale the expensive model pass touches
    only k rows per query — the first stage already reduced the
    corpus."""
    docs = table(spark, sf_dir, "documents")
    cands = hybrid_rrf_topk(spark, sf_dir)
    reranked = SIM.rerank_crossencoder(cands, docs, query_tag="ce")
    return (
        reranked.orderBy(F.col("ce_score").desc(), "doc_id")
        .limit(5)
        .select(
            "doc_id",
            "rrf_score",
            "ce_score",
            F.row_number()
            .over(Window.orderBy(F.col("ce_score").desc(), F.col("doc_id")))
            .alias("ce_rank"),
        )
    )


_MAXSIM_NSUB = 4
_MAXSIM_SUBLEN = 16  # 64-dim embeddings → 4 contiguous 16-dim sub-vectors
_MAXSIM_Q_IDS = (0, 1, 2)

_MAXSIM_SQL = f"""
WITH s AS (
  SELECT vec_id,
         {', '.join(f'embedding[{i * _MAXSIM_SUBLEN + 1}:{(i + 1) * _MAXSIM_SUBLEN}] AS s{i}' for i in range(_MAXSIM_NSUB))}
  FROM embeddings),
q AS (
  SELECT vec_id AS q_id, {', '.join(f's{i} AS q{i}' for i in range(_MAXSIM_NSUB))}
  FROM s WHERE vec_id IN {_MAXSIM_Q_IDS}),
scored AS (
  SELECT q.q_id, d.vec_id,
         round({' + '.join('greatest(' + ', '.join(V.dot_sql(f'q.q{i}', f'd.s{j}') for j in range(_MAXSIM_NSUB)) + ')' for i in range(_MAXSIM_NSUB))}, 6) AS maxsim
  FROM s d, q WHERE d.vec_id <> q.q_id)
SELECT q_id, vec_id, maxsim, rank FROM (
  SELECT q_id, vec_id, maxsim,
         row_number() OVER (PARTITION BY q_id ORDER BY maxsim DESC, vec_id) AS rank
  FROM scored) WHERE rank <= 5
"""


@register("hybrid_maxsim_topk", _MAXSIM_SQL)
def hybrid_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval (ColBERT-style MaxSim, Khattab &
    Zaharia SIGIR'20 — public method): query and document are BAGS of
    sub-vectors (here: 4 contiguous 16-dim slices of the 64-dim
    embedding, standing in for per-token vectors); the score is
    Σ_query-subvec max_doc-subvec ⟨q_i, d_j⟩ — finer-grained than one
    pooled dot product, cheaper than a cross-encoder. Everything is
    JVM-side column math: slice → 16 sequential-fold dot products →
    greatest per query slice → sum, then a per-query top-5 ranking
    window over ≤|queries|·|docs| scored rows.

    Scale shape: the MaxSim operator itself is embarrassingly parallel
    (map-only after the broadcast of the 3-row query side); at fleet
    scale it consumes an ANN candidate join (as hybrid_rerank_topk
    consumes hybrid_rrf_topk) instead of the full table — the fixture
    scores the whole table so the oracle is exact over all pairs."""
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    sub = emb.select(
        "vec_id",
        *[
            F.slice("embedding", i * _MAXSIM_SUBLEN + 1, _MAXSIM_SUBLEN).alias(f"s{i}")
            for i in range(_MAXSIM_NSUB)
        ],
    )
    q = sub.filter(F.col("vec_id").isin(*_MAXSIM_Q_IDS)).select(
        F.col("vec_id").alias("q_id"),
        *[F.col(f"s{i}").alias(f"q{i}") for i in range(_MAXSIM_NSUB)],
    )
    pairs = sub.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_id"))
    maxsim = sum(
        [
            F.greatest(
                *[V.dot(F.col(f"q{i}"), F.col(f"s{j}")) for j in range(_MAXSIM_NSUB)]
            )
            for i in range(_MAXSIM_NSUB)
        ],
        F.lit(0.0),
    )
    scored = pairs.select(
        "q_id", "vec_id", F.round(maxsim, 6).alias("maxsim")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("maxsim").desc(), "vec_id")
    return scored.select(
        "q_id", "vec_id", "maxsim", F.row_number().over(w).alias("rank")
    ).filter(F.col("rank") <= 5)


@register(
    "dedup_corpus_chunks",
    """
    WITH w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
      WHERE doc_id IS NOT NULL
    ),
    chunks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             array_to_string(words[(i*4+1):(i*4+4)], ' ') AS chunk
      FROM w, UNNEST(range(CAST(ceil(len(words)/4.0) AS BIGINT))) AS t(i)
    ),
    hot AS (
      SELECT md5(chunk) AS ck FROM chunks
      GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    ),
    kept AS (
      SELECT c.doc_id, c.pos, c.chunk FROM chunks c
      WHERE md5(c.chunk) NOT IN (SELECT ck FROM hot)
    ),
    totals AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY doc_id),
    cleaned AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(chunk, ' ' ORDER BY pos) AS clean_str
      FROM kept GROUP BY doc_id
    )
    SELECT t.doc_id, t.n_chunks,
           COALESCE(c.n_kept, 0) AS n_kept,
           md5(COALESCE(c.clean_str, '')) AS clean_md5
    FROM totals t LEFT JOIN cleaned c ON t.doc_id = c.doc_id
    """,
)
def dedup_corpus_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level duplicate-PASSAGE removal (CCNet/Dolma-style
    boilerplate stripping): split every document into fixed-width
    4-token chunks (the stand-in for newline/paragraph splitting — the
    synthetic corpus has no newlines; the plan shape is identical for
    real paragraph-delimited text), count each chunk's DOCUMENT
    frequency corpus-wide, drop chunks appearing in ≥2 documents, and
    reassemble the cleaned text in original order. Returns per-doc
    (n_chunks, n_kept, md5 of the cleaned text) so the whole removal +
    reconstruction is hash-checkable cross-engine.

    Scale shape: one explode → one groupBy on md5(chunk) (bounded key
    width regardless of passage length) → ONE equi-join back carrying a
    hot flag → ONE per-doc aggregate computing totals, kept counts, and
    the ordered reassembly together (``collect_list`` skips the nulls
    the CASE leaves on hot chunks, so no second pass over the corpus).
    No all-pairs comparison anywhere; the hot-chunk table is left
    unhinted — AQE broadcasts it when boilerplate is rare (the normal
    case) and falls back to a shuffled equi-join when it is not. Unlike
    the pair-reporting dedup family (dedup_near_pairs etc.), this op's
    output IS the cleaned corpus. Reference has no text ops at all
    (script_geo.py is image/geo only) — this extends SURVEY §2's
    LLM-pipeline mandate. A chunk needs a document identity — null
    doc_id rows are excluded on both sides (r16 contract; the engines'
    null-group-vs-null-join conventions otherwise diverge)."""
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    chunks = (
        docs.withColumn("words", F.split("text", " "))
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, int(ceil(size(words)/4.0)) - 1),"
                    " i -> array_join(slice(words, i*4 + 1, 4), ' '))"
                )
            ).alias("pos", "chunk"),
        )
        .withColumn("pos", F.col("pos").cast("long"))
        .withColumn("ck", F.md5("chunk"))
    )
    hot = (
        chunks.groupBy("ck")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("ck", F.lit(1).alias("__hot"))
    )
    return (
        chunks.join(hot, "ck", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(F.col("__hot").isNull(), 1)).alias("n_kept"),
            F.md5(
                F.array_join(
                    F.expr(
                        "transform(array_sort(collect_list("
                        "CASE WHEN __hot IS NULL THEN struct(pos, chunk) END"
                        ")), s -> s.chunk)"
                    ),
                    " ",
                )
            ).alias("clean_md5"),
        )
    )


@register(
    "text_rarity_score",
    """
    WITH tok AS (
      SELECT doc_id, t.token FROM documents,
             UNNEST(string_split(text, ' ')) AS t(token)
      WHERE t.token <> ''
    ),
    cnt AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token)
    SELECT tok.doc_id,
           count(*) AS n_tokens,
           floor(CAST(sum(c) AS DOUBLE) * 1e6 / count(*) + 0.5) / 1e6
             AS mean_token_freq
    FROM tok JOIN cnt USING (token)
    GROUP BY tok.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-frequency quality score: each document's mean corpus-wide
    token frequency — the integer-exact core of a unigram language-model
    filter (low mean frequency = rare/noisy vocabulary, high = common
    boilerplate). Deliberately avoids log-space so the score stays
    bit-identical cross-engine: sums of BIGINT counts divided once at
    the end, fixed-point-rounded to 6 decimals.

    Scale shape: one explode, one token-count groupBy (map-side
    combined), one join back, one per-doc aggregate. The count-table
    join is deliberately UNHINTED: a ~10^7-row natural-language vocab
    usually fits a broadcast, but a forced hint would OOM the driver on
    a pathological vocabulary (URLs/ids exploded into tokens) — AQE
    picks broadcast when the runtime size allows and falls back to a
    shuffle join when it doesn't (same rationale as
    dedup_corpus_chunks)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    cnt = tok.groupBy("token").agg(F.count("*").alias("c"))
    return (
        tok.join(cnt, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.floor(F.sum("c").cast("double") * 1e6 / F.count("*") + 0.5)
                / 1e6
            ).alias("mean_token_freq"),
        )
    )


@register(
    "graph_bfs_distance",
    """
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2),
    edges AS (SELECT pa AS src, pb AS dst FROM pairs
              UNION ALL SELECT pb, pa FROM pairs),
    f0 AS (SELECT min(src) AS id FROM edges),
    f1 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN f0 ON e.src = f0.id
      WHERE e.dst NOT IN (SELECT id FROM f0)),
    f2 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN f1 ON e.src = f1.id
      WHERE e.dst NOT IN (SELECT id FROM f0 UNION ALL SELECT id FROM f1)),
    f3 AS (
      SELECT DISTINCT e.dst AS id FROM edges e JOIN f2 ON e.src = f2.id
      WHERE e.dst NOT IN (SELECT id FROM f0 UNION ALL SELECT id FROM f1
                          UNION ALL SELECT id FROM f2)),
    cand AS (
      SELECT id, 0 AS d FROM f0 UNION ALL SELECT id, 1 FROM f1
      UNION ALL SELECT id, 2 FROM f2 UNION ALL SELECT id, 3 FROM f3)
    SELECT id AS part_id, min(d) AS dist FROM cand GROUP BY id
    """,
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS shortest-path distances (3 unrolled rounds) from
    the smallest part id over the co-purchase graph (parts sharing ≥2
    orders — graph_copurchase's edge set, symmetrized). Each round is
    one frontier-edge equi-join + an anti-join PRUNE against the visited
    set, so the frontier never re-expands settled nodes — the
    Pregel-style BFS kernel (same per-round shape as the distributed
    components path in operators/dedup.py), with the hop bound making
    the plan a fixed-depth DAG both engines replay exactly. No driver
    collect: the source node is a one-row aggregate broadcast."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    b = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("pb")
    )
    pairs = (
        li.join(b, (li.l_orderkey == b.o) & (li.l_partkey < b.pb))
        .groupBy(F.col("l_partkey").alias("pa"), "pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
    )
    # materialize the edge list ONCE — without this every unrolled round
    # re-plans the distinct+self-join+groupBy subtree and the DAG grows
    # exponentially (~300 exchanges); with it each round is one
    # edge-frontier join + one anti-join prune, same per-round shape as
    # components_from_edges (operators/dedup.py:397+)
    # r20 (guide §1.2): LAZY localCheckpoints — the plan truncation (the
    # point of the checkpoints: without them the unrolled rounds re-plan
    # the edge subtree into ~300 exchanges) happens at plan level either
    # way, but eager=True ran EIGHT serialized driver-synchronous jobs
    # per pass; lazy materializes each cut inside the single final
    # action, letting the scheduler overlap them. Same rows; first pass
    # 6.10 → 2.48 s, warm min-of-3 1.97 → 1.84 s.
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .union(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
        .localCheckpoint(eager=False)
    )
    f0 = edges.agg(F.min("src").alias("id")).localCheckpoint(eager=False)
    visited = f0
    frontier = f0
    cand = [f0.select("id", F.lit(0).alias("d"))]
    for hop in (1, 2, 3):
        frontier = (
            edges.join(F.broadcast(frontier), edges.src == F.col("id"))
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .localCheckpoint(eager=False)
        )
        cand.append(frontier.select("id", F.lit(hop).alias("d")))
        visited = visited.union(frontier.select("id")).localCheckpoint(eager=False)
    out = cand[0]
    for c in cand[1:]:
        out = out.union(c)
    return out.groupBy(F.col("id").alias("part_id")).agg(
        F.min("d").alias("dist")
    )


@register(
    "text_bigram_fluency",
    """
    WITH base AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      FROM documents),
    bg AS (
      SELECT doc_id,
             unnest(l[1:len(l) - 1]) AS w1,
             unnest(l[2:len(l)]) AS w2
      FROM base WHERE len(l) >= 2),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
    scored AS (
      SELECT bg.doc_id,
             CAST(floor(c2.c2 * 1000000.0 / c1.c1 + 0.5) AS BIGINT) AS micro
      FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1))
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(floor(CAST(sum(micro) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
             AS mean_micro_prob
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score — the perplexity-proxy
    quality filter of a pretraining pipeline (KenLM-style gating,
    integer-exact instead of log-space): each document's mean corpus
    transition probability P(w2|w1) = c(w1,w2)/c(w1·), in fixed-point
    micro-units so engines agree bit-for-bit (single IEEE division +
    floor; no ln, whose last-ulp differences across libms can flip a
    rounded digit). Low score = improbable token sequences (noise,
    boilerplate mashups); high = predictable text.

    Scale shape: bigrams come from one arrays_zip over the token array —
    no window, no self-join; the two count tables are map-side-combined
    groupBys; the joins back are equi-joins AQE can broadcast (vocab ≪
    corpus). One corpus pass end to end."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    arr = F.filter(F.split("text", " "), lambda x: x != "")
    bg = (
        docs.select("doc_id", arr.alias("l"))
        .filter(F.size("l") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("l", 1, F.size("l") - 1).alias("w1"),
                    F.slice("l", 2, F.size("l") - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count("*").alias("c1"))
    scored = (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .select(
            "doc_id",
            F.floor(F.col("c2") * 1000000.0 / F.col("c1") + 0.5)
            .cast("long")
            .alias("micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        F.floor(F.sum("micro").cast("double") / F.count("*") + 0.5)
        .cast("long")
        .alias("mean_micro_prob"),
    )


def bucket_stitched_gaps(
    ids: DataFrame, key: str = "k", bucket_bits: int = 13
) -> DataFrame:
    """Distributed gaps-and-islands over an id column WITHOUT a global
    sort. A naive ``lead() OVER (ORDER BY k)`` needs a SinglePartition
    sort of the whole fact table — a 100 TB scale-killer. Instead:
    partition ids into 2^bucket_bits-wide buckets, run the same lead()
    per bucket (hash-partitioned window), and resolve each bucket's
    LAST row against a bucket-level summary — one row per non-empty
    bucket, 2^bucket_bits× smaller than the fact — whose own lead()
    window provides the NEXT non-empty bucket's min id (empty buckets
    in between fall out naturally: they have no summary row, so the
    lead skips them). The summary join stays unhinted (corpus-derived,
    ~N/2^bucket_bits rows; AQE broadcasts it while it fits). Output is
    identical to the global window: every consecutive-id pair spans
    either one bucket or a bucket boundary, and the boundary case is
    exactly the stitched coalesce. Returns (gap_start, gap_end,
    gap_len), unordered."""
    o = ids.select(
        F.col(key).alias("k"),
        F.shiftright(F.col(key), bucket_bits).alias("b"),
    )
    wb = Window.partitionBy("b").orderBy("k")
    per_bucket = o.withColumn("nxt_in_bucket", F.lead("k").over(wb))
    wnext = Window.orderBy("b")
    bnext = (
        o.groupBy("b")
        .agg(F.min("k").alias("bucket_min"))
        .withColumn("next_bucket_min", F.lead("bucket_min").over(wnext))
        .select("b", "next_bucket_min")
    )
    return (
        per_bucket.join(bnext, "b", "left")
        .withColumn("nxt", F.coalesce("nxt_in_bucket", "next_bucket_min"))
        .filter(F.col("nxt") - F.col("k") > 1)
        .select(
            (F.col("k") + 1).alias("gap_start"),
            (F.col("nxt") - 1).alias("gap_end"),
            (F.col("nxt") - F.col("k") - 1).alias("gap_len"),
        )
    )


@register(
    "w11_id_gaps",
    """
    WITH o AS (
      SELECT o_orderkey AS k,
             lead(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
      FROM orders WHERE o_orderkey % 97 <> 0)
    SELECT k + 1 AS gap_start, nxt - 1 AS gap_end,
           nxt - k - 1 AS gap_len
    FROM o WHERE nxt - k > 1
    ORDER BY gap_start LIMIT 100
    """,
)
def w11_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the order-id sequence: each missing id
    range as (gap_start, gap_end, gap_len) — the classic sequence-audit
    shape (detecting dropped ingest batches, id-allocator holes).
    The synthetic order ids are DENSE at every SF, which would make the
    gap channel trivially empty; a deterministic drop of every 97th id
    simulates the dropped-batch condition the audit exists for, so the
    driver compare exercises real gap rows (including ones adjacent to
    bucket boundaries) rather than two empty outputs.

    Scale posture: ``bucket_stitched_gaps`` — per-bucket lead() windows
    hash-partitioned on the id bucket plus a 8192×-reduced bucket
    summary for the boundary stitch; no SinglePartition touch of the
    fact (r09, replacing the global-ORDER-BY window; boundary and
    empty-bucket semantics pinned by tests/test_analytics_ops.py)."""
    o = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 != 0)
        .select("o_orderkey")
    )
    return (
        bucket_stitched_gaps(o, key="o_orderkey", bucket_bits=13)
        .orderBy("gap_start")
        .limit(100)
    )


@register(
    "w12_reset_running_sum",
    """
    WITH b AS (
      SELECT event_id, user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w <= INTERVAL '30 minutes'
                  THEN 0 ELSE 1 END AS boundary
      FROM events WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)),
    s AS (
      SELECT event_id, user_id, ts, value,
             CAST(sum(boundary) OVER (PARTITION BY user_id
                                      ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                      ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS session_seq
      FROM b)
    SELECT event_id, user_id, session_seq,
           round(sum(value) OVER (PARTITION BY user_id, session_seq
                                  ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                  ROWS UNBOUNDED PRECEDING), 2) AS running
    FROM s
    """,
)
def w12_reset_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-RESET running total (the islands composition): a
    per-user cumulative value that restarts whenever the gap to the
    previous event exceeds 30 minutes — per-session running spend, the
    window shape plain ``ROWS UNBOUNDED PRECEDING`` cannot express
    alone. Three stacked windows, all on the SAME (user_id) hash
    partitioning: lag → boundary flag → running count of boundaries
    (the session sequence) → running sum partitioned by (user,
    session). One exchange total — Catalyst reuses the partitioning
    across all three Window operators, so at 100 TB this costs exactly
    what w2_running_sum costs. Running folds are frame-ordered in both
    engines, so the double sums match bit-for-bit (w2 discipline)."""
    ev = table(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    ) <= 1800
    b = ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.when(gap_ok, F.lit(0)).otherwise(F.lit(1)).alias("boundary"),
    )
    s = b.withColumn(
        "session_seq",
        F.sum("boundary").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w2 = (
        Window.partitionBy("user_id", "session_seq")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return s.select(
        "event_id",
        "user_id",
        "session_seq",
        F.round(F.sum("value").over(w2), 2).alias("running"),
    )


_FEATHASH_DIM = 1024


@register(
    "ml_feature_hashing",
    f"""
    WITH tok AS (
      SELECT doc_id, lower(t.token) AS token
      FROM documents, UNNEST(string_split(text, ' ')) AS t(token)
      WHERE t.token <> ''),
    feat AS (
      SELECT DISTINCT doc_id,
             {H.hash64_sql('token', 7)} % {_FEATHASH_DIM} AS idx
      FROM tok)
    SELECT doc_id,
           count(*) AS n_features,
           bit_xor({H.hash64_sql('idx::VARCHAR', 8)}) AS feat_checksum
    FROM feat GROUP BY doc_id
    """,
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature extraction (Weinberger et al. ICML'09 —
    public method): tokens hash into a fixed {_FEATHASH_DIM}-dim index
    space, so the feature map needs NO vocabulary build, no global
    dictionary shuffle, and new tokens never change the schema — the
    property that makes it the default featurizer for streaming /
    incremental training at corpus scale. Plan: explode → seeded-md5
    index (cross-engine-identical bits) → distinct per (doc, index) →
    per-doc count + order-independent bit_xor checksum of the active
    indices (set equality without emitting {_FEATHASH_DIM} columns).
    One explode and two hash exchanges on doc_id; no vocabulary join at
    all — compare text_rarity_score, which must join a count table."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .select("doc_id", F.lower("token").alias("token"))
        .filter(F.col("token") != "")
    )
    feat = tok.select(
        "doc_id", (H.hash64(F.col("token"), 7) % _FEATHASH_DIM).alias("idx")
    ).distinct()
    return feat.groupBy("doc_id").agg(
        F.count("*").alias("n_features"),
        F.bit_xor(H.hash64(F.col("idx"), 8)).alias("feat_checksum"),
    )


@register(
    "dq_distribution_drift",
    """
    WITH c AS (
      SELECT least(floor(value / 50)::BIGINT, 9) AS bucket,
             count(*) FILTER (WHERE event_id % 2 = 0) AS n_ref,
             count(*) FILTER (WHERE event_id % 2 <> 0) AS n_cur
      FROM events GROUP BY 1),
    tot AS (SELECT sum(n_ref) AS t_ref, sum(n_cur) AS t_cur FROM c),
    j AS (SELECT c.*, tot.t_ref, tot.t_cur FROM c, tot WHERE c.n_ref > 0)
    SELECT bucket, n_ref, n_cur,
           floor(
             (CAST(n_cur AS DOUBLE) / t_cur - CAST(n_ref AS DOUBLE) / t_ref)
             * (CAST(n_cur AS DOUBLE) / t_cur - CAST(n_ref AS DOUBLE) / t_ref)
             / (CAST(n_ref AS DOUBLE) / t_ref) * 1e9 + 0.5)::BIGINT
             AS drift_nano
    FROM j ORDER BY bucket
    """,
)
def dq_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the per-bucket chi-square-style
    contribution ((p_cur − p_ref)² / p_ref) between a reference slice
    and a current slice of the value distribution — the data-quality
    gate that catches upstream shifts BEFORE a model trains on them
    (the integer-exact stand-in for PSI, which needs libm ln; the
    ranking of drifting buckets is the actionable output and is
    identical). BOTH period histograms come out of ONE conditional
    aggregate over one scan (count_if per period — no self-join, no
    per-period subtree re-expansion), totals are re-derived from the
    ~10-bucket aggregate and broadcast back as one row, and the double
    drift expression is fixed-pointed to nano units at the end. A
    bucket absent from the current period scores with n_cur = 0 —
    disappearance IS drift. At 100 TB: one map-side-combined aggregate,
    then post-agg altitude only."""
    ev = table(spark, sf_dir, "events").select(
        (F.col("event_id") % 2 == 0).alias("is_ref"),
        F.least(F.floor(F.col("value") / 50), F.lit(9)).alias("bucket"),
    )
    c = ev.groupBy("bucket").agg(
        F.count_if("is_ref").alias("n_ref"),
        F.count_if(~F.col("is_ref")).alias("n_cur"),
    )
    tot = c.agg(
        F.sum("n_ref").alias("t_ref"), F.sum("n_cur").alias("t_cur")
    )
    j = c.filter(F.col("n_ref") > 0).crossJoin(F.broadcast(tot))
    p_ref = F.col("n_ref").cast("double") / F.col("t_ref")
    p_cur = F.col("n_cur").cast("double") / F.col("t_cur")
    return j.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.floor((p_cur - p_ref) * (p_cur - p_ref) / p_ref * 1e9 + F.lit(0.5))
        .cast("long")
        .alias("drift_nano"),
    ).orderBy("bucket")


@register(
    "dq_referential_integrity",
    """
    SELECT 'lineitem->orders' AS fk, count(*) AS n_orphans
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'orders->customer', count(*)
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'customer->nation', count(*)
    FROM customer c WHERE NOT EXISTS
      (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the fact chain: orphan
    foreign keys counted by LEFT-ANTI joins (lineitem→orders,
    orders→customer, customer→nation) — the pre-publish gate a lake
    without enforced constraints needs after every load. Anti joins
    broadcast the key side where small; a healthy load reports zeros,
    and any non-zero row pinpoints which edge broke."""
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey")

    def orphans(fact, dim, cond, label):
        return fact.join(dim, cond, "left_anti").agg(
            F.lit(label).alias("fk"), F.count("*").alias("n_orphans")
        )

    return (
        orphans(li, o, li.l_orderkey == o.o_orderkey, "lineitem->orders")
        .unionByName(
            orphans(o, c, o.o_custkey == c.c_custkey, "orders->customer")
        )
        .unionByName(
            orphans(
                c, F.broadcast(n), c.c_nationkey == n.n_nationkey, "customer->nation"
            )
        )
    )


