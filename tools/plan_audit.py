"""Plan and job audit of one executed query, run by
``tools/verify_oracle.py`` on every query it checks (SURVEY §4: assert
the plans we designed are the plans we got). Spark-free: the input is
the ``formatted`` explain string of the DataFrame whose rows were just
collected, and the number of Spark jobs its build and collect ran.

Once an adaptive plan has run, its tree holds a ``== Final Plan ==``
subtree (the stages that ran) and an ``== Initial Plan ==`` subtree (the
plan before any stage ran); :func:`views` splits them. Budgets are
checked on the final plan, substring expectations on the initial one,
and the scale-shape sweep (:func:`sweep`) on both.
"""

from __future__ import annotations

import collections
import re

from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES

# query -> (max jobs, max final-plan Exchanges, max final-plan Generates,
# max final-plan Scans per base table, expects), where expects is a list
# of substrings the initial plan MUST contain, prefixed '!' for
# must-NOT-contain. Each budget is the larger of the counts measured at
# sf0.001 and sf0.01; jobs cover the build (fixture staging included)
# and the collect.
AUDITS: dict[str, tuple[int, int, int, dict[str, int], list[str]]] = {
    # dimension joins must broadcast; the 3 predicates must push into scans
    "catalog_filtered_join": (6, 0, 0, {"customer": 1, "nation": 1, "orders": 1}, ["BroadcastHashJoin", "PushedFilters: [In(o_orderstatus", "!CartesianProduct", "!SortMergeJoin"]),
    "j1_semi_join": (4, 0, 0, {"customer": 1, "orders": 1}, ["BroadcastHashJoin LeftSemi", "!SortMergeJoin"]),
    "p5_filter_in_conj": (2, 0, 0, {"lineitem": 1}, ["In(l_returnflag, [A,N])", "GreaterThanOrEqual(l_quantity,30.0)", "!Exchange"]),
    # single-shuffle grouped agg with map-side partial aggregation
    "a4_group_agg": (3, 1, 0, {"lineitem": 1}, ["HashAggregate", "PushedFilters: [IsNotNull(l_shipdate"]),
    # window = exactly one hash exchange on the group key
    "w1_topk_per_group": (3, 1, 0, {"orders": 1}, ["Window", "row_number()"]),
    # scan-side projection pruning: only 2 columns read
    "p1_projection_filter": (2, 0, 0, {"nation": 1}, ["ReadSchema: struct<n_nationkey:int,n_name:string,n_regionkey:int>"]),
    # brute-force cosine: broadcast the queries; spread() of the
    # single-split corpus scan feeds the per-row cosine fold (guide §2.5)
    "f17_cosine_topk": (5, 2, 0, {"embeddings": 2}, ["BroadcastNestedLoopJoin", "!SortMergeJoin"]),
    # LSH ANN: bucket equi-join must be a broadcast hash join here
    "ann_lsh_topk": (4, 1, 0, {"embeddings": 2}, ["BroadcastHashJoin", "!CartesianProduct"]),
    # minhash bands: ONE exchange (repartition reused by the groupBy), no
    # join at all — signatures flow straight to band keys
    "dedup_minhash_bands": (3, 1, 2, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # spatial broadcast join with UDF-free ray-cast predicate
    "geo_contains": (2, 0, 0, {}, ["BroadcastNestedLoopJoin", "!CartesianProduct"]),
    # cell equi-join: shuffle-partitionable at scale (both sides hash on
    # cell), never BNLJ; on the exact-sized fixture LocalRelations Catalyst
    # broadcasts it, so no exchange runs here
    "geo_contains_grid": (2, 0, 1, {}, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # bucketed co-located join: bucket-aligned scans feed the SMJ with NO
    # join-side shuffle; the single allowed exchange is the final groupBy
    "j_bucketed_join": (6, 1, 0, {"lineitem": 1, "orders": 1}, ["SortMergeJoin", "SelectedBucketsCount: 8 out of 8", "!BroadcastHashJoin", "!CartesianProduct"]),
    # corpus bigram top-k: ONE agg exchange, then TakeOrdered (no sort
    # exchange for the limit)
    "text_top_bigrams": (3, 1, 1, {"documents": 1}, ["HashAggregate", "TakeOrderedAndProject", "!SortMergeJoin"]),
    # fixed-width histogram: single map-side-combined agg shuffle
    "a4_histogram": (3, 1, 0, {"orders": 1}, ["HashAggregate", "!SortMergeJoin"]),
    # deterministic hash sample: pure scan+filter, no shuffle at all
    "p8_hash_sample": (2, 0, 0, {"orders": 1}, ["!Exchange", "!SortMergeJoin"]),
    # bloom prefilter: all three semi-joins broadcast, never shuffle the fact
    "j_bloom_prefilter": (7, 2, 1, {"customer": 2, "orders": 1}, ["BroadcastHashJoin LeftSemi", "!SortMergeJoin", "!CartesianProduct"]),
    # per-shard packing: partitioned window, ONE exchange (the final agg
    # reuses the window's lang hash-partitioning), never a global sort
    "pack_sequences": (3, 1, 0, {"documents": 1}, ["Window", "!SinglePartition"]),
    # sharded training order: one partitioned window, no global sort
    "training_order": (3, 1, 0, {"documents": 1}, ["Window", "row_number()", "!SinglePartition"]),
    # contamination: eval shingle set broadcast, big side never shuffled by sh
    "contamination_ngrams": (7, 2, 3, {"documents": 3}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # state-merge refresh: two partial aggs + merge agg reusing partitioning
    "incremental_agg_merge": (4, 2, 0, {"orders": 2}, ["Union", "HashAggregate", "!SortMergeJoin"]),
    # CMS sketch: tiny sketch joins broadcast
    "cms_heavy_hitters": (8, 4, 5, {"documents": 3}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # fixed-point pagerank: rank/out-weight joins broadcast every iteration
    "graph_pagerank": (22, 3, 0, {"nation": 5}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # rolling WAU: bounded explode fan-out + broadcast day semi-join —
    # never a range self-join of the event stream
    "ts_rolling_distinct": (7, 4, 1, {"events": 2}, ["Generate", "BroadcastHashJoin LeftSemi", "!SortMergeJoin", "!CartesianProduct"]),
    # MAD: medians broadcast back for pass 2, no fact-side re-shuffle join
    "a10_mad": (5, 2, 0, {"events": 2}, ["BroadcastHashJoin", "!SortMergeJoin"]),
    # period-over-period: the only unpartitioned window sits above the agg
    "ts_mom_growth": (4, 2, 0, {"orders": 1}, ["Window", "HashAggregate"]),
    # quantized centroid: explode + one grouped agg, no join at all
    "emb_centroid": (3, 1, 1, {"embeddings": 1}, ["Generate", "HashAggregate", "!BroadcastHashJoin", "!SortMergeJoin"]),
    # incremental dedup gate: the new-batch split must push below the band
    # join into the probe-side parquet scan (hash the delta, probe the index)
    "dedup_incremental_pairs": (9, 4, 4, {"documents": 4}, ["GreaterThanOrEqual(doc_id,400)", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # filtered vector search: metadata predicate prunes the scan BEFORE any
    # vector math; queries broadcast
    "ann_filtered_topk": (5, 2, 0, {"embeddings": 2}, ["EqualTo(label,3)", "BroadcastNestedLoopJoin", "!SortMergeJoin"]),
    # vocab/OOV: top-100 via TakeOrdered (no global sort), vocab broadcast
    "vocab_oov_rate": (7, 4, 2, {"documents": 2}, ["TakeOrderedAndProject", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # as-of join: union+window merge — two exchanges (union repartition +
    # window), keyed windows, no join operator at all
    "j_asof_join": (4, 2, 0, {"events": 2}, ["Window", "!CartesianProduct", "!BroadcastNestedLoopJoin", "!SortMergeJoin"]),
    # banded hyperplane LSH near-pairs: the spread() rebalance of the
    # signature scan + the pair-dedup agg; band and payload joins broadcast
    "dedup_cosine_pairs": (5, 1, 2, {"embeddings": 2}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # multi-probe ANN: neighbor-bucket explode (Generate) + bucket join
    "ann_multiprobe_topk": (4, 1, 1, {"embeddings": 2}, ["BroadcastHashJoin", "Generate", "!CartesianProduct", "!SortMergeJoin"]),
    # hour+day continuous aggregate: ONE exchange for the grouping-sets pass
    "ts_hypertable_rollup": (3, 1, 0, {"events": 1}, ["HashAggregate", "!SortMergeJoin", "!Exchange hashpartitioning(1)"]),
    # SCD2 effective-dating: one keyed window, never a global sort
    "scd2_build": (3, 1, 0, {"orders": 1}, ["Window", "!SinglePartition", "!SortMergeJoin"]),
    # stratified holdout: per-stratum window, never a global sort
    "stratified_sample": (3, 1, 0, {"documents": 1}, ["Window", "!SinglePartition", "!SortMergeJoin"]),
    # stage-wise funnel mins: broadcast joins only; the SinglePartition
    # exchanges feed one-row funnel totals (scalar altitude)
    "funnel_conversion": (13, 7, 0, {"events": 5}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # declarative zipWithIndex: keyed data windows; the only global window
    # ranks the ~#shards offset rows (documented tiny)
    "p11_dense_ids": (6, 3, 0, {"documents": 2}, ["Window", "!SortMergeJoin", "!CartesianProduct"]),
    # equal-frequency binning: decile boundaries are a broadcast one-row
    # nested loop (scalar altitude), the fact side never shuffles for it
    "a13_equifreq_bins": (5, 2, 0, {"orders": 2}, ["!SortMergeJoin", "!CartesianProduct"]),
    # hybrid weighted fusion: term-filtered probe + broadcast join, final
    # top-k is TakeOrdered
    "hybrid_fused_topk": (7, 2, 1, {"documents": 1, "embeddings": 2}, ["TakeOrderedAndProject", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # BM25: inverted-index probe aggregates + broadcast df/stats joins,
    # TakeOrdered final — corpus-size work is the scan + tf/df aggs only
    "bm25_topk": (11, 6, 2, {"documents": 4}, ["TakeOrderedAndProject", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # interval-overlap: week-bucket equi-join with first-shared-bucket
    # dedup — never a cartesian/BNLJ theta join of the two interval sets
    "j_interval_overlap": (5, 1, 2, {"lineitem": 1, "orders": 1}, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # eps-clustering: the neighbor search is a grid-cell equi-join (probe
    # side exploded to its 3x3 cells), never an all-pairs cartesian/BNLJ
    "geo_cluster_eps": (5, 0, 0, {"documents": 1}, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # two-stage retrieval: candidates broadcast onto the doc store, the
    # digest-stub rerank score a projection above that join (no Python
    # worker), top-5 via TakeOrdered; the RRF full-outer rank join is an
    # SMJ (no broadcast full-outer) of ≤100 rows
    "hybrid_rerank_topk": (7, 1, 1, {"documents": 2, "embeddings": 2}, ["!MapInPandas", "BroadcastHashJoin", "TakeOrderedAndProject", "!CartesianProduct"]),
    # passage dedup: ONE corpus pass for totals+kept+reassembly (the hot
    # flag rides a single equi-join), never a cartesian
    "dedup_corpus_chunks": (6, 3, 2, {"documents": 2}, ["BroadcastHashJoin", "ObjectHashAggregate", "!CartesianProduct", "!SortMergeJoin"]),
    # unigram quality score: token counts broadcast back onto the token
    # stream; two agg exchanges total, no sort-merge anywhere
    "text_rarity_score": (5, 2, 2, {"documents": 2}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # SQ8 ANN: the per-dim codebook collapses to ONE broadcast row; the
    # corpus scan joins codebook+queries via broadcast BNLJ only, top-k is
    # a WindowGroupLimit — no shuffle of the vector table
    "ann_sq8_topk": (7, 3, 1, {"embeddings": 3}, ["BroadcastNestedLoopJoin", "WindowGroupLimit", "!CartesianProduct", "!SortMergeJoin"]),
    # PQ ANN: the 8×16×8 codebook collapses to ONE broadcast row;
    # encode + ADC scoring are corpus scans with broadcast joins only —
    # the vector table never shuffles; top-k is a window group limit
    "ann_pq_topk": (7, 3, 0, {"embeddings": 3}, ["BroadcastNestedLoopJoin", "WindowGroupLimit", "!CartesianProduct", "!SortMergeJoin"]),
    # JDBC via embedded Derby: predicate + projection pushed into the
    # EXTERNAL engine's SQL and a 4-way range-partitioned parallel scan
    "s9_jdbc_roundtrip": (7, 1, 0, {}, ["External engine query:", "PushedFilters: [*IsNotNull(c_mktsegment), *EqualTo(c_mktsegment,BUILDING)]", "numPartitions=4", "!CartesianProduct"]),
    # exact inverse-TM series: pure column arithmetic over Range — zero
    # exchanges, no Python evaluator anywhere in the plan
    "geo_utm_inverse_grid": (1, 0, 0, {}, ["Range", "!Exchange", "!BatchEvalPython", "!ArrowEvalPython"]),
    "geo_utm_forward_grid": (1, 0, 0, {}, ["Range", "!Exchange", "!BatchEvalPython", "!ArrowEvalPython"]),
    # bigram LM score: two count tables broadcast back onto the bigram
    # stream (AQE decides, no forced hint), no sort-merge join
    "text_bigram_fluency": (7, 3, 3, {"documents": 3}, ["HashAggregate", "!CartesianProduct"]),
    # runtime partition pruning: the dim filter must become a
    # dynamicpruningexpression in the FACT scan's PartitionFilters
    "j_dynamic_partition_pruning": (9, 1, 0, {}, ["dynamicpruningexpression", "PartitionFilters", "!CartesianProduct"]),
    # VARIANT path extraction runs JVM-side: one agg exchange, no
    # Python evaluator in the plan
    "f14_variant_extract": (3, 1, 0, {"events": 1}, ["HashAggregate", "!BatchEvalPython", "!ArrowEvalPython"]),
    # bounded BFS over checkpointed edges/frontiers: unions of materialized
    # per-round RDDs + one grouped min; nothing may re-expand here
    "graph_bfs_distance": (17, 1, 0, {}, ["!CartesianProduct", "!SortMergeJoin", "!BroadcastNestedLoopJoin"]),
    # MaxSim late interaction: the 3-row query side broadcasts (BNLJ), all
    # dot/greatest math JVM-side, one exchange for the per-query ranking window
    "hybrid_maxsim_topk": (4, 1, 0, {"embeddings": 2}, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin", "!BatchEvalPython", "!ArrowEvalPython"]),
    # t-digest: the events scan feeds the Arrow sketch kernel ONCE; the tiny
    # centroid/quantile sides broadcast back onto the rank check
    "a19_tdigest_quantile": (7, 3, 1, {"events": 3}, ["MapInPandas", "FlatMapGroupsInPandas", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # reset-running-sum: three stacked windows must share ONE user_id
    # exchange (HashPartitioning(user_id) satisfies the (user_id,
    # session_seq) clustering of the inner window — no re-shuffle)
    "w12_reset_running_sum": (3, 1, 0, {"events": 1}, ["Window", "PushedFilters: [IsNotNull(user_id), LessThan(user_id,40)]", "!BatchEvalPython", "!ArrowEvalPython"]),
    # hashing-trick features: no vocabulary join anywhere — just the
    # distinct + groupBy exchanges, everything JVM-side
    "ml_feature_hashing": (4, 2, 1, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin", "!BatchEvalPython", "!ArrowEvalPython"]),
    # 7z extract: one Arrow kernel straight off the binaryFile scan —
    # no shuffle anywhere (the expansion happens inside the kernel)
    "s2_7z_extract": (3, 0, 0, {}, ["MapInPandas", "!Exchange", "!CartesianProduct"]),
    # XML read-back: one-exchange groupBy, parsing JVM-side (min(string)
    # is a sort-based aggregate; partials still map-side)
    "s25_xml_roundtrip": (4, 1, 0, {}, ["SortAggregate", "Scan xml", "partial_count", "!BatchEvalPython", "!ArrowEvalPython"]),
    # SQ8 recall eval: quantized and exact arms score via a broadcast BNLJ
    # of the query side with WindowGroupLimit top-k; the compare joins two
    # bounded 5-rows-per-query sets
    "ann_sq8_recall": (16, 8, 1, {"embeddings": 5}, ["BroadcastNestedLoopJoin", "WindowGroupLimit", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # audio features: one projection of built-in array expressions off
    # the scan, no Python worker
    "multimodal_audio_features": (2, 0, 0, {"documents": 1}, ["!MapInPandas", "!CartesianProduct", "!SortMergeJoin"]),
    # streaming t-digest monitor (post-stream check plan): centroid
    # merge in one FlatMapGroupsInPandas task, tiny sides broadcast
    "streaming_tdigest": (14, 3, 1, {"events": 2}, ["FlatMapGroupsInPandas", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # SCD2 temporal lookup: the interval predicate must ride a
    # broadcast equi-join on the dimension key as a residual, never a
    # cartesian/range-explode
    "j_scd2_asof": (7, 2, 0, {"lineitem": 1, "orders": 2}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # exact weighted quantile: ONE global-ordered window (SinglePartition
    # — the documented exact-semantics cost), one-row total broadcast
    "a22_weighted_quantile": (5, 2, 1, {"lineitem": 2}, ["Window", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # a22's distributed exact twin: both 2-col scans keep the positive-
    # weight filter pushed; the only SinglePartition window runs over the
    # post-agg bucket table; crossing bucket broadcast back (BHJ on b)
    "a22_weighted_quantile_dist": (11, 7, 1, {"lineitem": 2}, ["Window", "BroadcastHashJoin", "GreaterThan(l_quantity,0.0)", "ReadSchema: struct<l_quantity:double,l_extendedprice:double>", "!CartesianProduct", "!SortMergeJoin", "!BroadcastNestedLoopJoin"]),
    # the two registered LSH scale settings (r17) — same designed shapes
    # as their narrow twins: band equi-joins, never cartesian/SMJ
    "dedup_simhash_pairs_wide": (6, 2, 3, {"documents": 3}, ["Generate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    "dedup_cosine_pairs_scaled": (5, 1, 2, {"embeddings": 2}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    "dedup_semantic_components_scaled": (9, 0, 0, {"embeddings": 1}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # auto-density LSH: the derived dial changes parameters, not plan
    # shape (its corpus count() is a job of the build, not of this plan)
    "dedup_cosine_pairs_auto": (7, 1, 2, {"embeddings": 2}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    "dedup_semantic_components_auto": (11, 0, 0, {"embeddings": 1}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    "dedup_simhash_pairs_auto": (8, 2, 3, {"documents": 3}, ["Generate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # duplication-aware budget dial: the dial's mass measurement runs as
    # build jobs; the answer plan is the same band equi-join family
    "dedup_simhash_pairs_auto2": (14, 1, 2, {}, ["Generate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # areal interpolation: the generated grid broadcasts onto the bbox
    # side — no cartesian, no sort-merge
    "geo_areal_weighted": (5, 2, 2, {}, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # bitmap distinct: bit_or word aggregation map-side combined; the
    # per-priority verify join is broadcast-sized
    "a23_bitmap_distinct": (7, 4, 0, {"orders": 2}, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # out-of-fold encoding: totals re-derived from the fold partials
    # (no second scan), O(#categories) broadcast back
    "ml_target_encoding": (5, 2, 0, {"events": 1}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct", "!BatchEvalPython"]),
    # keyless proximity join rewritten onto the time-cell equi-join:
    # the plan must be a HASH join on the cell (shuffle-partitionable),
    # never the cross/BNLJ shape the naive inequality join produces
    "j_range_bucketed": (4, 1, 1, {"events": 2}, ["BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin", "!SortMergeJoin"]),
    # item-item similarity: pairs ride the per-order self-join (fan-out =
    # basket size), never a cross of the item universe
    "graph_item_similarity": (8, 4, 0, {"lineitem": 2}, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # tile planning: map-only over the raster catalog (explode on the
    # generated zoom axis, no shuffle at all)
    "geo_tile_pyramid": (1, 0, 1, {}, ["Generate", "!Exchange", "!CartesianProduct"]),
    # TF-IDF keywords: no libm log anywhere, per-doc ranking window,
    # one-row N broadcast; token join AQE-decided
    "text_tfidf_topk": (10, 6, 3, {"documents": 3}, ["Window", "BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # segment intersection: roads broadcast onto the edge walk — the
    # non-equi orientation predicate rides a BNLJ, never a cartesian
    "geo_edge_crossings": (5, 2, 2, {}, ["BroadcastNestedLoopJoin", "!CartesianProduct"]),
    # grid KNN: the candidate join is an EQUI join on the cell key; no
    # cartesian even with the brute-force twin riding along
    "geo_knn_grid": (6, 2, 5, {}, ["BroadcastHashJoin", "!CartesianProduct"]),
    # dynamic pivot: Catalyst's two-phase pivot (pre-agg on
    # (source, lang), then PivotFirst) — 2 exchanges, still no join
    "a4_pivot_dynamic": (6, 2, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # inferred members: orphan discovery is an anti-join, placeholders and
    # late rows broadcast back; the fact shuffles only for the final agg
    "j_late_arriving_dim": (14, 3, 0, {"customer": 3, "orders": 2}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # drift monitor: ONE scan split by period (no self-join of the
    # table), per-period totals broadcast as one-row sides
    "dq_distribution_drift": (7, 3, 0, {"events": 1}, ["HashAggregate", "BroadcastNestedLoopJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # OHLC bars: ONE map-side-combinable aggregate, no window, no join;
    # struct-keyed min_by/max_by compile to SortAggregate, still partial+final
    "ts_ohlc_resample": (3, 1, 0, {"events": 1}, ["SortAggregate", "!SortMergeJoin", "!Window"]),
    # DSIR: bucket λ-table broadcast into the per-doc weight join; the
    # corpus shuffles only by (doc_id, bucket) — never a sort-merge
    "pipeline_dsir_weights": (10, 4, 0, {}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct", "!BatchEvalPython"]),
    # χ² tokens: doc-label totals are a one-row broadcast; the token
    # table aggregates map-side — no join of corpus-sized sides
    "ml_chi2_tokens": (7, 4, 1, {"documents": 2}, ["BroadcastNestedLoopJoin", "TakeOrderedAndProject", "!SortMergeJoin", "!CartesianProduct"]),
    # CUSUM: per-user stats broadcast back; the recursion is two
    # stacked windows, not an iterative loop
    "ts_cusum_alerts": (5, 2, 0, {"events": 2}, ["BroadcastHashJoin", "Window", "!SortMergeJoin", "!CartesianProduct"]),
    # token entropy: two map-side-combinable aggregates + TakeOrdered —
    # no join anywhere
    "text_entropy_quality": (3, 1, 1, {"documents": 1}, ["HashAggregate", "TakeOrderedAndProject", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # IVF-PQ: both codebooks broadcast (one row each); the probe is an
    # EQUI join on the cell — never a cartesian of queries × corpus
    "ann_ivfpq_topk": (11, 6, 3, {"embeddings": 4}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin", "!BatchEvalPython"]),
    # exact AUC: the ordered window runs over the DISTINCT-SCORE
    # aggregate (post-groupBy), never a global sort of raw orders
    "ml_auc_exact": (4, 2, 0, {"orders": 1}, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # geohash encode is map-only bit math; density is one agg +
    # TakeOrdered — no join, no Python
    "geo_geohash_cells": (2, 1, 0, {}, ["HashAggregate", "TakeOrderedAndProject", "!BatchEvalPython", "!SortMergeJoin"]),
    # sketch-accuracy eval: candidate join UNHINTED (cand is corpus-
    # derived, r07 VERDICT) — Catalyst still picks hash joins from the
    # checkpointed index stats; must never degrade to cartesian/BNLJ
    "dedup_minhash_accuracy": (8, 1, 2, {}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin", "!BroadcastNestedLoopJoin"]),
    # NDCG: queries broadcast (BNLJ over the candidate scan), rank and
    # ideal windows per query, final 3-row join broadcast
    "ml_ndcg_at10": (7, 2, 0, {"embeddings": 4}, ["BroadcastNestedLoopJoin", "Window", "!SortMergeJoin", "!CartesianProduct"]),
    # nprobe curve: exact-top10 and probe tables broadcast into the
    # assignment join — the corpus-sized side never shuffles for them
    "ann_nprobe_curve": (11, 4, 0, {"embeddings": 5}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # per-dimension stats: posexplode + ONE map-side-combined aggregate
    "emb_dim_stats": (3, 1, 1, {"embeddings": 1}, ["Generate", "HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # phrase search: postings filtered to the two terms BEFORE the
    # position join — inverted-index probe, both sides tiny
    "text_phrase_search": (4, 1, 2, {"documents": 1}, ["BroadcastHashJoin", "Generate", "!CartesianProduct", "!SortMergeJoin"]),
    # IVM: all four delta-rule joins broadcast the dimension; merge is
    # re-aggregation of mergeable partials
    "ivm_join_delta": (9, 4, 0, {"customer": 2, "orders": 4}, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # SHUFFLE_HASH hint: the medium-dim × fact join must compile to a
    # shuffled hash join — no sort pass on either side
    "j_shuffle_hash_hint": (6, 3, 0, {"lineitem": 1, "part": 1}, ["ShuffledHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # k-NN eval: queries broadcast over the training scan (BNLJ), vote and
    # rank windows per query; only the per-class aggregate shuffles it
    "ml_knn_classifier": (6, 3, 0, {"embeddings": 2}, ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct", "!SortMergeJoin"]),
    # quarantine: one pass + explode + aggregate, reason array built
    # row-side — no join at all
    "dq_quarantine_reasons": (5, 2, 1, {"orders": 3}, ["Generate", "HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # span corruption: position/start join is per-doc equi (+ bounded
    # residual), distinct + aggregates map-side combined
    "pipeline_span_corruption": (7, 3, 3, {"documents": 3}, ["HashAggregate", "!CartesianProduct", "!BatchEvalPython"]),
    # skyline: ONE ordered window over distinct price levels + a
    # broadcast join back — no quadratic domination join
    "a25_skyline_2d": (5, 2, 0, {"orders": 2}, ["Window", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # quadtree: levels aggregate bottom-up (each from the one below),
    # level pick is two broadcast joins of cell-count tables
    "geo_quadtree_cells": (10, 7, 0, {}, ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # association rules: pair fan-out rides the basket equi-join; item
    # supports and the basket total broadcast
    "graph_assoc_rules": (11, 6, 0, {"lineitem": 3}, ["BroadcastHashJoin", "!CartesianProduct"]),
    # SPC limits: two stacked map-side-combinable aggregates, no join
    "ts_spc_limits": (6, 3, 0, {"events": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # seasonal adjustment: weekday profile broadcast back, no SMJ
    "ts_seasonal_adjust": (7, 3, 0, {"events": 2}, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # WMA: one per-key lag window, zero joins
    "ts_wma": (3, 1, 0, {"events": 1}, ["Window", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # business days: per-order min-shipdate combined map-side BEFORE
    # the join; orders side broadcastable
    "ts_business_days": (8, 3, 0, {"lineitem": 1, "orders": 1}, ["HashAggregate", "!CartesianProduct"]),
    # ER: soundex blocking key is the join key; dirty feed broadcast;
    # never an all-pairs name comparison
    "er_fuzzy_match": (3, 0, 0, {"part": 2}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # perceptual hash: banded equi-join candidates; verify join
    # UNHINTED (cand grows ~N²/512 per band, r07 VERDICT) — planner
    # still picks hash joins at this SF; never cartesian/BNLJ
    "multimodal_ahash_pairs": (6, 1, 2, {}, ["BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython", "!BroadcastNestedLoopJoin"]),
    # incremental components: relabel joins UNHINTED (old-label map is
    # O(edge-incident nodes)); everything stays equi/hash-join shaped
    "graph_incremental_components": (12, 0, 0, {"documents": 1}, ["BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # wide-band multiprobe aHash: probe fan-out is a Generate over the
    # tiny index; candidate + verify joins hash-shaped, never cartesian
    "multimodal_ahash_pairs_wide": (6, 1, 3, {}, ["Generate", "!CartesianProduct", "!BroadcastNestedLoopJoin", "!BatchEvalPython"]),
    # track resampling: targets and segments equi/broadcast, no cart
    "geo_track_resample": (5, 2, 0, {}, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # Bollinger: one trailing window per key, integer compare — no
    # join, no division/sqrt subtree
    "ts_bollinger_breaches": (5, 2, 0, {"events": 1}, ["Window", "!SortMergeJoin", "!BroadcastHashJoin", "!CartesianProduct"]),
    # drawdown: two stacked running windows share ONE exchange
    "ts_max_drawdown": (5, 2, 0, {"events": 1}, ["Window", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # apportionment: the ranked allocation table (#sources rows) is
    # checkpointed; the final plan is the gap broadcast re-joined
    "corpus_token_apportion": (13, 2, 0, {}, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # Luhn: pure map-side column math + one aggregate, no join
    "f21_luhn_check": (3, 1, 0, {"events": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin", "!BatchEvalPython"]),
    # duplicate payments: equi-join on (user, amount bucket) with the
    # time residual — never a cartesian or time-range scan
    "dq_duplicate_payments": (3, 0, 0, {"events": 2}, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # centroid drift: explode + ONE aggregate + (label,pos) self-join
    # of two 640-row sides
    "emb_centroid_drift": (8, 4, 2, {"embeddings": 2}, ["Generate", "HashAggregate", "!CartesianProduct"]),
    # dataset card: ONE scan, map-side-combined aggregate, no join
    "pipeline_dataset_card": (7, 4, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # regex funnel: ordered per-user collapse + one final aggregate
    "seq_regex_funnel": (4, 2, 0, {"events": 1}, ["!SortMergeJoin", "!BroadcastHashJoin", "!CartesianProduct"]),
    # naive forecast: daily totals combined map-side, t-7 self
    # equi-join — no window
    "ts_naive_forecast_mae": (8, 4, 0, {"events": 2}, ["HashAggregate", "!CartesianProduct", "!Window"]),
    # cell balance: same broadcast-argmin assignment as the IVF build
    "ann_cell_balance": (9, 4, 0, {"embeddings": 2}, ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct", "!SortMergeJoin"]),
    # SemDeDup: LSH pairs + union-find resolve eagerly; the residual plan
    # is ONE label join back to the vector table — no shuffle at all
    "dedup_semantic_components": (9, 0, 0, {"embeddings": 1}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # containment: inverted-index aggregative intersect, hash joins only
    "dedup_containment": (10, 2, 0, {}, ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # simhash: banded equi-join candidates + Hamming verify, no SMJ
    "dedup_simhash_pairs": (6, 2, 3, {"documents": 3}, ["Generate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # modularity: community self-join of the per-community aggregate
    # (tiny sides) + one total row — never a cartesian
    "graph_modularity": (13, 3, 0, {}, ["HashAggregate", "!CartesianProduct"]),
    # matryoshka: prefix-sliced brute-force tiers (queries broadcast),
    # per-tier rank windows
    "ann_matryoshka_recall": (12, 5, 0, {"embeddings": 5}, ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct"]),
    # padding waste: pure per-doc column math + map-side-combined aggs
    "pipeline_padding_waste": (6, 3, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # mixture: one aggregate + one tiny window over per-source rows
    "corpus_mixture": (4, 2, 0, {"documents": 1}, ["Window", "HashAggregate", "!SortMergeJoin"]),
    # HLL-class approx distinct: two-level aggregate, no join
    "a5_approx_distinct": (4, 2, 0, {"lineitem": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # exact dedup: ONE digest-keyed aggregate shuffle, nothing else
    "dedup_exact": (3, 1, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # P/R/F1: single conditional-aggregate pass over the score table
    "ml_prf1_eval": (3, 1, 0, {"orders": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # k-anonymity: quasi-identifier groupBy + distribution aggregate
    "dq_k_anonymity": (4, 2, 0, {"customer": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # moving median: ONE keyed window exchange, never a global sort
    "w10_moving_median": (3, 1, 0, {"events": 1}, ["Window", "!SinglePartition", "!SortMergeJoin"]),
    # bucket-stitched gaps (r09 rewrite): fact window hash-partitioned
    # on the id bucket; the only SinglePartition is the 8192×-reduced
    # bucket summary; boundary stitch is a broadcast-sized join
    "w11_id_gaps": (6, 3, 0, {"orders": 2}, ["Window", "BroadcastHashJoin", "TakeOrderedAndProject", "!SortMergeJoin", "!CartesianProduct"]),
    # growth curve: cumulative window sits ABOVE the period aggregate
    # (post-agg scalar altitude — the SinglePartition is #periods rows)
    "a20_growth_curve": (5, 3, 0, {"events": 1}, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # cohort LTV: cohort-keyed windows + broadcast dim join, never a
    # global sort or SMJ
    "a21_cohort_ltv": (6, 3, 0, {"events": 2}, ["Window", "BroadcastHashJoin", "!SinglePartition", "!SortMergeJoin"]),
    # anomaly vs baseline: per-key window over the daily aggregate —
    # keyed partitioning all the way
    "ts_anomaly_vs_baseline": (4, 2, 0, {"events": 1}, ["Window", "HashAggregate", "!SinglePartition", "!SortMergeJoin"]),
    # marker sequence: ONE per-user window exchange
    "seq_since_marker": (3, 1, 0, {"events": 1}, ["Window", "!SinglePartition", "!SortMergeJoin"]),
    # grid density: cell aggregate + TakeOrdered, no global sort
    "geo_grid_density": (2, 1, 0, {}, ["HashAggregate", "TakeOrderedAndProject", "!SinglePartition", "!SortMergeJoin"]),
    # per-dim clip: posexplode + per-dim quantile aggregate broadcast
    # back onto the vector stream — fact never re-shuffles for it
    "emb_quantile_clip": (5, 2, 2, {"embeddings": 2}, ["BroadcastHashJoin", "Generate", "!SinglePartition", "!SortMergeJoin"]),
    # nearest-event as-of: keyed window group limit above a broadcast
    # candidate join — no cartesian time-range scan
    "j_asof_nearest": (4, 1, 0, {"events": 2}, ["BroadcastHashJoin", "WindowGroupLimit", "!SortMergeJoin", "!CartesianProduct"]),
    # referential integrity: each FK check is a broadcast ANTI join of
    # the fact against the dim — the fact side never shuffles
    "dq_referential_integrity": (11, 3, 0, {"customer": 2, "lineitem": 1, "nation": 1, "orders": 2}, ["BroadcastHashJoin LeftAnti", "Union", "!SortMergeJoin", "!CartesianProduct"]),
    # ALL-subquery rewrite: per-group max broadcast back (allowlisted
    # bounded side), single agg exchange
    "sub_all_rewrite": (5, 1, 0, {"customer": 1, "supplier": 1}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # dedup report composite: every family's candidate/verify join stays
    # hash-shaped; one-row totals ride BNLJ; never a cartesian
    "corpus_dedup_report": (12, 5, 3, {"documents": 3}, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # per-user trend fit: JVM-side regr_slope (r09 rewrite of the former
    # grouped-map kernel) — ONE user_id exchange feeds both the min()
    # window and the final aggregate; no Python anywhere in the plan
    "g1_trend_fit": (3, 1, 0, {"events": 1}, ["Window", "regr_slope", "!FlatMapGroupsInPandas", "!ArrowEvalPython", "!BatchEvalPython", "!SortMergeJoin"]),
    # pairwise correlation matrix: map-side-combined agg; a keyless
    # RoundRobin spread() parallelizes the decimal partials on every core
    # (SPREAD requires it whenever the scan has fewer splits than cores),
    # then the groupBy's own keyed exchange moves only 3×N partial rows
    "a8_corr": (4, 2, 0, {"lineitem": 1}, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin", "!CartesianProduct"]),
    # snapshot diff: version scans checksum-compare through a broadcast
    # join of the (bounded) per-partition digest sides — zero exchanges
    "catalog_snapshot_diff": (13, 0, 0, {}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # corpus prep composite: the canonical filter anti-joins the survivors
    # with the driver-side non-canonical labels, broadcast by their exact
    # size — no corpus×corpus join; the one exchange is the lang agg
    "pipeline_corpus_prep": (13, 1, 0, {}, ["BroadcastHashJoin LeftAnti", "!SortMergeJoin", "!CartesianProduct"]),
    # triangle listing: multi-branch edge-edge equi-joins, never a
    # cartesian or Python; the stats-less checkpointed edge set gets
    # explicit degree/closure broadcasts beside the wedge SMJ
    "graph_triangles": (11, 3, 1, {}, ["SortMergeJoin", "BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # learned-codebook IVF + recall eval: centroid/total sides ride
    # bounded BNLJ/BHJ broadcasts; probe joins stay hash-shaped
    "ann_ivf_kmeans": (33, 8, 0, {"embeddings": 6}, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # PQ recall eval: exact-vs-PQ top-k compare; one-row/codebook sides
    # ride BNLJ, candidate joins keyed — no cartesian, no Python
    "ann_pq_recall": (14, 6, 0, {"embeddings": 4}, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # TPC-H Q3: both dims broadcast, date/segment predicates pushed,
    # top-k via TakeOrdered (no sort exchange for the limit)
    "tpch_q3_shape": (7, 1, 0, {"customer": 1, "lineitem": 1, "orders": 1}, ["BroadcastHashJoin", "TakeOrderedAndProject", "GreaterThan(l_shipdate", "EqualTo(c_mktsegment,BUILDING)", "!SortMergeJoin", "!CartesianProduct"]),
    # TPC-H Q5: 4-way star — every dim broadcast, date range pushed
    "tpch_q5_shape": (11, 1, 0, {"customer": 1, "lineitem": 1, "nation": 1, "orders": 1, "region": 1}, ["BroadcastHashJoin", "GreaterThanOrEqual(o_orderdate", "!SortMergeJoin", "!CartesianProduct"]),
    # range join: equi on user_id carries the range residual as a join
    # condition — BHJ, never a cartesian with a filter on top
    "j_range_join": (4, 1, 0, {"events": 2}, ["BroadcastHashJoin", "EqualTo(event_type,error)", "!SortMergeJoin", "!CartesianProduct"]),
    # correlated scalar subquery decorrelates to agg + broadcast join
    "sub_correlated_scalar": (4, 1, 0, {"orders": 2}, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # INTERSECT ALL: counted hash agg + Generate replay, one shuffle
    "set_intersect_all": (3, 1, 1, {"orders": 2}, ["HashAggregate", "Generate", "!SortMergeJoin", "!CartesianProduct"]),
    # salted skew join: salt explode (Generate) + broadcast of the
    # replicated dim — the fact is never re-shuffled on the hot key
    "skew_salted_join": (5, 1, 1, {"lineitem": 1, "part": 1}, ["Generate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # running sum: ONE hash exchange on the partition key, never global
    "w2_running_sum": (3, 1, 0, {"events": 1}, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # two count-distincts share one Expand (canonical 2-distinct shape)
    "a4_count_distinct": (4, 2, 0, {"lineitem": 1}, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # brute-force cosine vs one query vector: pure broadcast nested
    # loop, ZERO shuffles (the exchange budget, not "!Exchange", which
    # would also match BroadcastExchange) — the documented exact baseline
    "f17_cosine_all": (3, 0, 0, {"embeddings": 2}, ["BroadcastNestedLoopJoin", "EqualTo(vec_id,0)", "!CartesianProduct"]),
    # sessionization: one user_id exchange shared by both windows + agg
    "session_stats": (3, 1, 0, {"events": 1}, ["Window", "HashAggregate", "!SinglePartition", "!CartesianProduct"]),
    # anti join broadcasts the exclusion side
    "j1_anti_join": (4, 0, 0, {"customer": 1, "orders": 1}, ["BroadcastHashJoin LeftAnti", "!SortMergeJoin", "!CartesianProduct"]),
    # FULL OUTER cannot broadcast — SMJ with both sides hash-exchanged
    # is the designed shape
    "j1_full_outer": (5, 2, 0, {"customer": 1, "orders": 1}, ["SortMergeJoin FullOuter", "!BroadcastHashJoin", "!CartesianProduct"]),
    # MinHash banding: candidate pairs via band-bucket equi-joins
    # (broadcast at test SF), shingle explode bounded by Generate
    "dedup_near_pairs": (6, 2, 3, {"documents": 2}, ["BroadcastHashJoin", "Generate", "!SortMergeJoin", "!CartesianProduct"]),
    # exact n-gram Jaccard: the shingle index, checkpointed once, feeds
    # hot/sizes/pair branches — all joins keyed, no all-pairs anywhere
    "dedup_ngram_jaccard": (10, 2, 0, {}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # SimHash: one agg shuffle builds fingerprints from exploded tokens
    "simhash_fingerprints": (4, 1, 1, {"documents": 2}, ["Generate", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # rollup/cube/grouping-sets all compile to ONE Expand + one shuffle —
    # never one scan per grouping combination
    "a4_rollup": (3, 1, 0, {"lineitem": 1}, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a4_cube": (3, 1, 0, {"lineitem": 1}, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a4_grouping_sets": (3, 1, 0, {"lineitem": 1}, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # static pivot: two agg exchanges (group, then pivot fold), no join
    "a4_pivot": (4, 2, 0, {"orders": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # IN-subquery plans as a broadcast LEFT SEMI, never a shuffle
    "sub_in": (4, 0, 0, {"customer": 1, "orders": 1}, ["BroadcastHashJoin LeftSemi", "!SortMergeJoin", "!CartesianProduct"]),
    # scalar subquery: one agg exchange computes the scalar (its
    # SinglePartition sits ABOVE the aggregate — sweep-shielded)
    "sub_scalar": (4, 1, 0, {"orders": 2}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "j1_correlated_exists": (4, 0, 0, {"customer": 1, "orders": 1}, ["BroadcastHashJoin LeftSemi", "!SortMergeJoin", "!CartesianProduct"]),
    # lateral top-n: partitioned window + broadcast dim joins
    "j_lateral_topn": (8, 2, 0, {"customer": 1, "nation": 1, "region": 1}, ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # per-key windows: ONE hash exchange, never a global sort
    "w3_lag_lead": (3, 1, 0, {"events": 1}, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    "w5_range_frame": (3, 1, 0, {"events": 1}, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    "w7_gap_fill": (3, 1, 0, {"events": 1}, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    "ts_ewma": (3, 1, 0, {"events": 1}, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # 3-tier spatial classify: broadcast polygon join + tier Union
    "geo_classify": (3, 1, 0, {}, ["BroadcastNestedLoopJoin", "Union", "!CartesianProduct"]),
    "geo_classify_bulk": (2, 0, 0, {}, ["BroadcastNestedLoopJoin", "!CartesianProduct"]),
    # four embarrassingly-parallel kernels; the single exchange is the
    # DELIBERATE spread() rebalance of a single-split scan
    "text_stats": (3, 1, 0, {"documents": 1}, ["!SortMergeJoin", "!CartesianProduct"]),
    "text_lang_agg": (3, 1, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # lateral explode is pure Generate — no shuffle at all
    "f15_lateral_explode": (2, 0, 1, {"embeddings": 1}, ["Generate", "!CartesianProduct"]),
    # pure projection: scan + project, zero exchanges
    "p2_filename_parse": (2, 0, 0, {"documents": 1}, ["!CartesianProduct"]),
    "graph_degree_distribution": (11, 3, 0, {}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # DQ constraint union: six bounded check branches + anti-join probe
    "dq_constraints": (11, 6, 0, {"customer": 1, "lineitem": 2, "orders": 3}, ["Union", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "cohort_retention": (6, 3, 0, {"events": 2}, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "seq_transitions": (4, 2, 0, {"events": 1}, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # set ops: UNION dedups with one shuffle; INTERSECT/EXCEPT compile
    # to broadcast semi/anti joins; the ALL variants replay counts via
    # Generate — never a join per duplicate
    "set_union": (4, 1, 0, {"customer": 1, "supplier": 1}, ["Union", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "set_intersect": (5, 1, 0, {"customer": 1, "supplier": 1}, ["BroadcastHashJoin LeftSemi", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "set_except": (5, 1, 0, {"customer": 1, "supplier": 1}, ["BroadcastHashJoin LeftAnti", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "set_except_all": (3, 1, 1, {"orders": 2}, ["Union", "Generate", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # pure column-expression functions: zero exchanges, zero joins
    "f14_json_extract": (2, 0, 0, {"events": 1}, ["!CartesianProduct"]),
    "f15_array_ops": (2, 0, 0, {"embeddings": 1}, ["!CartesianProduct"]),
    "f15_map_ops": (2, 0, 0, {"documents": 1}, ["!CartesianProduct"]),
    "p6_type_dispatch": (2, 0, 0, {"events": 1}, ["!CartesianProduct"]),
    # the deliberate Arrow-kernel twin of f17_cosine_topk: the
    # ArrowEvalPython node IS the point (API-surface showcase)
    "f17_cosine_pandas": (3, 0, 0, {"embeddings": 2}, ["BroadcastNestedLoopJoin", "ArrowEvalPython", "!CartesianProduct"]),
    # min_by/argmin compiles to an ordered SortAggregate, one exchange
    "a2_argmin_per_group": (3, 1, 0, {"customer": 1}, ["SortAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # collect_list is an ObjectHashAggregate (object buffer), one shuffle
    "a6_collect_sorted": (3, 1, 0, {"orders": 1}, ["ObjectHashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a9_mode": (6, 2, 0, {"customer": 1, "orders": 1}, ["Window", "HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a17_hist_median": (6, 3, 0, {"orders": 2}, ["Window", "ObjectHashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "w8_leave_one_out": (3, 1, 0, {"orders": 1}, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    "w9_trailing_array": (3, 1, 0, {"events": 1}, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # sliding windows replicate each event into its overlapping windows
    # via ONE Expand; tumbling needs NO Expand (one window per event) —
    # an Expand appearing there would mean a silent fan-out regression
    "sliding_window_agg": (3, 1, 0, {"events": 1}, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "tumbling_window_agg": (3, 1, 0, {"events": 1}, ["HashAggregate", "!Expand", "!SortMergeJoin", "!CartesianProduct"]),
    # sort+limit: TakeOrderedAndProject, zero exchanges, no global sort
    "s1_sort_limit": (2, 0, 0, {"events": 1}, ["TakeOrderedAndProject", "!CartesianProduct"]),
    # two-stage salted aggregate: partial on the salted key, final on
    # the real key — exactly two exchanges
    "skew_salted_agg": (4, 2, 0, {"lineitem": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "seq_first_last_flow": (4, 2, 0, {"events": 1}, ["SortAggregate", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "p7_left_join_null_guard": (4, 0, 0, {"lineitem": 1, "part": 1}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # RRF fusion: two ranked lists FULL-OUTER merged (SMJ is the designed
    # shape — a broadcast can't do full outer), top-k via TakeOrdered
    "hybrid_rrf_topk": (5, 1, 1, {"documents": 1, "embeddings": 2}, ["Window", "TakeOrderedAndProject", "SortMergeJoin FullOuter", "!CartesianProduct"]),
    "ts_streaks": (4, 2, 0, {"events": 1}, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "dq_benford": (7, 3, 0, {"orders": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # recursive CTE (iterative member expansion): each iteration joins
    # broadcast, the final dedup is the single shuffle
    "sql_recursive_cte": (9, 1, 0, {"orders": 1}, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # per-table checksums reduce BEFORE the compare join — the
    # SinglePartition sits above the aggregates (sweep-shielded)
    "table_checksum_diff": (6, 3, 0, {"events": 2}, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # nearest-vertex KNN: vertex explode + broadcast candidate join +
    # deterministic argmin (ordered SortAggregate)
    "geo_knn": (3, 1, 1, {}, ["Generate", "BroadcastNestedLoopJoin", "SortAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # z-order interleave is pure bit arithmetic: zero exchanges
    "geo_zorder_key": (1, 0, 0, {}, ["!CartesianProduct"]),
    "geo_bbox_agg": (2, 1, 1, {}, ["Generate", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # IVF probe: centroid assignment rides tiny BNLJ broadcasts, the
    # cell probe is a keyed join — never all-pairs; the one SMJ joins
    # the two ranked lists
    "ann_ivf_topk": (9, 4, 0, {"embeddings": 4}, ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct"]),
    # hyperplane signatures are pure column expressions over one scan
    "ann_hyperplane_buckets": (2, 0, 0, {"embeddings": 1}, ["!CartesianProduct"]),
    # components result joins back to docs via broadcast; the contraction
    # itself runs behind a checkpoint barrier (plan shows its read)
    "dedup_components": (8, 0, 0, {"documents": 1}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "dedup_cluster_sizes": (10, 2, 0, {"documents": 1}, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ml_negative_pairs": (5, 1, 1, {"documents": 3}, ["Generate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "ml_calibration_bins": (5, 2, 0, {"orders": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_twap": (3, 1, 0, {"events": 1}, ["Window", "HashAggregate", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # calendar anti-probe: day spine via Generate, missing days via
    # broadcast join — never a per-day scan
    "ts_missing_days": (5, 2, 1, {"events": 2}, ["Generate", "BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_rank_shift": (7, 4, 0, {"events": 2}, ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "attribution_last_touch": (7, 3, 0, {"events": 2}, ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "theta_avoid_prefix": (4, 2, 0, {"orders": 1}, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # CDC compaction: ONE key exchange feeds the latest-version window
    "cdc_upsert_compact": (3, 1, 0, {"events": 1}, ["Window", "hashpartitioning", "!SortMergeJoin", "!CartesianProduct"]),
    # KMV sketch: k smallest hashes via TakeOrdered, threshold broadcast
    "a5_kmv_distinct": (5, 2, 1, {"documents": 1}, ["TakeOrderedAndProject", "Generate", "!SortMergeJoin", "!CartesianProduct"]),
    # skew/kurtosis from power sums: single-scan single-shuffle
    "a7_moments": (3, 1, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a12_gini": (3, 1, 0, {"customer": 1}, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # hierarchy share-of-parent: every level join broadcast, partial
    # aggs reuse the partitioning (3 exchanges for 3 levels)
    "a16_share_of_parent": (11, 2, 0, {"customer": 1, "nation": 1, "orders": 1, "region": 1}, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # percentile_approx carries an ObjectHashAggregate digest buffer
    "a4_percentiles": (3, 1, 0, {"lineitem": 1}, ["ObjectHashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # unpivot is ONE Expand over the scan — no shuffle, no join
    "a4_unpivot": (2, 0, 0, {"lineitem": 1}, ["Expand", "!CartesianProduct"]),
    "f19_url_parse": (2, 0, 0, {"documents": 1}, ["!CartesianProduct"]),
    "f20_ip_cidr": (5, 2, 0, {"events": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # image metadata decode: the MapInPandas Arrow batch IS the design
    # (the EXIF/GeoTIFF byte walk has no JVM expression surface). The
    # digest stubs (resize, frames) are built-in expressions with no
    # Python worker; the frame fan-out is the one Generate. Zero shuffles
    # around them; scene cuts adds one window exchange
    "multimodal_meta": (3, 0, 0, {}, ["MapInPandas", "!CartesianProduct"]),
    "multimodal_resize": (2, 0, 0, {"documents": 1}, ["!MapInPandas", "!CartesianProduct"]),
    "multimodal_frames": (2, 0, 1, {"documents": 1}, ["!MapInPandas", "!CartesianProduct"]),
    "multimodal_scene_cuts": (3, 1, 1, {"documents": 1}, ["!MapInPandas", "Window", "hashpartitioning", "!CartesianProduct"]),
    # DQ checks: per-shard aggregates reduce before the scalar compare
    # (their SinglePartition sits above the aggregate — sweep-shielded)
    "dq_freshness_sla": (8, 4, 0, {"events": 2}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "dq_shard_balance": (4, 2, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # contract diff: bounded by schema width, the one exchange is the
    # deterministic output ordering of a tiny violation table
    "dq_schema_contract": (4, 1, 0, {}, ["!SortMergeJoin", "!CartesianProduct"]),
    "emb_outlier_zscore": (5, 2, 2, {"embeddings": 2}, ["Generate", "BroadcastHashJoin", "TakeOrderedAndProject", "!SortMergeJoin", "!CartesianProduct"]),
    # geospatial math is pure column expressions (ring explode only)
    "geo_affine_extent": (1, 0, 1, {}, ["Generate", "!CartesianProduct"]),
    "geo_reproject_centroid": (0, 0, 0, {}, ["!CartesianProduct"]),
    "geo_ring_areas": (1, 0, 1, {}, ["Generate", "!CartesianProduct"]),
    "geo_snap_simplify": (1, 0, 1, {}, ["Generate", "!CartesianProduct"]),
    # scalar max: one agg exchange (SinglePartition above the aggregate)
    "a1_max_id": (3, 1, 0, {"orders": 1}, ["HashAggregate", "!CartesianProduct"]),
    "a3_first_seen_dedup": (3, 1, 0, {"documents": 1}, ["HashAggregate", "hashpartitioning", "!CartesianProduct"]),
    "a6_string_agg": (3, 1, 0, {"documents": 1}, ["ObjectHashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a11_winsorized_mean": (5, 2, 0, {"events": 2}, ["ObjectHashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a14_minmax_scale": (4, 1, 0, {"events": 2}, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a15_abc_classify": (6, 2, 0, {"lineitem": 1, "part": 1}, ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a18_outlier_zscore": (5, 2, 0, {"events": 2}, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a24_seq_motifs": (4, 2, 0, {"events": 1}, ["Window", "TakeOrderedAndProject", "!SortMergeJoin", "!CartesianProduct"]),
    "ab_test_zscore": (3, 1, 0, {"orders": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # deterministic splits/samples/caps: hash or window over ONE exchange
    "p9_weighted_sample": (3, 1, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "p10_train_val_test": (3, 1, 0, {"documents": 1}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "p12_per_source_cap": (3, 1, 0, {"documents": 1}, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # custom Python DataSource: the scan feeds a normal one-shuffle agg
    "s1_python_datasource": (2, 1, 0, {}, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # projection/scalar-function/text families: narrow scan + Project
    # ONLY ("!Exchange" also bans BroadcastExchange — safe, no join) and
    # the exact pruned ReadSchema
    "p3_composite_key": (2, 0, 0, {"customer": 1}, ["!Exchange", "ReadSchema: struct<c_custkey:bigint,c_nationkey:int,c_mktsegment:string>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "p4_path_parse": (2, 0, 0, {"documents": 1}, ["!Exchange", "ReadSchema: struct<doc_id:bigint,source:string>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "f_string_scalars": (2, 0, 0, {"documents": 1}, ["!Exchange", "ReadSchema: struct<doc_id:bigint,text:string>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "f_string_pack2": (2, 0, 0, {"documents": 1}, ["!Exchange", "ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "f_array_pack2": (2, 0, 0, {"embeddings": 1}, ["!Exchange", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "f_conditionals": (2, 0, 0, {"events": 1}, ["!Exchange", "ReadSchema: struct<event_id:bigint,event_type:string,value:double>", "!BatchEvalPython", "!ArrowEvalPython"]),
    # date arithmetic: the o_orderkey range predicate must reach the scan
    "f_date_arith": (2, 0, 0, {"orders": 1}, ["!Exchange", "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,200)", "ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp>"]),
    # date-part rollup: one agg shuffle over a 2-column pruned scan
    "f_date_parts": (3, 1, 0, {"orders": 1}, ["HashAggregate", "ReadSchema: struct<o_totalprice:double,o_orderdate:timestamp>", "!SortMergeJoin", "!CartesianProduct"]),
    # array/map higher-order functions: pure column expressions, doc_id
    # slice predicates pushed to the scan; explode_outer keeps Generate
    "f15_array_setops": (2, 0, 0, {"documents": 1}, ["!Exchange", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)"]),
    "f15_explode_outer": (2, 0, 1, {"documents": 1}, ["Generate", "!Exchange", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,40)"]),
    "f15_map_transform": (2, 0, 0, {"documents": 1}, ["!Exchange", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)", "ReadSchema: struct<doc_id:bigint,lang:string,source:string>"]),
    # text kernels are JVM column expressions — NO Python eval node and
    # no shuffle; the scan reads only the columns the kernel consumes
    "text_bpe_tokens": (2, 0, 0, {"documents": 1}, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "text_pii_scrub": (2, 0, 0, {"documents": 1}, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "text_quality_filter": (2, 0, 0, {"documents": 1}, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "text_repetition": (2, 0, 0, {"documents": 1}, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "text_edit_distance": (2, 0, 0, {"documents": 1}, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>"]),
    # JSON feature scan: schema-on-read multiLine source, no shuffle
    "s6_features_json": (1, 0, 0, {}, ["!Exchange", "ReadSchema: struct<id_predio:string"]),
    # binary decode kernels: exactly ONE Arrow MapInPandas stage directly
    # over the binaryFile scan — no shuffle before or after the kernel
    "s7_exif_gps_scan": (2, 0, 0, {}, ["MapInPandas", "!Exchange", "ReadSchema: struct<path:string,length:bigint,content:binary>"]),
    "s8_geotiff_meta_scan": (2, 0, 0, {}, ["MapInPandas", "!Exchange", "ReadSchema: struct<path:string,length:bigint,content:binary>"]),
    "s2_archive_extract": (3, 0, 0, {}, ["MapInPandas", "!Exchange", "ReadSchema: struct<path:string,content:binary>"]),
    # content-addressed keys / merged-schema read: projection-only
    "s12_content_key": (2, 0, 0, {"documents": 1}, ["!Exchange", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "s18_schema_evolution": (5, 0, 0, {}, ["!Exchange", "ReadSchema: struct<doc_id:bigint,lang:string,score:double>"]),
    # GROUPING SETS: one Expand feeding a single agg shuffle over a
    # 2-column pruned scan
    "a4_grouping_id": (3, 1, 0, {"lineitem": 1}, ["Expand", "HashAggregate", "ReadSchema: struct<l_returnflag:string,l_linestatus:string>", "!SortMergeJoin", "!CartesianProduct"]),
    # null-safe equality join: broadcast (1-col pruned dims), never SMJ;
    # budget 2 = the post-join agg + AQE final shuffle
    "j1_null_safe_join": (6, 2, 0, {"customer": 1, "supplier": 1}, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct", "ReadSchema: struct<c_nationkey:int>", "ReadSchema: struct<s_nationkey:int>"]),
    # recall eval: per-query ground truth is the bounded brute-force BNLJ
    # (20 probe vectors broadcast), candidates via WindowGroupLimit top-k;
    # the vec_id probe list must push into the embeddings scan
    "ann_recall_eval": (13, 6, 0, {"embeddings": 5}, ["WindowGroupLimit", "BroadcastNestedLoopJoin", "PushedFilters: [IsNotNull(embedding), In(vec_id", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>", "!CartesianProduct"]),
    # catalog joins: both dim sides broadcast, ZERO shuffle exchanges;
    # all three predicate sets pushed into their parquet scans
    "catalog_roundtrip": (11, 0, 0, {}, ["BroadcastHashJoin", "PushedFilters: [IsNotNull(id_proceso), EqualTo(id_proceso,0)", "ReadSchema: struct<id_ejecucion:bigint,id_proceso:int>", "!SortMergeJoin", "!CartesianProduct"]),
    # snapshot-expire / MMR: the heavy machinery runs inside the query fn
    # (COW snapshot build, iterative MMR selection over a checkpointed
    # candidate set); the RETURNED plan must stay shuffle- and join-free
    "catalog_snapshot_expire": (23, 0, 0, {}, ["!Exchange", "!CartesianProduct"]),
    "hybrid_mmr_topk": (36, 0, 0, {}, ["!Exchange", "!CartesianProduct"]),
    "catalog_wap_publish": (28, 1, 0, {}, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # temperature mixture: source-level aggs (1-col scan) + the bounded
    # 10-row weight table via BNLJ cross of two scalar subquery results
    "corpus_mixture_temperature": (7, 3, 0, {"documents": 1}, ["HashAggregate", "ReadSchema: struct<source:string>", "!CartesianProduct", "!SortMergeJoin"]),
    "f14_json_hetero": (3, 1, 0, {"documents": 1}, ["HashAggregate", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,300)", "!SortMergeJoin", "!CartesianProduct"]),
    # the UDTF surface: exactly one BatchEvalPythonUDTF over a pushed
    # doc_id slice, no shuffle
    "f18_python_udtf": (2, 0, 0, {"documents": 1}, ["BatchEvalPythonUDTF", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,30)", "!Exchange"]),
    "f_binary_codecs": (2, 0, 0, {"documents": 1}, ["!Exchange", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)", "!BatchEvalPython", "!ArrowEvalPython"]),
    # cogroup merge: custkey slice pushed into BOTH sides (the r09 fix),
    # two co-partitioned exchanges feed the Arrow cogroup kernel
    "g2_cogroup_merge": (5, 2, 0, {"customer": 1, "orders": 1}, ["FlatMapCoGroupsInPandas", "PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,200)", "PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,200)", "!SortMergeJoin", "!CartesianProduct"]),
    # nearest edge: vertex explode (Generate), bounded polygon-dim BNLJ,
    # per-point WindowGroupLimit argmin — one exchange for the window key
    "geo_nearest_edge": (3, 1, 2, {}, ["Generate", "WindowGroupLimit", "BroadcastNestedLoopJoin", "!CartesianProduct"]),
    # co-purchase graph: 2-col lineitem scan, pair-count aggs, part dim
    # broadcast — the fact side never broadcast
    "graph_copurchase": (5, 2, 0, {"lineitem": 1}, ["HashAggregate", "BroadcastHashJoin", "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    "j_mark_join_flags": (8, 3, 0, {"customer": 1, "orders": 1}, ["BroadcastHashJoin", "ReadSchema: struct<c_custkey:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    "ml_lift_table": (6, 3, 0, {"orders": 1}, ["HashAggregate", "Window", "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>", "!CartesianProduct", "!SortMergeJoin"]),
    "p13_path_rollup": (3, 1, 1, {"documents": 1}, ["Generate", "HashAggregate", "ReadSchema: struct<lang:string,source:string,n_chars:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    # the reference's own job end-to-end: binaryFile scan → EXIF/GeoTIFF
    # Arrow decode kernels → broadcast polygon BNLJ classify → rollup
    "pipeline_geo_ingest": (6, 2, 0, {}, ["MapInPandas", "BroadcastNestedLoopJoin", "ReadSchema: struct<path:string,length:bigint,content:binary>", "!CartesianProduct", "!SortMergeJoin"]),
    # sink roundtrips: read-back feeds ONE map-side-combined agg shuffle
    # over a pruned scan of the written files
    "s11_csv_roundtrip": (4, 1, 0, {}, ["HashAggregate", "ReadSchema: struct<event_type:string,value:double>", "!SortMergeJoin", "!CartesianProduct"]),
    "s16_partitioned_publish": (4, 1, 0, {}, ["HashAggregate", "ReadSchema: struct<source:string,n_chars:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    "s17_compaction": (9, 1, 0, {}, ["HashAggregate", "ReadSchema: struct<lang:string,n_chars:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    "s19_orc_roundtrip": (4, 1, 0, {}, ["HashAggregate", "ReadSchema: struct<o_totalprice:double,o_orderpriority:string>", "!SortMergeJoin", "!CartesianProduct"]),
    "s20_jsonl_roundtrip": (4, 1, 0, {}, ["HashAggregate", "ReadSchema: struct<c_mktsegment:string,c_acctbal:double>", "!SortMergeJoin", "!CartesianProduct"]),
    "s21_targeted_delete": (8, 2, 0, {}, ["HashAggregate", "ReadSchema: struct<user_id:bigint,event_type:string>", "!SortMergeJoin", "!CartesianProduct"]),
    # orphan sweep: path-set anti semantics via broadcast joins over
    # 1-col projections; never a shuffled join of the listing
    "s22_orphan_files": (7, 2, 0, {"documents": 1}, ["BroadcastHashJoin", "ReadSchema: struct<path:string>", "!SortMergeJoin", "!CartesianProduct"]),
    # ANALYZE-style stats: one union of per-table agg branches, each its
    # own pruned scan + single shuffle (8 total), no joins at all
    "s23_analyze_stats": (13, 8, 0, {"customer": 1, "documents": 1, "lineitem": 1, "orders": 1}, ["Union", "HashAggregate", "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>", "!SortMergeJoin", "!BroadcastHashJoin", "!CartesianProduct"]),
    "s24_blob_chunking": (2, 0, 1, {"documents": 1}, ["Generate", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)", "!Exchange"]),
    "s26_dynamic_overwrite": (5, 1, 0, {}, ["HashAggregate", "ReadSchema: struct<o_totalprice:double>", "!SortMergeJoin", "!CartesianProduct"]),
    # bad-records / corrupt-JSON reads: the parsed+cached fixture scans
    # from memory (InMemoryTableScan — Spark requires caching for
    # _corrupt_record queries), then one agg shuffle
    "s27_csv_badrecords": (5, 1, 0, {}, ["InMemoryTableScan", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "s6_features_corrupt": (3, 1, 0, {}, ["InMemoryTableScan", "HashAggregate", "ReadSchema: struct<id_predio:string", "!SortMergeJoin", "!CartesianProduct"]),
    "s28_column_rename_evolution": (7, 1, 0, {}, ["Union", "HashAggregate", "ReadSchema: struct<o_orderstatus:string,amount:double>", "ReadSchema: struct<o_orderstatus:string,price:double>", "!SortMergeJoin", "!CartesianProduct"]),
    # RAKE keyphrases: phrase Generate chains, per-doc windows, stopword
    # dim broadcast, final global top-k as TakeOrdered (no sort exchange)
    "text_keyphrase_rake": (8, 3, 4, {"documents": 1}, ["Generate", "Window", "BroadcastHashJoin", "TakeOrderedAndProject", "PushedFilters: [IsNotNull(doc_id)", "!SortMergeJoin", "!CartesianProduct"]),
    "text_winnowing_fp": (3, 1, 1, {"documents": 1}, ["Generate", "ReadSchema: struct<doc_id:bigint,text:string>", "!SortMergeJoin", "!CartesianProduct"]),
    # time-series: per-user/key window + agg over pruned event scans
    "ts_autocorrelation": (5, 2, 0, {"events": 1}, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_interval_coverage": (3, 1, 0, {"events": 1}, ["Window", "HashAggregate", "PushedFilters: [IsNotNull(user_id), LessThan(user_id,100)", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_local_peaks": (5, 2, 0, {"events": 1}, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_resample_interp": (4, 2, 1, {"events": 2}, ["Window", "Generate", "Union", "PushedFilters: [IsNotNull(user_id), LessThan(user_id,50)", "!SortMergeJoin", "!CartesianProduct"]),
    "w4_rank_funcs": (3, 1, 0, {"orders": 1}, ["Window", "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>", "!SortMergeJoin", "!CartesianProduct"]),
    "w6_distribution_funcs": (3, 1, 0, {"customer": 1}, ["Window", "ReadSchema: struct<c_custkey:bigint,c_nationkey:int,c_acctbal:double>", "!SortMergeJoin", "!CartesianProduct"]),
}

# The streaming queries run their micro-batches inside the query function
# and return a sink read-back (a local scan): query -> max jobs, counting
# each stream's runId job group, which its micro-batches run under.
STREAM_JOBS = {
    "streaming_append_windows": 9, "streaming_cdc_apply": 17, "streaming_dedup": 5,
    "streaming_foreachbatch_merge": 20, "streaming_session": 2, "streaming_sliding": 2,
    "streaming_stateful_totals": 7, "streaming_static_join": 4,
    "streaming_stream_join": 4, "streaming_topk": 4, "streaming_tumbling": 2,
}

# query -> base table whose scan tables.spread() must round-robin when it
# has fewer splits than the session's parallelism (spread's own rule).
SPREAD = {"a8_corr": "lineitem"}

# ---- scale-shape sweep ----

# Reviewed fact-level SinglePartition exceptions (query -> why).
ALLOWED = {
    # exact weighted quantile: the ONE global-ordered window over the
    # weight-sorted values is the documented exact-semantics cost. Both
    # 100 TB variants are built: the approximate path
    # (a19_tdigest_quantile) and the exact distributed twin
    # (a22_weighted_quantile_dist, bit-identical rows pinned by
    # tests/test_weighted_quantile_dist.py); this query stays as the
    # one-pass semantics pin they are graded against.
    "a22_weighted_quantile": "documented exact-semantics global window",
}

# Reviewed cartesian-product exceptions (query -> why). Non-equi joins
# must compile to BroadcastNestedLoopJoin with the bounded side broadcast
# (gated by tests/test_broadcast_allowlist.py), never to a shuffled
# CartesianProduct.
ALLOWED_CARTESIAN: dict[str, str] = {}

# Physical node names that mean rows cross the JVM<->Python boundary.
PY_NODES = (
    "ArrowEvalPython", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "MapInPandas", "MapInArrow", "BatchEvalPython", "PythonUDTF",
)

# Reviewed Python-kernel exceptions (query -> why no built-in can express
# the kernel): byte-level decode, a stateful sketch with no closed form,
# or the deliberate API-surface showcase — never arithmetic a
# pyspark.sql.functions aggregate could compute (r09: g1_trend_fit's
# grouped least-squares kernel took 3.6 s warm; built-in regr_slope 0.31 s).
ALLOWED_PYTHON = {
    # binary decode kernels: image bytes have no JVM expression
    # surface; Arrow batches over mapInPandas IS the design
    "multimodal_meta": "EXIF/GeoTIFF byte-walk decode kernel",
    "s7_exif_gps_scan": "stdlib EXIF byte-level walker",
    "s8_geotiff_meta_scan": "stdlib GeoTIFF tag walker",
    "pipeline_geo_ingest": "composite includes the EXIF decode stage",
    # archive codecs: stdlib decompression, no Spark source reads these
    "s2_archive_extract": "zip/tar/gz/bz2/xz extraction kernel",
    "s2_7z_extract": "7z container parse + codec chain",
    # sketches with no closed form: merge logic is the operator
    "a19_tdigest_quantile": "t-digest centroid merge (no closed form)",
    "streaming_tdigest": "t-digest merge inside foreachBatch",
    # custom merge kernel over cogrouped frames
    "g2_cogroup_merge": "cogrouped reconciliation kernel",
    # deliberate API-surface twins (each has a JVM-side counterpart
    # benched beside it: f17_cosine_topk / the SQL UDTF-free segmenters)
    "f17_cosine_pandas": "Pandas-UDF twin of f17_cosine_topk (kept for the JVM-vs-Arrow comparison)",
    "f18_python_udtf": "the Python UDTF surface is the component under test",
}

# Operators that bound the data volume before the exchange: once the
# walk crosses one of these, whatever reaches the SinglePartition
# exchange is aggregate/limited altitude, not fact rows.
BARRIER = (
    "HashAggregate", "SortAggregate", "ObjectHashAggregate", "TakeOrderedAndProject",
    "CollectLimit", "GlobalLimit", "LocalLimit", "FlatMapGroupsInPandas", "AQEShuffleRead",
)

# Aggregate-buffer width above which a Results row is treated as a hidden
# fat buffer. Registry max is 9 columns (arrays and structs count as ONE
# column). The r10 find this generalizes was a 412-column plan: mixing
# countDistinct with approx_count_distinct made Spark's two-phase
# distinct rewrite shuffle the partial HLL register words PER DISTINCT
# KEY PAIR.
WIDE_AGG_THRESHOLD = 64

# Reviewed wide-aggregate exceptions: query -> (keys_pattern, reason).
# The waiver is structural: every wide aggregate block of the query must
# group SOLELY by keys matching keys_pattern, the low-cardinality key the
# review was argued on. A regression to the per-pair shape the gate
# exists for then fails on its extra key instead of passing by name.
ALLOWED_WIDE: dict[str, tuple[str, str]] = {
    # after the r10 rewrite (distinct pairs first) the 412-col HLL buffer
    # exists once per l_returnflag GROUP (3 values) per map task: a few KB
    # of shuffle at any fact-table size.
    "a5_approx_distinct": (
        r"l_returnflag#\d+",
        "412-col HLL partial per 3-value l_returnflag group, O(groups x tasks) shuffle",
    ),
}


def _blocks(plan: str):
    """``(node id, operator, block)`` for each node detail block."""
    for blk in plan.split("\n\n"):
        # lstrip: a triple-newline separator (e.g. before a Subqueries
        # section) leaves a leading "\n" on the next block
        blk = blk.lstrip("\n")
        m = re.match(r"\((\d+)\) (\w+)", blk)
        if m:
            yield int(m.group(1)), m.group(2), blk


def wide_agg_results(plan: str, threshold: int = WIDE_AGG_THRESHOLD) -> list[int]:
    """Widths of aggregate ``Results [N]`` rows exceeding ``threshold``.

    Parsed per detail block: a long Functions list puts the Results line
    thousands of chars after the header, so a fixed character window
    misses exactly the fat-buffer case.
    """
    widths = []
    for _, op, blk in _blocks(plan):
        r = re.search(r"^Results \[(\d+)\]", blk, re.M) if "Aggregate" in op else None
        if r and int(r.group(1)) > threshold:
            widths.append(int(r.group(1)))
    return widths


def wide_agg_key_violations(
    plan: str, keys_pattern: str, threshold: int = WIDE_AGG_THRESHOLD
) -> list[str]:
    """Grouping keys of over-threshold aggregate blocks that do NOT fully
    match ``keys_pattern``. A block with no ``Keys`` list reports
    ``<no-keys-line>`` (a keyless global buffer is not what any waiver
    was argued on)."""
    pat = re.compile(keys_pattern)
    bad = []
    for _, op, blk in _blocks(plan):
        r = re.search(r"^Results \[(\d+)\]", blk, re.M) if "Aggregate" in op else None
        if not r or int(r.group(1)) <= threshold:
            continue
        k = re.search(r"^Keys \[\d+\]: \[(.*)\]", blk, re.M)
        if not k or not k.group(1).strip():
            bad.append("<no-keys-line>")
            continue
        keys = [s.strip() for s in _split_top_level(k.group(1))]
        bad += [key for key in keys if not pat.fullmatch(key)]
    return bad


def _split_top_level(s: str) -> list[str]:
    """Split a Keys list on TOP-LEVEL commas only, so an expression key
    such as ``CAST(x AS decimal(10,2))`` stays one key. Depth is clamped
    at 0 on closers: a closer inside a quoted literal must not stop later
    top-level commas from splitting."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def fact_level_singlepartition(plan: str) -> list[int]:
    """Node ids of SinglePartition exchanges fed directly by a scan.

    Walks the MAIN plan tree only; ``Subqueries`` trees are not walked —
    a subquery's result is a scalar/semi-join input (bounded rows by
    construction).
    """
    sp_ids = {i for i, op, b in _blocks(plan) if op == "Exchange" and "SinglePartition" in b}
    if not sp_ids:
        return []
    parsed = []
    for line in plan.split("\n\n")[0].splitlines():
        # "* " marks a whole-stage-codegen node in an executed plan
        m = re.search(r"([:\s+\-]*)[+:]- (?:\* )?(\w+).*\((\d+)\)", line) or re.search(
            r"^(\s*)(?:\* )?(\w+).*\((\d+)\)", line
        )
        if m:
            parsed.append((len(m.group(1)), m.group(2), int(m.group(3))))
    flagged = []
    for idx, (ind, _op, nid) in enumerate(parsed):
        if nid not in sp_ids:
            continue
        # A barrier shields only its OWN subtree (lines more indented
        # than it), so a sibling branch's raw Scan is still seen. One
        # shield depth suffices: a deeper barrier is already shielded.
        barrier_ind = None
        for ind2, op2, _nid2 in parsed[idx + 1 :]:
            if ind2 <= ind:
                break  # left the exchange's subtree entirely
            if barrier_ind is not None:
                if ind2 > barrier_ind:
                    continue  # descendant of the barrier — bounded rows
                barrier_ind = None  # back to a sibling branch
            if any(op2.startswith(b) for b in BARRIER):
                barrier_ind = ind2
                continue
            if op2.startswith("Scan"):
                flagged.append(nid)
                break
    return flagged


_OTHER = {"Final": "Initial", "Initial": "Final"}


def _subtrees(chunk: str):
    """``(line, adaptive subtrees it sits under)`` for each tree line."""
    stack: list[tuple[int, str]] = []  # (column, subtree) of open markers
    for line in chunk.split("\n"):
        col = len(line) - len(line.lstrip(" :|"))
        while stack and col <= stack[-1][0]:
            stack.pop()
        m = re.search(r"\+- == (Final|Initial) Plan ==$", line)
        if m:
            stack.append((col, m.group(1)))
        yield line, {k for _, k in stack}


def views(plan: str) -> tuple[str, str]:
    """``(final, initial)`` views of a formatted plan. Each drops the
    other adaptive subtree's tree lines and the detail blocks of the
    nodes only that subtree holds; nodes both print (the scans) stay in
    both. A plan that never ran adaptively is its own final and initial
    view."""
    chunks = plan.split("\n\n")
    trees = {}  # chunk index -> tagged tree lines
    seen: dict[int, set[str]] = collections.defaultdict(set)  # node id -> views
    for i, chunk in enumerate(chunks):
        if not re.match(r"\(\d+\) ", chunk.lstrip("\n")):
            trees[i] = list(_subtrees(chunk))
            for line, under in trees[i]:
                nid = re.search(r"\((\d+)\)(,|$)", line)
                if nid:
                    seen[int(nid.group(1))] |= {v for v in _OTHER if _OTHER[v] not in under}

    def view(v: str) -> str:
        parts = []
        for i, chunk in enumerate(chunks):
            if i in trees:
                parts.append("\n".join(line for line, under in trees[i] if _OTHER[v] not in under))
            elif v in seen.get(int(re.match(r"\((\d+)\)", chunk.lstrip("\n")).group(1)), {v}):
                parts.append(chunk)
        return "\n\n".join(parts)

    return view("Final"), view("Initial")


def counts(view: str) -> tuple[int, int, dict[str, int]]:
    """Exchange nodes, Generate nodes and Scan nodes per base table (from
    each Scan's ``Location``) in a plan view."""
    n_ex = n_gen = 0
    scans: collections.Counter[str] = collections.Counter()
    for _, op, blk in _blocks(view):
        n_ex += op == "Exchange"
        n_gen += op == "Generate"
        loc = re.search(r"^Location: \w+ \[(.*)\]$", blk, re.M) if op == "Scan" else None
        for path in loc.group(1).split(", ") if loc else ():
            table = path.rstrip("/").rsplit("/", 1)[-1].removesuffix(".parquet")
            if table in TABLE_NAMES:
                scans[table] += 1
    return n_ex, n_gen, dict(scans)


def sweep(name: str, plan: str) -> list[str]:
    """Scale-shape problems of ``plan``: an unreviewed shape, or an
    allowlist entry whose shape is gone."""
    shapes = (
        ("fact-level SinglePartition exchange", ALLOWED, fact_level_singlepartition(plan)),
        ("CartesianProduct", ALLOWED_CARTESIAN, "CartesianProduct" in plan),
        ("Python eval node", ALLOWED_PYTHON, [n for n in PY_NODES if n in plan]),
        ("wide aggregate buffer", ALLOWED_WIDE, wide_agg_results(plan)),
    )
    probs = []
    for what, allowed, hits in shapes:
        if hits and name not in allowed:
            probs.append(f"unreviewed {what} {hits}")
        elif not hits and name in allowed:
            probs.append(f"stale allowlist entry: no {what}")
    if name in ALLOWED_WIDE:
        pat = ALLOWED_WIDE[name][0]
        viol = wide_agg_key_violations(plan, pat)
        probs += [f"wide aggregate keyed on {viol} (waiver: keys ~ /{pat}/)"] if viol else []
    return probs


def audit(
    name: str, plan: str, jobs: int, parallelism: int, splits: dict[str, int]
) -> list[str]:
    """Problems with query ``name``'s executed ``plan`` and ``jobs``
    count. ``splits`` maps each ``SPREAD`` table to its scan's partition
    count and ``parallelism`` is the session's default parallelism."""
    final, initial = views(plan)
    if name in STREAM_JOBS:
        max_jobs = STREAM_JOBS[name]
        probs = []
    elif name in AUDITS:
        max_jobs, max_ex, max_gen, max_scans, expects = AUDITS[name]
        n_ex, n_gen, scans = counts(final)
        over = [("exchanges", n_ex, max_ex), ("generates", n_gen, max_gen)]
        over += [(f"{t} scans", n, max_scans.get(t, 0)) for t, n in sorted(scans.items())]
        probs = [f"{what}={n} > {cap}" for what, n, cap in over if n > cap]
        probs += [f"unexpected: {e[1:]}" for e in expects if e[0] == "!" and e[1:] in initial]
        probs += [f"missing: {e}" for e in expects if e[0] != "!" and e not in initial]
    else:
        return ["no pin in tools/plan_audit.py"]
    if jobs > max_jobs:
        probs.append(f"jobs={jobs} > {max_jobs}")
    table = SPREAD.get(name)
    if table and splits[table] < parallelism and "RoundRobinPartitioning" not in final:
        probs.append(
            f"missing: RoundRobinPartitioning ({table} scans as "
            f"{splits[table]} < {parallelism} partitions)"
        )
    return probs + sweep(name, plan)
