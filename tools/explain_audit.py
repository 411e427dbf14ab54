"""Physical-plan audit: assert the plans we designed are the plans we got.

For each audited query, prints a compact summary of the formatted plan and
checks structural expectations (SURVEY §4):

- filters reach the parquet scan (``PushedFilters`` non-empty where expected)
- column pruning (``ReadSchema`` narrower than the table)
- dimension joins compile to BroadcastHashJoin (no shuffle of the fact side)
- no CartesianProduct anywhere
- shuffle (Exchange) counts stay at the designed minimum

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datalake_imagenes_georreferenciadas_spark.plans.queries import all_queries
from datalake_imagenes_georreferenciadas_spark.session import get_spark

# query → (max_exchanges, expects) where expects is a list of substrings the
# formatted plan MUST contain, prefixed '!' for must-NOT-contain.
AUDITS: dict[str, tuple[int, list[str]]] = {
    # dimension joins must broadcast; the 3 predicates must push into scans
    "catalog_filtered_join": (0, ["BroadcastHashJoin", "PushedFilters: [In(o_orderstatus", "!CartesianProduct", "!SortMergeJoin"]),
    "j1_semi_join": (0, ["BroadcastHashJoin LeftSemi", "!SortMergeJoin"]),
    "p5_filter_in_conj": (0, ["In(l_returnflag, [A,N])", "GreaterThanOrEqual(l_quantity,30.0)", "!Exchange"]),
    # single-shuffle grouped agg with map-side partial aggregation
    "a4_group_agg": (1, ["HashAggregate", "PushedFilters: [IsNotNull(l_shipdate"]),
    # window = exactly one hash exchange on the group key
    "w1_topk_per_group": (1, ["Window", "row_number()"]),
    # scan-side projection pruning: only 2 columns read
    "p1_projection_filter": (0, ["ReadSchema: struct<n_nationkey:int,n_name:string,n_regionkey:int>"]),
    # brute-force cosine: broadcast the queries, no shuffle before window
    # r19: +1 exchange — spread() of the single-split corpus scan before
    # the per-row cosine fold (guide §2.5); recall evals gain one per
    # brute-force/encode pass
    "f17_cosine_topk": (2, ["BroadcastNestedLoopJoin", "!SortMergeJoin"]),
    # LSH ANN: bucket equi-join must be a broadcast hash join here
    "ann_lsh_topk": (1, ["BroadcastHashJoin", "!CartesianProduct"]),
    # minhash bands: ONE exchange (repartition reused by the groupBy), no
    # join at all — signatures flow straight to band keys
    "dedup_minhash_bands": (1, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # spatial broadcast join with UDF-free ray-cast predicate
    "geo_contains": (0, ["BroadcastNestedLoopJoin", "!CartesianProduct"]),
    # cell equi-join: 2 exchanges (both sides hash on cell) is the designed
    # scale shape — the point is that it's shuffle-partitionable, not BNLJ
    "geo_contains_grid": (2, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # bucketed co-located join: bucket-aligned scans feed the SMJ with NO
    # join-side shuffle; the single allowed exchange is the final groupBy
    "j_bucketed_join": (1, ["SortMergeJoin", "SelectedBucketsCount: 8 out of 8", "!BroadcastHashJoin", "!CartesianProduct"]),
    # corpus bigram top-k: ONE agg exchange, then TakeOrdered (no sort
    # exchange for the limit)
    "text_top_bigrams": (1, ["HashAggregate", "TakeOrderedAndProject", "!SortMergeJoin"]),
    # fixed-width histogram: single map-side-combined agg shuffle
    "a4_histogram": (1, ["HashAggregate", "!SortMergeJoin"]),
    # deterministic hash sample: pure scan+filter, no shuffle at all
    "p8_hash_sample": (0, ["!Exchange", "!SortMergeJoin"]),
    # bloom prefilter: all three semi-joins broadcast, never shuffle the fact
    "j_bloom_prefilter": (3, ["BroadcastHashJoin LeftSemi", "!SortMergeJoin", "!CartesianProduct"]),
    # per-shard packing: partitioned window, ONE exchange (the final agg
    # reuses the window's lang hash-partitioning), never a global sort
    "pack_sequences": (1, ["Window", "!SinglePartition"]),
    # sharded training order: one partitioned window, no global sort
    "training_order": (1, ["Window", "row_number()", "!SinglePartition"]),
    # contamination: eval shingle set broadcast, big side never shuffled by sh
    "contamination_ngrams": (5, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # state-merge refresh: two partial aggs + merge agg reusing partitioning
    "incremental_agg_merge": (2, ["Union", "HashAggregate", "!SortMergeJoin"]),
    # CMS sketch: tiny sketch joins broadcast
    "cms_heavy_hitters": (4, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # fixed-point pagerank: rank/out-weight joins broadcast every iteration
    "graph_pagerank": (12, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # rolling WAU: bounded explode fan-out + broadcast day semi-join —
    # never a range self-join of the event stream
    "ts_rolling_distinct": (4, ["Generate", "BroadcastHashJoin LeftSemi", "!SortMergeJoin", "!CartesianProduct"]),
    # MAD: medians broadcast back for pass 2, no fact-side re-shuffle join
    "a10_mad": (3, ["BroadcastHashJoin", "!SortMergeJoin"]),
    # period-over-period: the only unpartitioned window sits above the agg
    "ts_mom_growth": (2, ["Window", "HashAggregate"]),
    # quantized centroid: explode + one grouped agg, no join at all
    "emb_centroid": (1, ["Generate", "HashAggregate", "!BroadcastHashJoin", "!SortMergeJoin"]),
    # incremental dedup gate: the new-batch split must push below the band
    # join into the probe-side parquet scan (hash the delta, probe the index)
    "dedup_incremental_pairs": (4, ["GreaterThanOrEqual(doc_id,400)", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # filtered vector search: metadata predicate prunes the scan BEFORE any
    # vector math; queries broadcast
    "ann_filtered_topk": (2, ["EqualTo(label,3)", "BroadcastNestedLoopJoin", "!SortMergeJoin"]),
    # vocab/OOV: top-100 via TakeOrdered (no global sort), vocab broadcast
    "vocab_oov_rate": (4, ["TakeOrderedAndProject", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # as-of join: union+window merge — two exchanges (union repartition +
    # window), keyed windows, no join operator at all
    "j_asof_join": (2, ["Window", "!CartesianProduct", "!BroadcastNestedLoopJoin", "!SortMergeJoin"]),
    # banded hyperplane LSH near-pairs: bucket equi-join broadcasts, the
    # verify never cross-joins. r19: 2 exchanges — the spread() rebalance of
    # the single-split signature scan (guide §2.5) + the pair-dedup agg; the
    # band join and both payload re-attach joins stay broadcast.
    "dedup_cosine_pairs": (2, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # multi-probe ANN: neighbor-bucket explode (Generate) + bucket join
    "ann_multiprobe_topk": (1, ["BroadcastHashJoin", "Generate", "!CartesianProduct", "!SortMergeJoin"]),
    # hour+day continuous aggregate: ONE exchange for the grouping-sets pass
    "ts_hypertable_rollup": (1, ["HashAggregate", "!SortMergeJoin", "!Exchange hashpartitioning(1)"]),
    # SCD2 effective-dating: one keyed window, never a global sort
    "scd2_build": (1, ["Window", "!SinglePartition", "!SortMergeJoin"]),
    # stratified holdout: per-stratum window, never a global sort
    "stratified_sample": (1, ["Window", "!SinglePartition", "!SortMergeJoin"]),
    # stage-wise funnel mins: broadcast joins only; the SinglePartition
    # exchanges feed one-row funnel totals (scalar altitude)
    "funnel_conversion": (8, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # declarative zipWithIndex: keyed data windows; the only global window
    # ranks the ~#shards offset rows (documented tiny)
    "p11_dense_ids": (3, ["Window", "!SortMergeJoin", "!CartesianProduct"]),
    # equal-frequency binning: decile boundaries are a broadcast one-row
    # nested loop (scalar altitude), the fact side never shuffles for it
    "a13_equifreq_bins": (2, ["!SortMergeJoin", "!CartesianProduct"]),
    # hybrid weighted fusion: term-filtered probe + broadcast join, final
    # top-k is TakeOrdered
    "hybrid_fused_topk": (2, ["TakeOrderedAndProject", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # BM25: inverted-index probe aggregates + broadcast df/stats joins,
    # TakeOrdered final — corpus-size work is the scan + tf/df aggs only
    "bm25_topk": (6, ["TakeOrderedAndProject", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # interval-overlap: week-bucket equi-join with first-shared-bucket
    # dedup — never a cartesian/BNLJ theta join of the two interval sets
    "j_interval_overlap": (4, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # eps-clustering: the neighbor search is a grid-cell equi-join (probe
    # side exploded to its 3x3 neighborhood), NEVER an all-pairs distance
    # join — no cartesian, no BNLJ
    "geo_cluster_eps": (8, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # two-stage retrieval: tiny candidate list broadcasts onto the doc
    # store; the Arrow rerank kernel runs above that join, and the final
    # top-5 is TakeOrdered. (One SortMergeJoin is expected and fine: the
    # RRF full-outer rank join cannot broadcast — Spark has no broadcast
    # full-outer — and both its inputs are pre-truncated to ≤100 rows.)
    "hybrid_rerank_topk": (4, ["MapInPandas", "BroadcastHashJoin", "TakeOrderedAndProject", "!CartesianProduct"]),
    # passage dedup: ONE corpus pass for totals+kept+reassembly (the hot
    # flag rides a single equi-join; collect_list drops the CASE nulls);
    # exchanges = distinct-count pair + the per-doc agg, never a cartesian
    "dedup_corpus_chunks": (3, ["BroadcastHashJoin", "ObjectHashAggregate", "!CartesianProduct", "!SortMergeJoin"]),
    # unigram quality score: token counts broadcast back onto the token
    # stream; two agg exchanges total, no sort-merge anywhere
    "text_rarity_score": (2, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # SQ8 ANN: per-dim codebook collapses to ONE broadcast row (its
    # SinglePartition agg carries 64 rows, never the corpus); corpus scan
    # joins codebook+queries via broadcast BNLJ only, top-k is a
    # WindowGroupLimit — no shuffle of the vector table
    "ann_sq8_topk": (3, ["BroadcastNestedLoopJoin", "WindowGroupLimit", "!CartesianProduct", "!SortMergeJoin"]),
    # PQ ANN: the 8×16×8 codebook collapses to ONE broadcast row;
    # encode + ADC scoring are corpus scans with broadcast joins only —
    # the vector table never shuffles; top-k is a window group limit
    "ann_pq_topk": (3, ["BroadcastNestedLoopJoin", "WindowGroupLimit", "!CartesianProduct", "!SortMergeJoin"]),
    # JDBC via embedded Derby: predicate + projection pushed into the
    # EXTERNAL engine's SQL and a 4-way range-partitioned parallel scan
    "s9_jdbc_roundtrip": (1, ["External engine query:", "PushedFilters: [*IsNotNull(c_mktsegment), *EqualTo(c_mktsegment,BUILDING)]", "numPartitions=4", "!CartesianProduct"]),
    # exact inverse-TM series: pure column arithmetic over Range — zero
    # exchanges, no Python evaluator anywhere in the plan
    "geo_utm_inverse_grid": (0, ["Range", "!Exchange", "!BatchEvalPython", "!ArrowEvalPython"]),
    "geo_utm_forward_grid": (0, ["Range", "!Exchange", "!BatchEvalPython", "!ArrowEvalPython"]),
    # bigram LM score: two count tables broadcast back onto the bigram
    # stream (AQE decides, no forced hint), no sort-merge join
    "text_bigram_fluency": (4, ["HashAggregate", "!CartesianProduct"]),
    # runtime partition pruning: the dim filter must become a
    # dynamicpruningexpression in the FACT scan's PartitionFilters
    "j_dynamic_partition_pruning": (2, ["dynamicpruningexpression", "PartitionFilters", "!CartesianProduct"]),
    # VARIANT path extraction runs JVM-side: one agg exchange, no
    # Python evaluator in the plan
    "f14_variant_extract": (1, ["HashAggregate", "!BatchEvalPython", "!ArrowEvalPython"]),
    # bounded BFS over localCheckpointed edges/frontiers: the final plan
    # is unions of materialized per-round RDDs + one grouped min — the
    # per-round joins already ran; nothing may re-expand here
    "graph_bfs_distance": (1, ["!CartesianProduct", "!SortMergeJoin", "!BroadcastNestedLoopJoin"]),
    # MaxSim late interaction: the 3-row query side broadcasts (BNLJ,
    # never a shuffle of the doc side), all dot/greatest math JVM-side
    # (no Python evaluator), one exchange for the per-query ranking window
    "hybrid_maxsim_topk": (1, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin", "!BatchEvalPython", "!ArrowEvalPython"]),
    # t-digest: the events scan feeds the Arrow sketch kernel ONCE; the
    # tiny centroid/quantile sides broadcast back onto the rank check —
    # no sort-merge join, no cartesian against the big side
    "a19_tdigest_quantile": (6, ["MapInPandas", "FlatMapGroupsInPandas", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # reset-running-sum: three stacked windows must share ONE user_id
    # exchange (HashPartitioning(user_id) satisfies the (user_id,
    # session_seq) clustering of the inner window — no re-shuffle)
    "w12_reset_running_sum": (1, ["Window", "PushedFilters: [IsNotNull(user_id), LessThan(user_id,40)]", "!BatchEvalPython", "!ArrowEvalPython"]),
    # hashing-trick features: no vocabulary join anywhere — just the
    # distinct + groupBy exchanges, everything JVM-side
    "ml_feature_hashing": (2, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin", "!BatchEvalPython", "!ArrowEvalPython"]),
    # 7z extract: one Arrow kernel straight off the binaryFile scan —
    # no shuffle anywhere (the expansion happens inside the kernel)
    "s2_7z_extract": (0, ["MapInPandas", "!Exchange", "!CartesianProduct"]),
    # XML read-back aggregate: ordinary one-exchange groupBy, XML
    # parsing fully JVM-side
    # (SortAggregate: min(string) is sort-based — partials still map-side)
    "s25_xml_roundtrip": (1, ["SortAggregate", "Scan xml", "partial_count", "!BatchEvalPython", "!ArrowEvalPython"]),
    # SQ8 recall eval: both the quantized and the exact arm score via a
    # broadcast BNLJ of the tiny query side (vectors never shuffle) with
    # WindowGroupLimit top-k; the exact-vs-sq8 compare joins two
    # 5-rows-per-query sets (bounded, AQE broadcasts at runtime).
    # (r11: this slot previously held a duplicate "ann_pq_topk" key that
    # silently shadowed the stricter line-~149 pin — see VERDICT r10.)
    "ann_sq8_recall": (10, ["BroadcastNestedLoopJoin", "WindowGroupLimit", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # audio feature kernel: Arrow mapInPandas off the binary scan
    "multimodal_audio_features": (1, ["MapInPandas", "!CartesianProduct", "!SortMergeJoin"]),
    # streaming t-digest monitor (post-stream check plan): centroid
    # merge in one FlatMapGroupsInPandas task, tiny sides broadcast
    "streaming_tdigest": (6, ["FlatMapGroupsInPandas", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # SCD2 temporal lookup: the interval predicate must ride a
    # broadcast equi-join on the dimension key as a residual, never a
    # cartesian/range-explode
    "j_scd2_asof": (4, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # exact weighted quantile: ONE global-ordered window (SinglePartition
    # — the documented exact-semantics cost), one-row total broadcast
    "a22_weighted_quantile": (4, ["Window", "BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # a22's distributed exact twin: both 2-col scans keep the positive-
    # weight filter pushed; the only SinglePartition window runs over the
    # post-agg bucket table; crossing bucket broadcast back (BHJ on b)
    "a22_weighted_quantile_dist": (7, ["Window", "BroadcastHashJoin", "GreaterThan(l_quantity,0.0)", "ReadSchema: struct<l_quantity:double,l_extendedprice:double>", "!CartesianProduct", "!SortMergeJoin", "!BroadcastNestedLoopJoin"]),
    # the two registered LSH scale settings (r17) — same designed shapes
    # as their narrow twins: band equi-joins, never cartesian/SMJ
    "dedup_simhash_pairs_wide": (3, ["Generate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    "dedup_cosine_pairs_scaled": (2, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    "dedup_semantic_components_scaled": (1, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # auto-density LSH (r18): the derived dial changes parameters, not
    # plan shape — same band equi-joins as the fixed-dial twins (the
    # corpus count() that picks the dial runs as its own tiny job
    # before this plan is built, so it never appears here)
    "dedup_cosine_pairs_auto": (2, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    "dedup_semantic_components_auto": (1, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    "dedup_simhash_pairs_auto": (3, ["Generate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # duplication-aware budget dial (r19): the dial's mass measurement
    # runs as its own tiny jobs (like the count() above); the answer
    # plan is the same band equi-join family — explode lanes/bands,
    # grouped votes, never cartesian/SMJ
    "dedup_simhash_pairs_auto2": (3, ["Generate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # areal interpolation: the generated grid broadcasts onto the bbox
    # side — no cartesian, no sort-merge
    "geo_areal_weighted": (3, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # bitmap distinct: bit_or word aggregation map-side combined; the
    # per-priority verify join is broadcast-sized
    "a23_bitmap_distinct": (4, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # out-of-fold encoding: totals re-derived from the fold partials
    # (no second scan), O(#categories) broadcast back
    "ml_target_encoding": (3, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct", "!BatchEvalPython"]),
    # keyless proximity join rewritten onto the time-cell equi-join:
    # the plan must be a HASH join on the cell (shuffle-partitionable),
    # never the cross/BNLJ shape the naive inequality join produces
    "j_range_bucketed": (3, ["BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin", "!SortMergeJoin"]),
    # item-item similarity: pair generation rides the per-order
    # self-join (equi on order key, fan-out = basket size) — never a
    # cross of the item universe
    "graph_item_similarity": (7, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # tile planning: map-only over the raster catalog (explode on the
    # generated zoom axis, no shuffle at all)
    "geo_tile_pyramid": (0, ["Generate", "!Exchange", "!CartesianProduct"]),
    # TF-IDF keywords: no libm log anywhere, per-doc ranking window,
    # one-row N broadcast; token join AQE-decided
    "text_tfidf_topk": (6, ["Window", "BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # segment intersection: roads broadcast onto the edge walk — the
    # non-equi orientation predicate rides a BNLJ, never a cartesian
    "geo_edge_crossings": (4, ["BroadcastNestedLoopJoin", "!CartesianProduct"]),
    # grid KNN: the candidate join is an EQUI join on the cell key —
    # the whole point of the rewrite; no cartesian anywhere even though
    # the brute-force twin rides along for the self-proof
    "geo_knn_grid": (4, ["BroadcastHashJoin", "!CartesianProduct"]),
    # dynamic pivot: Catalyst's two-phase pivot (pre-agg on
    # (source, lang), then PivotFirst) — 2 exchanges, still no join
    "a4_pivot_dynamic": (2, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # inferred members: orphan discovery is an anti-join, placeholders
    # and late rows broadcast back — the fact side shuffles only for
    # the final segment aggregate
    "j_late_arriving_dim": (6, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # drift monitor: ONE scan split by period (no self-join of the
    # table), per-period totals broadcast as one-row sides
    "dq_distribution_drift": (5, ["HashAggregate", "BroadcastNestedLoopJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # OHLC bars: ONE map-side-combinable aggregate (AQE pair), no
    # window, no join — min_by/max_by carry open/close through partials
    # struct-keyed min_by/max_by compile to SortAggregate (not hash-
    # aggregable) — still partial+final with map-side combine, which is
    # the property that matters at scale
    "ts_ohlc_resample": (2, ["SortAggregate", "!SortMergeJoin", "!Window"]),
    # DSIR: bucket λ-table broadcast into the per-doc weight join; the
    # corpus shuffles only by (doc_id, bucket) — never a sort-merge
    "pipeline_dsir_weights": (16, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct", "!BatchEvalPython"]),
    # χ² tokens: doc-label totals are a one-row broadcast; the token
    # table aggregates map-side — no join of corpus-sized sides
    "ml_chi2_tokens": (10, ["BroadcastNestedLoopJoin", "TakeOrderedAndProject", "!SortMergeJoin", "!CartesianProduct"]),
    # CUSUM: per-user stats broadcast back; the recursion is two
    # stacked windows, not an iterative loop
    "ts_cusum_alerts": (6, ["BroadcastHashJoin", "Window", "!SortMergeJoin", "!CartesianProduct"]),
    # token entropy: two map-side-combinable aggregates + TakeOrdered —
    # no join anywhere
    "text_entropy_quality": (2, ["HashAggregate", "TakeOrderedAndProject", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # IVF-PQ: both codebooks broadcast (one row each); the probe is an
    # EQUI join on the cell — never a cartesian of queries × corpus
    "ann_ivfpq_topk": (26, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin", "!BatchEvalPython"]),
    # exact AUC: the ordered window runs over the DISTINCT-SCORE
    # aggregate (post-groupBy), never a global sort of raw orders
    "ml_auc_exact": (4, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # geohash encode is map-only bit math; density is one agg +
    # TakeOrdered — no join, no Python
    "geo_geohash_cells": (2, ["HashAggregate", "TakeOrderedAndProject", "!BatchEvalPython", "!SortMergeJoin"]),
    # sketch-accuracy eval: candidate join UNHINTED (cand is corpus-
    # derived, r07 VERDICT) — Catalyst still picks hash joins from the
    # checkpointed index stats; must never degrade to cartesian/BNLJ
    "dedup_minhash_accuracy": (22, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin", "!BroadcastNestedLoopJoin"]),
    # NDCG: queries broadcast (BNLJ over the candidate scan), rank and
    # ideal windows per query, final 3-row join broadcast
    "ml_ndcg_at10": (8, ["BroadcastNestedLoopJoin", "Window", "!SortMergeJoin", "!CartesianProduct"]),
    # nprobe curve: exact-top10 and probe tables broadcast into the
    # assignment join — the corpus-sized side never shuffles for them
    "ann_nprobe_curve": (22, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # per-dimension stats: posexplode + ONE map-side-combined aggregate
    "emb_dim_stats": (2, ["Generate", "HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # phrase search: postings filtered to the two terms BEFORE the
    # position join — inverted-index probe, both sides tiny
    "text_phrase_search": (6, ["BroadcastHashJoin", "Generate", "!CartesianProduct", "!SortMergeJoin"]),
    # IVM: all four delta-rule joins broadcast the dimension; merge is
    # re-aggregation of mergeable partials
    "ivm_join_delta": (16, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # SHUFFLE_HASH hint: the medium-dim × fact join must compile to a
    # shuffled hash join — no sort pass on either side
    "j_shuffle_hash_hint": (4, ["ShuffledHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # k-NN eval: queries broadcast over the training scan (BNLJ), vote
    # and rank windows per query — no shuffle of the training side by
    # anything but the final per-class aggregate
    "ml_knn_classifier": (8, ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct", "!SortMergeJoin"]),
    # quarantine: one pass + explode + aggregate, reason array built
    # row-side — no join at all
    "dq_quarantine_reasons": (2, ["Generate", "HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # span corruption: position/start join is per-doc equi (+ bounded
    # residual), distinct + aggregates map-side combined
    "pipeline_span_corruption": (14, ["HashAggregate", "!CartesianProduct", "!BatchEvalPython"]),
    # skyline: ONE ordered window over distinct price levels + a
    # broadcast join back — no quadratic domination join
    "a25_skyline_2d": (6, ["Window", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # quadtree: levels aggregate bottom-up (each from the one below),
    # level pick is two broadcast joins of cell-count tables
    "geo_quadtree_cells": (8, ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # association rules: pair fan-out rides the basket equi-join; item
    # supports and the basket total broadcast
    "graph_assoc_rules": (10, ["BroadcastHashJoin", "!CartesianProduct"]),
    # SPC limits: two stacked map-side-combinable aggregates, no join
    "ts_spc_limits": (4, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # seasonal adjustment: weekday profile broadcast back, no SMJ
    "ts_seasonal_adjust": (6, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # WMA: one per-key lag window, zero joins
    "ts_wma": (2, ["Window", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # business days: per-order min-shipdate combined map-side BEFORE
    # the join; orders side broadcastable
    "ts_business_days": (6, ["HashAggregate", "!CartesianProduct"]),
    # ER: soundex blocking key is the join key; dirty feed broadcast;
    # never an all-pairs name comparison
    "er_fuzzy_match": (6, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # perceptual hash: banded equi-join candidates; verify join
    # UNHINTED (cand grows ~N²/512 per band, r07 VERDICT) — planner
    # still picks hash joins at this SF; never cartesian/BNLJ
    "multimodal_ahash_pairs": (10, ["BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython", "!BroadcastNestedLoopJoin"]),
    # incremental components: relabel joins UNHINTED (old-label map is
    # O(edge-incident nodes)); everything stays equi/hash-join shaped
    "graph_incremental_components": (4, ["BroadcastHashJoin", "!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # wide-band multiprobe aHash: probe fan-out is a Generate over the
    # tiny index; candidate + verify joins hash-shaped, never cartesian
    "multimodal_ahash_pairs_wide": (10, ["Generate", "!CartesianProduct", "!BroadcastNestedLoopJoin", "!BatchEvalPython"]),
    # track resampling: targets and segments equi/broadcast, no cart
    "geo_track_resample": (6, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # Bollinger: one trailing window per key, integer compare — no
    # join, no division/sqrt subtree
    "ts_bollinger_breaches": (4, ["Window", "!SortMergeJoin", "!BroadcastHashJoin", "!CartesianProduct"]),
    # drawdown: two stacked running windows share ONE exchange
    "ts_max_drawdown": (2, ["Window", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # apportionment: the ranked allocation table is checkpointed (the
    # window ran inside it, over #sources rows), so the final plan is
    # just the gap broadcast re-joined — two exchanges total
    "corpus_token_apportion": (4, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # Luhn: pure map-side column math + one aggregate, no join
    "f21_luhn_check": (2, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin", "!BatchEvalPython"]),
    # duplicate payments: equi-join on (user, amount bucket) with the
    # time residual — never a cartesian or time-range scan
    "dq_duplicate_payments": (4, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # centroid drift: explode + ONE aggregate + (label,pos) self-join
    # of two 640-row sides
    "emb_centroid_drift": (8, ["Generate", "HashAggregate", "!CartesianProduct"]),
    # dataset card: ONE scan, map-side-combined aggregate, no join
    "pipeline_dataset_card": (4, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # regex funnel: ordered per-user collapse + one final aggregate
    "seq_regex_funnel": (3, ["!SortMergeJoin", "!BroadcastHashJoin", "!CartesianProduct"]),
    # naive forecast: daily totals combined map-side, t-7 self
    # equi-join — no window
    "ts_naive_forecast_mae": (6, ["HashAggregate", "!CartesianProduct", "!Window"]),
    # cell balance: same broadcast-argmin assignment as the IVF build
    "ann_cell_balance": (6, ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct", "!SortMergeJoin"]),
    # SemDeDup: LSH pairs + union-find resolve eagerly (checkpoint/
    # bounded collect); the residual plan is ONE label join back to the
    # vector table — no shuffle at all
    "dedup_semantic_components": (1, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # containment: inverted-index aggregative intersect, hash joins only
    "dedup_containment": (12, ["HashAggregate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # simhash: banded equi-join candidates + Hamming verify, no SMJ
    "dedup_simhash_pairs": (3, ["Generate", "BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # modularity: community self-join of the per-community aggregate
    # (tiny sides) + one total row — never a cartesian
    "graph_modularity": (4, ["HashAggregate", "!CartesianProduct"]),
    # matryoshka: prefix-sliced brute-force tiers (queries broadcast),
    # per-tier rank windows
    "ann_matryoshka_recall": (9, ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct"]),
    # padding waste: pure per-doc column math + map-side-combined aggs
    "pipeline_padding_waste": (4, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # mixture: one aggregate + one tiny window over per-source rows
    "corpus_mixture": (2, ["Window", "HashAggregate", "!SortMergeJoin"]),
    # HLL-class approx distinct: two-level aggregate, no join
    "a5_approx_distinct": (2, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # exact dedup: ONE digest-keyed aggregate shuffle, nothing else
    "dedup_exact": (1, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # P/R/F1: single conditional-aggregate pass over the score table
    "ml_prf1_eval": (1, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # k-anonymity: quasi-identifier groupBy + distribution aggregate
    "dq_k_anonymity": (2, ["HashAggregate", "!SortMergeJoin", "!BroadcastHashJoin"]),
    # ---- r09 additions: the window/join shapes of the r09 driver
    # window that had no structural pin yet ----
    # moving median: ONE keyed window exchange, never a global sort
    "w10_moving_median": (1, ["Window", "!SinglePartition", "!SortMergeJoin"]),
    # bucket-stitched gaps (r09 rewrite): fact window hash-partitioned
    # on the id bucket; the only SinglePartition is the 8192×-reduced
    # bucket summary; boundary stitch is a broadcast-sized join
    "w11_id_gaps": (3, ["Window", "BroadcastHashJoin", "TakeOrderedAndProject", "!SortMergeJoin", "!CartesianProduct"]),
    # growth curve: cumulative window sits ABOVE the period aggregate
    # (post-agg scalar altitude — the SinglePartition is #periods rows)
    "a20_growth_curve": (3, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # cohort LTV: cohort-keyed windows + broadcast dim join, never a
    # global sort or SMJ
    "a21_cohort_ltv": (3, ["Window", "BroadcastHashJoin", "!SinglePartition", "!SortMergeJoin"]),
    # anomaly vs baseline: per-key window over the daily aggregate —
    # keyed partitioning all the way
    "ts_anomaly_vs_baseline": (2, ["Window", "HashAggregate", "!SinglePartition", "!SortMergeJoin"]),
    # marker sequence: ONE per-user window exchange
    "seq_since_marker": (1, ["Window", "!SinglePartition", "!SortMergeJoin"]),
    # grid density: cell aggregate + TakeOrdered, no global sort
    "geo_grid_density": (1, ["HashAggregate", "TakeOrderedAndProject", "!SinglePartition", "!SortMergeJoin"]),
    # per-dim clip: posexplode + per-dim quantile aggregate broadcast
    # back onto the vector stream — fact never re-shuffles for it
    "emb_quantile_clip": (2, ["BroadcastHashJoin", "Generate", "!SinglePartition", "!SortMergeJoin"]),
    # nearest-event as-of: keyed window group limit above a broadcast
    # candidate join — no cartesian time-range scan
    "j_asof_nearest": (1, ["BroadcastHashJoin", "WindowGroupLimit", "!SortMergeJoin", "!CartesianProduct"]),
    # referential integrity: each FK check is a broadcast ANTI join of
    # the fact against the dim — the fact side never shuffles
    "dq_referential_integrity": (3, ["BroadcastHashJoin LeftAnti", "Union", "!SortMergeJoin", "!CartesianProduct"]),
    # ALL-subquery rewrite: per-group max broadcast back (allowlisted
    # bounded side), single agg exchange
    "sub_all_rewrite": (1, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # dedup report composite: every family's candidate/verify join stays
    # hash-shaped; one-row totals ride BNLJ; never a cartesian
    "corpus_dedup_report": (7, ["BroadcastHashJoin", "!CartesianProduct", "!SortMergeJoin"]),
    # per-user trend fit: JVM-side regr_slope (r09 rewrite of the former
    # grouped-map kernel) — ONE user_id exchange feeds both the min()
    # window and the final aggregate; no Python anywhere in the plan
    "g1_trend_fit": (1, ["Window", "regr_slope", "!FlatMapGroupsInPandas", "!ArrowEvalPython", "!BatchEvalPython", "!SortMergeJoin"]),
    # --- r09: pins for the remaining top-cost BATCH queries in the
    # full-registry bench (streaming/catalog composites return post-hoc
    # result frames, so their returned plan is not the shape that runs;
    # they are covered by the pytest streaming/catalog suites instead)
    # pairwise correlation matrix: map-side-combined agg; r20 = 2
    # exchanges BY DESIGN — a keyless RoundRobin spread() parallelizes
    # the decimal partials on every core (the r19 l_returnflag-keyed
    # spread folded into the groupBy exchange but capped the kernel at
    # 3 partitions), then the groupBy's own keyed exchange moves only
    # the 3×N tiny partial rows. Pin the round-robin explicitly so the
    # audit stays sensitive to losing it (r19 ADVICE).
    "a8_corr": (2, ["HashAggregate", "RoundRobinPartitioning", "!SortMergeJoin", "!BroadcastHashJoin", "!CartesianProduct"]),
    # snapshot diff: version scans checksum-compare through a broadcast
    # join of the (bounded) per-partition digest sides — zero exchanges
    "catalog_snapshot_diff": (0, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # corpus prep composite: the one SMJ is corpus×corpus (neither side
    # broadcastable at 100 TB — the correct shape), dims ride BHJ
    "pipeline_corpus_prep": (3, ["SortMergeJoin", "BroadcastHashJoin", "!CartesianProduct"]),
    # triangle listing: multi-branch edge-edge equi-joins; generous
    # exchange cap (composite), but never a cartesian and never Python.
    # r20: the checkpointed edge set carries no stats, so the degree and
    # closure joins are explicitly broadcast (VERDICT item 1) — expect
    # BHJ back in the plan alongside the remaining wedge SMJ.
    "graph_triangles": (60, ["SortMergeJoin", "BroadcastHashJoin", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # learned-codebook IVF + recall eval: centroid/total sides ride
    # bounded BNLJ/BHJ broadcasts; probe joins stay hash-shaped
    "ann_ivf_kmeans": (20, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # PQ recall eval: exact-vs-PQ top-k compare; one-row/codebook sides
    # ride BNLJ, candidate joins keyed — no cartesian, no Python
    "ann_pq_recall": (10, ["BroadcastNestedLoopJoin", "!CartesianProduct", "!BatchEvalPython", "!ArrowEvalPython"]),
    # ---- r10 curation wave: hand-written expectations replacing the
    # ---- machine-derived auto-pins for high-traffic shapes (shapes
    # ---- captured identical at sf0.001 AND sf0.01 before pinning)
    # TPC-H Q3: both dims broadcast, date/segment predicates pushed,
    # top-k via TakeOrdered (no sort exchange for the limit)
    "tpch_q3_shape": (1, ["BroadcastHashJoin", "TakeOrderedAndProject", "GreaterThan(l_shipdate", "EqualTo(c_mktsegment,BUILDING)", "!SortMergeJoin", "!CartesianProduct"]),
    # TPC-H Q5: 4-way star — every dim broadcast, date range pushed
    "tpch_q5_shape": (1, ["BroadcastHashJoin", "GreaterThanOrEqual(o_orderdate", "!SortMergeJoin", "!CartesianProduct"]),
    # range join: equi on user_id carries the range residual as a join
    # condition — BHJ, never a cartesian with a filter on top
    "j_range_join": (1, ["BroadcastHashJoin", "EqualTo(event_type,error)", "!SortMergeJoin", "!CartesianProduct"]),
    # correlated scalar subquery decorrelates to agg + broadcast join
    "sub_correlated_scalar": (1, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # INTERSECT ALL: counted hash agg + Generate replay, one shuffle
    "set_intersect_all": (1, ["HashAggregate", "Generate", "!SortMergeJoin", "!CartesianProduct"]),
    # salted skew join: salt explode (Generate) + broadcast of the
    # replicated dim — the fact is never re-shuffled on the hot key
    "skew_salted_join": (1, ["Generate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # running sum: ONE hash exchange on the partition key, never global
    "w2_running_sum": (1, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # two count-distincts share one Expand (canonical 2-distinct shape)
    "a4_count_distinct": (2, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # brute-force cosine vs one query vector: pure broadcast nested
    # loop, ZERO shuffles — the documented exact baseline
    # (max_exchanges=0 asserts the no-shuffle property; "!Exchange" as a
    # substring would false-positive on the BroadcastExchange node)
    "f17_cosine_all": (0, ["BroadcastNestedLoopJoin", "EqualTo(vec_id,0)", "!CartesianProduct"]),
    # sessionization: one user_id exchange shared by both windows + agg
    "session_stats": (1, ["Window", "HashAggregate", "!SinglePartition", "!CartesianProduct"]),
    # anti join broadcasts the exclusion side
    "j1_anti_join": (0, ["BroadcastHashJoin LeftAnti", "!SortMergeJoin", "!CartesianProduct"]),
    # FULL OUTER cannot broadcast — SMJ with both sides hash-exchanged
    # is the designed shape
    "j1_full_outer": (2, ["SortMergeJoin FullOuter", "!BroadcastHashJoin", "!CartesianProduct"]),
    # MinHash banding: candidate pairs via band-bucket equi-joins
    # (broadcast at test SF), shingle explode bounded by Generate
    "dedup_near_pairs": (4, ["BroadcastHashJoin", "Generate", "!SortMergeJoin", "!CartesianProduct"]),
    # exact n-gram Jaccard: staged shingle index feeds hot/sizes/pair
    # branches — all joins keyed, no all-pairs anywhere. r19: the capped
    # index is materialized once behind an eager localCheckpoint (it fed
    # three branches that each re-ran the explode), so the Generate runs
    # in the checkpointed stage, not in this final plan.
    "dedup_ngram_jaccard": (12, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # SimHash: one agg shuffle builds fingerprints from exploded tokens
    "simhash_fingerprints": (1, ["Generate", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # ---- r10 curation wave 2 (shapes identical at sf0.001 and sf0.01)
    # rollup/cube/grouping-sets all compile to ONE Expand + one shuffle —
    # never one scan per grouping combination
    "a4_rollup": (1, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a4_cube": (1, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a4_grouping_sets": (1, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # static pivot: two agg exchanges (group, then pivot fold), no join
    "a4_pivot": (2, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # IN-subquery plans as a broadcast LEFT SEMI, never a shuffle
    "sub_in": (0, ["BroadcastHashJoin LeftSemi", "!SortMergeJoin", "!CartesianProduct"]),
    # scalar subquery: one agg exchange computes the scalar (its
    # SinglePartition sits ABOVE the aggregate — sweep-shielded)
    "sub_scalar": (1, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "j1_correlated_exists": (0, ["BroadcastHashJoin LeftSemi", "!SortMergeJoin", "!CartesianProduct"]),
    # lateral top-n: partitioned window + broadcast dim joins
    "j_lateral_topn": (2, ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # per-key windows: ONE hash exchange, never a global sort
    "w3_lag_lead": (1, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    "w5_range_frame": (1, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    "w7_gap_fill": (1, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    "ts_ewma": (1, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # 3-tier spatial classify: broadcast polygon join + tier Union
    "geo_classify": (1, ["BroadcastNestedLoopJoin", "Union", "!CartesianProduct"]),
    "geo_classify_bulk": (0, ["BroadcastNestedLoopJoin", "!CartesianProduct"]),
    # four embarrassingly-parallel kernels; the single exchange is the
    # DELIBERATE spread() rebalance of a single-split scan
    "text_stats": (1, ["!SortMergeJoin", "!CartesianProduct"]),
    "text_lang_agg": (1, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # lateral explode is pure Generate — no shuffle at all
    "f15_lateral_explode": (0, ["Generate", "!CartesianProduct"]),
    # pure projection: scan + project, zero exchanges
    "p2_filename_parse": (0, ["!CartesianProduct"]),
    "graph_degree_distribution": (3, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # DQ constraint union: six bounded check branches + anti-join probe
    "dq_constraints": (6, ["Union", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "cohort_retention": (3, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "seq_transitions": (2, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # ---- r10 curation wave 3 (shapes identical at sf0.001 and sf0.01)
    # set ops: UNION dedups with one shuffle; INTERSECT/EXCEPT compile
    # to broadcast semi/anti joins; the ALL variants replay counts via
    # Generate — never a join per duplicate
    "set_union": (1, ["Union", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "set_intersect": (1, ["BroadcastHashJoin LeftSemi", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "set_except": (1, ["BroadcastHashJoin LeftAnti", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "set_except_all": (1, ["Union", "Generate", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # pure column-expression functions: zero exchanges, zero joins
    "f14_json_extract": (0, ["!CartesianProduct"]),
    "f15_array_ops": (0, ["!CartesianProduct"]),
    "f15_map_ops": (0, ["!CartesianProduct"]),
    "p6_type_dispatch": (0, ["!CartesianProduct"]),
    # the deliberate Arrow-kernel twin of f17_cosine_topk: the
    # ArrowEvalPython node IS the point (API-surface showcase)
    "f17_cosine_pandas": (0, ["BroadcastNestedLoopJoin", "ArrowEvalPython", "!CartesianProduct"]),
    # min_by/argmin compiles to an ordered SortAggregate, one exchange
    "a2_argmin_per_group": (1, ["SortAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # collect_list is an ObjectHashAggregate (object buffer), one shuffle
    "a6_collect_sorted": (1, ["ObjectHashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a9_mode": (2, ["Window", "HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a17_hist_median": (3, ["Window", "ObjectHashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "w8_leave_one_out": (1, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    "w9_trailing_array": (1, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # sliding windows replicate each event into its overlapping windows
    # via ONE Expand; tumbling needs NO Expand (one window per event) —
    # an Expand appearing there would mean a silent fan-out regression
    "sliding_window_agg": (1, ["Expand", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "tumbling_window_agg": (1, ["HashAggregate", "!Expand", "!SortMergeJoin", "!CartesianProduct"]),
    # sort+limit: TakeOrderedAndProject, zero exchanges, no global sort
    "s1_sort_limit": (0, ["TakeOrderedAndProject", "!CartesianProduct"]),
    # two-stage salted aggregate: partial on the salted key, final on
    # the real key — exactly two exchanges
    "skew_salted_agg": (2, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "seq_first_last_flow": (2, ["SortAggregate", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "p7_left_join_null_guard": (0, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # RRF fusion: two ranked lists FULL-OUTER merged (SMJ is the designed
    # shape — a broadcast can't do full outer), top-k via TakeOrdered
    "hybrid_rrf_topk": (1, ["Window", "TakeOrderedAndProject", "SortMergeJoin FullOuter", "!CartesianProduct"]),
    "ts_streaks": (2, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "dq_benford": (4, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # ---- r10 curation wave 4 (shapes identical at sf0.001 and sf0.01)
    # recursive CTE (iterative member expansion): each iteration joins
    # broadcast, the final dedup is the single shuffle
    "sql_recursive_cte": (1, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # per-table checksums reduce BEFORE the compare join — the
    # SinglePartition sits above the aggregates (sweep-shielded)
    "table_checksum_diff": (3, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    # nearest-vertex KNN: vertex explode + broadcast candidate join +
    # deterministic argmin (ordered SortAggregate)
    "geo_knn": (1, ["Generate", "BroadcastNestedLoopJoin", "SortAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # z-order interleave is pure bit arithmetic: zero exchanges
    "geo_zorder_key": (0, ["!CartesianProduct"]),
    "geo_bbox_agg": (1, ["Generate", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # IVF probe: centroid assignment rides tiny BNLJ broadcasts, the
    # cell probe is a keyed join — never all-pairs; the one SMJ joins
    # the two ranked lists
    "ann_ivf_topk": (5, ["BroadcastNestedLoopJoin", "Window", "!CartesianProduct"]),
    # hyperplane signatures are pure column expressions over one scan
    "ann_hyperplane_buckets": (0, ["!CartesianProduct"]),
    # components result joins back to docs via broadcast; the contraction
    # itself runs behind a checkpoint barrier (plan shows its read)
    "dedup_components": (0, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "dedup_cluster_sizes": (2, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ml_negative_pairs": (1, ["Generate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "ml_calibration_bins": (2, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_twap": (1, ["Window", "HashAggregate", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # calendar anti-probe: day spine via Generate, missing days via
    # broadcast join — never a per-day scan
    "ts_missing_days": (2, ["Generate", "BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_rank_shift": (4, ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "attribution_last_touch": (3, ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "theta_avoid_prefix": (2, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # CDC compaction: ONE key exchange feeds the latest-version window
    "cdc_upsert_compact": (1, ["Window", "hashpartitioning", "!SortMergeJoin", "!CartesianProduct"]),
    # KMV sketch: k smallest hashes via TakeOrdered, threshold broadcast
    "a5_kmv_distinct": (3, ["TakeOrderedAndProject", "Generate", "!SortMergeJoin", "!CartesianProduct"]),
    # skew/kurtosis from power sums: single-scan single-shuffle
    "a7_moments": (1, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a12_gini": (1, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # hierarchy share-of-parent: every level join broadcast, partial
    # aggs reuse the partitioning (3 exchanges for 3 levels)
    "a16_share_of_parent": (3, ["BroadcastHashJoin", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # percentile_approx carries an ObjectHashAggregate digest buffer
    "a4_percentiles": (1, ["ObjectHashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # unpivot is ONE Expand over the scan — no shuffle, no join
    "a4_unpivot": (0, ["Expand", "!CartesianProduct"]),
    "f19_url_parse": (0, ["!CartesianProduct"]),
    "f20_ip_cidr": (2, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # ---- r10 curation wave 5 (shapes identical at sf0.001 and sf0.01)
    # multimodal decode kernels: the MapInPandas Arrow batch IS the
    # design (binary columns have no JVM expression surface) — zero
    # shuffles around the kernel; scene cuts adds one window exchange
    "multimodal_meta": (0, ["MapInPandas", "!CartesianProduct"]),
    "multimodal_resize": (0, ["MapInPandas", "!CartesianProduct"]),
    "multimodal_frames": (0, ["MapInPandas", "!CartesianProduct"]),
    "multimodal_scene_cuts": (1, ["MapInPandas", "Window", "hashpartitioning", "!CartesianProduct"]),
    # DQ checks: per-shard aggregates reduce before the scalar compare
    # (their SinglePartition sits above the aggregate — sweep-shielded)
    "dq_freshness_sla": (4, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "dq_shard_balance": (2, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # contract diff: bounded by schema width, the one exchange is the
    # deterministic output ordering of a tiny violation table
    "dq_schema_contract": (1, ["!SortMergeJoin", "!CartesianProduct"]),
    "emb_outlier_zscore": (2, ["Generate", "BroadcastHashJoin", "TakeOrderedAndProject", "!SortMergeJoin", "!CartesianProduct"]),
    # geospatial math is pure column expressions (ring explode only)
    "geo_affine_extent": (0, ["Generate", "!CartesianProduct"]),
    "geo_reproject_centroid": (0, ["!CartesianProduct"]),
    "geo_ring_areas": (0, ["Generate", "!CartesianProduct"]),
    "geo_snap_simplify": (0, ["Generate", "!CartesianProduct"]),
    # scalar max: one agg exchange (SinglePartition above the aggregate)
    "a1_max_id": (1, ["HashAggregate", "!CartesianProduct"]),
    "a3_first_seen_dedup": (1, ["HashAggregate", "hashpartitioning", "!CartesianProduct"]),
    "a6_string_agg": (1, ["ObjectHashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "a11_winsorized_mean": (2, ["ObjectHashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a14_minmax_scale": (1, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a15_abc_classify": (2, ["Window", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a18_outlier_zscore": (2, ["HashAggregate", "BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct"]),
    "a24_seq_motifs": (2, ["Window", "TakeOrderedAndProject", "!SortMergeJoin", "!CartesianProduct"]),
    "ab_test_zscore": (1, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # deterministic splits/samples/caps: hash or window over ONE exchange
    "p9_weighted_sample": (1, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "p10_train_val_test": (1, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "p12_per_source_cap": (1, ["Window", "hashpartitioning", "!SinglePartition", "!CartesianProduct"]),
    # custom Python DataSource: the scan feeds a normal one-shuffle agg
    "s1_python_datasource": (1, ["HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    # ---- curation wave 6 (r13): 24 auto-pins promoted to hand audits.
    # Expectations read off the captured formatted plans at BOTH sf0.001
    # and sf0.01 (identical shapes). The projection/scalar-function/text
    # families are narrow-scan + Project ONLY: zero exchanges of any
    # kind ("!Exchange" also bans BroadcastExchange — safe here, there
    # is no join) and the exact pruned ReadSchema, so a regression that
    # widens the scan or sneaks in a shuffle/Python eval node fails.
    "p3_composite_key": (0, ["!Exchange", "ReadSchema: struct<c_custkey:bigint,c_nationkey:int,c_mktsegment:string>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "p4_path_parse": (0, ["!Exchange", "ReadSchema: struct<doc_id:bigint,source:string>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "f_string_scalars": (0, ["!Exchange", "ReadSchema: struct<doc_id:bigint,text:string>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "f_string_pack2": (0, ["!Exchange", "ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "f_array_pack2": (0, ["!Exchange", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>", "!BatchEvalPython", "!ArrowEvalPython"]),
    "f_conditionals": (0, ["!Exchange", "ReadSchema: struct<event_id:bigint,event_type:string,value:double>", "!BatchEvalPython", "!ArrowEvalPython"]),
    # date arithmetic: the o_orderkey range predicate must reach the scan
    "f_date_arith": (0, ["!Exchange", "PushedFilters: [IsNotNull(o_orderkey), LessThan(o_orderkey,200)", "ReadSchema: struct<o_orderkey:bigint,o_orderdate:timestamp>"]),
    # date-part rollup: one agg shuffle over a 2-column pruned scan
    "f_date_parts": (1, ["HashAggregate", "ReadSchema: struct<o_totalprice:double,o_orderdate:timestamp>", "!SortMergeJoin", "!CartesianProduct"]),
    # array/map higher-order functions: pure column expressions, doc_id
    # slice predicates pushed to the scan; explode_outer keeps Generate
    "f15_array_setops": (0, ["!Exchange", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)"]),
    "f15_explode_outer": (0, ["Generate", "!Exchange", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,40)"]),
    "f15_map_transform": (0, ["!Exchange", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)", "ReadSchema: struct<doc_id:bigint,lang:string,source:string>"]),
    # text kernels are JVM column expressions — NO Python eval node and
    # no shuffle; the scan reads only the columns the kernel consumes
    "text_bpe_tokens": (0, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "text_pii_scrub": (0, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "text_quality_filter": (0, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "text_repetition": (0, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "text_edit_distance": (0, ["!Exchange", "!BatchEvalPython", "!ArrowEvalPython", "ReadSchema: struct<doc_id:bigint,text:string,lang:string,source:string>"]),
    # JSON feature scan: schema-on-read multiLine source, no shuffle
    "s6_features_json": (0, ["!Exchange", "ReadSchema: struct<id_predio:string"]),
    # binary decode kernels: exactly ONE Arrow MapInPandas stage directly
    # over the binaryFile scan — no shuffle before or after the kernel
    "s7_exif_gps_scan": (0, ["MapInPandas", "!Exchange", "ReadSchema: struct<path:string,length:bigint,content:binary>"]),
    "s8_geotiff_meta_scan": (0, ["MapInPandas", "!Exchange", "ReadSchema: struct<path:string,length:bigint,content:binary>"]),
    "s2_archive_extract": (0, ["MapInPandas", "!Exchange", "ReadSchema: struct<path:string,content:binary>"]),
    # content-addressed keys / merged-schema read: projection-only
    "s12_content_key": (0, ["!Exchange", "ReadSchema: struct<doc_id:bigint,text:string>"]),
    "s18_schema_evolution": (0, ["!Exchange", "ReadSchema: struct<doc_id:bigint,lang:string,score:double>"]),
    # GROUPING SETS: one Expand feeding a single agg shuffle over a
    # 2-column pruned scan
    "a4_grouping_id": (1, ["Expand", "HashAggregate", "ReadSchema: struct<l_returnflag:string,l_linestatus:string>", "!SortMergeJoin", "!CartesianProduct"]),
    # null-safe equality join: broadcast (1-col pruned dims), never SMJ;
    # budget 2 = the post-join agg + AQE final shuffle
    "j1_null_safe_join": (2, ["BroadcastHashJoin", "!SortMergeJoin", "!CartesianProduct", "ReadSchema: struct<c_nationkey:int>", "ReadSchema: struct<s_nationkey:int>"]),
    # ---- curation wave 7 (r13): the final 37 auto-pins promoted, read
    # off the captured plans at BOTH sf0.001 and sf0.01 (identical
    # shapes). Every registered query has a hand-written audit here or
    # an entry in EXCLUDED below.
    #
    # recall eval: per-query ground truth is the bounded brute-force BNLJ
    # (20 probe vectors broadcast), candidates via WindowGroupLimit top-k;
    # the vec_id probe list must push into the embeddings scan
    "ann_recall_eval": (8, ["WindowGroupLimit", "BroadcastNestedLoopJoin", "PushedFilters: [IsNotNull(embedding), In(vec_id", "ReadSchema: struct<vec_id:bigint,embedding:array<float>>", "!CartesianProduct"]),
    # catalog joins: both dim sides broadcast, ZERO shuffle exchanges;
    # all three predicate sets pushed into their parquet scans
    "catalog_roundtrip": (0, ["BroadcastHashJoin", "PushedFilters: [IsNotNull(id_proceso), EqualTo(id_proceso,0)", "ReadSchema: struct<id_ejecucion:bigint,id_proceso:int>", "!SortMergeJoin", "!CartesianProduct"]),
    # snapshot-expire / MMR: the heavy machinery runs inside the query fn
    # (COW snapshot build, iterative MMR selection over a checkpointed
    # candidate set); the RETURNED plan must stay shuffle- and join-free
    "catalog_snapshot_expire": (0, ["!Exchange", "!CartesianProduct"]),
    "hybrid_mmr_topk": (0, ["!Exchange", "!CartesianProduct"]),
    "catalog_wap_publish": (1, ["!CartesianProduct", "!BroadcastNestedLoopJoin"]),
    # temperature mixture: source-level aggs (1-col scan) + the bounded
    # 10-row weight table via BNLJ cross of two scalar subquery results
    "corpus_mixture_temperature": (4, ["HashAggregate", "ReadSchema: struct<source:string>", "!CartesianProduct", "!SortMergeJoin"]),
    "f14_json_hetero": (1, ["HashAggregate", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,300)", "!SortMergeJoin", "!CartesianProduct"]),
    # the UDTF surface: exactly one BatchEvalPythonUDTF over a pushed
    # doc_id slice, no shuffle
    "f18_python_udtf": (0, ["BatchEvalPythonUDTF", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,30)", "!Exchange"]),
    "f_binary_codecs": (0, ["!Exchange", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,50)", "!BatchEvalPython", "!ArrowEvalPython"]),
    # cogroup merge: custkey slice pushed into BOTH sides (the r09 fix),
    # two co-partitioned exchanges feed the Arrow cogroup kernel
    "g2_cogroup_merge": (2, ["FlatMapCoGroupsInPandas", "PushedFilters: [IsNotNull(c_custkey), LessThan(c_custkey,200)", "PushedFilters: [IsNotNull(o_custkey), LessThan(o_custkey,200)", "!SortMergeJoin", "!CartesianProduct"]),
    # nearest edge: vertex explode (Generate), bounded polygon-dim BNLJ,
    # per-point WindowGroupLimit argmin — one exchange for the window key
    "geo_nearest_edge": (1, ["Generate", "WindowGroupLimit", "BroadcastNestedLoopJoin", "!CartesianProduct"]),
    # co-purchase graph: 2-col lineitem scan, pair-count aggs, part dim
    # broadcast — the fact side never broadcast
    "graph_copurchase": (3, ["HashAggregate", "BroadcastHashJoin", "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    "j_mark_join_flags": (3, ["BroadcastHashJoin", "ReadSchema: struct<c_custkey:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    "ml_lift_table": (4, ["HashAggregate", "Window", "ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string>", "!CartesianProduct", "!SortMergeJoin"]),
    "p13_path_rollup": (1, ["Generate", "HashAggregate", "ReadSchema: struct<lang:string,source:string,n_chars:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    # the reference's own job end-to-end: binaryFile scan → EXIF/GeoTIFF
    # Arrow decode kernels → broadcast polygon BNLJ classify → rollup
    "pipeline_geo_ingest": (2, ["MapInPandas", "BroadcastNestedLoopJoin", "ReadSchema: struct<path:string,length:bigint,content:binary>", "!CartesianProduct", "!SortMergeJoin"]),
    # sink roundtrips: read-back feeds ONE map-side-combined agg shuffle
    # over a pruned scan of the written files
    "s11_csv_roundtrip": (1, ["HashAggregate", "ReadSchema: struct<event_type:string,value:double>", "!SortMergeJoin", "!CartesianProduct"]),
    "s16_partitioned_publish": (1, ["HashAggregate", "ReadSchema: struct<source:string,n_chars:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    "s17_compaction": (1, ["HashAggregate", "ReadSchema: struct<lang:string,n_chars:bigint>", "!SortMergeJoin", "!CartesianProduct"]),
    "s19_orc_roundtrip": (1, ["HashAggregate", "ReadSchema: struct<o_totalprice:double,o_orderpriority:string>", "!SortMergeJoin", "!CartesianProduct"]),
    "s20_jsonl_roundtrip": (1, ["HashAggregate", "ReadSchema: struct<c_mktsegment:string,c_acctbal:double>", "!SortMergeJoin", "!CartesianProduct"]),
    "s21_targeted_delete": (2, ["HashAggregate", "ReadSchema: struct<user_id:bigint,event_type:string>", "!SortMergeJoin", "!CartesianProduct"]),
    # orphan sweep: path-set anti semantics via broadcast joins over
    # 1-col projections; never a shuffled join of the listing
    "s22_orphan_files": (2, ["BroadcastHashJoin", "ReadSchema: struct<path:string>", "!SortMergeJoin", "!CartesianProduct"]),
    # ANALYZE-style stats: one union of per-table agg branches, each its
    # own pruned scan + single shuffle (8 total), no joins at all
    "s23_analyze_stats": (8, ["Union", "HashAggregate", "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>", "!SortMergeJoin", "!BroadcastHashJoin", "!CartesianProduct"]),
    "s24_blob_chunking": (0, ["Generate", "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,100)", "!Exchange"]),
    "s26_dynamic_overwrite": (1, ["HashAggregate", "ReadSchema: struct<o_totalprice:double>", "!SortMergeJoin", "!CartesianProduct"]),
    # bad-records / corrupt-JSON reads: the parsed+cached fixture scans
    # from memory (InMemoryTableScan — Spark requires caching for
    # _corrupt_record queries), then one agg shuffle
    "s27_csv_badrecords": (1, ["InMemoryTableScan", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "s6_features_corrupt": (1, ["InMemoryTableScan", "HashAggregate", "ReadSchema: struct<id_predio:string", "!SortMergeJoin", "!CartesianProduct"]),
    "s28_column_rename_evolution": (1, ["Union", "HashAggregate", "ReadSchema: struct<o_orderstatus:string,amount:double>", "ReadSchema: struct<o_orderstatus:string,price:double>", "!SortMergeJoin", "!CartesianProduct"]),
    # RAKE keyphrases: phrase Generate chains, per-doc windows, stopword
    # dim broadcast, final global top-k as TakeOrdered (no sort exchange)
    "text_keyphrase_rake": (6, ["Generate", "Window", "BroadcastHashJoin", "TakeOrderedAndProject", "PushedFilters: [IsNotNull(doc_id)", "!SortMergeJoin", "!CartesianProduct"]),
    "text_winnowing_fp": (1, ["Generate", "ReadSchema: struct<doc_id:bigint,text:string>", "!SortMergeJoin", "!CartesianProduct"]),
    # time-series: per-user/key window + agg over pruned event scans
    "ts_autocorrelation": (2, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_interval_coverage": (1, ["Window", "HashAggregate", "PushedFilters: [IsNotNull(user_id), LessThan(user_id,100)", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_local_peaks": (2, ["Window", "HashAggregate", "!SortMergeJoin", "!CartesianProduct"]),
    "ts_resample_interp": (2, ["Window", "Generate", "Union", "PushedFilters: [IsNotNull(user_id), LessThan(user_id,50)", "!SortMergeJoin", "!CartesianProduct"]),
    "w4_rank_funcs": (1, ["Window", "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint,o_totalprice:double>", "!SortMergeJoin", "!CartesianProduct"]),
    "w6_distribution_funcs": (1, ["Window", "ReadSchema: struct<c_custkey:bigint,c_nationkey:int,c_acctbal:double>", "!SortMergeJoin", "!CartesianProduct"]),
}

# Queries with no audit: each runs its micro-batches inside the query fn
# and returns a sink read-back, so there is no designed plan to assert;
# the streaming tests pin their shapes.
EXCLUDED = frozenset(
    {
        "streaming_append_windows",
        "streaming_cdc_apply",
        "streaming_dedup",
        "streaming_foreachbatch_merge",
        "streaming_session",
        "streaming_sliding",
        "streaming_stateful_totals",
        "streaming_static_join",
        "streaming_stream_join",
        "streaming_topk",
        "streaming_tumbling",
    }
)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    unknown = only - set(AUDITS)
    if unknown:
        print(f"unknown audit names on argv: {' '.join(sorted(unknown))}",
              file=sys.stderr)
        return 2
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    failures = 0
    audited = 0
    for name, (max_ex, expects) in AUDITS.items():
        if only and name not in only:
            continue
        audited += 1
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        # count Exchange operator nodes in the operator list section
        op_ids = re.findall(r"\(\d+\) (\w+)", plan)
        n_exchange = sum(1 for o in op_ids if o == "Exchange")
        probs = []
        if n_exchange > max_ex:
            probs.append(f"exchanges={n_exchange} > allowed {max_ex}")
        for e in expects:
            if e.startswith("!"):
                if e[1:] in plan:
                    probs.append(f"unexpected: {e[1:]}")
            elif e not in plan:
                probs.append(f"missing: {e}")
        ops = " ".join(
            f"{o}×{op_ids.count(o)}"
            for o in sorted(set(op_ids))
            if o in ("Exchange", "BroadcastHashJoin", "SortMergeJoin", "HashAggregate",
                     "Window", "BroadcastNestedLoopJoin", "CartesianProduct", "Scan")
        )
        if probs:
            failures += 1
            print(f"AUDIT-FAIL {name}: {'; '.join(probs)}  [{ops}]")
        else:
            print(f"audit-ok  {name}  [{ops}]")
    print(f"\n{audited - failures} ok, {failures} fail")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
