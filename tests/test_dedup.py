"""operators.dedup — exact, MinHash-LSH, SimHash (SURVEY A3/A5)."""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.operators.dedup import (
    NUM_HASHES,
    band_pairs,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash_table,
    with_minhash,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup_keeps_min_id(spark):
    df = _docs(spark, [(3, "same text"), (1, "same text"), (2, "other")])
    out = {r["doc_id"]: r["n_copies"] for r in exact_dedup(df).collect()}
    assert out == {1: 2, 2: 1}  # representative is the smallest id


def test_exact_dedup_idempotent(spark):
    df = _docs(spark, [(1, "a"), (2, "a"), (3, "b")])
    once = exact_dedup(df)
    twice = exact_dedup(once.select(F.col("doc_id"), F.col("digest").alias("text")))
    assert twice.count() == once.count()


def _py_shingles(text, k=3):
    if text is None:
        return []
    toks = text.lower().split()
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


def _py_minhash(sh, num_hashes):
    """md5 replica of the MinHash signature: one base hash per shingle,
    per-seed affine mins over its 30-bit halves."""
    from datalake_imagenes_georreferenciadas_spark.operators.dedup import (
        _MINHASH_MOD,
        _minhash_coeffs,
    )

    base = [int(hashlib.md5(f"0:{g}".encode()).hexdigest()[:15], 16) for g in sh]
    return [
        min((a * (h % 2**30) + b * (h >> 30) + c) % _MINHASH_MOD for h in base)
        for a, b, c in _minhash_coeffs(num_hashes)
    ]


def test_minhash_signature_matches_naive(spark):
    text = "the quick brown fox jumps over the lazy dog"
    df = _docs(spark, [(1, text)])
    sig = minhash_signatures(df, keep_shingles=True).collect()[0]["__sig"]
    assert sig == _py_minhash(_py_shingles(text), NUM_HASHES)


def test_minhash_short_doc_null_sig(spark):
    df = _docs(spark, [(1, "too short")])  # < 3 tokens → no shingles
    row = minhash_signatures(df, keep_shingles=True).collect()[0]
    assert row["__sig"] is None
    bands = with_minhash(df, keep_shingles=True).collect()[0]["__bands"]
    assert bands is None


def test_identical_docs_are_near_pairs(spark):
    t = "uno dos tres cuatro cinco seis siete ocho"
    df = _docs(spark, [(1, t), (2, t), (3, "totally different words here entirely now")])
    pairs = minhash_lsh_pairs(df, jaccard_threshold=0.9).collect()
    assert len(pairs) == 1
    assert (pairs[0]["a_id"], pairs[0]["b_id"], pairs[0]["jaccard"]) == (1, 2, 1.0)


def test_near_pairs_orders_ids(spark):
    t = "uno dos tres cuatro cinco"
    df = _docs(spark, [(9, t), (4, t)])
    p = minhash_lsh_pairs(df, jaccard_threshold=0.5).collect()[0]
    assert p["a_id"] < p["b_id"]


def test_simhash_identical_equal_distinct_differ(spark):
    df = _docs(
        spark,
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "epsilon zeta eta theta iota kappa"),
        ],
    )
    fps = {r["doc_id"]: r["fp"] for r in simhash_table(df, 32).collect()}
    assert fps[1] == fps[2]
    assert fps[1] != fps[3]
    assert all(0 <= v < 2**32 for v in fps.values())


def test_simhash_empty_text_is_zero(spark):
    df = _docs(spark, [(1, "")])
    assert simhash_table(df, 32).collect()[0]["fp"] == 0


def test_ngram_jaccard_hot_shingle_cap(spark):
    """VERDICT r1 #5: a stop-phrase shingle shared by every doc must not
    pair the whole corpus. With the cap at 3 the universal shingle drops
    out of the index; only the genuinely-similar pair (same unique tail)
    survives."""
    from datalake_imagenes_georreferenciadas_spark.operators.dedup import ngram_jaccard_pairs

    stop = "lorem ipsum dolor"  # one 3-shingle shared by ALL docs
    rows = [(i, f"{stop} unique{i} tail{i} end{i}") for i in range(8)]
    rows += [(100, f"{stop} same same same"), (101, f"{stop} same same same")]
    df = _docs(spark, rows)

    uncapped = ngram_jaccard_pairs(df, max_doc_freq=None).collect()
    capped = ngram_jaccard_pairs(df, max_doc_freq=3).collect()
    # uncapped: every pair shares the stop shingle (jaccard 1/7 or more)
    # → C(10,2)=45 pairs
    assert len(uncapped) == 45
    # capped: only the true near-dup pair survives, at full similarity
    assert len(capped) == 1
    got = capped[0]
    assert (got["a_id"], got["b_id"], got["jaccard"]) == (100, 101, 1.0)


def test_ngram_jaccard_cap_keeps_moderate_shingles(spark):
    """Shingles at or below the cap stay: df == cap is NOT dropped."""
    from datalake_imagenes_georreferenciadas_spark.operators.dedup import ngram_jaccard_pairs

    rows = [(1, "a b c x y z"), (2, "a b c p q r")]  # share shingle 'a b c', df=2
    out = ngram_jaccard_pairs(_docs(spark, rows), max_doc_freq=2).collect()
    assert len(out) == 1 and out[0]["jaccard"] == round(1 / 7, 6)


#: a chain: 1~2 and 2~3 band-collide under the md5 hash family at
#: jaccard 0.5, while 1 and 3 share no band (checked against the
#: pure-Python replica below) — so 1 and 3 connect ONLY through 2
_CHAIN = [
    (1, "nu tau pi delta epsilon omicron rho sigma alpha psi xi ups mu gamma"),
    (2, "nu tau pi delta epsilon omicron rho sigma alpha psi kappa lam omega beta"),
    (3, "iota theta eta phi epsilon omicron rho sigma alpha psi kappa lam omega beta"),
    (9, "totally unrelated words only here now"),
]


def test_dedup_components_transitive_closure(spark):
    """A~B and B~C near-dup (but A and C share less) must land in ONE
    component labelled by the min id — the transitive step pairwise
    output can't express."""
    from datalake_imagenes_georreferenciadas_spark.operators.dedup import dedup_components

    rows = _CHAIN
    assert set(_py_lsh_pairs(rows, 0.1)) == {(1, 2), (2, 3)}
    out = {r["doc_id"]: r["component"] for r in dedup_components(_docs(spark, rows)).collect()}
    assert out[1] == out[2] == out[3] == 1  # one cluster, min-id label
    assert out[9] == 9  # isolated doc is its own component


def test_dedup_components_paths_agree(spark):
    """The driver-side union-find (small graphs) and the distributed
    label-propagation loop (forced via small_graph_threshold=0) must
    produce identical components."""
    from datalake_imagenes_georreferenciadas_spark.operators.dedup import dedup_components

    small = {
        r["doc_id"]: r["component"] for r in dedup_components(_docs(spark, _CHAIN)).collect()
    }
    dist = {
        r["doc_id"]: r["component"]
        for r in dedup_components(_docs(spark, _CHAIN), small_graph_threshold=0).collect()
    }
    assert small == dist == {1: 1, 2: 1, 3: 1, 9: 9}


def test_incremental_pairs_skip_corpus_internal(spark):
    """new_from: corpus-internal pairs (both ids below the split) are never
    generated; cross-boundary and new-new pairs match the full run."""
    t1 = "uno dos tres cuatro cinco seis siete ocho"
    t2 = "alpha beta gamma delta epsilon zeta eta theta"
    df = _docs(
        spark,
        [
            (1, t1),  # corpus
            (2, t1),  # corpus dup of 1 — must NOT pair incrementally
            (10, t1),  # new dup of the corpus — cross pair
            (11, t2),  # new
            (12, t2),  # new dup of new — new-new pair
        ],
    )
    full = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.9).collect()
    }
    incr = {
        (r["a_id"], r["b_id"])
        for r in minhash_lsh_pairs(df, jaccard_threshold=0.9, new_from=10).collect()
    }
    assert (1, 2) in full and (1, 2) not in incr  # corpus-internal suppressed
    assert incr == {p for p in full if p[1] >= 10}  # everything else identical
    assert {(1, 10), (2, 10), (11, 12)} <= incr


def _py_components(edges):
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def test_components_from_edges_random_graphs_both_paths(spark):
    """components_from_edges: the driver union-find path and the
    distributed min-label-propagation path must both match a reference
    union-find on seeded random graphs (chains, cliques, isolates mix)."""
    import random

    from datalake_imagenes_georreferenciadas_spark.operators.dedup import components_from_edges

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        nodes = list(range(60))
        edges = [tuple(sorted(rng.sample(nodes, 2))) for _ in range(45)]
        expect = _py_components(edges)
        edf = spark.createDataFrame(edges, "src long, dst long")
        for threshold in (10**6, 0):  # driver path, then distributed path
            got = {
                r["id"]: r["component"]
                for r in components_from_edges(
                    edf, small_graph_threshold=threshold
                ).collect()
            }
            assert got == expect, f"seed={seed} threshold={threshold}"


def test_components_threshold_boundary_and_default(spark):
    """VERDICT r4 #5: default threshold lowered 1M -> 250k for driver
    headroom, and the distributed path must actually activate the moment
    the edge count exceeds the threshold — equivalence parameterized
    ACROSS the boundary (threshold == n_edges takes the driver path,
    n_edges - 1 forces label propagation), identical results on both
    sides."""
    import inspect

    from datalake_imagenes_georreferenciadas_spark.operators.dedup import components_from_edges

    sig = inspect.signature(components_from_edges)
    assert sig.parameters["small_graph_threshold"].default == 250_000

    edges = [(i, i + 1) for i in range(40)]  # one 41-node chain
    expect = _py_components(edges)
    edf = spark.createDataFrame(edges, "src long, dst long")
    n = len(edges)
    results = {}
    for threshold in (n, n - 1):  # <= n: driver union-find; below: distributed
        out = components_from_edges(edf, small_graph_threshold=threshold)
        plan = out._jdf.queryExecution().analyzed().toString()
        if threshold >= n:
            # driver union-find output is an exact-sized LocalRelation
            # (no hint: its stats decide the caller's join-back) — the
            # relation marks the path taken
            assert "LocalRelation" in plan, plan
        else:
            # distributed path returns the checkpointed label table
            assert "LocalRelation" not in plan, plan
        results[threshold] = {
            r["id"]: r["component"] for r in out.collect()
        }
    assert results[n] == results[n - 1] == expect


def test_components_distributed_path_converges_on_a_long_chain(spark):
    """The label-propagation path runs until the label sum stops falling,
    however long that takes: a 41-node chain (diameter 40) through the
    distributed path must label every node 0, as union-find does. A
    fixed round cap of 20 left 20 of the 41 nodes in wrong components."""
    from datalake_imagenes_georreferenciadas_spark.operators.dedup import components_from_edges

    edges = [(i, i + 1) for i in range(40)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["id"]: r["component"]
        for r in components_from_edges(edf, small_graph_threshold=0).collect()
    }
    assert got == _py_components(edges)


def test_containment_catches_subset_that_jaccard_misses(spark):
    from datalake_imagenes_georreferenciadas_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    # doc 2 is a verbatim excerpt of the much longer doc 1; doc 3 is
    # unrelated. Jaccard(1,2) is small (|A| >> |B|) but containment of
    # the excerpt in its source is ~1.
    long_doc = " ".join(f"w{i}" for i in range(200))
    excerpt = " ".join(f"w{i}" for i in range(40, 60))
    other = " ".join(f"x{i}" for i in range(50))
    df = spark.createDataFrame(
        [(1, long_doc), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    cont = {
        (r["a_id"], r["b_id"]): (r["cont_a"], r["cont_b"])
        for r in containment_pairs(df, threshold=0.8, max_doc_freq=None).collect()
    }
    assert (1, 2) in cont and len(cont) == 1
    ca, cb = cont[(1, 2)]
    # the excerpt (b, smaller) is fully contained; the source is not
    assert cb == 1.0 and ca < 0.2
    # symmetric Jaccard (18/198 < 0.1) finds nothing
    assert ngram_jaccard_pairs(df, max_doc_freq=None).count() == 0


def test_simhash_pairs_parameter_validation(spark):
    """simhash_pairs enforces the pigeonhole precondition (bands >
    MAX_HAMMING), divisibility, and the 63-bit BIGINT-lane cap."""
    import pytest

    from datalake_imagenes_georreferenciadas_spark.operators import dedup as D

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        D.simhash_pairs(df, num_bits=24, band_bits=8)  # 3 bands !> 3
    with pytest.raises(ValueError):
        D.simhash_pairs(df, num_bits=32, band_bits=7)  # not divisible
    with pytest.raises(ValueError):
        D.simhash_pairs(df, num_bits=64, band_bits=16)  # sign-bit lane


def test_simhash_pairs_widened_bands_subset_of_registered(spark):
    """Band widening NARROWS the hamming bar (60-bit fp, same <=3):
    every 60/15 pair must also be a 32/8 pair-candidate's doc pair at
    some hamming — and on a corpus with exact duplicates, the widened
    setting still finds them (hamming 0 survives any band width)."""
    from datalake_imagenes_georreferenciadas_spark.operators import dedup as D

    rows = [(i, f"alpha beta gamma delta epsilon zeta {i % 5}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wide = {
        (r["a_id"], r["b_id"])
        for r in D.simhash_pairs(df, num_bits=60, band_bits=15).collect()
    }
    # identical texts (same i%5 bucket of 8 docs) → hamming 0 → found
    assert all((a % 5) == (b % 5) for a, b in wide)
    expected_dups = {(a, b) for a in range(40) for b in range(a + 1, 40) if a % 5 == b % 5}
    assert expected_dups <= wide


#: repeated shingles (array_distinct matters), a doc shorter than k,
#: NULL texts, identical texts and one-word variants
_LSH_CORPUS = [
    (1, "a b c a b c a b c d"),
    (2, "a b c a b c d"),
    (3, "too short"),
    (4, "too short"),
    (5, None),
    (6, None),
    (7, "uno dos tres cuatro cinco seis siete ocho nueve diez"),
    (8, "uno dos tres cuatro cinco seis siete ocho nueve diez"),
    (9, "uno dos tres cuatro cinco seis siete ocho nueve once"),
    (10, "cero dos tres cuatro cinco seis siete ocho nueve diez"),
    (11, "uno dos tres cuatro cinco seis siete ocho nueve diez"),
    (12, "a b c a b c a b c d e"),
    (13, "totally unrelated words only here now"),
]


def _py_lsh_pairs(rows, threshold, num_hashes=16, bands=4, new_from=None):
    """Pure-Python MinHash-LSH pairs: md5 band keys → candidates sharing a
    band → exact Jaccard of the distinct shingle sets, rounded half-up."""
    from decimal import ROUND_HALF_UP, Decimal

    rpb = num_hashes // bands
    sets, keys = {}, {}
    for i, text in rows:
        sh = _py_shingles(text)
        sets[i] = set(sh)
        if sh:
            sig = _py_minhash(sh, num_hashes)
            keys[i] = {
                hashlib.md5(
                    f"{b}|{','.join(map(str, sig[b * rpb : (b + 1) * rpb]))}".encode()
                ).hexdigest()
                for b in range(bands)
            }
    out = {}
    for a in keys:
        for b in keys:
            if a < b and keys[a] & keys[b] and (new_from is None or b >= new_from):
                inter = len(sets[a] & sets[b])
                j = inter / max(len(sets[a]) + len(sets[b]) - inter, 1.0)
                j = float(Decimal(repr(j)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
                if j >= threshold:
                    out[(a, b)] = j
    return out


def test_lsh_pairs_match_python_exact_jaccard(spark):
    """minhash_lsh_pairs == a pure-Python exact Jaccard over the same LSH
    candidates, full and incremental, on a corpus with repeated
    shingles, short docs, NULL texts and identical texts."""
    df = spark.createDataFrame(_LSH_CORPUS, "doc_id long, text string")
    for threshold in (0.0, 0.5):
        for new_from in (None, 9):
            got = {
                (r["a_id"], r["b_id"]): r["jaccard"]
                for r in minhash_lsh_pairs(
                    df, jaccard_threshold=threshold, new_from=new_from
                ).collect()
            }
            assert got == _py_lsh_pairs(_LSH_CORPUS, threshold, new_from=new_from)
    full = _py_lsh_pairs(_LSH_CORPUS, 0.0)
    # the repeated-shingle docs share the same distinct set; duplicates pair
    assert full[(1, 2)] == 1.0 and full[(7, 8)] == 1.0
    assert not {p for p in full if {3, 4, 5, 6} & set(p)}


def test_lsh_pairs_explode_shingles_once(spark):
    """The shingle explode runs once per query (the signature branch):
    verification reads one shingle set per document, both band-join
    sides share one exchange, and no broadcast carries exploded
    shingles."""
    df = spark.createDataFrame(_LSH_CORPUS, "doc_id long, text string")
    pairs = minhash_lsh_pairs(df, jaccard_threshold=0.0)
    pairs.collect()
    plan = pairs._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the final plan, query stages included
    lines = plan.toString().splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    def shingle_explode(line):
        return "Generate explode(" in line and "arrays_zip" in line

    assert sum(map(shingle_explode, lines)) <= 1, "\n".join(lines)
    for i, line in enumerate(lines):
        if "BroadcastExchange" in line:
            d = depth(line)
            sub = []
            for nxt in lines[i + 1 :]:
                if depth(nxt) <= d:
                    break
                sub.append(nxt)
            assert not any(map(shingle_explode, sub)), "\n".join(lines)


# (id, band keys): a NULL array, NULL keys, a key repeated within a doc,
# single-doc buckets, a pair sharing two keys and a NULL id
_BAND_ROWS = [
    (1, [10, 11]),
    (2, [10, 12]),
    (3, [12, 12]),
    (4, None),
    (5, [None, 13]),
    (6, [None, 14]),
    (7, [13, 11]),
    (8, [99]),
    (9, [10, 11]),
    (None, [10]),
]


def _py_band_pairs(rows, new_from=None):
    keys = {i: {k for k in ks or [] if k is not None} for i, ks in rows if i is not None}
    return {
        (a, b)
        for a in keys
        for b in keys
        if a < b and keys[a] & keys[b] and (new_from is None or b >= new_from)
    }


def test_band_pairs_match_python_any_shared_key(spark):
    """band_pairs == every a<b pair sharing any non-NULL key, each pair
    once; a probe filter on b_id keeps the same answer as the Python
    twin's split."""
    df = spark.createDataFrame(_BAND_ROWS, "doc_id long, ks array<bigint>")
    pairs = band_pairs(df, "doc_id", F.col("ks"))
    assert pairs.columns == ["a_id", "b_id"]
    got = [(r["a_id"], r["b_id"]) for r in pairs.collect()]
    assert len(got) == len(set(got))
    assert set(got) == _py_band_pairs(_BAND_ROWS)
    assert {(1, 2), (1, 9), (2, 3), (5, 7)} <= set(got)
    probe = pairs.filter(F.col("b_id") >= 5).collect()
    assert {(r["a_id"], r["b_id"]) for r in probe} == _py_band_pairs(_BAND_ROWS, 5)


def test_minhash_band_join_is_skew_split(spark):
    """On a hot-bucket corpus (90% identical texts, one band key per band
    holds most rows), AQE splits the band self-join of
    minhash_lsh_pairs — nothing forces a repartition on the band key
    that would hide the join's skew from it."""
    texts = [
        "hot bucket text shared by most of the corpus today" if i % 10 else f"cold doc {i} words {i * 7} here {i * 13}"
        for i in range(400)
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1k",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k",
        "spark.sql.shuffle.partitions": "32",
        # a multi-task map side, as at scale: one coalesced task cannot split
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pairs = minhash_lsh_pairs(df, jaccard_threshold=0.9)
        assert len(pairs.collect()) == 360 * 359 // 2
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        plan = plan.split("== Initial Plan ==")[0]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    band_joins = re.findall(r"SortMergeJoin(\(skew=true\))? \[(?:__)?band#", plan)
    assert band_joins, plan
    assert all(band_joins), plan
