"""Registry-wide global-sort sweep: flag any query whose physical plan
contains an ``Exchange SinglePartition`` whose child subtree reaches a
parquet/file Scan WITHOUT crossing an aggregate or limit — i.e. a
global sort/window of fact-level data, the single worst 100 TB plan
shape (one task sorts the whole table).

SinglePartition is fine ABOVE an aggregate (post-agg "scalar altitude":
the exchanged rows are group counts, bucket summaries, one-row totals)
or below a TakeOrdered/limit; it is a scale-killer directly over a
scan. r09 found exactly one such plan in 330 queries (`w11_id_gaps`,
since rewritten as `bucket_stitched_gaps`); the sweep keeps it that
way.

ALLOWED lists the reviewed exceptions — queries whose global order is
the documented point of their exact semantics, with the scale posture
stated in their docstring.

The same walk also flags any ``CartesianProduct`` node anywhere in a
plan (the other unconditional scale-killer: an O(N*M) join with no
key and no broadcast bound). The per-query explain audits assert
``!CartesianProduct`` for the audited subset; this sweep makes the
invariant registry-wide. ``ALLOWED_CARTESIAN`` holds reviewed
exceptions (none as of r09 — every non-equi join in the registry
compiles to BroadcastNestedLoopJoin with a bounded broadcast side,
never to a shuffled cartesian).

Third class: any PYTHON EVAL node (Arrow/Pandas kernels, Python UDTF)
anywhere in a plan must be allowlisted with the reason no JVM built-in
can express the kernel. Python is the engine's slow path — an Arrow
kernel pays per-batch serialization plus a Python worker pool, and a
closed-form computation hiding inside one wastes exactly that
(r09 case: g1_trend_fit fitted least-squares slopes in a grouped
applyInPandas kernel at 3.6 s warm; the built-in ``regr_slope``
computes the identical closed form at 0.31 s). ``ALLOWED_PYTHON``
pins the reviewed kernel set; a new Python node fails the sweep until
it is justified here.

Usage: python tools/singlepartition_sweep.py [sf_dir]
Exit 1 on any unreviewed flag. ~5 min for the full registry.
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datalake_imagenes_georreferenciadas_spark.plans.queries import all_queries
from datalake_imagenes_georreferenciadas_spark.session import get_spark

# Reviewed exceptions: (query name) -> why the global window is allowed.
ALLOWED = {
    # exact weighted quantile: the ONE global-ordered window over the
    # weight-sorted values is the documented exact-semantics cost (its
    # plan audit pins it). Both 100 TB variants are BUILT: the
    # approximate path (a19_tdigest_quantile) and, since r17, the
    # EXACT distributed twin (a22_weighted_quantile_dist — bucket
    # decomposition, no fact-level window, bit-identical rows pinned
    # by tests/test_weighted_quantile_dist.py); this query stays as
    # the one-pass semantics pin they are graded against.
    "a22_weighted_quantile": "documented exact-semantics global window",
}

# Reviewed cartesian-product exceptions (query name -> why). Empty as of
# r09: non-equi joins must compile to BroadcastNestedLoopJoin with the
# bounded side broadcast (gated by tests/test_broadcast_allowlist.py),
# never to a shuffled CartesianProduct.
ALLOWED_CARTESIAN: dict[str, str] = {}

# Physical node names that mean rows cross the JVM<->Python boundary.
PY_NODES = (
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "BatchEvalPython",
    "PythonUDTF",
)

# Reviewed Python-kernel exceptions (query name -> why no built-in can
# express the kernel). Every entry is byte-level decode, a stateful
# sketch with no closed form, or the deliberate API-surface showcase —
# never arithmetic a pyspark.sql.functions aggregate could compute.
ALLOWED_PYTHON = {
    # binary decode kernels: image/audio/video bytes have no JVM
    # expression surface; Arrow batches over mapInPandas IS the design
    "multimodal_meta": "EXIF/GeoTIFF byte-walk decode kernel",
    "multimodal_resize": "image resize kernel over binary column",
    "multimodal_frames": "frame-sample kernel over binary column",
    "multimodal_scene_cuts": "frame-delta scene-cut kernel",
    "multimodal_audio_features": "PCM feature-extract kernel",
    "s7_exif_gps_scan": "stdlib EXIF byte-level walker",
    "s8_geotiff_meta_scan": "stdlib GeoTIFF tag walker",
    "pipeline_geo_ingest": "composite includes the EXIF decode stage",
    # archive codecs: stdlib decompression, no Spark source reads these
    "s2_archive_extract": "zip/tar/gz/bz2/xz extraction kernel",
    "s2_7z_extract": "7z container parse + codec chain",
    # sketches with no closed form: merge logic is the operator
    "a19_tdigest_quantile": "t-digest centroid merge (no closed form)",
    "streaming_tdigest": "t-digest merge inside foreachBatch",
    # custom merge/rerank kernels over grouped/cogrouped frames
    "g2_cogroup_merge": "cogrouped reconciliation kernel",
    "hybrid_rerank_topk": "cross-encoder-shaped rerank over k candidates",
    # deliberate API-surface twins (each has a JVM-side counterpart
    # benched beside it: f17_cosine_topk / the SQL UDTF-free segmenters)
    "f17_cosine_pandas": "Pandas-UDF twin of f17_cosine_topk (kept for the JVM-vs-Arrow comparison)",
    "f18_python_udtf": "the Python UDTF surface is the component under test",
}

# Operators that bound the data volume before the exchange: once the
# walk crosses one of these, whatever reaches the SinglePartition
# exchange is aggregate/limited altitude, not fact rows.
BARRIER = (
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
    "GlobalLimit",
    "LocalLimit",
    "FlatMapGroupsInPandas",
    "AQEShuffleRead",
)


# Aggregate-buffer width above which a HashAggregate's Results row is
# treated as a hidden fat buffer. Registry max is 9 columns (arrays and
# structs count as ONE column, so embeddings don't trip this); the r10
# find this gate generalizes was a 412-column plan: mixing countDistinct
# with approx_count_distinct made Spark's two-phase distinct rewrite
# materialize the partial HLL register words PER DISTINCT KEY PAIR and
# shuffle all of them (a5_approx_distinct, fixed by aggregating to
# distinct pairs first — HLL over distinct values is bit-identical).
WIDE_AGG_THRESHOLD = 64

# Reviewed wide-aggregate exceptions (query name -> why).
# name -> (keys_pattern, reason). The waiver is STRUCTURAL, not nominal
# (r12 ADVICE medium): every wide aggregate block in the allowlisted
# query must have a ``Keys [N]: [...]`` list whose EVERY key matches
# keys_pattern — the low-cardinality group key the adjudication was
# argued on. A regression back to the per-(l_returnflag, l_orderkey)
# PAIR shape — the exact bug this gate was built to catch — then fails
# the sweep on its l_orderkey key instead of passing by name.
ALLOWED_WIDE: dict[str, tuple[str, str]] = {
    # The r11-fixed per-block parser now sees the MERGE-side partial
    # block (Results [412]: the HLL register words) that the old 400-char
    # window regex missed. Adjudicated r12: after the r10 rewrite
    # (distinct pairs first, queries.py a5_approx_distinct), the 412-col
    # buffer exists once per l_returnflag GROUP (3 distinct values) per
    # map task — shuffle volume O(3 x tasks), a few KB regardless of
    # fact-table size. The bug this gate exists for was the SAME buffer
    # per (l_returnflag, l_orderkey) PAIR, i.e. per ~every fact row.
    # Width alone cannot distinguish the two; the grouping key can — and
    # the pattern below pins it to l_returnflag ONLY. Benign at any scale.
    "a5_approx_distinct": (
        r"l_returnflag#\d+",
        "412-col HLL partial per 3-value l_returnflag group, O(groups x tasks) shuffle",
    ),
}


def wide_agg_results(plan: str, threshold: int = WIDE_AGG_THRESHOLD) -> list[int]:
    """Widths of HashAggregate ``Results [N]`` rows exceeding ``threshold``.

    A very wide aggregate output almost always means a per-group sketch
    or array buffer was EXPANDED into columns and is about to be
    shuffled once per group — fine for a handful of groups, ruinous
    when the rewrite put it on a high-cardinality key.
    """
    # Parse per detail block: a long Functions / Aggregate Attributes
    # section puts the Results line thousands of chars after the header
    # (the a5 merge-side blocks sat ~5.9k chars out), so any fixed
    # character window misses exactly the fat-buffer case it exists for.
    # lstrip: a triple-newline separator (e.g. before a Subqueries
    # section) leaves a leading "\n" on the next block, which a bare
    # re.match would reject — a false negative (r11 ADVICE #3).
    widths = []
    for blk in plan.split("\n\n"):
        m = re.match(r"\(\d+\) (\w+)", blk.lstrip())
        if not m or "Aggregate" not in m.group(1):
            continue
        r = re.search(r"^Results \[(\d+)\]", blk, re.M)
        if r:
            widths.append(int(r.group(1)))
    return [w for w in widths if w > threshold]


def wide_agg_key_violations(
    plan: str, keys_pattern: str, threshold: int = WIDE_AGG_THRESHOLD
) -> list[str]:
    """Grouping keys of over-threshold aggregate blocks that do NOT
    fully match ``keys_pattern`` — the structural half of ALLOWED_WIDE
    (r12 ADVICE): a waiver argued on a low-cardinality group key only
    holds while the wide buffer is keyed SOLELY by keys matching the
    pattern. A block with no ``Keys`` line at all reports
    ``<no-keys-line>`` (a keyless global buffer is not what any waiver
    was argued on)."""
    pat = re.compile(keys_pattern)
    bad = []
    for blk in plan.split("\n\n"):
        m = re.match(r"\(\d+\) (\w+)", blk.lstrip())
        if not m or "Aggregate" not in m.group(1):
            continue
        r = re.search(r"^Results \[(\d+)\]", blk, re.M)
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
    """Split a Keys list on TOP-LEVEL commas only (r13 ADVICE #2): a
    grouping-key expression containing commas — ``CAST(x AS
    decimal(10,2))``, a function call — must stay one key, not be split
    into fragments that each spuriously fail the waiver pattern. Tracks
    paren/bracket depth; plan text never nests quotes, so no quote
    handling is needed — but a closer inside a quoted literal would
    otherwise drive depth negative and stop later TOP-LEVEL commas from
    splitting (merged key → false FLAG, fail-safe but opaque), so depth
    is clamped at 0 on closers (r14 ADVICE #4)."""
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
    deliberate: a subquery's result is a scalar/semi-join input (bounded
    rows by construction), and each subquery body is itself registered
    and swept as part of the queries that build it.
    """
    blocks = {}
    for blk in plan.split("\n\n"):
        # lstrip: triple-newline separators (e.g. before a Subqueries
        # header) leave a leading "\n" on the next block — same false
        # negative the r11 ADVICE found in wide_agg_results
        m = re.match(r"\((\d+)\) (\w+)", blk.lstrip())
        if m:
            blocks[int(m.group(1))] = blk.lstrip()
    sp_ids = {
        i
        for i, b in blocks.items()
        if b.splitlines()[0].split()[1] == "Exchange" and "SinglePartition" in b
    }
    if not sp_ids:
        return []
    tree = plan.split("\n\n")[0]
    parsed = []
    for line in tree.splitlines():
        m = re.search(r"([:\s+\-]*)[+:]- (\w+).*\((\d+)\)", line) or re.search(
            r"^(\s*)(\w+).*\((\d+)\)", line
        )
        if m:
            parsed.append((len(m.group(1)), m.group(2), int(m.group(3))))
    flagged = []
    for idx, (ind, _op, nid) in enumerate(parsed):
        if nid not in sp_ids:
            continue
        # Per-BRANCH barrier tracking (r09 ADVICE #1): a barrier shields
        # only its OWN subtree (lines more indented than it), not the
        # whole remaining walk — breaking at the first barrier made a
        # sibling branch's raw Scan invisible (e.g. a global sort above
        # a join of an aggregated branch and a scan branch was a false
        # negative). A single shield depth suffices: a deeper barrier
        # inside a shielded region is itself already shielded.
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


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("sp-sweep")
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    queries = all_queries()
    bad, errs, allowed_seen = [], [], []
    for name, fn in queries.items():
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution().explainString(mode)
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            errs.append(name)
            print(f"ERR  {name}: {str(e)[:100]}")
            continue
        hits = fact_level_singlepartition(plan)
        if hits:
            if name in ALLOWED:
                allowed_seen.append(name)
                print(f"allowed  {name} ({ALLOWED[name]})")
            else:
                bad.append(name)
                print(f"FLAG {name}: fact-level SinglePartition exchange {hits}")
        if "CartesianProduct" in plan:
            if name in ALLOWED_CARTESIAN:
                allowed_seen.append(name)
                print(f"allowed  {name} ({ALLOWED_CARTESIAN[name]})")
            else:
                bad.append(name)
                print(f"FLAG {name}: CartesianProduct in physical plan")
        py_hits = [n for n in PY_NODES if n in plan]
        if py_hits:
            if name in ALLOWED_PYTHON:
                allowed_seen.append(name)
                print(f"allowed  {name} (python kernel: {ALLOWED_PYTHON[name]})")
            else:
                bad.append(name)
                print(f"FLAG {name}: unreviewed Python eval node {py_hits}")
        wide = wide_agg_results(plan)
        if wide:
            if name in ALLOWED_WIDE:
                keys_pat, reason = ALLOWED_WIDE[name]
                viol = wide_agg_key_violations(plan, keys_pat)
                if viol:
                    bad.append(name)
                    print(
                        f"FLAG {name}: allowlisted wide aggregate keyed on "
                        f"{viol} (waiver requires every key ~ /{keys_pat}/)"
                    )
                else:
                    allowed_seen.append(name)
                    print(f"allowed  {name} (wide aggregate: {reason})")
            else:
                bad.append(name)
                print(f"FLAG {name}: wide aggregate buffer Results {wide}")
    stale = [
        n
        for n in {**ALLOWED, **ALLOWED_CARTESIAN, **ALLOWED_PYTHON, **ALLOWED_WIDE}
        if n not in allowed_seen
    ]
    if stale:
        print(f"stale ALLOWED entries (no longer flagged — remove): {stale}")
    print(
        f"\nswept {len(queries)}: {len(bad)} flagged, "
        f"{len(allowed_seen)} allowed, {len(errs)} errors"
    )
    return 1 if bad or errs or stale else 0


if __name__ == "__main__":
    sys.exit(main())
