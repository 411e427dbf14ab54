"""Unit tests for the plan-text walkers of tools/plan_audit.py: the
scale-shape sweep's fact-level SinglePartition walker, the adaptive-plan
views and node counts, the wide-aggregate detector and the pin tables.

Synthetic formatted-plan text, no Spark needed. The r09 ADVICE found a
false negative: the walk broke out of the whole subtree at the FIRST
barrier node in line order, so a SinglePartition exchange above a
multi-child node (sort over a join of an aggregated branch and a
raw-scan branch) never saw the sibling branch's Scan. The walker now
tracks the barrier per-branch: a barrier shields only lines MORE
indented than itself.

Plan text mirrors Spark 4.1.2 ``explain("formatted")``: a tree chunk,
then ``\\n\\n``-separated per-node blocks (no codegen ``*`` markers —
formatted mode under AQE prints bare operator names).
"""

from __future__ import annotations

import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.plan_audit import fact_level_singlepartition


def _plan(tree: str, *blocks: str) -> str:
    return tree + "\n\n" + "\n\n".join(blocks)


SP_BLOCK = "({}) Exchange\nArguments: SinglePartition, ENSURE_REQUIREMENTS"


def test_direct_scan_is_flagged():
    plan = _plan(
        """== Physical Plan ==
Sort (3)
+- Exchange (2)
   +- Scan parquet  (1)""",
        SP_BLOCK.format(2),
    )
    assert fact_level_singlepartition(plan) == [2]


def test_aggregate_shields_its_subtree():
    plan = _plan(
        """== Physical Plan ==
Sort (5)
+- Exchange (4)
   +- HashAggregate (3)
      +- Exchange (2)
         +- Scan parquet  (1)""",
        SP_BLOCK.format(4),
    )
    assert fact_level_singlepartition(plan) == []


def test_codegen_marked_barrier_shields_its_subtree():
    # an executed plan marks whole-stage-codegen nodes with "* "
    plan = _plan(
        """== Physical Plan ==
AdaptiveSparkPlan (7)
+- == Final Plan ==
   * HashAggregate (6)
   +- ShuffleQueryStage (5), Statistics(sizeInBytes=56.0 B, rowCount=1)
      +- Exchange (4)
         +- * HashAggregate (3)
            +- * ColumnarToRow (2)
               +- Scan parquet  (1)""",
        SP_BLOCK.format(4),
    )
    assert fact_level_singlepartition(plan) == []
    assert fact_level_singlepartition(plan.replace("* HashAggregate (3)", "* Project (3)")) == [4]


def test_multi_branch_sibling_scan_is_not_shielded():
    # THE r09 ADVICE case: branch 1 aggregated, branch 2 raw scan —
    # the old walker broke at HashAggregate(3) and never saw Scan(4).
    plan = _plan(
        """== Physical Plan ==
Sort (8)
+- Exchange (7)
   +- SortMergeJoin Inner (6)
      :- HashAggregate (3)
      :  +- Exchange (2)
      :     +- Scan parquet  (1)
      +- Filter (5)
         +- Scan parquet  (4)""",
        SP_BLOCK.format(7),
    )
    assert fact_level_singlepartition(plan) == [7]


def test_union_later_branch_scan_is_not_shielded():
    plan = _plan(
        """== Physical Plan ==
Window (9)
+- Sort (8)
   +- Exchange (7)
      +- Union (6)
         :- HashAggregate (3)
         :  +- Exchange (2)
         :     +- Scan parquet  (1)
         +- Project (5)
            +- Scan parquet  (4)""",
        SP_BLOCK.format(7),
    )
    assert fact_level_singlepartition(plan) == [7]


def test_scan_outside_exchange_subtree_is_ignored():
    # the raw scan lives in a SIBLING of the exchange, not under it
    plan = _plan(
        """== Physical Plan ==
Project (9)
+- BroadcastHashJoin Inner BuildRight (8)
   :- Exchange (4)
   :  +- HashAggregate (3)
   :     +- Exchange (2)
   :        +- Scan parquet  (1)
   +- BroadcastExchange (7)
      +- Filter (6)
         +- Scan parquet  (5)""",
        SP_BLOCK.format(4),
    )
    assert fact_level_singlepartition(plan) == []


def test_all_branches_aggregated_is_clean():
    plan = _plan(
        """== Physical Plan ==
Sort (10)
+- Exchange (9)
   +- SortMergeJoin Inner (8)
      :- HashAggregate (3)
      :  +- Exchange (2)
      :     +- Scan parquet  (1)
      +- HashAggregate (7)
         +- Exchange (6)
            +- Scan parquet  (5)""",
        SP_BLOCK.format(9),
    )
    assert fact_level_singlepartition(plan) == []


def test_non_singlepartition_exchange_is_ignored():
    plan = _plan(
        """== Physical Plan ==
Sort (3)
+- Exchange (2)
   +- Scan parquet  (1)""",
        "(2) Exchange\nArguments: hashpartitioning(k, 32), ENSURE_REQUIREMENTS",
    )
    assert fact_level_singlepartition(plan) == []

from tools import plan_audit  # noqa: E402
from tools.plan_audit import AUDITS, STREAM_JOBS  # noqa: E402


def test_no_duplicate_keys_in_pin_dicts():
    """A duplicate dict-literal key silently drops the earlier pin (r10
    VERDICT: a weaker second "ann_pq_topk" entry shadowed the stricter
    WindowGroupLimit pin for two rounds). Assert uniqueness on the AST of
    every pin dict so the class can't recur."""
    import ast

    path = os.path.join(REPO, "tools", "plan_audit.py")
    for dict_name in (
        "AUDITS",
        "STREAM_JOBS",
        "SPREAD",
        "ALLOWED",
        "ALLOWED_CARTESIAN",
        "ALLOWED_PYTHON",
        "ALLOWED_WIDE",
    ):
        tree = ast.parse(open(path).read())
        found = False
        for node in ast.walk(tree):
            if not isinstance(node, (ast.Assign, ast.AnnAssign)):
                continue
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            if not any(isinstance(t, ast.Name) and t.id == dict_name for t in targets):
                continue
            value = node.value
            assert isinstance(value, ast.Dict), f"{dict_name} in {path} is not a dict literal"
            keys = [k.value for k in value.keys if isinstance(k, ast.Constant)]
            assert len(keys) == len(value.keys), f"non-literal key in {dict_name} ({path})"
            dupes = sorted({k for k in keys if keys.count(k) > 1})
            assert dupes == [], f"duplicate keys in {dict_name} ({path}): {dupes}"
            found = True
        assert found, f"{dict_name} assignment not found in {path}"


def test_every_registered_query_is_pinned():
    """Full-registry pin coverage: every query has a plan audit, except
    the streaming sink read-backs, which carry a job budget only."""
    from datalake_imagenes_georreferenciadas_spark.plans.queries import all_queries

    names = set(all_queries().keys())
    assert len(names) == 338
    assert names - set(AUDITS) - set(STREAM_JOBS) == set(), "queries with no pin"
    assert set(AUDITS) | set(STREAM_JOBS) <= names, "pin for an unregistered name"
    assert not set(AUDITS) & set(STREAM_JOBS)
    assert set(STREAM_JOBS) == {
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


# ---- views of an executed adaptive plan ----

# a8_corr as it prints once run: a Final and an Initial subtree sharing
# the Scan id (1); the round-robin spread exchange is (3) / (13).
_A8_TREE = """== Physical Plan ==
AdaptiveSparkPlan (18)
+- == Final Plan ==
   ResultQueryStage (11)
   +- * Project (10)
      +- * HashAggregate (9)
         +- AQEShuffleRead (8)
            +- ShuffleQueryStage (7), Statistics(sizeInBytes=2.3 KiB, rowCount=12)
               +- Exchange (6)
                  +- * HashAggregate (5)
                     +- ShuffleQueryStage (4), Statistics(sizeInBytes=234.4 KiB, rowCount=6.00E+3)
                        +- Exchange (3)
                           +- * Project (2)
                              +- Scan parquet  (1)
+- == Initial Plan ==
   Project (17)
   +- HashAggregate (16)
      +- Exchange (15)
         +- HashAggregate (14)
            +- Exchange (13)
               +- Project (12)
                  +- Scan parquet  (1)"""

_A8_BLOCKS = {
    1: "Scan parquet \nLocation: InMemoryFileIndex [file:/data/sf0.001/lineitem.parquet]",
    3: "Exchange\nArguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=50]",
    5: "HashAggregate [codegen id : 2]\nKeys [1]: [l_returnflag#8]\nResults [12]: [l_returnflag#8]",
    6: "Exchange\nArguments: hashpartitioning(l_returnflag#8, 32), ENSURE_REQUIREMENTS",
    9: "HashAggregate [codegen id : 3]\nKeys [1]: [l_returnflag#8]\nResults [7]: [l_returnflag#8]",
    13: "Exchange\nArguments: RoundRobinPartitioning(4), REPARTITION_BY_NUM, [plan_id=27]",
    14: "HashAggregate\nKeys [1]: [l_returnflag#8]\nResults [12]: [l_returnflag#8]",
    15: "Exchange\nArguments: hashpartitioning(l_returnflag#8, 32), ENSURE_REQUIREMENTS",
    16: "HashAggregate\nKeys [1]: [l_returnflag#8]\nResults [7]: [l_returnflag#8]",
    18: "AdaptiveSparkPlan\nArguments: isFinalPlan=true",
}


def _a8_plan(blocks: dict[int, str] = _A8_BLOCKS, tree: str = _A8_TREE) -> str:
    details = "\n\n".join(f"({i}) {b}" for i, b in sorted(blocks.items()))
    return tree + "\n\n\n" + details + "\n"


def test_counts_cover_only_the_final_subtree():
    plan = _a8_plan()
    final, initial = plan_audit.views(plan)
    assert plan_audit.counts(final) == (2, 0, {"lineitem": 1})
    assert plan_audit.counts(initial) == (2, 0, {"lineitem": 1})
    # every "(N) Exchange" block of the whole string: the Initial Plan
    # comes on top of the final one
    assert plan_audit.counts(plan)[0] == 4
    assert "Exchange (13)" in initial and "Exchange (13)" not in final
    assert "(13) Exchange" in initial and "(13) Exchange" not in final
    assert "(3) Exchange" in final and "(3) Exchange" not in initial
    assert "(1) Scan parquet" in final and "(1) Scan parquet" in initial


def test_unadapted_plan_is_its_own_final_and_initial_view():
    plan = "== Physical Plan ==\nProject (2)\n+- Scan parquet  (1)\n\n\n" + "\n\n".join(
        ["(1) Scan parquet \nLocation: InMemoryFileIndex [file:/d/orders.parquet]", "(2) Project"]
    )
    assert plan_audit.views(plan) == (plan, plan)
    assert plan_audit.counts(plan) == (0, 0, {"orders": 1})


def _without_round_robin() -> str:
    # spread() as a no-op: the scan feeds the partial aggregate directly
    dropped = ("(3)", "(4)", "(13)")  # the round-robin exchanges and stage
    tree = "\n".join(
        line for line in _A8_TREE.splitlines() if not any(d in line for d in dropped)
    )
    return _a8_plan({i: b for i, b in _A8_BLOCKS.items() if i not in (3, 13)}, tree)


def test_a8_corr_round_robin_is_required_only_below_parallelism():
    jobs = AUDITS["a8_corr"][0]
    assert plan_audit.audit("a8_corr", _a8_plan(), jobs, 4, {"lineitem": 1}) == []
    plan = _without_round_robin()
    assert "RoundRobinPartitioning" not in plan
    assert plan_audit.audit("a8_corr", plan, jobs, 4, {"lineitem": 1}) == [
        "missing: RoundRobinPartitioning (lineitem scans as 1 < 4 partitions)"
    ]
    # a scan already at the session's parallelism: spread() is a no-op
    assert plan_audit.audit("a8_corr", plan, jobs, 4, {"lineitem": 4}) == []
    assert plan_audit.audit("a8_corr", plan, jobs, 1, {"lineitem": 1}) == []


def test_budgets_reject_extra_final_nodes_and_jobs():
    jobs = AUDITS["a8_corr"][0]
    blocks = dict(_A8_BLOCKS)
    blocks[2] = "Generate\nArguments: explode(x#1)"
    probs = plan_audit.audit("a8_corr", _a8_plan(blocks), jobs + 1, 4, {"lineitem": 1})
    assert probs == ["generates=1 > 0", f"jobs={jobs + 1} > {jobs}"]
    assert plan_audit.audit("streaming_tumbling", "", STREAM_JOBS["streaming_tumbling"], 4, {}) == []
    assert plan_audit.audit("no_such_query", "", 0, 4, {}) == ["no pin in tools/plan_audit.py"]


# ---- wide-aggregate-buffer detector (r10: the a5 distinct-rewrite class) ----

from tools.plan_audit import wide_agg_results  # noqa: E402


def _agg_node(n_results: int, node_id: int = 2) -> str:
    cols = ", ".join(f"c{i}#1{i}L" for i in range(n_results))
    return f"({node_id}) HashAggregate\nInput [2]: [k#1, v#2L]\nKeys [1]: [k#1]\nResults [{n_results}]: [{cols}]"


def test_wide_agg_flags_expanded_sketch_buffer():
    # the a5 pathology: 412 columns of HLL register words per distinct pair
    plan = "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n" + _agg_node(412)
    assert wide_agg_results(plan) == [412]


def test_wide_agg_ignores_normal_aggregates():
    plan = "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n" + _agg_node(9)
    assert wide_agg_results(plan) == []


def test_wide_agg_only_matches_hashaggregate_results():
    # a wide Project/Scan output is not an aggregate buffer
    plan = (
        "== Physical Plan ==\nProject (2)\n+- Scan parquet  (1)\n\n"
        "(2) Project\nOutput [412]: [" + ", ".join(f"c{i}#1" for i in range(412)) + "]"
    )
    assert wide_agg_results(plan) == []


def test_wide_agg_sees_results_beyond_any_char_window():
    # the r10-advisor miss: a merge-side aggregate's Results line sits
    # thousands of chars after the header (one partial function with a
    # long Functions / Aggregate Attributes list) — the old 400-char
    # window regex was blind to exactly this, the common fat-buffer shape
    funcs = ", ".join(f"partial_approx_count_distinct(v#{i})" for i in range(400))
    attrs = ", ".join(f"buf#{i}[0]" for i in range(400))
    cols = ", ".join(f"c{i}#1{i}" for i in range(412))
    blk = (
        "(2) HashAggregate\nInput [2]: [k#1, v#2L]\nKeys [1]: [k#1]\n"
        f"Functions [400]: [{funcs}]\nAggregate Attributes [400]: [{attrs}]\n"
        f"Results [412]: [{cols}]"
    )
    assert len(funcs) + len(attrs) > 5000  # the window the old regex couldn't span
    plan = "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n" + blk
    assert wide_agg_results(plan) == [412]


def test_wide_agg_covers_object_and_sort_aggregate_blocks():
    cols = ", ".join(f"c{i}#1{i}" for i in range(100))
    for op in ("ObjectHashAggregate", "SortAggregate"):
        blk = f"(2) {op}\nInput [2]: [k#1, v#2L]\nKeys [1]: [k#1]\nResults [100]: [{cols}]"
        plan = f"== Physical Plan ==\n{op} (2)\n+- Scan parquet  (1)\n\n" + blk
        assert wide_agg_results(plan) == [100], op


def test_fact_level_detail_block_after_triple_newline_is_seen():
    # r12 ADVICE low: a triple-newline separator (e.g. before a
    # Subqueries section) leaves a leading "\n" on the next detail
    # block; without lstrip the SinglePartition Exchange block was
    # dropped from sp_ids — a false negative on a real scale-killer.
    tree = """== Physical Plan ==
Sort (3)
+- Exchange (2)
   +- Scan parquet  (1)"""
    plan = tree + "\n\n\n" + SP_BLOCK.format(2)  # note the TRIPLE newline
    assert fact_level_singlepartition(plan) == [2]


# ---- structural ALLOWED_WIDE waiver (r12 ADVICE medium) ----

from tools.plan_audit import wide_agg_key_violations  # noqa: E402


def _keyed_agg(n_results: int, keys: list) -> str:
    cols = ", ".join(f"c{i}#1{i}L" for i in range(n_results))
    klist = ", ".join(keys)
    return (
        f"(2) HashAggregate\nInput [2]: [k#1, v#2L]\n"
        f"Keys [{len(keys)}]: [{klist}]\nResults [{n_results}]: [{cols}]"
    )


def test_wide_waiver_holds_on_low_cardinality_key():
    # the adjudicated a5 shape: wide HLL buffer keyed SOLELY by
    # l_returnflag — the waiver's structural condition
    plan = (
        "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n"
        + _keyed_agg(412, ["l_returnflag#25"])
    )
    assert wide_agg_key_violations(plan, r"l_returnflag#\d+") == []


def test_wide_waiver_fails_on_regressed_per_pair_key():
    # THE regression the gate exists for: the same wide buffer keyed per
    # (l_returnflag, l_orderkey) PAIR — i.e. per ~every fact row. The
    # nominal (name-only) waiver passed this silently; the structural
    # check must name the offending key.
    plan = (
        "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n"
        + _keyed_agg(412, ["l_returnflag#25", "l_orderkey#11L"])
    )
    assert wide_agg_key_violations(plan, r"l_returnflag#\d+") == ["l_orderkey#11L"]


def test_wide_waiver_fails_on_keyless_global_buffer():
    cols = ", ".join(f"c{i}#1{i}L" for i in range(412))
    blk = f"(2) HashAggregate\nInput [2]: [k#1, v#2L]\nResults [412]: [{cols}]"
    plan = "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n" + blk
    assert wide_agg_key_violations(plan, r"l_returnflag#\d+") == ["<no-keys-line>"]


def test_wide_waiver_ignores_narrow_blocks():
    # narrow aggregates keyed on anything are not the waiver's business
    plan = (
        "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n"
        + _keyed_agg(9, ["l_orderkey#11L"])
    )
    assert wide_agg_key_violations(plan, r"l_returnflag#\d+") == []

def test_wide_waiver_keeps_comma_bearing_expression_key_whole():
    # r13 ADVICE #2: a grouping-key EXPRESSION containing commas —
    # CAST(x AS decimal(10,2)) — must stay ONE key for the waiver
    # pattern, not be split into fragments that each spuriously fail
    # fullmatch (false FLAG on a legitimately waived plan).
    expr = "cast(l_quantity#30 as decimal(10,2))"
    plan = (
        "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n"
        + _keyed_agg(412, [expr])
    )
    assert wide_agg_key_violations(plan, re.escape(expr)) == []
    # and a second top-level key alongside it is still split correctly
    plan2 = (
        "== Physical Plan ==\nHashAggregate (2)\n+- Scan parquet  (1)\n\n"
        + _keyed_agg(412, [expr, "l_orderkey#11L"])
    )
    assert wide_agg_key_violations(plan2, re.escape(expr)) == ["l_orderkey#11L"]


# ---- _split_top_level property (r14) ----

from hypothesis import given, strategies as st  # noqa: E402

# fragments with no commas/brackets at all
_plain = st.text(
    alphabet="abcxyz#0123_ .*", min_size=1, max_size=8
).map(str.strip).filter(bool)


def _wrap(inner: st.SearchStrategy) -> st.SearchStrategy:
    # a balanced-paren/bracket wrapper that may contain commas INSIDE —
    # these inner commas must never split the key
    return st.tuples(
        st.sampled_from(["()", "[]"]), st.lists(inner, min_size=1, max_size=3)
    ).map(lambda t: "f" + t[0][0] + ", ".join(t[1]) + t[0][1])


# keys: plain fragments or nested calls like f(a, g[b, c]) — any commas
# are strictly inside brackets, so each generated key is ONE key
_keys = st.recursive(_plain, _wrap, max_leaves=6)


@given(st.lists(_keys, min_size=1, max_size=5))
def test_split_top_level_roundtrips_bracketed_keys(keys):
    from tools.plan_audit import _split_top_level

    joined = ", ".join(keys)
    assert [p.strip() for p in _split_top_level(joined)] == keys


def test_split_top_level_clamps_negative_depth_on_stray_closer():
    # r14 ADVICE #4: a ')' inside a quoted literal drove depth to -1, so
    # every LATER top-level comma sat at depth -1 and stopped splitting —
    # keys after the stray closer silently merged (fail-safe: the merged
    # key fails the waiver fullmatch → false FLAG, never a false pass,
    # but the flag text was opaque). Clamped at 0, later commas split.
    from tools.plan_audit import _split_top_level

    parts = [p.strip() for p in _split_top_level("substr(s, ''), ')', a#1, b#2")]
    assert parts == ["substr(s, '')", "')'", "a#1", "b#2"]
    # balanced input is unaffected by the clamp
    assert _split_top_level("f(a, b), c") == ["f(a, b)", " c"]


def test_stream_python_time_needs_an_allowlist_entry(monkeypatch):
    """A stream's audited plan is its sink read-back, so its Python
    kernels show only as Python-worker time in the ledger. Against the
    allowlist before ``streaming_stateful_totals`` was reviewed, the
    committed sf0.1 ledger flags exactly that stream; batch queries and
    allowlisted streams are never flagged by it."""
    with open(os.path.join(REPO, "LEDGER_sf0.1.json")) as fh:
        ledger = json.load(fh)

    def flagged():
        return {
            name
            for name, row in ledger.items()
            if plan_audit.stream_python(name, row.get("exec.python_worker_s", 0))
        }

    assert flagged() == set()
    before = {k: v for k, v in plan_audit.ALLOWED_PYTHON.items() if k != "streaming_stateful_totals"}
    monkeypatch.setattr(plan_audit, "ALLOWED_PYTHON", before)
    assert flagged() == {"streaming_stateful_totals"}
    # the plan sweep leaves a stream's read-back plan to that check
    assert plan_audit.sweep("streaming_stateful_totals", "MapInPandas") == []
