"""Unit tests for the driver-window rotation (plans.queries._rotated).

The external verifier grades only the FIRST 50 ``queries()`` entries per
round, so the ordering logic IS round-critical infrastructure: a bug
here silently wastes external-verification slots. These tests drive it
with synthetic CORRECTNESS_r*.json files (no Spark needed).
"""

from __future__ import annotations

import json
import os
import tempfile

from datalake_imagenes_georreferenciadas_spark.plans.queries import (
    _driver_check_state,
    _rotated,
)


GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
RED = {"rows_match": False, "schema_match": True, "hash_match": False, "err": None}
NO_ORACLE = {
    "rows_match": None,
    "schema_match": None,
    "hash_match": None,
    "err": "no_oracle",
}


def _repo(rounds):
    d = tempfile.mkdtemp(prefix="rot_")
    for i, rows in enumerate(rounds, 1):
        with open(os.path.join(d, f"CORRECTNESS_r{i:02d}.json"), "w") as fh:
            json.dump(rows, fh)
    return d


def test_green_and_no_oracle_retire_red_stays_front():
    repo = _repo([{"a": GREEN, "b": NO_ORACLE, "c": RED}])
    retired, n, _ = _driver_check_state(repo)
    assert retired == {"a", "b"}  # no_oracle can never go green — retire it
    assert n == 1
    reg = {k: k for k in ("a", "b", "c", "d")}
    order = list(_rotated(reg, repo))
    # unchecked + red first (registration order), checked tail after
    assert order[:2] == ["c", "d"]
    assert set(order[2:]) == {"a", "b"}


def test_priority_prefixes_front_load_pipeline_families():
    repo = _repo([])
    reg = {k: k for k in ("zz_plain", "dedup_x", "aa_plain", "streaming_y", "pipeline_z")}
    order = list(_rotated(reg, repo))
    # priority names first in registration order, then the rest
    assert order == ["dedup_x", "streaming_y", "pipeline_z", "zz_plain", "aa_plain"]


def test_malformed_round_file_is_skipped_not_fatal():
    d = _repo([{"a": GREEN}])
    with open(os.path.join(d, "CORRECTNESS_r99.json"), "w") as fh:
        fh.write('["not", "a", "dict"]')
    with open(os.path.join(d, "CORRECTNESS_r98.json"), "w") as fh:
        fh.write("{not json at all")
    retired, n, _ = _driver_check_state(d)
    assert retired == {"a"}
    assert n == 1  # only the well-formed file counts
    # non-dict row values are also tolerated
    d2 = _repo([{"a": GREEN, "weird": "scalar-row"}])
    retired2, _, _ = _driver_check_state(d2)
    assert retired2 == {"a"}


def test_checked_tail_is_staleness_first():
    # r08 VERDICT #3: re-check slots must go to the names whose latest
    # fully-green driver row is OLDEST (early-round greens were checked
    # on since-refactored code). 120 green names: 60 last green in r1,
    # 60 last green in r2 → every r1-era name precedes every r2-era
    # name in the tail, registration order within a cohort.
    names = [f"q{i:03d}" for i in range(120)]
    old, new = names[:60], names[60:]
    reg = {k: k for k in names}
    repo = _repo(
        [
            {k: GREEN for k in names},
            {k: GREEN for k in new},
        ]
    )
    order = list(_rotated(reg, repo))
    assert order[:60] == old  # stalest cohort first, registration order
    assert order[60:] == new


def test_recheck_cycle_self_advances():
    # Once a stale name is re-checked green, its next-round position
    # moves behind names still carrying older checks — the cycle sweeps
    # the registry without stride bookkeeping.
    names = [f"q{i:03d}" for i in range(4)]
    reg = {k: k for k in names}
    r1 = _repo([{k: GREEN for k in names}])
    assert list(_rotated(reg, r1)) == names  # all tied at round 1
    # driver re-checks the first two in round 2
    r2 = _repo(
        [{k: GREEN for k in names}, {"q000": GREEN, "q001": GREEN}]
    )
    assert list(_rotated(reg, r2)) == ["q002", "q003", "q000", "q001"]


def test_near_empty_backlog_window_mixes_fresh_then_stale_tail():
    # 10 fresh + 100 green: the driver's 50-entry window must carry ALL
    # fresh names first, then fill the remaining slots from the green
    # tail with no gaps or duplicates, stalest green first
    fresh = [f"f{i:02d}" for i in range(10)]
    green = [f"g{i:03d}" for i in range(100)]
    reg = {k: k for k in fresh + green}
    repo = _repo(
        [
            {k: GREEN for k in green},
            {k: GREEN for k in green[:30]},  # 30 re-checked in r2
        ]
    )
    order = list(_rotated(reg, repo))
    assert order[:10] == fresh
    assert len(order) == 110 and len(set(order)) == 110
    # r1-era greens (older check) fill the window before r2-era ones
    assert order[10:] == green[30:] + green[:30]


def test_regressed_name_recheck_priority_uses_last_green_round():
    # green in r1 then red in r2: still retired (re-check cycle's job),
    # but its staleness key is its LAST GREEN round (r1), so it comes
    # up for re-check before names that stayed green through r2.
    repo = _repo(
        [
            {"a": GREEN, "b": GREEN},
            {"a": RED, "b": GREEN},
        ]
    )
    reg = {"b": "b", "a": "a"}  # registration order deliberately b-first
    order = list(_rotated(reg, repo))
    assert order == ["a", "b"]  # a's last green (r1) < b's (r2)


def test_rows_only_unretires_once_an_oracle_exists():
    # err == no_oracle retires a name ONLY while it still has no
    # oracle_sql entry; converting it to oracle-checkable form must put
    # it back in the fresh front so the driver re-checks at full
    # strength (round-6: a5_approx_distinct, streaming_stateful_totals)
    from datalake_imagenes_georreferenciadas_spark.plans.queries import ORACLES

    repo = _repo([{"orphan_rows_only": NO_ORACLE, "a5_approx_distinct": NO_ORACLE}])
    assert "a5_approx_distinct" in ORACLES  # converted this round
    retired, _, _ = _driver_check_state(repo)
    assert "orphan_rows_only" in retired  # still oracle-less → stays retired
    assert "a5_approx_distinct" not in retired


def test_union_across_rounds_and_regression_returns_to_front():
    # green in r1, red in r2: stays retired (some round was fully green)
    # — re-catching it is the re-check cycle's job, while a name that was
    # ONLY ever red must sit in the fresh front
    repo = _repo([{"a": GREEN, "b": RED}, {"a": RED, "b": RED}])
    retired, _, _ = _driver_check_state(repo)
    assert "a" in retired and "b" not in retired


def test_staleness_key_is_parsed_round_number_not_file_count():
    # r12 VERDICT wrong-item 3: CORRECTNESS_r06.json is missing on disk,
    # so sorted-file INDEX != round number. The staleness key must come
    # from the filename's r(\d+), so a gap (or a back-added/deleted old
    # file) shifts nothing.
    d = tempfile.mkdtemp(prefix="rot_gap_")
    for rnd, rows in [(1, {"a": GREEN}), (3, {"b": GREEN})]:  # r02 missing
        with open(os.path.join(d, f"CORRECTNESS_r{rnd:02d}.json"), "w") as fh:
            json.dump(rows, fh)
    retired, n, last_round = _driver_check_state(d)
    assert retired == {"a", "b"}
    assert n == 2  # two well-formed files parsed
    assert last_round == {"a": 1, "b": 3}  # round NUMBERS, not indices 1/2
