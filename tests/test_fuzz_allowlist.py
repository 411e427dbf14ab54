"""Machine-readable fuzz-residue contract (r16, VERDICT tasks 1+5).

tools/fuzz_allowlist.json maps each adversarial axis to
{query_name: mechanism tag}. `tools/verify_oracle.py --allowlist AXIS
<fuzz_dir>` passes iff the axis's failing-name set EQUALS the allowlist
— a new divergence and a silently-healed entry both fail loudly, so
future rounds diff the set instead of re-diagnosing prose.

The EMPTY axis carries the zero-row data divergences (grand-total
rows, dynamic pivot columns, closed-form lifecycles) with no
``[spark_error]`` marker, so an empty-input crash still fails the gate.
r16 state: the NULL axis is EMPTY — all 73 r15 null-fuzz divergences
were converted to explicit contracts (COVERAGE.md "Null-determinism
contracts"); the EXTREME axis carries the engine-convention residue
(char-vs-byte length, XML/CSV unicode escaping, extreme-date
arithmetic) plus the three DESIGNED fail-fast span guards.

This suite pins the file's structure and that every entry names a real
registered query; set-equality with an actual fuzz run stays a
tool-level gate (it needs a mutated dataset and a full registry pass).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

ALLOWLIST = Path(__file__).resolve().parent.parent / "tools" / "fuzz_allowlist.json"


def _load():
    with open(ALLOWLIST) as fh:
        return json.load(fh)


def test_axes_present_and_well_formed():
    data = _load()
    assert set(data) >= {"null", "extreme"}
    for axis, entries in data.items():
        assert isinstance(entries, dict), axis
        for name, mech in entries.items():
            assert isinstance(mech, str) and mech.strip(), (axis, name)


def test_every_axis_is_a_make_sf_axis():
    """Each allowlisted axis is one tools/make_sf.py can build, so every
    residue names the command that reproduces it."""
    from tools.make_sf import AXES

    assert set(_load()) <= set(AXES)


def test_every_entry_names_a_registered_query():
    from __spark_entry__ import queries

    registry = set(queries())
    data = _load()
    for axis, entries in data.items():
        unknown = set(entries) - registry
        assert not unknown, f"{axis}: unknown queries {sorted(unknown)}"


def test_null_axis_is_empty():
    """r16 closed every null-fuzz divergence; an entry reappearing here
    means a contract regressed — fix the plan/oracle pair, don't
    re-allowlist without a mechanism writeup."""
    assert _load()["null"] == {}


def test_verify_oracle_loader_round_trips():
    """tools/verify_oracle.load_allowlist serves exactly this file and
    rejects unknown axes loudly (the --allowlist gate's foundation)."""
    from tools.verify_oracle import load_allowlist

    data = _load()
    for axis in data:
        assert load_allowlist(axis) == data[axis]
    import pytest

    with pytest.raises(SystemExit):
        load_allowlist("no_such_axis")


def test_expected_kinds_gate_semantics():
    """r17 (ADVICE): the --allowlist gate is kind-aware. A [kind]
    marker waives exactly that failure kind (designed fail-fast guards
    are [spark_error]); unmarked entries waive only data divergences —
    an allowlisted convention regressing into a crash must NOT hide
    behind its old waiver."""
    from tools.verify_oracle import expected_kinds

    got = expected_kinds(
        {
            "guard_q": "[spark_error] DESIGNED fail-fast: span guard",
            "conv_q": "char-vs-byte: engines count units differently",
        }
    )
    assert got["guard_q"] == {"spark_error"}
    assert got["conv_q"] == {"value", "rows", "schema"}
    assert "spark_error" not in got["conv_q"]


def test_designed_fail_fast_entries_carry_kind_markers():
    data = _load()
    for name, mech in data["extreme"].items():
        if "DESIGNED fail-fast" in mech:
            assert mech.startswith("[spark_error]"), name


def test_empty_axis_waives_no_crash():
    """Zero-row residue is data divergence only: an empty-input crash
    (the r15 sweep's class) must still fail the gate."""
    from tools.verify_oracle import expected_kinds

    kinds = expected_kinds(_load()["empty"])
    assert all("spark_error" not in k for k in kinds.values()), kinds
