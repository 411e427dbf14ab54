"""Tools and tests import the checkout they live in.

A hard-coded checkout path makes a tool run from another checkout (a
scratch A/B copy, a CI workspace) silently import and check the
package at that path instead of its own. Every path to the repo is
derived from ``__file__``.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted([*(REPO / "tools").glob("*.py"), *(REPO / "tests").glob("*.py")])


def _literal_sys_path_inserts(src: str) -> list[int]:
    """Lines of ``sys.path.insert(i, "<literal>")`` calls."""
    return [
        node.lineno
        for node in ast.walk(ast.parse(src))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "insert"
        and ast.unparse(node.func.value) == "sys.path"
        and len(node.args) == 2
        and isinstance(node.args[1], ast.Constant)
    ]


def test_no_script_names_its_checkout_path():
    hits = [str(f.relative_to(REPO)) for f in SCRIPTS if str(REPO) in f.read_text()]
    assert not hits, f"hard-coded checkout path {REPO} in: {hits}"


def test_no_literal_sys_path_entry():
    hits = {
        str(f.relative_to(REPO)): lines
        for f in SCRIPTS
        if (lines := _literal_sys_path_inserts(f.read_text()))
    }
    assert not hits, f"sys.path entries not derived from __file__: {hits}"


def test_literal_sys_path_scanner():
    assert _literal_sys_path_inserts(
        'import sys\nsys.path.insert(0, "/srv/checkout")\n'
        "sys.path.insert(0, str(Path(__file__).parent))\n"
    ) == [2]


# A deleted tool is named with the commit it last lived in, as
# ``<rev>:tools/x.py`` (what ``git show`` takes); the lookbehind skips it.
_TOOL_PATH = re.compile(r"(?<![\w:/])tools/\w+\.py")


def test_run_docs_name_only_existing_tools():
    assert _TOOL_PATH.findall("run tools/a.py, not c0dc757:tools/b.py") == ["tools/a.py"]
    missing = sorted(
        f"{doc}: {path}"
        for doc in ("README.md", "SCALING.md", "COVERAGE.md", ".claude/skills/verify/SKILL.md")
        for path in set(_TOOL_PATH.findall((REPO / doc).read_text()))
        if not (REPO / path).exists()
    )
    assert not missing, f"docs name tools that do not exist: {missing}"
