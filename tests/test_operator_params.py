"""Knob gate: an operator takes only the settings some caller sets.

A defaulted parameter that no call site passes is a constant with extra
steps: every reader must check whether some caller overrides it, and
every test must wonder which value to cover. This test scans every
function in ``operators/``, ``sources/``, ``streaming/`` and
``functions/`` and fails when one declares a defaulted parameter that
no call in the package, ``tools/``, ``perfbench/``, ``bench.py`` or
``tests/`` passes, by keyword or by position. Callees are matched by
name (a bare name or the attribute of a method call), so a call to any
function of the same name counts; a call with a ``**mapping`` argument
counts as passing every parameter, and one with ``*args`` every
positional parameter from that point on.

``compat.py`` sits outside those directories and stays exempt: its
signatures mirror the reference API.

Run as a script to print the defaulted-parameter count per package
directory: ``python tests/test_operator_params.py``."""

from __future__ import annotations

import ast
import collections
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "datalake_imagenes_georreferenciadas_spark"
DEF_DIRS = ("operators", "sources", "streaming", "functions")


def _call_files() -> list[Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in (PKG, REPO / "tools", REPO / "perfbench", REPO / "tests"):
        files += sorted(d.rglob("*.py"))
    return [f for f in files if f.exists()]


def _defaulted(fn: ast.FunctionDef, method: bool) -> tuple[list[str], list[str]]:
    """(positional parameter names as a caller sees them, defaulted names)."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    with_default = pos[len(pos) - len(a.defaults):] if a.defaults else []
    with_default += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    if method and pos and pos[0] in ("self", "cls"):
        pos = pos[1:]
    return pos, with_default


def _defs(path: Path):
    """Yield (function name, positional names, defaulted names) for every
    function or method defined in ``path``."""
    tree = ast.parse(path.read_text())

    def walk(node, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod"
                    for d in child.decorator_list
                )
                yield (child.name, *_defaulted(child, in_class and not static))
                yield from walk(child, False)
            elif isinstance(child, ast.ClassDef):
                yield from walk(child, True)
            else:
                yield from walk(child, in_class)

    yield from walk(tree, False)


def _passed() -> dict[str, list[tuple[int, set[str], bool]]]:
    """Callee name -> one (positional count, keyword names, passes-all)
    entry per call site; a starred positional makes the count unbounded."""
    calls: dict[str, list] = collections.defaultdict(list)
    for f in _call_files():
        for node in ast.walk(ast.parse(f.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
            if name is None:
                continue
            npos = len(node.args)
            if any(isinstance(a, ast.Starred) for a in node.args):
                npos = 10**6
            kws = {k.arg for k in node.keywords if k.arg is not None}
            calls[name].append((npos, kws, any(k.arg is None for k in node.keywords)))
    return calls


def def_files() -> list[Path]:
    return [f for d in DEF_DIRS for f in sorted((PKG / d).rglob("*.py"))]


def unpassed(files) -> list[tuple[str, str, str]]:
    """(module, function, parameter) for every defaulted parameter in
    ``files`` that no call site passes."""
    calls = _passed()
    out = []
    for f in files:
        for name, pos, defaulted in _defs(f):
            sites = calls.get(name, [])
            for p in defaulted:
                idx = pos.index(p) if p in pos else None
                if not any(
                    every or p in kws or (idx is not None and idx < npos)
                    for npos, kws, every in sites
                ):
                    out.append((str(f.relative_to(PKG)), name, p))
    return out


def defaulted_counts() -> dict[str, int]:
    """Package directory (or top-level module) -> defaulted-parameter count."""
    counts: collections.Counter = collections.Counter()
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG)
        key = rel.parts[0] if len(rel.parts) > 1 else str(rel)
        counts[key] += sum(len(d) for _, _, d in _defs(f))
    return dict(sorted(counts.items()))


def test_every_defaulted_parameter_has_a_caller():
    files = def_files()
    # the scan must see the defaulted parameters that do have callers,
    # or an empty result would prove nothing
    assert sum(len(d) for f in files for _, _, d in _defs(f)) > 50
    never = unpassed(files)
    assert not never, (
        "defaulted parameters that no call site passes — make each the "
        f"constant it always is: {never}"
    )


if __name__ == "__main__":
    for k, v in defaulted_counts().items():
        print(f"{k:20s} {v}")
    for site in unpassed(def_files()):
        print("unpassed", *site)
