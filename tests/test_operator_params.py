"""Knob gate: an operator keeps a setting only if callers give it two values.

A defaulted parameter that every call site gives the same value is a
constant with extra steps: every reader must check whether some caller
overrides it, and every test must wonder which value to cover. This test
scans every function in ``operators/``, ``sources/``, ``streaming/`` and
``functions/`` and fails when a defaulted parameter takes one literal
value at every call in the package, ``tools/``, ``perfbench/``,
``bench.py`` and ``tests/``. Per call site:

- an omitted argument counts as the default;
- a literal (``5``, ``"inner"``, ``None``, ``(1, 2)``) counts as itself;
- a bare name that is a parameter of the enclosing function (and is not
  rebound in it) takes that parameter's values at the enclosing
  function's own call sites, found by the same rule; a required
  parameter whose function no call names counts as varying;
- anything else counts as varying: any other expression, a ``*args``
  that reaches the parameter's position, or a ``**mapping``.

Callees are matched by name (a bare name or the attribute of a method
call), so a call to any function of the same name counts. A parameter
no call passes gives one value, its default, and fails too.

``compat.py`` sits outside those directories and stays exempt: its
signatures mirror the reference API.

The dead-operator gate rides along: a module-level function in those
directories that no code outside ``tests/`` uses (calls, passes as a
value or decorates) has semantics no registered query's oracle checks,
so it fails too.

Run as a script to print the defaulted-parameter count per package
directory, every single-valued parameter and every dead function:
``python tests/test_operator_params.py``."""

from __future__ import annotations

import ast
import collections
from dataclasses import dataclass
from pathlib import Path

from call_sites import used_names

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "datalake_imagenes_georreferenciadas_spark"
DEF_DIRS = ("operators", "sources", "streaming", "functions")
VARYING = "varying"


def _call_files() -> list[Path]:
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in (PKG, REPO / "tools", REPO / "perfbench", REPO / "tests"):
        files += sorted(d.rglob("*.py"))
    return [f for f in files if f.exists()]


@dataclass(eq=False)
class Def:
    """A function as its callers see it."""

    path: Path
    name: str
    pos: list[str]  # positional names, without a method's self/cls
    params: set[str]  # every named parameter, keyword-only ones too
    defaults: dict[str, ast.expr]
    rebound: set[str]  # names the body assigns


def _def(path: Path, fn: ast.FunctionDef, method: bool) -> Def:
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    defaults = dict(zip(pos[len(pos) - len(a.defaults):], a.defaults))
    defaults.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None)
    if method and pos and pos[0] in ("self", "cls"):
        pos = pos[1:]
    rebound = {
        n.id for stmt in fn.body for n in ast.walk(stmt)
        if isinstance(n, ast.Name) and isinstance(n.ctx, (ast.Store, ast.Del))
    }
    params = set(pos) | {p.arg for p in a.kwonlyargs}
    return Def(path, fn.name, pos, params, defaults, rebound)


class _Scan(ast.NodeVisitor):
    """Collects every function of a file as a ``Def`` and every call as
    ``(Call, scope)``; the scope is the innermost enclosing ``Def``, a
    ``Lambda`` or ``None`` at module level."""

    def __init__(self, path: Path, defs: list, calls: dict):
        self.path, self.defs, self.calls = path, defs, calls
        self.scopes: list = [None]
        self.in_class = [False]

    def visit_FunctionDef(self, node):
        # decorators and defaults run in the enclosing scope
        for e in node.decorator_list + node.args.defaults + node.args.kw_defaults:
            if e is not None:
                self.visit(e)
        static = any(isinstance(d, ast.Name) and d.id == "staticmethod" for d in node.decorator_list)
        d = _def(self.path, node, self.in_class[-1] and not static)
        self.defs.append(d)
        self.scopes.append(d)
        self.in_class.append(False)
        for stmt in node.body:
            self.visit(stmt)
        self.scopes.pop()
        self.in_class.pop()

    visit_AsyncFunctionDef = visit_FunctionDef

    def visit_ClassDef(self, node):
        for e in node.decorator_list + node.bases + [k.value for k in node.keywords]:
            self.visit(e)
        self.in_class.append(True)
        for stmt in node.body:
            self.visit(stmt)
        self.in_class.pop()

    def visit_Lambda(self, node):
        self.scopes.append(node)
        self.generic_visit(node)
        self.scopes.pop()

    def visit_Call(self, node):
        fn = node.func
        name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
        if name is not None:
            self.calls[name].append((node, self.scopes[-1]))
        self.generic_visit(node)


class Values:
    """The set of values the call sites give a parameter, or ``VARYING``
    when some site's value cannot be read from the source."""

    def __init__(self, files):
        self.defs: list[Def] = []
        self.calls: dict[str, list] = collections.defaultdict(list)
        for f in files:
            _Scan(f, self.defs, self.calls).visit(ast.parse(f.read_text()))
        self.memo: dict = {}

    def of(self, d: Def, p: str):
        key = (id(d), p)
        if key not in self.memo:
            self.memo[key] = VARYING  # a cycle of forwards reads as varying
            self.memo[key] = self._of(d, p)
        return self.memo[key]

    def _of(self, d: Def, p: str):
        idx = d.pos.index(p) if p in d.pos else None
        vals: set = set()
        for call, scope in self.calls.get(d.name, []):
            kw = [k.value for k in call.keywords if k.arg == p]
            star = next((i for i, a in enumerate(call.args) if isinstance(a, ast.Starred)), None)
            if kw:
                arg = kw[0]
            elif idx is not None and star is not None and star <= idx:
                return VARYING
            elif idx is not None and idx < len(call.args):
                arg = call.args[idx]
            elif any(k.arg is None for k in call.keywords):
                return VARYING
            elif p in d.defaults:
                vals.add(self._token(d.defaults[p], None))
                continue
            else:
                continue  # a same-named callee with another signature
            v = self._token(arg, scope)
            if v == VARYING:
                return VARYING
            vals |= v if isinstance(v, set) else {v}
        if not vals:  # no call names this signature
            return {self._token(d.defaults[p], None)} if p in d.defaults else VARYING
        return vals

    def _token(self, node: ast.expr, scope):
        try:
            return ("literal", repr(ast.literal_eval(node)))
        except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
            pass
        if scope is None:  # a non-literal default: still one value
            return ("default", ast.unparse(node))
        if (
            isinstance(scope, Def)
            and isinstance(node, ast.Name)
            and node.id not in scope.rebound
            and node.id in scope.params
        ):
            return self.of(scope, node.id)
        return VARYING


def def_files() -> list[Path]:
    return [f for d in DEF_DIRS for f in sorted((PKG / d).rglob("*.py"))]


def single_valued(files, call_files=None) -> list[tuple[str, str, str, str]]:
    """(module, function, parameter, its one value) for every defaulted
    parameter defined in ``files`` that every call site in
    ``call_files`` (default: the package, tools, perfbench, bench.py and
    tests) gives one literal value."""
    files = list(files)
    values = Values(sorted(set(_call_files() if call_files is None else call_files) | set(files)))
    out = []
    for d in values.defs:
        if d.path not in files:
            continue
        for p in d.defaults:
            v = values.of(d, p)
            if v != VARYING and len(v) == 1:
                root = PKG if d.path.is_relative_to(PKG) else d.path.parent
                out.append((str(d.path.relative_to(root)), d.name, p, next(iter(v))[1]))
    return out


def defaulted_counts() -> dict[str, int]:
    """Package directory (or top-level module) -> defaulted-parameter count."""
    counts: collections.Counter = collections.Counter()
    for f in sorted(PKG.rglob("*.py")):
        rel = f.relative_to(PKG)
        key = rel.parts[0] if len(rel.parts) > 1 else str(rel)
        defs: list[Def] = []
        _Scan(f, defs, collections.defaultdict(list)).visit(ast.parse(f.read_text()))
        counts[key] += sum(len(d.defaults) for d in defs)
    return dict(sorted(counts.items()))


def test_every_defaulted_parameter_takes_two_values():
    files = def_files()
    # the scan must see the defaulted parameters that do vary, or an
    # empty result would prove nothing
    assert sum(n for k, n in defaulted_counts().items() if k in DEF_DIRS) > 50
    single = single_valued(files)
    assert not single, (
        "defaulted parameters that every call site gives one value — make "
        f"each the constant it always is: {single}"
    )


def dead_functions(files, call_files=None) -> list[tuple[str, str]]:
    """(module, function) of every undecorated module-level function in
    ``files`` whose name no file of ``call_files`` (default: the knob
    gate's call files outside ``tests/``) reads."""
    if call_files is None:
        call_files = [f for f in _call_files() if not f.is_relative_to(REPO / "tests")]
    used = used_names(call_files)
    out = []
    for f in files:
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.decorator_list and node.name not in used:
                root = PKG if f.is_relative_to(PKG) else f.parent
                out.append((str(f.relative_to(root)), node.name))
    return out


def test_every_operator_has_a_caller_outside_tests():
    dead = dead_functions(def_files())
    assert not dead, (
        "functions only tests call — route a registered query through each, "
        f"or delete it: {dead}"
    )


def test_dead_scan_sees_calls_callbacks_and_decorators(tmp_path):
    f = tmp_path / "mod.py"
    f.write_text(
        "import atexit\n\ndef used():\n    pass\n\ndef callback(r):\n    pass\n\n"
        "def dead():\n    used()\n    return run(callback)\n\n"
        "@atexit.register\ndef hook():\n    pass\n"
    )
    assert dead_functions([f], [f]) == [("mod.py", "dead")]


if __name__ == "__main__":
    for k, v in defaulted_counts().items():
        print(f"{k:20s} {v}")
    for site in single_valued(def_files()):
        print("single", *site)
    for site in dead_functions(def_files()):
        print("dead", *site)


def _flagged(tmp_path, source: str) -> set[tuple[str, str, str]]:
    """Single-valued (function, parameter, value) of one synthetic module
    that is its own only caller."""
    f = tmp_path / "mod.py"
    f.write_text(source)
    return {site[1:] for site in single_valued([f], [f])}


def test_scan_flags_a_default_every_call_gives_its_own_value(tmp_path):
    src = "def f(x, k=3):\n    return x\n\nf(1, k=3)\nf(2, 3)\nf(3)\n"
    assert _flagged(tmp_path, src) == {("f", "k", "3")}
    # no call at all: the default is the only value
    assert _flagged(tmp_path, "def f(x, k=3):\n    return x\n") == {("f", "k", "3")}


def test_scan_passes_two_literals(tmp_path):
    assert _flagged(tmp_path, "def f(x, k=3):\n    return x\n\nf(1, k=3)\nf(2, k=4)\n") == set()
    # an omitted argument is the default: 3 and 4 again
    assert _flagged(tmp_path, "def f(x, k=3):\n    return x\n\nf(1)\nf(2, k=4)\n") == set()


def test_scan_forwarded_parameter_takes_its_callers_values(tmp_path):
    src = (
        "def f(x, k=3):\n    return x\n\n"
        "def g(y, k=3):\n    return f(y, k)\n\n"
        "g(1)\ng(2, k=3)\n"
    )
    assert _flagged(tmp_path, src) == {("f", "k", "3"), ("g", "k", "3")}
    assert _flagged(tmp_path, src + "g(3, k=5)\n") == set()
    # a defaulted parameter of a function no call names is its default
    src = "def f(x, k=3):\n    return x\n\ndef g(y, k=3):\n    return f(y, k)\n"
    assert _flagged(tmp_path, src) == {("f", "k", "3"), ("g", "k", "3")}
    # a required parameter of a function no call names is unknown
    src = "def f(x, k=3):\n    return x\n\ndef h(z):\n    return f(1, k=z)\n\nf(2)\n"
    assert _flagged(tmp_path, src) == set()
    # a forwarded name the caller rebinds is not its parameter's value
    src = (
        "def f(x, k=3):\n    return x\n\n"
        "def g(y, k=3):\n    k = k + 1\n    return f(y, k=k)\n\ng(1)\n"
    )
    assert _flagged(tmp_path, src) == {("g", "k", "3")}


def test_scan_counts_non_literal_star_and_mapping_arguments_as_varying(tmp_path):
    head = "def f(x, k=3):\n    return x\n\nf(1)\n"
    for call in ("f(1, k=N)", "f(*args)", "f(1, **kw)", "f(1, k=3 + 1)"):
        assert _flagged(tmp_path, head + call + "\n") == set(), call
    # a *args that ends before the parameter's position leaves it omitted
    assert _flagged(tmp_path, head + "f(*args, k=3)\n") == {("f", "k", "3")}
