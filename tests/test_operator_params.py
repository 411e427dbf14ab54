"""Knob gate: a setting stays only where two callers that are not tests
need different values.

A defaulted parameter is an option. It pays for itself only when two
callers outside ``tests/`` pass different values; otherwise it is a
constant with extra steps, and a test that passes a second value
checks a configuration no registered query runs. This test scans
every function in ``operators/``, ``sources/``, ``streaming/``,
``functions/``, ``plans/`` and ``catalog/`` and reads the calls in the
package, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py`` — never ``tests/``. A defaulted parameter fails

- when those calls give it one value: make it a module constant;
- when none of them omits it: drop the default, so it is required.

Per call site:

- an omitted argument counts as the default;
- a literal (``5``, ``"inner"``, ``None``, ``(1, 2)``) counts as itself;
- a bare name that is a parameter of the enclosing function (and is not
  rebound in it) takes that parameter's values at the enclosing
  function's own call sites, found by the same rule; a required
  parameter whose function no call names counts as varying;
- anything else counts as varying: any other expression, a ``*args``
  that reaches the parameter's position, or a ``**mapping`` (the last
  two may also omit it).

Callees are matched by name (a bare name or the attribute of a method
call), so a call to any function of the same name counts. A parameter
no call passes gives one value, its default, and fails too.

The only exemptions are ``TEST_SEAMS``: parameters through which a
test reaches a path it cannot reach at test scale. A seam that no test
passes fails. ``compat.py`` sits outside the gated directories and
stays exempt: its signatures mirror the reference API.

The dead-operator gate rides along: a module-level function in
``operators/``, ``sources/``, ``streaming/`` or ``functions/`` that no
code outside ``tests/`` uses (calls, passes as a value or decorates) has
semantics no registered query's oracle checks, so it fails too.

Run as a script to print the defaulted-parameter count per package
directory, each defaulted parameter of the gated directories with its
values outside ``tests/``, every failure, the ``TEST_SEAMS`` table and
every dead function: ``python tests/test_operator_params.py``."""

from __future__ import annotations

import ast
import collections
from dataclasses import dataclass
from pathlib import Path

from call_sites import used_names

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "datalake_imagenes_georreferenciadas_spark"
DEAD_DIRS = ("operators", "sources", "streaming", "functions")
DEF_DIRS = DEAD_DIRS + ("plans", "catalog")
VARYING = "varying"

# (module relative to the package, function, parameter) -> the path a
# test reaches through it that test-scale data cannot reach.
TEST_SEAMS: dict[tuple[str, str, str], str] = {
    ("sources/sevenzip.py", "write_7z", "codec"):
        "the reader's other coders (copy, LZMA, bzip2, deflate); the package writes LZMA2 only",
    ("operators/dedup.py", "components_from_edges", "small_graph_threshold"):
        "the distributed label-propagation path, which starts above 250,000 edges",
    ("operators/dedup.py", "dedup_components", "small_graph_threshold"):
        "the distributed label-propagation path, which starts above 250,000 edges",
    ("plans/queries.py", "_driver_check_state", "repo"):
        "a fake CORRECTNESS dir for the rotation's staleness order",
    ("plans/queries.py", "_rotated", "repo"):
        "a fake CORRECTNESS dir for the rotation's staleness order",
}


def _call_files() -> list[Path]:
    """Every file whose calls count: the package, tools, perfbench,
    bench.py and the driver entry."""
    files = [REPO / "bench.py", REPO / "__spark_entry__.py"]
    for d in (PKG, REPO / "tools", REPO / "perfbench"):
        files += sorted(d.rglob("*.py"))
    return [f for f in files if f.exists()]


def _test_files() -> list[Path]:
    return sorted((REPO / "tests").rglob("*.py"))


def _module(path: Path) -> str:
    return str(path.relative_to(PKG)) if path.is_relative_to(PKG) else path.name


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


def _arg(call: ast.Call, d: Def, p: str):
    """The expression ``call`` passes as ``d``'s parameter ``p``;
    ``None`` when it omits it, ``VARYING`` when a ``*args`` that reaches
    its position or a ``**mapping`` may or may not pass it."""
    idx = d.pos.index(p) if p in d.pos else None
    kw = [k.value for k in call.keywords if k.arg == p]
    star = next((i for i, a in enumerate(call.args) if isinstance(a, ast.Starred)), None)
    if kw:
        return kw[0]
    if idx is not None and star is not None and star <= idx:
        return VARYING
    if idx is not None and idx < len(call.args):
        return call.args[idx]
    if any(k.arg is None for k in call.keywords):
        return VARYING
    return None


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
        vals: set = set()
        for call, scope in self.calls.get(d.name, []):
            arg = _arg(call, d, p)
            if arg is None and p in d.defaults:
                vals.add(self._token(d.defaults[p], None))
                continue
            if arg is None:
                continue  # a same-named callee with another signature
            v = VARYING if arg is VARYING else self._token(arg, scope)
            if v == VARYING:
                return VARYING
            vals |= v if isinstance(v, set) else {v}
        if not vals:  # no call names this signature
            return {self._token(d.defaults[p], None)} if p in d.defaults else VARYING
        return vals

    def omitted(self, d: Def, p: str) -> bool:
        """Whether some call may omit ``p`` (no call at all: the default
        is all it ever is)."""
        calls = self.calls.get(d.name, [])
        return not calls or any(_arg(call, d, p) in (None, VARYING) for call, _ in calls)

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


def def_files(dirs=DEF_DIRS) -> list[Path]:
    return [f for d in dirs for f in sorted((PKG / d).rglob("*.py"))]


def _defaulted(files, call_files):
    """Yield ``(module, function, parameter, values, omitted)`` for every
    defaulted parameter defined in ``files``, read from the calls in
    ``call_files``."""
    files = list(files)
    values = Values(sorted(set(call_files) | set(files)))
    for d in values.defs:
        if d.path in files:
            for p in d.defaults:
                yield _module(d.path), d.name, p, values.of(d, p), values.omitted(d, p)


def _passed_by(seams, files, test_files) -> set[tuple[str, str, str]]:
    """The seams some call in ``test_files`` passes explicitly."""
    defs = Values(files).defs
    tests = Values(test_files)
    out = set()
    for d in defs:
        for p in d.defaults:
            site = (_module(d.path), d.name, p)
            if site in seams and any(
                _arg(call, d, p) not in (None, VARYING) for call, _ in tests.calls.get(d.name, [])
            ):
                out.add(site)
    return out


def knob_failures(
    files, call_files=None, test_files=None, seams=None
) -> list[tuple[str, str, str, str]]:
    """(module, function, parameter, why) for every defaulted parameter
    defined in ``files`` that the calls in ``call_files`` (default: the
    package, tools, perfbench, bench.py and the driver entry) give one
    value or never omit, and for every seam that no call in
    ``test_files`` (default: ``tests/``) passes."""
    files = list(files)
    call_files = _call_files() if call_files is None else call_files
    test_files = _test_files() if test_files is None else test_files
    seams = TEST_SEAMS if seams is None else seams
    out = []
    for mod, fn, p, v, omitted in _defaulted(files, call_files):
        if (mod, fn, p) in seams:
            continue
        if v != VARYING and len(v) == 1:
            out.append((mod, fn, p, "one value " + next(iter(v))[1]))
        elif not omitted:
            out.append((mod, fn, p, "no call omits it"))
    passed = _passed_by(seams, files, test_files)
    out += [(*site, "seam no test passes") for site in seams if site not in passed]
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
    # the scan must see the defaulted parameters that do vary, or an
    # empty result would prove nothing
    assert sum(n for k, n in defaulted_counts().items() if k in DEF_DIRS) > 20
    failures = knob_failures(def_files())
    assert not failures, (
        "defaulted parameters that the calls outside tests give one value "
        "(make each the constant it always is) or never omit (drop the "
        f"default), and seams no test passes: {failures}"
    )


def dead_functions(files, call_files=None) -> list[tuple[str, str]]:
    """(module, function) of every undecorated module-level function in
    ``files`` whose name no file of ``call_files`` (default: the knob
    gate's call files) reads."""
    used = used_names(_call_files() if call_files is None else call_files)
    out = []
    for f in files:
        for node in ast.parse(f.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.decorator_list and node.name not in used:
                out.append((_module(f), node.name))
    return out


def test_every_operator_has_a_caller_outside_tests():
    dead = dead_functions(def_files(DEAD_DIRS))
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
    for mod, fn, p, v, omitted in _defaulted(def_files(), _call_files()):
        shown = v if v == VARYING else ", ".join(sorted(t[1] for t in v))
        print("param", mod, fn, p, shown, "" if omitted else "(never omitted)")
    for site in knob_failures(def_files()):
        print("FAIL", *site)
    for site, reason in TEST_SEAMS.items():
        print("seam", *site, "--", reason)
    for site in dead_functions(def_files(DEAD_DIRS)):
        print("dead", *site)


def _flagged(tmp_path, source: str, tests: str = "", seams=None) -> set[tuple[str, str, str]]:
    """Knob failures (function, parameter, why) of one synthetic module
    that is its own only caller outside tests; ``tests`` is the source
    of its one test module."""
    f, t = tmp_path / "mod.py", tmp_path / "test_mod.py"
    f.write_text(source)
    t.write_text(tests)
    return {site[1:] for site in knob_failures([f], [f], [t], seams or {})}


def test_scan_flags_a_default_every_call_gives_its_own_value(tmp_path):
    src = "def f(x, k=3):\n    return x\n\nf(1, k=3)\nf(2, 3)\nf(3)\n"
    assert _flagged(tmp_path, src) == {("f", "k", "one value 3")}
    # no call at all: the default is the only value
    assert _flagged(tmp_path, "def f(x, k=3):\n    return x\n") == {("f", "k", "one value 3")}


def test_scan_passes_two_literals(tmp_path):
    assert _flagged(tmp_path, "def f(x, k=3):\n    return x\n\nf(1)\nf(2, k=4)\n") == set()


def test_scan_flags_a_value_only_a_test_passes(tmp_path):
    src = "def f(x, k=3):\n    return x\n\nf(1)\n"
    assert _flagged(tmp_path, src, tests="from mod import f\n\nf(2, k=4)\n") == {
        ("f", "k", "one value 3")
    }


def test_scan_flags_a_default_no_call_omits(tmp_path):
    src = "def f(x, k=3):\n    return x\n\nf(1, k=3)\nf(2, k=4)\n"
    assert _flagged(tmp_path, src) == {("f", "k", "no call omits it")}
    # a test that omits it does not count
    assert _flagged(tmp_path, src, tests="f(3)\n") == {("f", "k", "no call omits it")}


def test_scan_exempts_a_seam_only_while_a_test_passes_it(tmp_path):
    src = "def f(x, k=3):\n    return x\n\nf(1)\n"
    seams = {("mod.py", "f", "k"): "a path test-scale data cannot reach"}
    assert _flagged(tmp_path, src, tests="f(2, k=4)\n", seams=seams) == set()
    stale = {("f", "k", "seam no test passes")}
    assert _flagged(tmp_path, src, tests="f(2)\n", seams=seams) == stale


def test_scan_forwarded_parameter_takes_its_callers_values(tmp_path):
    src = (
        "def f(x, k=3):\n    return x\n\n"
        "def g(y, k=3):\n    return f(y, k)\n\n"
        "g(1)\ng(2, k=3)\n"
    )
    assert _flagged(tmp_path, src) == {("f", "k", "one value 3"), ("g", "k", "one value 3")}
    # g varies, and f takes g's values but no call omits f's k
    assert _flagged(tmp_path, src + "g(3, k=5)\n") == {("f", "k", "no call omits it")}
    # a defaulted parameter of a function no call names is its default
    src = "def f(x, k=3):\n    return x\n\ndef g(y, k=3):\n    return f(y, k)\n"
    assert _flagged(tmp_path, src) == {("f", "k", "one value 3"), ("g", "k", "one value 3")}
    # a required parameter of a function no call names is unknown
    src = "def f(x, k=3):\n    return x\n\ndef h(z):\n    return f(1, k=z)\n\nf(2)\n"
    assert _flagged(tmp_path, src) == set()
    # a forwarded name the caller rebinds is not its parameter's value
    src = (
        "def f(x, k=3):\n    return x\n\n"
        "def g(y, k=3):\n    k = k + 1\n    return f(y, k=k)\n\ng(1)\n"
    )
    assert _flagged(tmp_path, src) == {("g", "k", "one value 3"), ("f", "k", "no call omits it")}


def test_scan_counts_non_literal_star_and_mapping_arguments_as_varying(tmp_path):
    head = "def f(x, k=3):\n    return x\n\nf(1)\n"
    for call in ("f(1, k=N)", "f(*args)", "f(1, **kw)", "f(1, k=3 + 1)"):
        assert _flagged(tmp_path, head + call + "\n") == set(), call
    # a *args that ends before the parameter's position leaves it omitted
    assert _flagged(tmp_path, head + "f(*args, k=3)\n") == {("f", "k", "one value 3")}
