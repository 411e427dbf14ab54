"""Python-kernel review gate (r09, the g1_trend_fit lesson): every
JVM<->Python boundary — ``applyInPandas`` / ``mapInPandas`` /
``mapInArrow`` / ``applyInPandasWithState`` / ``pandas_udf`` /
``udtf`` / row-at-a-time ``F.udf`` — pays per-batch Arrow transfer
plus a Python worker pool, so it is ONLY allowed where no JVM built-in
can express the kernel: byte-level decode of binary columns, archive
codecs, stateful sketch merges with no closed form, cogrouped custom
reconciliation, or the Python API surface itself being the component
under test.

Closed-form arithmetic must stay in ``pyspark.sql.functions``:
g1_trend_fit computed least-squares slopes inside a grouped
applyInPandas kernel at 12x the cost of the built-in ``regr_slope``
before its r09 rewrite. tools/verify_oracle.py enforces the same
invariant at the PHYSICAL-PLAN level (tools/plan_audit.ALLOWED_PYTHON);
this test pins the SOURCE-level call sites by (module, enclosing
function) so a new kernel fails the suite immediately — adding an
entry here is the review step: state why no built-in can express it.

Row-at-a-time ``F.udf`` has no allowlist at all — the repo ships zero
and must stay at zero (an Arrow kernel is the floor for unavoidable
Python).

The list -> Python-RDD boundary: ``createDataFrame`` on a Python list
pickles the rows into a Python RDD, so every job that reads the frame
starts Python workers, and the relation has unknown size stats, so
Catalyst never broadcasts it unhinted. Driver-side rows enter Spark only
through ``tables.local_frame`` (an Arrow ``LocalRelation``); it is the
one ``createDataFrame`` call the package may make.
"""

from __future__ import annotations

import ast
import collections
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "datalake_imagenes_georreferenciadas_spark"

# Attribute-call names that cross into a Python worker.
KERNEL_ATTRS = {
    "applyInPandas",
    "mapInPandas",
    "mapInArrow",
    "applyInPandasWithState",
    "transformWithStateInPandas",
}
# Bare/attribute function names that build Python-eval expressions.
FACTORY_NAMES = {"pandas_udf", "udtf"}
# Never allowed anywhere: the row-at-a-time path.
FORBIDDEN_NAMES = {"udf"}
# The only call site that may build a DataFrame from driver-side data.
FRAME_SITES = {("tables.py", "local_frame"): 1}

# (module relative to the package, enclosing function) -> site count.
# Every entry is a kernel with no JVM built-in equivalent.
ALLOWED: dict[tuple[str, str], int] = {
    # binary decode kernels — image/archive bytes have no Spark
    # expression surface; Arrow batches over mapInPandas IS the design
    # (the resize / frame / audio digest stubs are built-in expressions)
    ("sources/binary.py", "extract_image_meta"): 1,  # EXIF/GeoTIFF byte walk
    ("sources/binary.py", "extract_archives"): 1,  # zip/tar/gz/bz2/xz codecs
    # sketch merges — no closed form, merge logic IS the operator
    ("operators/tdigest.py", "sketch"): 1,  # per-batch centroids
    ("operators/tdigest.py", "quantiles_from_centroids"): 1,  # single-group merge
    # custom grouped/cogrouped kernels
    ("plans/q06_training.py", "g2_cogroup_merge"): 1,  # cogrouped reconciliation
    ("streaming/stateful.py", "running_totals"): 1,  # GroupState op
    # deliberate API-surface demonstrations with JVM twins benched
    # beside them (f17_cosine_topk / the expression-only segmenters)
    ("plans/q03_ext.py", "f17_cosine_pandas"): 1,  # Arrow-vs-JVM twin
    # 2 sites: the @udtf(returnType=...) decorator + spark.udtf.register
    # (the register form is counted since the r10 scanner tightening)
    ("plans/q04_ext.py", "f18_python_udtf"): 2,  # the UDTF surface itself
}

# One body per kernel: a second body picked by an import probe never runs
# where its library is missing, and a private py4j handle read ties the
# package to the classic gateway (absent under Spark Connect).
PROBE_EXCEPTIONS = {"ImportError", "ModuleNotFoundError"}
PRIVATE_HANDLES = {"_jc", "_jdf", "_jvm", "_jsc"}


def _scan(files, root: Path, names=KERNEL_ATTRS | FACTORY_NAMES):
    """(site -> count of calls/decorators in ``names``, forbidden sites)."""
    kernels: collections.Counter = collections.Counter()
    forbidden: list[tuple[str, str]] = []
    for f in files:
        tree = ast.parse(f.read_text())
        stack: list[str] = []

        class V(ast.NodeVisitor):
            def visit_FunctionDef(self, node):
                stack.append(node.name)
                # BARE decorators (@udtf / @pandas_udf / @udf with no
                # parentheses) are ast.Name/Attribute nodes, not Calls —
                # r09 ADVICE #2: they escaped both checks. Parenthesized
                # decorators are Call nodes and are counted by
                # visit_Call via generic_visit (not double-counted here).
                site = (str(f.relative_to(root)), node.name)
                for dec in node.decorator_list:
                    dname = None
                    if isinstance(dec, ast.Attribute):
                        dname = dec.attr
                    elif isinstance(dec, ast.Name):
                        dname = dec.id
                    if dname in names:
                        kernels[site] += 1
                    if dname in FORBIDDEN_NAMES:
                        forbidden.append(site)
                self.generic_visit(node)
                stack.pop()

            visit_AsyncFunctionDef = visit_FunctionDef

            def visit_Call(self, node):
                fn = node.func
                name = None
                if isinstance(fn, ast.Attribute):
                    name = fn.attr
                elif isinstance(fn, ast.Name):
                    name = fn.id
                site = (str(f.relative_to(root)), stack[-1] if stack else "<module>")
                if name in names:
                    kernels[site] += 1
                if name in FORBIDDEN_NAMES:
                    forbidden.append(site)
                if name == "register" and isinstance(fn, ast.Attribute):
                    # r09 ADVICE #2: spark.udf.register(name, fn) builds
                    # the same row-at-a-time eval path as F.udf but the
                    # Call's attr is 'register', so it escaped the ban.
                    # spark.udtf.register is the UDTF surface — a kernel
                    # site needing review, not an outright ban.
                    base = fn.value
                    battr = (
                        base.attr
                        if isinstance(base, ast.Attribute)
                        else base.id if isinstance(base, ast.Name) else None
                    )
                    if battr == "udf":
                        forbidden.append(site)
                    elif battr == "udtf" and "udtf" in names:
                        kernels[site] += 1
                self.generic_visit(node)

        V().visit(tree)
    return dict(kernels), forbidden


def test_every_python_kernel_site_is_reviewed():
    found, _ = _scan(sorted(PKG.rglob("*.py")), PKG)
    new = {k: v for k, v in found.items() if k not in ALLOWED}
    grown = {
        k: (v, ALLOWED[k]) for k, v in found.items() if k in ALLOWED and v > ALLOWED[k]
    }
    assert not new and not grown, (
        "unreviewed Python-kernel call sites (add to ALLOWED only if no "
        f"JVM built-in can express the kernel): new={new} grown={grown}"
    )


def test_zero_row_at_a_time_udfs():
    """F.udf / spark.udf calls are banned outright — Arrow kernels are
    the floor for unavoidable Python."""
    _, forbidden = _scan(sorted(PKG.rglob("*.py")), PKG)
    assert not forbidden, f"row-at-a-time udf() call sites: {forbidden}"


def test_allowlist_has_no_stale_entries():
    found, _ = _scan(sorted(PKG.rglob("*.py")), PKG)
    stale = [k for k in ALLOWED if k not in found]
    assert not stale, f"allowlist entries with no call site: {stale}"


def test_driver_rows_enter_spark_only_through_local_frame():
    """Every ``createDataFrame`` in the package is the one inside
    ``tables.local_frame``: a list input would cross the list ->
    Python-RDD boundary."""
    found, _ = _scan(sorted(PKG.rglob("*.py")), PKG, {"createDataFrame"})
    assert found == FRAME_SITES, (
        "createDataFrame outside tables.local_frame (build driver-side "
        f"rows with local_frame instead): {found}"
    )


def _second_bodies(files, root: Path) -> list[tuple[str, int, str]]:
    """(module, line, name) of every ``except ImportError`` /
    ``ModuleNotFoundError`` handler and every private py4j handle read."""
    found = []
    for f in files:
        rel = str(f.relative_to(root))
        for node in ast.walk(ast.parse(f.read_text())):
            if isinstance(node, ast.ExceptHandler) and node.type is not None:
                types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
                for t in types:
                    name = t.attr if isinstance(t, ast.Attribute) else getattr(t, "id", None)
                    if name in PROBE_EXCEPTIONS:
                        found.append((rel, node.lineno, name))
            elif isinstance(node, ast.Attribute) and node.attr in PRIVATE_HANDLES:
                found.append((rel, node.lineno, node.attr))
    return found


def test_no_import_probes_or_private_handles():
    found = _second_bodies(sorted(PKG.rglob("*.py")), PKG)
    assert not found, (
        "import-probed second bodies or private py4j handle reads "
        f"(keep one body per kernel): {found}"
    )


def test_second_body_scanner_catches_probes_and_handles(tmp_path):
    f = tmp_path / "m.py"
    f.write_text(
        "try:\n    import PIL\nexcept ImportError:\n    PIL = None\n"
        "try:\n    import osgeo\nexcept (OSError, builtins.ModuleNotFoundError):\n    pass\n"
        "def f(col, df):\n    return col._jc.toString(), df._jdf, df.sparkSession._jvm\n"
        "try:\n    pass\nexcept Exception:\n    pass\n"
    )
    assert sorted(_second_bodies([f], tmp_path)) == [
        ("m.py", 3, "ImportError"),
        ("m.py", 7, "ModuleNotFoundError"),
        ("m.py", 10, "_jc"),
        ("m.py", 10, "_jdf"),
        ("m.py", 10, "_jvm"),
    ]


def _scan_src(src: str, tmp_path, names=KERNEL_ATTRS | FACTORY_NAMES):
    f = tmp_path / "m.py"
    f.write_text(src)
    return _scan([f], tmp_path, names)


def test_scanner_catches_create_dataframe(tmp_path):
    src = (
        "def rows(spark):\n    return spark.createDataFrame([(1,)], 'a int')\n"
        "def fixture(df):\n    return df.sparkSession.createDataFrame([], 'a int')\n"
        "def kernel(df):\n    spark.udtf.register('t', T)\n"
    )
    found, _ = _scan_src(src, tmp_path, {"createDataFrame"})
    assert found == {("m.py", "rows"): 1, ("m.py", "fixture"): 1}


def test_scanner_catches_udf_register(tmp_path):
    """r09 ADVICE #2: spark.udf.register is the row-at-a-time path with
    a different Call attr — must be forbidden like F.udf."""
    _, forbidden = _scan_src(
        "def setup(spark):\n    spark.udf.register('f', lambda x: x)\n",
        tmp_path,
    )
    assert forbidden == [("m.py", "setup")]
    # udtf.register is a kernel site (reviewable), not an outright ban
    kernels, forbidden2 = _scan_src(
        "def setup(spark):\n    spark.udtf.register('t', T)\n", tmp_path
    )
    assert not forbidden2 and kernels == {("m.py", "setup"): 1}
    # an unrelated .register (e.g. codec registry) must NOT trip the gate
    kernels3, forbidden3 = _scan_src(
        "def setup(reg):\n    reg.codecs.register('gz', open_gz)\n", tmp_path
    )
    assert not forbidden3 and not kernels3


def test_scanner_catches_bare_decorators(tmp_path):
    """r09 ADVICE #2: @udtf / @pandas_udf / @udf without parentheses are
    Name/Attribute decorator nodes, not Calls — must still be counted."""
    kernels, forbidden = _scan_src(
        "from pyspark.sql.functions import pandas_udf, udtf, udf\n"
        "@pandas_udf\ndef k1(s):\n    return s\n"
        "@udtf\nclass_like = None\n"
        "@udf\ndef k2(x):\n    return x\n".replace("@udtf\nclass_like = None\n", ""),
        tmp_path,
    )
    assert kernels == {("m.py", "k1"): 1}
    assert forbidden == [("m.py", "k2")]
    # attribute-form bare decorator (@F.pandas_udf) is also counted
    kernels2, _ = _scan_src(
        "import pyspark.sql.functions as F\n@F.pandas_udf\ndef k(s):\n    return s\n",
        tmp_path,
    )
    assert kernels2 == {("m.py", "k"): 1}
    # parenthesized decorator is a Call — counted once, not twice
    kernels3, _ = _scan_src(
        "from pyspark.sql.functions import pandas_udf\n"
        "@pandas_udf('double')\ndef k(s):\n    return s\n",
        tmp_path,
    )
    assert kernels3 == {("m.py", "k"): 1}
