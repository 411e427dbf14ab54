"""Structural pins for the registry split into segments.

The @register bodies live in plans/q01_*.py … q16_*.py (prelude and
helpers in plans/_qbase.py); plans/queries.py imports the segments in
registration order and holds the query-window rotation. These tests
pin the invariants the split must never break: registry size,
registration order stability (the graded front-50 window of queries()
is order-sensitive), the facade's names, and single registration per
name.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

PLANS = (
    Path(__file__).resolve().parent.parent
    / "datalake_imagenes_georreferenciadas_spark"
    / "plans"
)


def test_registry_size_and_oracle_parity():
    from datalake_imagenes_georreferenciadas_spark.plans.queries import ORACLES, QUERIES

    assert len(QUERIES) == 338
    # zero rows-only queries: every entry has a value oracle
    assert set(ORACLES) == set(QUERIES)


def test_registration_order_head_is_stable():
    """The first registrations must stay exactly as they were before the
    split — the rotation's priority/staleness ordering builds on dict
    insertion order, so a segment-import reorder would silently shuffle
    the driver's graded window."""
    from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES

    names = list(QUERIES)
    assert names[:6] == [
        "catalog_filtered_join",
        "j1_semi_join",
        "j1_anti_join",
        "p7_left_join_null_guard",
        "p1_projection_filter",
        "p2_filename_parse",
    ]
    # q16 (r19 append-only additions) registers last
    assert names[-1] == "dedup_simhash_pairs_auto2"


def test_every_segment_registers_queries():
    import importlib

    from datalake_imagenes_georreferenciadas_spark.plans._qbase import QUERIES

    segs = sorted(p.stem for p in PLANS.glob("q[0-9][0-9]_*.py"))
    assert len(segs) == 16
    for s in segs:
        mod = importlib.import_module(
            f"datalake_imagenes_georreferenciadas_spark.plans.{s}"
        )
        registered_here = [
            n for n in dir(mod) if not n.startswith("_") and n in QUERIES
        ]
        assert registered_here, f"{s} registers nothing"


def test_facade_reexports_previous_module_level_names():
    """The names __spark_entry__.py, bench.py and perfbench/ import from
    plans.queries."""
    from datalake_imagenes_georreferenciadas_spark.plans import queries as q

    for name in (
        "QUERIES",
        "ORACLES",
        "all_queries",
        "all_oracles",
        "_rotated",
        "_driver_check_state",
        "_PRIORITY_PREFIXES",
    ):
        assert hasattr(q, name), name


def test_segment_imported_first_keeps_registration_order():
    """Importing one segment before the facade (as the unit tests do)
    must not move that segment's names to the front of the registry."""
    import subprocess

    code = (
        "from datalake_imagenes_georreferenciadas_spark.plans.q05_training"
        " import a9_mode\n"
        "from datalake_imagenes_georreferenciadas_spark.plans.queries"
        " import QUERIES\n"
        "print(next(iter(QUERIES)))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=str(PLANS.parent.parent),
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    assert out[-1] == "catalog_filtered_join"


def test_registry_objects_are_shared_not_copied():
    """_qbase.QUERIES IS queries.QUERIES — segments register into the
    one dict the facade re-exports (a copy would freeze the registry at
    import order of whoever imported first)."""
    from datalake_imagenes_georreferenciadas_spark.plans import _qbase, queries

    assert queries.QUERIES is _qbase.QUERIES
    assert queries.ORACLES is _qbase.ORACLES
