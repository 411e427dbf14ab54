"""tables.local_frame — driver-side rows as Arrow LocalRelations.

The package builds every DataFrame of driver-side rows through this one
helper (tests/test_python_kernel_allowlist.py pins that). These tests
check that each site keeps the schema and rows the list path gave it,
and that the frames plan as exact-sized ``LocalTableScan`` nodes rather
than ``Scan ExistingRDD`` over a Python RDD, with the session's Arrow
conf left at its default (off)."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql.types import _parse_datatype_string

from datalake_imagenes_georreferenciadas_spark.catalog.store import (
    CATALOG_SCHEMA,
    LINEAGE_SCHEMA,
    RUNS_SCHEMA,
    CatalogStore,
)
from datalake_imagenes_georreferenciadas_spark.operators.dedup import (
    components_from_edges,
)
from datalake_imagenes_georreferenciadas_spark.plans import geo_fixture as GF
from datalake_imagenes_georreferenciadas_spark.tables import local_frame

PKG = Path(__file__).resolve().parent.parent / "datalake_imagenes_georreferenciadas_spark"
RINGS_DDL = (
    "id_predio string, nombre string, codigo string, seccion string, rodal string, "
    "tipouso string, apl string, rings array<array<struct<x double, y double>>>"
)


def _site_ddls() -> list[tuple[str, int, str]]:
    """(module, line, DDL) of every ``local_frame`` call in the package
    whose schema is a string literal."""
    out = []
    for f in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(f.read_text())):
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "id", getattr(node.func, "attr", None)) == "local_frame"
                and len(node.args) == 3
                and isinstance(node.args[2], ast.Constant)
            ):
                out.append((str(f.relative_to(PKG)), node.lineno, node.args[2].value))
    return out


def _plan(df, capsys) -> str:
    df.explain()
    return capsys.readouterr().out


def test_local_frame_schema_equals_parsed_ddl_at_every_site(spark):
    sites = _site_ddls()
    assert RINGS_DDL in {ddl for _, _, ddl in sites}
    assert len(sites) >= 11
    for mod, line, ddl in sites:
        assert local_frame(spark, [], ddl).schema == _parse_datatype_string(ddl), (mod, line)


def test_local_frame_keeps_struct_schema_nullability(spark):
    for schema in (CATALOG_SCHEMA, RUNS_SCHEMA, LINEAGE_SCHEMA):
        df = local_frame(spark, [], schema)
        assert df.schema == schema and df.collect() == []


def test_fixtures_keep_their_rows(spark):
    """Every fixture value comes back as written, nested ring structs
    included."""
    polys = GF.spark_polys(spark)
    assert polys.schema == _parse_datatype_string(RINGS_DDL)
    keys = ("id_predio", "nombre", "codigo", "seccion", "rodal", "tipouso", "apl")
    assert [
        (*r[:7], [[(pt.x, pt.y) for pt in ring] for ring in r[7]]) for r in polys.collect()
    ] == [(*(p[k] for k in keys), p["rings"]) for p in GF.POLYS]
    for frame, data in ((GF.spark_points, GF.POINTS), (GF.spark_rasters, GF.RASTERS)):
        df = frame(spark)
        assert [tuple(r) for r in df.collect()] == [tuple(r) for r in data]


def test_polys_and_empty_catalog_plan_as_local_table_scans(spark, tmp_path, capsys):
    for df in (GF.spark_polys(spark), CatalogStore(spark, str(tmp_path)).catalog()):
        plan = _plan(df, capsys)
        assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan, plan


def test_components_from_empty_edge_list(spark, capsys):
    edges = local_frame(spark, [], "src long, dst long")
    out = components_from_edges(edges)
    assert out.schema == _parse_datatype_string("id long, component long")
    assert out.collect() == []
    plan = _plan(out, capsys)
    assert "LocalTableScan <empty>" in plan and "Scan ExistingRDD" not in plan, plan


def test_components_frame_is_broadcast_by_its_stats(spark, capsys):
    """No hint: the exact-sized union-find result is joined as a
    broadcast because Catalyst can size it."""
    edges = local_frame(spark, [(5, 9), (9, 7), (20, 21)], "src long, dst long")
    comps = components_from_edges(edges)
    assert sorted(tuple(r) for r in comps.collect()) == [
        (5, 5), (7, 5), (9, 5), (20, 20), (21, 20)
    ]
    joined = spark.range(1000).join(comps, "id", "left")
    assert "BroadcastHashJoin" in _plan(joined, capsys)
