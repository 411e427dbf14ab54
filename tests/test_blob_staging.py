"""sources.binary staging: keyed dirs made once per application and key,
per-call scratch dirs, all removed at exit, and dirs of dead owners swept
on the next stage; and the registered queries use only these, so running
them leaves no dir, temp view or function behind."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import tempfile
from pathlib import Path

import pytest

from datalake_imagenes_georreferenciadas_spark.sources.binary import (
    STAGE_PREFIX,
    stage_files,
)
from datalake_imagenes_georreferenciadas_spark.tables import DEFAULT_SF_DIR as SF

ROOT = Path(__file__).resolve().parent.parent


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    return p.pid


def test_stage_removes_dead_owner_dirs_and_keeps_live_ones(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dead = tmp_path / f"{STAGE_PREFIX}{_dead_pid()}_crashed"
    live = tmp_path / f"{STAGE_PREFIX}{os.getppid()}_running"
    for d in (dead, live):
        d.mkdir()
        (d / "0.jpg").write_bytes(b"x")

    dest = stage_files(
        spark, "orphan-sweep", spark.range(3), lambda r: (f"{r['id']}.bin", b"b")
    )

    assert not dead.exists()
    assert live.exists()
    assert os.path.dirname(dest) == str(tmp_path)
    assert os.path.basename(dest).startswith(f"{STAGE_PREFIX}{os.getpid()}_")
    assert sorted(os.listdir(dest)) == ["0.bin", "1.bin", "2.bin"]
    # staged once per application and key
    assert stage_files(spark, "orphan-sweep", spark.range(0), lambda r: None) == dest


#: every registered query that writes a fixture dir, binds a SQL input or
#: registers a UDTF
FIXTURE_QUERIES = (
    "s8_geotiff_meta_scan", "pipeline_geo_ingest", "streaming_tumbling",
    "streaming_dedup", "streaming_tdigest", "streaming_append_windows",
    "catalog_roundtrip", "a4_grouping_sets", "s11_csv_roundtrip",
    "s16_partitioned_publish", "sub_scalar", "sub_in", "s6_features_json",
    "j1_correlated_exists", "f15_lateral_explode", "s2_archive_extract",
    "s2_7z_extract", "j_bucketed_join", "catalog_snapshot_diff",
    "catalog_wap_publish", "sub_correlated_scalar", "s17_compaction",
    "s18_schema_evolution", "s9_jdbc_roundtrip", "s6_features_corrupt",
    "f18_python_udtf", "sql_recursive_cte", "s19_orc_roundtrip",
    "s20_jsonl_roundtrip", "s25_xml_roundtrip", "s21_targeted_delete",
    "s1_python_datasource", "j_dynamic_partition_pruning",
    "ts_hypertable_rollup", "s22_orphan_files", "j_lateral_topn",
    "s26_dynamic_overwrite", "catalog_snapshot_expire", "s27_csv_badrecords",
    "s28_column_rename_evolution",
)

_TWO_ROUNDS = """
import json, os, sys, tempfile
from pyspark.sql import SparkSession
from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
sf_dir, prefix, names = sys.argv[1], sys.argv[2], sys.argv[3:]

def session_state():
    return ({t.name for t in spark.catalog.listTables()},
            {f.name for f in spark.catalog.listFunctions()})

for rnd in (1, 2):
    for name in names:
        QUERIES[name](spark, sf_dir).collect()
    if rnd == 1:
        tables, functions = session_state()
tables2, functions2 = session_state()
print(json.dumps({
    "tables": sorted(tables2 - tables),
    "functions": sorted(functions2 - functions),
    "staged": len([e for e in os.listdir(tempfile.gettempdir()) if e.startswith(prefix)]),
}))
"""


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 test data missing")
def test_staged_dirs_are_removed_at_exit(tmp_path):
    """Every fixture query run twice in one process: the second round adds
    no session table, view or function, and no dir outlives the process."""
    from perfbench.run import SPARK_TMP_PREFIXES

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    )
    out = subprocess.run(
        [sys.executable, "-c", _TWO_ROUNDS, SF, STAGE_PREFIX, *FIXTURE_QUERIES],
        cwd=str(ROOT),
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    state = json.loads(out.stdout.splitlines()[-1])
    assert state["tables"] == []
    assert state["functions"] == []
    # once per application: the s8 fixture, the landing zone, the 1- and
    # 2-copy events streams, the bucketed, Derby, exifscan and DPP
    # layouts and the orphan-scan bucket (9); per call, in each of the two
    # rounds: tdigest's shards and checkpoint, append_windows' split and
    # source, and the 19 sink, catalog and evolution dirs (2 x 23)
    assert state["staged"] == 55
    leaked = sorted(e for e in os.listdir(tmp) if not e.startswith(SPARK_TMP_PREFIXES))
    assert leaked == []


def _is_dict(node) -> bool:
    return isinstance(node, ast.Dict) or (
        isinstance(node, ast.Call) and getattr(node.func, "id", "") == "dict"
    )


def test_plans_make_no_unowned_fixtures():
    """Static twin of the test above, so a new query cannot bring a leak
    back unseen: no plans module makes a temp dir or a temp view of its
    own (fixture dirs come from ``scratch_dir`` / ``stage_dir``, SQL
    inputs are ``spark.sql`` DataFrame arguments) or memoizes a fixture
    in a module-level dict (``stage_dir`` keys it per application)."""
    bad = []
    for path in sorted((ROOT / "datalake_imagenes_georreferenciadas_spark" / "plans").glob("*.py")):
        tree = ast.parse(path.read_text())
        dicts = {
            t.id
            for n in tree.body
            if isinstance(n, (ast.Assign, ast.AnnAssign)) and _is_dict(n.value)
            for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
            if isinstance(t, ast.Name)
        }
        if path.name == "_qbase.py":
            dicts -= {"QUERIES", "ORACLES"}  # the registry itself
        for n in ast.walk(tree):
            where = f"{path.name}:{getattr(n, 'lineno', 0)}"
            if isinstance(n, ast.Call):
                f = n.func
                called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if called in ("mkdtemp", "createOrReplaceTempView", "createTempView"):
                    bad.append(f"{where} {called}")
            elif isinstance(n, ast.Subscript) and isinstance(n.ctx, ast.Store):
                if isinstance(n.value, ast.Name) and n.value.id in dicts:
                    bad.append(f"{where} module-level cache {n.value.id}")
    assert bad == []


def test_tests_make_no_unowned_temp_dirs():
    """Tests take their dirs from pytest's ``tmp_path``, which pytest
    cleans up; a ``tempfile.mkdtemp`` dir outlives every run."""
    bad = []
    for path in sorted((ROOT / "tests").rglob("*.py")):
        for n in ast.walk(ast.parse(path.read_text())):
            if isinstance(n, ast.Call):
                f = n.func
                called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
                if called == "mkdtemp":
                    bad.append(f"{path.name}:{n.lineno}")
    assert bad == []
