"""sources.binary staging: keyed dirs made once per application and key,
per-call scratch dirs, all removed at exit, and dirs of dead owners swept
on the next stage."""

from __future__ import annotations

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


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 test data missing")
def test_staged_dirs_are_removed_at_exit(tmp_path):
    from perfbench.run import SPARK_TMP_PREFIXES

    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import os, sys, tempfile\n"
        "from pyspark.sql import SparkSession\n"
        "from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES\n"
        "spark = (SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled', 'false')"
        ".config('spark.sql.session.timeZone', 'UTC').getOrCreate())\n"
        "for name in ('s8_geotiff_meta_scan', 'pipeline_geo_ingest', 'streaming_tumbling',\n"
        "             'streaming_dedup', 'streaming_tdigest', 'streaming_append_windows'):\n"
        "    QUERIES[name](spark, sys.argv[1]).collect()\n"
        "print(len([e for e in os.listdir(tempfile.gettempdir())"
        f" if e.startswith({STAGE_PREFIX!r})]))\n"
    )
    env = dict(
        os.environ,
        TMPDIR=str(tmp),
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell",
    )
    out = subprocess.run(
        [sys.executable, "-c", code, SF],
        cwd=str(ROOT),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    # keyed: the fixture, the landing zone, the 1- and 2-copy events
    # streams; per call: tdigest's shards and its checkpoint,
    # append_windows' split and source
    assert out.stdout.split()[-1] == "8"
    leaked = sorted(e for e in os.listdir(tmp) if not e.startswith(SPARK_TMP_PREFIXES))
    assert leaked == []
