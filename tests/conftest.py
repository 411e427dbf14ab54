"""Shared SparkSession for the unit tests (SURVEY §5.2-3)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import SparkSession

from datalake_imagenes_georreferenciadas_spark.tables import DEFAULT_SF_DIR


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("datalake_imagenes_georreferenciadas_spark-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def axis_sf(tmp_path_factory):
    """``axis_sf(spec)``: the tools/make_sf.py ``spec`` copy of the
    sf0.001 tables, built once per session."""
    from tools.make_sf import build

    built: dict[str, str] = {}

    def get(spec: str) -> str:
        if spec not in built:
            built[spec] = build(spec, str(tmp_path_factory.mktemp("axis_sf")), DEFAULT_SF_DIR)
        return built[spec]

    return get
