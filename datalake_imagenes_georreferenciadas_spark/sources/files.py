"""File readers beyond parquet (SURVEY S5/S6).

- JSON feature scan (S6): ``spark.read.json`` with an explicit schema,
  over the ring schema of every (Multi)Polygon shell and hole (S5).

The CSV, ORC, JSONL, XML and JDBC sinks and scans are plain
``DataFrameReader`` / ``DataFrameWriter`` calls inside the registered
queries that exercise them (``s11_csv_roundtrip``, ``s19_orc_roundtrip``,
``s9_jdbc_roundtrip``, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

RING_SCHEMA = T.ArrayType(
    T.StructType([T.StructField("x", T.DoubleType()), T.StructField("y", T.DoubleType())])
)

#: every ring of a (Multi)Polygon — shells and holes (script_geo.py:50-57)
RINGS_SCHEMA = T.ArrayType(RING_SCHEMA)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("id_predio", T.StringType()),
        T.StructField("nombre", T.StringType()),
        T.StructField("codigo", T.StringType()),
        T.StructField("seccion", T.StringType()),
        T.StructField("rodal", T.StringType()),
        T.StructField("tipouso", T.StringType()),
        T.StructField("apl", T.StringType()),
        T.StructField("rings", RINGS_SCHEMA),
    ]
)


def read_features_json(spark: SparkSession, path: str) -> DataFrame:
    """S6: per-parcel polygon JSON (script_geo.py:193-194) with explicit
    schema — no inference pass over 100 TB."""
    return spark.read.schema(FEATURE_SCHEMA).json(path)

