"""Testdata table loading.

The driver provides TPC-H-ish parquet tables (see /root/repo/TESTDATA.md):
``region nation customer supplier part orders lineitem events documents
embeddings`` at ``/root/testdata/sf{0.001,0.01,0.1}``. Loading via
``spark.read.parquet`` keeps Catalyst's parquet pushdown (filters, column
pruning, partition pruning) intact — the scans in ``.explain`` should show
``PushedFilters`` and a pruned ``ReadSchema``.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def norm_event_ts(df: DataFrame) -> DataFrame:
    """Normalize a raw ``events`` read's ``ts`` to a session-zone (UTC)
    TIMESTAMP whatever the generator wrote. Batch reads (:func:`table`)
    and stream reads (whose explicit file schema mirrors the file) both
    go through it:

    - TIMESTAMP(NANOS): the vectorized reader rejects it; read nanos as
      long (legacy conf, runtime-settable) and convert with integer
      division (`div`, not float `/` — ns epochs exceed 2^53 so a double
      round-trip loses bits). DuckDB truncates ns→µs the same way.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 infers
      TIMESTAMP_NTZ, which refuses numeric casts downstream; cast to the
      session-zone type (session tz is pinned UTC, so the instant is
      unchanged and matches DuckDB's naive read).
    """
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table as a DataFrame (lazy parquet scan);
    ``events.ts`` goes through :func:`norm_event_ts`."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return norm_event_ts(spark.read.parquet(path))
    return spark.read.parquet(path)


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: str | T.StructType
) -> DataFrame:
    """Driver-side ``rows`` (tuples in ``schema`` field order) as a
    DataFrame over an Arrow ``LocalRelation``.

    ``createDataFrame`` on a Python list pickles the rows into a Python
    RDD: every job that reads it starts Python workers, and the relation
    reports unknown size, so Catalyst can never broadcast it by its
    stats. A ``pyarrow.Table`` input is shipped to the JVM once and
    plans as a ``LocalTableScan`` with exact size stats, whatever
    ``spark.sql.execution.arrow.pyspark.enabled`` says. ``schema`` (a
    DDL string or a ``StructType``) fixes names, types and nullability;
    an empty ``rows`` gives an empty frame of that schema."""
    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table([pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow)
    return spark.createDataFrame(table, struct)


def spread(df: DataFrame, *keys: str) -> DataFrame:
    """Rebalance a scan whose file layout under-parallelizes a heavy
    downstream kernel (e.g. a single-row-group parquet file scans as ONE
    task, serializing regex/shingle/hash work that is embarrassingly
    parallel). No-op when the scan already fans out to the session's
    parallelism — so at cluster scale, where sources arrive as many
    splits, no extra shuffle is paid. The explicit partition count keeps
    AQE from coalescing the small exchange back to one partition."""
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        return df
    return df.repartition(n, *keys) if keys else df.repartition(n)
