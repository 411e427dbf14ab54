"""SparkSession bootstrap tuned for the engine.

Local testing runs on ``local[N]`` but every config here is chosen to also
hold on a large multi-executor cluster: AQE for runtime re-planning (skew
joins, partition coalescing), Arrow for the Pandas-UDF slow path, UTC
session timezone so results are oracle-comparable, and a fixed 32
shuffle partitions whatever the core count (``SPARK_GRAFT_SHUFFLE``
overrides it for the cluster case), which AQE coalesces at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "datalake_imagenes_georreferenciadas_spark") -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local parallelism; on a real cluster the
    master/resource settings come from spark-submit and only the SQL conf
    below applies.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet µs timestamps with isAdjustedToUTC=false should read as
        # session-zone (UTC) TIMESTAMP, not TIMESTAMP_NTZ — keeps numeric
        # casts legal and matches the DuckDB oracle's naive-UTC read
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    return builder.master(f"local[{cpus}]").getOrCreate()
