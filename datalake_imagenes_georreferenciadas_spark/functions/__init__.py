"""Column-function library.

Everything here returns Spark ``Column`` expressions built from built-in
``pyspark.sql.functions`` (JVM-side, whole-stage-codegen'd) unless a module
explicitly documents a Pandas-UDF slow path. No row-at-a-time Python UDFs
in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column) -> Column:
    """Order-independent double sum: decimal partials, double result."""
    return F.sum(col.cast("decimal(18,4)")).cast("double")


def dsum_sql(expr: str) -> str:
    """The DuckDB twin of :func:`dsum`."""
    return f"CAST(sum(CAST(({expr}) AS DECIMAL(18,4))) AS DOUBLE)"
