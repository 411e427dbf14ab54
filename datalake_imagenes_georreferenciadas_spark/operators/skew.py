"""Skew-mitigation plan shapes (SURVEY §4.2: "many images → one parcel is
a real skew source").

AQE's skew-join handling covers most cases at runtime
(``spark.sql.adaptive.skewJoin.enabled``, on in session.py); these are the
explicit plan-level tools for when the skew is known ahead of time:

- **salted aggregation**: two-phase ``groupBy(key, salt) → groupBy(key)``.
  The first phase spreads a hot key over ``n_salts`` reducers; the second
  combines the partials. Associative aggs only (sum/count/min/max).
- **salted join**: replicate the small side per salt value, salt the big
  side randomly; the hot key's rows land on ``n_salts`` different
  partitions instead of one.

Both produce results identical to the unsalted plans — the salt is a pure
partitioning trick — so they register in the driver contract against the
same oracle as their plain twins.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: reducers a hot key spreads over
N_SALTS = 8


def salted_sum_count(df: DataFrame, keys: Sequence[str], sum_col: Column) -> DataFrame:
    """Two-phase skew-safe sum (as ``__dsum``) and count (as ``n``) per key.

    Phase 1 groups on (key, salt) — partial aggregation over ``N_SALTS``×
    more reducers than keys; phase 2 merges partials per key. Uses a
    deterministic salt (hash of a unique expression) rather than rand()
    so results are reproducible run to run.
    """
    salted = df.withColumn(
        "__salt", F.pmod(F.hash(*[F.col(k) for k in keys], F.monotonically_increasing_id()), F.lit(N_SALTS))
    )
    partial = salted.groupBy(*keys, "__salt").agg(
        F.sum(sum_col).alias("__psum"), F.count("*").alias("__pcnt")
    )
    return partial.groupBy(*keys).agg(
        F.sum("__psum").alias("__dsum"), F.sum("__pcnt").alias("n")
    )


def salted_broadcast_replicate_join(big: DataFrame, small: DataFrame, key: str) -> DataFrame:
    """Skew-safe inner equi-join: salt the big side, replicate the small
    side across every salt value, join on (key, salt). Each hot-key
    partition carries 1/N_SALTS of that key's rows."""
    big_s = big.withColumn(
        "__salt", F.pmod(F.hash(F.col(key), F.monotonically_increasing_id()), F.lit(N_SALTS))
    )
    salts = F.explode(F.array(*[F.lit(i) for i in range(N_SALTS)])).alias("__salt")
    small_r = small.select("*", salts)
    return big_s.join(small_r, [key, "__salt"]).drop("__salt")
