"""Simulate the EXTERNAL driver's verify pass as closely as we can:

- a DEFAULT-config SparkSession (no tuned confs from session.get_spark —
  no UTC pin, no inferTimestampNTZ override, no AQE/broadcast tuning),
  because the driver builds its own plain session and session-config-
  dependent bugs pass the tuned harness but fail the round (round-4
  lesson: parquet µs timestamps read as TIMESTAMP_NTZ under defaults);
- only the FIRST ``n`` (default 50) entries of ``queries()`` — the
  driver's per-round cap — so this checks exactly the window the next
  CORRECTNESS_r{N}.json will grade, i.e. the names rotation fronts;
- the DuckDB oracle compare of tools/verify_oracle.py (its
  ``check_query``: ``fetchall``, not ``.df()`` — pandas widens nullable
  BIGINT→float64 and NULL→NaN, creating false mismatches).

Usage: python tools/driver_sim.py [sf_dir] [n_front]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_front = int(sys.argv[2]) if len(sys.argv) > 2 else 50

    # default-config session FIRST, so get_spark() inside any query code
    # returns this plain session instead of building a tuned one
    spark = SparkSession.builder.master("local[32]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from __spark_entry__ import entry, oracle_sql, queries
    import verify_oracle as V

    n = entry(spark).count()
    print(f"entry smoke: {n} rows")
    assert n >= 0

    qs, oracles = queries(), oracle_sql()
    con = V.duck_views(sf_dir)
    results = [
        V.check_query(spark, con, name, qs[name], sf_dir, oracles.get(name))
        for name in list(qs)[:n_front]
    ]
    n_fail = sum(r["status"] == "fail" for r in results)
    n_pass = len(results) - n_fail
    print(f"\nfront-{n_front} under DEFAULT session: {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
