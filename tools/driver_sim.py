"""Simulate the EXTERNAL driver's verify pass as closely as we can:

- a DEFAULT-config SparkSession (no tuned confs from session.get_spark —
  no UTC pin, no inferTimestampNTZ override, no AQE/broadcast tuning),
  because the driver builds its own plain session and session-config-
  dependent bugs pass the tuned harness but fail the round (round-4
  lesson: parquet µs timestamps read as TIMESTAMP_NTZ under defaults);
- only the FIRST ``n`` (default 50) entries of ``queries()`` — the
  driver's per-round cap — so this checks exactly the window the next
  CORRECTNESS_r{N}.json will grade, i.e. the names rotation fronts;
- DuckDB oracle compare identical to tools/verify_oracle.py
  (``fetchall``, not ``.df()`` — pandas widens nullable BIGINT→float64
  and NULL→NaN, creating false mismatches).

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

    import duckdb

    from __spark_entry__ import entry, oracle_sql, queries
    import verify_oracle as V

    n = entry(spark).count()
    print(f"entry smoke: {n} rows")
    assert n >= 0

    qs, oracles = queries(), oracle_sql()
    front = list(qs)[:n_front]

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    import time
    import traceback

    n_pass = n_fail = 0
    for name in front:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = sorted(
                V.row_key(tuple(r[c] for c in cols)) for r in sdf.collect()
            )
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc(limit=8)
            n_fail += 1
            continue
        if name not in oracles:
            print(f"pass {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
            continue
        try:
            res = con.sql(oracles[name])
            dcols_raw = res.columns
            dsort = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
            dcols = sorted(dcols_raw)
            drows = sorted(
                V.row_key(tuple(row[i] for i in dsort)) for row in res.fetchall()
            )
        except Exception:
            print(f"FAIL {name}: DUCKDB ERROR")
            traceback.print_exc(limit=8)
            n_fail += 1
            continue
        if cols != dcols:
            print(f"FAIL {name}: schema spark={cols} duck={dcols}")
            n_fail += 1
        elif srows != drows:
            diffs = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
            print(
                f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}, "
                f"{len(diffs)} differing"
            )
            if diffs:
                i = diffs[0]
                print(f"  spark: {srows[i]}")
                print(f"  duck : {drows[i]}")
            n_fail += 1
        else:
            print(f"pass {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\nfront-{n_front} under DEFAULT session: {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
