"""Build a null-injected copy of a testdata sf dir for differential fuzzing.

Injects deterministic NULLs (~3% per column, numpy PCG64 seeded from the
table+column names, so every run of this tool produces the bit-identical
dataset) into EVERY column of every table, then writes the mutated tables
to a destination dir that tools/verify_oracle.py can point at directly.

Rationale: Spark and DuckDB read the SAME mutated files, so a result
mismatch is a genuine null-semantics divergence between the engine's plan
and its oracle SQL (collect_list drops nulls, concat propagates them,
null sort order, join-key nulls never matching, ...), and a Spark-side
crash is an empty-input-class robustness gap in a kernel. The driver's
own gate never perturbs the data; this tool explores the contract just
outside it.

Usage: python tools/make_null_fuzz_sf.py <dest_dir> [src_sf_dir] [rate]
       (defaults: src=/root/testdata/sf0.01, rate=0.03)
"""

from __future__ import annotations

import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES


def null_mask(table: str, col: str, n: int, rate: float) -> np.ndarray:
    seed = zlib.crc32(f"null_fuzz:{table}:{col}".encode())
    return np.random.default_rng(seed).random(n) < rate


def mutate_table(src_path: str, table: str, rate: float) -> pa.Table:
    t = pq.read_table(src_path)
    cols = []
    for field in t.schema:
        arr = t.column(field.name).combine_chunks()
        mask = null_mask(table, field.name, len(arr), rate)
        if mask.any():
            keep = pa.array(~mask)
            # if_else(keep, arr, null) preserves the type incl. nested lists
            arr = pa.compute.if_else(keep, arr, pa.scalar(None, type=field.type))
        cols.append(arr)
    return pa.table(cols, schema=t.schema)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    dest = sys.argv[1]
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    rate = float(sys.argv[3]) if len(sys.argv) > 3 else 0.03
    os.makedirs(dest, exist_ok=True)
    for table in TABLE_NAMES:
        out = mutate_table(os.path.join(src, f"{table}.parquet"), table, rate)
        pq.write_table(out, os.path.join(dest, f"{table}.parquet"))
        n_null = sum(out.column(i).null_count for i in range(out.num_columns))
        print(f"{table}: {out.num_rows} rows, {n_null} injected nulls")
    return 0


if __name__ == "__main__":
    sys.exit(main())
