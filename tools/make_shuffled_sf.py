"""Build a row-order-shuffled copy of a testdata sf dir.

Same rows, same values, deterministic (PCG64 seeded per table) random
ROW ORDER — the layout a 1000-executor cluster actually serves, where no
operator may assume file order. Both engines read the same shuffled
files, so tools/verify_oracle.py against the output is an ORDER-
INVARIANCE differential: any mismatch is an operator whose result
depends on arrival order (an unordered first()/limit(), a collect_list
consumed without sort_array, a tie broken by position), which at cluster
scale is a nondeterminism bug even when the local single-file run looks
stable.

Usage: python tools/make_shuffled_sf.py <dest_dir> [src_sf_dir]
"""

from __future__ import annotations

import os
import sys
import zlib

import numpy as np
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    dest = sys.argv[1]
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    os.makedirs(dest, exist_ok=True)
    for table in TABLE_NAMES:
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        rng = np.random.default_rng(zlib.crc32(f"shuffle:{table}".encode()))
        perm = rng.permutation(t.num_rows)
        pq.write_table(t.take(perm), os.path.join(dest, f"{table}.parquet"))
        print(f"{table}: {t.num_rows} rows shuffled")
    return 0


if __name__ == "__main__":
    sys.exit(main())
