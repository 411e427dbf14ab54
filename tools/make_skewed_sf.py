"""Build a heavily-skewed copy of a testdata sf dir.

Deterministically concentrates mass on hot values — the shape that
breaks scale claims, not semantics:

- documents: 30% of rows get ONE identical text (an exact-dup cluster),
  a further 20% get a near-identical variant (one token differs) —
  stresses every dedup pair generator's bucket bounds (a hot MinHash/
  SimHash/shingle bucket holds ~half the corpus).
- embeddings: 30% of rows share ONE vector — a hot LSH/IVF cell.
- lineitem: 30% of rows get l_partkey=1 and l_suppkey=1 (hot join key).
- orders: 30% get o_custkey=1; events: 30% get user_id=1 (hot window
  partition).

Both engines read the same skewed files, so results must still MATCH —
skew changes cost, never answers. A mismatch means a cap/sample whose
oracle twin drifted; a blow-up or hang means a pair generator or window
whose boundedness claim fails exactly where 100 TB hurts.

Usage: python tools/make_skewed_sf.py <dest_dir> [src_sf_dir] [rate]
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

HOT = {
    "lineitem": {"l_partkey": 1, "l_suppkey": 1},
    "orders": {"o_custkey": 1},
    "events": {"user_id": 1},
}

HOT_TEXT = (
    "the quick brown fox jumps over the lazy dog while the corpus "
    "pipeline deduplicates the same sentence a million times over"
)
NEAR_TEXT = HOT_TEXT.replace("million", "billion")


def mutate_table(src_path: str, table: str, rate: float) -> pa.Table:
    t = pq.read_table(src_path)
    rng = np.random.default_rng(zlib.crc32(f"skew:{table}".encode()))
    r = rng.random(t.num_rows)
    cols = {}
    for field in t.schema:
        arr = t.column(field.name).combine_chunks()
        hot_val = HOT.get(table, {}).get(field.name)
        if hot_val is not None:
            py = arr.to_pylist()
            for i in range(len(py)):
                if py[i] is not None and r[i] < rate:
                    py[i] = hot_val
            arr = pa.array(py, type=field.type)
        elif table == "documents" and field.name == "text":
            py = arr.to_pylist()
            for i in range(len(py)):
                if py[i] is None:
                    continue
                if r[i] < rate:
                    py[i] = HOT_TEXT
                elif r[i] < rate + 0.2:
                    py[i] = NEAR_TEXT
            arr = pa.array(py, type=field.type)
        elif table == "embeddings" and field.name == "embedding":
            py = arr.to_pylist()
            hot_vec = next((v for v in py if v is not None), None)
            if hot_vec is None:
                raise ValueError("make_skewed_sf: no non-null embedding to use as hot vector")
            for i in range(len(py)):
                if py[i] is not None and r[i] < rate:
                    py[i] = hot_vec
            arr = pa.array(py, type=field.type)
        cols[field.name] = arr
    return pa.table(cols, schema=t.schema)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    dest = sys.argv[1]
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.001"
    rate = float(sys.argv[3]) if len(sys.argv) > 3 else 0.30
    os.makedirs(dest, exist_ok=True)
    for table in TABLE_NAMES:
        out = mutate_table(os.path.join(src, f"{table}.parquet"), table, rate)
        pq.write_table(out, os.path.join(dest, f"{table}.parquet"))
        print(f"{table}: {out.num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
