"""Build a deterministic k× inflation of a testdata sf dir for the
scale-ladder growth check (r16, VERDICT task 2).

The 100 TB design claims rest on plan shapes plus single-SF timings;
this tool makes the growth curve MEASURABLE: every table is replicated
k times with all join/group keys offset per copy by a large stride, so
key-space cardinality grows k× along with row count — joins, groupBys,
windows, dedup bands and ANN buckets all see k× MORE keys with the same
per-key payload, which is how organic corpus growth looks (and the
opposite of the skew axis, where rows grow but keys don't).

Copy-local mutations keep growth organic rather than degenerate:
  * documents.text — for copy i>0 every 3rd word is salted with a
    copy tag, so cross-copy pairs are NOT near-duplicates (a 5-shingle
    survives salting with p≈(2/3)^5≈13% Jaccard, far below every
    banding threshold). Without this, each source doc would become a
    k-sized near-dup cluster and pair generators would legitimately do
    O(k²) work per cluster — a skew test, not a scale test.
  * embeddings.embedding — rotated by (7·i mod dim) positions per
    copy: norm-preserving, deterministic, lands copies in different
    LSH/IVF cells instead of stacking k identical vectors in one.
  * entity NAMES (p_name / c_name / s_name) — copy i>0 gets a distinct
    single-letter prefix, so phonetic/blocking keys (soundex first
    letter) split by copy: organic growth adds NEW entities, it does
    not stack k identical names into every block (without this,
    blocked joins like er_fuzzy_match measure a k² generator artifact
    instead of their real growth).
  * nation/region — NOT inflated (fixed broadcast dims, like reality).

Determinism: pure arithmetic on the source tables — byte-identical
output for the same (src, k).

Usage: python tools/make_scaled_sf.py <dest_dir> <k> [src_sf_dir]
       (default src=/root/testdata/sf0.1)
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES

STRIDE = 10_000_000

# int64 surrogate keys offset per copy (col -> offset multiplier is
# always STRIDE; listed per table so referential integrity is preserved
# WITHIN a copy and never ACROSS copies).
KEY_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

FIXED_DIMS = ("region", "nation")

NAME_COLS = {"part": "p_name", "customer": "c_name", "supplier": "s_name"}


def _salt_name(name: str | None, i: int) -> str | None:
    if name is None or i == 0:
        return name
    return chr(ord("b") + (i - 1) % 24) + name


def _salt_text(text: str | None, i: int) -> str | None:
    if text is None or i == 0:
        return text
    words = text.split(" ")
    tag = f"x{i}"
    return " ".join(
        w + tag if (j + i) % 3 == 0 else w for j, w in enumerate(words)
    )


def _rotate(vec: list | None, i: int) -> list | None:
    if vec is None or i == 0 or not vec:
        return vec
    r = (7 * i) % len(vec)
    return vec[r:] + vec[:r]


def inflate_table(src_path: str, table: str, k: int) -> pa.Table:
    t = pq.read_table(src_path)
    if table in FIXED_DIMS or k == 1:
        return t
    copies = []
    for i in range(k):
        cols = {}
        for field in t.schema:
            arr = t.column(field.name).combine_chunks()
            if field.name in KEY_COLS.get(table, ()):
                arr = pc.add(arr, pa.scalar(i * STRIDE, type=field.type))
            elif table == "documents" and field.name == "text":
                arr = pa.array(
                    [_salt_text(v, i) for v in arr.to_pylist()], type=field.type
                )
            elif table == "documents" and field.name == "n_chars" and i > 0:
                # recomputed below from the salted text; copy 0 keeps the
                # SOURCE column untouched so the k=1 fast path and the
                # first copy of every k>=2 rung measure identical data
                continue
            elif table == "embeddings" and field.name == "embedding":
                arr = pa.array(
                    [_rotate(v, i) for v in arr.to_pylist()], type=field.type
                )
            elif field.name == NAME_COLS.get(table):
                arr = pa.array(
                    [_salt_name(v, i) for v in arr.to_pylist()], type=field.type
                )
            cols[field.name] = arr
        if table == "documents" and i > 0:
            cols["n_chars"] = pa.array(
                [None if v is None else len(v) for v in cols["text"].to_pylist()],
                type=t.schema.field("n_chars").type,
            )
        copies.append(
            pa.table({f.name: cols[f.name] for f in t.schema}, schema=t.schema)
        )
    return pa.concat_tables(copies)


def main() -> int:
    if len(sys.argv) < 3:
        print(__doc__)
        return 2
    dest, k = sys.argv[1], int(sys.argv[2])
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    os.makedirs(dest, exist_ok=True)
    for name in TABLE_NAMES:
        out = inflate_table(os.path.join(src, f"{name}.parquet"), name, k)
        pq.write_table(out, os.path.join(dest, f"{name}.parquet"))
        print(f"{name}: {out.num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
