"""Build a text/timestamp-extremes copy of a testdata sf dir.

Deterministically replaces a slice of every STRING column with the dirty
values a real 100 TB corpus serves — empty strings (~2%), multibyte
unicode with combining marks and astral-plane codepoints (~2%, where
char-count != byte-count != grapheme-count), and very long repetitive
payloads (~0.5%, 10k chars) — and a slice of every TIMESTAMP column with
distant past/future instants (~1% each, 1901 / 2199). Numeric extremes
are deliberately NOT injected: the registry's money/measure oracles cast
through DECIMAL(18,4) by design, so ±inf/NaN makes both engines reject
loudly — that is the data-quality gate's job (dq_constraints), not an
engine-semantics question.

Both engines read the same mutated files; a Spark crash is a dirty-text
robustness gap (byte/char confusion, regex blowup, encode errors), a
mismatch is a real semantics divergence.

Usage: python tools/make_extreme_sf.py <dest_dir> [src_sf_dir]
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

# char-count 24, utf-8 byte-count 60, includes a combining mark (é as
# e+U+0301), CJK, an astral-plane emoji, and a bidi-neutral arabic word
UNICODE_SAMPLE = "d́ocument café 文档 \U0001f680 ملف end"
LONG_SAMPLE = ("lorem unicode ü ") * 625  # 10k chars, multibyte inside


def mutate_table(src_path: str, table: str) -> pa.Table:
    t = pq.read_table(src_path)
    cols = []
    for field in t.schema:
        arr = t.column(field.name).combine_chunks()
        n = len(arr)
        rng = np.random.default_rng(zlib.crc32(f"extreme:{table}:{field.name}".encode()))
        r = rng.random(n)
        if pa.types.is_string(field.type) or pa.types.is_large_string(field.type):
            py = arr.to_pylist()
            for i in range(n):
                if py[i] is None:
                    continue
                if r[i] < 0.02:
                    py[i] = ""
                elif r[i] < 0.04:
                    py[i] = UNICODE_SAMPLE + py[i][:8]
                elif r[i] < 0.045:
                    py[i] = LONG_SAMPLE
            arr = pa.array(py, type=field.type)
        elif pa.types.is_timestamp(field.type):
            py = arr.to_pylist()
            import datetime as dt

            past = dt.datetime(1901, 7, 14, 3, 4, 5)
            future = dt.datetime(2199, 1, 2, 3, 4, 5)
            for i in range(n):
                if py[i] is None:
                    continue
                if r[i] < 0.01:
                    py[i] = past
                elif r[i] < 0.02:
                    py[i] = future
            arr = pa.array(py, type=field.type)
        cols.append(arr)
    return pa.table(cols, schema=t.schema)


def main() -> int:
    if len(sys.argv) < 2:
        print(__doc__)
        return 2
    dest = sys.argv[1]
    src = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    os.makedirs(dest, exist_ok=True)
    for table in TABLE_NAMES:
        out = mutate_table(os.path.join(src, f"{table}.parquet"), table)
        pq.write_table(out, os.path.join(dest, f"{table}.parquet"))
        print(f"{table}: {out.num_rows} rows")
    return 0


if __name__ == "__main__":
    sys.exit(main())
