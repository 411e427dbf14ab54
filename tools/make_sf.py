"""Build an input-axis copy of a testdata sf dir for differential fuzzing.

Usage: python tools/make_sf.py SPEC DEST SRC

SPEC is one axis or several joined by ``+``, applied left to right to
every table of SRC; the result is written to DEST, a dir that
tools/verify_oracle.py can point at directly (``--allowlist AXIS``
gates the residue). ``null:0.05+shuffle+extreme`` is the composed
mega-fuzz. Axes:

  empty        zero rows with the source schema (nullability and nested
               types survive): what partition/filter pruning serves.
  null[:rate]  NULLs in every column (default rate 0.03): null semantics
               of plan vs oracle, and null-payload crashes in kernels.
  shuffle      same rows in a random order: any operator whose result
               depends on arrival order (unordered first()/limit(), a
               tie broken by position) shows as a mismatch.
  extreme      dirty text (empty strings, multibyte unicode, 10k-char
               payloads) and 1901/2199 timestamps. Numeric extremes are
               left out: money/measure oracles cast through
               DECIMAL(18,4), so ±inf/NaN makes both engines reject.
  skew         30% of join/window keys on one hot value, half the corpus
               one exact + one near-duplicate cluster, 30% of vectors
               one hot vector: changes cost, never answers.
  scale:k      k copies of every table with join/group keys offset per
               copy, so key spaces grow with row count (organic growth,
               the opposite of skew); the scale-ladder input.

Every axis is deterministic: each random draw is a numpy PCG64 seeded
from the axis, table and column names, so a spec always builds the
bit-identical dataset. Both engines read the same mutated files, so a
mismatch is a semantics divergence and a Spark crash is a robustness gap.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES


def _rng(tag: str) -> np.random.Generator:
    return np.random.default_rng(zlib.crc32(tag.encode()))


def _columns(t: pa.Table, fix) -> pa.Table:
    """``t`` with each column replaced by ``fix(field, array)``."""
    return pa.table(
        [fix(f, t.column(f.name).combine_chunks()) for f in t.schema], schema=t.schema
    )


def _map(arr: pa.Array, fn) -> pa.Array:
    """``fn(i, value)`` over the non-null values of ``arr``."""
    py = arr.to_pylist()
    return pa.array([v if v is None else fn(i, v) for i, v in enumerate(py)], type=arr.type)


def empty(t: pa.Table, table: str) -> pa.Table:
    return t.schema.empty_table()


def null(t: pa.Table, table: str, rate: str = "0.03") -> pa.Table:
    def fix(field, arr):
        mask = _rng(f"null_fuzz:{table}:{field.name}").random(len(arr)) < float(rate)
        if not mask.any():
            return arr
        # if_else(keep, arr, null) preserves the type incl. nested lists
        return pc.if_else(pa.array(~mask), arr, pa.scalar(None, type=field.type))

    return _columns(t, fix)


def shuffle(t: pa.Table, table: str) -> pa.Table:
    return t.take(_rng(f"shuffle:{table}").permutation(t.num_rows))


# char-count 24, utf-8 byte-count 60, includes a combining mark (é as
# e+U+0301), CJK, an astral-plane emoji, and a bidi-neutral arabic word
UNICODE_SAMPLE = "d́ocument café 文档 \U0001f680 ملف end"
LONG_SAMPLE = ("lorem unicode ü ") * 625  # 10k chars, multibyte inside
PAST, FUTURE = dt.datetime(1901, 7, 14, 3, 4, 5), dt.datetime(2199, 1, 2, 3, 4, 5)


def _dirty_text(r: float, s: str) -> str:
    if r < 0.02:
        return ""
    if r < 0.04:
        return UNICODE_SAMPLE + s[:8]
    return LONG_SAMPLE if r < 0.045 else s


def extreme(t: pa.Table, table: str) -> pa.Table:
    def fix(field, arr):
        r = _rng(f"extreme:{table}:{field.name}").random(len(arr))
        if pa.types.is_string(field.type) or pa.types.is_large_string(field.type):
            return _map(arr, lambda i, s: _dirty_text(r[i], s))
        if pa.types.is_timestamp(field.type):
            return _map(arr, lambda i, ts: PAST if r[i] < 0.01 else FUTURE if r[i] < 0.02 else ts)
        return arr

    return _columns(t, fix)


SKEW_RATE = 0.30
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


def _hot_text(r: float, s: str) -> str:
    if r < SKEW_RATE:
        return HOT_TEXT
    return NEAR_TEXT if r < SKEW_RATE + 0.2 else s


def skew(t: pa.Table, table: str) -> pa.Table:
    r = _rng(f"skew:{table}").random(t.num_rows)

    def fix(field, arr):
        hot = HOT.get(table, {}).get(field.name)
        if (table, field.name) == ("documents", "text"):
            return _map(arr, lambda i, s: _hot_text(r[i], s))
        if (table, field.name) == ("embeddings", "embedding"):
            hot = next((v for v in arr.to_pylist() if v is not None), None)
            if hot is None:
                raise ValueError("skew: no non-null embedding to use as hot vector")
        if hot is None:
            return arr
        return _map(arr, lambda i, v: hot if r[i] < SKEW_RATE else v)

    return _columns(t, fix)


STRIDE = 10_000_000
# int64 surrogate keys offset by i·STRIDE in copy i, so referential
# integrity holds WITHIN a copy and never ACROSS copies
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
FIXED_DIMS = ("region", "nation")  # fixed broadcast dims, like reality
NAME_COLS = {"part": "p_name", "customer": "c_name", "supplier": "s_name"}


def _salt(text: str, i: int) -> str:
    words = text.split(" ")
    return " ".join(w + f"x{i}" if (j + i) % 3 == 0 else w for j, w in enumerate(words))


def _copy(t: pa.Table, table: str, i: int) -> pa.Table:
    """Copy ``i`` > 0 of ``t``. Copy-local salting keeps growth organic:
    every 3rd word of a text gets a copy tag (a 5-shingle survives with
    p≈(2/3)^5≈13% Jaccard, so cross-copy docs are not near-duplicates),
    a vector is rotated by 7·i positions (norm-preserving; copies land
    in different LSH/IVF cells), and entity names get a letter prefix
    (phonetic blocking keys split by copy)."""

    def fix(field, arr):
        if field.name in KEY_COLS.get(table, ()):
            return pc.add(arr, pa.scalar(i * STRIDE, type=field.type))
        if (table, field.name) == ("documents", "text"):
            return _map(arr, lambda _, s: _salt(s, i))
        if (table, field.name) == ("embeddings", "embedding"):
            return _map(arr, lambda _, v: v[7 * i % len(v) :] + v[: 7 * i % len(v)] if v else v)
        if field.name == NAME_COLS.get(table):
            return _map(arr, lambda _, s: chr(ord("b") + (i - 1) % 24) + s)
        return arr

    out = _columns(t, fix)
    if table != "documents":
        return out
    field = t.schema.field("n_chars")
    n_chars = [None if s is None else len(s) for s in out.column("text").to_pylist()]
    return out.set_column(t.schema.get_field_index("n_chars"), field, pa.array(n_chars, field.type))


def scale(t: pa.Table, table: str, k: str) -> pa.Table:
    if table in FIXED_DIMS or int(k) == 1:
        return t
    return pa.concat_tables([t] + [_copy(t, table, i) for i in range(1, int(k))])


AXES = {
    "empty": empty,
    "null": null,
    "shuffle": shuffle,
    "extreme": extreme,
    "skew": skew,
    "scale": scale,
}


def build(spec: str, dest: str, src: str) -> str:
    """Write the ``spec`` copy of every table of ``src`` to ``dest``."""
    steps = []
    for part in spec.split("+"):
        name, _, arg = part.partition(":")
        if name not in AXES:
            raise SystemExit(f"make_sf: unknown axis {name!r} in {spec!r} (have {sorted(AXES)})")
        steps.append((AXES[name], [arg] if arg else []))
    os.makedirs(dest, exist_ok=True)
    for table in TABLE_NAMES:
        t = pq.read_table(os.path.join(src, f"{table}.parquet"))
        for fn, args in steps:
            t = fn(t, table, *args)
        pq.write_table(t, os.path.join(dest, f"{table}.parquet"))
        print(f"{table}: {t.num_rows} rows")
    return dest


if __name__ == "__main__":
    if len(sys.argv) != 4:
        raise SystemExit(__doc__)
    build(*sys.argv[1:])
