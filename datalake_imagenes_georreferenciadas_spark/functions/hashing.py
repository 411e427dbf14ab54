"""Cross-engine deterministic hashing, shingling, and LSH band keys.

The reference's only hash use is ``md5(os.urandom(32))`` as a (buggy —
random, not content-derived) object key (download_list_images.py:45); we
generalize md5 into a seeded 60-bit integer hash family that is computable
bit-identically in BOTH Spark SQL and DuckDB SQL, so every dedup operator
built on it (MinHash-LSH, SimHash, n-gram Jaccard) can be verified against
the DuckDB oracle:

    Spark :  conv(substring(md5(concat(seed, ':', s)), 1, 15), 16, 10)
    DuckDB:  ('0x' || substring(md5(seed || ':' || s), 1, 15))::BIGINT

15 hex chars = 60 bits → always non-negative, fits BIGINT in both engines.

Everything is built-in column expressions / higher-order functions (JVM
codegen, zero Python in the hot path) — at 100 TB the shingle/minhash map
is embarrassingly parallel with no shuffle until the LSH band join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HASH_HEX_CHARS = 15  # 60 bits


def hash64(col: Column, seed: int = 0) -> Column:
    """Seeded 60-bit md5-derived hash, identical in Spark and DuckDB."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed)), F.lit(":"), col.cast("string"))), 1, HASH_HEX_CHARS),
        16,
        10,
    ).cast("bigint")


def hash64_sql(expr: str, seed: int = 0) -> str:
    """DuckDB twin of :func:`hash64` (same bits)."""
    return f"(('0x' || substring(md5('{seed}:' || ({expr})), 1, {HASH_HEX_CHARS}))::BIGINT)"


def tokens(text: Column) -> Column:
    """Lowercased whitespace tokens (empty strings filtered)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def shingles_from_tokens(toks: Column, k: int) -> Column:
    """k-word shingles from a token-array column.

    ``arrays_zip`` of k shifted slices + one transform — O(k·T) per row.
    Pass a MATERIALIZED token column (an attribute, e.g. projected before
    an exchange) in hot paths: expression arguments are re-evaluated per
    reference (k+1 of them here), attributes are read. A
    sequence+transform+``slice(toks, i, k)`` formulation would be O(T²)
    (lambda bodies evaluate per element; projection collapse defeats CSE).
    """
    n = F.size(toks) - F.lit(k - 1)
    shifted = [F.slice(toks, i + 1, n) for i in range(k)]
    zipped = F.arrays_zip(*shifted)
    return F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.transform(
            zipped,
            lambda row: F.concat_ws(" ", *[row.getField(str(i)) for i in range(k)]),
        )
    )


def shingles(text: Column, k: int) -> Column:
    """k-word shingles as strings; empty array when fewer than k tokens."""
    return shingles_from_tokens(tokens(text), k)


def shingles_sql(text_expr: str, k: int) -> str:
    """DuckDB twin of :func:`shingles` — same ``list_zip`` shape, so the
    token macro is expanded k times (O(k·T)), never per shingle position."""
    toks = f"list_filter(string_split_regex(lower({text_expr}), '\\s+'), t -> t <> '')"
    slices = ", ".join(f"({toks})[{j + 1}:-{k - j}]" for j in range(k))
    joined = " || ' ' || ".join(f"z[{j + 1}]" for j in range(k))
    return (
        f"(CASE WHEN len({toks}) < {k} THEN [] "
        f"ELSE list_transform(list_zip({slices}), z -> {joined}) END)"
    )


def lsh_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """Group a MinHash signature into band keys: md5 over each band slice.

    Docs sharing ANY band key are LSH candidates — the band key becomes an
    equi-join key, turning the all-pairs similarity join into a shuffle
    partition-able equi-join (the scale path for 100 TB near-dedup).
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat(
                b.cast("string"),
                F.lit("|"),
                F.array_join(
                    F.transform(
                        F.slice(sig, b * rows_per_band + 1, rows_per_band),
                        lambda v: v.cast("string"),
                    ),
                    ",",
                ),
            )
        ),
    )
