"""Decorrelated-growth control for the simhash auto-density ladder row
(r18).

make_scaled_sf salts every 3rd word of copy i>0 — calibrated so
SHINGLE-based families (minhash/jaccard: a 5-shingle survives with
p≈(2/3)^5≈13%) see no cross-copy near-duplicates. TOKEN-VOTE simhash
is different: 2/3 shared tokens leave copy fingerprints strongly
correlated, so cross-copy docs co-occupy band buckets and candidate
volume grows FASTER than n even at held per-bucket uniform density
(measured on the k-dirs: ×2.42 candidates for ×2 docs at the derived
44→48-bit widths, per-candidate cost flat at ×1.09). That densification
is a property of the growth AXIS (copy-correlated corpora), not of the
auto dial.

This control rebuilds the same k-rungs with EVERY word salted per copy
(disjoint token sets ⇒ independent fingerprints across copies; each
copy retains the base corpus's own internal vocabulary correlation —
growth by independent shards). If the auto dial is right, alpha_tail
on this axis reads ~1: each doubling's extra band bit absorbs the
volume growth, and only the genuine cross-copy correlation of the
scaled axis remains outside the dial's reach — as it should be, since
those candidates share whole bands because their content genuinely
overlaps.

Usage: python tools/organic_growth_control.py [--ks 8,16] [--runs 4]
"""

from __future__ import annotations

import os
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

STRIDE = 10_000_000  # same per-copy key stride as make_scaled_sf


def _salt_all(text: str | None, i: int) -> str | None:
    if text is None or i == 0:
        return text
    tag = f"x{i}"
    return " ".join(w + tag for w in text.split(" "))


def control_dir(k: int, base: str = "/root/testdata/sf0.1") -> str:
    d = f"/tmp/organic_k{k}"
    dest = os.path.join(d, "documents.parquet")
    if os.path.exists(dest):
        return d
    os.makedirs(d, exist_ok=True)
    t = pq.read_table(os.path.join(base, "documents.parquet"))
    copies = []
    for i in range(k):
        cols = {}
        for field in t.schema:
            arr = t.column(field.name).combine_chunks()
            if field.name == "doc_id":
                import pyarrow.compute as pc

                arr = pc.add(arr, pa.scalar(i * STRIDE, type=field.type))
            elif field.name == "text":
                arr = pa.array(
                    [_salt_all(v, i) for v in arr.to_pylist()], type=field.type
                )
            cols[field.name] = arr
        if i > 0:
            cols["n_chars"] = pa.array(
                [
                    None if v is None else len(v)
                    for v in cols["text"].to_pylist()
                ],
                type=t.schema.field("n_chars").type,
            )
        copies.append(
            pa.table({f.name: cols[f.name] for f in t.schema}, schema=t.schema)
        )
    pq.write_table(pa.concat_tables(copies), dest)
    return d


def main() -> int:
    argv = sys.argv[1:]
    ks, runs = [8, 16], 4
    while argv and argv[0].startswith("--"):
        flag = argv.pop(0)
        if flag in ("--ks", "--runs"):
            if not argv:
                raise SystemExit(f"usage: {flag} needs an operand")
            if flag == "--ks":
                ks = [int(x) for x in argv.pop(0).split(",")]
            else:
                runs = int(argv.pop(0))
        else:
            raise SystemExit(f"unknown flag {flag}")

    from datalake_imagenes_georreferenciadas_spark.operators import dedup as D
    from datalake_imagenes_georreferenciadas_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for k in ks:
        d = control_dir(k)
        docs = spark.read.parquet(os.path.join(d, "documents.parquet"))
        n = docs.count()
        bb = D.auto_band_bits(n)
        fps = D.simhash_table(docs, num_bits=4 * bb)
        ncand = D.simhash_band_candidates(
            fps, num_bits=4 * bb, band_bits=bb
        ).count()
        best = None
        for _ in range(runs):
            t0 = time.time()
            npairs = D.simhash_pairs_auto(docs).count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        rows.append((k, n, bb, ncand, npairs, best))
        print(
            f"k={k} n={n} bits={bb} candidates={ncand} pairs={npairs} "
            f"t={best:.2f}s",
            flush=True,
        )
    if len(rows) >= 2:
        import math

        (k1, *_, t1), (k2, *_, t2) = rows[-2], rows[-1]
        c1, c2 = rows[-2][3], rows[-1][3]
        print(
            f"alpha_tail={math.log(t2 / t1) / math.log(k2 / k1):.2f} "
            f"candidate_growth=x{c2 / c1:.2f}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
