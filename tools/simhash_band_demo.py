"""Demonstrate the simhash band-WIDENING scale path (r17, VERDICT task 1).

The registered ``dedup_simhash_pairs`` uses a 32-bit fingerprint in
4 x 8-bit pigeonhole bands (256 buckets/band) — its DuckDB oracle
evaluates that exact family, so the registration stays put. At FIXED
band width the candidate join does ~(n/2^band_bits)^2 * 2^band_bits
work per band, quadratic in n; the r16 ladder measured alpha_tail 1.47.
The scale answer (Manku et al., WWW'07: 64-bit fp, 4 x 16-bit bands at
web scale) widens the band prefix with log n so per-bucket density
stays constant — this tool MEASURES that, exactly like SCALING.md's
cosine planes-5->8 table:

  for k in {1, 8}:                       # sf0.1 and its 8x inflation
    time + count simhash_pairs at (32 bits, 8-bit bands)   # registered
    time + count simhash_pairs at (60 bits, 15-bit bands)  # density-matched:
                                         # 2^15 buckets >= 256 * 64 needed
                                         # to hold density at 8x rows

(60/15 rather than 64/16 keeps every bit weight in a positive BIGINT
lane — the sign bit would need special-cased literals for zero
informational gain; 4 bands > hamming 3 pigeonhole still holds.)

Usage: python tools/simhash_band_demo.py [--ks 1,8] [--runs 2]
Prints one markdown table row per (k, setting) for SCALING.md.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.scaling_ladder import scaled_dir  # noqa: E402


def main() -> int:
    argv = sys.argv[1:]
    ks, runs = [1, 8], 2
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
    from datalake_imagenes_georreferenciadas_spark.tables import table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    settings = [(32, 8, "registered"), (60, 15, "density-matched")]
    print("| corpus | setting | wall s (min-of-%d warm) | candidates | pairs |" % runs)
    print("|---|---|---|---|---|")
    for k in ks:
        d = scaled_dir(k)
        docs = table(spark, d, "documents")
        n_docs = docs.count()
        for num_bits, band_bits, tag in settings:
            best = None
            n_pairs = n_cand = None
            for _ in range(runs):
                t0 = time.time()
                n_pairs = D.simhash_pairs(
                    docs, num_bits=num_bits, band_bits=band_bits
                ).count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            fps = D.simhash_table(docs, num_bits=num_bits)
            n_cand = D.simhash_band_candidates(
                fps, num_bits=num_bits, band_bits=band_bits
            ).count()
            print(
                f"| k={k} ({n_docs} docs) | {num_bits}/{band_bits} ({tag}) "
                f"| {best:.2f} | {n_cand:,} | {n_pairs:,} |",
                flush=True,
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
