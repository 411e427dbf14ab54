"""k=16 spot-check of the three waived LSH families at density-matched
parameters (r17, the r16 VERDICT task-1 stretch goal).

The ladder waives dedup_cosine_pairs / dedup_semantic_components /
dedup_simhash_pairs because candidate generation is quadratic at FIXED
banding parameters; the scale path (parameters ∝ log n) is demonstrated
at k=8 in SCALING.md. This tool extends the curve one more doubling:
at k=16 (16× sf0.1: 32k vectors, 80k docs) it times each family at its
REGISTERED setting vs the density-matched one —

- cosine/semantic: planes_per_band 5 → 9 (2^9 = 512 buckets/band ≥
  32·16 needed to hold per-bucket density at 16× the 2k-vector base),
- simhash: band_bits 8 → 15 (2^15 buckets ≥ 256·128; 60-bit fp).

A density-matched time that stays within ~2× of the k=8 density-matched
time (for 2× the data) confirms the dial keeps the family linear-class
one more doubling out. The registered fixed-parameter settings are
already measured quadratic at k=8 (SCALING.md); re-proving that at k=16
costs ~45 min for no new information, so they only run under
--with-registered.

Usage: python tools/lsh_density_spotcheck.py [--runs 2] [--with-registered]
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
    runs = 2
    with_registered = False
    while argv and argv[0].startswith("--"):
        flag = argv.pop(0)
        if flag == "--runs":
            if not argv:
                raise SystemExit("usage: --runs needs an operand")
            runs = int(argv.pop(0))
        elif flag == "--with-registered":
            with_registered = True
        else:
            raise SystemExit(f"unknown flag {flag}")

    from pyspark.sql import functions as F

    from datalake_imagenes_georreferenciadas_spark.operators import dedup as D
    from datalake_imagenes_georreferenciadas_spark.operators import similarity as SIM
    from datalake_imagenes_georreferenciadas_spark.session import get_spark
    from datalake_imagenes_georreferenciadas_spark.tables import table

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    d = scaled_dir(16)

    def cosine_pairs(planes: int):
        return SIM.cosine_near_pairs(
            table(spark, d, "embeddings"),
            threshold=0.25,
            num_bands=4,
            planes_per_band=planes,
        )

    def semantic(planes: int):
        pairs = cosine_pairs(planes)
        edges = pairs.select(
            F.col("a_id").alias("src"), F.col("b_id").alias("dst")
        )
        labels = D.components_from_edges(edges)
        vecs = table(spark, d, "embeddings").select("vec_id")
        return vecs.join(labels, vecs.vec_id == labels.id, "left").select(
            "vec_id",
            F.coalesce("component", F.col("vec_id").cast("long")).alias(
                "component"
            ),
        )

    def simhash(band_bits: int, num_bits: int):
        return D.simhash_pairs(
            table(spark, d, "documents"),
            num_bits=num_bits,
            band_bits=band_bits,
        )

    cases = [
        ("dedup_cosine_pairs", "planes=9 (density-matched)", lambda: cosine_pairs(9)),
        ("dedup_semantic_components", "planes=9 (density-matched)", lambda: semantic(9)),
        ("dedup_simhash_pairs", "60/15 (density-matched)", lambda: simhash(15, 60)),
    ]
    if with_registered:
        cases += [
            ("dedup_cosine_pairs", "planes=5 (registered)", lambda: cosine_pairs(5)),
            ("dedup_semantic_components", "planes=5 (registered)", lambda: semantic(5)),
            ("dedup_simhash_pairs", "32/8 (registered)", lambda: simhash(8, 32)),
        ]
    print("| family | setting @ k=16 | wall s (min-of-%d warm) | rows |" % runs)
    print("|---|---|---|---|")
    for fam, tag, build in cases:
        best, n = None, None
        for _ in range(runs):
            t0 = time.time()
            n = build().count()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        print(f"| {fam} | {tag} | {best:.2f} | {n:,} |", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
