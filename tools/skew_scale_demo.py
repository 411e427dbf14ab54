"""Compose the skew and scale axes (r17, VERDICT r16 task 4).

Both axes pass separately (scaling_ladder.json growth exponents; the
330/330 skew fuzz at sf0.001) — but hot buckets are where banded
designs quietly go quadratic, and the scale ladder deliberately salts
text to AVOID dup clusters, so the interaction was untested. This tool
applies tools/make_skewed_sf.py ON the k=4 inflation of sf0.1
(documents: 30% one exact-dup cluster + 20% a near-dup variant;
embeddings: 30% one hot vector; lineitem/orders/events: 30% hot join/
window keys) and times the dedup/join/window families on plain-k4 vs
skew-k4.

Reading the numbers: for PAIR-OUTPUT families a hot dup cluster makes
the TRUE ANSWER quadratic in the cluster (6,000 identical docs ARE
~18M duplicate pairs) — the honest metric is wall time relative to
output rows, so the table carries both. For aggregate/join/window
families output stays bounded and wall time itself must hold.

Usage: python tools/skew_scale_demo.py [--runs 2] [query ...]
Prints one markdown row per (family, variant) for SCALING.md.
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from tools.scaling_ladder import scaled_dir  # noqa: E402

# dedup / join / window families over the tables the skew generator
# heats (documents text, embeddings vector, lineitem/orders/events keys)
FAMILIES = [
    "dedup_exact",
    "dedup_near_pairs",
    "dedup_components",
    "dedup_simhash_pairs",
    "dedup_cosine_pairs",
    "skew_salted_join",
    "tpch_q3_shape",
    "j_asof_join",
    "w2_running_sum",
    "a2_argmin_per_group",
]


def skewed_scaled_dir(k: int = 4) -> str:
    base = scaled_dir(k)
    d = f"/tmp/skewscale_sf0.1_k{k}"
    marker = os.path.join(d, "embeddings.parquet")
    if not os.path.exists(marker):
        subprocess.run(
            [sys.executable, "tools/make_skewed_sf.py", d, base],
            check=True,
            cwd=REPO,
        )
    return d


def main() -> int:
    argv = sys.argv[1:]
    runs = 2
    while argv and argv[0].startswith("--"):
        flag = argv.pop(0)
        if flag == "--runs":
            if not argv:
                raise SystemExit("usage: --runs needs an operand")
            runs = int(argv.pop(0))
        else:
            raise SystemExit(f"unknown flag {flag}")
    names = argv or FAMILIES

    from datalake_imagenes_georreferenciadas_spark.session import get_spark
    from __spark_entry__ import queries

    qs = queries()
    unknown = set(names) - set(qs)
    if unknown:
        print(f"unknown queries: {' '.join(sorted(unknown))}", file=sys.stderr)
        return 2
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    dirs = [("plain k=4", scaled_dir(4)), ("skew∘k=4", skewed_scaled_dir(4))]
    print("| family | plain k=4 s | rows | skew∘k=4 s | rows | t-ratio |")
    print("|---|---|---|---|---|---|")
    for name in names:
        cells = []
        for _tag, d in dirs:
            best, n = None, None
            for _ in range(runs):
                t0 = time.time()
                n = qs[name](spark, d).count()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            cells.append((best, n))
        (tp, np_), (ts_, ns) = cells
        print(
            f"| {name} | {tp:.2f} | {np_:,} | {ts_:.2f} | {ns:,} "
            f"| {ts_ / max(tp, 1e-3):.1f}× |",
            flush=True,
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
