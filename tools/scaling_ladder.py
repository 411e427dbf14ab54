"""Scale-ladder growth check (r16, VERDICT task 2): time the most
expensive query families at k× inflations of sf0.1 (tools/make_sf.py
scale:k, k∈{1,2,4,8}) and fit per-family growth exponents.

For each family we report
  * t(k) — min-of-2 warm wall seconds at each k,
  * alpha_fit  — least-squares slope of log t vs log n over all k
    (biased LOW by fixed per-query overhead; a sanity number),
  * alpha_tail — log2(t[kmax]/t[kmax/2]), the marginal exponent on the
    largest doubling, where fixed overhead has mostly washed out. This
    is the number the 100 TB claim rides on: a banded/bucketed design
    should hold alpha_tail ≲ 1.3 (n·log n plus noise); a pair generator
    gone quadratic reads ≈2 and fails the gate loudly.

Writes scaling_ladder.json (machine-readable; SCALING.md is prose-built
from it) — tests/test_scaling_ladder.py pins the committed exponents.

Usage: python tools/scaling_ladder.py [--ks 1,2,4,8] [--runs 2] [query ...]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from make_sf import build  # beside this script: importable when it runs as one

# The 20+ most expensive families from BENCH_DETAIL.json (r15 close),
# minus fixture-construction-dominated and streaming machinery-cost
# names (documented constant-cost, not data-growth shapes), plus the
# sequence-grid and geo-grid families the extreme/skew axes flagged as
# growth-sensitive.
LADDER = [
    "dedup_semantic_components",
    "dedup_components",
    "dedup_ngram_jaccard",
    "dedup_near_pairs",
    "dedup_minhash_accuracy",
    "dedup_exact",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_lsh_topk",
    "ml_knn_classifier",
    "graph_triangles",
    "graph_item_similarity",
    "graph_incremental_components",
    "graph_bfs_distance",
    "graph_degree_distribution",
    "graph_modularity",
    "pipeline_corpus_prep",
    "pipeline_dsir_weights",
    "er_fuzzy_match",
    "a22_weighted_quantile",
    "ts_resample_interp",
    "geo_knn_grid",
]


def scaled_dir(k: int, base: str = "/root/testdata/sf0.1") -> str:
    if k == 1:
        return base
    d = f"/tmp/scale_sf0.1_k{k}"
    marker = os.path.join(d, "embeddings.parquet")
    if not os.path.exists(marker):
        build(f"scale:{k}", d, base)
    return d


def fit_alpha(ks: list[int], ts: list[float]) -> float:
    xs = [math.log(k) for k in ks]
    ys = [math.log(max(t, 1e-3)) for t in ts]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> int:
    argv = sys.argv[1:]
    ks, runs = [1, 2, 4, 8], 2
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
    names = argv or LADDER

    from datalake_imagenes_georreferenciadas_spark.session import get_spark
    from __spark_entry__ import queries

    qs = queries()
    unknown = set(names) - set(qs)
    if unknown:
        print(f"unknown queries: {' '.join(sorted(unknown))}", file=sys.stderr)
        return 2
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    dirs = {k: scaled_dir(k) for k in ks}
    out: dict[str, dict] = {}
    for name in names:
        rec: dict[str, float] = {}
        for k in ks:
            best = None
            for _ in range(runs):
                t0 = time.time()
                qs[name](spark, dirs[k]).collect()
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
            rec[str(k)] = round(best, 3)
            print(f"{name} k={k}: {best:.2f}s", flush=True)
        out[name] = {"t": rec}
    path = os.path.join(REPO, "scaling_ladder.json")
    # scoped re-runs MERGE into the existing file (a named re-measure
    # must not drop the other families' committed numbers), and the
    # merge is PER-K: a --ks 16 extension adds a point to a family's
    # committed {1,2,4,8} curve instead of replacing the curve (a
    # single-k run also used to crash on ks[-2] before any write —
    # alphas are now computed from the MERGED curve after the merge)
    prior_fams: dict = {}
    prior_ks: list[int] = []
    if os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        if argv:
            prior_fams = prior.get("families", {})
        prior_ks = [int(k) for k in prior.get("ks", [])]
    merged = dict(prior_fams)
    for name, rec in out.items():
        t = {**merged.get(name, {}).get("t", {}), **rec["t"]}
        pts = sorted((int(k), v) for k, v in t.items())
        row: dict = {"t": {str(k): v for k, v in pts}}
        if len(pts) >= 2:
            row["alpha_fit"] = round(
                fit_alpha([k for k, _ in pts], [v for _, v in pts]), 3
            )
            (k1, t1), (k2, t2) = pts[-2], pts[-1]
            row["alpha_tail"] = round(
                math.log(max(t2, 1e-3) / max(t1, 1e-3)) / math.log(k2 / k1), 3
            )
            print(
                f"  {name}: alpha_fit={row['alpha_fit']:.2f} "
                f"alpha_tail={row['alpha_tail']:.2f}",
                flush=True,
            )
        merged[name] = row
    all_ks = sorted(set(prior_ks) | set(ks)) if argv else ks
    with open(path, "w") as fh:
        json.dump(
            {"ks": all_ks, "runs": runs, "families": merged},
            fh,
            indent=1,
            sort_keys=True,
        )
    print(f"wrote {path}")
    worst = sorted(
        ((n, merged[n]) for n in out if "alpha_tail" in merged[n]),
        key=lambda kv: -kv[1]["alpha_tail"],
    )[:5]
    print("worst alpha_tail:", [(n, r["alpha_tail"]) for n, r in worst])
    return 0


if __name__ == "__main__":
    sys.exit(main())
