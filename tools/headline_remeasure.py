"""Quiet-host min-of-k re-measure of named queries (r09 VERDICT task 3).

Two modes:

- default (headline): replays bench.py's exact session setup (tuned
  get_spark, table-footer warmup, staged shingle cache) and runs the
  FULL 48-query headline block in bench order — so per-query session
  state matches what the driver's bench run sees — but takes min-of-K
  warm passes (default 3) instead of 2, and prints a comparison table
  against a reference BENCH_r*.json's driver-parsed times. Only
  headline names can be measured here.

- ``--isolated`` (r14): same warmup, then runs ONLY the named queries
  (one cold pass + K warm each). This is the documented "isolated quiet
  min-of-k" adjudication used in the r13/r14 BASELINE rows for
  EXTENDED (non-headline) names, which the headline replay cannot
  reach. Isolated numbers skip the hundreds of preceding queries a
  FULL bench session runs, so the JVM is colder — expect isolated >=
  in-bench for sub-second names; compare isolated-to-isolated across
  rounds, or treat the ratio as an upper bound.

The ``--ref`` file may be a BENCH_r*.json (driver capture:
``parsed.queries``, headline-48 only) or a BENCH_DETAIL.json-style
file (``queries_warm``, all timed queries — use a git-extracted copy
to compare against a past round's detail).

Usage:
  python tools/headline_remeasure.py [--ref BENCH_r08.json] [--k 3] \
      [--isolated] [name ...]   # names default to ALL 48 headline queries
Exit 0 always (diagnostic, not a gate); the table is the deliverable.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def load_ref(ref_path: str) -> dict:
    """Reference times from either artifact shape: a driver BENCH_r*.json
    (``parsed.queries``) or a bench-written BENCH_DETAIL.json
    (``queries_warm``). Absolute paths pass through (git-extracted
    copies of a past round's detail live outside the repo)."""
    path = ref_path if os.path.isabs(ref_path) else os.path.join(REPO, ref_path)
    with open(path) as fh:
        doc = json.load(fh)
    if "parsed" in doc:
        return doc["parsed"]["queries"]
    return doc["queries_warm"]


def classify(name: str, warm: float, ref: dict) -> tuple:
    """Row tuple for one measured name: (name, ref_time, warm, ratio,
    verdict). A measured name ABSENT from the ref file gets an explicit
    ``no-ref`` row (r14 ADVICE #3) — previously it was silently omitted
    from both the table and the measured count, so e.g. an extended name
    checked against a headline-48 BENCH_r*.json vanished after its cold +
    k warm passes were already spent."""
    if name in ref:
        ratio = warm / ref[name] if ref[name] else float("inf")
        return (name, ref[name], warm, ratio, "ok" if ratio <= 1.25 else "SLOW")
    return (name, None, warm, None, "no-ref")


def main() -> int:
    args = sys.argv[1:]
    ref_path, k, isolated = "BENCH_r08.json", 3, False
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--ref":
            ref_path = next(it)
        elif a == "--k":
            k = int(next(it))
        elif a == "--isolated":
            isolated = True
        else:
            names.append(a)

    import bench
    from datalake_imagenes_georreferenciadas_spark.plans.queries import all_queries
    from datalake_imagenes_georreferenciadas_spark.session import get_spark

    ref = load_ref(ref_path)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("remeasure")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    bench.warm_up(spark, sf_dir)

    focus = set(names) if names else set(bench.BENCH_QUERIES)
    if isolated:
        run_list = [n for n in queries if n in focus]  # registry order
        missing = focus - set(run_list)
        if missing:
            print(f"unknown names skipped: {sorted(missing)}")
    else:
        run_list = list(bench.BENCH_QUERIES)
        outside = focus - set(run_list)
        if outside:
            print(
                f"non-headline names need --isolated, skipped: {sorted(outside)}"
            )
    rows = []
    for name in run_list:
        bench.materialize(queries[name](spark, sf_dir))  # cold pass
        passes = []
        for _ in range(k):
            t0 = time.time()
            bench.materialize(queries[name](spark, sf_dir))
            passes.append(time.time() - t0)
        warm = round(min(passes), 3)
        if name in focus:
            row = classify(name, warm, ref)
            rows.append(row)
            if row[4] == "no-ref":
                print(
                    f"{name:28s} ref=   n/a now={warm:6.3f} ratio= n/a no-ref",
                    flush=True,
                )
            else:
                print(
                    f"{name:28s} ref={row[1]:6.3f} now={warm:6.3f} "
                    f"ratio={row[3]:4.2f} {row[4]}",
                    flush=True,
                )
    slow = [r for r in rows if r[4] == "SLOW"]
    mode = "isolated" if isolated else "headline-replay"
    print(f"\n{len(rows)} measured ({mode}), {len(slow)} over 1.25x vs {ref_path}")
    if slow:
        print("over-threshold:", [r[0] for r in slow])
    return 0


if __name__ == "__main__":
    sys.exit(main())
