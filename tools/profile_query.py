"""Per-query wall-time decomposition (r19 optimization round, guide §1).

For each named query, on the bench session (tuned get_spark + table-footer
warmup + staged shingle cache, like bench.py):

- build_s   : queries[name](spark, sf_dir) — DataFrame/plan construction
              (includes any eager work the plan fn does: counts,
              localCheckpoints, fixture writes, streaming runs)
- plan_s    : explain-string generation on the built df (analysis +
              optimization + physical planning; AQE re-planning excluded)
- exec1_s   : first materialize of the SAME df object (execution only for
              that plan; codegen included)
- fresh_s   : min over K full fresh passes (build + plan + exec — what
              bench.py times per warm pass)
- reuse_s   : min over K materializes of the same df object (execution
              only; fresh_s - reuse_s ~= per-pass replan/build overhead)

Usage: python tools/profile_query.py [--sf DIR] [--k 3] name [name ...]
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import materialize, warm_up  # noqa: E402


def main() -> None:
    from datalake_imagenes_georreferenciadas_spark.plans.queries import all_queries
    from datalake_imagenes_georreferenciadas_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    k = 3
    names = []
    while args:
        a = args.pop(0)
        if a == "--sf":
            sf_dir = args.pop(0)
        elif a == "--k":
            k = int(args.pop(0))
        else:
            names.append(a)
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    warm_up(spark, sf_dir)

    print(f"{'query':38s} {'build':>7s} {'plan':>7s} {'exec1':>7s} {'fresh':>7s} {'reuse':>7s}")
    for name in names:
        fn = queries[name]
        t0 = time.time()
        df = fn(spark, sf_dir)
        build_s = time.time() - t0
        t0 = time.time()
        df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "simple")
        plan_s = time.time() - t0
        t0 = time.time()
        materialize(df)
        exec1_s = time.time() - t0
        fresh = []
        for _ in range(k):
            t0 = time.time()
            materialize(fn(spark, sf_dir))
            fresh.append(time.time() - t0)
        reuse = []
        for _ in range(k):
            t0 = time.time()
            materialize(df)
            reuse.append(time.time() - t0)
        print(
            f"{name:38s} {build_s:7.3f} {plan_s:7.3f} {exec1_s:7.3f} "
            f"{min(fresh):7.3f} {min(reuse):7.3f}"
        )


if __name__ == "__main__":
    main()
