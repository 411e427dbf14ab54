"""Dump ``explain("formatted")`` for named queries to the current
optimization round's plans dir (``<query>_<tag>.txt`` per touched query;
r20 default plans/r20/, override with PLAN_DUMP_DIR).

Usage:
  python tools/plan_dump.py <tag> name [name ...]     # tag = before|after
  python tools/plan_dump.py <tag> --sf /root/testdata/sf0.1 name ...

Plans are captured at sf0.1 by default (the bench scale — the plans the
timing claims are about). Streaming queries that only exist as a running
StreamingQuery (memory-sink composites) can't be explained this way; the
dump records that fact instead of a plan.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from datalake_imagenes_georreferenciadas_spark.plans.queries import all_queries
from datalake_imagenes_georreferenciadas_spark.session import get_spark


def main() -> None:
    args = sys.argv[1:]
    if len(args) < 2:
        print(__doc__)
        sys.exit(2)
    tag = args.pop(0)
    sf_dir = "/root/testdata/sf0.1"
    if args and args[0] == "--sf":
        args.pop(0)
        sf_dir = args.pop(0)
    names = args
    # r20: dumps land in the current optimization round's dir (override
    # with PLAN_DUMP_DIR for ad-hoc captures)
    out_dir = os.environ.get("PLAN_DUMP_DIR", os.path.join(REPO, "plans", "r20"))
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan_dump")
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    for name in names:
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        try:
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 - record the failure in the dump
            plan = f"(no static plan: {type(exc).__name__}: {exc})"
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} [{tag}]\n{plan}")
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
