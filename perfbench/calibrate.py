"""Record the expected output of every lake query in ``expected.json``.

    python3 perfbench/calibrate.py        # from the repository root

Run it after changing the data generator or a query mix.  It needs the
datasets, so run each lake workload once first.  Each query's row count
and row-hash xor are computed in two fresh drivers with different core
counts; the xor is kept only where both agree (bit-stable output), the
row count must agree.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def measure() -> None:
    """Child: print {dataset: {query: [rows, xor]}} for this driver."""
    sys.path.insert(0, HERE)
    from run import WORK
    from worker import row_hash_xor
    from workloads import LAKE

    from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES
    from datalake_imagenes_georreferenciadas_spark.session import get_spark

    spark = get_spark("perfbench-calibrate")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {}
    for cfg in LAKE.values():
        data = os.path.join(WORK, "data", cfg["data"])
        for q in cfg["queries"]:
            out.setdefault(cfg["data"], {})[q] = row_hash_xor(QUERIES[q](spark, data))
    spark.stop()
    print(json.dumps(out))


def main() -> int:
    if len(sys.argv) > 1 and sys.argv[1] == "--measure":
        measure()
        return 0
    tmp = os.path.join(ROOT, ".bench_build", "perfbench", "calibrate-tmp")
    os.makedirs(tmp, exist_ok=True)
    found = []
    for cpus in ("4", "3"):
        env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS=cpus, TMPDIR=tmp,
                   SPARK_LOCAL_DIRS=tmp, PYSPARK_SUBMIT_ARGS=f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell")
        res = subprocess.run([sys.executable, __file__, "--measure"], env=env, cwd=tmp,
                             check=True, stdout=subprocess.PIPE, text=True)
        found.append(json.loads(res.stdout.strip().splitlines()[-1]))
    shutil.rmtree(tmp)
    expected: dict = {}
    for data, queries in found[0].items():
        for q, (rows, xor) in queries.items():
            rows2, xor2 = found[1][data][q]
            if rows != rows2:
                raise SystemExit(f"{data}/{q}: row count differs between drivers ({rows}, {rows2})")
            expected.setdefault(data, {})[q] = {"rows": rows, "xor": xor if xor == xor2 else None}
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(json.dumps(expected, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
