"""Repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see BENCHMARK.json for why each was chosen):

- ``lake_sf01``   driver-bound query mix on a generated sf0.1 lake;
- ``ingest_catalog`` the reference's ingest loop: land a batch of GPS
  fixes, one availableNow stream trigger that classifies them into the
  catalog, a MERGE that advances 5% of them, a catalog-filtered read.

The seed fixes the query order and the landing batches; the lake tables
are generated once per checkout (fixed data seed) under
``.bench_build/perfbench/data`` and reused after their row counts are
verified.  The amount of work in a run is fixed, and scaled by
``--seconds``, rather than timed: a slower commit takes longer instead of
doing less work.  At ``--seconds 15`` the measured passes or cycles take
about 15-20 s on a 4-core host, and a whole run about a minute.

End-to-end metrics (``--trace 0``), the same names on every workload:

- ``setup_s``      session start, plus the touch of every table the mix
                   reads (lake);
- ``first_pass_s`` the first pass over the query mix (lake) or the first
                   ingest cycle on a fresh pipeline: the cold cost a cron
                   run pays;
- ``warm_pass_s``  lake: each query's median latency over the measured
                   passes, summed; ingest: the median measured cycle;
- ``op_geomean_s`` lake: geometric mean of those per-query medians, so
                   small queries count; ingest: geometric mean of the
                   median trigger, MERGE and retrieval step times.

Every timing is wall-clock time net of the CPU time the hypervisor stole
from the host meanwhile (``/proc/stat`` steal spread over the vCPUs; see
``worker.clock``).  On a shared VM steal comes and goes for minutes at a
time and slows a whole run; on a dedicated host the times are plain wall
time.

Each run starts a fresh Spark driver (``worker.py``) on ``local[nproc]``
with the engine's own session settings, and with every temp, Spark-local,
checkpoint and catalog dir inside a private run dir, which is removed
afterwards; an entry other than Spark's own left in its temp dir after
the driver exits counts as a failed operation.  ``--trace 1`` turns on
Spark's event log and alternates traced and untraced measured passes
(cycles) in that driver; it reports the per-layer metrics from the traced
ones plus the tracing overhead (traced minus untraced median), the driver's peak
RSS, and each query's build share.  The last stdout line is the result; a
failed output check makes the exit code 1.  Run details (per-query times,
load average at start and end, CPU time the hypervisor stole from the
host per pass and per run) go to stderr.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = os.path.join(ROOT, "datalake_imagenes_georreferenciadas_spark")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DATA_SEED = 42
CHILD_TIMEOUT_S = 170
#: what Spark and its JVM libraries leave in the temp dir by themselves;
#: any other entry left there after the driver exits (a query's staging
#: dir, a landing or checkpoint dir) is reported as a leak
SPARK_TMP_PREFIXES = ("spark-", "artifacts-", "blockmgr-", "hsperfdata_", "liblz4-java",
                      "snappy-", "libzstd-jni")

sys.path.insert(0, HERE)


def steal_s() -> float:
    """CPU time the hypervisor took from this host's vCPUs since boot
    (0 on bare metal): with the load average, a noise field of the run."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


# ------------------------------------------------------------ datasets


def table_rows(data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        os.path.basename(p)[: -len(".parquet")]: pq.ParquetFile(p).metadata.num_rows
        for p in glob.glob(os.path.join(data_dir, "*.parquet"))
    }


def ensure_dataset(name: str) -> str:
    """Build the lake dataset ``name`` (``sf<scale factor>``) once, into a
    temp dir renamed into place, and reuse it while every table's row
    count matches its manifest, so a partial build is never reused."""
    import datagen

    dest = os.path.join(WORK, "data", name)
    manifest = os.path.join(dest, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            if json.load(fh) == table_rows(dest):
                return dest
        print(f"# dataset {name}: row counts differ from manifest, rebuilding", file=sys.stderr)
    shutil.rmtree(dest, ignore_errors=True)
    tmp = f"{dest}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    t0 = time.time()
    counts = datagen.write_lake(tmp, float(name[len("sf"):]), DATA_SEED)
    with open(os.path.join(tmp, "manifest.json"), "w") as fh:
        json.dump(counts, fh)
    os.replace(tmp, dest)
    print(f"# dataset {name} built in {time.time() - t0:.1f}s", file=sys.stderr)
    return dest


# -------------------------------------------------------------- worker


def group_alive(pgid: int) -> bool:
    """Whether a live (non-zombie) process is left in process group ``pgid``."""
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we looked
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def wait_group(pgid: int, timeout: float = 20.0) -> None:
    deadline = time.time() + timeout
    while group_alive(pgid):
        if time.time() > deadline:
            raise RuntimeError(f"processes of group {pgid} still running after SIGKILL")
        time.sleep(0.05)


def run_worker(args, data_dir: str | None, traced: bool) -> dict:
    """Run the workload in a fresh driver process inside a private run dir;
    returns its result plus the hygiene findings."""
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}-{int(traced)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp, local, log_dir = (os.path.join(run_dir, d) for d in ("tmp", "local", "eventlog"))
    for d in (tmp, local, log_dir):
        os.makedirs(d)
    submit = f"--driver-java-options -Djava.io.tmpdir={tmp}"
    if traced:
        from tracing import event_log_conf

        submit += " " + event_log_conf(log_dir)
    else:
        submit += " pyspark-shell"
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CPUS=str(os.cpu_count() or 1),
        PYSPARK_SUBMIT_ARGS=submit,
        PERFBENCH_EVENT_LOG=log_dir,
    )
    result_path = os.path.join(run_dir, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(int(traced)),
        "--work", run_dir, "--out", result_path,
    ]
    if data_dir:
        cmd += ["--data", data_dir]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        code = "timeout"
    finally:
        # the driver JVM and Python workers share the child's process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        wait_group(proc.pid)
    result = None
    if code == 0 and os.path.exists(result_path):
        with open(result_path) as fh:
            result = json.load(fh)
    leaked = sorted(e for e in os.listdir(tmp) if not e.startswith(SPARK_TMP_PREFIXES))
    spans = os.path.join(run_dir, "spans.json")
    if os.path.exists(spans):
        keep = os.path.join(WORK, "traces", os.path.basename(run_dir) + ".json")
        os.makedirs(os.path.dirname(keep), exist_ok=True)
        os.replace(spans, keep)
        print(f"# spans written to {keep}", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)
    if result is None:
        raise RuntimeError(f"worker exited with {code}")
    if leaked:
        result["failed"] += 1
        result["attempted"] += 1
        result["errors"].append(f"temp entries left behind: {leaked}")
    return result


# ---------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(PACKAGE) or not os.path.exists(os.path.join(ROOT, "bench.py")):
        return fail(f"engine sources not found under {ROOT}")
    if not os.path.exists(spec_path):
        return fail("BENCHMARK.json not found")
    with open(spec_path) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return fail(f"unknown workload {args.workload!r}")

    from metrics import failure_ratio
    from workloads import LAKE

    load_start, steal_start = os.getloadavg(), steal_s()
    data_dir = ensure_dataset(LAKE[args.workload]["data"]) if args.workload in LAKE else None
    try:
        res = run_worker(args, data_dir, traced=bool(args.trace))
    except RuntimeError as e:
        return fail(str(e))
    noise = {"loadavg_start": load_start, "loadavg_end": os.getloadavg(),
             "steal_s": steal_s() - steal_start}

    attempted, failed = res["attempted"], res["failed"]
    for e in res["errors"]:
        print(f"# error: {e}", file=sys.stderr)
    print(f"# detail: {json.dumps({**res['detail'], **res['setup'], **noise})}", file=sys.stderr)

    layers = res["per_layer"] if args.trace else res["end_to_end"]
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    for name, m in out.items():
        print(f"# {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"# failed_ops = {failure_ratio(failed, attempted):.4g} ({failed} of {attempted})",
          file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
