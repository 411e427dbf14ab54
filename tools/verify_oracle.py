"""Local mini-driver: run every queries() entry against its oracle_sql()
twin in DuckDB at a given sf and report row-count / schema / value-set
mismatches — a faster feedback loop than waiting for the driver round.
The same pass audits each query that ran: its output columns must be
atomic, and its executed plan and Spark job count must meet its pins in
tools/plan_audit.py.

Usage: python tools/verify_oracle.py [--json OUT.json] [--allowlist AXIS]
                                     [sf_dir] [query ...]

--json OUT.json   write per-query {status, kind[, rows]} results; each
                  query the audit checked also gets its layer ledger
                  (plans.*, exec.*, streaming.* columns; the verify
                  skill lists them), for which the run keeps a Spark
                  event log; a streaming query whose micro-batches ran
                  Python workers then fails the audit unless
                  plan_audit.ALLOWED_PYTHON lists it
--allowlist AXIS  after the run, diff the failing-name set against
                  tools/fuzz_allowlist.json[AXIS]; exit 0 iff they are
                  EQUAL (the fuzz-residue contract: a new divergence OR
                  a silently-healed allowlist entry both fail loudly).
                  A fuzz-axis run compares rows only: its plans and job
                  counts follow the mutated data, not the pins.
"""

from __future__ import annotations

import collections
import glob
import json
import math
import os
import sys
import tempfile
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

from datalake_imagenes_georreferenciadas_spark.session import get_spark
from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES, table
from __spark_entry__ import oracle_sql, queries
from perfbench.tracing import EXECUTOR_FIELDS, Tracer, event_log_conf, task_metrics_by_job

#: the task-end SQL metric of Python-eval operators (milliseconds)
PYTHON_WORKER_METRIC = "time to run Python workers"


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return repr(v)


def row_key(row):
    return tuple(norm_cell(v) for v in row)


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per lake table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def spark_rows(sdf) -> tuple[list[str], list[tuple]]:
    """(sorted column names, sorted normalized rows) of a Spark result."""
    cols = sorted(sdf.columns)
    return cols, sorted(row_key(tuple(r[c] for c in cols)) for r in sdf.collect())


def duck_rows(res) -> tuple[list[str], list[tuple]]:
    """The same for a DuckDB relation, columns matched by name. Fetched
    with ``fetchall`` — pandas would widen nullable BIGINT to float64."""
    order = sorted(range(len(res.columns)), key=lambda i: res.columns[i])
    return sorted(res.columns), sorted(
        row_key(tuple(row[i] for i in order)) for row in res.fetchall()
    )


class Audit(StreamingQueryListener):
    """The plan and job checks of each query that ran, and its layer
    ledger. ``check_query`` runs each query as a span of ``tracer`` that
    tags its jobs with the group ``verify/<name>`` and counts their jobs,
    stages and tasks as it closes, with the build, planning and collect
    as its child spans. The audit adds the jobs of every stream the query
    started (micro-batches run under the stream's ``runId`` group) and
    hands the executed plan to ``plan_audit.audit``."""

    def __init__(self, spark, sf_dir: str):
        import plan_audit  # beside this script: importable when it runs as one

        self.check = plan_audit.audit
        self.stream_python = plan_audit.stream_python
        self.sc = spark.sparkContext
        self.explain = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        self.parallelism = self.sc.defaultParallelism
        spread = set(plan_audit.SPREAD.values())
        self.splits = {t: table(spark, sf_dir, t).rdd.getNumPartitions() for t in spread}
        self.tracer = Tracer(True, "verify")
        self.tracer.sc = self.sc
        self.runs: list[str] = []
        # runId -> (durationMs, state rows, state memory) per trigger
        self.progress: dict[str, list[tuple]] = collections.defaultdict(list)
        # job group -> (query, end of its build span); stream jobs are all build work
        self.owner: dict[str, tuple[str, float]] = {}
        self.ledger: dict[str, dict] = {}
        spark.streams.addListener(self)

    def onQueryStarted(self, event):
        self.runs.append(str(event.runId))

    def onQueryProgress(self, event):
        p, ops = event.progress, event.progress.stateOperators
        self.progress[str(p.runId)].append(
            (
                dict(p.durationMs),
                sum(o.numRowsTotal for o in ops),
                sum(o.memoryUsedBytes for o in ops),
            )
        )

    onQueryTerminated = lambda self, event: None

    def start(self, name: str) -> None:
        self.first_run = len(self.runs)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far,
        so ``statusTracker`` knows every job that ran."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def problems(self, name: str, sdf) -> list[str]:
        """Audit problems of ``sdf``, whose query span (drained before it
        closed) is the last one since ``start``; records its ledger row."""
        build, plan, collect, query = self.tracer.spans[-4:]
        runs = self.runs[self.first_run :]
        counts = [query, *(self.tracer.job_counts(r) for r in runs)]
        jobs = sum(c["jobs"] for c in counts)
        self.owner[query["group"]] = (name, build["end"])
        self.owner.update(dict.fromkeys(runs, (name, math.inf)))
        self.ledger[name] = {
            "plans.build_s": build["end"] - build["start"],
            "plans.plan_s": plan["end"] - plan["start"],
            "exec.s": collect["end"] - collect["start"],
            "exec.jobs": jobs,
            "exec.stages": sum(c["stages"] for c in counts),
            "exec.tasks": sum(c["tasks"] for c in counts),
            **self.stream_columns(runs),
        }
        plan = sdf._jdf.queryExecution().explainString(self.explain)
        # the driver canon hashes each cell: nested cells are unhashable
        nested = [
            f"non-atomic output {f.name}: {f.dataType.simpleString()}"
            for f in sdf.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.NullType))
        ]
        return nested + self.check(name, plan, jobs, self.parallelism, self.splits)

    def stream_columns(self, runs: list[str]) -> dict:
        """Trigger phase durations summed over ``runs``, their trigger
        count, and state-operator rows and memory (each run's peak)."""
        out: collections.Counter = collections.Counter()
        for run in runs:
            triggers = self.progress.pop(run, [])
            for durations, _, _ in triggers:
                out.update({f"streaming.{k}_ms": v for k, v in durations.items()})
            if triggers:
                out["streaming.triggers"] += len(triggers)
                out["streaming.state_rows"] += max(t[1] for t in triggers)
                out["streaming.state_memory_bytes"] += max(t[2] for t in triggers)
        return dict(out)


def python_worker_s_by_job(log_dir: str) -> dict[int, float]:
    """Per job id: seconds its tasks spent running Python workers, from
    the task-end accumulables in the event log in ``log_dir``."""
    out: collections.Counter = collections.Counter()
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    stage_job.update(dict.fromkeys(ev["Stage IDs"], ev["Job ID"]))
                elif PYTHON_WORKER_METRIC in line and '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    for acc in ev["Task Info"].get("Accumulables", []):
                        if acc.get("Name") == PYTHON_WORKER_METRIC:
                            out[stage_job.get(ev["Stage ID"])] += int(acc["Update"]) / 1000.0
    return out


def executor_ledger(log_dir: str, owner: dict[str, tuple[str, float]]) -> dict[str, dict]:
    """Per query: the jobs submitted before its build span ended (its
    eager actions and streams), and the executor metrics and Python-worker
    time of all the jobs in its groups (``Audit.owner``), read from the
    event log."""
    jobs, py_s = task_metrics_by_job(log_dir), python_worker_s_by_job(log_dir)
    cols = ["plans.build_jobs", *EXECUTOR_FIELDS, "exec.python_worker_s"]
    out = {name: dict.fromkeys(cols, 0) for name, _ in owner.values()}
    for jid, job in jobs.items():
        if job["group"] not in owner:
            continue
        name, build_end = owner[job["group"]]
        row = out[name]
        row["plans.build_jobs"] += job["submitted"] <= build_end
        for col, field in EXECUTOR_FIELDS.items():
            row[col] += job[field]
        row["exec.python_worker_s"] += py_s.get(jid, 0)
    return out


_UNTRACED = Tracer(False, "verify")


def check_query(
    spark, con, name: str, fn, sf_dir: str, oracle: str, audit: Audit | None = None
) -> dict:
    """Run one query and its oracle, print ``pass``/``FAIL`` and return
    ``{status, kind[, rows]}``: kind is ``match`` on a pass, else
    ``spark_error``/``duckdb_error``/``schema``/``rows``/``value``, or
    ``audit`` when matching rows came from a plan or job count that
    ``audit`` rejects."""
    t0 = time.time()
    tracer = audit.tracer if audit is not None else _UNTRACED
    try:
        if audit is not None:
            audit.start(name)
        with tracer.span(name, "verify"):
            with tracer.span("build"):
                sdf = fn(spark, sf_dir)
            with tracer.span("plan"):
                sdf._jdf.queryExecution().executedPlan()
            with tracer.span("exec"):
                cols, srows = spark_rows(sdf)
            if audit is not None:
                audit.drain()  # before the query span counts its jobs
        probs = audit.problems(name, sdf) if audit is not None else []
    except Exception:
        print(f"FAIL {name}: SPARK ERROR")
        traceback.print_exc(limit=8)
        return {"status": "fail", "kind": "spark_error"}
    try:
        res = con.sql(oracle)
        # The driver fetches the DuckDB side via Arrow/pandas, which
        # widens non-int64 integer types (HUGEINT from sum(INTEGER),
        # unsigned ints, ...) to float64 — hash-mismatching against
        # Spark's int64 even when values are equal. Flag those here so
        # the local fetchall() (which hides the widening) can't lie.
        widened = [
            f"{c}:{t}"
            for c, t in zip(res.columns, (str(t) for t in res.types))
            if t.split("(")[0]
            in {"HUGEINT", "UHUGEINT", "UINTEGER", "UBIGINT"}
            or t.startswith("DECIMAL")
        ]
        if widened:
            print(f"WARN {name}: oracle emits non-int64/decimal {widened} "
                  "— driver pandas fetch will widen; CAST in the SQL")
        dcols, drows = duck_rows(res)
    except Exception:
        print(f"FAIL {name}: DUCKDB ERROR")
        traceback.print_exc(limit=8)
        return {"status": "fail", "kind": "duckdb_error"}
    if cols != dcols:
        print(f"FAIL {name}: schema spark={cols} duck={dcols}")
        return {"status": "fail", "kind": "schema"}
    if len(srows) != len(drows):
        print(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}")
        return {"status": "fail", "kind": "rows"}
    if srows != drows:
        diffs = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
        print(f"FAIL {name}: {len(diffs)} differing rows; first: ")
        print(f"  spark: {srows[diffs[0]]}")
        print(f"  duck : {drows[diffs[0]]}")
        return {"status": "fail", "kind": "value"}
    if probs:
        print(f"FAIL {name}: audit: {'; '.join(probs)}")
        return {"status": "fail", "kind": "audit"}
    print(f"pass {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
    return {"status": "pass", "kind": "match", "rows": len(srows)}


def load_allowlist(axis: str) -> dict[str, str]:
    """Per-axis divergence allowlist: tools/fuzz_allowlist.json maps
    axis -> {query_name: mechanism tag}. A fuzz run with --allowlist
    AXIS passes iff its failing-name set EQUALS the allowlist for that
    axis — future rounds diff the set instead of re-diagnosing it.

    A mechanism tag may start with a ``[kind]`` marker (e.g.
    ``[spark_error] DESIGNED fail-fast: ...``) pinning the EXPECTED
    failure kind; see expected_kinds()."""
    path = os.path.join(os.path.dirname(__file__), "fuzz_allowlist.json")
    with open(path) as fh:
        data = json.load(fh)
    if axis not in data:
        raise SystemExit(f"--allowlist {axis!r}: no such axis in {path} "
                         f"(have {sorted(data)})")
    return data[axis]


def expected_kinds(allow: dict[str, str]) -> dict[str, set[str]]:
    """Failure kinds each allowlisted entry is WAIVED for. A leading
    ``[kind]`` marker in the mechanism tag pins that exact kind (the
    designed fail-fast guards are [spark_error]); entries without a
    marker waive only data divergences (value/rows/schema) — an
    allowlisted convention that regresses into an engine CRASH must
    fail the gate, not hide behind its old waiver."""
    out: dict[str, set[str]] = {}
    for name, mech in allow.items():
        if mech.startswith("["):
            out[name] = {mech[1 : mech.index("]")]}
        else:
            out[name] = {"value", "rows", "schema"}
    return out


def run_pass(sf_dir: str, qs: dict, audited: bool, log_dir: str | None = None) -> dict[str, dict]:
    """``check_query`` results of the queries ``qs``, audited or
    rows-only. With ``log_dir`` the session keeps its event log there and
    each audited record gets its ledger columns."""
    if log_dir is not None:
        # a launch-time conf: only a session started after this keeps the log
        os.environ["PYSPARK_SUBMIT_ARGS"] = event_log_conf(log_dir)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_views(sf_dir)
    audit = Audit(spark, sf_dir) if audited else None
    oracles = oracle_sql()
    results = {name: check_query(spark, con, name, fn, sf_dir, oracles.get(name), audit) for name, fn in qs.items()}
    if log_dir is not None:
        spark.stop()  # closes the event log
        for name, cols in executor_ledger(log_dir, audit.owner).items():
            row = {**audit.ledger[name], **cols}
            results[name].update((k, round(v, 4) if isinstance(v, float) else v) for k, v in row.items())
            # a stream's Python kernels show in its worker time, not in
            # the read-back plan the audit saw
            probs = audit.stream_python(name, results[name]["exec.python_worker_s"])
            if probs and results[name]["status"] == "pass":
                print(f"FAIL {name}: audit: {'; '.join(probs)}")
                results[name].update(status="fail", kind="audit")
    return results


def main() -> int:
    argv = sys.argv[1:]
    json_out = allow_axis = None
    while argv and argv[0].startswith("--"):
        flag = argv.pop(0)
        if flag in ("--json", "--allowlist"):
            if not argv:
                raise SystemExit(f"usage: {flag} needs an operand")
            if flag == "--json":
                json_out = argv.pop(0)
            else:
                allow_axis = argv.pop(0)
        else:
            raise SystemExit(f"unknown flag {flag}")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    qs = queries()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown queries on argv: {' '.join(sorted(unknown))}", file=sys.stderr)
        return 2
    qs = {name: fn for name, fn in qs.items() if not only or name in only}
    if json_out and allow_axis is None:
        with tempfile.TemporaryDirectory(prefix="verify_eventlog_") as log_dir:
            results = run_pass(sf_dir, qs, True, log_dir)
    else:
        results = run_pass(sf_dir, qs, allow_axis is None)
    n_fail = sum(r["status"] == "fail" for r in results.values())
    n_pass = len(results) - n_fail
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    if allow_axis is not None:
        allow = load_allowlist(allow_axis)
        failed = {n for n, r in results.items() if r["status"] == "fail"}
        checked = set(results)
        expected = set(allow) & checked if only else set(allow)
        unexpected_fail = sorted(failed - expected)
        unexpected_pass = sorted(expected - failed)
        if unexpected_fail:
            print(f"NOT in {allow_axis} allowlist but failed: {' '.join(unexpected_fail)}")
        if unexpected_pass:
            print(f"in {allow_axis} allowlist but PASSED (prune it): {' '.join(unexpected_pass)}")
        kinds = expected_kinds(allow)
        kind_regressions = sorted(
            n for n in (failed & expected)
            if results[n]["kind"] not in kinds[n]
        )
        if kind_regressions:
            for n in kind_regressions:
                print(
                    f"allowlisted {n} failed with kind "
                    f"{results[n]['kind']!r}, waiver covers "
                    f"{sorted(kinds[n])} — NEW bug behind an old waiver"
                )
        if unexpected_fail or unexpected_pass or kind_regressions:
            return 2
        print(f"divergence set == {allow_axis} allowlist ({len(expected & failed)} names) — OK")
        return 0
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
