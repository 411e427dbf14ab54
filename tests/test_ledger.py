"""The layer ledger: ``tools/verify_oracle.py --json OUT`` records, beside
each audited query's status, where its time went — build / plan / collect
spans, Spark job, stage and task counts, executor time from the event log,
Python-worker time and, for streams, the trigger phases.

One sf0.001 pass over three queries: a batch aggregate, an availableNow
stream into a memory sink, and a ``mapInPandas`` EXIF kernel. The pass
runs in its own interpreter (the event log is a launch-time conf) with
``plan_audit.audit`` wrapped, so the test sees the job count the plan
audit was handed. A small hand-written event log pins how jobs are
attributed to queries.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

BATCH, STREAM, KERNEL = "a4_rollup", "streaming_tumbling", "s7_exif_gps_scan"
PHASES = ("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")

SPY = """
import json, sys
sys.path.insert(0, "tools")
import plan_audit, verify_oracle
seen, check = {}, plan_audit.audit
def spy(name, plan, jobs, *rest):
    seen[name] = jobs
    return check(name, plan, jobs, *rest)
plan_audit.audit = spy
out, seen_path, *rest = sys.argv[1:]
sys.argv = ["verify_oracle.py", "--json", out, *rest]
rc = verify_oracle.main()
with open(seen_path, "w") as fh:
    json.dump(seen, fh)
sys.exit(rc)
"""


def test_json_ledger_records_layers(tmp_path):
    out, seen = tmp_path / "ledger.json", tmp_path / "seen.json"
    proc = subprocess.run(
        [sys.executable, "-c", SPY, str(out), str(seen), "/root/testdata/sf0.001", BATCH, STREAM, KERNEL],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=REPO,  # Python workers import the package from their cwd
    )
    assert proc.returncode == 0, proc.stdout[-3000:] + proc.stderr[-3000:]
    ledger, audited = json.loads(out.read_text()), json.loads(seen.read_text())
    assert sorted(ledger) == sorted(audited) == sorted([BATCH, STREAM, KERNEL])
    for name, row in ledger.items():
        assert row["status"] == "pass", name
        for col in ("exec.jobs", "exec.stages", "exec.tasks", "exec.executor_run_s", "exec.executor_cpu_s"):
            assert row[col] > 0, (name, col)
        assert row["exec.jobs"] == audited[name], name
        assert 0 < row["plans.build_s"] and 0 < row["exec.s"] and 0 <= row["plans.plan_s"], name
        streaming = {k for k in row if k.startswith("streaming.")}
        if name == STREAM:
            assert {f"streaming.{p}_ms" for p in PHASES} <= streaming
            assert row["streaming.triggers"] >= 1 and row["streaming.state_rows"] > 0
        else:
            assert not streaming, (name, streaming)
        assert (row["exec.python_worker_s"] > 0) == (name == KERNEL), (name, row["exec.python_worker_s"])


def test_executor_ledger_attributes_jobs_by_group(tmp_path):
    """Executor time and Python-worker time follow each job's group to
    its query; build jobs are those submitted before the build span
    ended, plus every job of the query's streams."""
    import math

    from tools.verify_oracle import executor_ledger

    def job(jid, at_ms, stages, group):
        return {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": at_ms,
                "Stage IDs": stages, "Properties": {"spark.jobGroup.id": group}}

    def task(stage, run_ms, python_ms=None):
        info = {"Accumulables": []}
        if python_ms is not None:
            info["Accumulables"].append({"Name": "time to run Python workers", "Update": str(python_ms)})
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Info": info,
                "Task Metrics": {"Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                                 "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}}}

    events = [
        job(0, 1000, [0], "verify/q"),  # eager action inside the build span
        task(0, 100),
        job(1, 3000, [1, 2], "verify/q"),  # the collect
        task(2, 200, python_ms=1500),
        task(2, 300, python_ms=500),
        job(2, 2500, [3], "run-1"),  # the query's stream
        task(3, 400),
        job(3, 3500, [4], "verify/other"),  # not an audited query
        task(4, 10**6, python_ms=10**6),
    ]
    (tmp_path / "app-1").write_text("".join(json.dumps(e) + "\n" for e in events))
    ledger = executor_ledger(str(tmp_path), {"verify/q": ("q", 2.0), "run-1": ("q", math.inf)})
    assert list(ledger) == ["q"]
    row = ledger["q"]
    assert row["plans.build_jobs"] == 2
    assert row["exec.executor_run_s"] == pytest.approx(1.0)
    assert row["exec.executor_cpu_s"] == pytest.approx(1.0)
    assert row["exec.shuffle_write_bytes"] == 28
    assert row["exec.python_worker_s"] == pytest.approx(2.0)
