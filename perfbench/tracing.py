"""Spans and Spark job counts recorded around the benchmark's calls into
each layer of the engine.

A disabled ``Tracer`` records nothing and sets no job group, so untraced
passes measure the engine alone; the worker switches ``enabled`` per
pass.  An enabled one:

- keeps one span per call (name, start, end, parent, run id) in memory and
  writes them all out at the end;
- tags the Spark jobs a span starts with the job group ``<key>/<phase>``
  (restoring the thread's previous group afterwards, so a span inside a
  streaming ``foreachBatch`` leaves the stream's own group intact) and
  attaches their job, stage and task counts from ``statusTracker``;
- after the session stops, sums executor task metrics per job from
  Spark's uncompressed event log.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import threading
import time

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self.sc = None  # set once the SparkContext exists
        self.unit = None  # the pass or cycle being run, stamped on each span

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, key: str | None = None, **attrs):
        """Time the enclosed call as span ``name``.  With ``key`` set and a
        SparkContext known, the jobs it starts are counted under the group
        ``<key>/<name>``."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        rec = {
            "id": next(self._ids),
            "parent": stack[-1]["id"] if stack else None,
            "run": self.run_id,
            "unit": self.unit,
            "name": name,
            **attrs,
        }
        group = f"{key}/{name}" if key is not None and self.sc is not None else None
        saved = None
        if group is not None:
            saved = {p: self.sc.getLocalProperty(p) for p in _GROUP_PROPS}
            self.sc.setJobGroup(group, group)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if group is not None:
                for p, v in saved.items():
                    self.sc.setLocalProperty(p, v)
                rec.update(self.job_counts(group))
            self.spans.append(rec)

    def job_counts(self, group: str) -> dict:
        """Jobs, stages and tasks that ran under ``group``."""
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
        return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks, "group": group}

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def event_log_conf(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn on a plain-text, single-file
    event log in ``log_dir`` (the engine's session builder keeps confs
    given at JVM launch)."""
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    return " ".join(f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"


def task_metrics_by_job(log_dir: str) -> dict[int, dict]:
    """Per job id: submission time (epoch seconds), job group, and the sums
    of its tasks' executor run, CPU and GC time (seconds), shuffle read and
    write bytes and spilled bytes, read from the event log in ``log_dir``."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "submitted": ev["Submission Time"] / 1000.0,
                        "group": props.get("spark.jobGroup.id"),
                        "run_s": 0.0,
                        "cpu_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0,
                        "spill_bytes": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return jobs


EXECUTOR_FIELDS = {
    "exec.executor_run_s": "run_s",
    "exec.executor_cpu_s": "cpu_s",
    "exec.gc_s": "gc_s",
    "exec.shuffle_read_bytes": "shuffle_read_bytes",
    "exec.shuffle_write_bytes": "shuffle_write_bytes",
    "exec.spill_bytes": "spill_bytes",
}


def executor_totals(jobs: dict[int, dict], windows) -> dict[str, float]:
    """Executor metrics summed over the jobs submitted in any of the
    ``(start, end)`` windows."""
    picked = [j for j in jobs.values() if any(a <= j["submitted"] <= b for a, b in windows)]
    return {name: float(sum(j[f] for j in picked)) for name, f in EXECUTOR_FIELDS.items()}
