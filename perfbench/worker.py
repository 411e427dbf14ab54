"""One benchmark workload in a fresh Spark driver process.

Started by ``run.py`` with the environment already set (``PYTHONPATH``,
temp and Spark local dirs inside the run directory, and the event-log
confs for a traced run).  Writes one JSON result file; ``run.py`` turns it
into the benchmark's output line.

    python3 worker.py --workload NAME --seed N --seconds S --trace 0|1
                      --data DIR --work DIR --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
import metrics as M  # noqa: E402
from run import steal_s  # noqa: E402
from tracing import Tracer, executor_totals, task_metrics_by_job  # noqa: E402
from workloads import (  # noqa: E402
    BYTES_AT_CYCLE,
    INGEST_CYCLES,
    INGEST_IMAGES,
    INGEST_PICK_SHARE,
    INGEST_WARMUP,
    LAKE,
    POLY_KEEP,
    RETRIEVAL_INDICE,
    SOURCES_QUERIES,
    scaled,
)

from bench import materialize  # noqa: E402
from datalake_imagenes_georreferenciadas_spark.catalog.store import (  # noqa: E402
    TIPO_IMG_MODEL_OUTPUT,
    CatalogStore,
)
from datalake_imagenes_georreferenciadas_spark.operators.spatial import classify_points  # noqa: E402
from datalake_imagenes_georreferenciadas_spark.plans import geo_fixture as GF  # noqa: E402
from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES  # noqa: E402
from datalake_imagenes_georreferenciadas_spark.session import get_spark  # noqa: E402
from datalake_imagenes_georreferenciadas_spark.streaming.ingest import start_file_ingest  # noqa: E402
from datalake_imagenes_georreferenciadas_spark.tables import table  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
NCPU = os.cpu_count() or 1


def clock() -> float:
    """Seconds on a clock that stops while the hypervisor steals CPU from
    the host: on a shared VM, steal slows whole runs at a time, and it says
    nothing about the program.  Every benchmark timing is taken with it; on
    a dedicated host it is ``time.perf_counter``."""
    return M.net_of_steal(time.perf_counter(), steal_s(), NCPU)


def row_hash_xor(df) -> tuple[int, int]:
    """Row count and xor of per-row ``xxhash64`` over all columns: the
    reduction ``bench.materialize`` runs, also returning the xor it drops.
    Used for the first pass only, so checking output values costs no
    extra execution; warm passes call ``bench.materialize`` itself."""
    h = df.select(F.xxhash64(*[F.col(c) for c in df.columns]).alias("__h"))
    row = h.agg(F.bit_xor("__h").alias("__x"), F.count("*").alias("__n")).collect()[0]
    return int(row["__n"]), (None if row["__x"] is None else int(row["__x"]))


def peak_rss_mb(spark) -> tuple[float, float]:
    """High-water RSS (MB) of this Python process and of the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return py_kb / 1024.0, jvm_kb / 1024.0


class Ops:
    """Attempted and failed operation counts, with the first errors."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)
        print(f"# FAILED: {what}", file=sys.stderr)


# ------------------------------------------------------------- passes


def schedule(n_measured: int, traced: bool, n_warmup: int = 0) -> list[str]:
    """Kind of each pass (or cycle): the ``first``, untimed ``warmup``
    ones, then the measured ones.  A traced run alternates ``traced`` and
    ``plain`` measured passes, so the tracing overhead is their difference
    under the same JIT and cache state."""
    measured = [("traced" if traced and i % 2 == 0 else "plain") for i in range(n_measured)]
    return ["first"] + ["warmup"] * n_warmup + measured


def per_unit(tracer, units, name, field=None) -> float:
    """Median over ``units`` of the summed duration (or ``field``) of the
    spans called ``name`` in each unit."""
    return M.median([
        sum((s["end"] - s["start"]) if field is None else s[field]
            for s in tracer.spans if s["name"] == name and s["unit"] == u)
        for u in units
    ])


# ---------------------------------------------------------------- lake


def run_query(spark, tracer, name, data_dir, pass_no: int):
    """Build, (traced: plan) and execute one query; returns
    ``(seconds, rows, xor)``; xor is None after the first pass."""
    key, first = f"{name}#{pass_no}", pass_no == 0
    t0 = clock()
    with tracer.span("plans.build", key):
        df = QUERIES[name](spark, data_dir)
    if tracer.enabled:
        with tracer.span("plans.plan", key):
            df._jdf.queryExecution().executedPlan()
    with tracer.span("exec", key):
        if first:
            rows, xor = row_hash_xor(df)
        else:
            rows, xor = materialize(df), None
    return clock() - t0, rows, xor


def run_lake(spark, tracer, args, ops, out):
    cfg = LAKE[args.workload]
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)[cfg["data"]]
    rng = random.Random(args.seed)
    names = list(cfg["queries"])
    kinds = schedule(scaled(cfg["passes"], args.seconds), bool(args.trace))

    passes = []  # per pass: kind, {query: seconds}, wall-clock window
    for p, kind in enumerate(kinds):
        tracer.enabled = bool(args.trace) and kind in ("first", "traced")
        tracer.unit = p
        rng.shuffle(names)  # seeded order, new each pass
        times = {}
        start, steal0 = time.time(), steal_s()
        for name in names:
            ops.attempted += 1
            try:
                with tracer.span("pass", query=name):
                    secs, rows, xor = run_query(spark, tracer, name, args.data, p)
            except Exception:  # a failing query is counted, the run goes on
                ops.fail(f"{name} pass {p}: {traceback.format_exc(limit=3)}")
                continue
            times[name] = secs
            want = expected[name]
            if rows != want["rows"]:
                ops.fail(f"{name} pass {p}: {rows} rows, expected {want['rows']}")
            elif xor is not None and want.get("xor") is not None and xor != want["xor"]:
                ops.fail(f"{name}: row-hash xor {xor}, expected {want['xor']}")
        passes.append({"kind": kind, "times": times, "window": (start, time.time()),
                       "steal_s": steal_s() - steal0})
        print(f"# pass {p} ({kind}): {sum(times.values()):.3f}s", file=sys.stderr)

    def medians(kind):
        """Each query's median latency over the passes of ``kind``."""
        meds = {}
        for n in cfg["queries"]:
            ts = [ps["times"][n] for ps in passes if ps["kind"] == kind and n in ps["times"]]
            if ts:
                meds[n] = M.median(ts)
        return meds

    plain = medians("plain")
    lat = [ps["times"][n] for ps in passes if ps["kind"] == "plain" for n in ps["times"]]
    out["end_to_end"] = {
        "first_pass_s": sum(passes[0]["times"].values()),
        # the typical warm pass: each query's median warm latency, summed
        "warm_pass_s": sum(plain.values()),
        "op_geomean_s": M.geomean(list(plain.values())),
    }
    tail = M.tail_percentile(lat)
    out["detail"] = {
        "query_first_s": passes[0]["times"],
        "query_warm_median_s": plain,
        "query_latency_p50_s": M.median(lat),
        "query_latency_tail": None if tail is None else {"pct": tail[0], "s": tail[1]},
        "query_latency_samples": len(lat),
        "passes": [[ps["kind"], ps["times"]] for ps in passes],
        "pass_steal_s": [round(ps["steal_s"], 2) for ps in passes],
    }
    if args.trace:
        traced = [p for p, ps in enumerate(passes) if ps["kind"] == "traced"]
        out["windows"] = [passes[p]["window"] for p in traced]
        src = [s["end"] - s["start"] for s in tracer.spans
               if s["name"] == "pass" and s.get("query") in SOURCES_QUERIES and s["unit"] in traced]
        # each query's share of its pass span spent in the query-function build
        by_id = {s["id"]: s for s in tracer.spans}
        shares: dict[str, list[float]] = {}
        for s in tracer.spans:
            if s["name"] == "plans.build" and s["unit"] in traced:
                q = by_id[s["parent"]]
                shares.setdefault(q["query"], []).append((s["end"] - s["start"]) / (q["end"] - q["start"]))
        out["detail"]["query_build_share"] = {q: M.median(v) for q, v in shares.items()}
        out["per_layer"] = {
            "plans.build_s": per_unit(tracer, traced, "plans.build"),
            "plans.build_jobs": per_unit(tracer, traced, "plans.build", "jobs"),
            "plans.plan_s": per_unit(tracer, traced, "plans.plan"),
            "plans.first_plan_s": per_unit(tracer, [0], "plans.plan"),
            "exec.s": per_unit(tracer, traced, "exec"),
            "exec.jobs": per_unit(tracer, traced, "exec", "jobs"),
            "exec.stages": per_unit(tracer, traced, "exec", "stages"),
            "exec.tasks": per_unit(tracer, traced, "exec", "tasks"),
            "sources.geo_ingest_s": sum(src) / len(traced),
            "trace.warm_pass_overhead_s": sum(medians("traced").values()) - sum(plain.values()),
        }


# -------------------------------------------------------------- ingest


class TimedStore(CatalogStore):
    """CatalogStore that only wraps and delegates, putting each catalog
    call (including those the stream makes inside ``foreachBatch``) in a
    span tagged with the current cycle."""

    def __init__(self, spark, root, tracer):
        super().__init__(spark, root)
        self.tracer = tracer
        self.cycle = None

    def start_run(self, *a, **k):
        with self.tracer.span("catalog.start_run", self.cycle):
            return super().start_run(*a, **k)

    def insert_catalog(self, *a, **k):
        with self.tracer.span("catalog.insert", self.cycle):
            return super().insert_catalog(*a, **k)

    def update_processed_img(self, *a, **k):
        with self.tracer.span("catalog.merge", self.cycle):
            return super().update_processed_img(*a, **k)


def to_catalog_rows(batch):
    """Classify each fix against the parcels and map it to catalog columns."""
    polys = GF.spark_polys(batch.sparkSession)
    cls = classify_points(batch.select("img_id", "lon", "lat"), polys, keep=POLY_KEEP)
    return cls.join(batch.select("img_id", "ruta_resultado"), "img_id").select(
        F.concat_ws("_", "codigo", "seccion", "rodal", "apl").alias("indice"),
        "codigo",
        F.coalesce(F.col("nombre"), F.col("method")).alias("nombre_predio"),
        "seccion",
        F.col("tipouso").alias("especie"),
        "apl",
        F.lit(0).cast("int").alias("id_tipo_img"),
        F.lit(0).cast("int").alias("id_proceso"),
        "ruta_resultado",
        F.current_timestamp().alias("fecha"),
    )


def dir_bytes(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Ingest:
    """Landing dir, checkpoint and store of one ingest pipeline."""

    def __init__(self, spark, tracer, root):
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.landing = os.path.join(root, "landing")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.landing)
        os.makedirs(self.staging)
        self.ckpt = os.path.join(root, "checkpoint")
        self.store = TimedStore(spark, os.path.join(root, "catalog"), tracer)
        self.landed = 0
        self.picked: set[int] = set()
        self.batches = 0

    def cycle(self, rng, n_images, key):
        """Land one batch, run one trigger, advance 5% of its ids and read
        back; returns (step timings, streaming phase ms, rows retrieved)."""
        self.store.cycle = key
        batch = datagen.landing_batch(rng, self.landed + 1, n_images)
        name = f"batch_{self.batches:05d}.parquet"
        pq.write_table(batch, os.path.join(self.staging, name))
        t0 = clock()
        os.replace(os.path.join(self.staging, name), os.path.join(self.landing, name))
        with self.tracer.span("streaming.trigger", key):
            q = start_file_ingest(
                self.spark, self.landing, self.ckpt, self.store,
                datagen.LANDING_SCHEMA, to_catalog_rows,
            )
            q.awaitTermination()
        t1 = clock()
        progress = [p.durationMs for p in q.recentProgress]
        # the batch's ids are landed+1 .. landed+n
        first = self.landed + 1
        picks = sorted(
            int(i) for i in rng.choice(np.arange(first, first + n_images),
                                       int(n_images * INGEST_PICK_SHARE), replace=False)
        )
        self.store.update_processed_img(TIPO_IMG_MODEL_OUTPUT, picks)
        t2 = clock()
        with self.tracer.span("catalog.read", key):
            found = self.store.filtered_paths(0, [0, TIPO_IMG_MODEL_OUTPUT], RETRIEVAL_INDICE).count()
        t3 = clock()
        self.landed += n_images
        self.picked.update(picks)
        self.batches += 1
        t = dict(trigger_s=t1 - t0, merge_s=t2 - t1, retrieval_s=t3 - t2, cycle_s=t3 - t0)
        phases = {}
        for d in progress:
            for k, v in d.items():
                phases[k] = phases.get(k, 0) + v
        return t, phases, found

    def check(self, ops, last_found):
        """End-of-run invariants; each is one operation."""
        store = self.store
        store.cycle = "check"
        cat = store.catalog()
        n_cat = cat.count()
        checks = {
            "catalog rows == landed rows": (n_cat, self.landed),
            "lineage rows == catalog rows": (store.lineage().count(), n_cat),
            "rows at id_tipo_img=10 == distinct ids picked": (
                cat.filter(F.col("id_tipo_img") == TIPO_IMG_MODEL_OUTPUT).count(),
                len(self.picked),
            ),
            "retrieval count == catalog rows of its indice": (
                last_found,
                cat.filter(F.col("indice") == RETRIEVAL_INDICE).count(),
            ),
        }
        last_batch = self.batches - 1
        runs_before = store.runs().count()
        run_row = store.runs().filter(F.col("batch_id") == last_batch).collect()
        replay = store.start_run(0, batch_id=last_batch)
        checks["replayed batch reuses its run id"] = (
            (replay, store.runs().count()),
            (run_row[0]["id_ejecucion"] if len(run_row) == 1 else None, runs_before),
        )
        for what, (got, want) in checks.items():
            ops.attempted += 1
            if got != want:
                ops.fail(f"{what}: got {got}, expected {want}")


def run_ingest(spark, tracer, args, ops, out):
    """Cycle 0 runs on the fresh pipeline (first-use planning, codegen and
    class loading, as every cron run of the reference pays); after the
    warm-up cycle, the measured ones are summarised."""
    rng = np.random.default_rng(args.seed)
    ing = Ingest(spark, tracer, os.path.join(args.work, "ingest"))
    kinds = schedule(scaled(INGEST_CYCLES, args.seconds), bool(args.trace), INGEST_WARMUP)
    cycles = []  # per cycle: kind, step timings, phase ms, bytes written, window
    found, bytes_per_row = None, 0.0
    for c, kind in enumerate(kinds):
        tracer.enabled = bool(args.trace) and kind in ("first", "traced")
        tracer.unit = c
        before, start, steal0 = dir_bytes(ing.store.root), time.time(), steal_s()
        ops.attempted += 1
        try:
            t, phases, found = ing.cycle(rng, INGEST_IMAGES, f"cycle#{c}")
        except Exception:
            ops.fail(f"cycle {c}: {traceback.format_exc(limit=3)}")
            continue
        total = dir_bytes(ing.store.root)
        cycles.append({"unit": c, "kind": kind, "t": t, "phases": phases, "written": total - before,
                       "window": (start, time.time()), "steal_s": steal_s() - steal0})
        if c + 1 == BYTES_AT_CYCLE:
            bytes_per_row = total / ing.landed
        print(f"# cycle {c} ({kind}): {t['cycle_s']:.3f}s ({found} retrieved)", file=sys.stderr)
    tracer.enabled = False
    ing.check(ops, found)

    def of(kind):
        return [cy for cy in cycles if cy["kind"] == kind]

    def steps(kind):
        return [M.median([cy["t"][k] for cy in of(kind)]) for k in ("trigger_s", "merge_s", "retrieval_s")]

    plain = [cy["t"]["cycle_s"] for cy in of("plain")]
    out["end_to_end"] = {
        "first_pass_s": cycles[0]["t"]["cycle_s"],
        "warm_pass_s": M.median(plain),
        "op_geomean_s": M.geomean(steps("plain")),
    }
    out["detail"] = {
        "cycles": [[cy["kind"], cy["t"]] for cy in cycles],
        "cycle_steal_s": [round(cy["steal_s"], 2) for cy in cycles],
        "steps_p50_s": steps("plain"),
        "cycle_tail": M.tail_percentile(plain),
        "cycle_samples": len(plain),
    }
    if args.trace:
        traced = of("traced")
        units = [cy["unit"] for cy in traced]
        out["windows"] = [cy["window"] for cy in traced]
        layers = {
            "streaming.images_per_s": INGEST_IMAGES * len(traced) / sum(cy["t"]["cycle_s"] for cy in traced),
            "streaming.trigger_s": M.median([cy["t"]["trigger_s"] for cy in traced]),
            "catalog.bytes_per_row": bytes_per_row,
            "catalog.bytes_written": M.median([cy["written"] for cy in traced]),
            "trace.warm_pass_overhead_s": M.median([cy["t"]["cycle_s"] for cy in traced]) - M.median(plain),
        }
        for name in ("catalog.start_run", "catalog.insert", "catalog.merge", "catalog.read"):
            layers[name + "_s"] = per_unit(tracer, units, name)
            layers[name + "_jobs"] = per_unit(tracer, units, name, "jobs")
        for k in ("addBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch"):
            layers[f"streaming.{k}_ms"] = M.median([float(cy["phases"].get(k, 0)) for cy in traced])
        out["per_layer"] = layers


# ---------------------------------------------------------------- main


def self_seconds(spans, windows):
    """Self time summed per span name over the spans that started in the
    traced windows: where the time went once children are taken out."""
    out: dict[str, float] = {}
    for s in spans:
        if any(a <= s["start"] <= b for a, b in windows):
            out[s["name"]] = out.get(s["name"], 0.0) + M.self_time(s, spans)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--data", "--work", "--out"):
        ap.add_argument(a, required=a != "--data")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    tracer = Tracer(bool(args.trace), run_id=f"{args.workload}-{args.seed}-{os.getpid()}")
    ops = Ops()
    out: dict = {"per_layer": {}}
    setup: dict[str, float] = {}

    t0 = clock()
    with tracer.span("session.start"):
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
    setup["session.start_s"] = clock() - t0
    tracer.sc = spark.sparkContext
    if args.workload in LAKE:
        t0 = clock()
        with tracer.span("tables.touch", "setup"):
            for t in LAKE[args.workload]["tables"]:
                table(spark, args.data, t).count()
        setup["tables.touch_s"] = clock() - t0
        run_lake(spark, tracer, args, ops, out)
    else:
        setup["tables.touch_s"] = 0.0
        run_ingest(spark, tracer, args, ops, out)

    out["end_to_end"]["setup_s"] = sum(setup.values())
    py_mb, jvm_mb = peak_rss_mb(spark)
    out["setup"] = {**setup, "python_rss_mb": py_mb, "jvm_rss_mb": jvm_mb}
    spark.stop()

    if args.trace:
        layers = out["per_layer"]
        layers["session.start_s"] = setup["session.start_s"]
        layers["tables.touch_s"] = setup["tables.touch_s"]
        layers["session.peak_rss_mb"] = py_mb + jvm_mb
        windows = out["windows"]
        totals = executor_totals(task_metrics_by_job(os.environ["PERFBENCH_EVENT_LOG"]), windows)
        layers.update({k: v / len(windows) for k, v in totals.items()})
        out["detail"]["self_s_by_span"] = self_seconds(tracer.spans, windows)
        tracer.write(os.path.join(args.work, "spans.json"))
    out.update(attempted=ops.attempted, failed=ops.failed, errors=ops.errors)
    with open(args.out, "w") as fh:
        json.dump(out, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
