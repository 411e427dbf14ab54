"""catalog.store — the reference's MySQL metadata layer on parquet
(SURVEY M2; mysql_process.py semantics)."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.catalog.store import (
    LINEAGE_SCHEMA,
    PROCESO_INGEST,
    RUNS_SCHEMA,
    TIPO_IMG_GEOTIFF,
    TIPO_IMG_RAW_JPG,
    CatalogStore,
)
from perfbench.tracing import Tracer


def _rows(spark, n=4):
    data = [
        (
            f"C{i}_S_X_A",
            f"C{i}",
            "PRED",
            "S",
            "PINO",
            "A",
            TIPO_IMG_RAW_JPG if i % 2 == 0 else TIPO_IMG_GEOTIFF,
            PROCESO_INGEST,
            f"lake/BR/C{i}/{i}.jpg",
        )
        for i in range(n)
    ]
    return spark.createDataFrame(
        data,
        "indice string, codigo string, nombre_predio string, seccion string, "
        "especie string, apl string, id_tipo_img int, id_proceso int, ruta_resultado string",
    ).withColumn("fecha", F.current_timestamp())


def test_run_ids_monotonic(spark, tmp_path):
    store = CatalogStore(spark, str(tmp_path))
    assert store.start_run(PROCESO_INGEST) == 1
    assert store.start_run(PROCESO_INGEST) == 2
    assert store.runs().count() == 2


def _jobs(spark, fn):
    """(fn(), number of Spark jobs ``fn`` ran), counted by job group with
    the benchmark's ``Tracer`` after the listener bus has drained."""
    tracer = Tracer(True, "test")
    tracer.sc = spark.sparkContext
    with tracer.span("call", uuid.uuid4().hex):
        out = fn()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return out, tracer.spans[-1]["jobs"]


def test_start_run_and_last_id_run_no_spark_job(spark, tmp_path):
    """A replayed ``batch_id`` reuses its run id and a new batch gets
    max+1, both answered from the ``_runs/`` listing; ``last_id`` reads
    the newest log entry. None of the three starts a Spark job."""
    store = CatalogStore(spark, str(tmp_path))
    assert store.start_run(PROCESO_INGEST, batch_id=7) == 1
    assert store.start_run(PROCESO_INGEST, batch_id=8) == 2
    assert _jobs(spark, lambda: store.start_run(PROCESO_INGEST, batch_id=7)) == (1, 0)
    assert _jobs(spark, lambda: store.start_run(PROCESO_INGEST, batch_id=9)) == (3, 0)
    assert store.start_run(PROCESO_INGEST) == 4
    assert sorted(
        (r["id_ejecucion"], r["batch_id"]) for r in store.runs().collect()
    ) == [(1, 7), (2, 8), (3, 9), (4, None)]
    assert _jobs(spark, store.last_id) == (0, 0)
    store.insert_catalog(_rows(spark), 4)
    assert _jobs(spark, store.last_id) == (4, 0)


def test_insert_allocates_ids_and_lineage(spark, tmp_path):
    store = CatalogStore(spark, str(tmp_path))
    run = store.start_run(PROCESO_INGEST)
    assert store.insert_catalog(_rows(spark), run) == 0  # the first version
    ids = sorted(r["id"] for r in store.catalog().select("id").collect())
    assert ids == [1, 2, 3, 4]  # dense, deterministic
    lin = store.lineage().collect()
    assert {r["id_imagen_fuente"] for r in lin} == {1, 2, 3, 4}
    assert all(r["id_ejecucion"] == run for r in lin)  # J6: one per insert
    assert store.last_id() == 4


def test_second_insert_continues_ids(spark, tmp_path):
    store = CatalogStore(spark, str(tmp_path))
    r1 = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark, 3), r1)
    r2 = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark, 2), r2)
    assert store.last_id() == 5
    assert store.catalog().count() == 5


def test_empty_insert_commits_no_version(spark, tmp_path):
    """An insert with no rows (a duplicate-only trigger, a replay) adds
    no version, as an empty MERGE adds none, so it cannot push real
    history out of ``expire_snapshots``."""
    store = CatalogStore(spark, str(tmp_path))
    empty = _rows(spark).limit(0)
    store.insert_catalog(empty, store.start_run(PROCESO_INGEST))
    assert store.catalog().count() == 0
    assert store.catalog_versions() == [] and store.last_id() == 0
    store.insert_catalog(_rows(spark), store.start_run(PROCESO_INGEST))
    store.update_processed_img(10, [1])
    for _ in range(2):
        assert store.insert_catalog(empty, store.start_run(PROCESO_INGEST)) == 1
    assert store.catalog_versions() == [0, 1]
    assert store.expire_snapshots(keep_last=2) == []
    assert store.last_id() == 4 and store.lineage().count() == 4


def test_update_processed_img_merge(spark, tmp_path):
    store = CatalogStore(spark, str(tmp_path))
    run = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark), run)
    store.update_processed_img(10, [1, 3])
    got = {r["id"]: r["id_tipo_img"] for r in store.catalog().collect()}
    assert got[1] == 10 and got[3] == 10
    assert got[2] != 10 and got[4] != 10  # untouched rows survive the merge
    assert store.catalog().count() == 4


def test_update_processed_img_repeated_id_keeps_row_set(spark, tmp_path):
    """A repeated id in the MERGE list flips its row once; it must not
    duplicate the matched row in the new snapshot."""
    store = CatalogStore(spark, str(tmp_path))
    run = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark), run)
    store.update_processed_img(10, [2, 2, 2, 3])
    ids = [r["id"] for r in store.catalog().collect()]
    assert len(ids) == 4
    assert sorted(ids) == [1, 2, 3, 4]


def test_update_is_versioned_snapshot(spark, tmp_path):
    """Copy-on-write MERGE: the update lands in a NEW version; the old
    version stays readable (time travel) and is no longer current."""
    store = CatalogStore(spark, str(tmp_path))
    run = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark), run)
    assert store.current_version() == 0
    v = store.update_processed_img(10, [1])
    assert v == 1 and store.current_version() == 1
    assert store.catalog_versions() == [0, 1]
    # latest sees the update; version 0 still has the original value
    assert {r["id"]: r["id_tipo_img"] for r in store.catalog().collect()}[1] == 10
    assert {r["id"]: r["id_tipo_img"] for r in store.catalog(version=0).collect()}[1] != 10
    # a second update stacks another snapshot
    store.update_processed_img(10, [2])
    assert store.catalog_versions() == [0, 1, 2]


def test_version_is_unchanged_by_a_later_insert(spark, tmp_path):
    """An insert commits a NEW version; every earlier version, the one
    a held frame reads included, keeps its rows."""
    store = CatalogStore(spark, str(tmp_path))
    store.insert_catalog(_rows(spark), store.start_run(PROCESO_INGEST))
    store.update_processed_img(10, [2])
    held = store.catalog()
    before = sorted(held.collect())
    store.insert_catalog(_rows(spark, 1), store.start_run(PROCESO_INGEST))
    assert store.catalog_versions() == [0, 1, 2]
    assert store.catalog().count() == 5
    assert sorted(store.catalog(version=1).collect()) == before
    assert sorted(held.collect()) == before
    assert store.catalog(version=0).count() == 4


def test_uncommitted_data_files_are_invisible(spark, tmp_path):
    """Data files that no log entry lists (a write whose commit never
    happened) are never read, and expiry deletes them."""
    store = CatalogStore(spark, str(tmp_path))
    store.insert_catalog(_rows(spark, 2), store.start_run(PROCESO_INGEST))
    orphan = store._write(store._with_ids(_rows(spark, 3), store.last_id()))
    assert orphan and all(os.path.exists(tmp_path / f[0]) for f in orphan)
    assert store.catalog().count() == 2 and store.last_id() == 2
    store.insert_catalog(_rows(spark, 1), store.start_run(PROCESO_INGEST))
    assert sorted(r["id"] for r in store.catalog().collect()) == [1, 2, 3]
    read = {os.path.basename(p) for p in store.catalog().inputFiles()}
    assert not read & {os.path.basename(f[0]) for f in orphan}
    assert store.expire_snapshots(keep_last=1) == [0]
    assert not any(os.path.exists(tmp_path / f[0]) for f in orphan)
    assert store.catalog().count() == 3


def test_a_commit_never_replaces_another_writers_entry(spark, tmp_path):
    """Two handles on one root: the second writer listed ``_log/`` before
    the first one committed, so both aim at the same next version. The
    first commit stands, the second raises, and expiry removes the data
    files the losing writer left unlisted."""
    a, b = CatalogStore(spark, str(tmp_path)), CatalogStore(spark, str(tmp_path))
    a.insert_catalog(_rows(spark, 2), a.start_run(PROCESO_INGEST))
    stale = b.catalog_versions()
    a.insert_catalog(_rows(spark, 3), a.start_run(PROCESO_INGEST))
    data_dirs = set(os.listdir(tmp_path / "data"))
    b.catalog_versions = lambda: stale  # b's listing predates a's commit
    with pytest.raises(FileExistsError):
        b.insert_catalog(_rows(spark, 4), b.start_run(PROCESO_INGEST))
    assert a.catalog_versions() == [0, 1]
    assert a._entry()["rows_added"] == 3
    assert sorted(r["id"] for r in a.catalog().collect()) == [1, 2, 3, 4, 5]
    assert len(set(os.listdir(tmp_path / "data")) - data_dirs) == 1
    assert a.expire_snapshots(keep_last=2) == []
    assert set(os.listdir(tmp_path / "data")) == data_dirs


def test_merge_rewrites_only_the_files_it_touches(spark, tmp_path):
    """A MERGE rewrites the files whose id range holds an updated id and
    carries every other file path into the new entry unchanged."""
    store = CatalogStore(spark, str(tmp_path))
    for n in (3, 2, 4):
        store.insert_catalog(_rows(spark, n), store.start_run(PROCESO_INGEST))
    before = store._entry()["files"]
    assert [(f[2], f[3]) for f in before] == [(1, 3), (4, 5), (6, 9)]
    store.update_processed_img(10, [4, 5])
    after = store._entry()
    assert after["op"] == "merge" and after["rows_rewritten"] == 2
    assert [f for f in after["files"] if f not in before] != []
    assert before[0] in after["files"] and before[2] in after["files"]
    assert before[1] not in after["files"]
    got = {r["id"]: r["id_tipo_img"] for r in store.catalog().collect()}
    assert sorted(got) == list(range(1, 10))
    assert [i for i, t in got.items() if t == 10] == [4, 5]
    # an id set no file range holds commits a version that rewrites nothing
    v = store.update_processed_img(10, [99])
    assert store._entry(v)["files"] == after["files"]


def test_lineage_and_runs_keep_their_schemas(spark, tmp_path):
    store = CatalogStore(spark, str(tmp_path))
    assert store.lineage().schema == LINEAGE_SCHEMA
    assert store.runs().schema == RUNS_SCHEMA
    r1 = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark, 3), r1)
    r2 = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark, 2), r2)
    assert store.lineage().schema == LINEAGE_SCHEMA
    assert sorted(tuple(r) for r in store.lineage().collect()) == [
        (r1, 1), (r1, 2), (r1, 3), (r2, 4), (r2, 5)
    ]


def test_catalog_read_starts_no_job_past_the_listing_threshold(spark, tmp_path):
    """``spark.read.parquet`` over more paths than
    ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (default
    32) lists them with a Spark job; the store folds its smallest files
    before a commit would list more, so a catalog read stays job-free."""
    threshold = int(
        spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
    )
    store = CatalogStore(spark, str(tmp_path))
    rows = _rows(spark, 1).localCheckpoint()
    for _ in range(threshold + 2):
        store.insert_catalog(rows, 1)
    assert len(store._entry()["files"]) <= threshold
    assert store.last_id() == threshold + 2
    df, jobs = _jobs(spark, store.catalog)
    assert jobs == 0
    assert sorted(r["id"] for r in df.collect()) == list(range(1, threshold + 3))


def test_expire_snapshots_keeps_the_newest(spark, tmp_path):
    """Expiry removes every snapshot older than the newest ``keep_last``
    and keeps the current one; a history no longer than
    ``keep_last`` is kept whole."""
    store = CatalogStore(spark, str(tmp_path))
    store.insert_catalog(_rows(spark), store.start_run(PROCESO_INGEST))
    assert store.expire_snapshots(keep_last=2) == []
    for i in (1, 2, 3):
        store.update_processed_img(10, [i])
    assert store.expire_snapshots(keep_last=2) == [0, 1]
    assert store.catalog_versions() == [2, 3]
    assert store.current_version() == 3 and store.catalog().count() == 4
    assert store.catalog(version=2).count() == 4
    assert store.expire_snapshots(keep_last=2) == []
    assert store.expire_snapshots(keep_last=1) == [2]
    assert store.catalog_versions() == [3]


def test_insert_id_plan_has_no_single_partition_exchange(spark, tmp_path):
    """VERDICT r1 #3 + r4 #3: id allocation must not funnel the batch
    through one task, and (r4) must not collect offsets to the driver.
    The batch path may only shuffle hash-partitioned on the group key;
    the one allowed SinglePartition exchange is the offsets running-sum
    over the per-group AGGREGATE (one row per distinct indice), which
    arrives back via BroadcastExchange."""
    store = CatalogStore(spark, str(tmp_path))
    plan = store._with_ids(_rows(spark), 0)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # the invariant is STRUCTURAL, not a fixed operator count (a Spark
    # version bump may add a harmless SinglePartition elsewhere): every
    # SinglePartition block must consume aggregate columns (__cnt),
    # never a raw batch column — i.e. nothing funnels the full batch
    # through one task
    sp_blocks = [b for b in plan.split("\n\n") if "SinglePartition" in b]
    assert sp_blocks, "expected the offsets running-sum SinglePartition"
    for b in sp_blocks:
        assert "__cnt" in b, f"SinglePartition over non-aggregate input:\n{b}"
        assert "ruta_resultado" not in b, f"raw batch column in:\n{b}"
    assert "hashpartitioning(indice" in plan
    assert "BroadcastExchange" in plan


def test_insert_ids_match_global_row_number_order(spark, tmp_path):
    """Partition-offset allocation must equal the single global
    row_number over (indice, ruta_resultado) — the oracle's definition."""
    rows = [
        ("B_ix", f"lake/b/{i}.jpg") for i in range(5)
    ] + [("A_ix", f"lake/a/{i}.jpg") for i in range(3)] + [
        ("C_ix", "lake/c/0.jpg")
    ]
    df = spark.createDataFrame(rows, "indice string, ruta_resultado string")
    store = CatalogStore(spark, str(tmp_path))
    got = {
        (r["indice"], r["ruta_resultado"]): r["id"]
        for r in store._with_ids(df, 100).collect()
    }
    expected_order = sorted(rows)
    for rank, key in enumerate(expected_order, 1):
        assert got[key] == 100 + rank


def test_filtered_paths_flagship_query(spark, tmp_path):
    store = CatalogStore(spark, str(tmp_path))
    run = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark), run)
    out = store.filtered_paths(PROCESO_INGEST, [TIPO_IMG_RAW_JPG], "C0_S_X_A").collect()
    assert len(out) == 1
    assert out[0]["ruta_resultado"] == "lake/BR/C0/0.jpg"
    # wrong proceso → empty
    assert store.filtered_paths(99, [TIPO_IMG_RAW_JPG], "C0_S_X_A").count() == 0
