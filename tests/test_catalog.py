"""catalog.store — the reference's MySQL metadata layer on parquet
(SURVEY M2; mysql_process.py semantics)."""

from __future__ import annotations

import time
import uuid

from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.catalog.store import (
    PROCESO_INGEST,
    TIPO_IMG_GEOTIFF,
    TIPO_IMG_RAW_JPG,
    CatalogStore,
)


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


def _jobs_in_group(spark, group, fn):
    """(fn(), number of Spark jobs ``fn`` ran), counted by job group. The
    status store is fed asynchronously, so wait until the count holds."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    seen, deadline = -1, time.time() + 10
    while time.time() < deadline:
        n = len(st.getJobIdsForGroup(group))
        if n == seen:
            break
        seen = n
        time.sleep(0.5)
    return out, seen


def test_start_run_replay_and_next_id_from_one_aggregate(spark, tmp_path):
    """A replayed ``batch_id`` reuses its run id, a new batch gets
    max+1, and each call answers both questions with ONE aggregate over
    the runs table (a new batch adds only the append write of its run
    row). One aggregate's job count is measured, not assumed: AQE runs
    its shuffle-map stage as a job of its own."""
    store = CatalogStore(spark, str(tmp_path))
    assert store.start_run(PROCESO_INGEST, batch_id=7) == 1
    assert store.start_run(PROCESO_INGEST, batch_id=8) == 2
    tag = uuid.uuid4().hex
    _, one_agg = _jobs_in_group(
        spark, f"agg_{tag}", lambda: store.runs().agg(F.max("id_ejecucion")).collect()
    )
    run, jobs = _jobs_in_group(
        spark, f"replay_{tag}", lambda: store.start_run(PROCESO_INGEST, batch_id=7)
    )
    assert (run, jobs) == (1, one_agg)
    run, jobs = _jobs_in_group(
        spark, f"new_{tag}", lambda: store.start_run(PROCESO_INGEST, batch_id=9)
    )
    assert (run, jobs) == (3, one_agg + 1)
    assert store.start_run(PROCESO_INGEST) == 4
    assert sorted(
        (r["id_ejecucion"], r["batch_id"]) for r in store.runs().collect()
    ) == [(1, 7), (2, 8), (3, 9), (4, None)]


def test_insert_allocates_ids_and_lineage(spark, tmp_path):
    store = CatalogStore(spark, str(tmp_path))
    run = store.start_run(PROCESO_INGEST)
    inserted = store.insert_catalog(_rows(spark), run)
    ids = sorted(r["id"] for r in inserted.select("id").collect())
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
    """Copy-on-write MERGE: the update lands in a NEW snapshot; the old
    version stays readable (time travel) and the pointer names the new."""
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
    # inserts go to the CURRENT snapshot
    run2 = store.start_run(PROCESO_INGEST)
    store.insert_catalog(_rows(spark, 1), run2)
    assert store.catalog().count() == 5
    assert store.catalog(version=0).count() == 4  # old snapshot untouched


def test_expire_snapshots_keeps_the_newest(spark, tmp_path):
    """Expiry removes every snapshot older than the newest ``keep_last``
    and leaves the pointer on the current one; a history no longer than
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
