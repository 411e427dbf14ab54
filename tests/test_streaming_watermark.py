"""Batch-by-batch watermark / late-data semantics (SURVEY §5.2-5) and
checkpoint-restart exactly-once (M4)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.catalog.store import CatalogStore
from datalake_imagenes_georreferenciadas_spark.operators.sessionize import tumbling_window_agg
from datalake_imagenes_georreferenciadas_spark.streaming.ingest import start_file_ingest

BASE = dt.datetime(2024, 1, 1)
EV_SCHEMA = "event_id long, ts timestamp, event_type string, value double"


def _t(minutes: float) -> dt.datetime:
    return BASE + dt.timedelta(minutes=minutes)


def _epoch(minutes: float) -> int:
    """``window_start_epoch`` of the window starting at ``_t(minutes)``
    (a naive datetime enters Spark as local time, as ``timestamp()``
    reads it)."""
    return int(_t(minutes).timestamp())


def _run_stream(spark, src, ckpt, name):
    """One availableNow round; returns appended rows (foreachBatch sink —
    the memory sink can't recover from a checkpoint across restarts)."""
    del name
    # batches land as subdirs (src/b1, src/b2, …) — the file source does
    # not recurse, so glob one level down
    stream = spark.readStream.schema(EV_SCHEMA).parquet(os.path.join(src, "*"))
    agg = tumbling_window_agg(stream.withWatermark("ts", "30 minutes"))
    collected: list = []

    def capture(batch_df, batch_id):
        collected.extend(batch_df.collect())

    q = (
        agg.writeStream.foreachBatch(capture)
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return collected


def test_watermark_closes_windows_and_drops_late(spark, tmp_path):
    """Three micro-batch rounds against one checkpoint. availableNow ends
    each run with a no-data flush batch, so windows closed by the run's
    own watermark are emitted within the run; the watermark persists in
    the checkpoint across runs, and an event behind it is dropped — it
    never re-opens or grows an already-emitted window (the late-data
    guarantee the reference's re-run-everything loop lacks)."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")

    batch1 = [
        (1, _t(1), "a", 1.0),
        (2, _t(12), "a", 1.0),
        (3, _t(100), "a", 1.0),  # watermark → 100 − 30 = 70min
    ]
    spark.createDataFrame(batch1, EV_SCHEMA).write.parquet(os.path.join(src, "b1"))
    out1 = _run_stream(spark, src, ckpt, "wm_r1")
    got1 = {(r["window_start_epoch"], r["n"]) for r in out1}
    # the flush batch emits windows ending ≤ 70min; event 3's stays open
    assert got1 == {(_epoch(0), 1), (_epoch(10), 1)}

    batch2 = [
        (4, _t(5), "a", 1.0),    # LATE: checkpointed watermark is 70min
        (5, _t(105), "a", 1.0),  # on time, joins event 3's open window
        (6, _t(200), "a", 1.0),  # watermark → 170min
    ]
    spark.createDataFrame(batch2, EV_SCHEMA).write.parquet(os.path.join(src, "b2"))
    out2 = _run_stream(spark, src, ckpt, "wm_r2")
    got2 = {(r["window_start_epoch"], r["n"]) for r in out2}
    # late event 4 dropped (no [0,10) re-emission); [100,110) closes with
    # event 3 (restored from checkpointed state) + event 5
    assert got2 == {(_epoch(100), 2)}

    batch3 = [(7, _t(300), "a", 1.0)]  # watermark → 270min
    spark.createDataFrame(batch3, EV_SCHEMA).write.parquet(os.path.join(src, "b3"))
    out3 = _run_stream(spark, src, ckpt, "wm_r3")
    got3 = {(r["window_start_epoch"], r["n"]) for r in out3}
    assert got3 == {(_epoch(200), 1)}  # event 6's window closes; event 7's stays open


def test_ingest_checkpoint_restart_no_reprocessing(spark, tmp_path):
    """Re-running the ingest with the same checkpoint and NO new files
    must not re-insert anything (the reference's double-insert hazard)."""
    src = str(tmp_path / "isrc")
    ckpt = str(tmp_path / "ickpt")
    store = CatalogStore(spark, str(tmp_path / "icat"))

    spark.createDataFrame(
        [(1, "C1", "lake/C1/1.jpg")], "img_id long, codigo string, ruta_resultado string"
    ).write.parquet(os.path.join(src, "b1"))

    def to_rows(batch):
        return batch.select(
            F.concat_ws("_", "codigo", F.lit("S"), F.lit("X"), F.lit("A")).alias("indice"),
            "codigo",
            F.lit("P").alias("nombre_predio"),
            F.lit("S").alias("seccion"),
            F.lit("E").alias("especie"),
            F.lit("A").alias("apl"),
            F.lit(0).cast("int").alias("id_tipo_img"),
            F.lit(0).cast("int").alias("id_proceso"),
            "ruta_resultado",
            F.current_timestamp().alias("fecha"),
        )

    schema = "img_id long, codigo string, ruta_resultado string"
    q = start_file_ingest(spark, os.path.join(src, "*"), ckpt, store, schema, to_rows)
    q.awaitTermination()
    assert store.catalog().count() == 1
    runs_after_first = store.runs().count()

    # restart with the same checkpoint, nothing new
    q = start_file_ingest(spark, os.path.join(src, "*"), ckpt, store, schema, to_rows)
    q.awaitTermination()
    assert store.catalog().count() == 1  # no duplicate rows
    assert store.lineage().count() == 1
    assert store.runs().count() == runs_after_first  # empty batch → no run row


def test_batch_replay_is_idempotent(spark, tmp_path):
    """ADVICE r1: a crash-replay of the same micro-batch (same batchId,
    same data) must not append a second run row nor duplicate catalog
    rows; rows sharing ruta_resultado within one batch insert once."""
    store = CatalogStore(spark, str(tmp_path / "rcat"))

    batch = spark.createDataFrame(
        [
            ("C1", "lake/C1/1.jpg"),
            ("C1", "lake/C1/1.jpg"),  # within-batch duplicate path
            ("C2", "lake/C2/2.jpg"),
        ],
        "codigo string, ruta_resultado string",
    ).select(
        F.concat_ws("_", "codigo", F.lit("S"), F.lit("X"), F.lit("A")).alias("indice"),
        "codigo",
        F.lit("P").alias("nombre_predio"),
        F.lit("S").alias("seccion"),
        F.lit("E").alias("especie"),
        F.lit("A").alias("apl"),
        F.lit(0).cast("int").alias("id_tipo_img"),
        F.lit(0).cast("int").alias("id_proceso"),
        "ruta_resultado",
        F.current_timestamp().alias("fecha"),
    )

    def deliver(batch_df, batch_id):
        run_id = store.start_run(0, batch_id=batch_id)
        rows = batch_df.dropDuplicates(["ruta_resultado"])
        fresh = rows.join(
            store.catalog().select("ruta_resultado"), "ruta_resultado", "left_anti"
        )
        store.insert_catalog(fresh, run_id)
        return run_id

    r1 = deliver(batch, batch_id=7)
    assert store.catalog().count() == 2  # within-batch dup collapsed
    assert store.runs().count() == 1
    # crash-replay: same batchId, same content
    r2 = deliver(batch, batch_id=7)
    assert r2 == r1  # run id reused, not re-minted
    assert store.runs().count() == 1
    assert store.catalog().count() == 2
    assert store.lineage().count() == 2
    # a genuinely new batch still gets a fresh run
    assert store.start_run(0, batch_id=8) == r1 + 1
