"""streaming.ingest — checkpointed file-source ingest with run/lineage
bookkeeping (SURVEY §2.9/M4)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.catalog.store import CatalogStore
from datalake_imagenes_georreferenciadas_spark.operators.sessionize import sessionize
from datalake_imagenes_georreferenciadas_spark.streaming.ingest import start_file_ingest
from datalake_imagenes_georreferenciadas_spark.tables import DEFAULT_SF_DIR as SF

SRC_SCHEMA = "img_id long, codigo string, ruta_resultado string"


def _to_rows(batch):
    return batch.select(
        F.concat_ws("_", "codigo", F.lit("S"), F.lit("X"), F.lit("A")).alias("indice"),
        "codigo",
        F.lit("PRED").alias("nombre_predio"),
        F.lit("S").alias("seccion"),
        F.lit("PINO").alias("especie"),
        F.lit("A").alias("apl"),
        F.lit(0).cast("int").alias("id_tipo_img"),
        F.lit(0).cast("int").alias("id_proceso"),
        "ruta_resultado",
        F.current_timestamp().alias("fecha"),
    )


def test_file_ingest_lands_catalog_and_lineage(spark, tmp_path):
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    store = CatalogStore(spark, str(tmp_path / "cat"))

    batch1 = spark.createDataFrame(
        [(1, "C1", "lake/C1/1.jpg"), (2, "C2", "lake/C2/2.jpg")], SRC_SCHEMA
    )
    batch1.write.parquet(os.path.join(src, "b1"))

    q = start_file_ingest(spark, os.path.join(src, "*"), ckpt, store, SRC_SCHEMA, _to_rows)
    q.awaitTermination()
    assert store.catalog().count() == 2
    assert store.lineage().count() == 2
    assert store.runs().count() == 1

    # second delivery: one new file + one duplicate path → only the new lands
    batch2 = spark.createDataFrame(
        [(3, "C3", "lake/C3/3.jpg"), (9, "C1", "lake/C1/1.jpg")], SRC_SCHEMA
    )
    batch2.write.parquet(os.path.join(src, "b2"))
    q = start_file_ingest(spark, os.path.join(src, "*"), ckpt, store, SRC_SCHEMA, _to_rows)
    q.awaitTermination()
    cat = store.catalog().collect()
    assert len(cat) == 3  # duplicate ruta_resultado anti-joined away
    assert {r["codigo"] for r in cat} == {"C1", "C2", "C3"}


def test_sessionize_gap_semantics(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, 100, base),
        (2, 100, base + dt.timedelta(minutes=10)),  # same session
        (3, 100, base + dt.timedelta(minutes=50)),  # 40min gap → new session
        (4, 200, base),  # other user
    ]
    ev = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = {r["event_id"]: r["session_seq"] for r in sessionize(ev).collect()}
    assert out[1] == 1 and out[2] == 1
    assert out[3] == 2
    assert out[4] == 1


def test_stateful_running_totals_accumulate_across_batches(spark, tmp_path):
    """applyInPandasWithState: GroupState persists across micro-batches —
    batch 2's emitted totals include batch 1's contribution."""
    from datalake_imagenes_georreferenciadas_spark.streaming.stateful import running_totals

    src = str(tmp_path / "ev_src")
    ckpt = str(tmp_path / "ev_ckpt")
    os.makedirs(src)
    schema = "event_type string, value double"

    def run_batch(name):
        # memory sink cannot recover from a checkpoint; foreachBatch can —
        # and it's the production sink shape for stateful updates anyway
        rows = []

        def sink(df, _bid):
            rows.extend(df.collect())

        stream = spark.readStream.format("parquet").schema(schema).load(os.path.join(src, "*"))
        q = (
            running_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {r["event_type"]: (r["n"], r["sum_value"]) for r in rows}

    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], schema
    ).write.parquet(os.path.join(src, "b1"))
    got1 = run_batch("st_b1")
    assert got1 == {"a": (2, 3.0), "b": (1, 10.0)}

    spark.createDataFrame([("a", 4.0), ("c", 0.5)], schema).write.parquet(
        os.path.join(src, "b2")
    )
    got2 = run_batch("st_b2")
    # only keys present in batch 2 emit; 'a' carries state from batch 1
    assert got2 == {"a": (3, 7.0), "c": (1, 0.5)}


@pytest.mark.skipif(not os.path.isdir(SF), reason="sf0.001 test data missing")
def test_memory_sink_queries_leave_no_session_view(spark):
    """A registered memory-sink query drops its sink's view once the
    result frame has resolved; the frame still reads every row."""
    from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES

    before = sorted(t.name for t in spark.catalog.listTables())
    counts = [QUERIES["streaming_tumbling"](spark, SF).count() for _ in range(2)]
    assert sorted(t.name for t in spark.catalog.listTables()) == before
    assert counts[0] == counts[1] > 0


def test_drain_batches_restores_shuffle_partitions_when_the_batch_fails(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    from datalake_imagenes_georreferenciadas_spark.plans._qbase import (
        drain_batches,
        shard_stream,
    )

    src = str(tmp_path / "in")
    spark.range(10).write.parquet(src)
    seen = []

    def fail(batch_df, _bid):
        seen.append(batch_df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        raise RuntimeError("batch failed")

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        with pytest.raises(StreamingQueryException):
            drain_batches(shard_stream(spark, src), fail, src)
        assert seen == ["4"]  # the run's input-derived value (floor of 4)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
