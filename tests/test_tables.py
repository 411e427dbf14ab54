"""tables.py — ts-encoding normalization and scan rebalancing (the
round-4 schema-drift and single-split fixes)."""

from __future__ import annotations

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.tables import spread, table


def _write_events(path, ts_array):
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": ts_array,
                "user_id": pa.array([10, 20], pa.int64()),
            }
        ),
        path,
    )


def test_events_ts_normalized_from_us_ntz(spark, tmp_path):
    """µs timestamps (isAdjustedToUTC=false → TIMESTAMP_NTZ in Spark 4)
    must read back as session-zone TIMESTAMP with identical instants."""
    d = str(tmp_path)
    t0 = datetime.datetime(2024, 1, 1, 12, 30, 45)
    _write_events(
        os.path.join(d, "events.parquet"),
        pa.array([t0, t0 + datetime.timedelta(seconds=90)], pa.timestamp("us")),
    )
    df = table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert got[0] == t0 and (got[1] - got[0]).total_seconds() == 90
    # numeric casts must be legal (the operation TIMESTAMP_NTZ refuses)
    assert df.select(F.col("ts").cast("double")).count() == 2


def test_events_ts_normalized_from_int64_nanos(spark, tmp_path):
    """The legacy INT64-nanos encoding still converts via integer div."""
    d = str(tmp_path)
    base_ns = 1704112245_000_000_000  # 2024-01-01T12:30:45Z
    _write_events(
        os.path.join(d, "events.parquet"),
        pa.array([base_ns, base_ns + 90 * 10**9], pa.int64()),
    )
    df = table(spark, d, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = [r["ts"] for r in df.orderBy("event_id").collect()]
    assert (got[1] - got[0]).total_seconds() == 90
    assert got[0] == datetime.datetime(2024, 1, 1, 12, 30, 45)


def test_spread_rebalances_single_split_and_preserves_rows(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(100), pa.int64())}),
        os.path.join(d, "docs.parquet"),
    )
    df = spark.read.parquet(os.path.join(d, "docs.parquet"))
    assert df.rdd.getNumPartitions() == 1
    out = spread(df, "doc_id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(100))


def test_spread_noop_when_already_parallel(spark):
    df = spark.range(1000).repartition(spark.sparkContext.defaultParallelism)
    out = spread(df)
    assert out is df  # no extra exchange inserted


def test_exifscan_python_datasource_roundtrip(spark, tmp_path):
    """Custom Python DataSource: partition planning + executor-side
    decode emit typed rows for a mixed image dir (sources/pyds.py)."""
    from datalake_imagenes_georreferenciadas_spark.functions import tiff as T
    from datalake_imagenes_georreferenciadas_spark.sources.pyds import register_exifscan

    d = tmp_path / "imgs"
    d.mkdir()
    (d / "a.jpg").write_bytes(
        T.write_jpeg_exif_gps((10, 30, 0, 100), (20, 0, 0, 100), True, False)
    )
    (d / "b.tif").write_bytes(T.write_geotiff(64, 32, 100.0, 900.0, 2.0, 4.0))
    (d / "c.jpg").write_bytes(b"not a real jpeg")
    register_exifscan(spark)
    rows = {
        r["path"].rsplit("/", 1)[-1]: r
        for r in spark.read.format("exifscan").load(str(d)).collect()
    }
    assert rows["a.jpg"]["kind"] == "BR"
    assert abs(rows["a.jpg"]["lat"] - (-10.5)) < 1e-9
    assert rows["a.jpg"]["lon"] == 20.0
    assert rows["b.tif"]["kind"] == "TIF"
    assert (rows["b.tif"]["cols"], rows["b.tif"]["rows"]) == (64, 32)
    assert (rows["b.tif"]["x0"], rows["b.tif"]["y0"]) == (100.0, 900.0)
    assert rows["c.jpg"]["kind"] == "RAW"  # garbage degrades, never fails
