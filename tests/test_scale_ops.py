"""Skew plans, IVF ANN, multimodal kernels, streaming windows — the
scale-path operators (SURVEY §4.2/§4.3, north star)."""

from __future__ import annotations

import datetime as dt
import hashlib

import pytest
from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.functions import tiff as T
from datalake_imagenes_georreferenciadas_spark.operators.similarity import ivf_assign, ivf_topk
from datalake_imagenes_georreferenciadas_spark.operators.skew import (
    salted_broadcast_replicate_join,
    salted_sum_count,
)
from datalake_imagenes_georreferenciadas_spark.sources.binary import (
    _decode_image,
    _decode_image_stub,
    audio_features,
    resize_images,
    sample_frames,
)
from datalake_imagenes_georreferenciadas_spark.streaming.windows import dedup_within_watermark


def test_salted_agg_equals_plain(spark):
    df = spark.createDataFrame(
        [("a", i * 1.0) for i in range(50)] + [("b", 1.0)], "k string, v double"
    )
    salted = {
        r["k"]: (r["sum_value"], r["n"])
        for r in salted_sum_count(df, ["k"], F.col("v"), n_salts=4).collect()
    }
    plain = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain(spark):
    big = spark.createDataFrame([(i % 3, i) for i in range(60)], "k int, v int")
    small = spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "k int, tag string")
    salted = sorted(
        (r["k"], r["v"], r["tag"])
        for r in salted_broadcast_replicate_join(big, small, "k", n_salts=4).collect()
    )
    plain = sorted((r["k"], r["v"], r["tag"]) for r in big.join(small, "k").collect())
    assert salted == plain


def test_ivf_assign_picks_nearest_centroid(spark):
    data = spark.createDataFrame(
        [(1, [0.0, 0.1]), (2, [5.0, 5.1]), (3, [0.2, 0.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(100, [0.0, 0.0]), (200, [5.0, 5.0])],
        "centroid_id long, centroid array<double>",
    )
    got = {r["vec_id"]: r["centroid_id"] for r in ivf_assign(data, cents).collect()}
    assert got == {1: 100, 2: 200, 3: 100}


def test_ivf_topk_self_in_results(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)]
    data = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = data.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("centroid")
    )
    q = data.filter(F.col("vec_id") == 9).select(F.col("vec_id").alias("q_id"), "embedding")
    top = ivf_topk(data, q, cents, k=3, nprobe=4).orderBy("rank").collect()
    # nprobe covers ALL cells → self must be rank 1 with cosine 1.0
    assert top[0]["vec_id"] == 9 and top[0]["cos"] == 1.0


# Edge payloads: NULL, empty, a 1000- and a 1001-character text, and
# multibyte text (2-, 3- and 4-byte UTF-8), so a frame cut by bytes
# instead of characters would show.
_EDGE_TEXTS = (
    None,
    "",
    "a" * 1000,
    "b" * 1001,
    "ñ" * 1500 + "日本",
    "x" * 999 + "é" + "y" * 1000,
    "\U0001F600" * 1001,
)


def _edge_payloads(spark):
    rows = [
        (f"{i}.bin", None if t is None else bytearray(t.encode("utf-8")))
        for i, t in enumerate(_EDGE_TEXTS)
    ]
    return spark.createDataFrame(rows, "path string, content binary"), dict(rows)


def _resize_reference(b, width, height):
    """Python digest-slice thumbnail: md5(content) repeated, cut to
    width*height bytes; NULL in, NULL out."""
    if b is None:
        return None
    t = hashlib.md5(bytes(b)).digest() * ((width * height) // 16 + 1)
    return t[: width * height]


def _frames_reference(b, every_n, max_frames):
    """Python frame keys: ``max_frames`` (frame_idx, key) pairs, keys
    NULL for a NULL payload."""
    d = None if b is None else hashlib.md5(bytes(b)).hexdigest()
    return [
        (i * every_n, None if d is None else hashlib.md5(f"{d}:{i * every_n}".encode()).hexdigest())
        for i in range(max_frames)
    ]


def _audio_reference(text):
    """Python audio features: 1000-character frames (one empty frame for
    empty text), each frame's first 8 md5 hex digits mod 1e6."""
    if text is None:
        return (None, None, None)
    chunks = [text[i : i + 1000] for i in range(0, len(text), 1000)] or [""]
    rms = [int(hashlib.md5(c.encode("utf-8")).hexdigest()[:8], 16) % 1_000_000 for c in chunks]
    return (len(rms), rms[0], sum(rms))


def test_resize_images_contract(spark):
    df = spark.createDataFrame(
        [("a.jpg", bytearray(b"imgbytes-a")), ("b.jpg", bytearray(b"imgbytes-b"))],
        "path string, content binary",
    )
    out = resize_images(df, width=8, height=4).collect()
    assert {r["path"] for r in out} == {"a.jpg", "b.jpg"}
    assert all(r["width"] == 8 and r["height"] == 4 for r in out)
    assert all(len(r["thumb"]) == 32 for r in out)  # width*height bytes
    # deterministic: same content → same thumb
    again = resize_images(df, width=8, height=4).collect()
    assert {bytes(r["thumb"]) for r in out} == {bytes(r["thumb"]) for r in again}
    # edge payloads match the Python reference, also for a size that is
    # not a multiple of the 16-byte digest
    edges, payloads = _edge_payloads(spark)
    for w, h in ((8, 4), (5, 3)):
        got = {
            r["path"]: (r["width"], r["height"], None if r["thumb"] is None else bytes(r["thumb"]))
            for r in resize_images(edges, width=w, height=h).collect()
        }
        assert got == {p: (w, h, _resize_reference(b, w, h)) for p, b in payloads.items()}


def test_sample_frames_row_expansion(spark):
    df = spark.createDataFrame([("v.mp4", bytearray(b"videobytes"))], "path string, content binary")
    out = sample_frames(df, every_n=10, max_frames=5).collect()
    assert len(out) == 5
    assert sorted(r["frame_idx"] for r in out) == [0, 10, 20, 30, 40]
    assert len({r["frame_key"] for r in out}) == 5  # distinct per frame
    # edge payloads match the Python reference; a NULL payload keeps its
    # max_frames rows, with NULL keys
    edges, payloads = _edge_payloads(spark)
    got: dict = {}
    for r in sample_frames(edges, every_n=10, max_frames=5).collect():
        got.setdefault(r["path"], []).append((r["frame_idx"], r["frame_key"]))
    assert {p: sorted(v, key=lambda f: f[0]) for p, v in got.items()} == {
        p: _frames_reference(b, 10, 5) for p, b in payloads.items()
    }


def test_audio_features_match_reference(spark):
    rows = list(enumerate(_EDGE_TEXTS))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_frames"], r["first_rms"], r["total_rms"])
        for r in audio_features(df).collect()
    }
    assert got == {i: _audio_reference(t) for i, t in rows}
    assert got[3][0] == 2 and got[2][0] == 1  # 1001 chars → 2 frames


def test_dedup_within_watermark_stream(spark, tmp_path):
    """Duplicate event_ids within the watermark are dropped exactly once."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 10.0),
        (1, base + dt.timedelta(minutes=1), 10.0),  # duplicate id, in watermark
        (2, base + dt.timedelta(minutes=2), 20.0),
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "event_id long, ts timestamp, value double").write.parquet(src)
    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double").parquet(src)
    )
    deduped = dedup_within_watermark(stream, watermark_minutes=30)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_wm")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("dedup_wm").collect()
    assert sorted(r["event_id"] for r in got) == [1, 2]


# ---- image metadata decode: TIFF/EXIF parser, then the digest stub ----

_JPG = T.write_jpeg_exif_gps((33, 27, 1234, 100), (70, 40, 5678, 100), True, True)
_TIF = T.write_geotiff(64, 32, 350000.25, 6300000.75, 0.5, 0.25)
_JUNK = b"definitely not an image"
_LAT, _LON = T.parse_exif_gps(_JPG)
_GT, _COLS, _ROWS = T.parse_tiff_meta(_TIF)


@pytest.mark.parametrize(
    "content, path, expected",
    [
        pytest.param(
            _JPG,
            "x.jpg",
            {"clase": "BR", "lat": _LAT, "lon": _LON, "gt": None, "cols": None, "rows": None},
            id="exif_jpg",
        ),
        pytest.param(
            _TIF,
            "x.tif",
            {"clase": "TIF", "lat": None, "lon": None, "gt": _GT, "cols": _COLS, "rows": _ROWS},
            id="geotiff",
        ),
        # non-image bytes get the digest stub: this is what keeps the
        # digest-twin oracles valid on synthetic fixtures
        pytest.param(_JUNK, "a.jpg", _decode_image_stub(_JUNK, "a.jpg"), id="garbage_jpg"),
        pytest.param(_JUNK, "b.tif", _decode_image_stub(_JUNK, "b.tif"), id="garbage_tif"),
        pytest.param(
            None,
            "c.jpg",
            dict.fromkeys(("clase", "lat", "lon", "gt", "cols", "rows")),
            id="null",
        ),
    ],
)
def test_decode_image_tiers(content, path, expected):
    assert _decode_image(content, path) == expected


def test_reproject_approx_lands_in_santiago(spark):
    """reproject_utm_to_wgs84_approx returns struct<lon,lat> in range."""
    from datalake_imagenes_georreferenciadas_spark.functions.geo import (
        reproject_utm_to_wgs84_approx,
    )

    df = spark.createDataFrame([(350000.0, 6300000.0)], "x double, y double")
    row = df.select(
        reproject_utm_to_wgs84_approx(F.col("x"), F.col("y"), zone=19, south=True).alias("p")
    ).collect()[0]["p"]
    # Santiago-ish UTM 19S coordinates: lon near -73, lat near -33
    assert -76.0 < row["lon"] < -69.0 and -36.0 < row["lat"] < -30.0
