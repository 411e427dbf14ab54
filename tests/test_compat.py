"""compat — the reference-API façade + S2 archive extract."""

from __future__ import annotations

import io
import zipfile

from datalake_imagenes_georreferenciadas_spark import compat
from datalake_imagenes_georreferenciadas_spark.plans import geo_fixture as GF
from datalake_imagenes_georreferenciadas_spark.sources.binary import extract_archives


def test_get_extent_matches_reference_shape():
    ext = compat.get_extent([100.0, 2.0, 0.0, 500.0, 0.0, -2.0], 10, 20)
    assert ext == [(100.0, 500.0), (100.0, 460.0), (120.0, 460.0), (120.0, 500.0)]


def test_reproject_roundtrip_center():
    # the zone-18S central meridian at the false-northing origin
    [(lon, lat)] = compat.reproject_coords([(500000.0, 10000000.0)])
    assert abs(lon - (-75.0)) < 1e-9
    assert abs(lat) < 1e-9


def test_convertir_coordenadas_preserves_properties():
    ft = {
        "coordinates": [[(500000.0, 10000000.0)]],
        "properties": {"CODIGO": "C1", "SECCION": "S"},
    }
    [out] = compat.convertir_coordenadas([ft])
    assert out["properties"] == {"CODIGO": "C1", "SECCION": "S"}
    assert len(out["coordinates"][0]) == 1


def test_rev_geoext_drops_z():
    assert compat.rev_geoext([(1.0, 2.0, 99.0), (3.0, 4.0)]) == [(1.0, 2.0), (3.0, 4.0)]


def test_unique_places_first_seen_order():
    props = [
        {"CODIGO": "B", "SECCION": 1, "RODAL": 1, "TIPOUSO": "X", "APL": "A"},
        {"CODIGO": "A", "SECCION": 1, "RODAL": 1, "TIPOUSO": "X", "APL": "A"},
        {"CODIGO": "B", "SECCION": 1, "RODAL": 1, "TIPOUSO": "X", "APL": "A"},
    ]
    keys = compat.unique_places([{"properties": p} for p in props])
    assert keys == ["B_1_1_X_A", "A_1_1_X_A"]  # dedup, order preserved


def test_upload_file_content_addressed(tmp_path):
    src = tmp_path / "img.jpg"
    src.write_bytes(b"pixels")
    dest = compat.upload_file("BR/C1", str(src), str(tmp_path / "lake"))
    import hashlib

    assert dest.endswith(f"{hashlib.md5(b'pixels').hexdigest()}.jpg")
    # same content → same key (idempotent), unlike the reference's urandom
    assert compat.upload_file("BR/C1", str(src), str(tmp_path / "lake")) == dest


def test_get_predio_centroide_contains_then_nearest_then_unclassifiable(spark):
    """Every branch of the reference's per-image classification over the
    hand-made parcels: containment, the nearest fallback (a point in
    P4's hole included) and the unlocatable label."""
    out = compat.get_predio_centroide(GF.spark_points(spark), GF.spark_polys(spark))
    got = {r["img_id"]: (r["id_predio"], r["method"]) for r in out.collect()}
    assert got[1] == ("P1", "contains") and got[11] == ("P4", "contains")
    assert got[12][1] == got[15][1] == got[6][1] == "nearest"
    assert got[9] == got[10] == (None, "IMAGEN NO CLASIFICABLE")
    assert set(got) == {i for i, _, _ in GF.POINTS}


def _nearest_vertex(lon: float, lat: float) -> tuple:
    """Brute-force argmin over every parcel vertex: the smallest
    (squared distance, id_predio, nombre, x, y)."""
    return min(
        ((lon - x) * (lon - x) + (lat - y) * (lat - y), p["id_predio"], p["nombre"], x, y)
        for p in GF.POLYS
        for ring in p["rings"]
        for x, y in ring
    )


def test_polygono_mascercano_is_the_nearest_vertex(spark):
    """Nearest vertex per located point, against a brute-force scan; the
    per-file argmin of get_properties_mascercano is the same function."""
    assert compat.get_properties_mascercano is compat.polygono_mascercano
    out = compat.polygono_mascercano(GF.spark_points(spark), GF.spark_polys(spark))
    got = {r["img_id"]: (r["id_predio"], r["nombre"], r["vx"], r["vy"]) for r in out.collect()}
    want = {
        i: _nearest_vertex(lon, lat)[1:] for i, lon, lat in GF.POINTS if None not in (lon, lat)
    }
    assert {i: got[i] for i in want} == want


def test_image_list_is_the_sorted_two_level_glob(tmp_path):
    for rel in ("BR/C1/x.jpg", "BR/b.jpg", "TIF/a.tif", "top.jpg"):
        (tmp_path / rel).parent.mkdir(parents=True, exist_ok=True)
        (tmp_path / rel).write_bytes(b"")
    # files exactly two levels down; a directory there is not an image
    assert compat.image_list(str(tmp_path)) == [
        str(tmp_path / "BR" / "b.jpg"),
        str(tmp_path / "TIF" / "a.tif"),
    ]
    assert compat.image_list(str(tmp_path / "missing")) == []


def test_download_filtered_images_dict_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    store = compat.CatalogStore(spark, str(tmp_path / "cat"))
    run = store.start_run(0)
    rows = spark.createDataFrame(
        [("I1", "C1", "N", "S", "E", "A", 0, 0, "lake/a.jpg")],
        "indice string, codigo string, nombre_predio string, seccion string, "
        "especie string, apl string, id_tipo_img int, id_proceso int, ruta_resultado string",
    ).withColumn("fecha", F.current_timestamp())
    store.insert_catalog(rows, run)
    out = compat.download_filtered_images(store, 0, [0], "I1")
    assert out == [{"ID": 1, "RUTA_RESULTADO": "lake/a.jpg"}]


def test_extract_archives_real_zip(spark):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr("a/img1.jpg", b"one")
        zf.writestr("img2.tif", b"twotwo")
    raw = spark.createDataFrame(
        [("landing/batch1.zip", bytearray(buf.getvalue())), ("bad.zip", bytearray(b"not a zip"))],
        "path string, content binary",
    )
    rows = extract_archives(raw).collect()
    out = {
        r["member"]: (r["size"], bytes(r["content"]))
        for r in rows
        if r["skipped_reason"] is None
    }
    assert out == {"a/img1.jpg": (3, b"one"), "img2.tif": (6, b"twotwo")}
    # the undecodable archive surfaces as a skipped row, not silence
    skipped = [r for r in rows if r["skipped_reason"] is not None]
    assert [r["archive"] for r in skipped] == ["bad.zip"]


def test_extract_archives_mixed_zip_tar_garbage(spark):
    """S2 across formats (VERDICT r1 #7): one batch holding a zip, a
    tar.gz, and garbage — members extract from both real formats; the
    garbage yields exactly one skipped_reason row."""
    import tarfile

    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as zf:
        zf.writestr("z1.jpg", b"zipped")
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w:gz") as tf:
        data = b"tarred-bytes"
        info = tarfile.TarInfo("dir/t1.tif")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
        d = tarfile.TarInfo("dir")
        d.type = tarfile.DIRTYPE
        tf.addfile(d)
    raw = spark.createDataFrame(
        [
            ("a.zip", bytearray(zbuf.getvalue())),
            ("b.tar.gz", bytearray(tbuf.getvalue())),
            ("c.rar", bytearray(b"Rar!\x1a\x07\x00 pretend rar")),
        ],
        "path string, content binary",
    )
    rows = extract_archives(raw).collect()
    ok = {r["member"]: (r["archive"], r["size"], bytes(r["content"])) for r in rows if r["skipped_reason"] is None}
    assert ok == {
        "z1.jpg": ("a.zip", 6, b"zipped"),
        "dir/t1.tif": ("b.tar.gz", 12, b"tarred-bytes"),
    }
    skipped = [(r["archive"], r["member"]) for r in rows if r["skipped_reason"] is not None]
    assert skipped == [("c.rar", None)]
