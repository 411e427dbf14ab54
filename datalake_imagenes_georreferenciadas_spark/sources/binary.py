"""Multimodal binary columns (SURVEY S1/S7/S8; north-star multimodal ops).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs, read via Spark's ``binaryFile`` source:

    spark.read.format("binaryFile").load(dir)
      → (path, modificationTime, length, content BINARY)

Byte decoders run as Arrow-batched ``mapInPandas`` generators. Image
metadata has one decoder: the stdlib TIFF/EXIF walker
(``functions.tiff``) reads EXIF GPS from JPEGs and the geotransform and
dimensions from GeoTIFFs. Bytes it cannot parse (the synthetic landing
zone holds text, not images) get ``_decode_image_stub``, a deterministic
fake derived from the content digest that the oracles replay. Archive
extraction is the other byte kernel. Pixel work (resize, frame
sampling, audio features) has no decoder here: its digest stubs are
md5 chains, so they are built-in column expressions that stay in the
JVM, the same SQL the oracles run.

Reference parity:
- S1 object-store list+fetch (download_list_images.py:17-25) → binaryFile
  scan (the listing, download loop, and temp-dir lifecycle all collapse
  into the source).
- S7 EXIF GPS extract (script_geo.py:170-171) and S8 raster
  geotransform read (script_geo.py:175-179) → :func:`extract_image_meta`.
- P6 type dispatch BR/TIF (script_geo.py:167-175) → expression dispatch on
  extension + decode success, not exception control flow.
"""

from __future__ import annotations

import atexit
import glob as glob_mod
import hashlib
import io
import os
import shutil
import tempfile
from collections.abc import Callable, Hashable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import table

IMAGE_META_SCHEMA = (
    "path string, length long, clase string, lat double, lon double, "
    "gt array<double>, cols int, rows int"
)


def read_binary_dir(spark: SparkSession, path: str) -> DataFrame:
    """S1: binaryFile scan of an object-store/filesystem directory."""
    return spark.read.format("binaryFile").load(path)


#: name prefix of every staging dir; the owner's pid follows it
STAGE_PREFIX = "blob_stage_"
#: (applicationId, key) -> the dir this process staged for it
_STAGED: dict[tuple, str] = {}
#: every dir this process made; removed at exit
_OWNED: list[str] = []


def _pid_running(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        return True
    return True


def _remove_orphans(tmp: str) -> None:
    """Remove the staging dirs of processes that died before their exit
    hook ran (a crashed or killed run)."""
    for entry in os.listdir(tmp):
        if not entry.startswith(STAGE_PREFIX):
            continue
        pid = entry[len(STAGE_PREFIX):].split("_", 1)[0]
        if pid.isdigit() and int(pid) > 0 and not _pid_running(int(pid)):
            shutil.rmtree(os.path.join(tmp, entry), ignore_errors=True)


def scratch_dir(tag: str = "") -> str:
    """A fresh empty dir ``$TMPDIR/blob_stage_<pid>_<tag><random>``.

    The name carries this process's pid; the dir is removed when the
    process exits, and making one removes any that a dead process left
    behind. Use it for per-call fixtures that must not be shared across
    calls (each call redoes the same work)."""
    tmp = tempfile.gettempdir()
    _remove_orphans(tmp)
    d = tempfile.mkdtemp(prefix=f"{STAGE_PREFIX}{os.getpid()}_{tag}", dir=tmp)
    _OWNED.append(d)
    return d


def stage_dir(spark: SparkSession, key: Hashable, fill: Callable[[str], None]) -> str:
    """A :func:`scratch_dir` made and filled (``fill(dir)``) once per
    Spark application and ``key``: repeated plan builds in one
    application (bench passes, oracle re-runs) reuse it, and a new
    application stages its own. A dir removed under us (a tmp cleaner)
    is staged again."""
    k = (spark.sparkContext.applicationId, key)
    dest = _STAGED.get(k)
    if dest is None or not os.path.isdir(dest):
        dest = scratch_dir()
        fill(dest)
        _STAGED[k] = dest
    return dest


def stage_files(
    spark: SparkSession,
    key: str,
    rows: DataFrame,
    to_file: Callable[..., tuple[str, bytes] | None],
) -> str:
    """Write one file per row of ``rows`` into a :func:`stage_dir` for
    ``key`` and return it. ``to_file(row)`` gives the ``(file name,
    bytes)`` pair, or None to skip the row."""

    def fill(dest: str) -> None:
        def write(part):
            for r in part:
                out = to_file(r)
                if out is not None:
                    with open(os.path.join(dest, out[0]), "wb") as fh:
                        fh.write(out[1])

        rows.foreachPartition(write)

    return stage_dir(spark, key, fill)


@atexit.register
def _remove_staged() -> None:
    for d in _OWNED:
        shutil.rmtree(d, ignore_errors=True)


def _document_file(r):
    # the filename IS the address: id and payload are both required
    if r["doc_id"] is None or r["text"] is None:
        return None
    ext = "jpg" if r["doc_id"] % 2 == 0 else "tif"
    return f"{r['doc_id']}.{ext}", r["text"].encode("utf-8")


def stage_documents(spark: SparkSession, sf_dir: str) -> str:
    """The image landing zone: one ``<doc_id>.jpg|tif`` blob per
    documents row (``.jpg`` for even ids) holding the row's text. The
    key fingerprints documents.parquet (size and mtime of every member
    file), so a table regenerated mid-application is staged afresh."""
    src = os.path.join(sf_dir, "documents.parquet")
    fp = [sf_dir]
    for p in sorted([src] + glob_mod.glob(os.path.join(src, "**"), recursive=True)):
        try:
            st = os.stat(p)
        except OSError:
            continue
        fp.append(f"{p}:{st.st_size}:{st.st_mtime_ns}")
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    return stage_files(spark, "|".join(fp), docs, _document_file)


def _decode_image_stub(content: bytes, path: str) -> dict:
    """Deterministic fake decode for bytes the TIFF/EXIF walker cannot
    parse: metadata derived from a content digest — stable outputs,
    clearly fake values, reproducible by the oracles."""
    digest = hashlib.md5(content).digest()

    def frac(i: int) -> float:
        return int.from_bytes(digest[i : i + 4], "big") / 2**32

    is_jpg = path.lower().endswith((".jpg", ".jpeg"))
    if is_jpg:
        return {
            "clase": "BR",
            "lat": -35.0 + 2.0 * frac(0),
            "lon": -72.0 + 2.0 * frac(4),
            "gt": None,
            "cols": None,
            "rows": None,
        }
    return {
        "clase": "TIF",
        "lat": None,
        "lon": None,
        "gt": [200000.0 + 1000 * frac(0), 0.5, 0.0, 6000000.0 + 1000 * frac(4), 0.0, -0.5],
        "cols": 1000 + int(frac(8) * 1000),
        "rows": 1000 + int(frac(12) * 1000),
    }


def _decode_image(content: bytes, path: str) -> dict:
    """Per-row decode dispatch, two tiers: the stdlib TIFF/EXIF parser
    (functions.tiff — EXIF GPS for ``.jpg``/``.jpeg``, geotransform and
    dims otherwise), then the deterministic digest stub. Mirrors the
    reference's try/except dispatch (script_geo.py:167-175) so a corrupt
    blob degrades instead of failing the task — and keeps the digest-twin
    oracle valid on synthetic (non-image) fixtures."""
    from ..functions import tiff as _tiff

    if content is None:  # missing payload → all-NULL metadata row
        return {
            "clase": None,
            "lat": None,
            "lon": None,
            "gt": None,
            "cols": None,
            "rows": None,
        }
    content = bytes(content)
    if path.lower().endswith((".jpg", ".jpeg")):
        gps = _tiff.parse_exif_gps(content)
        if gps is not None:
            return {
                "clase": "BR",
                "lat": gps[0],
                "lon": gps[1],
                "gt": None,
                "cols": None,
                "rows": None,
            }
    else:
        meta = _tiff.parse_tiff_meta(content)
        if meta is not None:
            return {
                "clase": "TIF",
                "lat": None,
                "lon": None,
                "gt": meta[0],
                "cols": meta[1],
                "rows": meta[2],
            }
    return _decode_image_stub(content, path)


def extract_image_meta(binary_df: DataFrame) -> DataFrame:
    """S7+S8+P6 as one Arrow-batched mapInPandas pass.

    Emits the ``images`` fixture shape (FIXTURES.md §B): clase dispatch,
    EXIF lat/lon for 'BR', geotransform + dims for 'TIF'.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            metas = [
                _decode_image(c, p) for c, p in zip(pdf["content"], pdf["path"])
            ]
            out = pd.DataFrame(metas)
            out.insert(0, "length", pdf["length"].values)
            out.insert(0, "path", pdf["path"].values)
            yield out

    return binary_df.select("path", "length", "content").mapInPandas(
        batches, IMAGE_META_SCHEMA
    )


def content_key(df: DataFrame) -> DataFrame:
    """S12 fixed: TRUE content-addressed key ``md5(content)`` (the reference
    hashes ``os.urandom(32)`` — download_list_images.py:45, §2.11 bug 5)."""
    return df.withColumn("content_key", F.md5(F.col("content")))


# ---- north-star multimodal stubs (resize / frame-sample / audio) -------
#
# The package depends on no pixel, video or audio decoder. Each stub derives
# deterministic output from an md5 of the payload, written with Spark
# built-ins (a real decoder would be a byte kernel like
# extract_image_meta). A NULL payload gives NULL values, as md5(NULL) does.


def resize_images(binary_df: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Image resize: ``(path, content)`` in, ``(path, width, height,
    thumb)`` out. The thumbnail is the digest-slice stub: ``md5(content)``
    repeated and cut to ``width*height`` bytes, cut in hex space (two
    hex digits per byte)."""
    n = width * height
    thumb = F.unhex(F.substring(F.repeat(F.md5("content"), n // 16 + 1), 1, 2 * n))
    return binary_df.select(
        "path", F.lit(width).alias("width"), F.lit(height).alias("height"), thumb.alias("thumb")
    )


EXTRACT_SCHEMA = (
    "archive string, member string, size long, content binary, skipped_reason string"
)


def _extract_zip(p: str, b: bytes):
    import zipfile

    zf = zipfile.ZipFile(io.BytesIO(b))
    for info in zf.infolist():
        if info.is_dir():
            continue
        yield (p, info.filename, info.file_size, zf.read(info), None)


def _extract_tar(p: str, b: bytes):
    import tarfile

    # mode 'r:*' sniffs plain/gz/bz2/xz compression from the stream
    tf = tarfile.open(fileobj=io.BytesIO(b), mode="r:*")
    for info in tf.getmembers():
        if not info.isfile():
            continue
        f = tf.extractfile(info)
        yield (p, info.name, info.size, f.read() if f else b"", None)


def _extract_7z(p: str, b: bytes):
    from .sevenzip import read_7z

    for name, content in read_7z(b):
        yield (p, name, len(content), content, None)


def extract_archives(binary_df: DataFrame) -> DataFrame:
    """S2: archive extract as a one-to-many mapInPandas kernel — the
    reference's patoolib ``extract_files`` extract-then-delete loop
    (download_list_images.py:27-30) without ever touching local disk:
    archive bytes in, one row per member out.

    REAL stdlib implementations: zip (zipfile), tar/tar.gz/tbz2/txz
    (tarfile with compression sniffing), and 7z (sevenzip.py — the
    container format parsed from the published spec over stdlib
    lzma/bz2/zlib: Copy/LZMA1/LZMA2/BZip2/Deflate/Delta coders, solid
    folders, encoded headers, CRC checks), dispatched by magic bytes
    then by attempt. An archive no handler can open yields ONE row with
    ``skipped_reason`` set and null member/content — a landing bucket
    with ``.rar`` surfaces in the output instead of silently dropping
    data (the reference's patoolib covered rar too; rar COMPRESSION is
    proprietary, so it stays in the skipped channel).
    """

    def _extract_one(p: str, b: bytes):
        if b is None:  # missing payload → the skipped channel, not a crash
            return [(p, None, None, None, "null payload")]
        b = bytes(b)
        attempts = []
        if b[:4] in (b"PK\x03\x04", b"PK\x05\x06", b"PK\x07\x08"):
            attempts = [_extract_zip, _extract_tar]
        elif b[:6] == b"7z\xbc\xaf\x27\x1c":
            attempts = [_extract_7z]
        else:
            attempts = [_extract_tar, _extract_zip, _extract_7z]
        for fn in attempts:
            try:
                return list(fn(p, b))
            except Exception:
                continue
        return [(p, None, None, None, "unsupported or corrupt archive")]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for p, b in zip(pdf["path"], pdf["content"]):
                rows.extend(_extract_one(p, b))
            yield pd.DataFrame(
                rows,
                columns=["archive", "member", "size", "content", "skipped_reason"],
            )

    return binary_df.select("path", "content").mapInPandas(batches, EXTRACT_SCHEMA)


def sample_frames(binary_df: DataFrame, every_n: int = 10, max_frames: int = 5) -> DataFrame:
    """Video frame sampling: one ``(path, content)`` row becomes
    ``max_frames`` rows ``(path, frame_idx, frame_key)``, frame_idx
    stepping by ``every_n``. Decode stub: each frame is keyed by the
    digest chain ``md5(md5(content) || ':' || frame_idx)`` (a real body
    seeks a demuxer); a NULL payload keeps its rows with a NULL key."""
    frames = binary_df.select(
        "path",
        F.md5("content").alias("digest"),
        F.explode(
            F.sequence(F.lit(0), F.lit((max_frames - 1) * every_n), F.lit(every_n))
        ).alias("frame_idx"),
    )
    key = F.md5(F.concat("digest", F.lit(":"), F.col("frame_idx").cast("string")))
    return frames.select("path", "frame_idx", key.alias("frame_key"))


def audio_features(df: DataFrame) -> DataFrame:
    """Audio features, the third modality next to image resize and frame
    sampling: ``(doc_id, text)`` in, ``(doc_id, n_frames, first_rms,
    total_rms)`` out. The ``text`` column stands in for a PCM payload,
    cut into fixed 1000-CHARACTER frames (one empty frame for empty
    text), and each frame's "RMS" is the stub ``first 8 hex digits of
    md5(frame) mod 1e6`` (a real body decodes PCM with an audio library
    the package does not depend on). NULL text gives NULL features."""
    length = F.length("text")
    n = F.when(length == 0, 1).otherwise(F.ceil(length / 1000)).cast("int")
    rms = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.conv(
            F.substring(F.md5(F.col("text").substr(i * 1000 + 1, F.lit(1000))), 1, 8), 16, 10
        ).cast("bigint")
        % 1_000_000,
    )
    # n_frames is n itself, not size(rms): size(NULL) is -1 outside ANSI mode
    feats = df.select("doc_id", n.alias("n_frames"), rms.alias("rms"))
    return feats.select(
        "doc_id",
        "n_frames",
        F.col("rms")[0].alias("first_rms"),
        F.aggregate("rms", F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias("total_rms"),
    )
