"""Multimodal binary columns (SURVEY S1/S7/S8; north-star multimodal ops).

Images/audio/video are opaque ``binary`` columns with typed metadata
structs, read via Spark's ``binaryFile`` source:

    spark.read.format("binaryFile").load(dir)
      → (path, modificationTime, length, content BINARY)

Decode / feature-extract kernels run as Arrow-batched ``mapInPandas``
generators. Image metadata has one decoder: the stdlib TIFF/EXIF walker
(``functions.tiff``) reads EXIF GPS from JPEGs and the geotransform and
dimensions from GeoTIFFs. Bytes it cannot parse (the synthetic landing
zone holds text, not images) get ``_decode_image_stub``, a deterministic
fake derived from the content digest that the oracles replay. Pixel
work (resize, frame sampling, audio features) has no decoder here and
runs as digest stubs with the same Spark-side contract.

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


# ---- north-star multimodal kernels (resize / frame-sample) --------------
#
# No pixel or video decoder is in the environment; the *Spark-side
# contract* — Arrow batch shape, output schema, partition-parallel map — is
# the engine surface. Each stub derives deterministic output from the bytes
# so tests can assert end-to-end through mapInPandas.

RESIZE_SCHEMA = "path string, width int, height int, thumb binary"


def _resize_stub(b: bytes, width: int, height: int) -> bytes:
    """Deterministic fake thumbnail: digest-derived byte slice."""
    t = hashlib.md5(bytes(b)).digest() * ((width * height) // 16 + 1)
    return t[: width * height]


def _resize_one(b: bytes, width: int, height: int) -> bytes | None:
    """Digest-stub thumbnail. A NULL payload (undecoded/missing blob in a
    dirty corpus) yields NULL out, the same null propagation the SQL
    twin's md5(NULL) has."""
    return None if b is None else _resize_stub(b, width, height)


def resize_images(binary_df: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Image resize as an Arrow-batched mapInPandas kernel.

    The thumbnail is the deterministic digest-slice stub; the plumbing
    (batch iteration, binary-in/binary-out, schema) is the real contract
    a pixel decoder would plug into.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "path": pdf["path"],
                    "width": width,
                    "height": height,
                    "thumb": [_resize_one(b, width, height) for b in pdf["content"]],
                }
            )

    return binary_df.select("path", "content").mapInPandas(batches, RESIZE_SCHEMA)


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


FRAME_SCHEMA = "path string, frame_idx int, frame_key string"


def sample_frames(binary_df: DataFrame, every_n: int = 10, max_frames: int = 5) -> DataFrame:
    """Video frame sampling as a one-to-many mapInPandas kernel.

    STUB decode: real body seeks an ffmpeg/PyAV demuxer; here each "frame"
    is keyed by a digest chain so the row-expansion contract (one binary →
    N frame rows) is exercised and deterministic.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            paths, idxs, keys = [], [], []
            for p, b in zip(pdf["path"], pdf["content"]):
                # NULL payload → frames with NULL keys (null-in-null-out,
                # matching the oracle's md5(NULL) = NULL), row fan-out kept
                d = None if b is None else hashlib.md5(bytes(b)).hexdigest()
                for i in range(max_frames):
                    paths.append(p)
                    idxs.append(i * every_n)
                    keys.append(
                        None
                        if d is None
                        else hashlib.md5(f"{d}:{i * every_n}".encode()).hexdigest()
                    )
            yield pd.DataFrame({"path": paths, "frame_idx": idxs, "frame_key": keys})

    return binary_df.select("path", "content").mapInPandas(batches, FRAME_SCHEMA)


AUDIO_FEATURES_SCHEMA = (
    "doc_id long, n_frames int, first_rms long, total_rms long"
)


def _frame_rms_stub(chunk: str) -> int:
    """Deterministic per-frame 'RMS' proxy — STAND-IN for a real audio
    decode (librosa/soundfile aren't in this container): the first 8 hex
    digits of the frame digest as an integer energy. Clearly fake
    values; the real body would decode PCM and compute actual RMS."""
    return int(hashlib.md5(chunk.encode("utf-8")).hexdigest()[:8], 16) % 1_000_000


def audio_features(df: DataFrame) -> DataFrame:
    """Audio feature extraction as an Arrow mapInPandas kernel — the
    third modality next to image resize and video frame-sampling: an
    opaque payload is windowed into fixed-size frames and each frame
    yields a scalar feature, aggregated per document. The Spark-side
    contract (Arrow batch iteration, frame windowing, per-row feature
    reduction, typed output schema) is real; only the per-frame DSP body
    is the documented digest stub. Input is the ``text`` column standing
    in for a PCM payload (frames = fixed 1000-CHARACTER windows so the
    DuckDB oracle can reproduce the windowing exactly)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, nfr, first, total = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                # pd.isna, not `is None`: Arrow hands a null int64 to
                # pandas as float64 NaN
                ids.append(None if pd.isna(doc_id) else int(doc_id))
                if text is None:  # undecodable payload → NULL features
                    nfr.append(None)
                    first.append(None)
                    total.append(None)
                    continue
                chunks = [text[i : i + 1000] for i in range(0, len(text), 1000)] or [""]
                rms = [_frame_rms_stub(c) for c in chunks]
                nfr.append(len(rms))
                first.append(rms[0])
                total.append(sum(rms))
            # nullable pandas dtypes: plain int lists with None infer
            # float64 and NaN→int casts throw at the Arrow boundary
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="Int64"),
                    "n_frames": pd.array(nfr, dtype="Int32"),
                    "first_rms": pd.array(first, dtype="Int64"),
                    "total_rms": pd.array(total, dtype="Int64"),
                }
            )

    return df.select("doc_id", "text").mapInPandas(batches, AUDIO_FEATURES_SCHEMA)
