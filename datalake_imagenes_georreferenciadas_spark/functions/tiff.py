"""Pure-stdlib TIFF / EXIF / GeoTIFF metadata codec (SURVEY S7/S8).

The reference extracts EXIF GPS from JPEGs (``gpsphoto.getGPSData``,
script_geo.py:170-171) and geotransforms from GeoTIFFs
(``gdal.Open(...).GetGeoTransform()``, script_geo.py:176-179). The
METADATA layer of both formats is plain TIFF tag structure (byte-order
header + IFD entry walk + typed values), fully parseable with
``struct``:

- a JPEG's EXIF block is a TIFF stream embedded in the APP1 segment;
  GPS coordinates live in a GPS sub-IFD as RATIONAL triples (deg, min,
  sec);
- a GeoTIFF's georeferencing is two DOUBLE-array tags
  (ModelPixelScale 33550, ModelTiepoint 33922) next to the standard
  ImageWidth/ImageLength tags.

So S7/S8 need no image library: these parsers, behind the one BR/TIF
dispatch :func:`image_meta`, are the engine's metadata decoder (the
``binaryFile`` kernel and the ``exifscan`` source) and run the real
byte-level extraction in both byte orders. The writers emit minimal
spec-shaped files (sorted IFD tags, correct offsets) so fixtures
exercise the parsers end-to-end with deterministic, oracle-computable
coordinates.
"""

from __future__ import annotations

import struct

# TIFF value types used here
_ASCII = 2
_SHORT = 3
_LONG = 4
_RATIONAL = 5
_DOUBLE = 12

_TAG_WIDTH = 256
_TAG_LENGTH = 257
_TAG_GPS_IFD = 34853
_TAG_MODEL_PIXEL_SCALE = 33550
_TAG_MODEL_TIEPOINT = 33922

_GPS_LAT_REF = 1
_GPS_LAT = 2
_GPS_LON_REF = 3
_GPS_LON = 4


# ----------------------------------------------------------------------
# writers (fixtures)
# ----------------------------------------------------------------------


def _ifd(entries: list[tuple[int, int, int, bytes | int]], base: int) -> bytes:
    """Assemble one little-endian IFD at absolute offset ``base`` within
    the TIFF stream. Each entry is (tag, type, count, value): an ``int``
    value is packed inline; a ``bytes`` value is appended after the IFD
    and referenced by offset. Tags are sorted as the spec requires."""
    entries = sorted(entries)
    head = struct.pack("<H", len(entries))
    tail_off = base + 2 + 12 * len(entries) + 4
    body = b""
    tail = b""
    for tag, typ, count, value in entries:
        if isinstance(value, int):
            field = struct.pack("<I", value)
        elif len(value) <= 4:
            field = value.ljust(4, b"\x00")
        else:
            field = struct.pack("<I", tail_off + len(tail))
            tail += value
        body += struct.pack("<HHI", tag, typ, count) + field
    return head + body + struct.pack("<I", 0) + tail


def _rational3(d: int, m: int, s_num: int, s_den: int) -> bytes:
    return struct.pack("<6I", d, 1, m, 1, s_num, s_den)


def write_jpeg_exif_gps(
    lat_dms: tuple[int, int, int, int],
    lon_dms: tuple[int, int, int, int],
    south: bool,
    west: bool,
) -> bytes:
    """Minimal JPEG carrying a real EXIF GPS IFD: SOI + APP1(Exif TIFF
    stream: IFD0 → GPS sub-IFD with Ref/Lat/Lon tags) + EOI. DMS values
    are (deg, min, sec_num, sec_den) rationals, exactly as cameras write
    them."""
    # GPS IFD sits right after IFD0: header(8) + IFD0(2 + 12 + 4 = 18)
    gps_off = 8 + 18
    ifd0 = _ifd([(_TAG_GPS_IFD, _LONG, 1, gps_off)], base=8)
    gps = _ifd(
        [
            (_GPS_LAT_REF, _ASCII, 2, (b"S\x00" if south else b"N\x00")),
            (_GPS_LAT, _RATIONAL, 3, _rational3(*lat_dms)),
            (_GPS_LON_REF, _ASCII, 2, (b"W\x00" if west else b"E\x00")),
            (_GPS_LON, _RATIONAL, 3, _rational3(*lon_dms)),
        ],
        base=gps_off,
    )
    tiff = b"II" + struct.pack("<HI", 42, 8) + ifd0 + gps
    exif = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(exif) + 2) + exif
    return b"\xff\xd8" + app1 + b"\xff\xd9"


def write_geotiff(
    cols: int, rows: int, origin_x: float, origin_y: float, px: float, py: float
) -> bytes:
    """Minimal GeoTIFF: TIFF header + one IFD with dimensions and the
    two georeferencing DOUBLE-array tags (pixel scale + tiepoint
    (0,0,0 → origin)), the exact tags GDAL derives GetGeoTransform
    from."""
    scale = struct.pack("<3d", px, py, 0.0)
    tiepoint = struct.pack("<6d", 0.0, 0.0, 0.0, origin_x, origin_y, 0.0)
    ifd = _ifd(
        [
            (_TAG_WIDTH, _LONG, 1, cols),
            (_TAG_LENGTH, _LONG, 1, rows),
            (_TAG_MODEL_PIXEL_SCALE, _DOUBLE, 3, scale),
            (_TAG_MODEL_TIEPOINT, _DOUBLE, 6, tiepoint),
        ],
        base=8,
    )
    return b"II" + struct.pack("<HI", 42, 8) + ifd


# ----------------------------------------------------------------------
# parsers (the real S7/S8 metadata kernels)
# ----------------------------------------------------------------------


def _read_ifd(data: bytes, off: int, bo: str) -> dict[int, tuple[int, int, int]]:
    """tag → (type, count, value_or_offset_field_position). The caller
    resolves typed values lazily via _tag_values."""
    if off + 2 > len(data):
        return {}
    (n,) = struct.unpack_from(bo + "H", data, off)
    out = {}
    for i in range(n):
        ent = off + 2 + 12 * i
        if ent + 12 > len(data):
            break
        tag, typ, count = struct.unpack_from(bo + "HHI", data, ent)
        out[tag] = (typ, count, ent + 8)
    return out


def _tag_values(data: bytes, bo: str, typ: int, count: int, field_pos: int):
    """Decode a tag's values; the 4-byte field holds the data inline when
    it fits, else an offset into the TIFF stream."""
    sizes = {_ASCII: 1, _SHORT: 2, _LONG: 4, _RATIONAL: 8, _DOUBLE: 8}
    size = sizes.get(typ)
    if size is None:
        return None
    total = size * count
    if total <= 4:
        pos = field_pos
    else:
        (pos,) = struct.unpack_from(bo + "I", data, field_pos)
    if pos + total > len(data):
        return None
    if typ == _ASCII:
        raw = data[pos : pos + count]
        return raw.split(b"\x00")[0].decode("ascii", "replace")
    if typ == _SHORT:
        return list(struct.unpack_from(bo + f"{count}H", data, pos))
    if typ == _LONG:
        return list(struct.unpack_from(bo + f"{count}I", data, pos))
    if typ == _DOUBLE:
        return list(struct.unpack_from(bo + f"{count}d", data, pos))
    if typ == _RATIONAL:
        flat = struct.unpack_from(bo + f"{2 * count}I", data, pos)
        return [
            (flat[2 * i], flat[2 * i + 1]) for i in range(count)
        ]
    return None


def _tiff_byte_order(data: bytes) -> str | None:
    if data[:2] == b"II":
        return "<"
    if data[:2] == b"MM":
        return ">"
    return None


def parse_exif_gps(data: bytes) -> tuple[float, float] | None:
    """Walk JPEG markers to APP1/Exif, then the TIFF IFD chain to the
    GPS sub-IFD; return signed decimal (lat, lon) from the DMS rationals
    — the pure-stdlib body of the reference's gpsphoto.getGPSData
    (script_geo.py:170-171). None when the bytes aren't a JPEG or carry
    no GPS."""
    try:
        return _parse_exif_gps(data)
    except (struct.error, IndexError, ValueError):
        # arbitrary bytes must degrade to None, never fail the task
        return None


def _parse_exif_gps(data: bytes) -> tuple[float, float] | None:
    if data[:2] != b"\xff\xd8":
        return None
    pos = 2
    tiff = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            break
        marker = data[pos + 1]
        if marker in (0xD8, 0xD9) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (seg_len,) = struct.unpack_from(">H", data, pos + 2)
        if marker == 0xE1 and data[pos + 4 : pos + 10] == b"Exif\x00\x00":
            tiff = data[pos + 10 : pos + 2 + seg_len]
            break
        if marker == 0xDA:  # start of scan — no APP1 before image data
            break
        pos += 2 + seg_len
    if not tiff or len(tiff) < 8:
        return None
    bo = _tiff_byte_order(tiff)
    if bo is None:
        return None
    (ifd0_off,) = struct.unpack_from(bo + "I", tiff, 4)
    ifd0 = _read_ifd(tiff, ifd0_off, bo)
    if _TAG_GPS_IFD not in ifd0:
        return None
    gps_ptr = _tag_values(tiff, bo, *ifd0[_TAG_GPS_IFD])
    if not gps_ptr:
        return None
    gps = _read_ifd(tiff, int(gps_ptr[0]), bo)

    def dms(tag: int, ref_tag: int, neg_ref: str) -> float | None:
        if tag not in gps or ref_tag not in gps:
            return None
        vals = _tag_values(tiff, bo, *gps[tag])
        ref = _tag_values(tiff, bo, *gps[ref_tag])
        if not vals or len(vals) != 3 or not isinstance(ref, str):
            return None
        try:
            d, m, s = (n / dd for n, dd in vals)
        except ZeroDivisionError:
            return None
        out = d + m / 60.0 + s / 3600.0
        return -out if ref == neg_ref else out

    lat = dms(_GPS_LAT, _GPS_LAT_REF, "S")
    lon = dms(_GPS_LON, _GPS_LON_REF, "W")
    if lat is None or lon is None:
        return None
    return lat, lon


def parse_tiff_meta(data: bytes) -> tuple[list[float], int, int] | None:
    """GeoTIFF geotransform + dimensions from the first IFD — the
    pure-stdlib body of the reference's GetGeoTransform
    (script_geo.py:176-179). Returns ([x0, px, 0, y0, 0, -py], cols,
    rows) from ModelPixelScale + ModelTiepoint, or None when the bytes
    aren't a TIFF or lack georeferencing."""
    try:
        return _parse_tiff_meta(data)
    except (struct.error, IndexError, ValueError):
        # arbitrary bytes must degrade to None, never fail the task
        return None


def _parse_tiff_meta(data: bytes) -> tuple[list[float], int, int] | None:
    bo = _tiff_byte_order(data)
    if bo is None or len(data) < 8:
        return None
    (magic,) = struct.unpack_from(bo + "H", data, 2)
    if magic != 42:
        return None
    (ifd_off,) = struct.unpack_from(bo + "I", data, 4)
    ifd = _read_ifd(data, ifd_off, bo)
    need = (_TAG_WIDTH, _TAG_LENGTH, _TAG_MODEL_PIXEL_SCALE, _TAG_MODEL_TIEPOINT)
    if any(t not in ifd for t in need):
        return None
    cols = _tag_values(data, bo, *ifd[_TAG_WIDTH])
    rows = _tag_values(data, bo, *ifd[_TAG_LENGTH])
    scale = _tag_values(data, bo, *ifd[_TAG_MODEL_PIXEL_SCALE])
    tie = _tag_values(data, bo, *ifd[_TAG_MODEL_TIEPOINT])
    if not cols or not rows or not scale or not tie or len(tie) < 6:
        return None
    px, py = float(scale[0]), float(scale[1])
    # tiepoint (i, j, k, x, y, z): raster (i, j) pins world (x, y)
    x0 = float(tie[3]) - float(tie[0]) * px
    y0 = float(tie[4]) + float(tie[1]) * py
    return [x0, px, 0.0, y0, 0.0, -py], int(cols[0]), int(rows[0])


def image_meta(data: bytes, path: str) -> dict | None:
    """P6 type dispatch (script_geo.py:167-175): a ``.jpg``/``.jpeg`` is
    class BR with its EXIF GPS, anything else class TIF with its
    geotransform and dims. None when the bytes do not parse; each caller
    picks its own fallback (``sources.binary``: the digest stub, the
    ``exifscan`` reader: kind RAW)."""
    if path.lower().endswith((".jpg", ".jpeg")):
        gps = parse_exif_gps(data)
        if gps is None:
            return None
        return {"clase": "BR", "lat": gps[0], "lon": gps[1], "gt": None, "cols": None, "rows": None}
    meta = parse_tiff_meta(data)
    if meta is None:
        return None
    return {"clase": "TIF", "lat": None, "lon": None, "gt": meta[0], "cols": meta[1], "rows": meta[2]}
