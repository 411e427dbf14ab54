"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource``): an
``exifscan`` format that reads a directory of images as a TYPED table —
path, size, kind, EXIF GPS coordinates for JPEGs, dimensions +
geotransform origin for GeoTIFFs — using the pure-stdlib TIFF codec
(functions/tiff.py). The Spark-4-native way to expose a bespoke scan
(the reference's per-image Python loop, script_geo.py:166-205) as a
first-class source: the planner asks ``partitions()`` once on the
driver (file list chunked into splits), each split's ``read()`` runs on
an executor, and the scan parallelizes like any other table.

Contrast with ``binaryFile`` + ``mapInPandas`` (sources/binary.py):
that path ships whole blobs through an Arrow exchange before decoding;
this one decodes INSIDE the scan and emits only the typed metadata —
at 100 TB of imagery, the difference between shuffling bytes and
shuffling rows.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: splits per scan: the file list is dealt round-robin into this many
SPLITS = 8

EXIFSCAN_SCHEMA = (
    "path string, length bigint, kind string, lat double, lon double, "
    "cols int, rows int, x0 double, y0 double"
)


class _FileSplit(InputPartition):
    def __init__(self, files: list[str]):
        self.files = files


class ExifScanReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")

    def partitions(self):
        files = sorted(
            os.path.join(self.path, f)
            for f in os.listdir(self.path)
            if f.lower().endswith((".jpg", ".jpeg", ".tif", ".tiff"))
        )
        n = max(1, min(SPLITS, len(files)))
        return [_FileSplit(files[i::n]) for i in range(n)]

    def read(self, partition: _FileSplit):
        # executor-side: decode inside the scan, emit typed rows only
        from ..functions.tiff import image_meta

        for path in partition.files:
            with open(path, "rb") as fh:
                blob = fh.read()
            m = image_meta(blob, path)
            if m is None:
                yield (path, len(blob), "RAW", None, None, None, None, None, None)
            else:
                gt = m["gt"] or (None,) * 4
                yield (path, len(blob), m["clase"], m["lat"], m["lon"],
                       m["cols"], m["rows"], gt[0], gt[3])


class ExifScanDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "exifscan"

    def schema(self) -> str:
        return EXIFSCAN_SCHEMA

    def reader(self, schema) -> ExifScanReader:
        return ExifScanReader(self.options)


def register_exifscan(spark) -> None:
    """Idempotent registration of the ``exifscan`` format."""
    spark.dataSource.register(ExifScanDataSource)
