"""datalake_imagenes_georreferenciadas_spark — a PySpark-native analytics engine.

A brand-new, idiomatic-Spark engine with the query and data-processing
capabilities of the reference repo ``aguinez/datalake_imagenes_georreferenciadas``
(a georeferenced-imagery datalake pipeline: object-store ingest, EXIF/raster
georeferencing, point-in-polygon classification with nearest-neighbor
fallback, and a relational catalog with run + lineage tables), re-expressed
as DataFrame/SQL plans over Parquet, plus LLM-data-pipeline extensions
(dedup, similarity search, multimodal columns, text analysis) designed for
100 TB scale.

Blueprint: /root/repo/SURVEY.md. Subpackages:

- ``session``    — tuned SparkSession bootstrap
- ``tables``     — testdata table loading
- ``functions``  — scalar/column function library (strings, geo, text,
                   vectors, cross-engine hashing)
- ``operators``  — composed plan shapes (dedup, similarity, spatial joins,
                   top-k, sessionization)
- ``catalog``    — the reference's catalog/runs/lineage data model on Parquet
- ``sources``    — binaryFile & file readers/sinks, filename codecs
- ``streaming``  — Structured Streaming ingest & windowed aggregation
- ``plans``      — headline query definitions shared by tests and bench
"""

__version__ = "0.1.0"
