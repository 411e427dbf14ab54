"""Workload definitions shared by run.py and worker.py."""

#: The measured work of a run is fixed, not timed: the measured passes
#: (lake) and cycles (ingest) are sized for ``--seconds 15`` on a 4-core
#: host, and ``--seconds`` scales them (``scaled``).  A slower commit then
#: takes longer instead of doing less work.
BASE_SECONDS = 15


def scaled(count: int, seconds: int, least: int = 2) -> int:
    return max(least, round(count * seconds / BASE_SECONDS))


#: Lake workloads.  Each run makes one first pass over ``queries`` (the
#: cold cost a cron user pays), then ``passes`` measured passes; every pass
#: runs the queries in a new seeded order.  ``data`` names the dataset
#: run.py builds; set-up touches the ``tables`` the queries read.
LAKE = {
    "lake_sf01": {
        "data": "sf0.1",
        "passes": 2,
        "queries": [
            "catalog_filtered_join",
            "pipeline_geo_ingest",
            "dedup_components",
        ],
        "tables": ["customer", "documents", "nation", "orders"],
    },
}
#: queries that read through the ``sources`` module (binaryFile scan + the
#: mapInPandas EXIF kernel)
SOURCES_QUERIES = {"pipeline_geo_ingest"}

#: Ingest workload: one first cycle on the fresh pipeline, ``INGEST_WARMUP``
#: untimed cycles (steady cycles are reached only after the second), then
#: ``INGEST_CYCLES`` measured ones.
INGEST_IMAGES = 10_000
INGEST_WARMUP = 1
INGEST_CYCLES = 2
INGEST_PICK_SHARE = 0.05
#: storage per row is compared after this many cycles (a fixed snapshot count)
BYTES_AT_CYCLE = 4
RETRIEVAL_INDICE = "C01_S1_R1_A"  # parcel P1's catalog index
POLY_KEEP = ("id_predio", "nombre", "codigo", "seccion", "rodal", "tipouso", "apl")
