"""Streaming ingest: the reference's poll-the-bucket loop, done right.

The reference's "list landing bucket → process all of it → record a run"
(download_list_images.py:17-25 + mysql_process.py:28-43) is a hand-rolled
micro-batch file stream with no restart safety: a crash between upload and
catalog insert double-processes files (its insert even swallows errors —
mysql_process.py:59-60). The Spark shape:

- ``readStream.format("parquet")`` with a checkpoint dir →
  the source itself tracks which files are done (replaces download +
  ``del_files`` lifecycle, S4).
- ``foreachBatch(fn)`` → ``batchId`` keys the run row (``ID_EJECUCION``
  provenance): replaying a micro-batch reuses the existing run id
  (``start_run(batch_id=...)``) and the catalog anti-join drops the
  already-inserted rows → exactly-once catalog/run/lineage bookkeeping.
- late/duplicate files → within-batch ``dropDuplicates`` on the content
  path, then anti-join vs the catalog inside the batch fn.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog.store import CatalogStore


def start_file_ingest(
    spark: SparkSession,
    source_dir: str,
    checkpoint_dir: str,
    store: CatalogStore,
    schema,
    to_catalog_rows: Callable[[DataFrame], DataFrame],
):
    """Run a checkpointed parquet file-source stream that lands each
    micro-batch in the catalog with run + lineage rows (process id 0).

    ``to_catalog_rows`` maps the raw batch to CATALOG columns (minus id).
    Returns the StreamingQuery; callers use ``processAllAvailable()`` in
    tests / ``awaitTermination()`` in production.
    """
    stream = spark.readStream.format("parquet").schema(schema).load(source_dir)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        # batchId IS the replay key: a crash between insert and checkpoint
        # commit re-delivers this batch, start_run finds the existing run
        # row for the batchId and reuses its id — runs stay exactly-once.
        run_id = store.start_run(0, batch_id=batch_id)
        # within-batch dedup first (two source files can map to the same
        # ruta_resultado), then the cross-batch guard: anti-join vs the
        # catalog, which on replay also drops everything the first
        # delivery already inserted.
        rows = to_catalog_rows(batch_df).dropDuplicates(["ruta_resultado"])
        fresh = rows.join(
            store.catalog().select("ruta_resultado"), "ruta_resultado", "left_anti"
        )
        store.insert_catalog(fresh, run_id)

    return (
        stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
