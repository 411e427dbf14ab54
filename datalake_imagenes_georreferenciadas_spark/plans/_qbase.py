"""The operator-coverage query registry (SURVEY §2 → driver contract).

Every implemented operator lands here as a named (spark_fn, oracle_sql)
pair; ``__spark_entry__.py`` re-exports them. Conventions:

- each spark fn takes ``(spark, sf_dir)`` and returns a DataFrame;
- every computed column is aliased identically in Spark and SQL (the
  driver's value-hash sorts columns by name);
- double aggregates go through ``decimal(18,4)`` partial sums (order-
  independent, so Spark's partition-parallel sum and DuckDB's sequential
  sum agree bit-exactly) and come back as doubles;
- unit-scale floats (cosines, scores) are rounded to 6 decimals on both
  sides, money-scale to 2;
- timestamps leave the plan as epoch BIGINTs where a window start is part
  of the result (cross-engine timestamp hashing is not worth the risk).
"""

from __future__ import annotations

import math
import os
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from ..catalog.store import CatalogStore
from ..functions import dsum, dsum_sql
from ..functions import geo as GEO
from ..functions import hashing as H
from ..functions import text as TX
from ..functions import vectors as V
from ..functions.geo import affine_extent
from ..functions.strings import composite_key, parse_model_filename, path_parts
from ..operators import dedup as D
from ..operators import similarity as SIM
from ..operators.sessionize import sessionize, sliding_window_agg, tumbling_window_agg
from ..operators.spatial import classify_points, contains_join, contains_join_grid, nearest_vertex_join
from ..operators.topk import argmin_per_group, topk_per_group
from ..sources.binary import scratch_dir, stage_dir
from ..tables import local_frame, norm_event_ts, spread, table
from . import geo_fixture as GF
from .flagship import FLAGSHIP_ORACLE_SQL, catalog_filtered_join

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def events_stream(spark: SparkSession, sf_dir: str, copies: int = 1) -> tuple[DataFrame, str]:
    """The events table as a file-stream source: ``(stream, dir)``.

    The raw file schema may hold ``ts`` as INT64 nanos, so the stream
    reads it as long and then normalizes ``ts`` exactly as the batch
    path does (:func:`tables.norm_event_ts`). The file stream source
    wants a directory, so the events file is symlinked ``copies`` times
    into one (two copies replay every event: an at-least-once
    upstream). The dir is staged once per Spark application, ``sf_dir``
    and ``copies``, and removed at exit. Pass it to :func:`drain` so
    the run sizes its partitions from the input."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = os.path.join(sf_dir, "events.parquet")

    def link(d: str) -> None:
        for i in range(copies):
            os.symlink(src, os.path.join(d, f"{i}.parquet"))

    d = stage_dir(spark, ("events_stream", sf_dir, copies), link)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(d)
    return norm_event_ts(stream), d


def shard_stream(spark: SparkSession, path: str) -> DataFrame:
    """The parquet files under ``path`` as a file stream read one file
    per micro-batch (maxFilesPerTrigger=1), so a sharded fixture drives
    a real multi-batch trajectory instead of one degenerate batch."""
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def _stream_partitions(spark: SparkSession, sources: tuple[str, ...]) -> int:
    """Shuffle/state-store partition count for a one-shot availableNow
    streaming replay, derived from the size of its ``sources`` (staged
    stream dirs or files; symlinks are followed, since the fixtures
    symlink the parquet inputs) instead of the session constant (r19;
    guide §2.2 "fewer, larger partitions" + the §2 directive to make
    partitioning scale-adaptive). Streaming aggregations get NO AQE
    coalescing, so every micro-batch commits one state-store instance
    per shuffle partition — at the bench's few-MB fixtures a fixed 32
    means 32 near-empty state commits per batch, and a stream-stream
    join keeps one join-state store per shuffle partition PER SIDE, so
    there it meant 64 (measured: streaming_stream_join 5.9 s → 2.2 s,
    append_windows' 4 micro-batches 7.5 s → 3.5 s at the derived value,
    results hash-identical). The derived count also sizes the shuffles
    that foreachBatch merges and state writes run per batch. One
    partition per ~64 MB of input, floored at 4 for pipeline overlap,
    capped at 4× the session parallelism (past that, per-task state is
    bounded by input splitting anyway) — on a 100 TB replay the derived
    value grows to the cap, scaling with the cluster."""
    n = 0
    for p in sources:
        if os.path.isfile(p):
            n += os.path.getsize(p)
            continue
        for root, _dirs, files in os.walk(p, followlinks=True):
            for f in files:
                try:
                    n += os.path.getsize(os.path.join(root, f))
                except OSError:
                    pass
    cores = spark.sparkContext.defaultParallelism
    return max(4, min(4 * cores, math.ceil(max(n, 1) / (64 << 20))))


def _run_available_now(
    spark: SparkSession, writer: DataStreamWriter, sources: tuple[str, ...]
) -> None:
    """Start ``writer`` with an availableNow trigger and wait for it to
    finish, with ``spark.sql.shuffle.partitions`` set from ``sources``
    for the run only: the session value comes back afterwards, also when
    the stream fails, so the surrounding batch queries keep their own
    setting."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(_stream_partitions(spark, sources)))
    try:
        writer.trigger(availableNow=True).start().awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def drain(df: DataFrame, mode: str, *sources: str) -> DataFrame:
    """Run the streaming ``df`` over all the input its source holds now
    (availableNow) into a memory sink in output ``mode``, and return the
    sink's rows. The sink's session view is dropped once the frame has
    resolved, so calls add no views; the frame still reads every row.
    ``sources`` size the run's partitions (:func:`_stream_partitions`)."""
    spark = df.sparkSession
    name = f"drain_{uuid.uuid4().hex[:8]}"
    writer = df.writeStream.outputMode(mode).format("memory").queryName(name)
    _run_available_now(spark, writer, sources)
    out = spark.table(name)
    spark.catalog.dropTempView(name)
    return out


def drain_batches(df: DataFrame, fn: Callable[[DataFrame, int], None], *sources: str) -> None:
    """Run the streaming ``df`` over all the input its source holds now
    (availableNow), handing each micro-batch to ``fn(batch_df,
    batch_id)`` (foreachBatch), checkpointed in a fresh
    :func:`scratch_dir`. ``sources`` size the run's partitions
    (:func:`_stream_partitions`)."""
    writer = df.writeStream.foreachBatch(fn).option("checkpointLocation", scratch_dir("ckpt_"))
    _run_available_now(df.sparkSession, writer, sources)


def publish_state(df: DataFrame, state_dir: str) -> None:
    """Copy-on-write state table step: write ``df`` as a new version dir
    under ``state_dir`` and re-point the ``cur`` symlink to it. The flip
    is atomic-ish — the new link is made beside the old one and renamed
    over it, so a reader of ``cur`` sees the old or the new version."""
    nxt = os.path.join(state_dir, f"v_{uuid.uuid4().hex[:8]}")
    df.write.parquet(nxt)
    tmp = os.path.join(state_dir, "cur.tmp")
    if os.path.islink(tmp):
        os.unlink(tmp)
    os.symlink(nxt, tmp)
    os.replace(tmp, os.path.join(state_dir, "cur"))


def documents_catalog(spark: SparkSession, sf_dir: str) -> CatalogStore:
    """A fresh :class:`CatalogStore` in a per-call :func:`scratch_dir`
    holding one run (``id_proceso`` 0) that inserted every document as a
    catalog row: ``indice`` ``C<doc_id % 10>_<lang>_X_A``, ``ruta_resultado``
    ``lake/BR/C<doc_id % 10>/<doc_id>.jpg`` (so ids follow
    ``row_number`` over that pair) and ``id_tipo_img`` 0 for even
    ``doc_id``, 3 for odd."""
    codigo = F.concat(F.lit("C"), (F.col("doc_id") % 10).cast("string"))
    rows = table(spark, sf_dir, "documents").select(
        F.concat_ws("_", codigo, F.col("lang"), F.lit("X"), F.lit("A")).alias("indice"),
        codigo.alias("codigo"),
        F.upper(F.col("source")).alias("nombre_predio"),
        F.col("lang").alias("seccion"),
        F.col("source").alias("especie"),
        F.lit("A").alias("apl"),
        F.when(F.col("doc_id") % 2 == 0, 0).otherwise(3).cast("int").alias("id_tipo_img"),
        F.lit(0).cast("int").alias("id_proceso"),
        F.concat(
            F.lit("lake/BR/"), codigo, F.lit("/"), F.col("doc_id").cast("string"), F.lit(".jpg")
        ).alias("ruta_resultado"),
        F.current_timestamp().alias("fecha"),
    )
    store = CatalogStore(spark, scratch_dir("catalog_"))
    store.insert_catalog(rows, store.start_run(0))
    return store
