"""Parquet-backed catalog / process-run / lineage store (SURVEY M2).

Re-expresses the reference's MySQL metadata layer (mysql_process.py):

- ``CATALOG.CATALOG``          → ``catalog``   (image catalog)
- ``CATALOG.PROC_EJECUCION``   → ``runs``      (process executions)
- ``CATALOG.DETALLE_EJECUCION``→ ``lineage``   (run ↔ image junction)

Layout under ``root`` (a commit log over immutable files, the Delta Lake
shape of Armbrust et al., VLDB 2020, on plain parquet):

- ``data/<uuid>/part-*.parquet`` — immutable catalog data files. A file
  is written once and never changed; it is only deleted by
  ``expire_snapshots`` once no retained log entry lists it.
- ``_log/<N>.json`` — one entry per catalog commit (an insert or a
  MERGE), published put-if-absent (``_write_json``). An entry lists every live
  file of version ``N`` with its row count and min/max ``id`` (read on
  the driver from the parquet footers), the next catalog id, every
  insert's lineage as ``(run id, first id, last id)`` and the commit's
  kind, rows added and rows rewritten. Files a crashed commit wrote are
  listed by no entry, so no read ever sees them.
- ``_runs/r<id>[_b<batch>].json`` — one record per run, also published
  put-if-absent; the file name alone answers the replay lookup and the
  next run id.

So run ids, the next catalog id, ``runs()`` and ``lineage()`` cost no
Spark job: they are directory listings and driver-side JSON, and the two
tables enter Spark as Arrow ``LocalRelation``s.

Design notes vs the reference:

- AUTO_INCREMENT + read-modify-write id allocation (``last_id``,
  mysql_process.py:13-25) is a single-writer bottleneck and a race; ids
  here are allocated per-batch, deterministically and WITHOUT a global
  single-partition window: a per-``indice`` partitioned ``row_number``
  plus cumulative group offsets computed JVM-side over the per-group
  counts — the zipWithIndex pattern (see ``_with_ids``). The ids of one
  insert are the dense range ``base+1 .. base+n``, so its lineage is
  exactly one ``(run, first, last)`` triple.
- Writer concurrency: a commit is put-if-absent, so of two writers
  that both read version ``N - 1`` and then commit ``N``, the second
  gets ``FileExistsError`` and the first writer's entry stands; the
  loser's data files stay unlisted until ``expire_snapshots`` removes
  them. The loser is not retried: it must re-read the log and redo its
  work (Delta's optimistic concurrency, without the automatic retry).
  The same holds for two runs minting one id with the same record name;
  records of one id under different names (``r<N>.json``,
  ``r<N>_b<batch>.json``) both land, so the store still expects one
  run-minting writer at a time (the reference's cron posture — one
  script run per schedule).
- ``update_processed_img`` (mysql_process.py:83-91) row-at-a-time UPDATE →
  a file-level copy-on-write MERGE: only the files whose ``[min, max]``
  id range holds an updated id are rewritten; the rest carry over to the
  new entry by reference.
- the reference swallows insert errors (mysql_process.py:59-60); we don't.
"""

from __future__ import annotations

import bisect
import json
import os
import re
import shutil
import time
import uuid

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import local_frame

CATALOG_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("indice", T.StringType(), True),
        T.StructField("codigo", T.StringType(), True),
        T.StructField("nombre_predio", T.StringType(), True),
        T.StructField("seccion", T.StringType(), True),
        T.StructField("especie", T.StringType(), True),
        T.StructField("apl", T.StringType(), True),
        T.StructField("id_tipo_img", T.IntegerType(), True),
        T.StructField("id_proceso", T.IntegerType(), True),
        T.StructField("ruta_resultado", T.StringType(), True),
        T.StructField("fecha", T.TimestampType(), True),
    ]
)

RUNS_SCHEMA = T.StructType(
    [
        T.StructField("id_ejecucion", T.LongType(), False),
        T.StructField("id_proceso", T.IntegerType(), True),
        T.StructField("fecha", T.TimestampType(), True),
        # streaming provenance: the foreachBatch batchId that produced this
        # run, null for ad-hoc runs. Keyed lookups make run creation
        # idempotent under micro-batch replay (crash between insert and
        # checkpoint commit re-delivers the same batchId).
        T.StructField("batch_id", T.LongType(), True),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("id_ejecucion", T.LongType(), False),
        T.StructField("id_imagen_fuente", T.LongType(), False),
    ]
)

#: one insert's lineage as recorded in the log: its run and id range
_RANGE_SCHEMA = T.StructType(
    [
        T.StructField("id_ejecucion", T.LongType(), False),
        T.StructField("first", T.LongType(), False),
        T.StructField("last", T.LongType(), False),
    ]
)

#: id_tipo_img enum (script_geo.py:168-174, download_list_images.py:103)
TIPO_IMG_RAW_JPG = 0
TIPO_IMG_GEOTIFF = 3
TIPO_IMG_MODEL_OUTPUT = 10

#: id_proceso enum (script_geo.py:164, download_list_images.py:89)
PROCESO_INGEST = 0
PROCESO_MODEL_PUBLISH = 2

_LOG_FILE = re.compile(r"(\d+)\.json")
_RUN_FILE = re.compile(r"r(\d+)(?:_b(-?\d+))?\.json")
#: the entry of a store with no commit yet
_EMPTY = {"files": [], "next_id": 1, "lineage": []}


def _write_json(path: str, obj) -> None:
    """Publish ``obj`` at ``path`` unless a record is already there: write
    a uniquely named temp file, then hard-link it into place. A reader
    sees the whole record or none, and a writer that lost the race for
    ``path`` gets ``FileExistsError`` instead of replacing the record."""
    tmp = os.path.join(os.path.dirname(path), f".{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
    try:
        os.link(tmp, path)
    finally:
        os.remove(tmp)


def _footer(path: str) -> tuple[int, int | None, int | None]:
    """Row count and min/max ``id`` of a parquet file, from its footer."""
    meta = pq.read_metadata(path)
    if meta.num_rows == 0:
        return 0, None, None
    col = meta.schema.names.index("id")
    stats = [meta.row_group(g).column(col).statistics for g in range(meta.num_row_groups)]
    return meta.num_rows, min(s.min for s in stats), max(s.max for s in stats)


class CatalogStore:
    """Catalog + runs + lineage over a commit log of immutable parquet
    files.

    The catalog is VERSIONED: every insert and every MERGE writes new
    data files and then commits one log entry that lists the live files
    of the new version. ``catalog(version=N)`` reads exactly the files
    entry ``N`` lists, so a version never changes once committed (time
    travel), readers never observe a half-written state, and a crash
    before the commit leaves the previous version current and its own
    files unread. ``expire_snapshots`` bounds the history.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        for d in ("data", "_log", "_runs"):
            os.makedirs(os.path.join(root, d), exist_ok=True)

    # ---- paths -----------------------------------------------------------
    def _path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def _files_frame(self, files: list) -> DataFrame:
        """The catalog rows of exactly ``files`` (log file records)."""
        if not files:
            return local_frame(self.spark, [], CATALOG_SCHEMA)
        paths = [self._path(f[0]) for f in files]
        return self.spark.read.schema(CATALOG_SCHEMA).parquet(*paths)

    # ---- catalog versioning ----------------------------------------------
    def catalog_versions(self) -> list[int]:
        names = os.listdir(self._path("_log"))
        return sorted(int(m[1]) for m in map(_LOG_FILE.fullmatch, names) if m)

    def current_version(self) -> int:
        versions = self.catalog_versions()
        return versions[-1] if versions else 0

    def _entry(self, version: int | None = None) -> dict:
        """Log entry ``version`` (default: the newest); a store with no
        commit, or a version that is not in the log, reads as empty."""
        v = self.current_version() if version is None else version
        path = self._path("_log", f"{v}.json")
        if not os.path.exists(path):
            return _EMPTY
        with open(path) as f:
            return json.load(f)

    def _commit(self, op: str, entry: dict, files: list, added: int = 0,
                rewritten: int = 0, ranges: list = ()) -> int:
        """Write the next log entry after ``entry``: ``files`` become the
        live set of the new version, ``ranges`` join its lineage.

        A commit that would list more files than Spark lists on the
        driver (``spark.sql.sources.parallelPartitionDiscovery.threshold``)
        first folds the smallest live files into one, down to half the
        threshold, so a catalog read never starts a listing job."""
        threshold = int(
            self.spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
        )
        if len(files) > threshold:
            fold = sorted(files, key=lambda f: (f[1], f[2]))[: len(files) - threshold // 2 + 1]
            folded = {f[0] for f in fold}
            files = [f for f in files if f[0] not in folded] + self._rewrite(fold)
            rewritten += sum(f[1] for f in fold)
        versions = self.catalog_versions()
        version = versions[-1] + 1 if versions else 0
        _write_json(
            self._path("_log", f"{version}.json"),
            {
                "op": op,
                "rows_added": added,
                "rows_rewritten": rewritten,
                "next_id": entry["next_id"] + added,
                "files": files,
                "lineage": entry["lineage"] + list(ranges),
            },
        )
        return version

    def _write(self, df: DataFrame) -> list:
        """Write ``df`` as new immutable files and return their log
        records ``[path, rows, min id, max id]`` (empty files unlisted)."""
        rel = os.path.join("data", uuid.uuid4().hex)
        df.select([f.name for f in CATALOG_SCHEMA.fields]).write.parquet(self._path(rel))
        files = []
        for name in sorted(os.listdir(self._path(rel))):
            if name.endswith(".parquet"):
                rows, lo, hi = _footer(self._path(rel, name))
                if rows:
                    files.append([os.path.join(rel, name), rows, lo, hi])
        if not files:
            shutil.rmtree(self._path(rel))
        return files

    def _rewrite(self, files: list, ids: list[int] | None = None, new_tipo_img: int = 0) -> list:
        """Copy-on-write: rewrite ``files`` with ``id_tipo_img`` set to
        ``new_tipo_img`` on the rows whose id is in ``ids``; with no
        ``ids``, fold them into one file. Returns the new file records."""
        df = self._files_frame(files)
        if not ids:
            return self._write(df.coalesce(1))
        # the id set is an exact-sized LocalRelation, so the join is
        # planned from its stats (a broadcast while it fits) without a
        # hint; ONE scan + left join with a conditional column keeps
        # every row exactly once and flips only the hits
        hit = local_frame(self.spark, [(i,) for i in ids], "id long").withColumn(
            "__hit", F.lit(1)
        )
        return self._write(
            df.join(hit, "id", "left").withColumn(
                "id_tipo_img",
                F.when(
                    F.col("__hit").isNotNull(), F.lit(new_tipo_img).cast("int")
                ).otherwise(F.col("id_tipo_img")),
            )
        )

    def expire_snapshots(self, keep_last: int) -> list[int]:
        """Delete every log entry older than the newest ``keep_last``
        (Delta VACUUM / Iceberg expire_snapshots), then every data file
        that no retained entry lists (files of expired versions and of
        commits that crashed before their entry); return the removed
        versions. A history of at most ``keep_last`` versions is kept
        whole; the current version is never removed."""
        if keep_last < 1:
            raise ValueError(f"keep_last must be >= 1, got {keep_last}")
        versions = self.catalog_versions()
        removed = versions[:-keep_last]
        for v in removed:
            os.remove(self._path("_log", f"{v}.json"))
        live = {f[0] for v in versions[-keep_last:] for f in self._entry(v)["files"]}
        for d in os.listdir(self._path("data")):
            names = os.listdir(self._path("data", d))
            if not any(os.path.join("data", d, n) in live for n in names):
                shutil.rmtree(self._path("data", d))
                continue
            for n in names:
                if n.endswith(".parquet") and os.path.join("data", d, n) not in live:
                    os.remove(self._path("data", d, n))
                    crc = self._path("data", d, f".{n}.crc")
                    if os.path.exists(crc):
                        os.remove(crc)
        return removed

    # ---- reads -----------------------------------------------------------
    def catalog(self, version: int | None = None) -> DataFrame:
        """The catalog at the newest version, or at any retained
        ``version`` (time travel): exactly the files its entry lists."""
        return self._files_frame(self._entry(version)["files"])

    def _run_files(self) -> list[tuple[int, int | None, str]]:
        """(run id, batch id, file name) of every run record."""
        out = []
        for name in os.listdir(self._path("_runs")):
            m = _RUN_FILE.fullmatch(name)
            if m:
                out.append((int(m[1]), None if m[2] is None else int(m[2]), name))
        return sorted(out)

    def runs(self) -> DataFrame:
        rows = []
        for _, _, name in self._run_files():
            with open(self._path("_runs", name)) as f:
                r = json.load(f)
            rows.append((r["id_ejecucion"], r["id_proceso"], r["fecha_us"], r["batch_id"]))
        return local_frame(self.spark, rows, RUNS_SCHEMA)

    def lineage(self) -> DataFrame:
        """One row per (run, image) pair, expanded from the newest entry's
        ``(run, first id, last id)`` ranges."""
        ranges = [tuple(r) for r in self._entry()["lineage"]]
        return local_frame(self.spark, ranges, _RANGE_SCHEMA).select(
            "id_ejecucion",
            F.explode(F.sequence("first", "last")).alias("id_imagen_fuente"),
        )

    def last_id(self) -> int:
        """A1: max catalog id (the reference's AUTO_INCREMENT peek,
        mysql_process.py:13-25), from the newest log entry."""
        return self._entry()["next_id"] - 1

    # ---- writes ----------------------------------------------------------
    def start_run(self, id_proceso: int, batch_id: int | None = None) -> int:
        """S14: record a run, return its id (mysql_process.py:28-43).

        With ``batch_id`` set (streaming foreachBatch), run creation is
        IDEMPOTENT: a replay of the same micro-batch finds the existing
        run record and reuses its id instead of minting a duplicate —
        the runs table stays exactly-once under crash-replay. Both the
        replay lookup and the next id come from the ``_runs/`` listing."""
        listed = self._run_files()
        replay = [r for r, b, _ in listed if batch_id is not None and b == batch_id]
        if replay:
            return replay[0]
        run_id = (listed[-1][0] if listed else 0) + 1
        name = f"r{run_id}.json" if batch_id is None else f"r{run_id}_b{batch_id}.json"
        _write_json(
            self._path("_runs", name),
            {
                "id_ejecucion": run_id,
                "id_proceso": id_proceso,
                "fecha_us": time.time_ns() // 1000,
                "batch_id": batch_id,
            },
        )
        return run_id

    def _with_ids(self, rows: DataFrame, base: int) -> DataFrame:
        """Dense deterministic ids = ``base`` + global row_number over
        ``(indice, ruta_resultado)`` — allocated WITHOUT funnelling the
        batch through one task (no unpartitioned window over the batch),
        via the zipWithIndex pattern, entirely JVM-side:

        1. ``row_number`` partitioned BY ``indice`` (hash-distributed),
        2. per-``indice`` group counts — a tiny map-side-combined
           aggregate, one row per distinct ``indice``,
        3. exclusive running sum over that AGGREGATE in ``indice`` order
           (NULLS FIRST = Spark's ASC sort) → per-group offsets. This
           window is the plan's only SinglePartition exchange and it
           carries one row per distinct ``indice`` — never the batch —
           so it stays O(#groups) regardless of batch size, and nothing
           is collected to the driver,
        4. offsets broadcast-joined back onto the batch.

        Group-major layout + within-group order by ``ruta_resultado``
        equals the global ``(indice, ruta_resultado)`` ordering, so ids
        match a single global ``row_number`` exactly while every
        batch-side exchange stays hash-partitioned. Skew note: one
        degenerate hot ``indice`` can be subdivided by extending the
        group key with a ``ruta_resultado`` prefix — order-preserving
        because the within-group sort key extends the group key.
        """
        w_local = Window.partitionBy("indice").orderBy("ruta_resultado")
        w_off = Window.orderBy(F.col("indice").asc_nulls_first()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        off = (
            rows.groupBy("indice")
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .select(
                F.col("indice").alias("__gk"),
                F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
            )
        )
        return (
            rows.withColumn("__rn", F.row_number().over(w_local))
            .join(F.broadcast(off), F.col("indice").eqNullSafe(F.col("__gk")))
            .withColumn("id", (F.lit(base) + F.col("__off") + F.col("__rn")).cast("long"))
            .drop("__gk", "__off", "__rn")
        )

    def insert_catalog(self, rows: DataFrame, run_id: int) -> int:
        """S13: append catalog rows + one lineage row each (J6).

        ``rows`` carries the CATALOG columns minus ``id``; ids are
        allocated as ``last_id + row_number over a deterministic order``
        with no read-modify-write per row (unlike mysql_process.py:46-61)
        and no single-partition exchange (``_with_ids``). ``rows`` is
        evaluated twice (group counts + the write) — persist upstream if
        it is expensive to recompute.

        The batch is written as new files and committed as a new
        version. Its ids are the dense range ``last_id+1 .. last_id+n``,
        with ``n`` summed from the new files' footers, so the lineage is
        the one range ``(run_id, last_id+1, last_id+n)`` in the log
        entry: no read-back and no lineage write. Returns the new
        version. A batch with no rows commits no version (a
        duplicate-only trigger or a replay would otherwise push real
        history out of expiry) and returns the current one.
        """
        entry = self._entry()
        base = entry["next_id"] - 1
        written = self._write(self._with_ids(rows, base))
        if not written:
            return self.current_version()
        n = sum(f[1] for f in written)
        return self._commit("insert", entry, entry["files"] + written, added=n,
                            ranges=[[run_id, base + 1, base + n]])

    def update_processed_img(self, new_tipo_img: int, ids: list[int]) -> int:
        """S15: MERGE-shaped state advance (mysql_process.py:83-91).

        File-level copy-on-write: only the live files whose ``[min, max]``
        id range holds an updated id are rewritten (one scan + one left
        join with the id set); every other file carries over to the new
        entry by reference. Readers mid-update keep seeing the previous
        version; a crash before the commit changes nothing. Returns the
        new version.
        """
        if not ids:
            return self.current_version()  # no-op: don't burn a version
        # a repeated id would match its catalog row once per copy
        ids = sorted({int(i) for i in ids})
        entry = self._entry()
        touched, kept = [], []
        for f in entry["files"]:
            i = bisect.bisect_left(ids, f[2])
            (touched if i < len(ids) and ids[i] <= f[3] else kept).append(f)
        new = self._rewrite(touched, ids, new_tipo_img) if touched else []
        return self._commit("merge", entry, kept + new, rewritten=sum(f[1] for f in touched))

    # ---- queries ---------------------------------------------------------
    def filtered_paths(
        self, id_proceso: int, tipo_img: list[int], indice: str
    ) -> DataFrame:
        """The flagship J1 on the real domain tables (mysql_process.py:67-74):
        runs ⋈ lineage ⋈ catalog with P5 filters → (id, ruta_resultado)."""
        pe = self.runs()
        de = self.lineage()
        c = self.catalog()
        return (
            F.broadcast(pe.filter(F.col("id_proceso") == id_proceso))
            .join(de, "id_ejecucion")
            .join(c, de.id_imagen_fuente == c.id)
            .filter(F.col("id_tipo_img").isin(*tipo_img) & (F.col("indice") == indice))
            .select("id", "ruta_resultado")
        )
