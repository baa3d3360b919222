"""Snapshot-versioned, day-partitioned page store — the Iceberg stand-in.

Production target is an Iceberg table partitioned by ``days(warc_ts)`` with
``snapshot-id``-ranged incremental reads (north_rule).  This container ships
no Iceberg runtime jar, so this module provides the same *semantics* over
partitioned parquet + JSON snapshot manifests:

  * ``append`` = a new snapshot: data files land under
    ``data/p_day=YYYY-MM-DD/``, and a manifest records exactly which files the
    snapshot added (Iceberg's manifest-list, minus the stats);
  * ``read(snapshot_id)`` = snapshot isolation: only files known to that
    snapshot are scanned (time travel / reproducible runs);
  * ``incremental(a, b)`` = Iceberg's incremental scan: files added in
    (a, b] — the reference's state-mode time-boxed work discovery
    (config/config.yml:86-99; composable.py:116-139) without a bookmark file.

The query layer never sees the difference: swap ``read``/``append`` for
``spark.read.format("iceberg")`` / ``writeTo(...).append()`` and every plan
in this repo is unchanged.  ``p_day`` stays a real partition column so
predicate -> partition pruning works identically.

That swap is packaged here: ``open_table(spark, target)`` dispatches on the
target — a filesystem path opens the parquet ``SnapshotTable``; a
``catalog.namespace.table`` identifier whose catalog is configured in the
session (``spark.sql.catalog.<name>`` set, the standard Iceberg wiring)
opens ``IcebergTable``, the same four-method surface expressed through the
real Iceberg reader options (``snapshot-id`` /
``start-snapshot-id``/``end-snapshot-id``) and ``writeTo().append()``.
This sandbox ships no Iceberg runtime jar, so ``IcebergTable`` methods are
exercised against a live catalog only in deployment; the DISPATCH is unit
tested here (the adapter-seam pattern the fastText/KenLM model contracts
use, functions/langid.py).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from ..operators.resume import partition_id_col


class SnapshotTable:
    def __init__(self, root: str):
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.snap_dir = os.path.join(root, "snapshots")
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.snap_dir, exist_ok=True)

    # -- manifest bookkeeping -------------------------------------------------
    def snapshots(self) -> list[int]:
        return sorted(
            int(f[:-5]) for f in os.listdir(self.snap_dir) if f.endswith(".json")
        )

    def current_snapshot(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    def _manifest(self, snapshot_id: int) -> dict:
        with open(os.path.join(self.snap_dir, f"{snapshot_id}.json")) as fh:
            return json.load(fh)

    def _all_data_files(self) -> set[str]:
        out = set()
        for dirpath, _dirs, files in os.walk(self.data_dir):
            for f in files:
                if f.endswith(".parquet"):
                    out.add(os.path.join(dirpath, f))
        return out

    def files_in(self, snapshot_id: int | None = None) -> list[str]:
        """All data files visible at snapshot_id (cumulative)."""
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot()
        files: list[str] = []
        for s in self.snapshots():
            if s <= (sid if sid is not None else -1):
                files.extend(self._manifest(s)["added_files"])
        return files

    # -- write path -----------------------------------------------------------
    def append(self, df: DataFrame) -> int:
        """Write df as a new snapshot, partitioned by day(warc_ts)."""
        before = self._all_data_files()
        (
            df.withColumn("p_day", partition_id_col())
            .write.mode("append")
            .partitionBy("p_day")
            .parquet(self.data_dir)
        )
        added = sorted(self._all_data_files() - before)
        sid = (self.current_snapshot() or 0) + 1
        manifest = {
            "snapshot_id": sid,
            "parent_id": self.current_snapshot(),
            "added_files": added,
            "committed_at": time.time(),
        }
        with open(os.path.join(self.snap_dir, f"{sid}.json"), "w") as fh:
            json.dump(manifest, fh)
        return sid

    # -- read path ------------------------------------------------------------
    def _read_files(self, spark: SparkSession, files: list[str]) -> DataFrame:
        if not files:
            all_files = sorted(self._all_data_files())
            if all_files:
                # schema from any existing file, zero rows
                return spark.read.option("basePath", self.data_dir) \
                    .parquet(all_files[0]).limit(0)
            # brand-new table: fall back to the canonical pages schema
            from .pages import PAGES_SCHEMA

            import pyspark.sql.types as T
            schema = T.StructType(list(PAGES_SCHEMA.fields)
                                  + [T.StructField("p_day", T.StringType())])
            return spark.createDataFrame([], schema)
        return spark.read.option("basePath", self.data_dir).parquet(*files)

    def read(self, spark: SparkSession, snapshot_id: int | None = None) -> DataFrame:
        """Snapshot-isolated scan (time travel when snapshot_id is given)."""
        return self._read_files(spark, self.files_in(snapshot_id))

    def incremental(self, spark: SparkSession, after: int | None,
                    until: int | None = None) -> DataFrame:
        """Rows appended in snapshots (after, until] — the state-scan S3."""
        until = until if until is not None else (self.current_snapshot() or 0)
        files: list[str] = []
        for s in self.snapshots():
            if (after is None or s > after) and s <= until:
                files.extend(self._manifest(s)["added_files"])
        return self._read_files(spark, files)


class IcebergTable:
    """The same snapshot/incremental surface over a REAL Iceberg catalog
    table (reference analogue: the data-store client the pipeline reads
    and writes through, /root/reference/cfht2caom2/metadata.py uses the
    collection's archive client the same way — one seam, two backends).

    ``identifier`` is ``catalog.namespace.table``; the catalog must be
    configured on the session (``spark.sql.catalog.<catalog>`` plus its
    warehouse/uri confs — see SCALE_RUNBOOK.md "Iceberg catalog").  All
    methods issue standard Iceberg reads/writes; nothing here imports an
    Iceberg library (the runtime jar provides the DataSource), so the
    class constructs anywhere and fails only when used without the jar.
    """

    def __init__(self, spark: SparkSession, identifier: str):
        self.spark = spark
        self.identifier = identifier

    # -- manifest bookkeeping ------------------------------------------------
    def snapshots(self) -> list[int]:
        rows = (self.spark.read.table(f"{self.identifier}.snapshots")
                .select("snapshot_id").orderBy("committed_at").collect())
        return [r["snapshot_id"] for r in rows]

    def current_snapshot(self) -> int | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    # -- write path ----------------------------------------------------------
    def append(self, df: DataFrame) -> int:
        """One appended snapshot.  The table's partition spec is expected to
        be ``days(warc_ts)`` (north_rule) — created once via
        ``CREATE TABLE ... PARTITIONED BY (days(warc_ts))`` — so no derived
        p_day column is needed: Iceberg's hidden partitioning prunes on
        warc_ts predicates directly."""
        df.writeTo(self.identifier).append()
        sid = self.current_snapshot()
        assert sid is not None
        return sid

    # -- read path -----------------------------------------------------------
    def read(self, spark: SparkSession | None = None,
             snapshot_id: int | None = None) -> DataFrame:
        spark = spark or self.spark
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.table(self.identifier)

    def incremental(self, spark: SparkSession | None = None,
                    after: int | None = None,
                    until: int | None = None) -> DataFrame:
        """Iceberg incremental scan: rows appended in (after, until]."""
        spark = spark or self.spark
        reader = spark.read.format("iceberg")
        if after is not None:
            reader = reader.option("start-snapshot-id", str(after))
        if until is not None:
            reader = reader.option("end-snapshot-id", str(until))
        return reader.table(self.identifier)


class ParquetDirTable:
    """Read-only table surface over a plain parquet directory or file —
    what ``batch --pages /data/dump.parquet`` opens when the target has no
    snapshot manifests.  Time travel and incremental scans need manifests
    (``SnapshotTable``) or a real catalog (``IcebergTable``); asking for
    them here is a user error and raises with the fix spelled out."""

    def __init__(self, root: str):
        self.root = root

    def snapshots(self) -> list[int]:
        return []

    def current_snapshot(self) -> int | None:
        return None

    def read(self, spark: SparkSession,
             snapshot_id: int | None = None) -> DataFrame:
        if snapshot_id:
            raise ValueError(
                f"{self.root} is a plain parquet target with no snapshot "
                "manifests — time travel needs a SnapshotTable root or an "
                "Iceberg catalog identifier")
        return spark.read.parquet(self.root)

    def incremental(self, spark: SparkSession, after: int | None,
                    until: int | None = None) -> DataFrame:
        raise ValueError(
            f"{self.root} is a plain parquet target with no snapshot "
            "manifests — incremental scans need a SnapshotTable root or an "
            "Iceberg catalog identifier")


def resolve_backend(spark: SparkSession, target: str) -> str:
    """'iceberg' when ``target`` is a catalog identifier whose leading part
    names a configured Spark catalog; 'parquet' otherwise (filesystem path
    -> SnapshotTable / ParquetDirTable).  Paths always win: anything with a
    separator or an existing directory is a path even if a same-named
    catalog exists."""
    if os.sep in target or "/" in target or os.path.exists(target):
        return "parquet"
    head, _, rest = target.partition(".")
    if not rest:
        return "parquet"
    try:
        spark.conf.get(f"spark.sql.catalog.{head}")
        return "iceberg"
    except Exception:
        return "parquet"


def open_table(spark: SparkSession, target: str):
    """Backend dispatch: the ONE call sites (and the CLI) use to get a
    pages table.

    >>> open_table(spark, "/data/pages")           # SnapshotTable root
    >>> open_table(spark, "/data/dump.parquet")    # plain parquet dir/file
    >>> open_table(spark, "lake.web.pages")        # IcebergTable

    Filesystem targets split on layout: a ``snapshots/`` manifest dir (or a
    fresh/empty path, which ``append`` will initialise) means SnapshotTable;
    an existing parquet file/dir without manifests is a plain read-only
    ParquetDirTable.  Reference analogue: one client seam for every storage
    flavour, /root/reference/cfht2caom2/cfht_name.py:570-601.
    """
    if resolve_backend(spark, target) == "iceberg":
        return IcebergTable(spark, target)
    if (os.path.isfile(target)
            or (os.path.isdir(target) and os.listdir(target)
                and not os.path.isdir(os.path.join(target, "snapshots")))):
        return ParquetDirTable(target)
    return SnapshotTable(target)
