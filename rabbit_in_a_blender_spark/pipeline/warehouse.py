"""Zone-structured warehouse (SURVEY §1.1: raw / work / omop / dqd /
achilles namespaces — reference README.md:22, cli.py:62-65).

Local tests use parquet dirs under one root; on a cluster the same layout
maps to catalog databases or object-store prefixes.  Writes are atomic
rebuilds (A7 semantics) through one protocol, the pointer commit of
``core/commit.py``: immutable version dirs plus one atomically
replaced ``_POINTER`` file — object-store safe.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

ZONES = ("raw", "work", "omop", "dqd", "achilles")


def _as_read(dt: T.DataType) -> T.DataType:
    """The type a parquet read reports for a column written as ``dt``:
    Spark reads every field back nullable (its ``asNullable``)."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_read(f.dataType), True, f.metadata)
             for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_read(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_read(dt.keyType), _as_read(dt.valueType), True)
    return dt


def cluster_layout(
    df: DataFrame,
    cluster_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
) -> DataFrame:
    """The file layout ``Warehouse.write`` gives a table.

    ``cluster_by`` is the BigQuery CLUSTER BY analog: range-partition
    + sort on the keys, so each parquet file covers a narrow key range
    and rowgroup min/max stats prune selective scans.  Range
    partitioning samples the data, so skewed keys don't produce
    straggler files the way hash clustering would.  The sample is a job
    of its own over the child plan: observe metrics ABOVE this layout,
    or they count the child twice.

    ``zorder_by`` is the multi-dimensional alternative: a Morton-
    interleaved layout narrows file min/max stats in EVERY z-ordered
    column (operators/zorder.py), so scans pruned on any of them skip
    files; cluster_by narrows the leading key only.
    """
    if zorder_by:
        from ..operators.zorder import zorder_layout

        keys = [c for c in zorder_by if c in df.columns]
        if keys:
            df = zorder_layout(df, keys)
    elif cluster_by:
        keys = [c for c in cluster_by if c in df.columns]
        if keys:
            df = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
    return df


class Warehouse:
    """Every table is a pointer table (``core/commit.py``): data lands
    in immutable ``v-NNNNNN`` dirs and ONE small ``_POINTER`` file
    flips atomically — old-or-new at every instant on any store with
    atomic single-object replace (POSIX rename, HDFS rename, S3 PUT),
    no directory-rename assumption.  Readers resolve through this class
    (``read``/``exists`` do).  A table retains its live version plus
    older ones up to its retention (``core.commit.DEFAULT_KEEP`` unless
    ``write_versioned`` persisted another), so snapshots and time
    travel are version dirs and ``restore_version`` is a pointer flip.

    One writer at a time per table, ENFORCED: a second concurrent
    commit raises ``ConcurrentCommitError`` instead of silently
    clobbering (VERDICT r12 task 2).  A URI root (``hdfs://``,
    ``s3a://``, ``file://``) routes all I/O through the session's
    Hadoop FileSystem.

    Legacy plain table dirs (loose parquet files, no ``_POINTER``) stay
    readable and convert on their first write.
    """

    def __init__(self, root: str):
        from ..core.commit import is_uri

        self._uri = is_uri(root)
        self.root = root.rstrip("/") if self._uri else root
        # Schema memo for IMMUTABLE pointer version dirs, keyed by the
        # resolved dir path: a read with a known schema plans with no
        # footer-inference job.  Filled by this instance's commits and
        # first reads.
        self._schemas: dict[str, T.StructType] = {}
        if not self._uri:
            os.makedirs(root, exist_ok=True)
        # URI roots: creation is deferred to the first write (the fs
        # adapter needs an active SparkSession; object stores have no
        # real directories anyway)

    def _fs(self):
        from ..core.commit import fs_for

        return fs_for(self.root)

    def _join(self, *parts: str) -> str:
        if self._uri:
            return "/".join([self.root, *parts])
        return os.path.join(self.root, *parts)

    def path(self, zone: str, table: str) -> str:
        assert zone in ZONES, zone
        return self._join(zone, table)

    def _data_path(self, zone: str, table: str) -> str:
        """Where the live parquet files actually are: through the
        pointer for pointer tables, the table path for a legacy plain
        dir."""
        from ..core.commit import is_pointer_table, resolve_pointer

        p = self.path(zone, table)
        return resolve_pointer(p) if is_pointer_table(p) else p

    def exists(self, zone: str, table: str) -> bool:
        from ..core.commit import is_pointer_table

        if is_pointer_table(self.path(zone, table)):
            try:
                p = self._data_path(zone, table)
            except FileNotFoundError:
                return False
        else:
            p = self.path(zone, table)
        fs = self._fs()
        return fs.isdir(p) and any(
            f.endswith(".parquet") or f == "_SUCCESS" for f in fs.listdir(p)
        )

    def read(self, spark: SparkSession, zone: str, table: str) -> DataFrame:
        from ..core.commit import is_pointer_table, resolve_pointer

        p = self.path(zone, table)
        if is_pointer_table(p):
            return self.read_version_dir(spark, resolve_pointer(p))
        parts = [
            p.rstrip("/") + "/" + d
            for d in self._fs().listdirs(p)
            if "=" in d and not d.startswith((".", "_"))
        ]
        live = [resolve_pointer(d) if is_pointer_table(d) else d for d in parts]
        if live != parts:
            # a partitioned table whose key=value partitions are pointer
            # tables (the ETL's id map): read each partition's LIVE dir
            # only — the retained versions beside it would count twice
            # — and rediscover the keys from above the version dirs
            return spark.read.option("basePath", p).parquet(*live)
        return spark.read.parquet(p)

    def read_version_dir(self, spark: SparkSession, d: str) -> DataFrame:
        """Read one pointer version dir, with its memoized schema when
        this instance wrote or already read it."""
        schema = self._schemas.get(d)
        if schema is not None:
            return spark.read.schema(schema).parquet(d)
        df = spark.read.parquet(d)
        self._schemas[d] = df.schema
        return df

    def _commit(
        self, df: DataFrame, target: str, keep: int | None = None
    ) -> int | None:
        """``pointer_commit`` of ``df`` into ``target``; returns the
        version live before it (None for a new or legacy plain table).
        The new version dir's schema is memoized as a read will report
        it.  A legacy plain dir CONVERTS: the new version lands first
        (the plan may lazily read the old loose files), then they are
        removed."""
        from ..core.commit import _vdir, current_version, pointer_commit

        prev = current_version(target)
        v = pointer_commit(
            lambda d: df.write.mode("overwrite").parquet(d), target, keep=keep
        )
        self._schemas[_vdir(target, v)] = _as_read(df.schema)
        if prev is None:
            fs = self._fs()
            for f in fs.listdir(target):
                fp = target.rstrip("/") + "/" + f
                if (
                    f.endswith(".parquet")
                    or f.startswith(("_SUCCESS", "part-", "."))
                ) and fs.isfile(fp):
                    fs.delete(fp)
        return prev

    def write(
        self,
        df: DataFrame,
        zone: str,
        table: str,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Atomic rebuild (CREATE OR REPLACE TABLE ... AS semantics) by
        pointer commit: the new version lands in its own dir before the
        pointer flips, so the plan may lazily READ the table being
        replaced (e.g. swap-table extension on re-runs).

        ``cluster_by`` / ``zorder_by``: see :func:`cluster_layout`.
        """
        self._commit(
            cluster_layout(df, cluster_by, zorder_by), self.path(zone, table)
        )

    def append(self, df: DataFrame, zone: str, table: str) -> None:
        """Plain file append INTO the live version dir: readers see the
        new files appear, non-atomically — the pointer's old-or-new
        guarantee covers REPLACES, not appends; batch appenders that
        need exactly-once use their own batch=<id> subdir discipline
        (streaming/sink.py).  The first append to a new table commits
        it; to a legacy plain dir, converts it (old rows plus new)."""
        from ..core.commit import is_pointer_table

        target = self.path(zone, table)
        if not is_pointer_table(target):
            if self.exists(zone, table):
                df = self.read(df.sparkSession, zone, table).unionByName(
                    df, allowMissingColumns=True
                )
            self._commit(df, target)
            return
        d = self._data_path(zone, table)
        # the live dir changes under its name: forget its schema
        self._schemas.pop(d, None)
        df.write.mode("append").parquet(d)

    # ---- versions (time travel) ----------------------------------------
    #
    # The version dirs a table retains ARE its snapshots: reading one is
    # time travel, restoring one is a pointer flip.

    def versions(self, zone: str, table: str) -> list[int]:
        """Snapshot version numbers, oldest first: every retained
        published version (up to the pointer's high-water mark) except
        a live version AT the mark — after a ``restore_version`` the
        live version is an older snapshot and stays listed."""
        from ..core.commit import _read_pointer, list_versions

        target = self.path(zone, table)
        live, _, hw = _read_pointer(self._fs(), target)
        if live is None:
            return []
        return [
            v for v in list_versions(target)
            if v <= hw and not (v == live == hw)
        ]

    def write_versioned(
        self,
        df: DataFrame,
        zone: str,
        table: str,
        keep: int = 3,
        cluster_by: list[str] | None = None,
    ) -> int | None:
        """Atomic replace that keeps the outgoing version as a snapshot.

        Returns the version that was live before (None on the first
        write).  At most ``keep`` snapshots are retained besides the
        live version (``keep <= 0``: live only).  The retention is
        PERSISTED in the pointer file, so later plain ``write``/
        ``compact`` calls inherit it instead of pruning to the default
        (ADVICE r12 item 1).
        """
        return self._commit(
            cluster_layout(df, cluster_by),
            self.path(zone, table),
            keep=keep + 1 if keep > 0 else 1,
        )

    def read_version(
        self, spark: SparkSession, zone: str, table: str, version: int
    ) -> DataFrame:
        from ..core.commit import _vdir, high_water, list_versions

        target = self.path(zone, table)
        d = _vdir(target, version)
        # versions up to the high-water mark are published history
        # (after a restore_version the live pointer sits BELOW later
        # versions); above it are crash orphans — unreadable
        hw = high_water(target)
        if hw is None or version > hw or not self._fs().isdir(d):
            avail = [v for v in list_versions(target) if v <= (hw or 0)]
            raise ValueError(
                f"{zone}.{table} has no version {version}; "
                f"available: {avail}"
            )
        return self.read_version_dir(spark, d)

    def restore_version(
        self, spark: SparkSession, zone: str, table: str, version: int
    ) -> int | None:
        """Make snapshot ``version`` the live table again; returns the
        version that was live before.

        A ZERO-I/O pointer flip (``core/commit.py::repoint``): the
        pointer's high-water mark keeps the versions above the restored
        one recognized as history, so the undo is another flip — no
        table rewrite at any size.
        """
        from ..core.commit import repoint

        return repoint(self.path(zone, table), version)

    def compact(
        self,
        spark: SparkSession,
        zone: str,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> int:
        """Rewrite a table into ~target-sized parquet files; returns the
        new file count.

        Append-heavy tables (incremental loads, streaming sinks) decay
        into thousands of small files, and at scale every scan then pays
        per-file open/footer costs while losing rowgroup-stat pruning.
        Compaction reads the live version, coalesces to
        ceil(bytes / target) partitions, and commits the result as a new
        version through ``write`` (readers of the old version are
        unaffected mid-rewrite; it stays retained as a snapshot).

        ``coalesce`` (not ``repartition``): merging files needs no
        shuffle — each output task reads a few input files sequentially.
        Row order within files is preserved, so cluster_by key locality
        from earlier writes survives compaction.
        """
        fs = self._fs()
        p = self._data_path(zone, table)
        total = sum(
            size for f, size in fs.listsizes(p) if f.endswith(".parquet")
        )
        n_files = max(1, -(-total // target_file_bytes))  # ceil
        self.write(self.read(spark, zone, table).coalesce(n_files), zone, table)
        return sum(
            1
            for f in fs.listdir(self._data_path(zone, table))
            if f.endswith(".parquet")
        )

    def load(
        self, df: DataFrame, zone: str, table: str, disposition: str = "append"
    ) -> None:
        """Bulk load with BigQuery write-disposition semantics (A5,
        reference batch_load_from_bucket_into_bigquery_table,
        etl/bigquery/gcp.py:197-240):

        - ``append``  → WRITE_APPEND: add files to the table;
        - ``truncate`` → WRITE_TRUNCATE: atomic replace (``write``);
        - ``write_empty`` → WRITE_EMPTY: succeeds only when the target
          is absent or has no rows; a populated target raises (BigQuery
          returns a 'duplicate' error).
        """
        if disposition == "truncate":
            self.write(df, zone, table)
        elif disposition == "write_empty":
            if (
                self.exists(zone, table)
                and not self.read(df.sparkSession, zone, table).isEmpty()
            ):
                raise ValueError(
                    f"{zone}.{table}: WRITE_EMPTY disposition on a "
                    "populated table"
                )
            self.write(df, zone, table)
        elif disposition == "append":
            self.append(df, zone, table)
        else:
            raise ValueError(f"unknown write disposition: {disposition!r}")

    # ---- multi-table transactions (pipeline/txn.py) -------------------
    #
    # One atomic manifest publish covers every table an ETL run writes:
    # snapshot readers see all-old or all-new, never a torn cross-table
    # view.  The manifest pins each table's version dirs.

    def begin(self, keep: int | None = None):
        """Start a multi-table transaction (explicit commit/rollback);
        see ``pipeline/txn.py``."""
        from .txn import WarehouseTransaction

        return WarehouseTransaction(self, keep=keep)

    def transaction(self, keep: int | None = None):
        """``with wh.transaction() as txn:`` — commits on clean exit,
        rolls back when the block raises."""
        from .txn import transaction

        return transaction(self, keep=keep)

    def read_snapshot(
        self, spark: SparkSession, zone: str, table: str,
        txn: int | None = None,
    ) -> DataFrame:
        """Read through the warehouse manifest — the consistent
        cross-table view (live, or transaction ``txn`` to time-travel
        the whole warehouse)."""
        from .txn import read_snapshot

        return read_snapshot(self, spark, zone, table, txn=txn)

    def snapshot(self, txn: int | None = None) -> dict[str, int]:
        """The manifest's table→version map (live manifest, or a
        retained transaction's)."""
        from .txn import live_manifest, manifest_at

        if txn is None:
            return live_manifest(self)[1]
        return manifest_at(self, txn)

    def list_txns(self) -> list[int]:
        """Retained transaction ids, oldest first."""
        from .txn import list_txns

        return list_txns(self)

    def txn_recover(self) -> dict[str, int]:
        """Repoint manifest tables whose live version drifted (a
        crashed transaction) back to the live manifest's versions."""
        from .txn import txn_recover

        return txn_recover(self)

    def register_views(
        self,
        spark: SparkSession,
        zones: tuple[str, ...] = ("omop",),
        prefix: str | None = None,
    ) -> list[str]:
        """Register every table as a temp view ``<zone>_<table>`` (or
        ``<prefix>_<table>``), so plain ``spark.sql`` queries the
        warehouse — the BigQuery-SQL ergonomics the reference's users
        have.  Views are lazy: each query re-resolves the table's
        current pointer at registration time; re-register after
        writes for the newest versions.  Returns the view names."""
        out = []
        for zone in zones:
            for t in self.list_tables(zone):
                if not self.exists(zone, t):
                    continue
                name = f"{prefix or zone}_{t}"
                self.read(spark, zone, t).createOrReplaceTempView(name)
                out.append(name)
        return out

    def at_snapshot(self, txn: int | None = None) -> "SnapshotWarehouse":
        """A READ-ONLY view of this warehouse frozen at a transaction
        (live manifest by default): ``read``/``exists``/``list_tables``
        resolve through the manifest's pinned versions, so any
        downstream consumer — DQD, Achilles, analytics — runs against
        one consistent cross-table view even while an ETL run is
        writing.  Writes raise."""
        return SnapshotWarehouse(self, txn)

    def vacuum(self, zones: list[str] | None = None) -> dict[str, tuple[int, int]]:
        """Reclaim dead space across the warehouse WITHOUT committing:
        per pointer table, crash-orphan version dirs, stale temp
        pointer files, and versions beyond retention (never the live
        version, never a manifest-pinned one).  The transaction
        manifest is vacuumed first and every table's ``_PINS`` file
        re-derived from the manifests that survive, so retiring old
        transactions is what actually releases their pinned versions.

        Returns ``{"zone/table": (dirs_removed, bytes_reclaimed)}``
        (the manifest under key ``"_TXN"``).  Zero data is ever read —
        pure metadata walks, safe to run concurrently with readers
        (they resolve through pointers; nothing live or pinned moves).
        """
        from ..core.commit import (
            PINS,
            is_pointer_table,
            vacuum_table,
        )
        from .txn import _refresh_pins, _txn_path, live_manifest

        report: dict[str, tuple[int, int]] = {}
        fs = self._fs()
        tp = _txn_path(self)
        if is_pointer_table(tp):
            report["_TXN"] = vacuum_table(tp)
            # recompute pins from the manifests that survived, for
            # every table that is pinned or manifest-listed
            pinned_tables = set(live_manifest(self)[1])
            for zone in ZONES:
                for t in self.list_tables(zone):
                    if fs.isfile(self._join(zone, t, PINS)):
                        pinned_tables.add(f"{zone}/{t}")
            _refresh_pins(self, pinned_tables)
        for zone in zones or ZONES:
            for t in self.list_tables(zone):
                p = self.path(zone, t)
                if is_pointer_table(p):
                    report[f"{zone}/{t}"] = vacuum_table(p)
        return report

    def drop(self, zone: str, table: str) -> None:
        p = self.path(zone, table)
        self._fs().delete(p, recursive=True)
        # a re-created table reuses version numbers: forget the old dirs
        prefix = p.rstrip("/") + "/"
        for d in [d for d in self._schemas if d.startswith(prefix)]:
            self._schemas.pop(d, None)

    def list_tables(self, zone: str) -> list[str]:
        return sorted(
            d
            for d in self._fs().listdirs(self._join(zone))
            # hidden dirs (a legacy warehouse's .snapshots) are not tables
            if not d.startswith(".")
        )


class SnapshotWarehouse:
    """Read-only warehouse view frozen at one transaction's manifest
    (``Warehouse.at_snapshot``).  Reads resolve to the manifest's
    pinned version dirs — immutable parquet, so the view stays
    consistent for its whole lifetime regardless of concurrent writes,
    and holding it costs nothing (no locks; pins already protect the
    versions from pruning while the transaction is retained).

    Only manifest tables are visible; zones/tables outside the
    manifest read as absent (they carry no cross-table consistency).
    Every mutating method raises.
    """

    def __init__(self, wh: Warehouse, txn: int | None = None):
        from .txn import live_manifest, manifest_at

        self._wh = wh
        if txn is None:
            txn, tables = live_manifest(wh)
            if txn is None:
                raise FileNotFoundError(
                    f"warehouse {wh.root} has no committed transaction"
                )
        else:
            tables = manifest_at(wh, txn)
        self.txn = txn
        self._tables = tables
        self.root = wh.root

    def _resolve(self, zone: str, table: str) -> str | None:
        from ..core.commit import _vdir

        ver = self._tables.get(f"{zone}/{table}")
        if ver is None:
            return None
        return _vdir(self._wh.path(zone, table), ver)

    def exists(self, zone: str, table: str) -> bool:
        return f"{zone}/{table}" in self._tables

    def read(self, spark: SparkSession, zone: str, table: str) -> DataFrame:
        d = self._resolve(zone, table)
        if d is None:
            raise FileNotFoundError(
                f"{zone}.{table} is not in transaction {self.txn}; "
                f"tables: {sorted(self._tables)}"
            )
        return self._wh.read_version_dir(spark, d)

    def list_tables(self, zone: str) -> list[str]:
        prefix = zone + "/"
        return sorted(
            k[len(prefix):] for k in self._tables if k.startswith(prefix)
        )

    def path(self, zone: str, table: str) -> str:
        return self._wh.path(zone, table)

    def register_views(
        self,
        spark: SparkSession,
        zones: tuple[str, ...] = ("omop",),
        prefix: str | None = None,
    ) -> list[str]:
        """Temp views over the FROZEN manifest versions — ``spark.sql``
        then queries one consistent cross-table state no matter what
        the live warehouse does.  Returns the view names."""
        out = []
        for zone in zones:
            for t in self.list_tables(zone):
                name = f"{prefix or zone}_{t}"
                self.read(spark, zone, t).createOrReplaceTempView(name)
                out.append(name)
        return out

    def _readonly(self, *_args, **_kwargs):
        raise TypeError(
            f"warehouse snapshot (txn {self.txn}) is read-only — write "
            "through the live Warehouse"
        )

    write = append = load = write_versioned = _readonly
    drop = compact = restore_version = vacuum = _readonly
