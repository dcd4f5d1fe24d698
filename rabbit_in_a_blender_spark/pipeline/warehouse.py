"""Zone-structured warehouse (SURVEY §1.1: raw / work / omop / dqd /
achilles namespaces — reference README.md:22, cli.py:62-65).

Local tests use parquet dirs under one root; on a cluster the same layout
maps to catalog databases or object-store prefixes.  Writes are atomic
rebuilds (A7 semantics); pick the protocol with ``commit_mode`` —
``rename`` (staged dir + rename, POSIX/HDFS) or ``pointer``
(manifest/pointer swap, object-store safe; see ``core/commit.py``).
"""

from __future__ import annotations

import os
import shutil
import uuid

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
    """``commit_mode`` picks the atomic-replace protocol (VERDICT r11
    task 2):

    - ``"rename"`` (default): staged sibling dir + directory rename —
      atomic on POSIX/HDFS, the A7 semantics every prior round shipped;
      NOT atomic on S3-class object stores, and the swap has a brief
      window where the table path is absent (crash there is recoverable
      from ``.__old__``).
    - ``"pointer"``: manifest/pointer-swap tables (``core/commit.py``):
      data lands in immutable ``v-NNNNNN`` dirs and ONE small
      ``_POINTER`` file flips atomically — old-or-new at every instant
      on any store with atomic single-object replace, no
      directory-rename assumption.  Readers must resolve through this
      class (``read``/``exists`` do); snapshots and time travel come
      free (version dirs), so ``write_versioned``/``restore_version``
      become pointer flips.

    Both modes are one-writer-at-a-time per table; pointer mode
    ENFORCES it (a second concurrent commit raises
    ``ConcurrentCommitError`` instead of silently clobbering — VERDICT
    r12 task 2), and since r13 its I/O routes through the session's
    Hadoop FileSystem for URI paths, so it runs on hdfs://s3a://-class
    stores, not just locally mounted ones.
    """

    def __init__(self, root: str, commit_mode: str = "rename"):
        if commit_mode not in ("rename", "pointer"):
            raise ValueError(
                f"commit_mode must be 'rename' or 'pointer', got "
                f"{commit_mode!r}"
            )
        from ..core.commit import is_uri

        self.root = root.rstrip("/") if is_uri(root) else root
        self._uri = is_uri(root)
        if self._uri and commit_mode != "pointer":
            raise ValueError(
                f"warehouse root {root!r} is a URI: directory renames "
                "are not atomic on object stores, so only "
                "commit_mode='pointer' is supported there (rename mode "
                "needs a locally mounted / HDFS-style root accessed by "
                "plain path)"
            )
        self.commit_mode = commit_mode
        # Schema memo for IMMUTABLE pointer version dirs, keyed by the
        # resolved dir path: a read with a known schema plans with no
        # footer-inference job.  Filled by this instance's commits and
        # first reads; rename-mode paths are mutable and always infer.
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
        pointer for pointer tables, the table path otherwise.  Reading
        resolves by what's ON DISK (not the session's commit_mode), so
        a pointer-mode warehouse can read rename-mode tables and vice
        versa."""
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

    def _commit(self, df: DataFrame, target: str, keep: int | None = None) -> None:
        """``pointer_commit`` of ``df`` into ``target``; the new version
        dir's schema is memoized as a read will report it."""
        from ..core.commit import _vdir, pointer_commit

        v = pointer_commit(
            lambda d: df.write.mode("overwrite").parquet(d), target, keep=keep
        )
        self._schemas[_vdir(target, v)] = _as_read(df.schema)

    def write(
        self,
        df: DataFrame,
        zone: str,
        table: str,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> None:
        """Atomic rebuild (CREATE OR REPLACE TABLE ... AS semantics).

        Staged write + rename: the plan may lazily READ the table being
        replaced (e.g. swap-table extension on re-runs) — a plain
        overwrite would delete the input files mid-job.  Rename is atomic
        on posix/HDFS; on object stores use ``commit_mode="pointer"``
        (the manifest/pointer swap needs only atomic single-object
        replace).

        ``cluster_by`` / ``zorder_by``: see :func:`cluster_layout`.
        """
        df = cluster_layout(df, cluster_by, zorder_by)
        target = self.path(zone, table)
        from ..core.commit import is_pointer_table

        if self.commit_mode == "pointer" or is_pointer_table(target):
            # on-disk format wins over session mode: a rename-mode
            # session replacing a pointer table must not rename over
            # the version dirs, and a pointer-mode write CONVERTS a
            # plain dir (the new version lands first — the plan may
            # lazily read the old loose files — then they're removed)
            was_plain = not is_pointer_table(target)
            self._commit(df, target)
            if was_plain:
                fs = self._fs()
                for f in fs.listdir(target):
                    fp = target.rstrip("/") + "/" + f
                    if fs.isfile(fp) and (
                        f.endswith(".parquet")
                        or f.startswith(("_SUCCESS", "part-", "."))
                    ):
                        if f == "_POINTER":
                            continue
                        fs.delete(fp)
            return
        staging = target + ".__staging__"
        shutil.rmtree(staging, ignore_errors=True)
        df.write.mode("overwrite").parquet(staging)
        old = target + ".__old__"
        shutil.rmtree(old, ignore_errors=True)
        if os.path.isdir(target):
            os.rename(target, old)
        os.rename(staging, target)
        shutil.rmtree(old, ignore_errors=True)

    def append(self, df: DataFrame, zone: str, table: str) -> None:
        """Plain file append.  In pointer mode this appends INTO the
        live version dir (readers see the new files appear, exactly as
        non-atomically as a rename-mode append) — the pointer's
        old-or-new guarantee covers REPLACES, not appends; batch
        appenders that need exactly-once use their own batch=<id>
        subdir discipline (streaming/sink.py)."""
        from ..core.commit import is_pointer_table

        target = self.path(zone, table)
        if self.commit_mode == "pointer" or is_pointer_table(target):
            if not is_pointer_table(target):
                self._commit(df, target)
                return
            d = self._data_path(zone, table)
            # the live dir changes under its name: forget its schema
            self._schemas.pop(d, None)
            df.write.mode("append").parquet(d)
            return
        df.write.mode("append").parquet(target)

    # ---- snapshot versioning (poor-man's time travel) -----------------
    #
    # A bounded history of table snapshots so a bad ETL run is a rename
    # away from recovery.  The live table stays at its normal path (every
    # reader unchanged); snapshots live under <zone>/.snapshots/<table>/
    # v<NNN>.  Snapshotting the outgoing version is a RENAME of files the
    # atomic-rebuild path was about to delete — zero extra I/O at any
    # table size.  (On object stores, pointer mode supersedes this
    # whole section: version dirs ARE the snapshots, retention persists
    # in the pointer file, and concurrent writers are locked out.)

    def _snap_dir(self, zone: str, table: str) -> str:
        assert zone in ZONES, zone
        return self._join(zone, ".snapshots", table)

    def versions(self, zone: str, table: str) -> list[int]:
        """Snapshot version numbers, oldest first."""
        d = self._snap_dir(zone, table)
        out = []
        for name in self._fs().listdir(d):
            if name.startswith("v") and name[1:].isdigit():
                out.append(int(name[1:]))
        return sorted(out)

    def write_versioned(
        self,
        df: DataFrame,
        zone: str,
        table: str,
        keep: int = 3,
        cluster_by: list[str] | None = None,
    ) -> int | None:
        """Atomic replace that snapshots the outgoing version.

        Returns the snapshot version the previous contents were saved
        under (None on the first write).  At most ``keep`` snapshots are
        retained; older ones are pruned.
        """
        df = cluster_layout(df, cluster_by)
        target = self.path(zone, table)
        from ..core.commit import current_version, is_pointer_table

        if self.commit_mode == "pointer" or is_pointer_table(target):
            # pointer tables get versioning for free: the outgoing
            # version dir IS the snapshot; retain live + keep snapshots
            # (keep <= 0 means NO snapshots — live only — matching the
            # rename path's prune-everything semantics).  The explicit
            # retention is PERSISTED in the pointer file, so later
            # plain write()/compact() calls (keep=None) inherit it
            # instead of pruning to the default 3 (ADVICE r12 item 1).
            prev = current_version(target)
            self._commit(df, target, keep=keep + 1 if keep > 0 else 1)
            return prev
        staging = target + ".__staging__"
        shutil.rmtree(staging, ignore_errors=True)
        df.write.mode("overwrite").parquet(staging)
        saved = None
        if os.path.isdir(target):
            versions = self.versions(zone, table)
            saved = (versions[-1] + 1) if versions else 1
            snap = os.path.join(self._snap_dir(zone, table), f"v{saved}")
            os.makedirs(os.path.dirname(snap), exist_ok=True)
            os.rename(target, snap)
        os.rename(staging, target)
        versions = self.versions(zone, table)
        prune = versions if keep <= 0 else versions[:-keep]
        for v in prune:
            shutil.rmtree(
                os.path.join(self._snap_dir(zone, table), f"v{v}"),
                ignore_errors=True,
            )
        return saved

    def read_version(
        self, spark: SparkSession, zone: str, table: str, version: int
    ) -> DataFrame:
        from ..core.commit import (
            _vdir,
            high_water,
            is_pointer_table,
            list_versions,
        )

        target = self.path(zone, table)
        if is_pointer_table(target):
            d = _vdir(target, version)
            # versions up to the high-water mark are published history
            # (after a restore_version the live pointer sits BELOW
            # later versions); above it are crash orphans — unreadable
            hw = high_water(target)
            if not self._fs().isdir(d) or (hw is not None and version > hw):
                avail = [v for v in list_versions(target) if v <= (hw or 0)]
                raise ValueError(
                    f"{zone}.{table} has no version {version}; "
                    f"available: {avail}"
                )
            return self.read_version_dir(spark, d)
        snap = os.path.join(self._snap_dir(zone, table), f"v{version}")
        if not self._fs().isdir(snap):
            raise ValueError(
                f"{zone}.{table} has no snapshot v{version}; "
                f"available: {self.versions(zone, table)}"
            )
        return spark.read.parquet(snap)

    def restore_version(
        self, spark: SparkSession, zone: str, table: str, version: int
    ) -> int | None:
        """Make snapshot ``version`` the live table again.

        The current contents are snapshotted first (so a restore is
        itself undoable); the restored snapshot stays in history.
        Returns the snapshot version the replaced contents were saved
        under.  On a pointer table the restore is a ZERO-I/O pointer
        flip (``core/commit.py::repoint``): the pointer's high-water
        mark keeps the versions above the restored one recognized as
        history, so the undo is another flip — no table rewrite at any
        size (the r12 docstring's 'one rewrite today' limitation is
        gone).
        """
        from ..core.commit import is_pointer_table, repoint

        target = self.path(zone, table)
        if is_pointer_table(target):
            return repoint(target, version)
        return self.write_versioned(
            self.read_version(spark, zone, table, version), zone, table
        )

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
        Compaction reads the table, coalesces to ceil(bytes / target)
        partitions, and swaps atomically via the staged-rename ``write``
        path (readers of the old files are unaffected mid-rewrite).

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

    def write_bucketed(
        self,
        df: DataFrame,
        zone: str,
        table: str,
        keys: list[str],
        buckets: int = 32,
        sorted_within: bool = True,
    ) -> None:
        """Bucketed, catalog-managed write — the co-located-join path.

        The BigQuery `CLUSTER BY` analog (bq:ddl/
        OMOPCDM_bigquery_5.4_clustering_fields.json): two tables bucketed
        on the same keys with the same bucket count join/aggregate on
        those keys WITHOUT a shuffle (bucketed scan provides the
        partitioning; sortBy provides the sort for SMJ).  At 100 TB this
        removes the dominant exchange from every fact-fact join in the
        pipeline.  Requires saveAsTable (bucket metadata lives in the
        catalog, session-local derby here, HMS/Glue on a cluster).

        Replacement is staged like ``write``: the new data lands in a
        fresh location under a staging table name, then the catalog entry
        is swapped and the old files removed — so a plan may lazily read
        the table being replaced (swap-table extension on re-runs).
        """
        if self._uri:
            raise NotImplementedError(
                "bucketed tables need a real catalog service (bucket "
                "metadata lives in the metastore); on a URI-rooted "
                "warehouse configure HMS/Glue and saveAsTable there — "
                "the session-local derby catalog only manages local "
                "paths"
            )
        spark = df.sparkSession
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {zone}")
        full = f"{zone}.{table}"
        old_location = self._bucketed_location(spark, zone, table)
        stg_location = self.path(zone, table) + f"__bucketed__{uuid.uuid4().hex[:8]}"
        stg_table = f"{full}__stg"
        spark.sql(f"DROP TABLE IF EXISTS {stg_table}")
        w = df.write.bucketBy(buckets, *keys)
        if sorted_within:
            w = w.sortBy(*keys)
        (
            w.mode("overwrite")
            .format("parquet")
            .option("path", stg_location)
            .saveAsTable(stg_table)
        )
        spark.sql(f"DROP TABLE IF EXISTS {full}")
        spark.sql(f"ALTER TABLE {stg_table} RENAME TO {full}")
        if old_location and os.path.isdir(old_location):
            shutil.rmtree(old_location, ignore_errors=True)

    def save_bucketed_index(
        self,
        index: DataFrame,
        zone: str,
        table: str,
        key: str = "centroid_id",
        buckets: int = 32,
    ) -> None:
        """Persist an incremental-dedup exemplar/band index CO-LOCATED
        on its probe key (VERDICT r9 task 4): the continuous-crawl
        screens (``ext/semdedup.py::incremental_semantic_dedup``,
        ``ext/dedup.py::incremental_dedup``) probe the stored index with
        a cluster-/bucket-local join every increment, and a plain
        parquet index re-shuffles its ENTIRE (corpus-sized) side each
        time.  Bucketed on the probe key, the scan itself provides the
        join partitioning — only the (delta-sized) batch side exchanges
        (pytest-pinned plan shape).

        ``key='centroid_id'`` for the SemDeDup exemplar index,
        ``key='band_hash'`` for the MinHash band index.  Read back with
        :meth:`load_bucketed_index` — a raw ``spark.read.parquet`` of
        the files would drop the bucket metadata and the plan benefit.
        """
        if key not in index.columns:
            raise ValueError(
                f"bucket key {key!r} not in index columns {index.columns}"
            )
        self.write_bucketed(index, zone, table, [key], buckets=buckets)

    def load_bucketed_index(
        self, spark: SparkSession, zone: str, table: str
    ) -> DataFrame:
        """Bucket-aware read of a :meth:`save_bucketed_index` table —
        feed this straight into the incremental screen's ``index``
        argument."""
        return self.read_bucketed(spark, zone, table)

    def _describe_location(
        self, spark: SparkSession, zone: str, table: str
    ) -> str | None:
        rows = spark.sql(f"DESCRIBE FORMATTED {zone}.{table}").collect()
        for r in rows:
            if r.col_name == "Location":
                loc = r.data_type
                if loc.startswith("file:"):
                    # DESCRIBE returns 'file:/path' (single slash) — parse
                    # as a URI; a fixed [7:] strip mangles it into a
                    # relative path and the old files never get removed.
                    from urllib.parse import urlparse

                    return urlparse(loc).path
                return loc
        return None

    def _bucketed_location(
        self, spark: SparkSession, zone: str, table: str
    ) -> str | None:
        if not self.exists_bucketed(spark, zone, table):
            return None
        return self._describe_location(spark, zone, table)

    def exists_bucketed(self, spark: SparkSession, zone: str, table: str) -> bool:
        """True when the catalog has ``zone.table`` AND its location is
        under THIS warehouse's root.  The Spark catalog is session-global
        while Warehouse roots are not: a table registered by a previous
        Warehouse (e.g. an earlier bench/test run whose temp root was
        deleted) would otherwise read as an existing prior table with
        dangling files — a phantom swap on the re-run path."""
        if not spark.catalog.tableExists(f"{zone}.{table}"):
            return False
        loc = self._describe_location(spark, zone, table)
        if loc is None:
            return True
        root = os.path.realpath(self.root)
        return os.path.realpath(loc).startswith(root + os.sep)

    def read_bucketed(self, spark: SparkSession, zone: str, table: str) -> DataFrame:
        return spark.table(f"{zone}.{table}")

    # ---- multi-table transactions (pipeline/txn.py) -------------------
    #
    # One atomic manifest publish covers every table an ETL run writes:
    # snapshot readers see all-old or all-new, never a torn cross-table
    # view.  Pointer mode only (the manifest pins version dirs).

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
            # hidden dirs are warehouse internals (.snapshots), not tables
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

    write = append = load = write_versioned = write_bucketed = _readonly
    drop = compact = restore_version = vacuum = _readonly
