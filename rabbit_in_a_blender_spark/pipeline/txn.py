"""Atomic multi-table transactions over a pointer-mode warehouse.

The per-table pointer protocol (``core/commit.py``) makes each table
old-or-new at every instant — but an ETL run writes a DOZEN tables
(person, visit_occurrence, condition_occurrence, ...), and a crash
mid-run leaves the warehouse with SOME tables from the new run and
some from the old: every cross-table join a downstream consumer runs
sees a torn view.  The reference never faces this because BigQuery
scripts its multi-statement jobs against a transactional service; on
raw object storage the discipline must come from the layout.

This module adds the missing rung: a **warehouse-root manifest**.

Layout::

    warehouse_root/
      _TXN/                  # itself a pointer table (core/commit.py)
        _POINTER             # names the live manifest version
        v-000001/manifest.json
        v-000002/manifest.json
      omop/person/           # ordinary pointer tables
        _POINTER  _PINS  v-000001/ ...

A manifest is a tiny JSON object pinning every participating table to
one of its version dirs::

    {"txn_tables": {"omop/person": 4, "omop/visit_occurrence": 7}}

Commit protocol (:class:`WarehouseTransaction`):

1. ``begin`` records the live manifest and its version (the optimistic-
   concurrency token);
2. each ``txn.write`` runs a NORMAL per-table pointer commit — the
   table's own pointer flips immediately (``Warehouse.read`` is
   read-uncommitted by design), and the base version is temporarily
   pinned so retention can't prune the rollback target mid-txn;
3. ``commit`` publishes the new manifest through ``pointer_commit`` on
   ``_TXN`` — ONE atomic pointer replace covers every table.  The
   optimistic check (manifest unmoved since ``begin``) runs INSIDE the
   manifest commit's lock, so two overlapping transactions resolve to
   exactly one winner and one clean :class:`ConcurrentCommitError`;
4. after publish, every version named by any RETAINED manifest is
   pinned in its table's ``_PINS`` file — a later table-level
   write/compact can never prune a snapshot some consistent view still
   resolves;
5. ``rollback`` (explicit, or automatic when the ``with`` block
   raises) repoints every written table back to its base version —
   zero data I/O.

Reader semantics:

- ``Warehouse.read``           → read-uncommitted (live table pointer);
- ``Warehouse.read_snapshot``  → the live manifest's consistent view —
  unaffected by any in-flight transaction;
- ``Warehouse.read_snapshot(..., txn=N)`` → time travel to manifest N
  (any retained transaction), the WHOLE warehouse as of that commit.

Crash recovery: a writer that dies after step 2 but before step 3
leaves table pointers ahead of the manifest.  Snapshot readers are
unaffected (the manifest never moved); :meth:`Warehouse.txn_recover`
repoints every manifest table whose live version drifted back to the
manifest's version — turning the half-run into a no-op.

At 100 TB none of this touches data: manifests are bytes-sized JSON,
commits and rollbacks are single-object replaces, and snapshot reads
resolve straight to immutable parquet version dirs (no copy, no lock
held while reading).  Parity target is the Iceberg/Delta snapshot
discipline re-expressed minimally; no reference equivalent
(etl/bigquery/etl.py relies on the warehouse service's atomicity).
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_TXN_DIR = "_TXN"
_MANIFEST = "manifest.json"
_KEY = "txn_tables"


def _txn_path(wh) -> str:
    return wh._join(_TXN_DIR)


def _read_manifest_dir(fs, d: str) -> dict[str, int]:
    text = fs.read_text(d.rstrip("/") + "/" + _MANIFEST)
    data = json.loads(text)
    return {str(k): int(v) for k, v in data.get(_KEY, {}).items()}


def live_manifest(wh) -> tuple[int | None, dict[str, int]]:
    """(live txn id, table→version map) — (None, {}) before the first
    transaction commits.  One pointer read: the returned id and tables
    always belong to the SAME manifest even under a concurrent
    commit's flip (a current_version + resolve_pointer pair could
    straddle it and mislabel the view)."""
    from ..core.commit import _vdir, current_version, fs_for

    tp = _txn_path(wh)
    v = current_version(tp)
    if v is None:
        return None, {}
    return v, _read_manifest_dir(fs_for(tp), _vdir(tp, v))


def manifest_at(wh, txn: int) -> dict[str, int]:
    """The table→version map of a specific retained transaction."""
    from ..core.commit import _vdir, fs_for, high_water

    tp = _txn_path(wh)
    hw = high_water(tp)
    fs = fs_for(tp)
    d = _vdir(tp, txn)
    if hw is None or txn > hw or not fs.isdir(d):
        raise ValueError(
            f"warehouse has no transaction {txn}; retained: "
            f"{list_txns(wh)}"
        )
    return _read_manifest_dir(fs, d)


def list_txns(wh) -> list[int]:
    """Retained transaction ids, oldest first."""
    from ..core.commit import fs_for, high_water, list_versions

    tp = _txn_path(wh)
    hw = high_water(tp)
    if hw is None:
        return []
    fs = fs_for(tp)
    out = []
    for v in list_versions(tp):
        if v <= hw and fs.isfile(
            _vdir_manifest(tp, v)
        ):
            out.append(v)
    return out


def _vdir_manifest(tp: str, v: int) -> str:
    from ..core.commit import _vdir

    return _vdir(tp, v).rstrip("/") + "/" + _MANIFEST


def _refresh_pins(wh, touched: set[str]) -> None:
    """Re-derive every table's ``_PINS`` from the RETAINED manifests.

    ``touched`` is the set of table keys that may need their pins
    cleared even if no retained manifest names them anymore (tables
    written or dropped by the just-committed/rolled-back txn)."""
    from ..core.commit import write_pins

    pins: dict[str, set[int]] = {}
    for t in list_txns(wh):
        for key, ver in manifest_at(wh, t).items():
            pins.setdefault(key, set()).add(ver)
    for key in touched | set(pins):
        zone, _, table = key.partition("/")
        write_pins(wh.path(zone, table), pins.get(key, set()))


class WarehouseTransaction:
    """One atomic multi-table commit — see the module docstring.

    Use through :meth:`Warehouse.transaction` (commits on clean exit,
    rolls back when the block raises) or drive ``begin``/``write``/
    ``commit``/``rollback`` directly via :meth:`Warehouse.begin`.
    """

    def __init__(self, wh, keep: int | None = None):
        if wh.commit_mode != "pointer":
            raise ValueError(
                "transactions need commit_mode='pointer' (the manifest "
                "pins immutable version dirs; rename-mode tables have "
                "none)"
            )
        self._wh = wh
        self._keep = keep
        self._base_txn, self._base = live_manifest(wh)
        self._pending: dict[str, int] = {}
        self._dropped: set[str] = set()
        self._done = False

    # -- writes -----------------------------------------------------------
    def _key(self, zone: str, table: str) -> str:
        return f"{zone}/{table}"

    def write(
        self,
        df: DataFrame,
        zone: str,
        table: str,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Stage one table: a normal per-table pointer commit (the
        table's own pointer flips now — snapshot readers stay on the
        manifest), recorded for the manifest publish.  Returns the
        staged version number."""
        from ..core.commit import current_version, read_pins, write_pins

        self._check_open()
        key = self._key(zone, table)
        target = self._wh.path(zone, table)
        base_v = current_version(target)
        self._wh.write(
            df, zone, table, cluster_by=cluster_by, zorder_by=zorder_by
        )
        new_v = current_version(target)
        if base_v is not None and key not in self._pending:
            # guard the rollback target from retention until the txn
            # resolves (commit/rollback re-derives pins properly)
            write_pins(target, read_pins(target) | {base_v})
        self._pending[key] = new_v
        self._dropped.discard(key)
        return new_v

    def include(self, zone: str, table: str) -> int:
        """Record the table's CURRENT live version in the manifest
        WITHOUT writing — the sealing path for pipelines that already
        wrote through the plain ``Warehouse`` API during a run (the
        ETL's end-of-run seal).  Returns the recorded version."""
        from ..core.commit import current_version

        self._check_open()
        target = self._wh.path(zone, table)
        v = current_version(target)
        if v is None:
            raise ValueError(
                f"{zone}.{table} is not a pointer table (no version to "
                "record); write it through pointer mode first"
            )
        key = self._key(zone, table)
        self._pending[key] = v
        self._dropped.discard(key)
        return v

    def drop(self, zone: str, table: str) -> None:
        """Logically drop a table from the manifest.  The files stay
        (older manifests may still resolve them); physical removal is
        ``Warehouse.drop`` once no retained manifest names the table."""
        self._check_open()
        key = self._key(zone, table)
        self._pending.pop(key, None)
        self._dropped.add(key)

    # -- resolution -------------------------------------------------------
    def commit(self) -> int:
        """Publish the manifest — the one atomic replace that makes
        every staged table visible to snapshot readers together.
        Returns the transaction id.  Raises
        :class:`~..core.commit.ConcurrentCommitError` if another
        transaction committed since ``begin`` (the loser's staged
        versions are rolled back to base)."""
        from ..core.commit import (
            ConcurrentCommitError,
            current_version,
            fs_for,
            pointer_commit,
        )

        self._check_open()
        tables = {k: v for k, v in self._base.items() if k not in self._dropped}
        tables.update(self._pending)
        tp = _txn_path(self._wh)
        fs = fs_for(tp)

        def write_fn(d: str) -> None:
            # optimistic-concurrency check INSIDE the manifest lock:
            # the manifest must not have moved since begin()
            if current_version(tp) != self._base_txn:
                raise ConcurrentCommitError(
                    f"another transaction committed to {self._wh.root} "
                    f"since this one began (manifest moved from "
                    f"{self._base_txn}); aborting — staged tables roll "
                    "back to their base versions"
                )
            fs.mkdirs(d)
            fs.write_text_atomic(
                d.rstrip("/") + "/" + _MANIFEST,
                json.dumps({_KEY: tables}, sort_keys=True),
            )

        try:
            txn_id = pointer_commit(write_fn, tp, keep=self._keep)
        except ConcurrentCommitError:
            self.rollback()
            raise
        self._done = True
        _refresh_pins(
            self._wh, set(tables) | set(self._base) | self._dropped
        )
        return txn_id

    def rollback(self) -> None:
        """Repoint every written table back to its base version (zero
        data I/O).  Tables that did not exist before the transaction
        keep their files but stay out of every manifest."""
        from ..core.commit import repoint

        if self._done:
            return
        self._done = True
        for key in self._pending:
            base_v = self._base.get(key)
            zone, _, table = key.partition("/")
            if base_v is not None:
                repoint(self._wh.path(zone, table), base_v)
        _refresh_pins(self._wh, set(self._pending) | set(self._base))

    def _check_open(self) -> None:
        if self._done:
            raise RuntimeError("transaction already committed/rolled back")


@contextmanager
def transaction(wh, keep: int | None = None):
    """``with wh.transaction() as txn:`` — commit on clean exit,
    rollback when the block raises."""
    txn = WarehouseTransaction(wh, keep=keep)
    try:
        yield txn
    except BaseException:
        txn.rollback()
        raise
    txn.commit()


def read_snapshot(
    wh, spark: SparkSession, zone: str, table: str, txn: int | None = None
) -> DataFrame:
    """Read a table through the manifest — the consistent cross-table
    view (live manifest, or transaction ``txn`` for time travel)."""
    from ..core.commit import _vdir

    if txn is None:
        txn, tables = live_manifest(wh)
        if txn is None:
            raise FileNotFoundError(
                f"warehouse {wh.root} has no committed transaction yet"
            )
    else:
        tables = manifest_at(wh, txn)
    key = f"{zone}/{table}"
    if key not in tables:
        raise ValueError(
            f"transaction {txn} does not include {key}; tables: "
            f"{sorted(tables)}"
        )
    return wh.read_version_dir(spark, _vdir(wh.path(zone, table), tables[key]))


def txn_recover(wh) -> dict[str, int]:
    """Reconcile table pointers with the live manifest after a crashed
    transaction: every manifest table whose live version drifted is
    repointed back to the manifest's version (zero data I/O).  Returns
    the table→version map that was restored.  Call this only when no
    transaction is legitimately in flight — it rolls back any
    uncommitted per-table writes on manifest tables."""
    from ..core.commit import current_version, repoint

    _, tables = live_manifest(wh)
    restored: dict[str, int] = {}
    for key, ver in tables.items():
        zone, _, table = key.partition("/")
        target = wh.path(zone, table)
        if current_version(target) != ver:
            repoint(target, ver)
            restored[key] = ver
    return restored
