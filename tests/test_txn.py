"""Multi-table transaction layer (pipeline/txn.py, r13): one manifest
publish makes every staged table visible together — snapshot readers
see all-old or all-new, never a torn cross-table view; rollback and
crash recovery are zero-I/O pointer flips; retained manifests pin
their versions against table-level retention pruning."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rabbit_in_a_blender_spark.core.commit import (
    ConcurrentCommitError,
    current_version,
    list_versions,
    read_pins,
)
from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse


def _rows(spark, lo, hi):
    return spark.range(lo, hi).withColumn("v", F.col("id") * 2)


def _ids(df):
    return sorted(r["id"] for r in df.collect())


def test_txn_commit_is_all_or_nothing_for_snapshot_readers(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 10), "omop", "a")
        txn.write(_rows(spark, 100, 105), "omop", "b")
    assert wh.list_txns() == [1]
    assert wh.snapshot() == {"omop/a": 1, "omop/b": 1}
    assert _ids(wh.read_snapshot(spark, "omop", "a")) == list(range(10))
    assert _ids(wh.read_snapshot(spark, "omop", "b")) == list(range(100, 105))

    # second txn: crash after ONE table is staged -> snapshot readers
    # still see txn 1 on BOTH tables (no torn view)
    txn2 = wh.begin()
    txn2.write(_rows(spark, 0, 3), "omop", "a")
    assert wh.read(spark, "omop", "a").count() == 3  # read-uncommitted
    assert _ids(wh.read_snapshot(spark, "omop", "a")) == list(range(10))
    assert _ids(wh.read_snapshot(spark, "omop", "b")) == list(range(100, 105))
    # simulated process death: the txn object is abandoned; recovery
    # repoints the drifted table back to the manifest
    restored = wh.txn_recover()
    assert restored == {"omop/a": 1}
    assert wh.read(spark, "omop", "a").count() == 10

    # a fresh txn over both tables commits and flips the view together
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 4), "omop", "a")
        txn.write(_rows(spark, 200, 202), "omop", "b")
    assert _ids(wh.read_snapshot(spark, "omop", "a")) == list(range(4))
    assert _ids(wh.read_snapshot(spark, "omop", "b")) == [200, 201]
    # time travel: the whole warehouse as of txn 1
    assert _ids(wh.read_snapshot(spark, "omop", "a", txn=1)) == list(range(10))
    assert _ids(wh.read_snapshot(spark, "omop", "b", txn=1)) == list(
        range(100, 105)
    )


def test_txn_rollback_on_exception_repoints_tables(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 5), "omop", "t")
    with pytest.raises(RuntimeError, match="boom"):
        with wh.transaction() as txn:
            txn.write(_rows(spark, 50, 60), "omop", "t")
            assert wh.read(spark, "omop", "t").count() == 10
            raise RuntimeError("boom")
    # rolled back: live pointer AND manifest both back on v1
    assert wh.read(spark, "omop", "t").count() == 5
    assert wh.snapshot() == {"omop/t": 1}
    assert wh.list_txns() == [1]
    # a table that never existed before the failed txn stays out of the
    # manifest but keeps its files (harmless; rewritten next txn)
    with pytest.raises(RuntimeError, match="boom"):
        with wh.transaction() as txn:
            txn.write(_rows(spark, 0, 2), "omop", "new_t")
            raise RuntimeError("boom")
    assert "omop/new_t" not in wh.snapshot()


def test_txn_optimistic_concurrency_one_winner(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 5), "omop", "t")

    t1 = wh.begin()
    t2 = wh.begin()
    t1.write(_rows(spark, 10, 20), "omop", "t")
    first_txn = t1.commit()
    assert first_txn == 2
    t2.write(_rows(spark, 500, 503), "omop", "t")
    with pytest.raises(ConcurrentCommitError, match="another transaction"):
        t2.commit()
    # the loser rolled back to ITS base (v1, the pre-t1 manifest);
    # txn_recover reconciles the pointer to the winner's live manifest
    wh.txn_recover()
    assert wh.snapshot() == {"omop/t": 2}
    assert _ids(wh.read_snapshot(spark, "omop", "t")) == list(range(10, 20))
    assert wh.read(spark, "omop", "t").count() == 10


def test_txn_pins_protect_manifest_versions_from_pruning(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 7), "omop", "t")
    target = wh.path("omop", "t")
    assert read_pins(target) == {1}
    # a storm of PLAIN writes (default keep=3) must not prune v1 while
    # the retained manifest still names it
    for i in range(6):
        wh.write(_rows(spark, 0, i + 1), "omop", "t")
    assert 1 in list_versions(target)
    assert _ids(wh.read_snapshot(spark, "omop", "t")) == list(range(7))
    # once enough TRANSACTIONS retire the manifest (keep=3 manifests by
    # default), the pin moves on and table pruning may reclaim v1
    for i in range(3):
        with wh.transaction() as txn:
            txn.write(_rows(spark, 0, 20 + i), "omop", "t")
    assert 1 not in read_pins(target)
    wh.write(_rows(spark, 0, 50), "omop", "t")
    assert 1 not in list_versions(target)


def test_txn_drop_is_logical_until_manifests_retire(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 5), "omop", "a")
        txn.write(_rows(spark, 0, 9), "omop", "b")
    with wh.transaction() as txn:
        txn.drop("omop", "b")
        txn.write(_rows(spark, 0, 6), "omop", "a")
    assert wh.snapshot() == {"omop/a": 2}
    with pytest.raises(ValueError, match="does not include"):
        wh.read_snapshot(spark, "omop", "b")
    # the old manifest still resolves the dropped table (time travel)
    assert _ids(wh.read_snapshot(spark, "omop", "b", txn=1)) == list(range(9))
    assert wh.exists("omop", "b")  # physical files untouched


def test_txn_tracks_versions(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wp"))
    txn = wh.begin()
    v = txn.write(_rows(spark, 0, 3), "omop", "t")
    assert v == current_version(wh.path("omop", "t")) == 1
    assert txn.commit() == 1
    with pytest.raises(RuntimeError, match="already committed"):
        txn.write(_rows(spark, 0, 1), "omop", "t")
    with pytest.raises(ValueError, match="no transaction 9"):
        wh.snapshot(txn=9)


def test_txn_on_uri_root_through_hadoop_fs(spark, tmp_path):
    """The whole transaction lifecycle on a file:// URI root — every
    manifest/pin/pointer operation routed through the session's Hadoop
    FileSystem (the same JVM connector stack an hdfs:// or s3a://
    warehouse resolves)."""
    wh = Warehouse("file://" + str(tmp_path / "uri_txn_wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 8), "omop", "a")
        txn.write(_rows(spark, 50, 53), "omop", "b")
    assert wh.list_txns() == [1]
    assert wh.snapshot() == {"omop/a": 1, "omop/b": 1}
    assert _ids(wh.read_snapshot(spark, "omop", "a")) == list(range(8))

    # crash mid-txn, recover, then a clean second txn
    txn2 = wh.begin()
    txn2.write(_rows(spark, 900, 905), "omop", "a")
    assert _ids(wh.read_snapshot(spark, "omop", "a")) == list(range(8))
    assert wh.txn_recover() == {"omop/a": 1}
    with wh.transaction() as txn:
        txn.write(_rows(spark, 10, 12), "omop", "a")
    assert _ids(wh.read_snapshot(spark, "omop", "a")) == [10, 11]
    assert _ids(wh.read_snapshot(spark, "omop", "a", txn=1)) == list(range(8))
    # pins survive on the URI route too
    assert read_pins(wh.path("omop", "a")) >= {1}


def test_vacuum_reclaims_orphans_and_respects_pins(spark, tmp_path):
    """r13 vacuum: crash orphans and beyond-retention versions are
    reclaimed without a commit; the live version and manifest-pinned
    versions survive; retiring old transactions (manifest retention)
    is what releases their pins."""
    from rabbit_in_a_blender_spark.core.commit import pointer_commit

    wh = Warehouse(str(tmp_path / "wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 7), "omop", "t")
    target = wh.path("omop", "t")
    # plain-write storm + a crash orphan
    for i in range(4):
        wh.write(_rows(spark, 0, i + 1), "omop", "t")

    def crashy(d):
        _rows(spark, 0, 99).write.mode("overwrite").parquet(d)
        raise RuntimeError("simulated crash before publish")

    with pytest.raises(RuntimeError, match="simulated crash"):
        pointer_commit(crashy, target)
    orphan = max(list_versions(target))
    report = wh.vacuum()
    assert orphan not in list_versions(target)
    assert 1 in list_versions(target)  # pinned by the live manifest
    d, b = report["omop/t"]
    assert d >= 1 and b > 0
    assert _ids(wh.read_snapshot(spark, "omop", "t")) == list(range(7))
    assert wh.read(spark, "omop", "t").count() == 4  # live untouched

    # three more transactions retire manifest 1 (default keep=3); the
    # NEXT vacuum releases v1's pin and reclaims it
    for i in range(3):
        with wh.transaction() as txn:
            txn.write(_rows(spark, 0, 10 + i), "omop", "t")
    report2 = wh.vacuum()
    assert 1 not in list_versions(target)
    assert wh.list_txns() == [2, 3, 4]
    # everything still resolves: live + each retained txn
    for t in wh.list_txns():
        assert wh.read_snapshot(spark, "omop", "t", txn=t).count() >= 0


def test_at_snapshot_is_a_frozen_readonly_view(spark, tmp_path):
    """r13: at_snapshot() freezes one manifest — reads stay on it while
    the live warehouse moves on; writes through the view raise."""
    wh = Warehouse(str(tmp_path / "wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 6), "omop", "a")
        txn.write(_rows(spark, 0, 3), "omop", "b")
    snap = wh.at_snapshot()
    assert snap.txn == 1
    assert snap.list_tables("omop") == ["a", "b"]
    assert snap.exists("omop", "a") and not snap.exists("omop", "zzz")
    # the live warehouse moves on; the view does not
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 50), "omop", "a")
    assert _ids(snap.read(spark, "omop", "a")) == list(range(6))
    assert wh.at_snapshot().read(spark, "omop", "a").count() == 50
    assert wh.at_snapshot(txn=1).read(spark, "omop", "a").count() == 6
    with pytest.raises(TypeError, match="read-only"):
        snap.write(_rows(spark, 0, 1), "omop", "a")
    with pytest.raises(FileNotFoundError, match="not in transaction"):
        snap.read(spark, "omop", "zzz")
    # a warehouse with no committed transaction has no snapshot
    empty = Warehouse(str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError, match="no committed transaction"):
        empty.at_snapshot()


def test_txn_concurrent_snapshot_readers_never_see_torn_views(tmp_path):
    """Soak (r13): a writer commits 30 transactions (two tables, same
    payload per txn) while 3 reader threads hammer the manifest; every
    observed view must be SOME committed state with both tables
    agreeing — never a torn mix, never a half-published manifest."""
    import os
    import threading

    from rabbit_in_a_blender_spark.core.commit import _vdir, pointer_commit
    from rabbit_in_a_blender_spark.pipeline.txn import live_manifest

    wh = Warehouse(str(tmp_path / "wh"))

    def put(table, payload):
        def wf(d):
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "payload.txt"), "w") as f:
                f.write(str(payload))

        pointer_commit(wf, wh.path("omop", table))

    stop = threading.Event()
    errors: list[str] = []

    def reader():
        while not stop.is_set():
            try:
                _, tables = live_manifest(wh)
            except FileNotFoundError:
                continue
            if not tables:
                continue
            seen = {}
            for key, ver in tables.items():
                zone, _, table = key.partition("/")
                p = os.path.join(
                    _vdir(wh.path(zone, table), ver), "payload.txt"
                )
                try:
                    with open(p) as f:
                        seen[key] = f.read()
                except FileNotFoundError:
                    errors.append(f"pinned version vanished: {p}")
                    return
            if len(set(seen.values())) > 1:
                errors.append(f"torn view: {seen}")
                return

    threads = [threading.Thread(target=reader) for _ in range(3)]
    for t in threads:
        t.start()
    try:
        for n in range(1, 31):
            txn = wh.begin()
            put("a", n)
            txn.include("omop", "a")
            put("b", n)
            txn.include("omop", "b")
            txn.commit()
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=30)
    assert errors == []
    assert live_manifest(wh)[1] == {"omop/a": 30, "omop/b": 30}


def test_register_views_live_and_snapshot(spark, tmp_path):
    """r13: spark.sql ergonomics — live views re-resolve the pointer at
    registration; snapshot views stay pinned to their manifest."""
    wh = Warehouse(str(tmp_path / "wh"))
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 9), "omop", "a")
    snap = wh.at_snapshot()
    assert snap.register_views(spark, prefix="t1") == ["t1_a"]
    with wh.transaction() as txn:
        txn.write(_rows(spark, 0, 4), "omop", "a")
    assert wh.register_views(spark) == ["omop_a"]
    assert spark.sql("SELECT COUNT(*) c FROM omop_a").collect()[0]["c"] == 4
    assert spark.sql("SELECT COUNT(*) c FROM t1_a").collect()[0]["c"] == 9
    assert spark.sql(
        "SELECT SUM(v) s FROM t1_a WHERE id < 3"
    ).collect()[0]["s"] == 6
    for v in ("omop_a", "t1_a"):
        spark.catalog.dropTempView(v)


def test_analyze_table_stats_and_staleness(spark, tmp_path):
    """r13 stats: one-pass profile persisted as _STATS, stamped with
    the pointer version — a later write invalidates it detectably;
    suggest_broadcast sizes from fresh stats only."""
    from rabbit_in_a_blender_spark.pipeline.stats import (
        analyze_table,
        suggest_broadcast,
        table_stats,
    )

    wh = Warehouse(str(tmp_path / "wh"))
    df = _rows(spark, 0, 100).withColumn(
        "grp", F.col("id") % 10
    ).withColumn("maybe", F.when(F.col("id") % 4 == 0, F.col("id")))
    wh.write(df, "omop", "t")
    stats = analyze_table(wh, spark, "omop", "t", exact=True)
    assert stats["n_rows"] == 100 and stats["n_bytes"] > 0
    assert stats["version"] == 1
    assert stats["columns"]["grp"]["ndv"] == 10
    assert stats["columns"]["maybe"]["nulls"] == 75
    assert stats["columns"]["id"]["min"] == "0"
    assert stats["columns"]["id"]["max"] == "99"
    # read-back + broadcast sizing
    assert table_stats(wh, "omop", "t") == stats
    assert suggest_broadcast(wh, "omop", "t") is True
    assert suggest_broadcast(wh, "omop", "t", threshold_bytes=1) is False
    # a write moves the pointer: stats are STALE, not silently wrong
    wh.write(_rows(spark, 0, 5), "omop", "t")
    assert table_stats(wh, "omop", "t") is None
    assert suggest_broadcast(wh, "omop", "t") is None
    # re-analyze with approximate ndv (the scale path)
    stats2 = analyze_table(wh, spark, "omop", "t")
    assert stats2["n_rows"] == 5 and not stats2["exact_ndv"]
    assert table_stats(wh, "omop", "t")["version"] == 2
