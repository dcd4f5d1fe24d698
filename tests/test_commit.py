"""Pointer-swap commit protocol (core/commit.py, VERDICT r11 task 2):
old-or-new at every instant, crash between stage and publish leaves the
old table live, versioning/restore on pointer tables, and the
compact_parquet_dir safety contract (ADVICE r11: quiesce enforcement,
partition-layout validation, crash-window recovery)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rabbit_in_a_blender_spark.core.commit import (
    current_version,
    is_pointer_table,
    list_versions,
    pointer_commit,
    resolve_pointer,
)
from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse


def _rows(spark, lo, hi):
    return spark.range(lo, hi).withColumn("v", F.col("id") * 2)


def test_pointer_commit_crash_between_stage_and_publish(spark, tmp_path):
    """The task-2 'Done' pin: a crash AFTER the new data is fully
    staged but BEFORE the pointer flips leaves readers on the OLD
    version — never half, never ENOENT — and the next commit sweeps
    the orphan."""
    t = str(tmp_path / "t")
    pointer_commit(
        lambda d: _rows(spark, 0, 10).write.mode("overwrite").parquet(d), t
    )
    old_rows = sorted(r["id"] for r in spark.read.parquet(resolve_pointer(t)).collect())
    assert old_rows == list(range(10))

    def crashy(d):
        _rows(spark, 100, 120).write.mode("overwrite").parquet(d)
        raise RuntimeError("simulated crash before publish")

    with pytest.raises(RuntimeError, match="simulated crash"):
        pointer_commit(crashy, t)
    # reader resolution unchanged: old version still live, path never absent
    assert current_version(t) == 1
    assert sorted(
        r["id"] for r in spark.read.parquet(resolve_pointer(t)).collect()
    ) == list(range(10))
    # orphan staged dir exists now, is swept by the next commit
    assert 2 in list_versions(t)
    pointer_commit(
        lambda d: _rows(spark, 200, 205).write.mode("overwrite").parquet(d), t
    )
    assert current_version(t) == 2
    assert sorted(
        r["id"] for r in spark.read.parquet(resolve_pointer(t)).collect()
    ) == list(range(200, 205))


def test_warehouse_pointer_mode_roundtrip_and_conversion(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write(_rows(spark, 0, 50), "work", "t1")
    assert wh.exists("work", "t1")
    assert is_pointer_table(wh.path("work", "t1"))
    assert wh.read(spark, "work", "t1").count() == 50
    # replace: readers resolve the new version
    wh.write(_rows(spark, 0, 7), "work", "t1")
    assert wh.read(spark, "work", "t1").count() == 7
    # append lands in the live version dir
    wh.append(_rows(spark, 100, 103), "work", "t1")
    assert wh.read(spark, "work", "t1").count() == 10

    # a legacy plain table dir is readable, converts on its first
    # write, and stays readable through the same Warehouse API
    plain = wh.path("work", "plain")
    _rows(spark, 0, 5).write.parquet(plain)
    assert not is_pointer_table(plain)
    assert wh.read(spark, "work", "plain").count() == 5
    wh.write(_rows(spark, 0, 9), "work", "plain")
    assert is_pointer_table(plain)
    assert wh.read(spark, "work", "plain").count() == 9
    # the loose files are gone; the next replace is a plain commit
    assert not [f for f in os.listdir(plain) if f.endswith(".parquet")]
    wh.write(_rows(spark, 0, 4), "work", "plain")
    assert is_pointer_table(plain)
    assert wh.read(spark, "work", "plain").count() == 4


def test_append_converts_a_legacy_plain_dir(spark, tmp_path):
    """The first append to a legacy plain dir commits old rows plus new
    as the table's first version."""
    wh = Warehouse(str(tmp_path / "wh"))
    plain = wh.path("work", "log")
    _rows(spark, 0, 5).write.parquet(plain)
    wh.append(_rows(spark, 5, 8), "work", "log")
    assert is_pointer_table(plain)
    got = sorted(r["id"] for r in wh.read(spark, "work", "log").collect())
    assert got == list(range(8))


def test_read_partitions_that_are_pointer_tables(spark, tmp_path):
    """A table whose key=value partitions are each a pointer table (the
    ETL's id map) reads each partition's LIVE version once — the
    retained versions beside it are history — with the partition
    column rediscovered."""
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write(_rows(spark, 0, 3), "work", "m/part=a")
    for n in (5, 4, 2):  # b: written, then rewritten twice
        wh.write(_rows(spark, 0, n), "work", "m/part=b")
    assert len(list_versions(wh.path("work", "m/part=b"))) == 3
    got = sorted((r["part"], r["id"]) for r in wh.read(spark, "work", "m").collect())
    assert got == [("a", 0), ("a", 1), ("a", 2), ("b", 0), ("b", 1)]


def test_warehouse_pointer_versioning_and_restore(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "whv"))
    assert wh.write_versioned(_rows(spark, 0, 3), "work", "t") is None
    assert wh.write_versioned(_rows(spark, 0, 5), "work", "t") == 1
    assert wh.write_versioned(_rows(spark, 0, 8), "work", "t") == 2
    assert wh.read(spark, "work", "t").count() == 8
    assert wh.read_version(spark, "work", "t", 1).count() == 3
    assert wh.read_version(spark, "work", "t", 2).count() == 5
    with pytest.raises(ValueError, match="no version 99"):
        wh.read_version(spark, "work", "t", 99)
    # restore makes v1's rows live again (as a NEW version)
    wh.restore_version(spark, "work", "t", 1)
    assert wh.read(spark, "work", "t").count() == 3
    # keep pruning: many writes retain only live + keep snapshots
    for i in range(5):
        wh.write_versioned(_rows(spark, 0, 10 + i), "work", "t", keep=2)
    vs = list_versions(wh.path("work", "t"))
    assert len(vs) == 3  # live + 2 snapshots
    assert current_version(wh.path("work", "t")) == max(vs)


def test_compact_pointer_table_and_plain_refusal(spark, tmp_path):
    from rabbit_in_a_blender_spark.core.fsio import compact_parquet_dir

    wh = Warehouse(str(tmp_path / "whc"))
    wh.write(_rows(spark, 0, 100).repartition(8), "work", "decayed")
    for i in range(4):
        wh.append(_rows(spark, 100 + i * 10, 110 + i * 10).repartition(4),
                  "work", "decayed")
    t = wh.path("work", "decayed")
    rows_before = sorted(r["id"] for r in wh.read(spark, "work", "decayed").collect())
    before, after = compact_parquet_dir(spark, t)
    assert after < before
    assert is_pointer_table(t)
    rows_after = sorted(r["id"] for r in wh.read(spark, "work", "decayed").collect())
    assert rows_after == rows_before
    # a plain dir at a URI raises (directory renames are not atomic on
    # object stores)
    plain = str(tmp_path / "plain")
    _rows(spark, 0, 10).write.parquet(plain)
    with pytest.raises(ValueError, match="plain directory at a URI"):
        compact_parquet_dir(spark, "file://" + plain)


def test_compact_partition_layout_validation(spark, tmp_path):
    from rabbit_in_a_blender_spark.core.fsio import compact_parquet_dir

    part = str(tmp_path / "part")
    for i in range(3):
        _rows(spark, i * 20, (i + 1) * 20).withColumn(
            "cell", F.col("id") % 2
        ).write.mode("append").partitionBy("cell").parquet(part)
    # typo'd key raises instead of silently unpartitioning (ADVICE r11)
    with pytest.raises(ValueError, match="does not match the discovered"):
        compact_parquet_dir(spark, part, partition_by=["centroidd_id"])
    # omitted partition_by preserves the discovered layout
    b, a = compact_parquet_dir(spark, part)
    assert a <= b
    assert sorted(
        d for d in os.listdir(part) if d.startswith("cell=")
    ) == ["cell=0", "cell=1"]
    # nested layout (the streaming IVFADC batch=*/centroid_id=* shape)
    nested = str(tmp_path / "nested")
    for b_id in range(2):
        _rows(spark, b_id * 10, (b_id + 1) * 10).withColumn(
            "cell", F.col("id") % 2
        ).withColumn("batch", F.lit(b_id)).write.mode("append").partitionBy(
            "batch", "cell"
        ).parquet(nested)
    nb, na = compact_parquet_dir(spark, nested)
    assert sorted(
        d for d in os.listdir(nested) if d.startswith("batch=")
    ) == ["batch=0", "batch=1"]
    assert spark.read.parquet(nested).count() == 20
    # single-level partition_by over the nested layout refuses too
    for i in range(2):
        _rows(spark, 500 + i, 501 + i).withColumn(
            "cell", F.col("id") % 2
        ).withColumn("batch", F.lit(9)).write.mode("append").partitionBy(
            "batch", "cell"
        ).parquet(nested)
    with pytest.raises(ValueError, match="does not match the discovered"):
        compact_parquet_dir(spark, nested, partition_by=["cell"])


def test_compact_aborts_on_concurrent_writer(spark, tmp_path, monkeypatch):
    """ADVICE r11: files appended between the initial listing and the
    swap must NOT be silently deleted — the swap aborts and the
    original dir (old files included) survives."""
    import rabbit_in_a_blender_spark.core.fsio as fsio

    flat = str(tmp_path / "flat")
    for i in range(3):
        _rows(spark, i * 10, (i + 1) * 10).repartition(2).write.mode(
            "append"
        ).parquet(flat)
    n_before = spark.read.parquet(flat).count()
    orig = fsio._walk_parquet
    calls = {"n": 0}

    def racy(p):
        out = orig(p)
        calls["n"] += 1
        if calls["n"] == 2:  # the post-stage quiesce re-check
            return out + ["/phantom/concurrent-append.parquet"]
        return out

    monkeypatch.setattr(fsio, "_walk_parquet", racy)
    with pytest.raises(RuntimeError, match="changed during compaction"):
        fsio.compact_parquet_dir(spark, flat)
    monkeypatch.setattr(fsio, "_walk_parquet", orig)
    # original intact, staging cleaned up
    assert spark.read.parquet(flat).count() == n_before
    assert not os.path.isdir(flat + ".__staging__")


def test_compact_recovers_crash_window_and_refuses_stream_log(spark, tmp_path):
    from rabbit_in_a_blender_spark.core.fsio import (
        compact_parquet_dir,
        recover_parquet_dir,
    )

    flat = str(tmp_path / "flat")
    _rows(spark, 0, 30).repartition(3).write.parquet(flat)
    # simulate a crash between the two renames: path absent, .__old__ left
    os.rename(flat, flat + ".__old__")
    assert recover_parquet_dir(flat)
    assert spark.read.parquet(flat).count() == 30
    # and compact itself auto-recovers before starting
    os.rename(flat, flat + ".__old__")
    b, a = compact_parquet_dir(spark, flat)
    assert spark.read.parquet(flat).count() == 30
    # an active file-sink commit log is refused
    os.makedirs(os.path.join(flat, "_spark_metadata"))
    with pytest.raises(ValueError, match="_spark_metadata"):
        compact_parquet_dir(spark, flat)


def test_compact_pointer_aborts_on_concurrent_writer(spark, tmp_path, monkeypatch):
    """Pointer-mode compaction must also refuse to publish when the
    live version dir changed mid-compaction: the staged version is left
    unpublished (swept by the next commit) and readers stay on the old
    version."""
    import rabbit_in_a_blender_spark.core.fsio as fsio
    from rabbit_in_a_blender_spark.core.commit import current_version

    wh = Warehouse(str(tmp_path / "wh"))
    wh.write(_rows(spark, 0, 60).repartition(6), "work", "t")
    t = wh.path("work", "t")
    live_before = current_version(t)
    orig = fsio._walk_parquet
    calls = {"n": 0}

    def racy(p):
        out = orig(p)
        calls["n"] += 1
        if calls["n"] == 2:  # the post-stage quiesce re-check
            return out + ["/phantom/concurrent-append.parquet"]
        return out

    monkeypatch.setattr(fsio, "_walk_parquet", racy)
    with pytest.raises(RuntimeError, match="changed during compaction"):
        fsio.compact_parquet_dir(spark, t)
    monkeypatch.setattr(fsio, "_walk_parquet", orig)
    assert current_version(t) == live_before  # pointer never flipped
    assert wh.read(spark, "work", "t").count() == 60
    # and the next commit proceeds normally, sweeping the orphan
    wh.write(_rows(spark, 0, 5), "work", "t")
    assert wh.read(spark, "work", "t").count() == 5


# ---------------------------------------------------------------------------
# r13: Hadoop FileSystem routing + concurrent-writer guard + persisted
# retention (VERDICT r12 tasks 1-2, ADVICE r12 item 1)
# ---------------------------------------------------------------------------


def test_pointer_commit_through_hadoop_fs_uri(spark, tmp_path):
    """VERDICT r12 task 1 'Done' pin: the whole pointer protocol —
    commit, crash, sweep, publish, resolve — executed against a
    ``file://`` URI, which routes every path operation through the
    session's Hadoop FileSystem (the JVM connector stack), not ``os``.
    The same code path serves hdfs:// and s3a:// warehouses."""
    t = "file://" + str(tmp_path / "hfs_table")
    v1 = pointer_commit(
        lambda d: _rows(spark, 0, 10).write.mode("overwrite").parquet(d), t
    )
    assert v1 == 1
    assert is_pointer_table(t)
    live = resolve_pointer(t)
    assert live.startswith("file://")
    assert sorted(r["id"] for r in spark.read.parquet(live).collect()) == list(
        range(10)
    )

    # crash before publish: old version stays live, orphan is swept next
    def crashy(d):
        _rows(spark, 50, 55).write.mode("overwrite").parquet(d)
        raise RuntimeError("simulated crash before publish")

    with pytest.raises(RuntimeError, match="simulated crash"):
        pointer_commit(crashy, t)
    assert current_version(t) == 1
    assert spark.read.parquet(resolve_pointer(t)).count() == 10
    assert 2 in list_versions(t)
    v2 = pointer_commit(
        lambda d: _rows(spark, 100, 103).write.mode("overwrite").parquet(d), t
    )
    assert v2 == 2
    assert spark.read.parquet(resolve_pointer(t)).count() == 3
    # retention pruning works through the JVM route too
    for i in range(5):
        pointer_commit(
            lambda d, i=i: _rows(spark, 0, i + 1).write.parquet(d), t, keep=2
        )
    assert len(list_versions(t)) == 2


def test_pointer_commit_concurrent_writer_raises_cleanly(spark, tmp_path):
    """VERDICT r12 task 2 'Done' pin: two threads commit to one table;
    exactly one wins, the other raises ConcurrentCommitError, and
    nothing that was ever live is deleted."""
    import threading

    from rabbit_in_a_blender_spark.core.commit import ConcurrentCommitError

    t = str(tmp_path / "contended")
    pointer_commit(
        lambda d: _rows(spark, 0, 10).write.mode("overwrite").parquet(d), t
    )
    inside = threading.Barrier(2, timeout=30)
    release = threading.Event()
    results: dict[str, object] = {}

    def slow_write(d):
        _rows(spark, 100, 105).write.mode("overwrite").parquet(d)
        inside.wait()  # signal: the slow commit holds the lock now
        assert release.wait(30)

    def slow_commit():
        try:
            results["slow"] = pointer_commit(slow_write, t)
        except BaseException as e:  # pragma: no cover - surfaced below
            results["slow"] = e

    th = threading.Thread(target=slow_commit)
    th.start()
    inside.wait()  # slow writer is mid-commit, lock held
    with pytest.raises(ConcurrentCommitError, match="in flight"):
        pointer_commit(
            lambda d: _rows(spark, 200, 205).write.parquet(d), t
        )
    # the loser changed nothing: v1 still live
    assert current_version(t) == 1
    assert spark.read.parquet(resolve_pointer(t)).count() == 10
    release.set()
    th.join(timeout=60)
    assert results["slow"] == 2  # the in-flight writer completed its commit
    assert current_version(t) == 2
    assert sorted(
        r["id"] for r in spark.read.parquet(resolve_pointer(t)).collect()
    ) == list(range(100, 105))


def test_pointer_commit_stale_lock_broken_and_takeover_aborts(spark, tmp_path):
    """A lock left by a crashed writer is broken after stale_lock_sec
    (with a warning); and a writer whose lock WAS broken mid-commit
    aborts at the pre-publish ownership re-check instead of publishing
    over the new owner."""
    import warnings as _w

    from rabbit_in_a_blender_spark.core.commit import (
        LOCK,
        ConcurrentCommitError,
    )

    t = str(tmp_path / "stale")
    pointer_commit(lambda d: _rows(spark, 0, 5).write.parquet(d), t)
    # plant a crashed writer's lock, aged past the threshold
    lockp = os.path.join(t, LOCK)
    with open(lockp, "w") as f:
        f.write("dead-writer-token")
    os.utime(lockp, (0, 0))
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        pointer_commit(lambda d: _rows(spark, 0, 7).write.parquet(d), t)
    assert any("stale commit lock" in str(w.message) for w in rec)
    assert spark.read.parquet(resolve_pointer(t)).count() == 7

    # takeover: the lock content changes mid-commit (another writer
    # broke it as stale) -> the zombie must NOT publish
    def hijacked(d):
        _rows(spark, 0, 9).write.parquet(d)
        with open(lockp, "w") as f:
            f.write("new-owner-token")

    live_before = current_version(t)
    with pytest.raises(ConcurrentCommitError, match="taken over"):
        pointer_commit(hijacked, t)
    assert current_version(t) == live_before
    assert spark.read.parquet(resolve_pointer(t)).count() == 7
    os.remove(lockp)  # the hijacker's lock; clean up for the next commit
    pointer_commit(lambda d: _rows(spark, 0, 3).write.parquet(d), t)
    assert spark.read.parquet(resolve_pointer(t)).count() == 3


def test_pointer_retention_persisted_across_plain_writes(spark, tmp_path):
    """ADVICE r12 item 1: a table built with write_versioned(keep=4)
    must not lose snapshots beyond the default 3 on a later PLAIN
    write/compact — the explicit retention is persisted in the pointer
    file and inherited by keep=None commits."""
    from rabbit_in_a_blender_spark.core.commit import table_retention

    wh = Warehouse(str(tmp_path / "whk"))
    for i in range(6):
        wh.write_versioned(_rows(spark, 0, i + 1), "work", "t", keep=4)
    t = wh.path("work", "t")
    assert table_retention(t) == 5  # live + 4 snapshots
    assert len(list_versions(t)) == 5
    # plain writes (keep=None) inherit the persisted retention
    wh.write(_rows(spark, 0, 50), "work", "t")
    wh.write(_rows(spark, 0, 60), "work", "t")
    assert len(list_versions(t)) == 5
    assert table_retention(t) == 5
    # compact() flows through the same inherited retention
    wh.compact(spark, "work", "t")
    assert len(list_versions(t)) == 5
    # and the older snapshots are still readable (time travel intact)
    vs = list_versions(t)
    assert wh.read_version(spark, "work", "t", vs[0]).count() > 0
    # a table with NO persisted retention still defaults to 3
    for i in range(5):
        pointer_commit(
            lambda d, i=i: _rows(spark, 0, i + 1).write.parquet(d),
            str(tmp_path / "plainret"),
        )
    assert len(list_versions(str(tmp_path / "plainret"))) == 3


def test_warehouse_uri_root_pointer_mode_end_to_end(spark, tmp_path):
    """r13: a Warehouse rooted at a URI (file:// here — hdfs://s3a://
    in production) runs the whole table lifecycle through the Hadoop
    FileSystem route: write/read/exists, append, versioned replace +
    time travel + restore, compact, list_tables, drop."""
    root = "file://" + str(tmp_path / "uri_wh")
    wh = Warehouse(root)
    assert not wh.exists("work", "t")
    wh.write(_rows(spark, 0, 40).repartition(4), "work", "t")
    assert wh.exists("work", "t")
    assert is_pointer_table(wh.path("work", "t"))
    assert wh.path("work", "t").startswith("file://")
    assert wh.read(spark, "work", "t").count() == 40
    wh.append(_rows(spark, 100, 105), "work", "t")
    assert wh.read(spark, "work", "t").count() == 45
    # versioned replace: snapshots are version dirs, time travel works
    assert wh.write_versioned(_rows(spark, 0, 7), "work", "t", keep=3) == 1
    assert wh.read(spark, "work", "t").count() == 7
    assert wh.read_version(spark, "work", "t", 1).count() == 45
    wh.restore_version(spark, "work", "t", 1)
    assert wh.read(spark, "work", "t").count() == 45
    # compact through the URI route
    for i in range(3):
        wh.append(_rows(spark, 200 + i, 210 + i).repartition(3), "work", "t")
    n_files = wh.compact(spark, "work", "t")
    assert n_files >= 1
    assert wh.read(spark, "work", "t").count() == 45 + 3 * 10
    # listing + drop
    wh.write(_rows(spark, 0, 3), "work", "other")
    assert wh.list_tables("work") == ["other", "t"]
    wh.drop("work", "t")
    assert wh.list_tables("work") == ["other"]
    assert not wh.exists("work", "t")


def test_compact_parquet_dir_uri_pointer_table(spark, tmp_path):
    """r13: the streaming-sink compaction path works on URI pointer
    tables through the Hadoop FileSystem walker, preserving a
    discovered partition layout; a plain dir at a URI is refused
    (directory renames are not object-store-atomic)."""
    from rabbit_in_a_blender_spark.core.fsio import compact_parquet_dir

    root = "file://" + str(tmp_path / "wh")
    wh = Warehouse(root)
    wh.write(
        _rows(spark, 0, 60)
        .withColumn("cell", F.col("id") % 2)
        .repartition(6),
        "work",
        "t",
    )
    t = wh.path("work", "t")
    for i in range(3):
        _rows(spark, 100 + i * 10, 110 + i * 10).withColumn(
            "cell", F.col("id") % 2
        ).repartition(4).write.mode("append").parquet(resolve_pointer(t))
    rows_before = sorted(r["id"] for r in wh.read(spark, "work", "t").collect())
    before, after = compact_parquet_dir(spark, t)
    assert after < before
    assert sorted(
        r["id"] for r in wh.read(spark, "work", "t").collect()
    ) == rows_before
    plain = str(tmp_path / "plain")
    _rows(spark, 0, 10).write.parquet(plain)
    with pytest.raises(ValueError, match="plain directory at a URI"):
        compact_parquet_dir(spark, "file://" + plain)

    # partitioned layout survives the URI compaction
    wh.write(
        _rows(spark, 0, 40).withColumn("cell", F.col("id") % 2),
        "work",
        "p",
    )
    tp = wh.path("work", "p")
    live = resolve_pointer(tp)
    _rows(spark, 0, 40).withColumn("cell", F.col("id") % 2).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(live)
    b, a = compact_parquet_dir(spark, tp)
    new_live = resolve_pointer(tp)
    from rabbit_in_a_blender_spark.core.commit import fs_for

    names = fs_for(tp).listdir(new_live)
    assert sorted(d for d in names if d.startswith("cell=")) == [
        "cell=0",
        "cell=1",
    ]
    assert spark.read.parquet(new_live).count() == 40


def test_pointer_commit_survives_real_process_kill(spark, tmp_path):
    """r13: a WRITER PROCESS killed with SIGKILL mid-commit (lock held,
    version dir half-written) leaves readers on the old version; the
    next commit breaks the stale lock, sweeps the orphan, and
    publishes normally — the crash story with a real process death,
    not an in-process simulated raise."""
    import os
    import signal
    import subprocess
    import sys
    import time

    from rabbit_in_a_blender_spark.core.commit import LOCK

    t = str(tmp_path / "killed")
    pointer_commit(
        lambda d: _rows(spark, 0, 10).write.mode("overwrite").parquet(d), t
    )
    child = subprocess.Popen(
        [
            sys.executable,
            "-c",
            f"""
import sys, time, os
sys.path.insert(0, {os.getcwd()!r})
from rabbit_in_a_blender_spark.core.commit import pointer_commit

def slow_write(d):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "partial.bin"), "wb") as f:
        f.write(b"half-written")
    print("STAGED", flush=True)
    time.sleep(60)

pointer_commit(slow_write, {t!r})
""",
        ],
        stdout=subprocess.PIPE,
        text=True,
    )
    assert child.stdout.readline().strip() == "STAGED"
    os.kill(child.pid, signal.SIGKILL)
    child.wait(timeout=30)
    # lock file left behind by the dead writer; old version still live
    assert os.path.exists(os.path.join(t, LOCK))
    assert current_version(t) == 1
    assert spark.read.parquet(resolve_pointer(t)).count() == 10
    assert 2 in list_versions(t)  # the half-written orphan
    # next commit: stale lock broken (short threshold), orphan swept
    time.sleep(1.1)
    import warnings as _w

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        v = pointer_commit(
            lambda d: _rows(spark, 50, 53).write.parquet(d),
            t,
            stale_lock_sec=1.0,
        )
    assert any("stale commit lock" in str(w.message) for w in rec)
    assert v == 2
    assert sorted(
        r["id"] for r in spark.read.parquet(resolve_pointer(t)).collect()
    ) == [50, 51, 52]
    assert not os.path.exists(
        os.path.join(t, "v-000002", "partial.bin")
    )  # orphan contents swept before restage


def test_every_warehouse_table_is_a_pointer_table():
    """Source scan, no Spark: the package, ``bench.py`` and ``tools/``
    write no catalog-managed or bucketed table, so every table is a
    pointer table (``core/commit.py``)."""
    import re
    from pathlib import Path

    root = Path(__file__).resolve().parent.parent
    pattern = re.compile(r"saveAsTable\(|\.bucketBy\(")
    paths = [root / "bench.py"]
    for d in ("rabbit_in_a_blender_spark", "tools"):
        paths += sorted((root / d).rglob("*.py"))
    offenders = [
        f"{path.relative_to(root)}:{n}: {line.strip()}"
        for path in paths
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if pattern.search(line)
    ]
    assert offenders == []
