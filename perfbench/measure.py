"""Measurement from outside the package: spans around the calls into
each layer's public functions, the Spark event log, and /proc.

Nothing here changes what the engine does.  ``Spans.install`` swaps a
layer's function for a wrapper that records (name, start, end) and
calls the original; ``Spans.uninstall`` puts the originals back.
Wrappers are only installed in a traced run (``--trace 1``), so the
untraced runs time the engine exactly as shipped.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import threading
import time

PKG = "rabbit_in_a_blender_spark"

# (module, attribute path, span name).  A function is patched where its
# caller looks it up: names bound by ``from x import f`` at import time
# are patched in the importing module, names imported inside a function
# body are patched in their defining module.
WRAPPED = [
    ("folders", "load_table_inputs", "sources.load_inputs"),
    ("pipeline.etl", "EtlPipeline._prepare_upload", "pipeline.prepare_upload"),
    ("pipeline.etl", "EtlPipeline.run_table", "pipeline.stage1"),
    ("pipeline.etl", "EtlPipeline.run_stage2", "pipeline.stage2"),
    ("pipeline.etl", "EtlPipeline.invalidate_stale_mappings", "pipeline.invalidate"),
    ("pipeline.etl", "apply_usagi", "mapping"),
    ("pipeline.etl", "swap_merge", "mapping"),
    ("pipeline.etl", "apply_pk_swap", "mapping"),
    ("pipeline.etl", "apply_fk_swaps", "mapping"),
    ("pipeline.etl", "resolve_event_columns", "mapping"),
    ("pipeline.etl", "dedup_keep_first", "operators"),
    ("pipeline.etl", "duplicate_groups", "operators"),
    ("operators.joins", "merge_upsert", "operators"),
    ("mapping.events", "polymorphic_resolve", "operators"),
    ("pipeline.warehouse", "Warehouse.write", "warehouse.write"),
    ("pipeline.warehouse", "Warehouse.read", "warehouse.read"),
    ("pipeline.warehouse", "Warehouse.append", "warehouse.append"),
    ("core.commit", "pointer_commit", "commit.pointer"),
    ("pipeline.txn", "WarehouseTransaction.commit", "commit.txn"),
    ("quality.dqd_sweep", "run_sweep", "quality.dqd"),
    ("ext.dsir", "hashed_ngram_buckets", "ext.dsir.featurize"),
    ("ext.dsir", "incremental_dsir_weights", "ext.dsir.featurize"),
    ("ext.dsir", "fold_model_increment", "ext.dsir.fold"),
]


class Spans:
    """In-memory span store, summarized into the report when the run ends."""

    def __init__(self):
        # (name, start, end, bytes written)
        self.spans: list[tuple[str, float, float, int]] = []
        self._lock = threading.Lock()
        self._saved: list[tuple[object, str, object]] = []

    def add(self, name: str, t0: float, t1: float, n_bytes: int = 0) -> None:
        with self._lock:
            self.spans.append((name, t0, t1, n_bytes))

    def _wrap(self, fn, name: str):
        spans = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                spans.add(name, t0, time.time())

        return timed

    def _wrap_write(self, fn):
        """Warehouse.write: also count the bytes the call left on disk."""
        spans = self

        @functools.wraps(fn)
        def timed(wh, df, zone, table, *args, **kwargs):
            t0 = time.time()
            try:
                return fn(wh, df, zone, table, *args, **kwargs)
            finally:
                t1 = time.time()
                spans.add("warehouse.write", t0, t1,
                          _bytes_newer_than(wh.path(zone, table), t0))

        return timed

    def _wrap_pointer_commit(self, fn):
        """pointer_commit(write_fn, path): time the data write inside it
        separately, so the commit protocol's own cost is span − write."""
        spans = self

        @functools.wraps(fn)
        def timed(write_fn, *args, **kwargs):
            def inner(d):
                t0 = time.time()
                try:
                    return write_fn(d)
                finally:
                    spans.add("commit.data_write", t0, time.time())

            t0 = time.time()
            try:
                return fn(inner, *args, **kwargs)
            finally:
                spans.add("commit.pointer", t0, time.time())

        return timed

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(f"{PKG}.{mod_name}")
            owner, _, leaf = attr.rpartition(".")
            target = getattr(mod, owner) if owner else mod
            fn = getattr(target, leaf)
            if name == "warehouse.write":
                wrapped = self._wrap_write(fn)
            elif name == "commit.pointer":
                wrapped = self._wrap_pointer_commit(fn)
            else:
                wrapped = self._wrap(fn, name)
            self._saved.append((target, leaf, fn))
            setattr(target, leaf, wrapped)

    def uninstall(self) -> None:
        for target, leaf, fn in reversed(self._saved):
            setattr(target, leaf, fn)
        self._saved.clear()

    def select(self, name: str, lo: float, hi: float) -> list[tuple[float, float]]:
        return [(max(a, lo), min(b, hi)) for n, a, b, _ in self.spans
                if n == name and b > lo and a < hi]

    def bytes_written(self, lo: float, hi: float) -> int:
        """Bytes left on disk by the warehouse writes that ended in [lo, hi]."""
        return sum(nb for n, _, b, nb in self.spans
                   if n == "warehouse.write" and lo <= b <= hi)

    def union_s(self, name: str, lo: float, hi: float) -> float:
        return union_length(self.select(name, lo, hi))

    def count(self, name: str, lo: float, hi: float) -> int:
        return len(self.select(name, lo, hi))


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _bytes_newer_than(path: str, t0: float) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            if st.st_mtime >= t0 - 1:
                total += st.st_size
    return total


# -- the Spark event log ------------------------------------------------------
class EventLog:
    """Jobs and task metrics from one application's event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks = []
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    self.jobs[jid] = {
                        "submit": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "group": props.get("spark.jobGroup.id") or None,
                        "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                        "input": 0, "shuffle_read": 0, "shuffle_write": 0,
                        "output": 0, "spill": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in self.jobs:
                        self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
        for ev in tasks:
            job = self.jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            sr = m.get("Shuffle Read Metrics", {})
            job["tasks"] += 1
            job["run_s"] += m.get("Executor Run Time", 0) / 1e3
            job["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            job["input"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
            job["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            job["shuffle_write"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job["output"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
            job["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)

    def window(self, lo: float, hi: float) -> list[dict]:
        """Jobs submitted inside [lo, hi]."""
        return [j for j in self.jobs.values() if lo <= j["submit"] <= hi]

    @staticmethod
    def union_s(jobs, lo: float, hi: float) -> float:
        return union_length((max(j["submit"], lo), min(j["end"] or hi, hi))
                            for j in jobs)


def find_event_log(log_dir: str) -> str:
    names = sorted(os.listdir(log_dir))
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def spark_layer(jobs: list[dict], wall_s: float, cores: int, lo: float, hi: float) -> dict:
    """The Spark-engine metrics for the jobs of one timed window."""
    mb = 1024.0 * 1024.0
    union = EventLog.union_s(jobs, lo, hi)
    run_s = sum(j["run_s"] for j in jobs)
    return {
        "spark.jobs": len(jobs),
        "spark.jobs_unattributed": sum(j["group"] is None for j in jobs),
        "spark.zero_io_jobs": sum(
            j["input"] + j["shuffle_read"] + j["shuffle_write"] + j["output"] == 0
            for j in jobs),
        "spark.job_union_s": union,
        "spark.driver_only_s": max(wall_s - union, 0.0),
        "spark.tasks": sum(j["tasks"] for j in jobs),
        "spark.task_run_s": run_s,
        "spark.task_cpu_s": sum(j["cpu_s"] for j in jobs),
        "spark.gc_s": sum(j["gc_s"] for j in jobs),
        "spark.utilization": run_s / (union * cores) if union > 0 else 0.0,
        "spark.input_mb": sum(j["input"] for j in jobs) / mb,
        "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in jobs) / mb,
        "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in jobs) / mb,
        "spark.output_mb": sum(j["output"] for j in jobs) / mb,
        "spark.spill_mb": sum(j["spill"] for j in jobs) / mb,
    }


# -- /proc ---------------------------------------------------------------------
_TICK = os.sysconf("SC_CLK_TCK")


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process (all its threads)."""
    with open(f"/proc/{pid}/stat", encoding="ascii") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def proc_peak_rss_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process in MB."""
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
