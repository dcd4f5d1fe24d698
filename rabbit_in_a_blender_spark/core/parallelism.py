"""Scan-parallelism floor for compute-heavy per-row operators.

Guide §2.5 ("input skew: one huge unsplittable file ... repartition
immediately after the read"): a single-file, single-row-group parquet
scan plans as ONE task, so an operator whose per-row work is heavy
(gram profiling, shingle hashing, Arrow-batched scoring) runs serially
no matter how many cores the session has.  ``fan_out_for_compute``
hash-repartitions the frame up to the session's default parallelism,
but ONLY when the scan demonstrably cannot reach that parallelism —
at cluster scale a real table carries more files than cores, so the
guard makes this a structural no-op there (no shuffle is ever added
to a plan that is already parallel).

The decision is made from driver-side FILE METADATA
(``df.inputFiles()`` + Hadoop FileStatus sizes), never from
``df.rdd`` — converting an AQE plan to an RDD materializes its query
stages eagerly, i.e. it would silently EXECUTE shuffles at plan-build
time (measured: seconds of driver-side stall per call).

The repartition key should be the operator's (near-)unique id column:
hash partitioning on a unique key spreads evenly and — unlike keyless
round-robin — adds no sort-before-repartition pass and stays
deterministic under task retry (guide §2.5 / SPARK-38388).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Per-core input-bytes ceiling under which a low-file-count scan is
#: considered compute-bound rather than I/O-bound: below it the fan-out
#: shuffle is trivially cheap next to the serial compute it unlocks;
#: above it the input is big enough that splitting should come from the
#: file layout (more files / row groups), not an extra exchange.
_FAN_OUT_BYTES_PER_CORE = 16 * 1024 * 1024

#: Per-task byte floor for the micro-batch probe path: the operators
#: behind it (shingle/minhash, hashed-n-gram explode) measured ~2 s of
#: serial compute per ~300 KB batch (r13 profiles), i.e. ~7 µs/byte, so
#: a 16 KB slice is ~0.1 s of work — the host's per-task scheduling
#: floor.  Fanning a batch wider than bytes/16KB buys tasks shorter
#: than their own scheduling cost; a trickle batch therefore gets a
#: small (or no) exchange instead of an unconditional |cores|-way one.
_PROBE_BYTES_PER_TASK = 16 * 1024

#: Catalyst's "unknown size" default is Long.MaxValue-ish; anything
#: this large is a missing estimate, not a measurement.
_UNKNOWN_STATS_BYTES = 1 << 60


def fan_out_for_compute(
    df: DataFrame, *key_cols: str, partition_probe: bool = False
) -> DataFrame:
    """Repartition ``df`` to the session default parallelism iff its
    input files cannot reach that parallelism AND the total input is
    small enough that the extra exchange is trivially cheap; identity
    otherwise (see module docstring).  Pass the operator's unique id
    column(s) as the hash key; with no key a round-robin repartition
    is used.  Frames with no file inputs (local relations, streaming
    rate sources) are left untouched by default.

    ``partition_probe`` (r13 optimization round): foreachBatch
    micro-batch frames report ``inputFiles() == []`` even though they
    scan files, so the default gate never fires inside a streaming
    sink — the per-batch shingle/minhash walls stayed serial.  Callers
    that KNOW the frame is a streaming micro-batch can opt in; the
    decision then reads the frame's partition count plus the optimizer
    plan-stats size (both driver-side, no job).  CALLER CONTRACT
    (ADVICE r13 item 3): probe only a bare pre-shuffle projection of a
    foreachBatch frame — AQE is disabled there, so ``df.rdd`` is a
    plan-only probe; on a frame with upstream exchanges under AQE it
    would EXECUTE query stages at plan-build time (the module-docstring
    trap).

    Probe-path sizing (r14, VERDICT r13 task 1 + ADVICE r13 item 2):
    the batch's plan-stats bytes (for a file-backed micro-batch these
    are the actual file sizes) bound the fan-out both ways — a batch
    at/above the same ``_FAN_OUT_BYTES_PER_CORE`` budget the
    file-metadata path enforces is refused outright (its splitting
    should come from the batch's file layout), and below it the target
    is ``ceil(bytes / _PROBE_BYTES_PER_TASK)`` capped at the default
    parallelism, so a trickle batch no longer pays an unconditional
    |cores|-way exchange.  Unknown stats fall back to the full target
    (pre-r14 behavior)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return df
    if not files and partition_probe:
        size = None
        try:
            jsize = (
                df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
            # py4j hands the Scala BigInt back as a Python int
            size = int(str(jsize))
            if size >= _UNKNOWN_STATS_BYTES:
                size = None
        except Exception:
            size = None
        if size is not None:
            if size >= target * _FAN_OUT_BYTES_PER_CORE:
                return df  # same refusal as the file-metadata path
            target = min(target, max(1, -(-size // _PROBE_BYTES_PER_TASK)))
        if target <= 1:
            return df  # one task's worth: nothing to fan out to
        try:
            if df.rdd.getNumPartitions() >= target:
                return df
        except Exception:
            return df
        if key_cols:
            return df.repartition(target, *[F.col(c) for c in key_cols])
        return df.repartition(target)
    if not files or len(files) >= target:
        return df
    budget = target * _FAN_OUT_BYTES_PER_CORE
    total = 0
    try:
        jvm = sc._jvm
        hconf = sc._jsc.hadoopConfiguration()
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            fs = p.getFileSystem(hconf)
            total += int(fs.getFileStatus(p).getLen())
            if total >= budget:
                return df
    except Exception:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)
