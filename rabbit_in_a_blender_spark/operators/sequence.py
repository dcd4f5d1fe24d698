"""Sequence / key generation — the reference's signature operator (§2.J).

Reference behavior (bq:etl/{primary_key_column}_swap_merge.sql.jinja:50-77
and CONCEPT_ID_swap_merge.sql.jinja:3-17): new keys get
``ROW_NUMBER()/RANK() OVER (ORDER BY <order_cols>) + IFNULL(MAX(y), off)``
against a persistent swap table, and only not-yet-seen keys are inserted
(anti join) so ids are stable across runs.

Two implementations:

- ``strict``: exact global-order window.  Bit-for-bit reproduces the
  reference (and the DuckDB oracle), but a no-partition window funnels
  every row through ONE task — fine for dimension-sized key sets, wrong
  for billions of rows.
- ``scalable``: sort → per-partition ``row_number`` + partition-offset
  cumsum (computed from tiny per-partition counts on the driver).  Same
  output permutation as ``strict`` for a given sort order, but fully
  parallel: the only single-point data is #partitions integers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.caching import track_cache


def _disk_only():
    from pyspark import StorageLevel

    return StorageLevel.DISK_ONLY


def assign_ids(
    df: DataFrame,
    order_cols: Sequence[str],
    offset: int = 0,
    out_col: str = "assigned_id",
    mode: str = "scalable",
) -> DataFrame:
    """Assign 1-based dense sequential ids by ``order_cols`` + ``offset``."""
    if mode == "strict":
        w = Window.orderBy(*[F.col(c) for c in order_cols])
        return df.withColumn(out_col, F.row_number().over(w) + F.lit(offset))

    # Scalable path: range-partition by the order columns so partition i
    # holds an ordered contiguous range, number within partitions, then add
    # per-partition offsets.  repartitionByRange samples to balance ranges,
    # so no single-task bottleneck regardless of row count.
    ordered = df.repartitionByRange(*[F.col(c) for c in order_cols]).sortWithinPartitions(
        *[F.col(c) for c in order_cols]
    )
    with_pid = ordered.withColumn("__pid", F.spark_partition_id())
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in order_cols])
    # Persist before the counts job: repartitionByRange samples its range
    # boundaries per execution, so without a pin the counts job and the
    # caller's materialization could see rows in *different* partitions —
    # duplicate/skipped ids (silent corruption of the stable-PK contract).
    # DISK_ONLY: this frame is data-sized, not metadata-sized.
    # AQE sizes the cached plan (core/session.py), so it may coalesce
    # the range exchange: it only merges ADJACENT range partitions, so
    # each ``__pid`` is still one contiguous, ordered range, and the
    # ``__pid`` order is still the global order.  The counts below and
    # every later read see that one cached numbering, so the ids stay
    # dense and ordered whatever partition count AQE picks.
    numbered = with_pid.withColumn("__rn", F.row_number().over(w)).persist(
        _disk_only()
    )
    # Tiny driver-side state: one count per partition (thousands of ints,
    # never data rows) → cumulative offsets.  This action also materializes
    # the persisted ``numbered`` so every later action reuses the same
    # partitioning.
    counts = {
        r["__pid"]: r["cnt"]
        for r in numbered.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    cum, running = {}, 0
    for pid in sorted(counts):
        cum[pid] = running
        running += counts[pid]
    if cum:
        mapping = F.create_map(*[F.lit(x) for kv in cum.items() for x in kv])
        part_offset = F.coalesce(mapping[F.col("__pid")], F.lit(0))
    else:  # empty input (e.g. re-run with no unseen keys)
        part_offset = F.lit(0)
    # Release contract: the pin is load-bearing for id stability, but a
    # long-lived session can drop it after materializing via
    # core/caching.unpersist_intermediates(result).
    return track_cache(
        numbered.withColumn(
            out_col,
            (F.col("__rn") + part_offset + F.lit(offset)).cast("long"),
        ).drop("__pid", "__rn"),
        [numbered],
    )


def next_offset(swap: DataFrame, id_col: str = "y", default: int = 0):
    """The reference's MAX-watermark (G2): ``IFNULL(MAX(y), default)``.

    Returns a Python int (driver-side scalar — metadata, not data).
    """
    row = swap.agg(F.coalesce(F.max(id_col), F.lit(default)).alias("m")).collect()[0]
    return int(row["m"])
