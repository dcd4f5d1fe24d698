"""Release contract for load-bearing persists.

Several operators MUST pin an intermediate before running a second job
over it (range-partitioned frames re-sample their boundaries per
execution — without the pin, the numbering job and the caller's
materialization could see different partitionings).  In a batch job the
pin dies with the session; in a long-lived SparkSession (a notebook,
the dashboard server) repeated calls would accumulate cached RDDs
forever.

The contract: the operator records its persisted intermediates on the
RESULT frame via :func:`track_cache`; loop callers release them with
:func:`unpersist_intermediates` after materializing (collect/write).
The result frames stay valid afterwards — they just recompute if
re-used.

Frames that should NOT run in the engine at all — metadata-sized rows
already on the driver — are built by :func:`local_frame`, the one
DataFrame-from-driver-rows builder in the package.
"""

from __future__ import annotations

import datetime
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType


def local_frame(
    spark: SparkSession, rows: Sequence, schema: StructType | str
) -> DataFrame:
    """The one builder for a DataFrame from driver-side rows (tuples or
    Rows, positional against ``schema``, a StructType or DDL string).

    Only for METADATA-SIZED rows — model, mapping and check-metadata
    tables, empty tables — never corpus-sized data, because the rows
    live in the plan itself: they reach the JVM as one Arrow table,
    which Spark keeps as a ``LocalRelation`` (up to
    ``spark.sql.execution.arrow.localRelationThreshold``, 48 MB by
    default; above it Spark falls back to a parallelized RDD).
    Consumers execute it driver-side as a ``LocalTableScan``: a
    ``collect``, broadcast build or join over it schedules no job, where
    a ``createDataFrame(list)`` frame costs a zero-I/O job of
    defaultParallelism tasks per scan.  Values and schema round-trip
    exactly, so a frame rebuilt from a ``collect`` is bit-identical to
    the plan it came from.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = []
    for i, field in enumerate(arrow_schema):
        values = [r[i] for r in rows]
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            # naive datetimes are local wall-clock (what collect()
            # returns and createDataFrame(list) assumes); Arrow takes
            # the wall-clock of any datetime as UTC
            values = [
                None if v is None else v.astimezone(datetime.timezone.utc)
                for v in values
            ]
        columns.append(pa.array(values, type=field.type))
    table = pa.Table.from_arrays(columns, schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def track_cache(df: DataFrame, cached: list[DataFrame]) -> DataFrame:
    """Record persisted intermediates on the result frame so callers in
    a long-running loop can release them (ADVICE r5/r6: the continuous-
    crawl increment loop otherwise accumulates cache entries forever)."""
    df._graft_cached = list(getattr(df, "_graft_cached", [])) + cached
    return df


def unpersist_intermediates(*dfs: DataFrame, blocking: bool = False) -> int:
    """Release the persisted intermediates tracked on these result
    frames (see track_cache).  Call AFTER materializing the results
    (collect/write) — the frames stay valid afterwards, they just
    recompute if re-used.  Returns the number of entries released."""
    released = 0
    seen: set[int] = set()
    for df in dfs:
        for c in getattr(df, "_graft_cached", []):
            if id(c) in seen:
                continue
            seen.add(id(c))
            try:
                c.unpersist(blocking)
                released += 1
            except Exception:
                pass
        df._graft_cached = []
    return released


class CheckpointPin:
    """Release handle for a ``localCheckpoint(eager=False)``-pinned RDD.

    ``DataFrame.unpersist()`` only clears the CACHE entry; the
    checkpoint's truncated-lineage RDD stays in ``getPersistentRDDs``
    forever — the same long-session leak class as an unreleased
    persist.  The pinned RDD is reachable through the checkpointed
    frame's LogicalRDD node; this adapter exposes it through the same
    ``unpersist`` surface track_cache expects.

    Only release AFTER the checkpoint's consumers are materialized: a
    locally-checkpointed RDD cannot be recomputed once dropped.
    """

    def __init__(self, checkpointed_df: DataFrame):
        self._jrdd = checkpointed_df._jdf.queryExecution().analyzed().rdd()

    def unpersist(self, blocking: bool = False) -> None:
        self._jrdd.unpersist(blocking)
