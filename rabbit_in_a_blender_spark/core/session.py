"""SparkSession factory tuned for both local testing and cluster scale.

Scale notes (100 TB design):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace hand-tuned partition counts.
- ``spark.sql.shuffle.partitions`` is only the *initial* value; AQE
  coalesces. On a real cluster set it to ~2-3x total cores.
- Cached plans are the exception: AQE does not coalesce or split the
  shuffles inside a ``persist()``-ed plan unless
  ``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`` is on
  (Spark ships it off), so without it a cached frame keeps the initial
  partition count and every read of it runs that many tasks.  This
  session turns it on.
- Session timezone pinned to UTC so date/time functions are deterministic
  and match the DuckDB oracle.
- Arrow enabled for the few pandas-UDF extension operators.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rabbit_in_a_blender_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with scale-appropriate defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE size cached plans like every other shuffle.  Off (the
        # Spark default) every persisted frame keeps all
        # shuffle.partitions partitions: the cold omop_refresh (perfbench,
        # seed 501, 4 vCPUs) ran 512 of its 641 tasks as 32-task reads of
        # KB-sized cached frames; on, it runs 141.  A read that needs the
        # cache's old hash partitioning now plans its own (small)
        # shuffle instead.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Swap-table joins bucket both sides on the near-unique source key
        # x, but their null-safe identity conditions expand to extra
        # coalesce()/isnull() join keys; allow subset co-partitioning so
        # the bucketed scans satisfy the join's distribution without a
        # shuffle (skew risk nil — x is near-unique by construction).
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        # PySpark 4's DataFrame-debugging wraps EVERY Column/DataFrame
        # API call in a user-stack capture plus a JVM thread-local
        # update (py4j round trips).  Expression-dense plan builders
        # (the DQD sweep composes ~100 checks: 13k py4j calls, ~2.7 s
        # of socket latency per build — cProfile, r13 optimization
        # round) pay it with zero benefit in a non-interactive engine;
        # disabling trades error-message call sites for ~2x faster
        # plan construction on every query, results unchanged.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos type —
        # read as long, converted to micros in core.io.load_tables.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
