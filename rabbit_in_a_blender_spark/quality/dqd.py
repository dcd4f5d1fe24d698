"""DQD run orchestration (SURVEY §2.K, §3.3).

The reference renders per-check SQL through the SqlRender JVM and
fans out over a thread pool (etl/data_quality.py:227-237, 440-455);
results get a threshold-based failed flag (:322-347) and a rollup
summary (:280-320), stored to dqd.dqdashboard_runs/_results.

Here a "check" is (name, builder) where builder(spark) returns the
standard one-row frame from quality.checks; the runner unions results,
applies thresholds, writes both tables, and returns the summary.
"""

from __future__ import annotations

import time
import uuid
from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.caching import local_frame
from ..pipeline.warehouse import Warehouse

CheckBuilder = Callable[[SparkSession], DataFrame]

# Canonical persisted-results schema: BOTH runners (the ad-hoc
# ``run_checks`` and the metadata-driven ``dqd_sweep.run_sweep``)
# append runs into dqd.dqdashboard_results under this single column
# set, so a warehouse that mixes runners still reads as one table.
RESULT_COLUMNS = [
    "check_name",
    "check_family",
    "cdm_table",
    "cdm_field",
    "num_violated_rows",
    "pct_violated_rows",
    "num_denominator_rows",
    "threshold",
    "failed",
    "execution_time_sec",
    "run_id",
]


def persist_run(
    warehouse: Warehouse, spark: SparkSession, results: DataFrame, run_id: str
) -> None:
    """Append one run's rows (canonical schema, missing columns
    null-filled) plus its dqd.dqdashboard_runs entry.

    Runs accumulate — the reference keeps every DQD run and its
    dashboard selects among them (data_quality_dashboard.py:369-377);
    readers scope to one run_id.
    """
    df = results
    if "check_family" not in df.columns:
        # DQD naming convention: family is the prefix before the first
        # underscore (isRequired_person_id → isRequired).
        df = df.withColumn(
            "check_family", F.split(F.col("check_name"), "_").getItem(0)
        )
    null_fill = {
        "cdm_table": "string",
        "cdm_field": "string",
        "threshold": "double",
        "failed": "int",
        "execution_time_sec": "double",
    }
    for c, t in null_fill.items():
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(t))
    df = df.withColumn("run_id", F.lit(run_id)).select(*RESULT_COLUMNS)
    warehouse.append(df, "dqd", "dqdashboard_results")
    runs = local_frame(spark, [(run_id,)], "run_id string").withColumn(
        "run_ts", F.current_timestamp()
    )
    warehouse.append(runs, "dqd", "dqdashboard_runs")


def run_checks(
    spark: SparkSession,
    warehouse: Warehouse | None,
    checks: Mapping[str, CheckBuilder],
    thresholds: Mapping[str, float] | None = None,
    default_threshold: float = 0.0,
) -> DataFrame:
    """Execute every check, evaluate thresholds, persist, summarize.

    ``pct_violated_rows > threshold`` → failed=1 (reference threshold
    semantics, data_quality.py:322-347).  Checks are independent Spark
    jobs — on a cluster submit them from a FAIR pool for overlap; the
    per-check wall time is recorded like the reference does.
    """
    thresholds = thresholds or {}
    run_id = str(uuid.uuid4())
    results = []
    for name, builder in checks.items():
        t0 = time.time()
        row = builder(spark).withColumn(
            "execution_time_sec", F.lit(round(time.time() - t0, 3))
        )
        thr = float(thresholds.get(name, default_threshold))
        results.append(
            row.withColumn("threshold", F.lit(thr)).withColumn(
                "failed",
                (F.col("pct_violated_rows") > F.lit(thr)).cast("int"),
            )
        )
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    out = out.withColumn("run_id", F.lit(run_id))
    if warehouse is not None:
        persist_run(warehouse, spark, out.drop("run_id"), run_id)
    return out


def summarize(results: DataFrame) -> DataFrame:
    """G5 rollup: counts by failed flag (reference 15-metric summary
    data_quality.py:280-320, condensed to the counting core)."""
    return results.agg(
        F.count(F.lit(1)).cast("long").alias("num_checks"),
        F.sum("failed").cast("long").alias("num_failed"),
        F.sum(F.when(F.col("failed") == 0, 1).otherwise(0))
        .cast("long")
        .alias("num_passed"),
        F.round(F.avg(F.col("failed") * 100.0), 2).alias("pct_failed"),
    )
