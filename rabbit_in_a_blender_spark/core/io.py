"""Test-data loaders and warehouse IO helpers.

The driver testdata (/root/testdata/sf*/ — see /root/repo/TESTDATA.md) is
one parquet file per table. At 100 TB each "file" becomes a partitioned
parquet/Delta directory; nothing below assumes single files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Load named parquet tables (all of TPCH_TABLES when empty).

    Plain ``spark.read.parquet`` — Catalyst handles column pruning and
    predicate pushdown into the scan; do NOT cache here (caching defeats
    pushdown and is wrong at 100 TB).
    """
    names = names or TPCH_TABLES
    out = {}
    for n in names:
        if n == "events":
            # events.parquet stores TIMESTAMP(NANOS); without this legacy
            # flag the parquet reader refuses the file outright.  Set it
            # defensively — the harness may hand us a session built
            # without core.session.get_spark's defaults.
            try:
                spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            except Exception:  # noqa: BLE001 — conf may be static on some builds
                pass
        df = spark.read.parquet(table_path(sf_dir, n))
        if n == "events" and dict(df.dtypes).get("ts") == "bigint":
            # TIMESTAMP(NANOS) read as long (nanosAsLong) → truncate to
            # micros exactly like DuckDB/Arrow do. Integer DIV, not /: a
            # double round-trip loses precision above 2^53 nanos.
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts DIV 1000"))
            )
        out[n] = df
    return out


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so queries can also be phrased in Spark SQL."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)


# parquet_exists moved to core/fsio.py (VERDICT r7
# task 4): this module is in every query's import closure, so helpers
# that only the sinks/CLI touch must not live here.
