from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from rabbit_in_a_blender_spark.core.session import get_spark


@pytest.fixture(scope="session")
def spark():
    import os

    # The suite runs tiny fixtures where per-job cost is scheduling, not
    # data, and it grows with core count (every createDataFrame-backed
    # frame parallelizes into defaultParallelism slices, every action
    # schedules one task per slice).  Measured r14: test_cli 328 s at
    # local[32] vs 258 s at local[8]; test_properties 135 s vs 117 s —
    # 14-21% off the suite for identical coverage.  More slices than
    # the host has cores only queue: on a 4-vCPU host test_graph.py plus
    # test_matches_union_find took 163 s at local[8], 112 s at local[4].
    # So: 8, or the usable cores when fewer (local[4] still exercises
    # every multi-partition/parallelism code path).  Override with
    # SPARK_GRAFT_TEST_CPUS; the bench keeps its own independent
    # SPARK_GRAFT_CPUS contract.
    cpus = os.environ.get(
        "SPARK_GRAFT_TEST_CPUS", str(min(8, len(os.sched_getaffinity(0))))
    )
    s = get_spark("tests", master=f"local[{cpus}]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def production_partitions(spark):
    """Run a test at the engine's default shuffle partition count (32,
    see core.session) instead of the suite's 4, restored afterwards: a
    frame that AQE does not size runs 32 tasks per read here."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        yield spark
    finally:
        spark.conf.set(key, old)
