"""core.caching.local_frame: the one DataFrame-from-driver-rows builder.

Pins exact round-trips for every schema shape the engine routes through
it, that the result is a zero-job ``LocalTableScan``, and (by a plain
source scan) that no other module builds frames from driver rows.
"""

from __future__ import annotations

import datetime
import math
import re
import shutil
import tempfile
import time
from pathlib import Path

import pytest

from rabbit_in_a_blender_spark.core import observe
from rabbit_in_a_blender_spark.core.caching import local_frame

PKG = Path(__file__).resolve().parent.parent / "rabbit_in_a_blender_spark"

ROUND_TRIP_CASES = [
    ("bucket long, tc long, rc long", [(0, 3, 5), (7, 0, 1), (2**40, -1, 0)]),
    ("qid int, qtext string", [(0, "heart attack"), (1, ""), (2, None)]),
    ("__lang string, __g string, __lrank int", [("en", "th", 1), ("de", "_d", 300)]),
    (
        "centroid_id long, vec array<double>",
        [(0, [0.1, 1 / 3, -2.5e-300]), (1, []), (2, None), (3, [None, 1.0])],
    ),
    ("x double, y double", [(0.1 + 0.2, -0.0), (float("inf"), 1e308)]),
    (
        "check_name string, check_family string, cdm_table string, "
        "cdm_field string, num_violated_rows long, num_denominator_rows long",
        [("isRequired_person_id", "isRequired", "person", "person_id", None, 7)],
    ),
    ("run_id string", [("0f3c",)]),
]


def _same(a, b) -> bool:
    """Value equality that treats NaN as equal to itself and tells
    -0.0 from 0.0."""
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or (
            a == b and math.copysign(1, a) == math.copysign(1, b)
        )
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return type(a) is type(b) and a == b


@pytest.mark.parametrize("ddl,rows", ROUND_TRIP_CASES)
def test_round_trip_is_exact(spark, ddl, rows):
    ref = spark.createDataFrame(rows, ddl)
    got = local_frame(spark, rows, ddl)
    assert got.schema == ref.schema
    assert _same([tuple(r) for r in got.collect()], [tuple(r) for r in rows])
    # a frame rebuilt from its own collect is identical (the iterative
    # trainers' per-round collapse)
    again = local_frame(spark, got.collect(), got.schema)
    assert again.schema == got.schema
    assert _same([tuple(r) for r in again.collect()], [tuple(r) for r in rows])


@pytest.mark.parametrize("ddl", [ddl for ddl, _ in ROUND_TRIP_CASES])
def test_empty_input_keeps_schema(spark, ddl):
    got = local_frame(spark, [], ddl)
    assert got.schema == spark.createDataFrame([], ddl).schema
    assert got.collect() == []


def test_dates_and_timestamps_match_create_dataframe(spark, monkeypatch):
    # naive datetimes are driver-local wall-clock: pin a non-UTC driver
    # zone so a UTC reading of them shows on any host
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        ddl = "d date, t timestamp"
        rows = [
            (datetime.date(2020, 2, 29), datetime.datetime(2020, 1, 2, 3, 4, 5, 678901)),
            (None, None),
        ]
        ref = spark.createDataFrame(rows, ddl)
        got = local_frame(spark, rows, ddl)
        as_text = ["cast(d as string) d", "cast(t as string) t"]
        assert got.selectExpr(*as_text).collect() == ref.selectExpr(*as_text).collect()
        assert got.collect() == ref.collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_every_cdm54_table_builds_and_writes_empty(spark):
    """The --create-db / migrate_to_registry path: zero-row frames for
    every CDM 5.4 table schema, dates and timestamps included."""
    from rabbit_in_a_blender_spark.core.cdm54 import cdm54_registry
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    reg = cdm54_registry()
    d = tempfile.mkdtemp(prefix="riab_lf_")
    try:
        wh = Warehouse(d)
        for name in sorted(reg.tables):
            schema = reg[name].schema()
            wh.write(local_frame(spark, [], schema), "omop", name)
            back = wh.read(spark, "omop", name)
            assert back.count() == 0
            assert [(f.name, f.dataType) for f in back.schema.fields] == [
                (f.name, f.dataType) for f in schema.fields
            ], name
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_plan_is_local_table_scan(spark):
    df = local_frame(spark, [(1, [0.5, 1.5]), (2, [2.5])], "id long, v array<double>")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan, plan


def test_collect_schedules_no_job(spark):
    rows = [(i, i * 2) for i in range(256)]
    df = local_frame(spark, rows, "bucket long, cnt long")
    listed = spark.createDataFrame(rows, "bucket long, cnt long")
    since = observe.next_job_id(spark)
    with observe.job_group(spark, "local_frame_probe"):
        df.collect()
    # the probe does see jobs: a parallelized list frame needs one
    with observe.job_group(spark, "list_frame_probe"):
        listed.collect()
    groups = [j.group for j in observe.jobs(spark, since)]
    assert "local_frame_probe" not in groups
    assert "list_frame_probe" in groups


def test_only_caching_builds_frames_from_driver_rows():
    """Source scan, no Spark: outside the oracle-catalog fixtures in
    plans/, core/caching.py holds the package's only driver-rows
    DataFrame builder."""
    pattern = re.compile(r"createDataFrame\(|\.parallelize\(|FROM VALUES", re.I)
    allowed = PKG / "core" / "caching.py"
    offenders = []
    for path in sorted(PKG.rglob("*.py")):
        if path == allowed or (PKG / "plans") in path.parents:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if pattern.search(line):
                offenders.append(f"{path.relative_to(PKG)}:{n}: {line.strip()}")
    assert offenders == []
