"""Live dashboard server: pyarrow-backed run history + Kahn grid +
filtered results over HTTP (reference data_quality_dashboard.py:21-545,
re-expressed as a stdlib server so the viewer needs neither Dash nor a
SparkSession)."""

from __future__ import annotations

import json
import shutil
import tempfile
import urllib.request
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from rabbit_in_a_blender_spark.quality.dashboard_server import (
    get_results,
    kahn_grid,
    list_runs,
    start_background,
)

EVIL = "<script>alert('x')</script>"


def _write(root: str, table: str, data: dict) -> None:
    import os

    path = os.path.join(root, "dqd", table)
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.table(data), os.path.join(path, "part-0.parquet"))


@pytest.fixture()
def wh_root():
    root = tempfile.mkdtemp(prefix="dash_srv_")
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    _write(
        root,
        "dqdashboard_runs",
        {
            "run_id": ["run-old", "run-new"],
            "run_ts": [t0, t0 + timedelta(hours=1)],
        },
    )
    names = ["isRequired_person_id", EVIL, "plausibleValueLow_v", "fkDomain_x"]
    fams = ["isRequired", "measurePersonCompleteness", "plausibleValueLow", "fkDomain"]
    n = len(names)
    _write(
        root,
        "dqdashboard_results",
        {
            "check_name": names * 2,
            "check_family": fams * 2,
            "cdm_table": ["person", "person", "visit", "visit"] * 2,
            "cdm_field": ["person_id", None, "v", "x"] * 2,
            "num_violated_rows": [0, 3, 1, 0] * 2,
            "pct_violated_rows": [0.0, 0.3, 0.1, 0.0] * 2,
            "num_denominator_rows": [10] * (n * 2),
            "threshold": [0.0] * (n * 2),
            "failed": [0, 1, 1, 0, 0, 1, 0, 0],  # run-new differs from run-old
            "execution_time_sec": [0.1] * (n * 2),
            "run_id": ["run-old"] * n + ["run-new"] * n,
        },
    )
    yield root
    shutil.rmtree(root, ignore_errors=True)


def test_list_runs_newest_first(wh_root):
    runs = list_runs(wh_root)
    assert [r["run_id"] for r in runs] == ["run-new", "run-old"]


def test_get_results_defaults_to_latest_run_and_sorts_failures_first(wh_root):
    rows = get_results(wh_root)
    assert len(rows) == 4
    assert all(r["run_id"] == "run-new" for r in rows)
    # reference sort: FAILED first, then pct desc
    assert rows[0]["status"] == "FAILED" and rows[0]["check_name"] == EVIL
    assert [r["status"] for r in rows] == ["FAILED", "PASS", "PASS", "PASS"]


def test_get_results_filters(wh_root):
    # Kahn annotation: isRequired → Completeness/Validation is wrong —
    # it's Completeness/Validation per FAMILY_KAHN; filter by it
    comp = get_results(wh_root, run_id="run-old", category="Completeness")
    assert {r["check_family"] for r in comp} == {
        "isRequired",
        "measurePersonCompleteness",
    }
    failed = get_results(wh_root, run_id="run-old", status="FAILED")
    assert {r["check_name"] for r in failed} == {EVIL, "plausibleValueLow_v"}
    visit = get_results(wh_root, run_id="run-old", table="visit")
    assert len(visit) == 2


def test_kahn_grid_matches_hand_count(wh_root):
    rows = get_results(wh_root, run_id="run-old")
    grid = kahn_grid(rows)
    # run-old: failed = EVIL (Completeness/Validation via
    # measurePersonCompleteness) + plausibleValueLow_v
    # (Plausibility/Verification)
    assert grid["total"]["all"] == {
        "pass": 2,
        "fail": 2,
        "total": 4,
        "percent_pass": "50%",
    }
    assert grid["verification"]["plausibility"]["fail"] == 1
    assert grid["validation"]["completeness"]["fail"] == 1
    assert grid["validation"]["completeness"]["total"] == 2
    assert grid["verification"]["conformance"] == {
        "pass": 1,
        "fail": 0,
        "total": 1,
        "percent_pass": "100%",
    }
    assert grid["total"]["all"]["percent_pass"] == "50%"


def _fetch(base: str, path: str):
    with urllib.request.urlopen(base + path, timeout=10) as resp:
        return resp.status, resp.read()


def test_http_endpoints(wh_root):
    server, _ = start_background(wh_root)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    try:
        code, body = _fetch(base, "/api/runs")
        assert code == 200
        assert [r["run_id"] for r in json.loads(body)] == ["run-new", "run-old"]

        code, body = _fetch(base, "/api/overview?run=run-old")
        grid = json.loads(body)["grid"]
        assert grid["total"]["all"]["fail"] == 2

        code, body = _fetch(base, "/api/results?run=run-old&status=FAILED")
        rows = json.loads(body)
        assert {r["check_name"] for r in rows} == {EVIL, "plausibleValueLow_v"}

        code, body = _fetch(
            base, "/api/check?run=run-old&name=plausibleValueLow_v"
        )
        detail = json.loads(body)
        assert detail["category"] == "Plausibility"
        assert detail["num_violated_rows"] == 1

        # page is static markup: stored check names never render
        # server-side, so the EVIL payload must not appear in it
        code, body = _fetch(base, "/")
        assert code == 200
        assert b"<script>alert" not in body
        assert b"Data Quality Dashboard" in body

        try:
            _fetch(base, "/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.shutdown()


def test_run_sweep_appends_history(spark, tmp_path):
    """Two sweeps over the same warehouse → two runs in the history
    tables, and each call's returned frame stays scoped to its own
    run (the pre-history contract)."""
    from rabbit_in_a_blender_spark.core.registry import (
        ColumnSpec,
        SchemaRegistry,
        TableSpec,
    )
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse
    from rabbit_in_a_blender_spark.quality.dqd_sweep import run_sweep

    registry = SchemaRegistry(
        [
            TableSpec(
                name="person",
                columns=[
                    ColumnSpec("person_id", "int64", required=True),
                    ColumnSpec("v", "float64"),
                ],
                pk="person_id",
            )
        ]
    )
    df = spark.createDataFrame([(1, 1.0), (2, None), (None, 3.0)], "person_id int, v double")
    read = lambda name: df if name == "person" else None  # noqa: E731
    wh = Warehouse(str(tmp_path / "wh"))

    r1 = run_sweep(spark, read, registry, warehouse=wh)
    n1 = r1.count()
    r2 = run_sweep(spark, read, registry, warehouse=wh)
    assert r2.count() == n1
    assert "run_id" not in r2.columns  # contract unchanged by history

    runs = list_runs(str(tmp_path / "wh"))
    assert len(runs) == 2
    stored = wh.read(spark, "dqd", "dqdashboard_results")
    assert stored.count() == 2 * n1
    assert stored.select("run_id").distinct().count() == 2
    # the server's latest-run default sees exactly one run's rows
    assert len(get_results(str(tmp_path / "wh"))) == n1


def test_run_checks_persists_canonical_schema(spark, tmp_path):
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse
    from rabbit_in_a_blender_spark.quality.checks import is_required
    from rabbit_in_a_blender_spark.quality.dqd import RESULT_COLUMNS, run_checks

    df = spark.createDataFrame([(1,), (None,)], "id int")
    wh = Warehouse(str(tmp_path / "wh"))
    run_checks(spark, wh, {"isRequired_id": lambda s: is_required(df, "id")})
    stored = wh.read(spark, "dqd", "dqdashboard_results")
    assert stored.columns == RESULT_COLUMNS
    row = stored.collect()[0]
    assert row["check_family"] == "isRequired"  # derived from the name
    assert row["cdm_table"] is None
    rows = get_results(str(tmp_path / "wh"))
    assert rows[0]["check_name"] == "isRequired_id"


def test_load_rows_reads_only_the_live_version(spark, tmp_path):
    """A compacted (or rewritten) dqd table keeps its previous version
    beside the live one; the server reads through the pointer, so it
    sees the rows ``Warehouse.read`` sees, not the retained history."""
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    wh.append(
        spark.createDataFrame(
            [("run-1", datetime(2026, 1, 1))], "run_id string, run_ts timestamp"
        ),
        "dqd",
        "dqdashboard_runs",
    )
    wh.compact(spark, "dqd", "dqdashboard_runs")
    assert wh.read(spark, "dqd", "dqdashboard_runs").count() == 1
    assert [r["run_id"] for r in list_runs(str(tmp_path / "wh"))] == ["run-1"]
