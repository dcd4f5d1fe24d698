"""Schema evolution (pipeline/evolve.py, r13): diff plan, zero-rewrite
read-side evolution, atomic rewrite with undo on pointer tables,
narrowing-cast refusal, and registry-driven migration."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from rabbit_in_a_blender_spark.core.commit import list_versions
from rabbit_in_a_blender_spark.core.registry import (
    ColumnSpec,
    SchemaRegistry,
    TableSpec,
)
from rabbit_in_a_blender_spark.pipeline.evolve import (
    diff_schema,
    evolve,
    migrate_to_registry,
    read_evolved,
)
from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse


def _schema(spec: str) -> T.StructType:
    return T.StructType.fromDDL(spec)


def test_diff_schema_plan(spark):
    d = diff_schema(
        _schema("id INT, name STRING, legacy STRING"),
        _schema("id BIGINT, name STRING, score DOUBLE"),
    )
    assert [f.name for f in d.add] == ["score"]
    assert d.drop == ["legacy"]
    assert d.retype == [("id", T.IntegerType(), T.LongType())]
    assert sorted(d.summary()) == ["+score:double", "-legacy", "~id:int->bigint"]
    assert not diff_schema(_schema("id INT"), _schema("id INT"))


def test_read_evolved_is_zero_rewrite(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write(
        spark.createDataFrame(
            [(1, "a", "junk"), (2, "b", "junk")],
            "id int, name string, legacy string",
        ),
        "omop",
        "t",
    )
    target = _schema("id BIGINT, name STRING, score DOUBLE")
    out = read_evolved(
        wh, spark, "omop", "t", target, defaults={"score": 0.5}
    )
    assert out.schema == T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType(), False),
        ]
    ) or [
        (f.name, f.dataType) for f in out.schema.fields
    ] == [
        ("id", T.LongType()),
        ("name", T.StringType()),
        ("score", T.DoubleType()),
    ]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["score"] == 0.5 and "legacy" not in rows[1].asDict()
    # nothing was written: still one version on disk
    assert list_versions(wh.path("omop", "t")) == [1]


def test_evolve_rewrites_atomically_and_is_undoable(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write(
        spark.createDataFrame([(1, "x")], "id int, name string"), "omop", "t"
    )
    target = _schema("id BIGINT, name STRING, flag BOOLEAN")
    diff = evolve(wh, spark, "omop", "t", target, defaults={"flag": True})
    assert sorted(diff.summary()) == ["+flag:boolean", "~id:int->bigint"]
    got = wh.read(spark, "omop", "t")
    assert [f.dataType for f in got.schema.fields] == [
        T.LongType(), T.StringType(), T.BooleanType(),
    ]
    assert got.collect()[0]["flag"] is True
    # the pre-evolution schema survives as a version: undo = restore
    wh.restore_version(spark, "omop", "t", 1)
    assert [f.dataType for f in wh.read(spark, "omop", "t").schema.fields] == [
        T.IntegerType(), T.StringType(),
    ]
    # a no-op diff writes nothing
    wh.restore_version(spark, "omop", "t", 2)
    n_before = len(list_versions(wh.path("omop", "t")))
    assert not evolve(wh, spark, "omop", "t", target, defaults={"flag": True})
    assert len(list_versions(wh.path("omop", "t"))) == n_before


def test_evolve_refuses_narrowing_casts(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    wh.write(
        spark.createDataFrame([(2**40, 1.5)], "id long, score double"),
        "omop",
        "t",
    )
    with pytest.raises(ValueError, match="narrowing"):
        evolve(wh, spark, "omop", "t", _schema("id INT, score DOUBLE"))
    # forced narrowing rides try_cast: the overflowing id becomes NULL
    # instead of an ANSI abort mid-rewrite; string widening stays exact
    evolve(
        wh, spark, "omop", "t", _schema("id INT, score STRING"),
        allow_narrowing=True,
    )
    got = wh.read(spark, "omop", "t")
    assert got.schema[1].dataType == T.StringType()
    assert got.collect()[0]["id"] is None


def test_migrate_to_registry_reports_per_table(spark, tmp_path):
    registry = SchemaRegistry(
        [
            TableSpec(
                name="person",
                columns=[
                    ColumnSpec("person_id", "int64", required=True),
                    ColumnSpec("gender_concept_id", "int64"),
                ],
                pk="person_id",
            ),
            TableSpec(
                name="episode",
                columns=[ColumnSpec("episode_id", "int64", required=True)],
                pk="episode_id",
            ),
        ]
    )
    wh = Warehouse(str(tmp_path / "wh"))
    # person exists with drift (int32 id, missing gender, stray column)
    wh.write(
        spark.createDataFrame(
            [(1, "stray")], "person_id int, legacy string"
        ),
        "omop",
        "person",
    )
    report = migrate_to_registry(wh, spark, registry)
    assert report["episode"] == ["created"]
    assert sorted(report["person"]) == [
        "+gender_concept_id:bigint", "-legacy", "~person_id:int->bigint",
    ]
    assert wh.exists("omop", "episode")
    assert [f.name for f in wh.read(spark, "omop", "person").schema.fields] == [
        "person_id", "gender_concept_id",
    ]
    # second run is a no-op everywhere
    report2 = migrate_to_registry(wh, spark, registry)
    assert report2 == {"episode": [], "person": []}
