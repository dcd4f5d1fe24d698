"""Unit tests for the §2 parity operators on tiny literal DataFrames."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
from rabbit_in_a_blender_spark.operators.aggregates import sorted_string_agg
from rabbit_in_a_blender_spark.operators.dedup import dedup_keep_first
from rabbit_in_a_blender_spark.operators.joins import (
    merge_delete,
    merge_upsert,
    null_safe_join,
    polymorphic_resolve,
)
from rabbit_in_a_blender_spark.operators.sequence import assign_ids, next_offset


def test_null_safe_join_matches_null_keys(spark):
    a = spark.createDataFrame([(1, None), (2, "x"), (3, "y")], "k int, s string")
    b = spark.createDataFrame([(1, None), (2, "x"), (3, "z")], "k int, s string")
    out = null_safe_join(a, b, ["k", "s"], "inner", null_safe_keys=["s"])
    assert sorted(r["k"] for r in out.select(a["k"]).collect()) == [1, 2]


def test_plain_equi_join_drops_null_keys(spark):
    a = spark.createDataFrame([(1, None)], "k int, s string")
    b = spark.createDataFrame([(1, None)], "k int, s string")
    out = null_safe_join(a, b, ["k", "s"], "inner")
    assert out.count() == 0


def test_merge_upsert_updates_and_inserts(spark):
    target = spark.createDataFrame([(1, "old"), (2, "keep")], "id int, v string")
    source = spark.createDataFrame([(1, "new"), (3, "ins")], "id int, v string")
    out = {r["id"]: r["v"] for r in merge_upsert(target, source, ["id"]).collect()}
    assert out == {1: "new", 2: "keep", 3: "ins"}


def test_merge_delete(spark):
    target = spark.createDataFrame([(1,), (2,), (3,)], "id int")
    source = spark.createDataFrame([(2,)], "id int")
    assert sorted(r["id"] for r in merge_delete(target, source, ["id"]).collect()) == [1, 3]


def test_session_lets_aqe_size_cached_plans(spark):
    """Without this conf a persisted plan keeps every initial shuffle
    partition: each read of a KB-sized cached frame runs 32 tasks."""
    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    assert spark.conf.get(key) == "true"


@pytest.mark.parametrize("n", [0, 1, 3_000])
def test_assign_ids_at_production_partitions(production_partitions, n):
    """At 32 shuffle partitions AQE coalesces the persisted numbered
    frame to at most defaultParallelism partitions, and the scalable ids
    still equal the strict global-order window's."""
    spark = production_partitions
    df = spark.range(n).select(
        F.format_string("k%05d", (F.col("id") * 7919) % max(n, 1)).alias("k")
    )
    scalable = assign_ids(df, ["k"], 10)
    got = {r["k"]: r["assigned_id"] for r in scalable.collect()}
    (numbered,) = scalable._graft_cached
    assert numbered.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism
    unpersist_intermediates(scalable)
    strict = assign_ids(df, ["k"], 10, mode="strict")
    assert got == {r["k"]: r["assigned_id"] for r in strict.collect()}
    assert len(got) == n


def test_assign_ids_strict_vs_scalable_identical(spark):
    df = spark.createDataFrame([(c,) for c in "fdbaec"], "k string")
    strict = {r["k"]: r["assigned_id"] for r in assign_ids(df, ["k"], 10, mode="strict").collect()}
    scal = {r["k"]: r["assigned_id"] for r in assign_ids(df, ["k"], 10, mode="scalable").collect()}
    assert strict == scal
    assert strict["a"] == 11 and strict["f"] == 16


def test_swap_table_id_stability_across_runs(spark):
    """Re-running the swap assignment must not renumber existing keys
    (SURVEY §7 known-hard #1)."""
    keys1 = spark.createDataFrame([("a",), ("b",)], "x string")
    swap = assign_ids(keys1, ["x"], 0, out_col="y", mode="strict")
    first = {r["x"]: r["y"] for r in swap.collect()}

    keys2 = spark.createDataFrame([("a",), ("b",), ("c",)], "x string")
    new = keys2.join(swap.select("x"), "x", "left_anti")
    assigned = assign_ids(new, ["x"], next_offset(swap, "y"), out_col="y", mode="strict")
    merged = swap.unionByName(assigned)
    second = {r["x"]: r["y"] for r in merged.collect()}
    assert second["a"] == first["a"] and second["b"] == first["b"]
    assert second["c"] == max(first.values()) + 1


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "b", 10), (1, "a", 20), (2, "c", 30)], "k int, s string, v int"
    )
    out = dedup_keep_first(df, ["k"], [F.col("s")])
    rows = {r["k"]: r["s"] for r in out.collect()}
    assert rows == {1: "a", 2: "c"}


def test_sorted_string_agg_deterministic(spark):
    df = spark.createDataFrame([(1, "b"), (1, "a"), (1, "c")], "k int, s string")
    out = df.groupBy("k").agg(sorted_string_agg("s").alias("agg")).collect()
    assert out[0]["agg"] == "a, b, c"


def test_sorted_string_agg_truncation(spark):
    df = spark.createDataFrame([(1, "abcdef"), (1, "ghijk")], "k int, s string")
    out = df.groupBy("k").agg(sorted_string_agg("s", max_len=5).alias("agg")).collect()
    assert out[0]["agg"] == "abcde"


def test_polymorphic_resolve_routes_and_defaults(spark):
    fact = spark.createDataFrame(
        [(1, "t1", 10), (2, "t2", 20), (3, "t1", 99), (4, "t3", 10)],
        "id int, kind string, ref int",
    )
    t1 = spark.createDataFrame([(10, 100)], "k int, v int")
    t2 = spark.createDataFrame([(20, 200)], "k int, v int")
    out = polymorphic_resolve(
        fact, "kind", "ref", {"t1": (t1, "k", "v"), "t2": (t2, "k", "v")}
    )
    got = {r["id"]: r["resolved_id"] for r in out.collect()}
    # id 3: discriminator t1 but no match → 0; id 4: unknown kind → 0
    assert got == {1: 100, 2: 200, 3: 0, 4: 0}


def test_asof_join_backward(spark):
    import datetime

    from rabbit_in_a_blender_spark.operators.asof import asof_join

    D = datetime.datetime
    probes = spark.createDataFrame(
        [(1, 7, D(2024, 1, 10)), (2, 7, D(2024, 1, 1)), (3, 8, D(2024, 1, 5))],
        "event_id int, k int, ts timestamp",
    )
    refs = spark.createDataFrame(
        [(7, D(2024, 1, 2), 100), (7, D(2024, 1, 9), 200), (9, D(2024, 1, 1), 300)],
        "k int, rts timestamp, payload int",
    )
    out = asof_join(probes, refs, ["k"], "ts", "rts", ["payload"])
    got = {r["event_id"]: r["payload"] for r in out.collect()}
    # event 1: latest ref at/before 01-10 is 200; event 2: none before 01-01;
    # event 3: key 8 has no refs at all.
    assert got == {1: 200, 2: None, 3: None}


def test_asof_join_tie_matches_reference_row(spark):
    import datetime

    from rabbit_in_a_blender_spark.operators.asof import asof_join

    D = datetime.datetime
    probes = spark.createDataFrame([(1, 7, D(2024, 1, 2))], "event_id int, k int, ts timestamp")
    refs = spark.createDataFrame([(7, D(2024, 1, 2), 42)], "k int, rts timestamp, payload int")
    out = asof_join(probes, refs, ["k"], "ts", "rts", ["payload"]).collect()
    assert out[0]["payload"] == 42  # equal timestamps match (inclusive)
