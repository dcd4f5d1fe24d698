"""Token-budget selection + deterministic shuffle: strict/scalable
equivalence, budget edge cases, reshard-stable shard membership."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
from rabbit_in_a_blender_spark.ext.budget import (
    deterministic_shuffle,
    token_budget_select,
)


def _docs(spark, n=200):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        ((F.col("id") * 37) % 100 + 1).alias("n_tokens"),
    )


@pytest.mark.parametrize("n", [0, 1, 3_000])
def test_strict_and_scalable_agree_at_production_partitions(
    production_partitions, n
):
    """AQE may coalesce the cached range exchange at 32 shuffle
    partitions; the per-partition prefix offsets stay exact."""
    df = _docs(production_partitions, n)
    order = [F.desc("n_tokens"), F.asc("doc_id")]
    budget = 25 * n + 1
    strict = token_budget_select(df, "n_tokens", budget, order, mode="strict")
    scalable = token_budget_select(df, "n_tokens", budget, order, mode="scalable")
    s = sorted((r["doc_id"], r["cum_tokens"]) for r in strict.collect())
    c = sorted((r["doc_id"], r["cum_tokens"]) for r in scalable.collect())
    unpersist_intermediates(scalable)
    assert s == c and bool(s) == (n > 0)


def test_strict_and_scalable_agree(spark):
    df = _docs(spark)
    order = [F.desc("n_tokens"), F.asc("doc_id")]
    strict = token_budget_select(df, "n_tokens", 3_000, order, mode="strict")
    scalable = token_budget_select(df, "n_tokens", 3_000, order, mode="scalable")
    s = sorted((r["doc_id"], r["cum_tokens"]) for r in strict.collect())
    c = sorted((r["doc_id"], r["cum_tokens"]) for r in scalable.collect())
    assert s == c and s, "twins diverged or selected nothing"


def test_budget_is_inclusive_prefix(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "doc_id long, n_tokens long"
    )
    out = token_budget_select(
        df, "n_tokens", 60, [F.asc("doc_id")], mode="scalable"
    ).collect()
    got = {r["doc_id"]: r["cum_tokens"] for r in out}
    assert got == {1: 10, 2: 30, 3: 60}  # 4 would overflow to 100


def test_budget_partition_independence(spark):
    df = _docs(spark, 500)
    order = [F.desc("n_tokens"), F.asc("doc_id")]
    a = token_budget_select(df, "n_tokens", 8_000, order).collect()
    b = token_budget_select(
        df.repartition(13), "n_tokens", 8_000, order
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_budget_zero_and_empty(spark):
    df = _docs(spark, 10)
    assert token_budget_select(df, "n_tokens", 0, [F.asc("doc_id")]).count() == 0
    empty = df.filter("doc_id < 0")
    assert token_budget_select(empty, "n_tokens", 100, [F.asc("doc_id")]).count() == 0


def test_shuffle_shards_balanced_and_reshard_stable(spark):
    df = spark.range(4_000).select(F.col("id").alias("doc_id"))
    out = deterministic_shuffle(df, "doc_id", seed="t", shards=8)
    rows = {r["doc_id"]: (r["shuffle_key"], r["shard_id"]) for r in out.collect()}
    counts = {}
    for _, (_, s) in rows.items():
        counts[s] = counts.get(s, 0) + 1
    assert set(counts) == set(range(8))
    assert max(counts.values()) < 2 * min(counts.values())  # roughly uniform
    # membership is a pure function of (key, seed): a grown, re-sharded
    # corpus assigns the SAME shard to every old doc
    grown = spark.range(8_000).select(F.col("id").alias("doc_id")).repartition(7)
    out2 = {
        r["doc_id"]: (r["shuffle_key"], r["shard_id"])
        for r in deterministic_shuffle(grown, "doc_id", seed="t", shards=8).collect()
    }
    assert all(out2[k] == v for k, v in rows.items())


def test_shuffle_key_orders_identically_across_engines(spark):
    import duckdb

    df = spark.range(100).select(F.col("id").alias("doc_id"))
    got = sorted(
        (r["shuffle_key"], r["doc_id"])
        for r in deterministic_shuffle(df, "doc_id", seed="x").collect()
    )
    want = duckdb.sql(
        "SELECT md5(CAST(r AS VARCHAR) || ':x') AS k, r FROM range(100) t(r) ORDER BY k"
    ).fetchall()
    assert [(k, i) for k, i in want] == got


def test_upsample_epochs_counts_and_determinism(spark):
    from rabbit_in_a_blender_spark.ext.sampling import upsample_epochs

    df = spark.range(1_000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "en")
        .when(F.col("id") % 3 == 1, "fr")
        .otherwise("zh")
        .alias("lang"),
    )
    out = upsample_epochs(
        df, "doc_id", "lang", {"en": 2.5, "fr": 0.25, "zh": 1.0}, seed="t"
    )
    rows = out.collect()
    per_doc = {}
    for r in rows:
        per_doc.setdefault((r["doc_id"], r["lang"]), []).append(r["copy_idx"])
    # copy_idx is a dense 1..n per doc
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_doc.values())
    by_lang = {}
    for (d, lang), v in per_doc.items():
        by_lang.setdefault(lang, []).append(len(v))
    # en: every doc 2 or 3 copies, ~50% get 3 → mean ~2.5
    assert set(by_lang["en"]) <= {2, 3}
    assert 2.3 < sum(by_lang["en"]) / len(by_lang["en"]) < 2.7
    # fr: docs appear 0 or 1 times; ~25% kept of 334 source docs
    assert set(by_lang["fr"]) == {1}
    assert 50 < len(by_lang["fr"]) < 120
    # zh: exactly one copy each
    assert set(by_lang["zh"]) == {1} and len(by_lang["zh"]) == 333
    # deterministic under repartitioning
    again = upsample_epochs(
        df.repartition(11), "doc_id", "lang",
        {"en": 2.5, "fr": 0.25, "zh": 1.0}, seed="t",
    ).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_upsample_epochs_rejects_negative(spark):
    from rabbit_in_a_blender_spark.ext.sampling import upsample_epochs

    df = spark.range(3).select(F.col("id").alias("doc_id"), F.lit("en").alias("lang"))
    with pytest.raises(ValueError):
        upsample_epochs(df, "doc_id", "lang", {"en": -1.0})


def test_shard_closed_form_matches_threshold_count():
    """The O(1) shard arithmetic must reproduce the hex-threshold count
    EXACTLY (the DuckDB oracles still spell out the threshold CASEs)."""
    import random

    from rabbit_in_a_blender_spark.ext.sampling import fraction_threshold

    rng = random.Random(7)
    for n in (2, 3, 4, 5, 7, 8, 13, 16, 100, 1000, 4096, 99_991):
        bounds = [fraction_threshold(i / n) for i in range(1, n)]
        vs = [0, 1, (1 << 32) - 1] + [rng.randrange(1 << 32) for _ in range(200)]
        # hit the threshold boundaries themselves, and one off each side
        for i in (1, n // 2, n - 1):
            t = int(bounds[i - 1], 16) if bounds[i - 1] != "g" else (1 << 32)
            vs += [max(t - 1, 0), t % (1 << 32), min(t + 1, (1 << 32) - 1)]
        for v in vs:
            hexv = format(v, "08x")
            want = sum(1 for b in bounds if hexv >= b)
            got = min(n - 1, (n * (2 * v + 1) - 1) >> 33)
            assert got == want, (n, v, got, want)


def test_shard_spark_matches_python_closed_form(spark):
    df = spark.range(500).select(F.col("id").alias("doc_id"))
    for n in (3, 8, 10):
        rows = deterministic_shuffle(df, "doc_id", seed="s7", shards=n).collect()
        for r in rows:
            v = int(r["shuffle_key"][:8], 16)
            assert r["shard_id"] == min(n - 1, (n * (2 * v + 1) - 1) >> 33)


def test_budget_select_release_contract(spark):
    """token_budget_select pins an intermediate (load-bearing); the
    caller must be able to release it (VERDICT r6 wrong-#1)."""
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    # distinct row count so the CacheManager can't alias this plan to a
    # pin left behind by an earlier test
    out = token_budget_select(
        _docs(spark, 123), "n_tokens", 999, [F.desc("n_tokens"), F.asc("doc_id")]
    )
    out.count()  # materialize
    assert len(sc._jsc.getPersistentRDDs()) > before
    assert unpersist_intermediates(out) == 1
    assert len(sc._jsc.getPersistentRDDs()) == before
    assert unpersist_intermediates(out) == 0  # idempotent
    assert out.count() > 0  # frame stays valid (recomputes)


def test_assign_ids_release_contract(spark):
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.operators.sequence import assign_ids

    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    out = assign_ids(_docs(spark, 77), ["doc_id"])
    ids = [r["assigned_id"] for r in out.collect()]
    assert sorted(ids) == list(range(1, 78))
    assert unpersist_intermediates(out) == 1
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_temperature_epochs_flattens_toward_small_sources():
    from rabbit_in_a_blender_spark.ext.sampling import temperature_epochs

    totals = {"big": 900_000, "small": 100_000}
    # alpha=1 → identity mix (every source ~1 epoch)
    e1 = temperature_epochs(totals, alpha=1.0)
    assert abs(e1["big"] - 1.0) < 1e-12 and abs(e1["small"] - 1.0) < 1e-12
    # alpha=0.5 → small source upsampled, big downsampled, total preserved
    e5 = temperature_epochs(totals, alpha=0.5)
    assert e5["small"] > 1.0 > e5["big"]
    mixed = sum(e5[s] * n for s, n in totals.items())
    assert abs(mixed - sum(totals.values())) < 1e-3
    # alpha=0 → equal token budgets per source
    e0 = temperature_epochs(totals, alpha=0.0)
    t0 = {s: e0[s] * n for s, n in totals.items()}
    assert abs(t0["big"] - t0["small"]) < 1e-3
    # explicit budget scales linearly
    eb = temperature_epochs(totals, alpha=0.5, total=500_000)
    assert all(abs(eb[s] - e5[s] / 2) < 1e-12 for s in totals)


def test_temperature_mixture_deterministic_and_proportional(spark):
    from rabbit_in_a_blender_spark.ext.sampling import temperature_mixture

    df = spark.createDataFrame(
        [(i, "big" if i < 900 else "small", 100) for i in range(1000)],
        "doc_id long, source string, nt long",
    )
    out = temperature_mixture(df, "doc_id", "source", "nt", alpha=0.5)
    rows = sorted(map(tuple, out.collect()))
    assert rows == sorted(map(tuple, temperature_mixture(
        df, "doc_id", "source", "nt", alpha=0.5).collect()))
    from collections import Counter

    got = Counter(r[1] for r in rows)
    # weights sqrt(90000)=300, sqrt(10000)=100 → p = (0.75, 0.25);
    # epochs e_i = p_i * T / n_i: big 75000/90000 = 0.833 → ~750 rows,
    # small 25000/10000 = 2.5 → ~250 rows
    assert abs(got["big"] - 750) < 40 and abs(got["small"] - 250) < 25
