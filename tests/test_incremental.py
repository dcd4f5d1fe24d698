"""Incremental LSH dedup, JSONL ingest, warehouse compaction."""

from __future__ import annotations

import gzip
import json
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from rabbit_in_a_blender_spark.core.commit import resolve_pointer
from rabbit_in_a_blender_spark.ext.dedup import (
    incremental_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_sets,
    signature_bands,
)
from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse
from rabbit_in_a_blender_spark.sources.readers import read_jsonl


def _bands_of(df, id_col="doc_id", text_col="text"):
    return signature_bands(
        minhash_signatures(shingle_sets(df, id_col, text_col), id_col), id_col
    )


def test_signature_bands_match_candidate_pairs(spark):
    """A pair is an LSH candidate iff its band rows collide — the
    standalone index and the pair join must agree."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon eta"),
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(shingle_sets(docs, "doc_id", "text"), "doc_id")
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id").collect()
    }
    bands = signature_bands(sigs, "doc_id")
    joined = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    assert pairs == {(r["id_a"], r["id_b"]) for r in joined.collect()}


def test_incremental_dedup_screens_against_corpus(spark):
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog every day")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog every night"),
            (11, "completely novel content about sparkly distributed engines"),
        ],
        "doc_id long, text string",
    )
    clean, clean_bands = incremental_dedup(
        batch, _bands_of(corpus), "doc_id", "text"
    )
    kept = {r["doc_id"] for r in clean.collect()}
    assert kept == {11}  # near-dup of corpus doc 1 screened out
    assert {r["doc_id"] for r in clean_bands.collect()} == {11}


def test_incremental_dedup_intra_batch_lowest_id_wins(spark):
    batch = spark.createDataFrame(
        [
            (20, "pack my box with five dozen liquor jugs right now"),
            (21, "pack my box with five dozen liquor jugs right here"),
            (22, "unrelated text with entirely different words inside it"),
        ],
        "doc_id long, text string",
    )
    clean, _ = incremental_dedup(batch, None, "doc_id", "text")
    kept = {r["doc_id"] for r in clean.collect()}
    assert 22 in kept and 20 in kept and 21 not in kept


def test_incremental_dedup_appended_bands_screen_next_batch(spark):
    """The returned bands extend the index: a later batch near-dup of a
    FIRST-batch survivor is screened."""
    b1 = spark.createDataFrame(
        [(30, "a totally original piece of writing about compaction")],
        "doc_id long, text string",
    )
    clean1, bands1 = incremental_dedup(b1, None, "doc_id", "text")
    assert {r["doc_id"] for r in clean1.collect()} == {30}
    b2 = spark.createDataFrame(
        [(40, "a totally original piece of writing about compaction too")],
        "doc_id long, text string",
    )
    clean2, _ = incremental_dedup(b2, bands1, "doc_id", "text")
    assert clean2.count() == 0


def test_incremental_dedup_caches_released(spark):
    """Regression (ADVICE r5): the increment loop must be able to
    release its persisted intermediates, or a continuous crawl pins
    executor storage memory across increments."""
    from rabbit_in_a_blender_spark.ext.dedup import unpersist_intermediates

    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    batch = spark.createDataFrame(
        [(50, "one clean doc about cache hygiene in long running loops"),
         (51, "another clean doc about storage memory and increments")],
        "doc_id long, text string",
    )
    clean, bands = incremental_dedup(batch, None, "doc_id", "text")
    clean.collect()
    bands.collect()
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) > before
    released = unpersist_intermediates(clean, bands)
    assert released >= 1
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before
    # idempotent: a second call is a no-op
    assert unpersist_intermediates(clean, bands) == 0


DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)


def test_read_jsonl_plain_and_gzip(spark, tmp_path):
    rows = [{"doc_id": i, "text": f"doc {i}", "lang": "en"} for i in range(5)]
    plain = tmp_path / "part-0.jsonl"
    plain.write_text("\n".join(json.dumps(r) for r in rows[:3]) + "\n")
    gz = tmp_path / "part-1.jsonl.gz"
    with gzip.open(gz, "wt") as f:
        for r in rows[3:]:
            f.write(json.dumps(r) + "\n")
    out = read_jsonl(spark, str(tmp_path), DOC_SCHEMA)
    got = sorted((r["doc_id"], r["text"], r["lang"]) for r in out.collect())
    assert got == [(i, f"doc {i}", "en") for i in range(5)]


def test_read_jsonl_malformed_handling(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"doc_id": 1, "text": "ok", "lang": "en"}\nnot json at all\n')
    dropped = read_jsonl(spark, str(p), DOC_SCHEMA)
    assert [r["doc_id"] for r in dropped.collect()] == [1]
    kept = read_jsonl(spark, str(p), DOC_SCHEMA, keep_corrupt=True)
    rows = kept.collect()
    assert len(rows) == 2
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and bad[0]["doc_id"] is None


def test_compact_merges_small_files(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    # simulate an append-heavy table: 40 tiny files
    wh.write(df.repartition(40), "work", "events_log")
    p = resolve_pointer(wh.path("work", "events_log"))
    assert sum(1 for f in os.listdir(p) if f.endswith(".parquet")) == 40
    n = wh.compact(spark, "work", "events_log", target_file_bytes=1 << 30)
    assert n == 1
    back = wh.read(spark, "work", "events_log")
    assert back.count() == 10_000
    assert back.agg(F.sum("v")).collect()[0][0] == df.agg(F.sum("v")).collect()[0][0]


def test_write_versioned_time_travel_and_restore(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "whv"))
    mk = lambda v: spark.range(3).select(F.col("id"), F.lit(v).alias("ver"))
    assert wh.write_versioned(mk("a"), "work", "t") is None  # first write
    assert wh.write_versioned(mk("b"), "work", "t") == 1     # 'a' → v1
    assert wh.write_versioned(mk("c"), "work", "t") == 2     # 'b' → v2
    assert wh.versions("work", "t") == [1, 2]
    # live = newest; snapshots hold history
    assert {r["ver"] for r in wh.read(spark, "work", "t").collect()} == {"c"}
    assert {r["ver"] for r in wh.read_version(spark, "work", "t", 1).collect()} == {"a"}
    # restore v1: current 'c' is itself snapshotted, 'a' is live again
    saved = wh.restore_version(spark, "work", "t", 1)
    assert saved == 3
    assert {r["ver"] for r in wh.read(spark, "work", "t").collect()} == {"a"}
    assert {r["ver"] for r in wh.read_version(spark, "work", "t", 3).collect()} == {"c"}
    # .snapshots never leaks into the catalog listing
    assert wh.list_tables("work") == ["t"]


def test_write_versioned_prunes_beyond_keep(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "whp"))
    for i in range(6):
        wh.write_versioned(
            spark.range(2).select(F.col("id"), F.lit(i).alias("ver")),
            "work", "t", keep=2,
        )
    assert wh.versions("work", "t") == [4, 5]  # only the last 2 retained
