"""Streaming windows: batch semantics + a real Structured Streaming run."""

from __future__ import annotations

import datetime
import shutil
import tempfile

from rabbit_in_a_blender_spark.streaming.windows import (
    session_agg,
    sliding_agg,
    streaming_events_source,
    tumbling_agg,
    windowed_stream,
)

D = datetime.datetime


def _events(spark):
    rows = [
        (1, D(2024, 1, 1, 0, 5), 1, "click", 1.0),
        (2, D(2024, 1, 1, 0, 20), 1, "click", 2.0),
        (3, D(2024, 1, 1, 1, 5), 1, "click", 3.0),
        (4, D(2024, 1, 1, 0, 55), 2, "view", 4.0),
    ]
    return spark.createDataFrame(
        rows, "event_id int, ts timestamp, user_id int, event_type string, value double"
    )


def test_tumbling_counts(spark):
    out = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in tumbling_agg(_events(spark), "ts", "1 hour", ["event_type"]).collect()
    }
    assert out[("2024-01-01 00:00:00", "click")] == 2
    assert out[("2024-01-01 01:00:00", "click")] == 1
    assert out[("2024-01-01 00:00:00", "view")] == 1


def test_sliding_every_event_in_two_windows(spark):
    out = sliding_agg(_events(spark), "ts", "1 hour", "30 minutes", ["event_type"])
    total = sum(r["n_events"] for r in out.collect())
    assert total == 2 * 4  # size/slide = 2 windows per event


def test_session_gap_semantics(spark):
    # user 1: events at 0:05, 0:20 (gap 15m < 30m → same session),
    # then 1:05 (gap 45m → new session). user 2: one session.
    out = session_agg(_events(spark), "ts", "30 minutes", ["user_id"])
    rows = {(r["user_id"], r["session_start"]): r["n_events"] for r in out.collect()}
    assert rows == {
        (1, "2024-01-01 00:05:00"): 2,
        (1, "2024-01-01 01:05:00"): 1,
        (2, "2024-01-01 00:55:00"): 1,
    }


def test_real_structured_stream(spark):
    """The same tumbling agg through readStream → memory sink."""
    tmp = tempfile.mkdtemp(prefix="riab_stream_")
    try:
        _events(spark).write.mode("overwrite").parquet(f"{tmp}/events")
        src = streaming_events_source(spark, f"{tmp}/events")
        agg = windowed_stream(src, "ts", "1 hour", ["event_type"], watermark="2 hours")
        q = (
            agg.writeStream.format("memory")
            .queryName("riab_stream_test")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)
        rows = spark.sql("select * from riab_stream_test").collect()
        got = {(r["window_start"], r["event_type"]): r["n_events"] for r in rows}
        assert got[("2024-01-01 00:00:00", "click")] == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stateful_running_counts(spark):
    """applyInPandasWithState across two micro-batches: state carries over."""
    import os

    from rabbit_in_a_blender_spark.streaming.stateful import running_counts
    from rabbit_in_a_blender_spark.streaming.windows import streaming_events_source

    tmp = tempfile.mkdtemp(prefix="riab_state_")
    try:
        batch1 = _events(spark).filter("event_id <= 2")
        batch2 = _events(spark).filter("event_id > 2")
        batch1.coalesce(1).write.parquet(f"{tmp}/in/b1")
        # one file per trigger → two micro-batches
        batch2.coalesce(1).write.parquet(f"{tmp}/in/b2")
        for i, sub in enumerate(sorted(os.listdir(f"{tmp}/in"))):
            for f in os.listdir(f"{tmp}/in/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/in/{sub}/{f}", f"{tmp}/stream_{i}.parquet")
        src = streaming_events_source(spark, tmp, schema=_events(spark).schema, max_files=1)
        q = (
            running_counts(src)
            .writeStream.format("memory")
            .queryName("riab_stateful_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # ProcessingTimeTimeout keeps scheduling timeout-processing
        # batches, so availableNow never self-terminates — the old flat
        # awaitTermination(120) slept the FULL 120 s every run (r14:
        # the single slowest non-soak test).  Poll the memory sink
        # until both micro-batches' rows landed, then stop (the same
        # drain discipline as the stream_counts_batch catalog fixture).
        import time as _time

        deadline = _time.time() + 120
        while _time.time() < deadline:
            if q.exception() is not None:
                raise q.exception()
            seen = (
                spark.table("riab_stateful_test")
                .groupBy("user_id")
                .agg({"n_events": "max"})
                .agg({"max(n_events)": "sum"})
                .first()[0]
            )
            if seen == 4:  # events 1,2,3 for user 1 + event for user 2
                break
            _time.sleep(0.5)
        q.stop()
        rows = spark.sql(
            "select * from riab_stateful_test order by user_id, n_events"
        ).collect()
        # final state per user must reflect ALL events (state carried over)
        final = {}
        for r in rows:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
        assert final[1] == (3, 6.0)  # events 1,2,3: values 1+2+3
        assert final[2] == (1, 4.0)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_upsert_into_warehouse(spark):
    """foreachBatch upsert: two micro-batches land in one warehouse table,
    overlapping keys updated not duplicated."""
    import os

    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse
    from rabbit_in_a_blender_spark.streaming.sink import stream_upsert_query
    from rabbit_in_a_blender_spark.streaming.windows import streaming_events_source

    tmp = tempfile.mkdtemp(prefix="riab_sink_")
    try:
        # batch 1: events 1,2 — batch 2: events 2 (updated value), 3
        b1 = _events(spark).filter("event_id <= 2")
        from pyspark.sql import functions as F

        b2 = (
            _events(spark)
            .filter("event_id >= 2 and event_id <= 3")
            .withColumn("value", F.lit(99.0))
        )
        b1.coalesce(1).write.parquet(f"{tmp}/in1")
        b2.coalesce(1).write.parquet(f"{tmp}/in2")
        srcdir = f"{tmp}/src"
        os.makedirs(srcdir)
        i = 0
        for sub in ("in1", "in2"):
            for f in os.listdir(f"{tmp}/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/{sub}/{f}", f"{srcdir}/stream_{i}.parquet")
                    i += 1
        src = streaming_events_source(
            spark, srcdir, schema=_events(spark).schema, max_files=1
        )
        wh = Warehouse(f"{tmp}/wh")
        q = (
            stream_upsert_query(src, wh, "work", "events_live", ["event_id"], f"{tmp}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = {r["event_id"]: r["value"] for r in wh.read(spark, "work", "events_live").collect()}
        assert set(rows) == {1, 2, 3}
        assert rows[2] == 99.0  # batch-2 update won
        assert rows[1] == 1.0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_streaming_dedup_screen(spark):
    """Exact-dup rows inside the watermark are dropped across micro-batches."""
    from rabbit_in_a_blender_spark.streaming.windows import streaming_dedup_screen

    tmp = tempfile.mkdtemp(prefix="riab_sdedup_")
    try:
        rows = [
            (1, D(2024, 1, 1, 0, 0), "same text"),
            (2, D(2024, 1, 1, 0, 10), "other text"),
        ]
        dup = [
            (3, D(2024, 1, 1, 0, 20), "same text"),  # re-fetch → dropped
            (4, D(2024, 1, 1, 0, 30), "third text"),
        ]
        schema = "doc_id int, ts timestamp, text string"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{tmp}/b1")
        spark.createDataFrame(dup, schema).coalesce(1).write.parquet(f"{tmp}/b2")
        import os

        for i, sub in enumerate(sorted(os.listdir(tmp))):
            for f in os.listdir(f"{tmp}/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/{sub}/{f}", f"{tmp}/stream_{i}.parquet")
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        q = (
            streaming_dedup_screen(src, "ts", "text", watermark="2 hours")
            .writeStream.format("memory")
            .queryName("riab_sdedup_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = sorted(
            r["doc_id"] for r in spark.sql("select * from riab_sdedup_test").collect()
        )
        assert got == [1, 2, 4]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_corpus_dedup_screens_across_batches(spark):
    """foreachBatch near-dup screen: micro-batch 2's near-dup of a
    batch-1 survivor is screened via the band index the stream itself
    grew — continuous-crawl ingestion with state in a table, not
    executor memory."""
    import os

    from pyspark.sql import types as T

    from rabbit_in_a_blender_spark.streaming.sink import stream_corpus_dedup

    tmp = tempfile.mkdtemp(prefix="riab_scd_")
    # other suites may legitimately hold cached frames in the shared
    # session — assert against NEW leaks only, not the global cache
    pre_cached = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    try:
        schema = T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        )
        base = (
            "a long report about shuffle partitioning and skew mitigation "
            "strategies on very large production spark clusters"
        )
        b1 = spark.createDataFrame(
            [
                (1, base),
                (2, "an unrelated essay about parquet footer statistics pruning"),
            ],
            schema,
        )
        b2 = spark.createDataFrame(
            [
                # near-dup of doc 1: appended word, all leading shingles
                # shared -> deterministic LSH band collision (verified)
                (10, base + " appendix"),
                (11, "completely fresh content never seen in any earlier batch"),
            ],
            schema,
        )
        srcdir = f"{tmp}/src"
        os.makedirs(srcdir)
        i = 0
        for b, sub in ((b1, "in1"), (b2, "in2")):
            b.coalesce(1).write.parquet(f"{tmp}/{sub}")
            for f in os.listdir(f"{tmp}/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/{sub}/{f}", f"{srcdir}/stream_{i}.parquet")
                    i += 1
        src = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(srcdir)
        )
        q = (
            stream_corpus_dedup(
                src, f"{tmp}/corpus", f"{tmp}/index", f"{tmp}/ckpt"
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        kept = {r["doc_id"] for r in spark.read.parquet(f"{tmp}/corpus").collect()}
        assert kept == {1, 2, 11}, kept  # 10 screened against batch-1 bands
        # the index holds bands for every survivor
        idx_ids = {
            r["doc_id"] for r in spark.read.parquet(f"{tmp}/index").collect()
        }
        assert idx_ids == {1, 2, 11}
        # no cache entries leaked across micro-batches (relative to the
        # suite's pre-existing cache)
        post_cached = set(
            spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        )
        assert post_cached <= pre_cached, post_cached - pre_cached
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_zscore_matches_batch_twin(spark):
    """stream_zscore over two micro-batches == batch rolling_zscore on the
    same events, minus the final (still-open) bucket per group."""
    import os

    from rabbit_in_a_blender_spark.ext.timeseries import rolling_zscore
    from rabbit_in_a_blender_spark.streaming.stateful import stream_zscore
    from rabbit_in_a_blender_spark.streaming.windows import streaming_events_source

    rows = []
    # 11 hourly buckets for group "a": calm 10/11 alternation then a spike
    for h in range(10):
        rows.append((h, D(2024, 1, 1, h, 10), 1, "a", 10.0 + (h % 2)))
    rows.append((10, D(2024, 1, 1, 10, 10), 1, "a", 100.0))  # spike bucket
    rows.append((11, D(2024, 1, 1, 11, 10), 1, "a", 10.0))   # closes the spike
    df = spark.createDataFrame(
        rows, "event_id int, ts timestamp, user_id int, event_type string, value double"
    )

    tmp = tempfile.mkdtemp(prefix="riab_zs_")
    try:
        # two micro-batches, split mid-history so state must carry over
        df.filter("event_id <= 5").coalesce(1).write.parquet(f"{tmp}/in/b1")
        df.filter("event_id > 5").coalesce(1).write.parquet(f"{tmp}/in/b2")
        for i, sub in enumerate(sorted(os.listdir(f"{tmp}/in"))):
            for f in os.listdir(f"{tmp}/in/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/in/{sub}/{f}", f"{tmp}/stream_{i}.parquet")
        src = streaming_events_source(spark, tmp, schema=df.schema, max_files=1)
        q = (
            stream_zscore(src, "event_type", width_s=3600)
            .writeStream.format("memory")
            .queryName("riab_zscore_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["bucket_ts"]: r
            for r in spark.sql("select * from riab_zscore_test").collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    batch = {
        r["bucket_ts"]: r
        for r in rolling_zscore(df, "event_type", "ts", "value", width_s=3600).collect()
    }
    # the stream never closes the newest bucket (11:00), batch scores it
    open_bucket = "2024-01-01 11:00:00"
    assert set(got) == set(batch) - {open_bucket}
    for ts, s in got.items():
        b = batch[ts]
        assert s["avg_value"] == b["avg_value"]           # exact cents grid
        assert abs(s["zscore"] - b["zscore"]) <= 0.001    # stddev algo ulps
        assert s["is_anomaly"] == b["is_anomaly"]
    spike = got["2024-01-01 10:00:00"]
    assert spike["is_anomaly"] is True and spike["zscore"] > 2


def test_stream_zscore_drops_late_events(spark):
    """An event for an already-closed bucket is dropped, not re-opened."""
    import os

    from rabbit_in_a_blender_spark.streaming.stateful import stream_zscore
    from rabbit_in_a_blender_spark.streaming.windows import streaming_events_source

    rows = [(h, D(2024, 1, 1, h, 10), 1, "a", 10.0 + (h % 2)) for h in range(7)]
    df = spark.createDataFrame(
        rows, "event_id int, ts timestamp, user_id int, event_type string, value double"
    )
    late = spark.createDataFrame(
        [(99, D(2024, 1, 1, 0, 50), 1, "a", 1000.0)], df.schema
    )
    tmp = tempfile.mkdtemp(prefix="riab_zs_late_")
    try:
        df.coalesce(1).write.parquet(f"{tmp}/in/b1")
        late.coalesce(1).write.parquet(f"{tmp}/in/b2")
        for i, sub in enumerate(sorted(os.listdir(f"{tmp}/in"))):
            for f in os.listdir(f"{tmp}/in/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/in/{sub}/{f}", f"{tmp}/stream_{i}.parquet")
        src = streaming_events_source(spark, tmp, schema=df.schema, max_files=1)
        q = (
            stream_zscore(src, "event_type", width_s=3600)
            .writeStream.format("memory")
            .queryName("riab_zscore_late_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from riab_zscore_late_test").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # the late 1000.0 for hour 0 never perturbs any emitted bucket
    assert all(r["avg_value"] < 100 for r in got)
    assert all(not r["is_anomaly"] for r in got)


def test_stream_zscore_allowed_lateness_emits_corrections(spark):
    """allowed_lateness=N reopens one of the last N closed buckets for a
    late event: a corrected row is emitted and the trailing ring is
    patched so later closes score against the corrected average."""
    import os

    from rabbit_in_a_blender_spark.streaming.stateful import stream_zscore
    from rabbit_in_a_blender_spark.streaming.windows import streaming_events_source

    # b1: hours 0-5 calm (10/11), hour 6 = 15.0 (stays open)
    b1 = [(h, D(2024, 1, 1, h, 10), 1, "a", 10.0 + (h % 2)) for h in range(6)]
    b1.append((6, D(2024, 1, 1, 6, 10), 1, "a", 15.0))
    # b2: LATE event for hour 5 (the most recent closed bucket)
    b2 = [(99, D(2024, 1, 1, 5, 50), 1, "a", 1000.0)]
    # b3: hour 7 closes bucket 6
    b3 = [(7, D(2024, 1, 1, 7, 10), 1, "a", 10.0)]
    schema = "event_id int, ts timestamp, user_id int, event_type string, value double"
    tmp = tempfile.mkdtemp(prefix="riab_zs_corr_")
    try:
        for i, rows in enumerate((b1, b2, b3)):
            sub = f"{tmp}/part{i}"
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(sub)
            for f in os.listdir(sub):
                if f.endswith(".parquet"):
                    os.rename(f"{sub}/{f}", f"{tmp}/stream_{i}.parquet")
        src = streaming_events_source(
            spark, tmp, schema=spark.createDataFrame(b1, schema).schema, max_files=1
        )
        q = (
            stream_zscore(src, "event_type", width_s=3600, allowed_lateness=2)
            .writeStream.format("memory")
            .queryName("riab_zscore_corr_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = spark.sql("select * from riab_zscore_corr_test").collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    by_ts: dict[str, list] = {}
    for r in got:
        by_ts.setdefault(r["bucket_ts"], []).append(r)
    # bucket 5 has its original close AND the late correction
    five = sorted(by_ts["2024-01-01 05:00:00"], key=lambda r: r["avg_value"])
    assert len(five) == 2
    assert five[0]["avg_value"] == 11.0 and not five[0]["is_anomaly"]
    # corrected avg = (1100 + 100000) cents / 2 events = 505.5
    assert five[1]["avg_value"] == 505.5 and five[1]["is_anomaly"]
    # bucket 6 (avg 15.0) closes AFTER the correction: against the
    # patched ring (sigma blown up by 505.5) it is NOT an anomaly —
    # against the unpatched calm ring z would be ~9 and anomalous
    (six,) = by_ts["2024-01-01 06:00:00"]
    assert six["avg_value"] == 15.0 and not six["is_anomaly"]


def test_stream_drift_monitor_converges_to_batch_psi(spark):
    """Two micro-batches of candidate docs against a fixed reference
    profile: the final streaming PSI report equals batch psi_drift over
    reference + all candidates."""
    import os

    from rabbit_in_a_blender_spark.ext.drift import fit_reference_profile, psi_drift
    from rabbit_in_a_blender_spark.streaming.monitor import stream_drift_monitor
    from rabbit_in_a_blender_spark.streaming.windows import streaming_events_source

    ref_rows = [(i, "ref", 100 + i) for i in range(40)]
    cand_rows = [(100 + i, "steady", 100 + i) for i in range(40)]
    cand_rows += [(200 + i, "drifted", 400 + i) for i in range(40)]
    schema = "doc_id long, source string, n_chars long"
    ref = spark.createDataFrame(ref_rows, schema)
    cand = spark.createDataFrame(cand_rows, schema)

    edges, shares = fit_reference_profile(ref, "n_chars", n_bins=4)
    assert len(edges) == 3 and len(shares) == 4
    assert abs(sum(shares) - 1.0) < 1e-9

    tmp = tempfile.mkdtemp(prefix="riab_drift_mon_")
    try:
        # interleave strata across the two batches so cumulative counts matter
        cand.filter("doc_id % 2 = 0").coalesce(1).write.parquet(f"{tmp}/in/b1")
        cand.filter("doc_id % 2 = 1").coalesce(1).write.parquet(f"{tmp}/in/b2")
        for i, sub in enumerate(sorted(os.listdir(f"{tmp}/in"))):
            for f in os.listdir(f"{tmp}/in/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/in/{sub}/{f}", f"{tmp}/stream_{i}.parquet")
        src = streaming_events_source(spark, tmp, schema=cand.schema, max_files=1)
        q = stream_drift_monitor(
            src, "source", "n_chars", edges, shares,
            counts_dir=f"{tmp}/counts", report_dir=f"{tmp}/report",
            checkpoint_dir=f"{tmp}/ckpt",
        ).trigger(availableNow=True).start()
        q.awaitTermination(120)
        report = {r["stratum"]: r for r in spark.read.parquet(f"{tmp}/report").collect()}
        counts = spark.read.parquet(f"{tmp}/counts")
        assert counts.select("batch_id").distinct().count() == 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    batch = {
        r["source"]: r
        for r in psi_drift(ref.unionByName(cand), "source", "n_chars", "ref").collect()
    }
    assert set(report) == {"steady", "drifted"}
    for s in report:
        assert report[s]["n_docs"] == batch[s]["n_docs"] == 40
        assert report[s]["psi"] == batch[s]["psi"]
    assert report["drifted"]["psi"] > 0.25 > report["steady"]["psi"]


def test_stream_zscore_half_tie_cents_match_batch(spark):
    """Values landing exactly on a .5 cents tie (e.g. 10.125 → 1012.5)
    must round HALF_UP like the batch twin's F.round(value*100, 0) —
    pandas .round is half-even and diverged here (ADVICE r7)."""
    import os

    from rabbit_in_a_blender_spark.ext.timeseries import rolling_zscore
    from rabbit_in_a_blender_spark.streaming.stateful import stream_zscore
    from rabbit_in_a_blender_spark.streaming.windows import streaming_events_source

    rows = []
    # every value sits on an exact .5 cents tie (three binary decimals)
    for h in range(10):
        rows.append((h, D(2024, 1, 1, h, 10), 1, "a", 10.125 + (h % 2) * 1.25))
    rows.append((10, D(2024, 1, 1, 10, 10), 1, "a", 100.005))  # tie spike
    rows.append((11, D(2024, 1, 1, 11, 10), 1, "a", 10.125))   # closes it
    df = spark.createDataFrame(
        rows, "event_id int, ts timestamp, user_id int, event_type string, value double"
    )

    tmp = tempfile.mkdtemp(prefix="riab_zs_tie_")
    try:
        df.filter("event_id <= 5").coalesce(1).write.parquet(f"{tmp}/in/b1")
        df.filter("event_id > 5").coalesce(1).write.parquet(f"{tmp}/in/b2")
        for i, sub in enumerate(sorted(os.listdir(f"{tmp}/in"))):
            for f in os.listdir(f"{tmp}/in/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/in/{sub}/{f}", f"{tmp}/stream_{i}.parquet")
        src = streaming_events_source(spark, tmp, schema=df.schema, max_files=1)
        q = (
            stream_zscore(src, "event_type", width_s=3600)
            .writeStream.format("memory")
            .queryName("riab_zscore_tie_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r["bucket_ts"]: r
            for r in spark.sql("select * from riab_zscore_tie_test").collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    batch = {
        r["bucket_ts"]: r
        for r in rolling_zscore(df, "event_type", "ts", "value", width_s=3600).collect()
    }
    assert set(got) == set(batch) - {"2024-01-01 11:00:00"}
    for ts, s in got.items():
        b = batch[ts]
        # bit-for-bit: HALF_UP ties put both sides on the identical grid
        assert s["avg_value"] == b["avg_value"], ts
        assert abs(s["zscore"] - b["zscore"]) <= 0.001
        assert s["is_anomaly"] == b["is_anomaly"]


def test_stream_zscore_rejects_lateness_beyond_lookback(spark):
    """ADVICE r9: a lateness horizon deeper than the ring would fold
    late partials for buckets whose ring slot is evicted — corrected
    state with no corrected output.  The operator fails loud instead."""
    import pytest

    from rabbit_in_a_blender_spark.streaming.stateful import stream_zscore

    src = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("'g' AS event_type", "timestamp AS ts",
                    "CAST(value AS DOUBLE) AS value")
    )
    with pytest.raises(ValueError, match="allowed_lateness"):
        stream_zscore(src, "event_type", lookback=4, allowed_lateness=5)


def test_stream_heavy_hitters_superset_and_exact_recount(spark):
    """Sharded Misra-Gries sketches across two micro-batches: the final
    candidate snapshot is a superset of the true heavy hitters, state is
    bounded by k per shard, and the exact re-count + threshold filter
    equals the plain groupBy answer."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from rabbit_in_a_blender_spark.streaming.stateful import stream_heavy_hitters
    from rabbit_in_a_blender_spark.streaming.windows import streaming_events_source

    k = 3
    # Skewed universe: 'hot' dominates across both batches, 'warm' is
    # borderline, the tail is unique items that can only displace
    # counters, never win one.
    b1 = ["hot"] * 30 + ["warm"] * 10 + [f"t{i}" for i in range(20)]
    b2 = ["hot"] * 25 + ["warm"] * 12 + [f"u{i}" for i in range(20)]
    tmp = tempfile.mkdtemp(prefix="riab_shh_test_")
    try:
        for i, items in enumerate((b1, b2)):
            df = spark.createDataFrame([(x,) for x in items], ["token"])
            df.coalesce(1).write.parquet(f"{tmp}/in/b{i}")
        n = 0
        for i, sub in enumerate(sorted(os.listdir(f"{tmp}/in"))):
            for f in os.listdir(f"{tmp}/in/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/in/{sub}/{f}", f"{tmp}/stream_{i}.parquet")
                    os.utime(
                        f"{tmp}/stream_{i}.parquet",
                        (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000),
                    )
        src = streaming_events_source(
            spark, tmp,
            schema=spark.createDataFrame([("x",)], ["token"]).schema,
            max_files=1,
        )
        q = (
            stream_heavy_hitters(src, "token", k=k, shards=2)
            .writeStream.format("memory")
            .queryName("riab_shh_test")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        # NoTimeout (ADVICE r10): no timeout batches get scheduled, so
        # availableNow self-terminates once the two files are drained.
        total = len(b1) + len(b2)
        assert q.awaitTermination(120)
        drained = (
            spark.table("riab_shh_test")
            .groupBy("shard").agg(F.max("n_seen").alias("__n"))
            .agg(F.sum("__n")).first()[0]
        )
        assert drained == total
        mem = spark.table("riab_shh_test")
        snap = mem.withColumn(
            "__mx", F.max("n_seen").over(Window.partitionBy("shard"))
        ).where(F.col("n_seen") == F.col("__mx"))
        # bounded state: <= k candidate rows per shard in the snapshot
        per_shard = {
            r["shard"]: r["nc"]
            for r in snap.where(F.col("item").isNotNull())
            .groupBy("shard").agg(F.count(F.lit(1)).alias("nc")).collect()
        }
        assert all(v <= k for v in per_shard.values())
        # every token seen exactly once (across shards)
        seen = sum(
            r["n_seen"]
            for r in snap.select("shard", "n_seen").distinct().collect()
        )
        assert seen == total
        cands = {
            r["item"]
            for r in snap.where(F.col("item").isNotNull()).collect()
        }
        batch = spark.createDataFrame([(x,) for x in b1 + b2], ["token"])
        exact = {
            r["token"]: r["freq"]
            for r in batch.groupBy("token")
            .agg(F.count(F.lit(1)).alias("freq"))
            .collect()
        }
        true_hh = {t for t, f in exact.items() if f * k > total}
        assert true_hh  # fixture sanity: 'hot' qualifies (55*3 > 117)
        assert true_hh <= cands, "MG candidates must cover every true HH"
        # exact re-count + filter == the full groupBy answer
        recounted = {t: exact[t] for t in cands if exact[t] * k > total}
        assert recounted == {t: exact[t] for t in true_hh}
    finally:
        spark.sql("DROP TABLE IF EXISTS riab_shh_test")
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dsir_select_folds_history_across_batches(spark):
    """foreachBatch DSIR: batch 1 is scored against itself, batch 2
    against the folded history — each at-arrival weight equals a
    full-history dsir_weights with the same frozen target."""
    import os

    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.dsir import dsir_model_counts, dsir_weights
    from rabbit_in_a_blender_spark.streaming.sink import stream_dsir_select

    sci = "quantum field theory predicts particle interactions"
    spam = "buy cheap pills now click here free offer"
    b1 = [(i, f"{sci} v{i}") for i in range(4)] + [
        (100 + j, f"{spam} v{j}") for j in range(4)
    ]
    b2 = [(200 + i, f"{sci} w{i}") for i in range(3)] + [
        (300 + j, f"{spam} w{j}") for j in range(3)
    ]
    target = spark.createDataFrame([(0, sci)], "doc_id long, text string")
    target_model = dsir_model_counts(target, "doc_id", "text", num_buckets=128)
    tmp = tempfile.mkdtemp(prefix="riab_sdsir_test_")
    try:
        for i, rows in enumerate((b1, b2)):
            df = spark.createDataFrame(rows, "doc_id long, text string")
            df.coalesce(1).write.parquet(f"{tmp}/in/b{i}")
        os.makedirs(f"{tmp}/src")
        for i, sub in enumerate(sorted(os.listdir(f"{tmp}/in"))):
            for f in os.listdir(f"{tmp}/in/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(
                        f"{tmp}/in/{sub}/{f}", f"{tmp}/src/stream_{i}.parquet"
                    )
                    os.utime(
                        f"{tmp}/src/stream_{i}.parquet",
                        (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000),
                    )
        src = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{tmp}/src")
        )
        q = (
            stream_dsir_select(
                src,
                out_dir=f"{tmp}/out",
                model_dir=f"{tmp}/model",
                checkpoint_dir=f"{tmp}/ckpt",
                target_model=target_model,
                num_buckets=128,
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        got = {
            r.doc_id: r.logw_micro
            for r in spark.read.parquet(f"{tmp}/out").collect()
        }
        assert len(got) == len(b1) + len(b2)
        # batch 1's weights == full dsir_weights over batch 1 only
        d1 = spark.createDataFrame(b1, "doc_id long, text string")
        w1 = dsir_weights(d1, target, "doc_id", "text", num_buckets=128)
        exp1 = {r.doc_id: r.logw_micro for r in w1.collect()}
        # batch 2's weights == full history (b1+b2) raw model
        d_all = spark.createDataFrame(b1 + b2, "doc_id long, text string")
        w_all = dsir_weights(d_all, target, "doc_id", "text", num_buckets=128)
        exp2 = {r.doc_id: r.logw_micro for r in w_all.collect()}
        unpersist_intermediates(w1, w_all)
        for doc_id, _ in b1:
            assert got[doc_id] == exp1[doc_id]
        for doc_id, _ in b2:
            assert got[doc_id] == exp2[doc_id]
        # the model dir now holds the full history's gram mass
        mass = (
            spark.read.parquet(f"{tmp}/model").agg(F.sum("cnt")).first()[0]
        )
        words = [len(t.split(" ")) for _, t in b1 + b2]
        assert mass == sum(2 * w - 1 for w in words)
        # FULL REPLAY (ADVICE r11): wipe the checkpoint and re-run the
        # stream over the same files — every batch re-fires.  Scores
        # must come out IDENTICAL (each batch overwrites its own
        # batch=<id> subdir and recomputes against the pre-fold model
        # view), never duplicated, and the model mass must not grow.
        shutil.rmtree(f"{tmp}/ckpt")
        q2 = (
            stream_dsir_select(
                spark.readStream.schema("doc_id long, text string")
                .option("maxFilesPerTrigger", "1")
                .parquet(f"{tmp}/src"),
                out_dir=f"{tmp}/out",
                model_dir=f"{tmp}/model",
                checkpoint_dir=f"{tmp}/ckpt",
                target_model=target_model,
                num_buckets=128,
            )
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination(120)
        replayed = spark.read.parquet(f"{tmp}/out").collect()
        assert len(replayed) == len(b1) + len(b2)  # no duplicate rows
        assert {r.doc_id: r.logw_micro for r in replayed} == got
        mass2 = (
            spark.read.parquet(f"{tmp}/model").agg(F.sum("cnt")).first()[0]
        )
        assert mass2 == mass
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_dsir_select_rejects_null_target_counts(spark):
    """A corrupt frozen target model (a NULL cnt row) fails when the
    stream is built, with the model-contract ValueError — not as a bare
    TypeError inside the first micro-batch."""
    import pytest

    from rabbit_in_a_blender_spark.streaming.sink import stream_dsir_select

    tmp = tempfile.mkdtemp(prefix="riab_sdsir_null_")
    try:
        src = spark.readStream.schema("doc_id long, text string").parquet(tmp)
        target = spark.createDataFrame([(1, 4), (2, None)], "bucket long, cnt long")
        with pytest.raises(ValueError, match="NULL bucket or cnt"):
            stream_dsir_select(
                src,
                out_dir=f"{tmp}/out",
                model_dir=f"{tmp}/model",
                checkpoint_dir=f"{tmp}/ckpt",
                target_model=target,
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_ivfpq_append_builds_searchable_index(spark):
    """Streaming IVFADC growth: two embedding micro-batches through the
    foreachBatch sink produce an index whose contents equal a single
    full build with the same frozen models, and whose search results
    match; replaying a batch id REPLACES its subdir (exactly-once, no
    duplicate code rows)."""
    import os

    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.ext.ivfpq import (
        build_ivfpq_index,
        ivfpq_search,
        overwrite_ivfpq_batch,
    )
    from rabbit_in_a_blender_spark.ext.pq import l2_normalize, train_pq_codebooks
    from rabbit_in_a_blender_spark.streaming.sink import stream_ivfpq_append

    emb = l2_normalize(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "embedding",
    )
    centroids = emb.filter(F.col("vec_id") < 16)
    books = train_pq_codebooks(emb, m=16, ksub=32, iterations=1)
    b1 = emb.filter(F.col("vec_id") % 2 == 0)
    b2 = emb.filter(F.col("vec_id") % 2 == 1)
    tmp = tempfile.mkdtemp(prefix="riab_sivfpq_test_")
    try:
        for i, df in enumerate((b1, b2)):
            df.coalesce(1).write.parquet(f"{tmp}/in/b{i}")
        for i, sub in enumerate(sorted(os.listdir(f"{tmp}/in"))):
            for f in os.listdir(f"{tmp}/in/{sub}"):
                if f.endswith(".parquet"):
                    os.rename(f"{tmp}/in/{sub}/{f}", f"{tmp}/stream_{i}.parquet")
                    os.utime(
                        f"{tmp}/stream_{i}.parquet",
                        (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000),
                    )
        src = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(tmp)
        )
        q = (
            stream_ivfpq_append(
                src, f"{tmp}/index", f"{tmp}/ckpt", centroids, books, m=16
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        streamed = spark.read.parquet(f"{tmp}/index")
        full = build_ivfpq_index(emb, centroids, books, m=16)
        key = lambda df: sorted(
            (r["vec_id"], r["centroid_id"], tuple(r["codes"]))
            for r in df.collect()
        )
        assert key(streamed) == key(full)
        # search parity over the streamed layout
        queries = emb.filter(F.col("vec_id") < 6)
        kw = dict(m=16, k=3, nprobe=8, shortlist=32)
        got = ivfpq_search(streamed, centroids, books, emb, queries, **kw)
        want = ivfpq_search(full, centroids, books, emb, queries, **kw)
        rows = lambda df: sorted(map(tuple, df.collect()))
        assert rows(got) == rows(want) and got.count() > 0
        # replay idempotency: rewriting an existing batch id leaves the
        # index contents unchanged (overwrite, not append)
        bid = sorted(
            int(d.split("=")[1])
            for d in os.listdir(f"{tmp}/index") if d.startswith("batch=")
        )[0]
        replay_src = b1 if bid == 0 else b2
        overwrite_ivfpq_batch(
            replay_src, centroids, books, f"{tmp}/index", bid, m=16
        )
        assert key(spark.read.parquet(f"{tmp}/index")) == key(full)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_stream_semantic_dedup_screens_and_replays_identically(spark):
    """Streaming SemDeDup (r12): batch 2 must be screened against batch
    1's kept exemplars through the persisted index; a full
    checkpoint-rollback replay must reproduce byte-identical flags with
    no duplicate rows (each batch overwrites its own subdir and screens
    only strictly-earlier index subdirs)."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.ext.semdedup import (
        incremental_semantic_dedup,
    )
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.streaming.sink import stream_semantic_dedup

    # two clusters around (1,0) and (0,1); batch 2 repeats batch 1's
    # neighborhoods so the index screen must flag them
    b1 = [(0, [1.0, 0.0]), (1, [0.99, 0.14]), (10, [0.0, 1.0])]
    b2 = [(20, [1.0, 0.01]), (21, [-1.0, 0.0]), (30, [0.01, 1.0])]
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    tmp = tempfile.mkdtemp(prefix="riab_ssem_test_")
    try:
        os.makedirs(f"{tmp}/src")
        for i, rows in enumerate((b1, b2)):
            df = spark.createDataFrame(
                rows, "vec_id long, embedding array<double>"
            )
            df.coalesce(1).write.parquet(f"{tmp}/in/b{i}")
            for f in os.listdir(f"{tmp}/in/b{i}"):
                if f.endswith(".parquet"):
                    os.rename(
                        f"{tmp}/in/b{i}/{f}", f"{tmp}/src/stream_{i}.parquet"
                    )
                    os.utime(
                        f"{tmp}/src/stream_{i}.parquet",
                        (1_000_000_000 + i * 1000, 1_000_000_000 + i * 1000),
                    )

        def run():
            q = (
                stream_semantic_dedup(
                    spark.readStream.schema(
                        "vec_id long, embedding array<double>"
                    )
                    .option("maxFilesPerTrigger", "1")
                    .parquet(f"{tmp}/src"),
                    out_dir=f"{tmp}/out",
                    index_dir=f"{tmp}/index",
                    checkpoint_dir=f"{tmp}/ckpt",
                    centroids=cents,
                    tau=0.9,
                )
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(120)
            return sorted(
                (r["vec_id"], r["centroid_id"], r["is_dup"])
                for r in spark.read.parquet(f"{tmp}/out").select(
                    "vec_id", "centroid_id", "is_dup"
                ).collect()
            )

        got = run()
        # equals the batch incremental operator run batch-by-batch
        d1 = spark.createDataFrame(b1, "vec_id long, embedding array<double>")
        d2 = spark.createDataFrame(b2, "vec_id long, embedding array<double>")
        f1, idx1 = incremental_semantic_dedup(d1, None, cents, tau=0.9)
        f2, _ = incremental_semantic_dedup(d2, idx1, cents, tau=0.9)
        exp = sorted(
            (r["vec_id"], r["centroid_id"], r["is_dup"])
            for r in f1.unionByName(f2).collect()
        )
        unpersist_intermediates(f1, f2)
        assert got == exp
        # batch-2 near-repeats of batch-1 exemplars are flagged; the
        # orthogonal newcomer survives
        flags = dict((v, d) for v, _c, d in got)
        assert flags[20] and flags[30] and not flags[21]
        # full replay: wipe the checkpoint, re-run, byte-identical
        shutil.rmtree(f"{tmp}/ckpt")
        assert run() == got
        n_rows = spark.read.parquet(f"{tmp}/out").count()
        assert n_rows == len(b1) + len(b2)  # no duplicates
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
