"""Scale curve for the ETL spine + DQD sweep (VERDICT r4 task 6).

The 100 TB design claims (bounded shuffles, broadcast discipline,
one-scan-per-table sweeps) have so far been argued from plan audits;
this records one real scaling axis.  It runs `etl_pipeline_two_stage`
(with the pipeline's per-step rows/bytes) and `dq_sweep_detail` at
three data points:

- sf0.01 and sf0.1 — the driver fixtures as-is;
- "sf0.5eq" — the sandbox holds no sf0.5 fixture, so the largest point
  is sf0.1's `customer`/`orders` (the only tables either workload
  reads) replicated 5x with disjoint key ranges (replica i offsets
  every c_custkey/o_custkey/o_orderkey by i*1e8, preserving the FK
  graph and per-customer fan-out).  This scales rows and key
  cardinality together, which is the axis that stresses the shuffle
  paths; value distributions per customer are unchanged by
  construction.

Every point times the ETL with its per-step tally on, as the CLI
runs it: job-group tagging plus one status-store read per run, no
Spark job of its own.

Usage: python tools/scale_curve.py   (writes markdown to stdout)
Sections: default = etl + clusters; SPARK_GRAFT_SCALE_ONLY=etl|clusters
|corpus|ann selects one (corpus = decontam + corpus-prep chain on
salted doc replicas; ann = PQ encode/search on replicated embeddings).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import etl_pipeline_bench
from rabbit_in_a_blender_spark.core.session import get_spark

KEY_OFFSET = 100_000_000  # far above any sf0.1 key (max o_orderkey ~6e5)


def build_replicated(spark, src_dir: str, out_dir: str, k: int) -> None:
    """Replicate customer/orders k times with disjoint key ranges."""
    cust = spark.read.parquet(f"{src_dir}/customer.parquet")
    orders = spark.read.parquet(f"{src_dir}/orders.parquet")
    parts_c = []
    parts_o = []
    for i in range(k):
        off = i * KEY_OFFSET
        parts_c.append(cust.withColumn("c_custkey", F.col("c_custkey") + off))
        parts_o.append(
            orders.withColumn("o_orderkey", F.col("o_orderkey") + off).withColumn(
                "o_custkey", F.col("o_custkey") + off
            )
        )
    from functools import reduce

    reduce(lambda a, b: a.unionByName(b), parts_c).write.mode("overwrite").parquet(
        f"{out_dir}/customer.parquet"
    )
    reduce(lambda a, b: a.unionByName(b), parts_o).write.mode("overwrite").parquet(
        f"{out_dir}/orders.parquet"
    )


def build_replicated_docs(spark, src_dir: str, out_dir: str, k: int) -> None:
    """Replicate documents k times: disjoint doc_ids AND per-replica
    salted words.  Salting every word (prefix ``r{i}_``) makes replica
    shingle sets disjoint, so the near-dup graph is k independent
    copies of the original — rows and candidate-key cardinality scale
    together while per-replica cluster structure stays constant, which
    is the axis that stresses the LSH band join and the CC loop."""
    docs = spark.read.parquet(f"{src_dir}/documents.parquet")
    parts = []
    for i in range(k):
        parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + i * KEY_OFFSET)
            .withColumn(
                "text", F.regexp_replace(F.col("text"), r"(^| )", f"$1r{i}_")
            )
        )
    from functools import reduce

    reduce(lambda a, b: a.unionByName(b), parts).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/documents.parquet")


def time_clusters(spark, sf_dir: str, reps: int) -> tuple[int, list[float]]:
    from rabbit_in_a_blender_spark.plans.catalog import all_queries

    fn = all_queries()["ext_dedup_clusters_lsh"]
    n_docs = fn(spark, sf_dir).count()  # warmup doubles as the doc count
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 3))
    return n_docs, out


def time_dq(spark, sf_dir: str, reps: int) -> list[float]:
    from rabbit_in_a_blender_spark.plans.catalog import all_queries

    fn = all_queries()["dq_sweep_detail"]
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warmup
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 3))
    return out


def main() -> None:
    reps = int(os.environ.get("SPARK_GRAFT_SCALE_REPS", "3"))
    # SPARK_GRAFT_SCALE_ONLY=etl|clusters|corpus runs one section
    # (default: etl + clusters, the r4/r5 verdict-ordered curves)
    only = os.environ.get("SPARK_GRAFT_SCALE_ONLY")
    spark = get_spark("scale_curve")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()

    scaled_dir = tempfile.mkdtemp(prefix="scale_sf05_")
    if only == "clusters":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _clusters_curve(spark, reps)
        return
    if only == "corpus":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _corpus_curve(spark, reps)
        return
    if only == "ann":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _ann_curve(spark, reps)
        return
    if only == "bpe":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _bpe_curve(spark, reps)
        return
    if only == "media":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _media_curve(spark, reps)
        return
    if only == "timeseries":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _timeseries_curve(spark, reps)
        return
    if only == "drift":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _drift_curve(spark, reps)
        return
    if only == "brute":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _brute_curve(spark, reps)
        return
    if only == "fit":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _fit_curve(spark, reps)
        return
    if only == "passages":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _passages_curve(spark, reps)
        return
    if only == "passages_lsh":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _passages_lsh_curve(spark, reps)
        return
    if only == "semdedup":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _semdedup_curve(spark, reps)
        return
    if only == "dsir":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _dsir_curve(spark, reps)
        return
    if only == "assign":
        shutil.rmtree(scaled_dir, ignore_errors=True)
        _assign_curve(spark, reps)
        return
    try:
        build_replicated(spark, "/root/testdata/sf0.1", scaled_dir, 5)
        points = [
            ("sf0.01", "/root/testdata/sf0.01"),
            ("sf0.1", "/root/testdata/sf0.1"),
            ("sf0.5eq", scaled_dir),
        ]
        # warmup the ETL codegen/committer paths once at the smallest point
        etl_pipeline_bench(spark, points[0][1])

        results = {}
        for label, d in points:
            etl_samples = []
            metrics = []
            rows = 0
            for _ in range(reps):
                metrics = []  # keep the metrics of the LAST rep
                sec, rows = etl_pipeline_bench(spark, d, metrics_out=metrics)
                etl_samples.append(round(sec, 3))
            dq_samples = time_dq(spark, d, reps)
            results[label] = {
                "etl_rows": rows,
                "etl_reps": etl_samples,
                "etl_median": sorted(etl_samples)[len(etl_samples) // 2],
                "dq_reps": dq_samples,
                "dq_median": sorted(dq_samples)[len(dq_samples) // 2],
                "steps": [
                    {
                        "name": m.name,
                        "seconds": m.seconds,
                        "input_rows": m.input_rows,
                        "input_bytes": m.input_bytes,
                        "output_rows": m.output_rows,
                        "shuffle_read_bytes": m.shuffle_read_bytes,
                        "shuffle_write_bytes": m.shuffle_write_bytes,
                    }
                    for m in metrics
                ],
            }
            print(f"## point {label}: etl {etl_samples} dq {dq_samples}", flush=True)

        print(json.dumps(results))

        # Markdown summary for PLANS.md
        print("\n| point | etl rows | etl median s | rows/s | dq median s |")
        print("|---|---|---|---|---|")
        for label, r in results.items():
            print(
                f"| {label} | {r['etl_rows']:,} | {r['etl_median']} | "
                f"{round(r['etl_rows'] / r['etl_median']):,} | {r['dq_median']} |"
            )
        big = results["sf0.5eq"]["steps"]
        mid = {m["name"]: m for m in results["sf0.1"]["steps"]}
        print("\n| step | s @sf0.1 | s @sf0.5eq | ratio | in rows 0.1→0.5eq | shuf W 0.1→0.5eq |")
        print("|---|---|---|---|---|---|")
        for m in big:
            b = mid.get(m["name"])
            if not b:
                continue
            ratio = round(m["seconds"] / b["seconds"], 2) if b["seconds"] else float("nan")
            print(
                f"| {m['name']} | {b['seconds']} | {m['seconds']} | {ratio} | "
                f"{b['input_rows']:,}→{m['input_rows']:,} | "
                f"{b['shuffle_write_bytes']:,}→{m['shuffle_write_bytes']:,} |"
            )
    finally:
        shutil.rmtree(scaled_dir, ignore_errors=True)

    if only != "etl":
        _clusters_curve(spark, reps)


def _clusters_curve(spark, reps: int) -> None:
    # --- clustering scale curve (round 5) ----------------------------
    # Same replication idea for the near-dup clustering pipeline:
    # sf0.1's 5k docs, then 5x and 10x salted replicas (25k / 50k docs,
    # k disjoint copies of the same near-dup graph).
    cl_results = {}
    for label, src, k in (
        ("docs-sf0.01", "/root/testdata/sf0.01", 1),
        ("docs-sf0.1", "/root/testdata/sf0.1", 1),
        ("docs-x5", "/root/testdata/sf0.1", 5),
        ("docs-x10", "/root/testdata/sf0.1", 10),
    ):
        d = src
        tmp = None
        try:
            if k > 1:
                tmp = tempfile.mkdtemp(prefix=f"scale_docs{k}_")
                build_replicated_docs(spark, src, tmp, k)
                d = tmp
            n_docs, samples = time_clusters(spark, d, reps)
            cl_results[label] = {
                "docs": n_docs,
                "reps": samples,
                "median": sorted(samples)[len(samples) // 2],
            }
            print(f"## clusters {label}: {n_docs} docs {samples}", flush=True)
        finally:
            if tmp:
                shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(cl_results))
    print("\n| point | docs | clusters_lsh median s | docs/s |")
    print("|---|---|---|---|")
    for label, r in cl_results.items():
        print(
            f"| {label} | {r['docs']:,} | {r['median']} | "
            f"{round(r['docs'] / r['median']):,} |"
        )


def _bpe_curve(spark, reps: int) -> None:
    # --- BPE tokenizer scale curve (round 6) -------------------------
    # Train once on sf0.1 (the merge table is the corpus-size-
    # independent artifact), then time the pure-JVM application on
    # salted doc replicas: the expression chain is embarrassingly
    # parallel with no shuffle, so wall time should track doc volume
    # ~linearly with zero superlinear terms.
    from rabbit_in_a_blender_spark.ext.bpe import (
        bpe_tokenize,
        train_bpe,
        word_frequencies,
    )

    src = "/root/testdata/sf0.1"
    docs01 = spark.read.parquet(f"{src}/documents.parquet")
    t0 = time.perf_counter()
    merges = train_bpe(word_frequencies(docs01), num_merges=200)
    train_s = round(time.perf_counter() - t0, 3)
    print(f"## bpe train: {len(merges)} merges in {train_s}s on sf0.1")

    results = {"train_seconds": train_s, "n_merges": len(merges)}
    for label, k in (("docs-sf0.1", 1), ("docs-x5", 5), ("docs-x10", 10)):
        d, tmp = src, None
        try:
            if k > 1:
                tmp = tempfile.mkdtemp(prefix=f"scale_bpe{k}_")
                build_replicated_docs(spark, src, tmp, k)
                d = tmp
            docs = spark.read.parquet(f"{d}/documents.parquet")
            n_docs = docs.count()
            out = bpe_tokenize(docs, merges).select("n_tokens")
            out.groupBy().sum("n_tokens").collect()  # warmup
            samples, total = [], 0
            for _ in range(reps):
                t0 = time.perf_counter()
                total = out.groupBy().sum("n_tokens").collect()[0][0]
                samples.append(round(time.perf_counter() - t0, 3))
            results[label] = {
                "docs": n_docs,
                "tokens": int(total),
                "reps": samples,
                "median": sorted(samples)[len(samples) // 2],
            }
            print(f"## bpe {label}: {n_docs} docs {samples}", flush=True)
        finally:
            if tmp:
                shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(results))
    print("\n| point | docs | tokens | tokenize median s | tokens/s |")
    print("|---|---|---|---|---|")
    for label in ("docs-sf0.1", "docs-x5", "docs-x10"):
        r = results[label]
        print(
            f"| {label} | {r['docs']:,} | {r['tokens']:,} | {r['median']} | "
            f"{round(r['tokens'] / r['median']):,} |"
        )


def _corpus_curve(spark, reps: int) -> None:
    # --- corpus-prep scale curve (round 5) ---------------------------
    # The training-data prep chain (quality filter → exact dedup →
    # decontamination → split assign → tallies) on salted doc replicas.
    # Replica words are salted, so each replica carries its own
    # benchmark-gram space — bench-gram count grows with k, the axis
    # that stresses the broadcast + overlap join.
    from rabbit_in_a_blender_spark.plans.catalog import all_queries

    qs = all_queries()
    results = {}
    for label, src, k in (
        ("docs-sf0.1", "/root/testdata/sf0.1", 1),
        ("docs-x5", "/root/testdata/sf0.1", 5),
        ("docs-x10", "/root/testdata/sf0.1", 10),
    ):
        d = src
        tmp = None
        try:
            if k > 1:
                tmp = tempfile.mkdtemp(prefix=f"scale_corpus{k}_")
                build_replicated_docs(spark, src, tmp, k)
                d = tmp
            n_docs = spark.read.parquet(f"{d}/documents.parquet").count()
            point = {"docs": n_docs}
            for qname in ("ext_corpus_prep", "ext_decontam_filter"):
                fn = qs[qname]
                fn(spark, d).write.format("noop").mode("overwrite").save()  # warmup
                samples = []
                for _ in range(reps):
                    t0 = time.perf_counter()
                    fn(spark, d).write.format("noop").mode("overwrite").save()
                    samples.append(round(time.perf_counter() - t0, 3))
                point[qname] = {
                    "reps": samples,
                    "median": sorted(samples)[len(samples) // 2],
                }
            results[label] = point
            print(f"## corpus {label}: {n_docs} docs {point}", flush=True)
        finally:
            if tmp:
                shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(results))
    print("\n| point | docs | corpus_prep median s | docs/s | decontam median s |")
    print("|---|---|---|---|---|")
    for label, r in results.items():
        med = r["ext_corpus_prep"]["median"]
        print(
            f"| {label} | {r['docs']:,} | {med} | {round(r['docs'] / med):,} | "
            f"{r['ext_decontam_filter']['median']} |"
        )


def _ann_curve(spark, reps: int) -> None:
    # --- PQ ANN scale curve (round 5) --------------------------------
    # Replicated embeddings (disjoint vec_ids, identical vectors — the
    # codebook geometry is unchanged, so the curve isolates the per-row
    # encode/search cost, the axis that matters at corpus scale).
    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.ext.pq import (
        l2_normalize,
        pq_encode,
        pq_search_rerank,
        train_pq_codebooks,
    )

    src = "/root/testdata/sf0.1/embeddings.parquet"
    base = l2_normalize(spark.read.parquet(src), "embedding")
    results = {}
    for label, k in (("emb-sf0.1", 1), ("emb-x5", 5), ("emb-x10", 10)):
        from functools import reduce

        parts = [
            base.withColumn("vec_id", F.col("vec_id") + i * KEY_OFFSET)
            for i in range(k)
        ]
        corpus = reduce(lambda a, b: a.unionByName(b), parts)
        corpus = corpus.persist()
        n = corpus.count()
        queries = corpus.filter(F.col("vec_id") < 10)
        point = {"vectors": n}
        # train once per point (fixed cost), then time encode and search
        books = train_pq_codebooks(corpus, m=16, ksub=32, iterations=2)
        books = books.persist()
        books.count()
        # IVFADC (r6): probe-bounded ADC over a prebuilt index — the
        # composed search path whose cost should grow with the PROBED
        # cells (nprobe/C of the corpus), not the corpus
        from rabbit_in_a_blender_spark.ext.ivfpq import (
            build_ivfpq_index,
            ivfpq_search,
        )

        centroids = corpus.filter(F.col("vec_id") < 16)
        ivf_index = build_ivfpq_index(corpus, centroids, books, m=16).persist()
        ivf_index.count()
        for stage, fn in (
            ("encode", lambda: pq_encode(corpus, books, m=16)),
            (
                "search",
                lambda: pq_search_rerank(
                    pq_encode(corpus, books, m=16), books, corpus, queries,
                    m=16, k=3, shortlist=32,
                ),
            ),
            (
                "ivfpq_search",
                lambda: ivfpq_search(
                    ivf_index, centroids, books, corpus, queries,
                    m=16, k=3, nprobe=4, shortlist=32,
                ),
            ),
        ):
            fn().write.format("noop").mode("overwrite").save()  # warmup
            samples = []
            for _ in range(reps):
                t0 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                samples.append(round(time.perf_counter() - t0, 3))
            point[stage] = {
                "reps": samples,
                "median": sorted(samples)[len(samples) // 2],
            }
        corpus.unpersist()
        books.unpersist()
        ivf_index.unpersist()
        results[label] = point
        print(f"## ann {label}: {n} vectors {point}", flush=True)

    print(json.dumps(results))
    print(
        "\n| point | vectors | encode median s | vec/s | search median s "
        "| ivfpq_search median s |"
    )
    print("|---|---|---|---|---|---|")
    for label, r in results.items():
        med = r["encode"]["median"]
        print(
            f"| {label} | {r['vectors']:,} | {med} | "
            f"{round(r['vectors'] / med):,} | {r['search']['median']} | "
            f"{r['ivfpq_search']['median']} |"
        )


def _media_curve(spark, reps: int) -> None:
    # --- media probe/feature scale curve (round 7) -------------------
    # synth_media builds one REAL blob per id (PNG/WAV/MP4/MP3 by id%4),
    # probe_media parses container metadata, extract_features runs the
    # real decoders (PNG inflate, WAV PCM, histogram for the rest).
    # All three are single-pass mapInPandas with no shuffle, so wall
    # time should track blob count linearly; the generate+probe and
    # generate+features pipelines are timed end-to-end per point.
    from rabbit_in_a_blender_spark.ext.multimodal import (
        extract_features,
        probe_media,
        synth_media,
    )

    results = {}
    for label, n in (("blobs-5k", 5_000), ("blobs-25k", 25_000), ("blobs-50k", 50_000)):
        # Fresh plans per rep: re-collecting one DataFrame object reuses
        # its shuffle outputs and times nothing but the fetch.
        def media_df():
            return synth_media(spark.range(n).select(F.col("id").alias("doc_id")))

        def probe_q():
            return probe_media(media_df()).groupBy("format").count()

        def feat_q():
            return extract_features(media_df()).agg(
                F.sum("n_bytes").alias("b"),
                F.sum(F.element_at("feature", 1)).alias("f"),
            )

        probe_q().collect()  # warmup (codegen + Arrow init)
        feat_q().collect()
        probes, feats = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            probe_q().collect()
            probes.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            feat_q().collect()
            feats.append(round(time.perf_counter() - t0, 3))
        results[label] = {
            "blobs": n,
            "probe_reps": probes,
            "probe_median": sorted(probes)[len(probes) // 2],
            "features_reps": feats,
            "features_median": sorted(feats)[len(feats) // 2],
        }
        print(f"## media {label}: probe {probes} features {feats}", flush=True)

    print(json.dumps(results))
    print("\n| point | blobs | probe median s | blobs/s | features median s | blobs/s |")
    print("|---|---|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['blobs']:,} | {r['probe_median']} | "
            f"{round(r['blobs'] / r['probe_median']):,} | "
            f"{r['features_median']} | "
            f"{round(r['blobs'] / r['features_median']):,} |"
        )


def _timeseries_curve(spark, reps: int) -> None:
    # --- hypertable rollup scale curve (round 7) ---------------------
    # Scales rows AND group cardinality together (each replica gets
    # suffixed event_type values), which is the axis that stresses the
    # (group, bucket) shuffle, the spine explode, and the LOCF window —
    # the window runs per group over already-aggregated rows, so wall
    # time should track the rollup shuffle, not the window.
    from rabbit_in_a_blender_spark.core.io import load_tables
    from rabbit_in_a_blender_spark.ext.timeseries import rollup_gapfill, rolling_zscore

    base = load_tables(spark, "/root/testdata/sf0.1", "events")["events"]
    results = {}
    for label, copies in (("events-sf0.1", 1), ("events-x5", 5), ("events-x10", 10)):
        def ev():
            reps_df = spark.range(copies).select(F.col("id").alias("__r"))
            return base.crossJoin(F.broadcast(reps_df)).withColumn(
                "event_type", F.concat_ws("_", "event_type", F.col("__r").cast("string"))
            )

        def roll_q():
            return rollup_gapfill(ev(), "event_type", "ts", "value")

        def z_q():
            return rolling_zscore(ev(), "event_type", "ts", "value")

        n_rows = ev().count()
        roll_q().count()  # warmup
        z_q().count()
        rolls, zs = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            rolls_rows = roll_q().count()
            rolls.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            z_q().count()
            zs.append(round(time.perf_counter() - t0, 3))
        results[label] = {
            "rows": n_rows,
            "bucket_rows": rolls_rows,
            "rollup_reps": rolls,
            "rollup_median": sorted(rolls)[len(rolls) // 2],
            "zscore_reps": zs,
            "zscore_median": sorted(zs)[len(zs) // 2],
        }
        print(f"## timeseries {label}: rollup {rolls} zscore {zs}", flush=True)

    print(json.dumps(results))
    print("\n| point | rows | rollup median s | rows/s | zscore median s |")
    print("|---|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['rows']:,} | {r['rollup_median']} | "
            f"{round(r['rows'] / r['rollup_median']):,} | {r['zscore_median']} |"
        )


def _brute_curve(spark, reps: int) -> None:
    # --- brute-force cosine top-k A/B: JVM fold vs Arrow/BLAS --------
    # Same output contract (equality pytest-pinned); this measures which
    # formulation wins as the corpus grows.  |Q|=20, k=10, dim=64.
    from rabbit_in_a_blender_spark.core.io import load_tables
    from rabbit_in_a_blender_spark.ext.similarity import cosine_topk, cosine_topk_arrow

    base = load_tables(spark, "/root/testdata/sf0.1", "embeddings")["embeddings"]
    results = {}
    for label, copies in (("vecs-sf0.1", 1), ("vecs-x5", 5), ("vecs-x10", 10)):
        def corpus():
            reps_df = spark.range(copies).select(F.col("id").alias("__r"))
            return base.crossJoin(F.broadcast(reps_df)).select(
                (F.col("vec_id") + F.col("__r") * 1_000_000).alias("vec_id"),
                "embedding",
            )

        q = base.limit(20)
        n_rows = corpus().count()

        def jvm_q():
            return cosine_topk(corpus(), q, k=10)

        def arrow_q():
            return cosine_topk_arrow(corpus(), q, k=10)

        jvm_q().count()  # warmup both paths
        arrow_q().count()
        jvms, arrows = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            jvm_q().count()
            jvms.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            arrow_q().count()
            arrows.append(round(time.perf_counter() - t0, 3))
        results[label] = {
            "rows": n_rows,
            "jvm_reps": jvms,
            "jvm_median": sorted(jvms)[len(jvms) // 2],
            "arrow_reps": arrows,
            "arrow_median": sorted(arrows)[len(arrows) // 2],
        }
        print(f"## brute {label}: jvm {jvms} arrow {arrows}", flush=True)

    print(json.dumps(results))
    print("\n| point | rows | jvm median s | arrow median s | arrow speedup |")
    print("|---|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['rows']:,} | {r['jvm_median']} | {r['arrow_median']} | "
            f"{round(r['jvm_median'] / r['arrow_median'], 2)}x |"
        )


def _drift_curve(spark, reps: int) -> None:
    # --- drift + heavy-hitter scale curve (round 7) ------------------
    # Replicas multiply rows AND strata (suffixed source, replica 0
    # unsuffixed so the 'src0' reference stratum survives) — the axis
    # that stresses PSI's (stratum, bin) shuffle and the MG screen's
    # candidate volume.  heavy_hitters is expected scan-bound: the
    # screen is narrow, the verify join candidate-pruned.
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.core.io import load_tables
    from rabbit_in_a_blender_spark.ext.drift import psi_drift
    from rabbit_in_a_blender_spark.ext.heavy import heavy_hitters

    base = load_tables(spark, "/root/testdata/sf0.1", "documents")["documents"]
    results = {}
    for label, copies in (("docs-sf0.1", 1), ("docs-x5", 5), ("docs-x10", 10)):
        def docs():
            reps_df = spark.range(copies).select(F.col("id").alias("__r"))
            return base.crossJoin(F.broadcast(reps_df)).withColumn(
                "source",
                F.when(F.col("__r") == 0, F.col("source")).otherwise(
                    F.concat_ws("_", "source", F.col("__r").cast("string"))
                ),
            )

        def psi_q():
            return psi_drift(docs(), "source", "n_chars", "src0", n_bins=4)

        def hh_q():
            toks = docs().select(F.explode(F.split("text", " ")).alias("token"))
            return heavy_hitters(toks, "token", 30)

        n_rows = docs().count()
        psi_q().count()  # warmup
        r0 = hh_q()
        r0.count()
        unpersist_intermediates(r0)
        psis, hhs = [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            n_strata = psi_q().count()
            psis.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            r = hh_q()
            n_hh = r.count()
            hhs.append(round(time.perf_counter() - t0, 3))
            unpersist_intermediates(r)
        results[label] = {
            "rows": n_rows,
            "strata": n_strata,
            "heavy_hitters": n_hh,
            "psi_reps": psis,
            "psi_median": sorted(psis)[len(psis) // 2],
            "hh_reps": hhs,
            "hh_median": sorted(hhs)[len(hhs) // 2],
        }
        print(f"## drift {label}: psi {psis} heavy {hhs}", flush=True)

    print(json.dumps(results))
    print("\n| point | rows | strata | psi median s | hh median s | docs/s (hh) |")
    print("|---|---|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['rows']:,} | {r['strata']} | {r['psi_median']} | "
            f"{r['hh_median']} | {round(r['rows'] / r['hh_median']):,} |"
        )


def _fit_curve(spark, reps: int) -> None:
    # --- iterative-fit + KS/JSD scale curve (round 8, VERDICT r7 task 6)
    # k-means: replicated embeddings with disjoint vec_ids — rows scale,
    #   C=4 seeds stay replica-0's vec_id<4, so per-iteration cost is the
    #   O(N*C*d) assignment plus a (C x d)-row means groupBy: linear in N.
    # logreg: replicated documents — each GD step is ONE agg pass over
    #   the feature frame (d+1 float partials per partition): linear.
    # ks/jsd: the drift-section replica recipe (suffixed source, replica
    #   0 keeps 'src0') — stresses KS's per-stratum ECDF window and
    #   JSD's densified (stratum x category) grid.
    from rabbit_in_a_blender_spark.core.io import load_tables
    from rabbit_in_a_blender_spark.ext.drift import jsd_drift, ks_statistic
    from rabbit_in_a_blender_spark.ext.ivf import refine_centroids
    from rabbit_in_a_blender_spark.ext.mlfit import logreg_fit

    emb = load_tables(spark, "/root/testdata/sf0.1", "embeddings")["embeddings"]
    docs = load_tables(spark, "/root/testdata/sf0.1", "documents")["documents"]
    results = {}
    for label, copies in (("x1", 1), ("x5", 5), ("x10", 10)):
        def emb_rep():
            reps_df = spark.range(copies).select(F.col("id").alias("__r"))
            return emb.crossJoin(F.broadcast(reps_df)).select(
                (F.col("vec_id") + F.col("__r") * 10_000_000).alias("vec_id"),
                "embedding",
            )

        def docs_rep(suffix_source: bool):
            reps_df = spark.range(copies).select(F.col("id").alias("__r"))
            d = docs.crossJoin(F.broadcast(reps_df))
            if suffix_source:
                d = d.withColumn(
                    "source",
                    F.when(F.col("__r") == 0, F.col("source")).otherwise(
                        F.concat_ws("_", "source", F.col("__r").cast("string"))
                    ),
                )
            return d

        def kmeans_q():
            return refine_centroids(
                emb_rep(), emb.filter(F.col("vec_id") < 4), iterations=3, grid=6
            )

        def feats():
            n_words = F.size(F.split("text", " "))
            return docs_rep(False).select(
                (n_words / F.lit(100.0)).alias("x1"),
                ((F.col("n_chars") / (n_words * F.lit(1.0))) / F.lit(10.0)).alias("x2"),
                F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0).alias("y"),
            )

        n_emb = emb_rep().count()
        n_docs = docs_rep(False).count()
        kmeans_q().count()  # warmup
        logreg_fit(feats(), ["x1", "x2"], "y", steps=2, lr=2.0)
        ks_statistic(docs_rep(True), "source", "n_chars", "src0").count()
        jsd_drift(docs_rep(True), "source", "lang", "src0").count()
        km, lg, ks, js = [], [], [], []
        for _ in range(reps):
            t0 = time.perf_counter()
            kmeans_q().count()
            km.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            logreg_fit(feats(), ["x1", "x2"], "y", steps=8, lr=2.0)
            lg.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            ks_statistic(docs_rep(True), "source", "n_chars", "src0").count()
            ks.append(round(time.perf_counter() - t0, 3))
            t0 = time.perf_counter()
            jsd_drift(docs_rep(True), "source", "lang", "src0").count()
            js.append(round(time.perf_counter() - t0, 3))
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        results[label] = {
            "emb_rows": n_emb,
            "doc_rows": n_docs,
            "kmeans_median": med(km),
            "logreg_median": med(lg),
            "ks_median": med(ks),
            "jsd_median": med(js),
            "kmeans_reps": km,
            "logreg_reps": lg,
            "ks_reps": ks,
            "jsd_reps": js,
        }
        print(f"## fit {label}: kmeans {km} logreg {lg} ks {ks} jsd {js}", flush=True)

    print(json.dumps(results))
    print("\n| point | emb rows | kmeans s | doc rows | logreg s | ks s | jsd s |")
    print("|---|---|---|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['emb_rows']:,} | {r['kmeans_median']} | "
            f"{r['doc_rows']:,} | {r['logreg_median']} | {r['ks_median']} | "
            f"{r['jsd_median']} |"
        )


def _passages_lsh_curve(spark, reps: int) -> None:
    # --- near-dup passage (MinHash+LSH windows) scale curve (round 9) --
    # Same replica protocol as _passages_curve: replica 0 keeps the
    # original words so verified near-dup window pairs EXIST; replicas
    # >0 salt every word, scaling window/shingle rows while the near-dup
    # fraction shrinks — stresses the banding self-join and the
    # candidate-bounded jaccard verification, the two pair-sized terms.
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.core.io import load_tables
    from rabbit_in_a_blender_spark.ext.passages import near_duplicate_passages

    base = load_tables(spark, "/root/testdata/sf0.1", "documents")["documents"]
    results = {}
    for label, copies in (("docs-sf0.1", 1), ("docs-x10", 10), ("docs-x50", 50)):
        def docs():
            reps_df = spark.range(copies).select(F.col("id").alias("__r"))
            return (
                base.crossJoin(F.broadcast(reps_df))
                .select(
                    (F.col("doc_id") + F.col("__r") * 10_000_000).alias("doc_id"),
                    F.when(F.col("__r") == 0, F.col("text"))
                    .otherwise(
                        F.array_join(
                            F.transform(
                                F.split("text", " "),
                                lambda w: F.concat(
                                    F.lit("r"), F.col("__r").cast("string"),
                                    F.lit("_"), w,
                                ),
                            ),
                            " ",
                        )
                    )
                    .alias("text"),
                )
            )

        n_rows = docs().count()
        r0 = near_duplicate_passages(docs(), "doc_id", "text")
        r0.count()
        unpersist_intermediates(r0)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            r = near_duplicate_passages(docs(), "doc_id", "text")
            n_out = r.count()
            times.append(round(time.perf_counter() - t0, 3))
            unpersist_intermediates(r)
        results[label] = {
            "rows": n_rows,
            "out_pairs": n_out,
            "reps": times,
            "median": sorted(times)[len(times) // 2],
        }
        print(f"## passages_lsh {label}: {times}", flush=True)

    print(json.dumps(results))
    print("\n| point | rows | pairs | detect median s | docs/s |")
    print("|---|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['rows']:,} | {r['out_pairs']:,} | {r['median']} | "
            f"{round(r['rows'] / r['median']):,} |"
        )


def _passages_curve(spark, reps: int) -> None:
    # --- duplicate-passage removal scale curve (round 8) --------------
    # Two replica axes in one: replica 0 keeps the original words (so
    # cross-document duplicated passages EXIST and the removal path has
    # real work), replicas >0 get per-replica salted words (disjoint
    # gram space) — rows scale while the duplicated fraction shrinks,
    # which stresses the (gram_hash) count shuffle and the (id, pos)
    # coverage join, the two row-sized terms.
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.core.io import load_tables
    from rabbit_in_a_blender_spark.ext.passages import remove_duplicate_passages

    base = load_tables(spark, "/root/testdata/sf0.1", "documents")["documents"]
    results = {}
    # x50/x100 push the curve out of the scheduling-overhead regime into
    # work-dominated territory (VERDICT r8 task 6: a flat curve proves
    # nothing about the asymptote — keep scaling until wall time moves).
    for label, copies in (
        ("docs-sf0.1", 1),
        ("docs-x10", 10),
        ("docs-x50", 50),
        ("docs-x100", 100),
    ):
        def docs():
            reps_df = spark.range(copies).select(F.col("id").alias("__r"))
            return (
                base.crossJoin(F.broadcast(reps_df))
                .select(
                    (F.col("doc_id") + F.col("__r") * 10_000_000).alias("doc_id"),
                    F.when(F.col("__r") == 0, F.col("text"))
                    .otherwise(
                        F.array_join(
                            F.transform(
                                F.split("text", " "),
                                lambda w: F.concat(
                                    F.lit("r"), F.col("__r").cast("string"),
                                    F.lit("_"), w,
                                ),
                            ),
                            " ",
                        )
                    )
                    .alias("text"),
                )
            )

        n_rows = docs().count()
        r0 = remove_duplicate_passages(docs(), "doc_id", "text", k=4)
        r0.count()
        unpersist_intermediates(r0)
        times = []
        for _ in range(reps):
            t0 = time.perf_counter()
            r = remove_duplicate_passages(docs(), "doc_id", "text", k=4)
            n_out = r.count()
            times.append(round(time.perf_counter() - t0, 3))
            unpersist_intermediates(r)
        results[label] = {
            "rows": n_rows,
            "out_rows": n_out,
            "reps": times,
            "median": sorted(times)[len(times) // 2],
        }
        print(f"## passages {label}: {times}", flush=True)

    print(json.dumps(results))
    print("\n| point | rows | removal median s | docs/s |")
    print("|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['rows']:,} | {r['median']} | "
            f"{round(r['rows'] / r['median']):,} |"
        )


def _semdedup_curve(spark, reps: int) -> None:
    # --- SemDeDup scale curve (round 10, VERDICT r9 task 5)
    # Two curves over the same replicated embeddings (disjoint vec_ids,
    # so replicas are genuine cos=1.0 near-dups; cluster balance is the
    # base Voronoi proportions scaled uniformly):
    #  - fixed-DENSITY (C grows with N, density ~= base N/C): the
    #    paper's operating regime — pair count = N * density / 2 is
    #    LINEAR in rows, so wall should track ~linear once the pair
    #    phase dominates planning.
    #  - fixed-C (C=8): pair count = N^2 * balance / (2C) is QUADRATIC
    #    in rows — the documented SemDeDup trade, measured rather than
    #    asserted, and the reason "C is the knob" / the r10
    #    max_cluster_size guard exist.
    # Centroids are SEED vectors (no Lloyd) so the timed job isolates
    # assignment + pair phases; Lloyd's own scaling is the fit curve's
    # kmeans row.
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.core.io import load_tables
    from rabbit_in_a_blender_spark.ext.semdedup import semantic_dedup

    emb = load_tables(spark, "/root/testdata/sf0.1", "embeddings")["embeddings"]
    base_n = emb.count()
    results = {}
    for label, copies in (("x10", 10), ("x25", 25), ("x50", 50), ("x100", 100)):
        def emb_rep():
            reps_df = spark.range(copies).select(F.col("id").alias("__r"))
            return emb.crossJoin(F.broadcast(reps_df)).select(
                (F.col("vec_id") + F.col("__r") * 10_000_000).alias("vec_id"),
                "embedding",
            )

        def run(c: int, method: str = "expr") -> float:
            cents = emb.orderBy("vec_id").limit(c)
            t0 = time.perf_counter()
            out = semantic_dedup(
                emb_rep(), cents, tau=0.35, grid=6, assign_method=method
            )
            out.count()
            sec = round(time.perf_counter() - t0, 3)
            unpersist_intermediates(out)
            return sec

        n = base_n * copies
        c_dense = 4 * copies  # density pinned at base_n / 4
        # SPARK_GRAFT_SEMDEDUP_SKIP_EXPR=1 skips the interpreted-HOF
        # dense arm (the measured bottleneck) so a follow-up run can
        # extend the arrow/fixed-C arms without re-paying it
        skip_expr = os.environ.get("SPARK_GRAFT_SEMDEDUP_SKIP_EXPR") == "1"
        run(c_dense, "arrow")  # warmup (codegen + footer reads)
        dense, dense_arrow, fixed = [], [], []
        for _ in range(reps):
            if not skip_expr:
                dense.append(run(c_dense))
            dense_arrow.append(run(c_dense, "arrow"))
            fixed.append(run(8))
        med = lambda xs: sorted(xs)[len(xs) // 2] if xs else None  # noqa: E731
        results[label] = {
            "rows": n,
            "c_dense": c_dense,
            "dense_median": med(dense),
            "dense_arrow_median": med(dense_arrow),
            "fixedc8_median": med(fixed),
            "dense_reps": dense,
            "dense_arrow_reps": dense_arrow,
            "fixedc8_reps": fixed,
        }
        print(
            f"## semdedup {label}: dense(C={c_dense}) {dense} "
            f"arrow {dense_arrow} fixedC8 {fixed}",
            flush=True,
        )

    print(json.dumps(results))
    print("\n| point | rows | C (fixed density) | dense-expr s | dense-arrow s | fixed-C8 s |")
    print("|---|---|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['rows']:,} | {r['c_dense']} | "
            f"{r['dense_median']} | {r['dense_arrow_median']} | "
            f"{r['fixedc8_median']} |"
        )




def _assign_curve(spark, reps: int) -> None:
    # --- nearest-centroid assignment curve (round 11, VERDICT r10
    # tasks 1+2) ------------------------------------------------------
    # Isolates the ASSIGNMENT step (build_ivf_index + count, no pair
    # phase) at growing C on a fixed replicated corpus: the arrow/BLAS
    # default is O(N*C*d) per batch, the two-level coarse quantizer is
    # O(N*(sqrt(C)+probe*C/sqrt(C))*d) — the crossover should appear by
    # C in the low thousands and widen linearly in sqrt(C).  Also
    # reports coarse-vs-flat assignment agreement at each C (the probed
    # miss rate the IVF-style probe bounds).  Centroids are corpus
    # vectors (realistic geometry), N fixed at x100 sf0.1 = 200k rows.
    from rabbit_in_a_blender_spark.core.io import load_tables
    from rabbit_in_a_blender_spark.ext.ivf import build_ivf_index

    emb = load_tables(spark, "/root/testdata/sf0.1", "embeddings")["embeddings"]
    copies = 100
    reps_df = spark.range(copies).select(F.col("id").alias("__r"))
    big = emb.crossJoin(F.broadcast(reps_df)).select(
        (F.col("vec_id") + F.col("__r") * 10_000_000).alias("vec_id"),
        "embedding",
    ).persist()
    n = big.count()
    results = {}
    for c in (400, 2000, 8000):
        # >2000 centroids: replicate the base vectors under distinct ids
        # (repeated geometry; the cost model only needs C and the
        # min-cid tie-break keeps assignment deterministic)
        k_rep = (c + 1999) // 2000
        reps_c = spark.range(k_rep).select(F.col("id").alias("__k"))
        cents = (
            emb.select("vec_id", "embedding")
            .crossJoin(F.broadcast(reps_c))
            .select(
                (F.col("vec_id") + F.col("__k") * 1_000_000).alias("vec_id"),
                "embedding",
            )
            .orderBy("vec_id")
            .limit(c)
            .persist()
        )
        n_c = cents.count()

        def run(method: str) -> float:
            t0 = time.perf_counter()
            build_ivf_index(big, cents, method=method).select(
                "centroid_id"
            ).write.format("noop").mode("overwrite").save()
            return round(time.perf_counter() - t0, 3)

        # SPARK_GRAFT_ASSIGN_SKIP_FLAT=1 re-measures only the cheap legs
        # (coarse + the auto default) — the O(N*C*d) flat reps and the
        # flat-vs-coarse agreement join cost ~15 min at C=8000 and were
        # recorded in the r11 curve; use for the r12 auto-default point.
        skip_flat = os.environ.get("SPARK_GRAFT_ASSIGN_SKIP_FLAT") == "1"
        run("coarse")  # warmup
        arrow, coarse, auto = [], [], []
        for _ in range(reps):
            if not skip_flat:
                arrow.append(run("arrow"))
            coarse.append(run("coarse"))
            # the r12 default: resolve_assign_method picks the rung by C
            auto.append(run("auto"))
        agree = None
        if not skip_flat:
            # agreement: fraction of rows where coarse picked the flat answer
            a = build_ivf_index(big, cents, method="arrow").select(
                "vec_id", F.col("centroid_id").alias("flat_cid")
            )
            b = build_ivf_index(big, cents, method="coarse").select(
                "vec_id", F.col("centroid_id").alias("coarse_cid")
            )
            agree = a.join(b, "vec_id").agg(
                F.avg(
                    (F.col("flat_cid") == F.col("coarse_cid")).cast("double")
                )
            ).first()[0]
        cents.unpersist()
        med = lambda xs: sorted(xs)[len(xs) // 2]  # noqa: E731
        from rabbit_in_a_blender_spark.ext.ivf import resolve_assign_method

        results[f"C{n_c}"] = {
            "rows": n, "C": n_c,
            "arrow_median": med(arrow) if arrow else None,
            "coarse_median": med(coarse),
            "auto_median": med(auto),
            "auto_resolves": resolve_assign_method("auto", n_c),
            "agreement": round(agree, 6) if agree is not None else None,
            "arrow_reps": arrow, "coarse_reps": coarse, "auto_reps": auto,
        }
        print(f"## assign C={n_c}: arrow {arrow} coarse {coarse} "
              f"auto {auto} agree {agree}", flush=True)
    big.unpersist()
    print(json.dumps(results))
    print("\n| C | rows | arrow s | coarse s | auto s (rung) | agreement |")
    print("|---|---|---|---|---|---|")
    for k, r in results.items():
        print(f"| {r['C']} | {r['rows']:,} | {r['arrow_median']} | "
              f"{r['coarse_median']} | "
              f"{r['auto_median']} ({r['auto_resolves']}) | "
              f"{r['agreement']} |")


def _dsir_curve(spark, reps: int) -> None:
    # --- DSIR scale curve (round 10) ---------------------------------
    # dsir_select (featurize → fit → weight → Gumbel top-k) on salted
    # doc replicas of sf0.1 (the passages-curve base: x100 = 500k
    # docs, the proven work-dominated regime).  Salting makes
    # every replica's grams distinct, so the DISTINCT-gram space grows
    # with k while the bucket space stays at the paper's B=10k — the
    # per-bucket counts grow, the broadcast log-ratio table doesn't.
    # Expected shape: linear in tokens — one explode scan into a
    # partial-aggregated (doc, bucket) shuffle, a <=B-row broadcast
    # join, one (doc) agg, and a TakeOrderedAndProject.
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.dsir import dsir_select

    src = "/root/testdata/sf0.1"
    results = {}
    for label, k in (
        ("docs-x10", 10),
        ("docs-x50", 50),
        ("docs-x100", 100),
    ):
        tmp = tempfile.mkdtemp(prefix=f"scale_dsir{k}_")
        try:
            build_replicated_docs(spark, src, tmp, k)
            docs = spark.read.parquet(f"{tmp}/documents.parquet")
            n_docs = docs.count()
            target = docs.filter(F.col("lang") == "en")

            def run():
                out = dsir_select(
                    docs, target, "doc_id", "text",
                    k=1000, num_buckets=10000,
                )
                out.write.format("noop").mode("overwrite").save()
                unpersist_intermediates(out)

            run()  # warmup
            samples = []
            for _ in range(reps):
                t0 = time.perf_counter()
                run()
                samples.append(round(time.perf_counter() - t0, 3))
            med = sorted(samples)[len(samples) // 2]
            results[label] = {"docs": n_docs, "reps": samples, "median": med}
            print(f"## dsir {label}: {n_docs} docs {results[label]}", flush=True)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps(results))
    print("\n| point | docs | dsir_select median s | docs/s |")
    print("|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['docs']:,} | {r['median']} | "
            f"{round(r['docs'] / r['median']):,} |"
        )


if __name__ == "__main__":
    main()