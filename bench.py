"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

``--ab <git-ref> [--queries a,b] [--rounds N]`` switches to interleaved
A/B mode: the ref tree (git archive) and HEAD alternate full suite
passes in ONE session and the RATIO is reported — the recording
protocol for adjudicating wall-time drift vs real regression
(VERDICT r5 task 8; this host ambiently drifts 1.1-1.4x between
rounds).

Output contract (VERDICT r3 task 1 — the r3 record failed driver-side
parsing because the single line outgrew the tail capture): the verbose
per-rep detail (``queries_reps``/``spread_pct``) prints on its OWN
earlier line, and the LAST line is the compact headline JSON the driver
parses: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ..., "etl_rows_per_sec": ..., "dq_sweep_checks": ...,
"dq_sweep_ms_per_check": ...} (+ "dq_sweep_ms_per_check_ab", the same
figure derived from the interleaved A/B's HEAD median so it is
self-consistent with the recorded ratio — VERDICT r9).

Each query is forced through the noop sink (full computation, no driver
collect) — the honest way to time a distributed plan.

Each headline query runs once as warmup (parquet footer reads + codegen
compilation) then N=3 timed repetitions; the reported per-query number
is the median and ``queries_reps``/``spread_pct`` expose the raw reps
and (max-min)/median so noise vs regression is decidable (VERDICT r2
task 4: r1→r2 single-query swings of ±30% on unchanged code needed a
variance bar to adjudicate).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from rabbit_in_a_blender_spark.core.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q10_returned_items",
    "q18_large_volume_customer",
    "g1_duplicate_groups",
    "w3_window_dedup",
    "seq_assign_scalable",
    "stream_tumbling_1h",
    "stream_session_30m",
    # ext_dedup_minhash_lsh moved to NON_HEADLINE in r10: three rounds
    # of false A/B flags (r7 raw 4.63x -> adjudicated 0.946; r8; r9
    # 1.663 -> targeted 7-round 0.911, PLANS.md r10 notes) showed a
    # ~0.5s query is too thin for the 2-round embedded A/B.
    # ext_dedup_pipeline (4s, same LSH code path end-to-end, stable
    # ratios) is the LSH sentinel.
    "ext_dedup_pipeline",
    "ext_embed_cosine_topk",
    "ext_dedup_exact",
    "q8_market_share",
    "achilles_counts_catalog",
    "dq_sweep_detail",
]

# Timed and reported per-round but EXCLUDED from the headline total so
# r1-r4 totals stay same-set comparable: the round-5
# near-dup clustering pipeline (iterative CC — shingle → Jaccard pairs →
# label propagation; its actions run inside the query function).
NON_HEADLINE = [
    # r10: demoted from HEADLINE after its third false A/B flag (see
    # note above) — still timed every round for trend visibility; note
    # the headline total shrinks ~0.5-0.9s vs r1-r9 records (the A/B
    # ratio, which is same-set by construction, is the cross-round
    # signal).
    "ext_dedup_minhash_lsh",
    "ext_dedup_clusters_lsh",
    "ext_decontam_filter",
    "ext_corpus_prep",
    # r7 additions — timed for trend visibility, excluded from the
    # same-set headline total
    "ext_bpe_token_counts",
    "stream_corpus_dedup_batch",
    # r7 late additions: the two heaviest adapted TPC-H shapes and the
    # retrieval/LM/interval operators
    "q2_min_cost_supplier",
    "q21_waiting_suppliers",
    "ext_bm25_topk",
    "ext_bigram_logprob",
    "ext_interval_join",
    # r7 third-session additions: hypertable rollup + anomaly scoring,
    # drift QC, and the MG-screened heavy hitters (a mapInPandas scan
    # shape the other entries don't exercise)
    "ext_ts_rollup_gapfill",
    "ext_ts_rolling_zscore",
    "ext_psi_drift",
    "ext_heavy_hitters",
    # r8 additions: the composed ANN path and the char-n-gram langid
    # (both newly hash-gated), and the stateful-streaming z-score twin
    "ext_ivfpq_topk",
    "ext_langid_ngram",
    "stream_zscore_batch",
    "ext_dup_passage_removal",
    # r9 additions: minhash-over-passage-windows near-dedup and the
    # SemDeDup semantic flag pass (within-cluster pairwise cosine)
    "ext_dup_passages_lsh",
    "ext_semantic_dedup",
    # r10 additions: DSIR selection, RRF hybrid retrieval, and the
    # streamed Misra-Gries screen
    "ext_dsir_resample",
    "ext_hybrid_rrf",
    "stream_heavy_hitters_batch",
    "stream_dsir_batch",
    "ext_ccnet_buckets",
    # r11 additions: the coarse-quantizer assignment twin and the
    # incremental IVFADC append+search round trip
    "ext_semantic_dedup_coarse",
    "ext_ivfpq_incremental",
    # r12 additions: the auto-escalating assignment default at C=2000
    # (rides the coarse rung), the pointer-swap commit ledger, and the
    # streaming SemDeDup screen
    "ext_ivf_assign_auto",
    "wh_pointer_commit",
    "stream_semdedup_batch",
    # r13 additions: the pointer protocol on the Hadoop-FS (file://)
    # route with the concurrent-writer guard, and the probe-side auto
    # dispatch at bulk |Q|*C
    "wh_pointer_hadoopfs",
    "ext_probe_auto_bulk",
]


def etl_pipeline_bench(
    spark,
    sf_dir: str,
    metrics_out: list | None = None,
) -> tuple[float, int]:
    """End-to-end two-stage ETL over customer(person-like) + orders
    (visit-like): prequel keys → usagi mapping → pk swap → fk remap →
    windowed dedup → atomic write.  The analog of the reference's
    headline 'full ETL throughput' number (README.md:77).  Times the
    pipeline the CLI runs, per-step tally included."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.core.registry import (
        ColumnSpec,
        SchemaRegistry,
        TableSpec,
    )
    from rabbit_in_a_blender_spark.pipeline.etl import EtlPipeline, TableInputs
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    registry = SchemaRegistry(
        [
            TableSpec(
                name="person",
                columns=[
                    ColumnSpec("person_id", "int64", required=True),
                    ColumnSpec("segment_concept_id", "int64", required=True),
                    ColumnSpec("name", "string"),
                    ColumnSpec("acctbal", "float64"),
                ],
                pk="person_id",
                concept_cols=["segment_concept_id"],
            ),
            TableSpec(
                name="visit",
                columns=[
                    ColumnSpec("visit_id", "int64", required=True),
                    ColumnSpec("person_id", "int64", required=True),
                    ColumnSpec("totalprice", "float64"),
                ],
                pk="visit_id",
                fks={"person_id": "person"},
            ),
        ]
    )
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    person_upload = cust.select(
        F.concat(F.lit("PK_"), F.col("c_custkey").cast("string")).alias("person_id"),
        F.col("c_mktsegment").alias("segment_concept_id__source"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").cast("double").alias("acctbal"),
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    visit_upload = orders.select(
        F.concat(F.lit("PK_"), F.col("o_orderkey").cast("string")).alias("visit_id"),
        F.concat(F.lit("PK_"), F.col("o_custkey").cast("string")).alias("person_id"),
        F.col("o_totalprice").cast("double").alias("totalprice"),
    )
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    usagi = spark.createDataFrame(
        [(s, s.lower(), "APPROVED", 9000 + i, s, "Segment") for i, s in enumerate(segs)],
        "sourceCode string, sourceName string, mappingStatus string, "
        "conceptId long, conceptName string, domainId string",
    )
    n_rows = person_upload.count() + visit_upload.count()
    whdir = tempfile.mkdtemp(prefix="bench_wh_")
    try:
        t0 = time.perf_counter()
        pipe = EtlPipeline(spark, Warehouse(whdir), registry)
        pipe.run(
            {
                "person": TableInputs(
                    uploads=[person_upload], usagi={"segment_concept_id": usagi}
                ),
                "visit": TableInputs(uploads=[visit_upload]),
            }
        )
        elapsed = time.perf_counter() - t0
        if metrics_out is not None:
            metrics_out.extend(pipe.metrics)
    finally:
        shutil.rmtree(whdir, ignore_errors=True)
    return elapsed, n_rows


SESSION_PY = "rabbit_in_a_blender_spark/core/session.py"


def session_differs(ref: str) -> bool:
    """Whether ``core/session.py`` differs between ``ref`` and this
    tree.  An A/B builds ONE session with this tree's ``get_spark`` and
    runs both trees in it, so a change to a session default reads 1.0
    by construction; when the file differs a warning goes to stderr."""
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    differs = (
        subprocess.run(
            ["git", "diff", "--quiet", ref, "--", SESSION_PY],
            cwd=here, capture_output=True, timeout=30,
        ).returncode
        != 0
    )
    if differs:
        print(
            f"warning: {SESSION_PY} differs from {ref}; the A/B runs both "
            "trees in this tree's session, so session defaults are not compared",
            file=sys.stderr,
        )
    return differs


def _purge_pkg_modules() -> None:
    for mod in list(sys.modules):
        if mod.startswith("rabbit_in_a_blender_spark"):
            del sys.modules[mod]


def _release_tracked(df) -> None:
    """Release track_cache-pinned intermediates after a timed run
    (tree-agnostic: reads the attribute instead of importing
    core.caching, so the A/B's archived ref trees work too)."""
    for c in getattr(df, "_graft_cached", []):
        try:
            c.unpersist()
        except Exception:
            pass


def _time_suite(
    root: str, names: list[str], spark, sf_dir: str
) -> dict[str, float]:
    """Import the plans catalog of the tree at ``root`` (isolated: the
    package modules are purged before AND after, so trees never mix) and
    run each query once through the noop sink, timed."""
    import importlib

    _purge_pkg_modules()
    sys.path.insert(0, root)
    try:
        cat = importlib.import_module("rabbit_in_a_blender_spark.plans.catalog")
        queries = cat.all_queries()
        out: dict[str, float] = {}
        for name in names:
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            out[name] = round(time.perf_counter() - t0, 3)
            _release_tracked(df)
        return out
    finally:
        sys.path.remove(root)
        _purge_pkg_modules()


def ab_main(ref: str, only: list[str] | None, rounds: int) -> None:
    """Interleaved A/B: HEAD tree vs ``git archive <ref>`` in ONE Spark
    session, alternating full suite passes (ref, head, ref, head, ...)
    so ambient host drift hits both sides equally.  Ratios, not
    absolutes, are the recorded signal — this is the bench protocol
    hardening from VERDICT r5 task 8 (three rounds of 1.1-1.4x
    wall-time drift between rounds on unchanged code).
    """
    import shutil
    import subprocess
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = only or [n for n in HEADLINE]
    refdir = tempfile.mkdtemp(prefix=f"bench_ab_{re.sub(r'[^A-Za-z0-9]', '_', ref)}_")
    try:
        tar = subprocess.run(
            ["git", "archive", ref], cwd=here, capture_output=True, timeout=120
        )
        if tar.returncode != 0:
            sys.exit(f"git archive {ref} failed: {tar.stderr.decode()[:500]}")
        subprocess.run(
            ["tar", "-x", "-C", refdir], input=tar.stdout, check=True, timeout=120
        )
        differs = session_differs(ref)
        spark = get_spark("bench-ab")
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1000).count()
        # Queries present in both trees only (a new query has no ref side).
        ref_names = set(
            _ab_catalog_names(refdir)
        )
        missing = [n for n in names if n not in ref_names]
        names = [n for n in names if n in ref_names]
        # one untimed warmup pass per tree (codegen + footer reads)
        _time_suite(refdir, names, spark, sf_dir)
        _time_suite(here, names, spark, sf_dir)
        ref_reps: dict[str, list[float]] = {n: [] for n in names}
        head_reps: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(rounds):
            for t in _time_suite(refdir, names, spark, sf_dir).items():
                ref_reps[t[0]].append(t[1])
            for t in _time_suite(here, names, spark, sf_dir).items():
                head_reps[t[0]].append(t[1])
        med = lambda xs: sorted(xs)[len(xs) // 2]
        per_query = {
            n: {
                "ref": ref_reps[n],
                "head": head_reps[n],
                "ratio": round(med(head_reps[n]) / med(ref_reps[n]), 3),
            }
            for n in names
        }
        total_ref = round(sum(med(ref_reps[n]) for n in names), 3)
        total_head = round(sum(med(head_reps[n]) for n in names), 3)
        print(
            json.dumps(
                {
                    "metric": "ab_head_over_ref_ratio",
                    "ref": ref,
                    "rounds": rounds,
                    "value": round(total_head / total_ref, 3),
                    "total_head_sec": total_head,
                    "total_ref_sec": total_ref,
                    "queries": per_query,
                    "skipped_not_in_ref": missing,
                    "sf_dir": sf_dir,
                    "session_differs": differs,
                }
            )
        )
    finally:
        shutil.rmtree(refdir, ignore_errors=True)


def _ab_catalog_names(root: str) -> list[str]:
    import importlib

    _purge_pkg_modules()
    sys.path.insert(0, root)
    try:
        cat = importlib.import_module("rabbit_in_a_blender_spark.plans.catalog")
        return list(cat.all_queries())
    finally:
        sys.path.remove(root)
        _purge_pkg_modules()


def _latest_round_marker() -> str | None:
    """Commit that recorded the most recent BENCH_r{N}.json — the
    previous round's closing tree, the natural A/B reference."""
    import glob
    import subprocess

    here = os.path.dirname(os.path.abspath(__file__))
    markers = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if not markers:
        return None
    newest = os.path.basename(markers[-1])
    out = subprocess.run(
        ["git", "log", "--diff-filter=A", "--format=%H", "-n", "1", "--", newest],
        cwd=here, capture_output=True, text=True, timeout=30,
    )
    sha = out.stdout.strip().splitlines()
    return sha[0] if out.returncode == 0 and sha else None


def _quick_ab(ref: str, spark, sf_dir: str, rounds: int = 2) -> dict | None:
    """Interleaved HEAD-vs-ref headline passes appended to the normal
    bench record, so every BENCH_r{N} carries its own drift adjudication
    (VERDICT r5 task 8): cross-round comparisons read the RATIO, not the
    absolute totals this host drifts by 1.1-1.4x."""
    import shutil
    import subprocess
    import tempfile

    here = os.path.dirname(os.path.abspath(__file__))
    refdir = tempfile.mkdtemp(prefix="bench_ab_auto_")
    try:
        tar = subprocess.run(
            ["git", "archive", ref], cwd=here, capture_output=True, timeout=120
        )
        if tar.returncode != 0:
            return None
        subprocess.run(
            ["tar", "-x", "-C", refdir], input=tar.stdout, check=True, timeout=120
        )
        names = [n for n in HEADLINE if n in set(_ab_catalog_names(refdir))]
        if not names:
            return None
        _time_suite(refdir, names, spark, sf_dir)  # ref-side warmup
        ref_reps: dict[str, list[float]] = {n: [] for n in names}
        head_reps: dict[str, list[float]] = {n: [] for n in names}
        for _ in range(rounds):
            for n, s in _time_suite(refdir, names, spark, sf_dir).items():
                ref_reps[n].append(s)
            for n, s in _time_suite(here, names, spark, sf_dir).items():
                head_reps[n].append(s)
        ref_tot = sum(sum(v) for v in ref_reps.values())
        head_tot = sum(sum(v) for v in head_reps.values())
        med = lambda xs: sorted(xs)[len(xs) // 2]
        return {
            "ref": ref[:9],
            "rounds": rounds,
            "n_queries": len(names),
            "total_ref_sec": round(ref_tot, 3),
            "total_head_sec": round(head_tot, 3),
            "head_over_ref": round(head_tot / ref_tot, 3),
            # per-query medians so a single-query drift is adjudicable
            # from the committed artifact alone (VERDICT r8 task 2)
            "queries": {
                n: {
                    "ref": med(ref_reps[n]),
                    "head": med(head_reps[n]),
                    "ratio": round(med(head_reps[n]) / max(med(ref_reps[n]), 1e-9), 3),
                }
                for n in names
            },
        }
    except Exception:
        return None
    finally:
        shutil.rmtree(refdir, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    from rabbit_in_a_blender_spark.plans.catalog import all_queries

    queries = all_queries()
    # Warm the JVM/session with a trivial action so q1 isn't charged startup.
    spark.range(1000).count()
    # Warmup pass: parquet footer reads + codegen compilation happen once
    # here; the timed pass below measures steady-state execution (what a
    # long-running cluster job actually pays per query).
    dq_checks = 0
    for name in HEADLINE + NON_HEADLINE:
        df = queries[name](spark, sf_dir)
        if name == "dq_sweep_detail":
            # The check count comes from the warmup execution (count is
            # as much a full-plan action as the noop write) — no extra
            # untimed sweep run just to count rows (ADVICE r4).
            dq_checks = df.count()
        else:
            df.write.format("noop").mode("overwrite").save()
        _release_tracked(df)

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    queries_reps: dict[str, list[float]] = {}
    spread_pct: dict[str, float] = {}
    for name in HEADLINE + NON_HEADLINE:
        fn = queries[name]
        samples: list[float] = []
        for _ in range(reps):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
            _release_tracked(df)
        med = sorted(samples)[len(samples) // 2]
        timings[name] = med
        queries_reps[name] = samples
        spread_pct[name] = round(100.0 * (max(samples) - min(samples)) / med, 1)

    # ETL warmup at the smallest sf: codegen + committer paths compile
    # once here, so the timed run below measures steady-state execution
    # (same treatment the headline queries get above).
    etl_pipeline_bench(spark, "/root/testdata/sf0.001")
    etl_samples: list[float] = []
    for _ in range(reps):
        etl_sec, etl_rows = etl_pipeline_bench(spark, sf_dir)
        etl_samples.append(round(etl_sec, 3))
    etl_med = sorted(etl_samples)[len(etl_samples) // 2]
    timings["etl_pipeline_two_stage"] = etl_med
    queries_reps["etl_pipeline_two_stage"] = etl_samples
    spread_pct["etl_pipeline_two_stage"] = round(
        100.0 * (max(etl_samples) - min(etl_samples)) / etl_med, 1
    )

    # The sweep's wall-time moves with its coverage (r3: +45% wall,
    # -20% per-check as checks grew 53 -> 96); dq_checks (recorded during
    # warmup above) keeps coverage growth and regression separable
    # (VERDICT r3 task 5).
    total = round(
        sum(v for k, v in timings.items() if k not in NON_HEADLINE), 3
    )
    # Verbose variance detail first, on its own line — the driver's tail
    # capture only needs the compact LAST line below.
    print(
        json.dumps(
            {
                "detail": "bench_reps",
                "reps": reps,
                "queries_reps": queries_reps,
                "spread_pct": spread_pct,
            }
        )
    )
    # Self-adjudicating record: interleave headline passes of the
    # previous round's tree with HEAD in this same session and carry
    # the ratio (skipped silently outside a git checkout).
    ab = None
    marker = _latest_round_marker()
    if marker and os.environ.get("SPARK_GRAFT_BENCH_AB", "1") != "0":
        ab = _quick_ab(marker, spark, sf_dir)

    # Recorded pinned-tree ETL adjudication (VERDICT r12 task 5): the
    # 7-round interleaved A/B of the ETL pipeline vs the r10 marker is
    # too heavy to re-run per bench invocation.  The committed artifact
    # (ETL_AB_r*.json, produced by the builder's controlled session)
    # prints VERBATIM on its own earlier line below; the compact record
    # keeps only a slim pointer (ratios + filename) so (a) the
    # builder-measured numbers can never read as fresh driver
    # measurements inside the record (VERDICT r13 what's-wrong #5) and
    # (b) the one-line record the driver parses stays small enough to
    # survive tail captures (BENCH_r12's record line was truncated
    # in the driver's capture and the whole r12->r13 comparison was
    # lost — VERDICT r13 task 7).
    etl_ab = None
    here = os.path.dirname(os.path.abspath(__file__))
    recs = sorted(glob.glob(os.path.join(here, "ETL_AB_r*.json")))
    if recs:
        try:
            with open(recs[-1]) as fh:
                etl_ab = json.load(fh)
                etl_ab["recorded_artifact"] = os.path.basename(recs[-1])
        except (OSError, ValueError):
            etl_ab = None

    record = {
        "metric": "headline_queries_total_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "etl_rows_per_sec": round(etl_rows / etl_med),
        "dq_sweep_checks": int(dq_checks),
        "dq_sweep_ms_per_check": round(
            1000.0 * timings["dq_sweep_detail"] / max(int(dq_checks), 1), 1
        ),
    }
    if ab is not None:
        record["ab"] = ab
        # Reconciled ms/check (VERDICT r9): the raw figure above rides
        # whatever ambient host state this bench run got, while the
        # interleaved A/B cancels it — r9 recorded raw 66.6 ms/check
        # next to an A/B ratio of 0.947, two numbers in one artifact
        # contradicting each other.  The _ab twin is derived from the
        # A/B's interleaved HEAD median for the same query, so raw-vs-ab
        # disagreement reads as ambient drift, not a sweep regression.
        ab_dq = ab.get("queries", {}).get("dq_sweep_detail")
        if ab_dq:
            record["dq_sweep_ms_per_check_ab"] = round(
                1000.0 * ab_dq["head"] / max(int(dq_checks), 1), 1
            )
            # Adjudicated figure (VERDICT r11 task 6): the _ab absolute
            # above still rides this run's ambient host state (r10->r11
            # it moved 35.2 -> 51.7 while the targeted 7-round
            # interleaved A/B said 1.045 — ambient, not regression).
            # The drift-cancelled signal is the interleaved head/ref
            # RATIO, recorded here alongside both absolutes so the
            # committed artifact can't over-read a per-check move.
            record["dq_sweep_ab"] = {
                "ratio": ab_dq["ratio"],
                "ref_ms_per_check": round(
                    1000.0 * ab_dq["ref"] / max(int(dq_checks), 1), 1
                ),
                "head_ms_per_check": round(
                    1000.0 * ab_dq["head"] / max(int(dq_checks), 1), 1
                ),
            }
    if etl_ab is not None:
        # full artifact on its own line (recorded, builder-measured)...
        print(json.dumps({"detail": "etl_ab_recorded_artifact", **etl_ab}))
        # ...slim pointer in the record: ratios only, clearly labeled
        record["etl_ab_recorded"] = {
            "ref": etl_ab.get("ref"),
            "rounds": etl_ab.get("rounds"),
            "two_stage_ratio": etl_ab.get("two_stage", {}).get("ratio"),
            "recorded_artifact": etl_ab.get("recorded_artifact"),
        }
    print(json.dumps(record))


if __name__ == "__main__":
    if "--ab" in sys.argv:
        i = sys.argv.index("--ab")
        ab_ref = sys.argv[i + 1]
        ab_only = None
        if "--queries" in sys.argv:
            ab_only = sys.argv[sys.argv.index("--queries") + 1].split(",")
        ab_rounds = int(
            sys.argv[sys.argv.index("--rounds") + 1]
            if "--rounds" in sys.argv
            else 3
        )
        ab_main(ab_ref, ab_only, ab_rounds)
    else:
        main()
