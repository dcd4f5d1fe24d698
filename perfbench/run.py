"""OMOP refresh and streaming benchmark for rabbit_in_a_blender_spark.

    python3 perfbench/run.py --workload omop_refresh --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process per run, Spark on
``local[<nproc>]``.  The inputs are generated from ``--seed``; the
workload runs timed operations for at least ``--seconds`` seconds,
checks every operation's output, and prints one JSON object as the last
line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` turns on the Spark event log and the layer wrappers
(measure.py) and reports the per-layer metrics.  A fuller report, with
the host record and every sample count, goes to stdout above that line
and to ``perfbench/.out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import glob
import json
import logging
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MB = 1024.0 * 1024.0


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Context:
    """Per-run state the workloads share."""

    def __init__(self, seed: int, work: str, trace: bool):
        self.seed = seed
        self.work = work
        self.trace = trace
        self.jvm_pid = None


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _quantile(xs, q: float) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def _cpu_steal_s() -> float:
    """Machine-wide CPU time stolen by the hypervisor, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _loadavg() -> list[str]:
    with open("/proc/loadavg", encoding="ascii") as f:
        return f.read().split()[:3]


def _start_spark(ctx: Context, trace: bool):
    from pyspark import SparkContext

    from rabbit_in_a_blender_spark.core.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(ctx.work, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work}/tmp",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        log_dir = os.path.join(ctx.work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    ctx.jvm_pid = SparkContext._gateway.proc.pid
    return spark


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _measure(wl, spark, seconds: float) -> list[dict]:
    """Timed ops until ``seconds`` have passed (at least one op).  A
    workload whose op is by definition the first engine call of its
    process (``one_op``) runs exactly one: a second would be warm."""
    ops = []
    deadline = time.perf_counter() + seconds
    while True:
        try:
            ops += wl.run_op(spark)
        except Exception as e:  # an op that raises counts as failed, run goes on
            traceback.print_exc(file=sys.stderr)
            ops.append({"t0": 0, "t1": 0, "wall_s": 0.0, "cpu_s": 0.0, "items": 0,
                        "errors": [f"{type(e).__name__}: {e}"]})
        if wl.one_op or time.perf_counter() >= deadline:
            return ops


def _end_to_end(ops, setup_s) -> dict:
    ok = [o for o in ops if not o["errors"]] or ops
    op_s = _median([o["wall_s"] for o in ok])
    return {
        "op_s_p50": op_s,
        # mean: the stream's CPU is read per op of several batches and
        # shared out among them, so there is no per-batch sample
        "cpu_s_per_op": sum(o["cpu_s"] for o in ok) / len(ok),
        # throughput at the median op: as robust to one slow op as op_s_p50
        "rows_per_s": _median([o["items"] for o in ok]) / op_s if op_s > 0 else 0.0,
        "setup_s": setup_s,
    }


def _per_layer(wl, ops, spans, events, cores, input_bytes, proc) -> dict:
    """Per-layer metrics from the traced run, per timed op (per
    micro-batch on the stream)."""
    from measure import EventLog, spark_layer

    ok = [o for o in ops if not o["errors"]] or ops
    n = len(ok)
    out: dict[str, float] = {}
    for o in ok:
        lo, hi = o["t0"], o["t1"]
        jobs = events.window(lo, hi)
        for k, v in spark_layer(jobs, o["wall_s"], cores, lo, hi).items():
            out[k] = out.get(k, 0.0) + v / n

        def add(key, value):
            out[key] = out.get(key, 0.0) + value / n

        for key, span in (("sources.load_inputs_s", "sources.load_inputs"),
                          ("pipeline.prepare_upload_s", "pipeline.prepare_upload"),
                          ("pipeline.stage1_s", "pipeline.stage1"),
                          ("pipeline.stage2_s", "pipeline.stage2"),
                          ("pipeline.invalidate_s", "pipeline.invalidate"),
                          ("mapping.build_s", "mapping"),
                          ("operators.build_s", "operators"),
                          ("warehouse.write_s", "warehouse.write"),
                          ("ext.dsir.featurize_s", "ext.dsir.featurize"),
                          ("ext.dsir.fold_s", "ext.dsir.fold")):
            add(key, spans.union_s(span, lo, hi))
        add("mapping.calls", spans.count("mapping", lo, hi))
        add("warehouse.writes", spans.count("warehouse.write", lo, hi))
        add("warehouse.reads", spans.count("warehouse.read", lo, hi))
        add("warehouse.appends", spans.count("warehouse.append", lo, hi))
        add("warehouse.bytes_written_mb", spans.bytes_written(lo, hi) / MB)
        add("warehouse.write_amp", spans.bytes_written(lo, hi) / input_bytes)
        add("commit.s", spans.union_s("commit.pointer", lo, hi)
            - spans.union_s("commit.data_write", lo, hi)
            + spans.union_s("commit.txn", lo, hi))
        win = o.get("phase_windows", {}).get("dqd")
        if win is not None:
            # build: run_sweep's driver-side time (its span minus the
            # Spark jobs inside it); exec: the jobs of the whole verb
            add("quality.dqd_exec_s", EventLog.union_s(events.window(*win), *win))
            add("quality.dqd_build_s", sum(
                b - a - EventLog.union_s(events.window(a, b), a, b)
                for a, b in spans.select("quality.dqd", *win)))
    out.setdefault("quality.dqd_exec_s", 0.0)
    out.setdefault("quality.dqd_build_s", 0.0)
    out["quality.dqd_checks"] = getattr(wl, "dqd_checks", 0)
    stream = [o for o in ok if "stream_ms" in o]
    for key, src in (("stream.add_batch_ms_p50", "addBatch"),
                     ("stream.query_planning_ms_p50", "queryPlanning"),
                     ("stream.wal_commit_ms_p50", "walCommit")):
        out[key] = _median([o["stream_ms"][src] for o in stream])
    q = max(len(stream) // 4, 1)
    walls = [o["wall_s"] for o in stream]
    out["stream.late_over_early"] = (
        _median(walls[-q:]) / _median(walls[:q]) if stream else 0.0)
    out.update(proc)
    phases = [o["phases"] for o in ok if "phases" in o]
    etl_s = _median([p["etl_s"] for p in phases])
    out["etl_rows_per_s"] = ok[0]["items"] / etl_s if etl_s else 0.0
    out["dqd_s_p50"] = _median([p["dqd_s"] for p in phases if "dqd_s" in p])
    out["batch_latency_p50_s"] = _median(walls)
    out["batch_latency_p90_s"] = _quantile(walls, 0.9)
    out["docs_per_s"] = sum(o["items"] for o in stream) / sum(walls) if stream else 0.0
    out["failed_op_ratio"] = sum(bool(o["errors"]) for o in ops) / len(ops)
    out["trace.op_s_p50"] = _median([o["wall_s"] for o in ok])
    return out


def run(args, bench: dict, work: str) -> tuple[dict, dict]:
    sys.path.insert(0, ROOT)
    import measure
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    ctx = Context(args.seed, work, bool(args.trace))
    loadavg_before, steal0 = _loadavg(), _cpu_steal_s()

    spans = measure.Spans()
    if args.trace:
        # before any engine call, so every call site sees the wrappers
        spans.install()
    t = time.perf_counter()
    spark = _start_spark(ctx, bool(args.trace))
    session_s = time.perf_counter() - t
    wl = WORKLOADS[args.workload](ctx)
    gen_s = []
    for _ in range(3):  # set-up repeated; its median goes into setup_s
        t = time.perf_counter()
        wl.setup()
        gen_s.append(time.perf_counter() - t)
    warm_s, warm_batches = 0.0, 0
    if hasattr(wl, "warmup"):
        t = time.perf_counter()
        warm_batches = wl.warmup(spark)
        warm_s = time.perf_counter() - t
    setup_s = session_s + _median(gen_s) + warm_s

    pid, jvm = os.getpid(), ctx.jvm_pid
    t = time.perf_counter()
    try:
        ops = _measure(wl, spark, args.seconds)
    finally:
        measured_s = time.perf_counter() - t
        if hasattr(wl, "close"):
            wl.close()
    spans.uninstall()
    proc = {
        "proc.py_cpu_s": measure.proc_cpu_s(pid),
        "proc.jvm_cpu_s": measure.proc_cpu_s(jvm),
        "proc.py_rss_mb": measure.proc_peak_rss_mb(pid),
        "proc.jvm_rss_mb": measure.proc_peak_rss_mb(jvm),
    }
    import pyspark

    java = spark.sparkContext._jvm.System.getProperty("java.version")
    _stop_spark(spark)
    teardown_s = time.perf_counter() - t - measured_s
    host = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": loadavg_before, "loadavg_after": _loadavg(),
        "cpu_steal_s": _cpu_steal_s() - steal0,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "java": java, "inputs": wl.inputs, "warmup_batches": warm_batches,
        "setup_parts_s": {"session": session_s, "inputs": gen_s, "warmup": warm_s},
        "measured_s": measured_s, "teardown_s": teardown_s,
    }

    e2e = _end_to_end(ops, setup_s)
    if args.trace:
        events = measure.EventLog(measure.find_event_log(os.path.join(work, "eventlog")))
        values = _per_layer(wl, ops, spans, events, host["nproc"],
                            wl.inputs["bytes"], proc)
        # traced op time against the newest untraced run of this workload
        base = _last_untraced(args.workload)
        host["tracing_overhead"] = (
            values["trace.op_s_p50"] / base[1]["op_s_p50"] - 1.0 if base else None)
        host["tracing_overhead_base"] = base[0] if base else None
        specs = bench["per_layer"]
    else:
        values = e2e
        host["tracing_overhead"] = None
        specs = bench["end_to_end"]
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in specs}
    failed = sum(bool(o["errors"]) for o in ops)
    samples = {"ops": len(ops), "failed_ops": failed,
               "setup_repeats": len(gen_s), "warmup_batches": warm_batches}
    report = {"host": host, "samples": samples, "end_to_end": e2e,
              "errors": [e for o in ops for e in o["errors"]][:20],
              "ops": [{k: o[k] for k in ("wall_s", "cpu_s", "items")} | o.get("phases", {})
                      for o in ops]}
    if args.trace:
        report["per_layer"] = values
    result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
              "metrics": metrics}
    return result, report


def _last_untraced(workload: str) -> tuple[str, dict] | None:
    files = sorted(glob.glob(os.path.join(HERE, ".out", f"{workload}-seed*-trace0.json")),
                   key=os.path.getmtime)
    if not files:
        return None
    with open(files[-1], encoding="utf-8") as f:
        return os.path.basename(files[-1]), json.load(f)["end_to_end"]


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "rabbit_in_a_blender_spark")):
        print("perfbench: run from a checkout of the repository (the "
              "rabbit_in_a_blender_spark package is missing)", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    logging.basicConfig(level=logging.WARNING, stream=sys.stderr)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    # every file Spark, the JVM and Python write stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    try:
        result, report = run(args, bench, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(HERE, ".out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1)
    print("host: " + json.dumps(report["host"]))
    print("samples: " + json.dumps(report["samples"]))
    for e in report["errors"]:
        print("error: " + e)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
