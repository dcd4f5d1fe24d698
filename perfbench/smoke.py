"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json once untraced and once traced,
with the shortest measuring time (one op), and asserts that each run
exits 0, reports every metric BENCHMARK.json names with its unit, and
failed no op; the report file must carry the sample counts.  Takes a
few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(workload: str, trace: int, specs: list[dict]) -> None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    if proc.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {proc.returncode}\n"
                             f"{proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    assert result["correct"] and result["failed"] == 0, result
    assert result["attempted"] >= 1, result
    want = {m["name"]: m["unit"] for m in specs}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: metrics {got} != {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], float), (k, v)
    if trace:
        assert result["metrics"]["failed_op_ratio"]["value"] == 0.0
    path = os.path.join(HERE, ".out", f"{workload}-seed1-trace{trace}.json")
    with open(path, encoding="utf-8") as f:
        report = json.load(f)
    samples = report["samples"]
    assert samples["ops"] == result["attempted"] and samples["setup_repeats"] >= 1
    for key in ("nproc", "SPARK_GRAFT_CPUS", "loadavg_before", "loadavg_after",
                "java", "pyspark", "seed", "inputs", "warmup_batches",
                "tracing_overhead", "cpu_steal_s"):
        assert key in report["host"], key
    print(f"ok {workload} trace={trace}: {result['attempted']} ops")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        check_run(w["name"], 0, bench["end_to_end"])
        check_run(w["name"], 1, bench["per_layer"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
