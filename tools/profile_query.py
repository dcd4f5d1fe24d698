"""Per-job profile of bench rows: catalog queries and the bench-only
ETL rows (``etl_pipeline_two_stage``, ``etl_pipeline_bucketed``).

Usage: python tools/profile_query.py q1_pricing_summary etl_pipeline_two_stage ...

Per row: an untimed warmup pass, then a timed pass (queries through the
noop sink, as bench.py times them).  Its wall time splits into
plan-build (driver time in the query function outside its jobs), eager
(the critical path of jobs the function itself launched), the jobs'
critical path (union of their intervals) and job-sum, and driver-only
(wall minus that critical path).  Jobs are listed from ``core.observe``;
eager ones are marked ``*``.  Diagnostic only.
"""

from __future__ import annotations

import os
import sys
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from rabbit_in_a_blender_spark.core import observe
from rabbit_in_a_blender_spark.core.session import get_spark

BENCH_ROWS = {
    "etl_pipeline_two_stage": bench.etl_pipeline_bench,
    "etl_pipeline_bucketed": partial(bench.etl_pipeline_bench, bucketed=True),
}


def _pass(spark, fn, sf_dir: str):
    """One pass of a row: (wall s, build s, first non-eager job id, jobs)."""
    since = observe.next_job_id(spark)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t_build = time.perf_counter() - t0
    eager_end = observe.next_job_id(spark)
    if hasattr(df, "write"):  # the ETL rows return (seconds, rows)
        df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    bench._release_tracked(df)
    return wall, t_build, eager_end, observe.jobs(spark, since)


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    from rabbit_in_a_blender_spark.plans.catalog import all_queries

    rows = {**all_queries(), **BENCH_ROWS}
    spark.range(1000).count()

    for name in names:
        fn = rows[name]
        _pass(spark, fn, sf_dir)  # warmup
        wall, t_build, eager_end, jobs = _pass(spark, fn, sf_dir)
        eager = observe.union_s([j for j in jobs if j.id < eager_end])
        union = observe.union_s(jobs)
        jsum = sum(j.end_s - j.submit_s for j in jobs)
        # job times are whole milliseconds: clip the rounding below 0
        driver_only = max(wall - union, 0.0)
        print(f"\n=== {name}: wall {wall:.3f}s | plan-build "
              f"{max(t_build - eager, 0.0):.3f}s, eager {eager:.3f}s | "
              f"{len(jobs)} jobs, {sum(j.tasks for j in jobs)} tasks: critical path {union:.3f}s, job-sum "
              f"{jsum:.3f}s | driver-only {driver_only:.3f}s ===")
        for j in jobs:
            print(f"  job {j.id:>5}{'*' if j.id < eager_end else ' '}"
                  f"{j.end_s - j.submit_s:8.3f}s tasks={j.tasks:<5} "
                  f"in={j.input_bytes/1e6:8.2f}MB "
                  f"srd={j.shuffle_read_bytes/1e6:7.2f}MB "
                  f"swr={j.shuffle_write_bytes/1e6:7.2f}MB  {j.description[:110]}")


if __name__ == "__main__":
    main()
