"""The one reader of Spark's status store (AppStatusStore, behind the UI
and REST API; kept with ``spark.ui.enabled=false`` too): per-job cost
records, the Spark analog of the reference's per-query bytes-billed
tally (etl/bigquery/gcp.py:106-144).

The store is read as two JVM-side JSON documents, serialized by the
Jackson ``ObjectMapper`` + ``DefaultScalaModule`` pair Spark's REST API
uses for these classes: two py4j round trips, not one per field.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import SparkSession


@dataclass
class Job:
    """One Spark job; times in epoch seconds.  Stage metrics come from
    each stage's latest attempt; a stage that several jobs list counts
    toward the lowest job id only."""

    id: int
    group: str | None
    description: str
    submit_s: float
    end_s: float | None
    tasks: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    output_rows: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _store(spark: SparkSession):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def next_job_id(spark: SparkSession) -> int:
    """A mark: :func:`jobs` since it lists only jobs launched later."""
    listed = _store(spark).jobsList(None)  # newest first
    return 0 if listed.isEmpty() else listed.head().jobId() + 1


def jobs(spark: SparkSession, since: int) -> list[Job]:
    """The retained jobs with id >= ``since``, in id order, once the
    listener bus is drained.  Schedules no Spark job."""
    store, jvm = _store(spark), spark.sparkContext._jvm
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
    dflt = lambda n: getattr(store, f"stageList$default${n}")()
    stages = store.stageList(None, dflt(2), dflt(3), dflt(4), dflt(5))
    return job_records(
        json.loads(mapper.writeValueAsString(store.jobsList(None))),
        json.loads(mapper.writeValueAsString(stages)),
        since,
    )


def job_records(job_list: list[dict], stage_list: list[dict], since: int) -> list[Job]:
    """:func:`jobs` from the REST API's JobData and StageData JSON."""
    out, owner, latest = [], {}, {}
    for j in sorted(job_list, key=lambda j: j["jobId"]):
        if j["jobId"] < since:
            continue
        end = j.get("completionTime")
        job = Job(j["jobId"], j.get("jobGroup"), j.get("description") or j["name"],
                  j["submissionTime"] / 1e3, end / 1e3 if end else None)
        out.append(job)
        for sid in j["stageIds"]:
            owner.setdefault(sid, job)
    for s in stage_list:
        sid = s["stageId"]
        if sid in owner and s["attemptId"] >= latest.get(sid, s)["attemptId"]:
            latest[sid] = s
    for sid, s in latest.items():
        job = owner[sid]
        job.tasks += s["numCompleteTasks"]
        job.input_rows += s["inputRecords"]
        job.input_bytes += s["inputBytes"]
        job.output_rows += s["outputRecords"]
        job.output_bytes += s["outputBytes"]
        job.shuffle_read_bytes += s["shuffleReadBytes"]
        job.shuffle_write_bytes += s["shuffleWriteBytes"]
        job.spill_bytes += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
    return out


@contextmanager
def job_group(spark: SparkSession, name: str):
    """Job group ``name`` on the jobs the CURRENT thread launches inside
    the block; cleared afterwards.  Work handed to another thread needs
    its own block there."""
    jsc = spark.sparkContext._jsc
    jsc.setJobGroup(name, name, False)
    try:
        yield
    finally:
        jsc.clearJobGroup()


def union_s(jobs: list[Job]) -> float:
    """Critical path: the length of the union of the jobs' intervals."""
    total, reach = 0.0, float("-inf")
    for lo, hi in sorted((j.submit_s, j.end_s or j.submit_s) for j in jobs):
        if hi > reach:
            total += hi - max(lo, reach)
            reach = hi
    return total
