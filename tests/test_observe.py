"""core/observe.py: the one reader of Spark's status store."""

from __future__ import annotations

import re
import time
from concurrent.futures import ThreadPoolExecutor
from operator import add
from pathlib import Path

from rabbit_in_a_blender_spark.core import observe

ROOT = Path(__file__).resolve().parent.parent


def _mine(jobs):
    """Jobs launched from this file (by call site) or under a group —
    never a job some other test left running in the shared session."""
    return [j for j in jobs if j.group or "test_observe.py" in j.description]


def test_jobs_since_a_mark(spark):
    sc = spark.sparkContext
    since = observe.next_job_id(spark)
    sc.parallelize(range(3), 1).count()
    mark = observe.next_job_id(spark)
    sc.parallelize(range(3), 1).count()
    before = _mine(observe.jobs(spark, since))
    after = _mine(observe.jobs(spark, mark))
    assert len(before) == 2 and before[0].id < mark <= before[1].id
    assert [j.id for j in after] == [before[1].id]
    assert all(j.end_s >= j.submit_s > 0 and j.tasks == 1 for j in before)


def test_job_group_is_thread_local(spark):
    sc = spark.sparkContext
    count = lambda: sc.parallelize(range(5), 1).count()

    def tagged():
        with observe.job_group(spark, "pool_probe"):
            count()
        count()  # after the block: the group is cleared

    since = observe.next_job_id(spark)
    with ThreadPoolExecutor(1) as pool:  # one thread: the block's thread is reused
        pool.submit(tagged).result()
        pool.submit(count).result()
    count()
    assert [j.group for j in _mine(observe.jobs(spark, since))] == [
        "pool_probe",
        None,
        None,
        None,
    ]


def test_parquet_write_output_rows(spark, tmp_path):
    since = observe.next_job_id(spark)
    with observe.job_group(spark, "write_probe"):
        spark.range(1234).repartition(3).write.parquet(str(tmp_path / "out"))
    jobs = [j for j in observe.jobs(spark, since) if j.group == "write_probe"]
    assert sum(j.output_rows for j in jobs) == 1234
    assert sum(j.output_bytes for j in jobs) > 0
    assert sum(j.shuffle_write_bytes for j in jobs) > 0


def _shuffled(sc, delay=0.0):
    def slow(x):
        time.sleep(delay)
        return (x % 7, 1)

    return sc.parallelize(range(64), 4).map(slow).reduceByKey(add, 2)


def _shuffle_write(spark, group, *actions):
    since = observe.next_job_id(spark)
    with ThreadPoolExecutor(len(actions)) as pool:

        def run(action):
            with observe.job_group(spark, group):
                return action()

        assert [f.result() for f in [pool.submit(run, a) for a in actions]]
    jobs = [j for j in observe.jobs(spark, since) if j.group == group]
    assert len(jobs) == len(actions)
    return [j.shuffle_write_bytes for j in jobs]


def test_skipped_or_shared_stage_counts_once(spark):
    sc = spark.sparkContext
    (once,) = _shuffle_write(spark, "shuffle_once", _shuffled(sc).count)
    assert once > 0
    # second action on the same RDD: its map stage is skipped
    rdd = _shuffled(sc)
    assert _shuffle_write(spark, "shuffle_seq", rdd.count) == [once]
    assert _shuffle_write(spark, "shuffle_skip", rdd.count) == [0]
    # two concurrent actions share one running map stage
    rdd = _shuffled(sc, delay=0.05)
    assert sum(_shuffle_write(spark, "shuffle_shared", rdd.count, rdd.count)) == once


def test_shared_stage_and_retried_attempts_count_once():
    job = lambda jid, stages: {
        "jobId": jid,
        "name": f"job {jid}",
        "submissionTime": 1000 * jid,
        "completionTime": 1000 * jid + 500,
        "stageIds": stages,
    }
    stage = lambda sid, attempt, rows: {
        "stageId": sid,
        "attemptId": attempt,
        "numCompleteTasks": 2,
        "inputRecords": rows,
        "inputBytes": 0,
        "outputRecords": 0,
        "outputBytes": 0,
        "shuffleReadBytes": 0,
        "shuffleWriteBytes": 0,
        "memoryBytesSpilled": 0,
        "diskBytesSpilled": 0,
    }
    jobs = observe.job_records(
        [job(2, [3, 4]), job(1, [3]), job(0, [0])],
        [stage(3, 0, 10), stage(3, 1, 7), stage(4, 0, 1), stage(0, 0, 100)],
        since=1,
    )
    assert [(j.id, j.input_rows, j.tasks) for j in jobs] == [(1, 7, 2), (2, 1, 2)]


def test_union_s_of_overlapping_jobs(spark):
    sc = spark.sparkContext

    def sleeper():
        with observe.job_group(spark, "union_probe"):
            sc.parallelize([0], 1).map(lambda x: time.sleep(1.0) or x).collect()

    since = observe.next_job_id(spark)
    with ThreadPoolExecutor(2) as pool:
        for f in [pool.submit(sleeper) for _ in range(2)]:
            f.result()
    jobs = [j for j in observe.jobs(spark, since) if j.group == "union_probe"]
    assert len(jobs) == 2
    longest = max(j.end_s - j.submit_s for j in jobs)
    total = sum(j.end_s - j.submit_s for j in jobs)
    assert longest <= observe.union_s(jobs) < total


def test_only_observe_reads_the_status_store():
    """Source scan, no Spark: core/observe.py is the only code that
    touches Spark's status store.  perfbench/ reads the event log."""
    pattern = re.compile(r"status(Store|Tracker)\(")
    allowed = ROOT / "rabbit_in_a_blender_spark" / "core" / "observe.py"
    paths = [ROOT / "bench.py"]
    for d in ("rabbit_in_a_blender_spark", "tools", "tests"):
        paths += sorted((ROOT / d).rglob("*.py"))
    offenders = []
    for path in paths:
        if path == allowed:
            continue
        for n, line in enumerate(path.read_text().splitlines(), 1):
            if pattern.search(line):
                offenders.append(f"{path.relative_to(ROOT)}:{n}: {line.strip()}")
    assert offenders == []
