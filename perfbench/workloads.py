"""The benchmark's workloads.

Each workload has three parts:

- ``setup``: make the seeded inputs (untimed, counted in ``setup_s``);
  ``inputs`` then counts the rows and bytes the engine is given;
- ``run_op``: one timed operation through the engine's user entry
  point; returns one record per op (the stream returns one record per
  micro-batch);
- output checks inside ``run_op``, outside its timed region: a failed
  check marks the op failed.

``omop_refresh`` drives ``rabbit_in_a_blender_spark.cli.main`` in
process, exactly as ``riab-spark`` would be invoked: ``--run-etl`` into
an empty warehouse; the traced run then sweeps the CDM it built with
``--data-quality``.  ``stream_dsir_microbatch`` replays a seeded corpus as
micro-batches through ``streaming.sink.stream_dsir_select``.
"""

from __future__ import annotations

import contextlib
import io
import os
import shutil
import time

import gen
import pyarrow.parquet as pq
from measure import proc_cpu_s


def _table(wh_root: str, zone: str, table: str):
    """A warehouse table read straight from disk (no Spark job)."""
    from rabbit_in_a_blender_spark.core.commit import is_pointer_table, resolve_pointer

    p = os.path.join(wh_root, zone, table)
    return pq.read_table(resolve_pointer(p) if is_pointer_table(p) else p)


class Refresh:
    """raw EMR → two-stage ETL into CDM 5.4, the first operation of a
    fresh process like every ``riab-spark`` command."""

    name = "omop_refresh"
    one_op = True  # a run's op is its cold first ETL; a second would be warm
    persons = 300
    # DQD checks the sweep instantiates over the CDM this ETL builds:
    # fixed by the tables and columns present, not by the data (changes
    # only if the sweep's check catalog or the ETL's output tables do)
    expected_dqd_checks = 288

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "refresh")
        self.wh = os.path.join(self.root, "warehouse")
        self.ini = os.path.join(self.root, "riab.ini")

    def setup(self) -> None:
        from rabbit_in_a_blender_spark.core.cdm54 import cdm54_registry

        shutil.rmtree(self.root, ignore_errors=True)
        raw = os.path.join(self.root, "raw")
        self.rows = gen.emr(self.ctx.seed, self.persons)
        raw_bytes = gen.write_raw(raw, self.rows)
        gen.write_folders(os.path.join(self.root, "folders"), cdm54_registry())
        self.manifest = gen.manifest(self.rows)
        with open(self.ini, "w", encoding="utf-8") as f:
            f.write(f"[warehouse]\nroot = {self.wh}\ncommit_mode = pointer\n"
                    f"[raw]\npath = {raw}\n")
        self.inputs = {"rows": self.manifest["raw_rows"], "bytes": raw_bytes}

    def _cli(self, *args: str) -> int:
        """One ``riab-spark`` command; its report lines are discarded so
        the benchmark's result stays the last line of stdout."""
        from rabbit_in_a_blender_spark.cli import main

        with contextlib.redirect_stdout(io.StringIO()):
            return main(["--config", self.ini, *args])

    def run_op(self, spark) -> list[dict]:
        # every op starts from the same state: an empty warehouse
        shutil.rmtree(self.wh, ignore_errors=True)
        pid, jvm = os.getpid(), self.ctx.jvm_pid
        cpu0 = proc_cpu_s(pid) + proc_cpu_s(jvm)
        t0 = time.time()
        rc = self._cli("--run-etl", os.path.join(self.root, "folders"))
        t1 = time.time()
        cpu = proc_cpu_s(pid) + proc_cpu_s(jvm) - cpu0
        errors = [f"--run-etl returned {rc}"] if rc != 0 else self.check_etl()
        op = {"t0": t0, "t1": t1, "wall_s": t1 - t0, "cpu_s": cpu,
              "items": self.manifest["raw_rows"], "errors": errors,
              "phases": {"etl_s": t1 - t0}}
        if self.ctx.trace and not errors:
            # the traced run also sweeps the new CDM with DQD, after the
            # timed op: the quality layer's numbers and its check
            rc = self._cli("--data-quality")
            t2 = time.time()
            op["phases"]["dqd_s"] = t2 - t1
            op["phase_windows"] = {"dqd": (t1, t2)}
            # 3 = some checks failed, as planted
            op["errors"] = ([f"--data-quality returned {rc}"] if rc not in (0, 3)
                            else self.check_quality())
        return [op]

    # -- output checks --------------------------------------------------------
    def check_etl(self) -> list[str]:
        m, errors = self.manifest, []
        t = {name: _table(self.wh, "omop", name).to_pydict() for name in m["rows"]}
        for name, n in m["rows"].items():
            got = len(t[name][f"{name}_id"])
            if got != n:
                errors.append(f"{name}: {got} rows, manifest says {n}")
            if len(set(t[name][f"{name}_id"])) != got:
                errors.append(f"{name}: primary key not unique")
        persons = set(t["person"]["person_id"])
        visits = set(t["visit_occurrence"]["visit_occurrence_id"])
        meas = t["measurement"]
        for name in ("visit_occurrence", "measurement"):
            if not set(t[name]["person_id"]) <= persons:
                errors.append(f"{name}.person_id does not resolve to person")
        if not set(meas["visit_occurrence_id"]) <= visits:
            errors.append("measurement.visit_occurrence_id does not resolve")
        if not set(meas["measurement_event_id"]) <= visits:
            errors.append("measurement_event_id does not resolve to a visit")
        if set(meas["meas_event_field_concept_id"]) != {gen.VISIT_FIELD_CONCEPT}:
            errors.append("stage 2 left meas_event_field_concept_id unresolved")
        zero_gender = sum(c == 0 for c in t["person"]["gender_concept_id"])
        if zero_gender != m["gender_zero"]:
            errors.append(f"{zero_gender} unmapped genders, expected {m['gender_zero']}")
        concepts = meas["measurement_concept_id"]
        if sum(c == 0 for c in concepts) != m["measurement_zero"]:
            errors.append("unmapped measurement concepts differ from the Usagi CSV")
        if sum(c >= gen.CUSTOM_CONCEPT_BASE for c in concepts) != m["measurement_custom"]:
            errors.append("custom-concept measurements differ from the manifest")
        return errors

    def check_quality(self) -> list[str]:
        errors = []
        dqd = _table(self.wh, "dqd", "dqdashboard_results").to_pydict()
        self.dqd_checks = len(dqd["check_name"])
        failed = {n for n, f in zip(dqd["check_name"], dqd["failed"]) if f == 1}
        want = self.expected_failed_checks()
        if failed != want:
            errors.append(f"DQD failed checks differ from the manifest: "
                          f"unexpected {sorted(failed - want)[:5]}, "
                          f"missing {sorted(want - failed)[:5]}")
        if self.dqd_checks != self.expected_dqd_checks:
            errors.append(f"DQD ran {self.dqd_checks} checks, "
                          f"expected {self.expected_dqd_checks}")
        return errors

    def expected_failed_checks(self) -> set[str]:
        from rabbit_in_a_blender_spark.core.cdm54 import cdm54_registry

        # the ETL writes the upload tables, omop.concept (the custom
        # concepts) and the source_to_concept_map; every other CDM table
        # fails its cdmTable check
        written = set(gen.UPLOADS) | {"concept", "source_to_concept_map"}
        absent = {f"cdmTable_{t}" for t in cdm54_registry().tables if t not in written}
        # no vocabulary is loaded, so the source_to_concept_map rows of
        # standard concepts carry no target_vocabulary_id
        no_vocab = {"isRequired_source_to_concept_map_target_vocabulary_id"}
        return absent | no_vocab | gen.planted_failed_checks(self.rows)


class Stream:
    """Micro-batches through the DSIR sink: one long-running query over
    a file source, one file per trigger.  The loop is closed: each op
    drops its files in and waits until the query has processed them."""

    name = "stream_dsir_microbatch"
    one_op = False
    docs_per_batch = 60
    batches = 4             # micro-batches per timed op
    # untimed micro-batches before the first op: a fresh JVM's per-batch
    # latency and CPU fall steeply over about 16 batches (JIT), then slowly
    warmup_batches = 16
    buckets = 256

    def __init__(self, ctx):
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "stream")
        self.src = os.path.join(self.root, "in")
        self.query = None

    def setup(self) -> None:
        """Inputs are made as the stream is fed, one batch file each."""
        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.src)
        self.files = 0
        self.history: list[dict] = []
        self.seen = 0
        self.checked = False
        self.inputs = {"rows": 0, "bytes": 0}

    def _start(self, spark) -> None:
        from rabbit_in_a_blender_spark.ext.dsir import dsir_model_counts
        from rabbit_in_a_blender_spark.streaming.sink import stream_dsir_select

        target = spark.createDataFrame(gen.target_documents(), "doc_id long, text string")
        source = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", "1").parquet(self.src))
        self.query = stream_dsir_select(
            source, out_dir=f"{self.root}/out", model_dir=f"{self.root}/model",
            checkpoint_dir=f"{self.root}/ckpt",
            target_model=dsir_model_counts(target, "doc_id", "text",
                                           num_buckets=self.buckets),
            num_buckets=self.buckets).start()

    def _feed(self, n: int) -> list[dict]:
        """Drop ``n`` new batch files into the source, wait until the
        query has processed them, and return their progress records."""
        docs = gen.documents(self.ctx.seed * 1009 + self.files, n * self.docs_per_batch,
                             first_id=len(self.history))
        stage = os.path.join(self.root, "stage")
        shutil.rmtree(stage, ignore_errors=True)
        n_bytes = gen.write_stream_files(stage, docs, n, self.ctx.seed + self.files,
                                         first=self.files)
        for f in sorted(os.listdir(stage)):
            os.rename(os.path.join(stage, f), os.path.join(self.src, f))
        self.files += n
        self.history += docs
        self.inputs["rows"] += len(docs)
        self.inputs["bytes"] += n_bytes
        self.query.processAllAvailable()
        if self.query.exception() is not None:
            raise RuntimeError(f"stream failed: {self.query.exception()}")
        progress = self.query.recentProgress
        new = [p for p in progress[self.seen:] if p["numInputRows"] > 0]
        self.seen = len(progress)
        return new

    def warmup(self, spark) -> int:
        """Untimed micro-batches, fed in op-sized groups; returns how many."""
        self._start(spark)
        for _ in range(self.warmup_batches // self.batches):
            self._feed(self.batches)
        return self.warmup_batches

    def run_op(self, spark) -> list[dict]:
        pid, jvm = os.getpid(), self.ctx.jvm_pid
        cpu0 = proc_cpu_s(pid) + proc_cpu_s(jvm)
        progress = self._feed(self.batches)
        cpu = proc_cpu_s(pid) + proc_cpu_s(jvm) - cpu0
        errors = []
        if len(progress) != self.batches:
            errors.append(f"{len(progress)} micro-batches, expected {self.batches}")
        scored = pq.read_table(f"{self.root}/out").num_rows
        if scored != len(self.history):
            errors.append(f"{scored} documents scored, expected {len(self.history)}")
        if not self.checked and progress:
            # once per run, untimed: the last batch's at-arrival weights
            # equal a full dsir_weights over the history so far
            self.checked = True
            errors += self.check_incremental(spark, progress[-1]["batchId"])
        out = []
        for p in progress:
            ms = p["durationMs"]
            t0 = _epoch(p["timestamp"])
            out.append({
                "t0": t0, "t1": t0 + ms["triggerExecution"] / 1000.0,
                "wall_s": ms["triggerExecution"] / 1000.0,
                "cpu_s": cpu / len(progress), "items": p["numInputRows"],
                "errors": [],
                "stream_ms": {k: ms.get(k, 0) for k in
                              ("addBatch", "queryPlanning", "walCommit")},
            })
        if errors:
            out = out or [{"t0": 0, "t1": 0, "wall_s": 0.0, "cpu_s": cpu,
                           "items": 0, "stream_ms": {}}]
            out[-1]["errors"] = errors
        return out

    def check_incremental(self, spark, batch_id: int) -> list[str]:
        from rabbit_in_a_blender_spark.ext.dsir import dsir_weights

        hist = spark.createDataFrame(self.history, "doc_id long, text string")
        target = spark.createDataFrame(gen.target_documents(), "doc_id long, text string")
        want = {r["doc_id"]: r["logw_micro"] for r in
                dsir_weights(hist, target, "doc_id", "text",
                             num_buckets=self.buckets).collect()}
        got = pq.read_table(f"{self.root}/out/batch={batch_id}").to_pydict()
        bad = sum(want.get(i) != w for i, w in zip(got["doc_id"], got["logw_micro"]))
        if len(got["doc_id"]) != self.docs_per_batch or bad:
            return [f"batch {batch_id}: {bad} weights differ from dsir_weights "
                    f"over the history"]
        return []

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()


def _epoch(ts: str) -> float:
    """Streaming progress timestamps are ISO-8601 UTC with millis."""
    import datetime as dt

    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


WORKLOADS = {w.name: w for w in (Refresh, Stream)}
