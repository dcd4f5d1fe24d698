"""Two-stage ETL run loop (SURVEY §3.1) — the reference's
``riab --run-etl`` re-expressed as one Spark driver loop.

Per dependency level, per table:
  uploads (user queries) → DISTINCT union → usagi concept mapping →
  PK swap (stable ids) → FK remap through parent swaps → windowed dedup →
  atomic write to omop (or work when the table has event columns).
Stage 2: polymorphic event resolution for event-bearing tables, then
rebuild omop.

The reference parallelizes tables with thread pools
(etl/etl.py:161-175, max_parallel_tables).  Spark's DAG scheduler
parallelizes *within* a job, but separate tables are separate actions —
so ``run()`` also fans tables of one FK level out over driver threads
(jobs interleave on the scheduler; shared-table writes serialize on a
lock, mirroring the reference's global lock etl/etl.py:427-442).
"""

from __future__ import annotations

import logging
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

log = logging.getLogger(__name__)

from ..core.caching import local_frame
from ..core.registry import SchemaRegistry, TableSpec
from ..mapping.swap import apply_fk_swaps, apply_pk_swap, swap_merge
from ..mapping.usagi import apply_usagi, duplicate_mapping_rows, duplicate_mappings
from ..mapping.events import resolve_event_columns
# duplicate_groups stays a module attribute: perfbench/measure.py wraps
# pipeline.etl.duplicate_groups by name
from ..operators.aggregates import duplicate_groups  # noqa: F401
from ..operators.dedup import dedup_keep_first
from .warehouse import Warehouse, cluster_layout


#: Row cap for collapsing a usagi mapping frame onto the driver.  Usagi
#: tables are human-curated and dimension-sized by contract, but the
#: frame is caller-supplied: one that breaks the contract must not be
#: collected whole into driver memory, so over the cap it stays lazy.
USAGI_LOCAL_MAX_ROWS = 100_000


class EtlError(RuntimeError):
    pass


@dataclass
class StepMetric:
    """Per-step cost record: wall-clock plus the rows/bytes Spark's
    status store attributes to the step's jobs — the Spark analog of the
    reference's per-query bytes-billed tally
    (etl/bigquery/gcp.py:106-144, totals at exit etl_base.py:65-67)."""

    name: str
    seconds: float
    input_rows: int = 0
    input_bytes: int = 0
    output_rows: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0

    def __iter__(self):
        # (name, seconds) unpacking kept for existing consumers
        return iter((self.name, self.seconds))


@dataclass
class TableInputs:
    """Everything the user supplies for one OMOP-style table
    (the convention-folder contents — etl/etl.py:95-104)."""

    uploads: list[DataFrame] = field(default_factory=list)
    usagi: dict[str, DataFrame] = field(default_factory=dict)  # concept col → mappings
    # concept col → custom-concept frame (concept_name, concept_code,
    # domain_id, vocabulary_id, concept_class_id) — reference §3.1 step 4b
    custom_concepts: dict[str, DataFrame] = field(default_factory=dict)
    # concept col → allowed OMOP domains; checked against omop.concept
    # when present (J12: raises like etl/bigquery/etl.py:607-625)
    allowed_domains: dict[str, list[str]] = field(default_factory=dict)


class EtlPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: Warehouse,
        registry: SchemaRegistry,
        inline_checks: bool = True,
        bucketed_io: bool = False,
        buckets: int = 32,
        process_semi_approved_mappings: bool = True,
        io_metrics: bool = True,
        skip_usagi_and_custom_concept_upload: bool = False,
        skip_event_fks_step: bool = False,
    ):
        self.spark = spark
        self.wh = warehouse
        self.registry = registry
        # Reference --process-semi-approved-mappings (cli.py): whether
        # SEMI-APPROVED usagi rows map (the reference defaults to
        # APPROVED-only; this library defaults to True — documented in
        # COVERAGE.md; the CLI flag mirrors the reference default).
        self.semi = process_semi_approved_mappings
        # Reference --skip-usagi-and-custom-concept-upload (cli.py:573-580,
        # etl/etl.py:211): reuse the work-zone usagi/custom tables persisted
        # by a prior run instead of re-parsing the CSV inputs — the "no
        # mapping changes, just more data" speed boost.  Implies no STCM
        # merge and no duplicate/domain re-checks, exactly like the
        # reference (both live inside the skipped _apply_usagi_mapping).
        self.skip_upload = skip_usagi_and_custom_concept_upload
        # Reference --skip-event-fks-step (cli.py:561-566, bq etl.py:525):
        # stage 2 still promotes work → omop, but with an empty
        # event-tables map the apply template renders every event FK and
        # its discriminator as NULL.
        self.skip_event_fks = skip_event_fks_step
        # Cluster-scale path: materialized uploads and swap tables are
        # written bucketed on the source key, so the pk-swap join (the
        # one fact-fact join in the pipeline) reads two co-partitioned
        # scans and needs NO exchange (see Warehouse.write_bucketed and
        # the requireAllClusterKeysForCoPartition note in core.session).
        # Off by default: at test scale the catalog round-trips cost more
        # than the shuffle they remove; on a 1000-executor cluster the
        # shuffle is the bottleneck. Set buckets ~ 2-3x total cores.
        self.bucketed_io = bucketed_io
        self.buckets = buckets
        # Inline checks: the usagi concept checks cost extra joins per
        # mapped column, the duplicate-row warning an observed flag
        # column on the final write; SURVEY §7 rule 8: keep them behind
        # a flag so 100 TB runs can skip what the reference always pays.
        self.inline_checks = inline_checks
        # Per-step wall-clock + rows/bytes tally — the Spark analog of
        # the reference's per-query cost/time accounting
        # (etl/bigquery/gcp.py:106-144, totals at exit etl_base.py:65-67).
        # I/O numbers are attached after run() from Spark's status store
        # via per-step job groups (thread-local, so the level fan-out
        # attributes correctly).  ``io_metrics=False`` skips job-group
        # tagging and the post-run status-store read entirely (wall-clock
        # is still recorded) — benchmarks use it so the diagnostic tally
        # never taints the timed path (r4 bench adjudication).
        self.io_metrics = io_metrics
        self.metrics: list[StepMetric] = []
        # Shared-table writes (source_to_concept_map, concept swap,
        # omop.concept) must serialize when tables run concurrently —
        # the reference guards the same sections with a global lock
        # (etl/etl.py:427-442, 618-625).
        self._shared_lock = threading.Lock()
        # (run order, usagi frame) per mapped concept column: merged into
        # source_to_concept_map by ONE write per run (invalidate_stale_
        # mappings), not one read-merge-rewrite per column.
        self._stcm_queue: list[tuple[tuple[int, str, int], DataFrame]] = []

    @contextmanager
    def _step(self, name: str):
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        if self.io_metrics:
            try:
                # Thread-local job group: every Spark job this step
                # launches on THIS thread is attributed to it in the
                # status store.  (Jobs launched from prefetch pool
                # threads carry no group and land in the "untracked"
                # bucket — see _collect_io.)
                sc.setJobGroup(f"riab:{name}", name, False)
            except Exception:  # job-group tagging is best-effort
                pass
        try:
            yield
        finally:
            if self.io_metrics:
                try:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                except Exception:
                    pass
            self.metrics.append(StepMetric(name, round(time.perf_counter() - t0, 3)))

    def _next_job_id(self) -> int:
        """Highest job id the status store has seen + 1 (so a later
        _collect_io only attributes THIS run's jobs)."""
        try:
            store = self.spark.sparkContext._jsc.sc().statusStore()
            jobs = store.jobsList(None)
            mx = -1
            for i in range(jobs.size()):
                mx = max(mx, int(jobs.apply(i).jobId()))
            return mx + 1
        except Exception:
            return 0

    def _collect_io(self, min_job_id: int) -> dict[str, dict[str, int]]:
        """step name → summed stage I/O metrics from the status store.

        Py4J access to AppStatusStore (the store behind the UI/REST API;
        populated with spark.ui.enabled=false too).  Every failure
        degrades to 'no I/O numbers', never to a run failure.

        Known attribution ambiguity (acceptable for a best-effort
        diagnostic tally): a stage SHARED between jobs of different
        riab job groups — e.g. a shuffle stage skipped/reused by a
        later job — maps to whichever group's job the iteration sees
        last, so its I/O lands wholly in one arbitrary step rather
        than being split."""
        try:
            jsc = self.spark.sparkContext._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            jobs = store.jobsList(None)
            stage_group: dict[int, str] = {}
            for i in range(jobs.size()):
                j = jobs.apply(i)
                if int(j.jobId()) < min_job_id:
                    continue
                grp = j.jobGroup()
                if not grp.isDefined():
                    continue
                g = grp.get()
                if not g.startswith("riab:"):
                    continue
                sids = j.stageIds()
                for x in range(sids.size()):
                    stage_group[int(sids.apply(x))] = g[len("riab:"):]
            dflt = lambda n: getattr(store, f"stageList$default${n}")()
            stages = store.stageList(None, dflt(2), dflt(3), dflt(4), dflt(5))
            # last attempt per stage id (retries would double-count)
            latest: dict[int, object] = {}
            for i in range(stages.size()):
                s = stages.apply(i)
                sid = int(s.stageId())
                if sid not in latest or int(s.attemptId()) > int(
                    latest[sid].attemptId()
                ):
                    latest[sid] = s
            agg: dict[str, dict[str, int]] = {}
            for sid, s in latest.items():
                g = stage_group.get(sid)
                if g is None:
                    continue
                a = agg.setdefault(
                    g,
                    {
                        "input_rows": 0,
                        "input_bytes": 0,
                        "output_rows": 0,
                        "output_bytes": 0,
                        "shuffle_read_bytes": 0,
                        "shuffle_write_bytes": 0,
                    },
                )
                a["input_rows"] += int(s.inputRecords())
                a["input_bytes"] += int(s.inputBytes())
                a["output_rows"] += int(s.outputRecords())
                a["output_bytes"] += int(s.outputBytes())
                a["shuffle_read_bytes"] += int(s.shuffleReadBytes())
                a["shuffle_write_bytes"] += int(s.shuffleWriteBytes())
            return agg
        except Exception:
            log.debug("status-store I/O metrics unavailable", exc_info=True)
            return {}

    def _check_usagi_concepts(
        self,
        table: str,
        concept_col: str,
        usagi: DataFrame,
        allowed_domains: list[str] | None,
    ) -> None:
        """J1/J12 (bq:etl/..._usagi_non_standard.sql.jinja,
        ..._usagi_fk_domain_check.sql.jinja): warn on mappings to
        non-standard concepts; raise when a mapped concept's domain is
        outside the column's allowed set.  Both need omop.concept — a
        no-op until a vocabulary is loaded."""
        if not self.inline_checks:
            return
        # Read AND consume omop.concept under the shared lock: sibling
        # FK-level threads replace that table via rename+rmtree, and an
        # unlocked reader can list files that vanish mid-job.
        with self._shared_lock:
            if not self.wh.exists("omop", "concept"):
                return
            concept = self.wh.read(self.spark, "omop", "concept")
            cols = concept.columns
            statuses = (
                ["APPROVED", "SEMI-APPROVED"] if self.semi else ["APPROVED"]
            )
            approved = usagi.filter(F.col("mappingStatus").isin(statuses))
            if "standard_concept" in cols:
                lookup = concept.select(
                    F.col("concept_id").alias("__cid"),
                    F.col("standard_concept").alias("__std"),
                )
                non_std = (
                    approved.join(
                        lookup, approved["conceptId"] == F.col("__cid")
                    )
                    .filter(F.coalesce(F.col("__std"), F.lit("")) != "S")
                    .limit(100)
                    .collect()
                )
                if non_std:
                    log.warning(
                        "%s.%s: %d mapping(s) to non-standard concepts, e.g. %s",
                        table,
                        concept_col,
                        len(non_std),
                        [r["sourceCode"] for r in non_std[:5]],
                    )
            if allowed_domains and "domain_id" in cols:
                lookup = concept.select(
                    F.col("concept_id").alias("__cid"),
                    F.col("domain_id").alias("__dom"),
                )
                bad = (
                    approved.join(
                        lookup, approved["conceptId"] == F.col("__cid")
                    )
                    .filter(~F.col("__dom").isin(allowed_domains))
                    .limit(100)
                    .collect()
                )
                if bad:
                    raise EtlError(
                        f"{table}.{concept_col}: mappings outside domains "
                        f"{allowed_domains}: {[r['sourceCode'] for r in bad[:5]]}"
                    )

    # -- swap-table persistence ------------------------------------------
    def _swap_name(self, table: str) -> str:
        return f"{table}__pk_swap"

    def _load_swap(self, table: str) -> DataFrame | None:
        name = self._swap_name(table)
        if self.bucketed_io and self.wh.exists_bucketed(self.spark, "work", name):
            return self.wh.read_bucketed(self.spark, "work", name)
        if self.wh.exists("work", name):
            return self.wh.read(self.spark, "work", name)
        return None

    def _write_keyed(self, df: DataFrame, name: str, key: str | None) -> DataFrame:
        """Materialize a work table, bucketed on ``key`` in cluster mode."""
        if self.bucketed_io and key is not None:
            self.wh.write_bucketed(df, "work", name, [key], buckets=self.buckets)
            return self.wh.read_bucketed(self.spark, "work", name)
        self.wh.write(df, "work", name)
        return self.wh.read(self.spark, "work", name)

    # -- stage 1 ----------------------------------------------------------
    def _prepare_upload(
        self,
        spec: TableSpec,
        inputs: TableInputs,
        etl_start: str | None,
        pool: ThreadPoolExecutor | None = None,
    ):
        """Union+DISTINCT the uploads, run custom-concept/usagi mapping,
        and materialize the mapped upload in the work zone (the
        reference's work.{t}__upload__{q} tables, §3.1 step 4d).

        Materializing cuts the upload lineage (DISTINCT + usagi joins)
        from computing 3× (swap identities, pk apply, final write) to
        once.  Returns (upload_df, fatal_futures, bookkeeping_futures):
        fatal checks must settle before the final merge (reference raises
        pre-merge), bookkeeping (work-table writes) just needs awaiting
        before the run ends — they execute on ``pool`` threads so their
        Spark jobs overlap the main lineage, mirroring the reference's
        per-table worker pool (etl/etl.py:211-238,
        max_worker_threads_per_table).  Each mapped column's usagi frame
        is queued for the run's one source_to_concept_map write."""
        if not inputs.uploads:
            raise EtlError(f"{spec.name}: no upload queries")
        upload = inputs.uploads[0]
        for u in inputs.uploads[1:]:
            upload = upload.unionByName(u)
        upload = upload.distinct()

        # Custom concepts first: assign stable ids ≥ 2B, merge into the
        # omop.concept dimension, patch unmapped usagi rows (M2).
        usagi_patched = dict(inputs.usagi)
        fatal, bookkeeping = [], []

        def _later(futures, fn, *args):
            if pool is None:
                fn(*args)
            else:
                futures.append(pool.submit(fn, *args))
        if self.skip_upload:
            # Reference -s path (etl/etl.py:211): reuse the persisted
            # work.{t}__{col}__usagi tables from the previous run —
            # they already carry the custom-concept patches — and do
            # not touch omop.concept / STCM / the work uploads.
            for concept_col in spec.concept_cols:
                wt = f"{spec.name}__{concept_col}__usagi"
                if self.wh.exists("work", wt):
                    usagi_patched[concept_col] = self.wh.read(
                        self.spark, "work", wt
                    )
                else:
                    usagi_patched.pop(concept_col, None)
        for concept_col, custom in (
            {} if self.skip_upload else inputs.custom_concepts
        ).items():
            usagi_patched[concept_col] = self._process_custom_concepts(
                concept_col, custom, usagi_patched.get(concept_col)
            )
            # Persist the custom-concept upload (reference's
            # work.{t}__{col}_custom_concept tables): cleanup uses it to
            # remove this table's contributions from omop.concept.
            # mapping-table-sized by contract → single-file write;
            # coalesce(1) merges the slices without a shuffle.
            _later(
                bookkeeping,
                self.wh.write,
                custom.coalesce(1),
                "work",
                f"{spec.name}__{concept_col}__custom_concepts",
            )

        def _dup_check(concept_col, dups):
            # duplicate mappings are fatal like the reference
            # (etl/bigquery/etl.py:282-297)
            if dups:
                raise EtlError(
                    f"{spec.name}.{concept_col}: duplicate usagi mappings {dups}"
                )

        def _lazy_dup_check(concept_col, usagi):
            dups = duplicate_mappings(usagi, semi=self.semi).limit(5).collect()
            _dup_check(concept_col, dups)

        disc_cols = set(spec.event_cols.values())
        levels = self.registry.dependency_levels()
        level = next(
            (i for i, lvl in enumerate(levels) if spec.name in lvl), len(levels)
        )
        for col_idx, concept_col in enumerate(spec.concept_cols):
            # Event discriminators (episode_event_field_concept_id,
            # cost_type_concept_id) carry the target TABLE NAME string
            # until stage 2 rewrites them to field-concept ids
            # (cdm_5.4_events.json routing); zeroing or usagi-mapping
            # them here would break the polymorphic resolve.  They stay
            # in concept_cols so they remain part of the swap/dedup
            # identity key.
            if concept_col in disc_cols:
                continue
            usagi = usagi_patched.get(concept_col)
            if usagi is None:
                upload = upload.withColumn(concept_col, F.lit(0).cast("long"))
                continue
            # Collapse the mapping frame to a local relation ONCE: the
            # duplicate check runs on the collected rows, and four
            # consumers scan the relation below (concept check, STCM
            # merge, work-table write, the apply_usagi broadcast build).
            rows = usagi.limit(USAGI_LOCAL_MAX_ROWS + 1).collect()
            collapsed = len(rows) <= USAGI_LOCAL_MAX_ROWS
            if collapsed:
                usagi = local_frame(self.spark, rows, usagi.schema)
            else:
                log.warning(
                    "%s.%s: usagi mapping frame has more than %d rows; "
                    "kept lazy instead of collapsing it onto the driver",
                    spec.name, concept_col, USAGI_LOCAL_MAX_ROWS,
                )
            # checks, STCM merge and the work-table write all live inside
            # the reference's skipped _apply_usagi_mapping
            if not self.skip_upload:
                if collapsed:
                    _dup_check(
                        concept_col, duplicate_mapping_rows(rows, semi=self.semi)[:5]
                    )
                else:
                    _later(fatal, _lazy_dup_check, concept_col, usagi)
                _later(
                    fatal,
                    self._check_usagi_concepts,
                    spec.name,
                    concept_col,
                    usagi,
                    inputs.allowed_domains.get(concept_col),
                )
                self._stcm_queue.append(((level, spec.name, col_idx), usagi))
                # Persist the usagi upload (reference's work.{t}__{col}_usagi
                # tables): resumability/audit + per-table cleanup of the
                # source_to_concept_map.  Human-curated CSVs are
                # dimension-sized → single-file write (see custom concepts).
                _later(
                    bookkeeping,
                    self.wh.write,
                    usagi.coalesce(1),
                    "work",
                    f"{spec.name}__{concept_col}__usagi",
                )
            upload = apply_usagi(
                upload,
                usagi,
                source_col=f"{concept_col}__source",
                out_col=concept_col,
                semi=self.semi,
            )

        upload = self._write_keyed(upload, f"{spec.name}__upload", spec.pk)
        return upload, fatal, bookkeeping

    def run_table(
        self,
        spec: TableSpec,
        inputs: TableInputs,
        etl_start: str | None = None,
        pool: ThreadPoolExecutor | None = None,
        prepared=None,
    ) -> DataFrame:
        own_pool = pool is None
        if own_pool:
            pool = ThreadPoolExecutor(max_workers=4)
        try:
            if prepared is not None:
                upload, fatal, bookkeeping = prepared
            else:
                upload, fatal, bookkeeping = self._prepare_upload(
                    spec, inputs, etl_start, pool
                )

            # PK swap: persist-or-extend, then replace prequel keys (§2.J).
            own_swap: DataFrame | None = None
            if spec.pk:
                event_cols = list(spec.event_cols)
                prior = self._load_swap(spec.name)
                swap = swap_merge(
                    prior,
                    upload.select(
                        F.col(spec.pk).alias("x"),
                        *spec.concept_cols,
                        *event_cols,
                    ),
                    key_col="x",
                    concept_cols=spec.concept_cols,
                    event_cols=event_cols,
                )
                if self.bucketed_io or prior is not None:
                    # cluster path: read back the bucketed table so the
                    # pk-swap join sees co-partitioned scans (no exchange).
                    # Re-run path: the swap lineage scans the PRIOR swap
                    # parquet, which the write below replaces — write
                    # first, read back, so consumers see the new files.
                    swap = self._write_keyed(swap, self._swap_name(spec.name), "x")
                else:
                    # first-run plain path: the swap lineage is pinned by
                    # the persist inside assign_ids (and reads no prior
                    # files), so the parquet write, the id-map write and
                    # the pk join can all consume it CONCURRENTLY (three
                    # driver threads, one shared cached frame) — the
                    # swap/bookkeeping writes overlap the final merge
                    # instead of serializing before it.
                    bookkeeping.append(
                        pool.submit(
                            self._write_keyed, swap, self._swap_name(spec.name), "x"
                        )
                    )
                own_swap = swap
                bookkeeping.append(pool.submit(self._record_id_map, spec.name, swap))
                upload = apply_pk_swap(
                    upload.withColumnRenamed(spec.pk, "x"),
                    swap,
                    key_col="x",
                    concept_cols=spec.concept_cols,
                    event_cols=event_cols,
                ).withColumnRenamed("x", spec.pk)

            # FK remap through parent swaps (J3); required FKs default to 0.
            # Self-FKs (preceding/parent_visit_detail_id, episode_parent_id
            # — reference special routing, merge.sql.jinja:96-112) resolve
            # against the swap just computed IN MEMORY: on the plain
            # first-run path its parquet write is still in flight on a
            # pool thread, so a _load_swap read-back would race it.
            fk_swaps, required = {}, {}
            for fk_col, parent in spec.fks.items():
                parent_swap = (
                    own_swap if parent == spec.name else self._load_swap(parent)
                )
                if parent_swap is not None:
                    fk_swaps[fk_col] = parent_swap.select("x", "y")
                    required[fk_col] = any(
                        c.name == fk_col and c.required for c in spec.columns
                    )
            if fk_swaps:
                upload = apply_fk_swaps(upload, fk_swaps, required)

            # Final windowed dedup (W3): one row per (pk, concepts, events).
            # The reference's duplicate-row warning (G1,
            # bq:etl/{omop_work_table}_merge_check_for_duplicate_rows:3-63)
            # is logging-only: a flag on each kept row whose group had a
            # second row, counted by an Observation on the final write.
            flag = "__dup" if spec.pk and self.inline_checks else None
            if spec.pk:
                keys = [spec.pk, *spec.concept_cols, *spec.event_cols]
                upload = dedup_keep_first(upload, keys, dup_flag=flag)

            # Fatal checks settle BEFORE the final merge (reference order);
            # bookkeeping settles before returning.
            for f in fatal:
                f.result()
            zone = "work" if spec.event_cols else "omop"
            # the layout goes BELOW the observation: cluster_by's range
            # sampling job re-runs everything under it
            out = cluster_layout(upload, spec.cluster_by)
            if flag:
                dups = Observation()
                out = out.observe(
                    dups,
                    F.count_if(F.col(flag)).alias("groups"),
                    F.min(F.when(F.col(flag), F.struct(*keys))).alias("example"),
                ).drop(flag)
                upload = upload.drop(flag)
            self.wh.write(out, zone, spec.name)
            seen = dups.get if flag else {}
            if seen.get("groups"):
                log.warning(
                    "%s: %d duplicate row group(s) before merge, e.g. %s",
                    spec.name,
                    seen["groups"],
                    seen["example"],
                )
            for f in bookkeeping:
                f.result()
            if own_pool:
                self._merge_source_to_concept_map(etl_start, invalidate=False)
            return upload
        finally:
            if own_pool:
                pool.shutdown(wait=True)

    ID_MAP = "source_id_to_omop_id_map"
    CONCEPT_SWAP = "concept_id__swap"

    def _process_custom_concepts(
        self,
        concept_col: str,
        custom: DataFrame,
        usagi: DataFrame | None,
    ) -> DataFrame | None:
        """Reference §3.1 step 4b: validate → assign ids ≥ 2B via the
        persistent concept-id swap → upsert into omop.concept → patch
        usagi rows whose conceptId is NULL/0 (M2:
        bq:etl/..._usagi_update_custom_concepts.sql.jinja)."""
        from ..mapping.custom_concepts import (
            assign_custom_concept_ids,
            duplicate_concept_codes,
            validate_custom_concepts,
        )
        from ..operators.joins import merge_upsert

        dups = duplicate_concept_codes(custom).limit(5).collect()
        if dups:
            raise EtlError(f"{concept_col}: duplicate custom concept codes {dups}")

        # Referential validation (J8) against the vocabulary tables when a
        # vocabulary is loaded — fatal, like etl/bigquery/etl.py:146-177.
        with self._shared_lock:
            if all(
                self.wh.exists("omop", t)
                for t in ("domain", "vocabulary", "concept_class")
            ):
                bad = validate_custom_concepts(
                    custom,
                    self.wh.read(self.spark, "omop", "domain"),
                    self.wh.read(self.spark, "omop", "vocabulary"),
                    self.wh.read(self.spark, "omop", "concept_class"),
                ).collect()
                if bad:
                    raise EtlError(
                        f"{concept_col}: custom concepts with unknown domain/"
                        f"vocabulary/class: "
                        f"{[r['concept_code'] for r in bad[:5]]}"
                    )

        prefix = f"{concept_col}__"
        self._shared_lock.acquire()
        swap = None
        if self.wh.exists("work", self.CONCEPT_SWAP):
            swap = self.wh.read(self.spark, "work", self.CONCEPT_SWAP)
        swap = assign_custom_concept_ids(swap, custom, key_prefix=prefix)
        self.wh.write(swap, "work", self.CONCEPT_SWAP)
        swap = self.wh.read(self.spark, "work", self.CONCEPT_SWAP)

        ids = swap.select(
            F.col("y").alias("concept_id"),
            F.col("x").alias("__key"),
        )
        concept_rows = (
            custom.withColumn("__key", F.concat(F.lit(prefix), F.col("concept_code")))
            .join(F.broadcast(ids), "__key")
            .drop("__key")
            .select(
                "concept_id",
                "concept_name",
                "domain_id",
                "vocabulary_id",
                "concept_class_id",
                F.lit(None).cast("string").alias("standard_concept"),
                "concept_code",
                # Full 10-column CDM concept schema with the reference's
                # defaults (CONCEPT_merge.sql.jinja carries all 10): a
                # 7-column source would crash merge_upsert's
                # select(*target.columns) once a vocabulary is loaded.
                F.lit("1970-01-01").cast("date").alias("valid_start_date"),
                F.lit("2099-12-31").cast("date").alias("valid_end_date"),
                F.lit(None).cast("string").alias("invalid_reason"),
            )
        )
        try:
            if self.wh.exists("omop", "concept"):
                target = self.wh.read(self.spark, "omop", "concept")
                concept_rows = merge_upsert(target, concept_rows, ["concept_id"])
            self.wh.write(concept_rows, "omop", "concept")
        finally:
            self._shared_lock.release()

        if usagi is None:
            return None
        code_ids = (
            custom.select(
                F.concat(F.lit(prefix), F.col("concept_code")).alias("__key"),
                F.col("concept_code").alias("__code"),
            )
            .join(F.broadcast(ids), "__key")
            .select("__code", "concept_id")
            .distinct()
        )
        patched = usagi.join(
            F.broadcast(code_ids), usagi["sourceCode"] == F.col("__code"), "left"
        )
        fill = (
            (F.col("conceptId").isNull() | (F.col("conceptId") == 0))
            & F.col("concept_id").isNotNull()
            & F.col("mappingStatus").isin("APPROVED", "SEMI-APPROVED")
        )
        return patched.withColumn(
            "conceptId",
            F.when(fill, F.col("concept_id")).otherwise(F.col("conceptId")),
        ).drop("__code", "concept_id")

    def _record_id_map(self, table: str, swap: DataFrame) -> None:
        """Consolidated source-key → OMOP-id audit table (J10:
        bq:etl/SOURCE_ID_TO_OMOP_ID_MAP_merge.sql.jinja:3-22).

        Stored PARTITIONED by omop_table (one directory per table):
        recording table T atomically replaces only partition T — a MERGE
        keyed on (source_id, omop_table) would rewrite the whole
        fact-sized map once per table (O(tables × map) at 100 TB).
        Readers get `omop_table` back via partition discovery, and
        per-table lineage lookups prune to one directory.

        No DISTINCT: ``y`` is unique per swap row — ``assign_ids``
        numbers distinct identities, and re-runs continue above MAX(y) —
        so the (x, y) pairs are already distinct."""
        rows = swap.select(
            F.col("x").cast("string").alias("source_id"),
            F.col("y").cast("long").alias("omop_id"),
        )
        self.wh.write(rows, "work", f"{self.ID_MAP}/omop_table={table}")

    def remove_id_map_entries(self, table: str) -> None:
        """M3 (bq:cleanup/SOURCE_ID_TO_OMOP_ID_MAP_remove_ids_by_omop_table):
        delete one table's rows from the audit map — a partition drop."""
        self.wh.drop("work", f"{self.ID_MAP}/omop_table={table}")

    STCM = "source_to_concept_map"

    def _stcm_rows(self, usagis: list[DataFrame], start) -> DataFrame:
        """The frames' approved mappings as source_to_concept_map rows.
        A key that several frames carry keeps the rows of the LAST frame
        — what one merge_upsert per frame in that order would leave
        (their equi-join never matches a NULL key, so NULL-keyed rows of
        every frame survive).

        Deviation noted: the reference INNER JOINs omop.concept to fetch
        target_vocabulary_id (dropping mappings to unknown concepts); we
        LEFT JOIN so the map stays useful without a vocabulary load —
        unknown targets carry a NULL vocabulary and the fkDomain/isForeignKey
        checks flag them instead."""
        statuses = ["APPROVED", "SEMI-APPROVED"] if self.semi else ["APPROVED"]
        rows = reduce(
            DataFrame.unionByName,
            [
                u.filter(F.col("mappingStatus").isin(statuses)).select(
                    "sourceCode",
                    "sourceName",
                    F.col("conceptId").cast("long").alias("conceptId"),
                    F.lit(i).alias("__ord"),
                )
                for i, u in enumerate(usagis)
            ],
        )
        last = F.max("__ord").over(Window.partitionBy("sourceCode", "conceptId"))
        rows = rows.withColumn("__last", last).filter(
            F.col("sourceCode").isNull()
            | F.col("conceptId").isNull()
            | (F.col("__ord") == F.col("__last"))
        )
        if self.wh.exists("omop", "concept"):
            vocab = self.wh.read(self.spark, "omop", "concept").select(
                F.col("concept_id").alias("__cid"),
                F.col("vocabulary_id").alias("__voc"),
            )
            rows = rows.join(vocab, rows["conceptId"] == F.col("__cid"), "left")
        else:
            rows = rows.withColumn("__voc", F.lit(None).cast("string"))
        return rows.select(
            F.col("sourceCode").alias("source_code"),
            F.lit(0).cast("long").alias("source_concept_id"),
            F.lit("").alias("source_vocabulary_id"),
            F.col("sourceName").alias("source_code_description"),
            F.col("conceptId").alias("target_concept_id"),
            F.col("__voc").alias("target_vocabulary_id"),
            start.alias("valid_start_date"),
            F.lit("2099-12-31").cast("date").alias("valid_end_date"),
            F.lit(None).cast("string").alias("invalid_reason"),
            "__ord",
        ).distinct().drop("__ord")

    def _merge_source_to_concept_map(
        self, etl_start: str | None, invalidate: bool
    ) -> None:
        """J10 (bq:etl/SOURCE_TO_CONCEPT_MAP_merge.sql.jinja:3-33) for
        every queued usagi frame, in run order (level, table, concept
        column), as ONE write: approved mappings are merged into
        omop.source_to_concept_map, refreshing valid_start_date so
        re-confirmed mappings survive invalidation; with ``invalidate``
        the same write also applies M1 (see
        :meth:`invalidate_stale_mappings`)."""
        from ..operators.joins import merge_upsert

        queued = [u for _, u in sorted(self._stcm_queue, key=lambda q: q[0])]
        self._stcm_queue = []
        start = F.lit(etl_start).cast("date") if etl_start else F.current_date()
        # Both shared-table reads (omop.concept for the vocab lookup, the
        # STCM target) and the write that consumes them stay inside one
        # lock scope — sibling threads atomically replace these tables.
        with self._shared_lock:
            exists = self.wh.exists("omop", self.STCM)
            if not queued and not (invalidate and exists):
                return
            rows = self._stcm_rows(queued, start) if queued else None
            if exists:
                target = self.wh.read(self.spark, "omop", self.STCM)
                rows = (
                    target
                    if rows is None
                    else merge_upsert(target, rows, ["source_code", "target_concept_id"])
                )
            if invalidate:
                rows = rows.withColumn(
                    "invalid_reason",
                    F.when(F.col("valid_start_date") < start, F.lit("D")).otherwise(
                        F.col("invalid_reason")
                    ),
                )
            self.wh.write(rows, "omop", self.STCM)

    def invalidate_stale_mappings(self, etl_start: str | None = None) -> None:
        """M1 (bq:etl/SOURCE_TO_CONCEPT_MAP_update_invalid_reason.sql.jinja):
        mappings not re-confirmed this run (valid_start_date < etl_start)
        get invalid_reason='D' — written together with the run's queued
        source_to_concept_map merge."""
        self._merge_source_to_concept_map(etl_start, invalidate=True)

    # -- stage 2 ----------------------------------------------------------
    def run_stage2(self, spec: TableSpec) -> DataFrame | None:
        """Resolve polymorphic event columns and promote work → omop."""
        if not spec.event_cols:
            return None
        df = self.wh.read(self.spark, "work", spec.name)
        if self.skip_event_fks:
            # Reference --skip-event-fks-step: the promote still happens
            # but with an empty event-tables map, so the apply template
            # renders the event FK and its discriminator as NULL
            # (bq etl.py:525 + apply_event_columns.sql.jinja:33-45).
            resolved = df
            for event_col, disc_col in spec.event_cols.items():
                resolved = resolved.withColumn(
                    event_col, F.lit(None).cast("long")
                ).withColumn(disc_col, F.lit(None).cast("long"))
        else:
            resolved = resolve_event_columns(df, spec.event_cols, self._load_swap)
        self.wh.write(resolved, "omop", spec.name, cluster_by=spec.cluster_by)
        return resolved

    # -- full run ---------------------------------------------------------
    def run(
        self,
        inputs: dict[str, TableInputs],
        etl_start: str | None = None,
        max_parallel_tables: int = 4,
    ) -> list[str]:
        """Run all tables in FK-dependency order (tables within a level
        concurrently, like the reference's ``max_parallel_tables``), then
        stage 2, then invalidate mappings not re-confirmed this run
        (§3.1 step 6).

        Returns the ordered list of tables processed.
        """
        processed: list[str] = []
        prefetched: dict[str, object] = {}
        # the STCM merge records THIS run's mappings only
        self._stcm_queue = []
        first_metric = len(self.metrics)
        min_job_id = self._next_job_id() if self.io_metrics else 0

        with ThreadPoolExecutor(max(4, 2 * max_parallel_tables)) as pool:

            def _one(table: str) -> str:
                with self._step(f"stage1:{table}"):
                    prep = prefetched.pop(table, None)
                    self.run_table(
                        self.registry[table],
                        inputs[table],
                        etl_start,
                        pool=pool,
                        prepared=prep.result() if prep is not None else None,
                    )
                return table

            levels = [
                [t for t in level if t in inputs]
                for level in self.registry.dependency_levels()
            ]
            for i, todo in enumerate(levels):
                if not todo:
                    continue
                # Pipeline the level barrier: the NEXT level's upload
                # preparation (union+DISTINCT+usagi join+work write) only
                # needs mapping inputs, not parent swaps — prefetch it on
                # pool threads while this level runs, so the level
                # boundary only serializes the swap/FK-dependent stages.
                for nxt in levels[i + 1] if i + 1 < len(levels) else []:
                    prefetched[nxt] = pool.submit(
                        self._prepare_upload,
                        self.registry[nxt],
                        inputs[nxt],
                        etl_start,
                        pool,
                    )
                if max_parallel_tables > 1 and len(todo) > 1:
                    # Tables within a level are FK-independent; run them
                    # concurrently like the reference's table thread pool
                    # (etl/etl.py:161-175, max_parallel_tables).  Spark
                    # jobs from driver threads interleave on the
                    # scheduler; shared writes serialize on _shared_lock.
                    with ThreadPoolExecutor(max_parallel_tables) as tpool:
                        processed.extend(tpool.map(_one, todo))
                else:
                    processed.extend(_one(t) for t in todo)
        for table in processed:
            with self._step(f"stage2:{table}"):
                self.run_stage2(self.registry[table])
        with self._step("invalidate_stale_mappings"):
            self.invalidate_stale_mappings(etl_start)
        if self.wh.commit_mode == "pointer":
            # seal the run: ONE manifest publish records every omop
            # table's just-written version (pipeline/txn.py), so
            # snapshot readers flip from all-of-last-run to
            # all-of-this-run atomically — a crash anywhere above
            # leaves them on the previous run's consistent view
            with self._step("seal_transaction"):
                from ..core.commit import is_pointer_table

                txn = self.wh.begin()
                for t in self.wh.list_tables("omop"):
                    # rename-mode leftovers from a mixed-mode history
                    # have no version dirs to pin — skip them
                    if is_pointer_table(self.wh.path("omop", t)):
                        txn.include("omop", t)
                txn.commit()
        # Attach rows/bytes from the status store to this run's steps
        # (jobs from prefetch pool threads carry no group; their I/O is
        # not attributed to a step — by design, they overlap steps).
        io = self._collect_io(min_job_id) if self.io_metrics else {}
        for m in self.metrics[first_metric:]:
            for k, v in io.get(m.name, {}).items():
                setattr(m, k, v)
        total = round(sum(s for _, s in self.metrics), 3)
        log.info("ETL run: %.3fs total; steps: %s", total, self.metrics)
        return processed


def cleanup(
    warehouse: Warehouse,
    table: str | None = None,
    spark: SparkSession | None = None,
    registry: SchemaRegistry | None = None,
    clear_auto_generated_custom_concept_ids: bool = False,
) -> list[str]:
    """Reference ``--cleanup``: drop work/omop artifacts for one table
    (or everything), including its swap so ids restart
    (etl/cleanup.py:26-172).  Single-table cleanup additionally:

    - with ``registry``, walks the FK dependency graph the way the
      reference does (etl/cleanup.py:42-48: pop dependency levels up to
      and including the target's, then clean the target plus every
      table of every LATER level — their rows carry FKs minted against
      the target's now-invalid swap; same-level siblings survive);
    - drops each cleaned table's partition of the id-map audit table
      (SOURCE_ID_TO_OMOP_ID_MAP_remove_ids_by_omop_table, M3);
    - with ``spark``, removes each cleaned table's custom concepts from
      omop.concept (CONCEPT_remove_custom_concepts_by_..., J6/B8) and
      its mappings from source_to_concept_map
      (SOURCE_TO_CONCEPT_MAP_remove_concepts_by_..., J11) — driven by
      the persisted per-table usagi/custom upload work tables, exactly
      like the reference walks its upload tables.

    The global custom-concept id swap (``concept_id__swap``) is kept,
    mirroring the reference's ``clear_auto_generated_custom_concept_ids
    =False`` default (etl/cleanup.py:98-100): re-uploaded custom
    concepts keep their assigned ids across a cleanup.
    """
    targets: list[str] | None = None
    if table is not None:
        targets = [table]
        if registry is not None:
            levels = list(registry.dependency_levels())
            for i, level in enumerate(levels):
                if table in level:
                    targets += [
                        t for lvl in levels[i + 1 :] for t in lvl
                    ]
                    break
    return _cleanup_tables(
        warehouse,
        targets,
        spark,
        clear_concept_swap=clear_auto_generated_custom_concept_ids,
    )


def _cleanup_tables(
    warehouse: Warehouse,
    targets: list[str] | None,
    spark: SparkSession | None,
    clear_concept_swap: bool = False,
) -> list[str]:
    from ..operators.joins import merge_delete

    dropped = []
    for table in targets if (targets and spark is not None) else []:
        # vocabulary-side removal BEFORE dropping the bookkeeping tables
        # that identify this table's contributions
        prefix = f"{table}__"
        for wt in warehouse.list_tables("work"):
            if not wt.startswith(prefix):
                continue
            if wt.endswith("__custom_concepts") and warehouse.exists(
                "omop", "concept"
            ):
                # match on (concept_code, vocabulary_id), not code alone:
                # another table's custom concept may legitimately reuse
                # the same code under a different vocabulary_id and must
                # survive this table's cleanup
                codes = (
                    warehouse.read(spark, "work", wt)
                    .select(
                        F.col("concept_code").alias("__code"),
                        F.col("vocabulary_id").alias("__vocab"),
                    )
                    .distinct()
                )
                concept = warehouse.read(spark, "omop", "concept")
                keep = concept.join(
                    codes,
                    (concept["concept_code"] == codes["__code"])
                    & (concept["vocabulary_id"] == codes["__vocab"])
                    & (concept["concept_id"] >= 2_000_000_000),
                    "left_anti",
                )
                warehouse.write(keep, "omop", "concept")
                dropped.append(f"omop.concept[custom:{wt}]")
            if wt.endswith("__usagi") and warehouse.exists(
                "omop", EtlPipeline.STCM
            ):
                srcs = (
                    warehouse.read(spark, "work", wt)
                    .select(F.col("sourceCode").alias("source_code"))
                    .distinct()
                )
                stcm = warehouse.read(spark, "omop", EtlPipeline.STCM)
                warehouse.write(
                    merge_delete(stcm, srcs, ["source_code"]),
                    "omop",
                    EtlPipeline.STCM,
                )
                dropped.append(f"omop.{EtlPipeline.STCM}[{wt}]")
    for zone in ("work", "omop"):
        for t in warehouse.list_tables(zone):
            if (
                zone == "work"
                and t == EtlPipeline.CONCEPT_SWAP
                and not clear_concept_swap
            ):
                # kept by default (reference
                # clear_auto_generated_custom_concept_ids=False,
                # etl/cleanup.py:98-100/146-148): re-uploaded custom
                # concepts keep their ≥2B ids; the
                # --clear-auto-generated-custom-concept-ids flag drops
                # the swap so ids are re-minted from 2B
                continue
            if targets is None or any(
                t == table or t.startswith(f"{table}__") for table in targets
            ):
                warehouse.drop(zone, t)
                dropped.append(f"{zone}.{t}")
    for table in targets or []:
        part = f"{EtlPipeline.ID_MAP}/omop_table={table}"
        # through the warehouse's fs adapter, so the cleanup walk works
        # on URI-rooted (object-store) warehouses too (r13)
        if warehouse._fs().isdir(warehouse.path("work", part)):
            warehouse.drop("work", part)
            dropped.append(f"work.{part}")
    # on a sealed (transactional) warehouse, dropping the files alone
    # would leave the live manifest naming deleted version dirs —
    # snapshot readers of the cleaned tables would dangle.  Seal the
    # drops as one transaction so the manifest flips consistently.
    if warehouse.commit_mode == "pointer":
        gone = {
            key.split(".", 1)[1]
            for key in dropped
            if key.startswith("omop.")
        }
        if gone:
            manifest = warehouse.snapshot() if warehouse.list_txns() else {}
            named = {k.split("/", 1)[1] for k in manifest}
            if gone & named:
                txn = warehouse.begin()
                for t in gone & named:
                    txn.drop("omop", t)
                txn.commit()
                dropped.append("_TXN[manifest drop sealed]")
    return dropped
