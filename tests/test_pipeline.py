"""Pipeline-level golden test: mini CDM fixture through the full
two-stage flow, run twice — contents, id stability, dedup (SURVEY §5)."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from rabbit_in_a_blender_spark.core import observe
from rabbit_in_a_blender_spark.core.registry import ColumnSpec, SchemaRegistry, TableSpec
from rabbit_in_a_blender_spark.pipeline.etl import (
    IO_FIELDS,
    EtlError,
    EtlPipeline,
    TableInputs,
    cleanup,
)
from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

REGISTRY = SchemaRegistry(
    [
        TableSpec(
            name="person",
            columns=[
                ColumnSpec("person_id", "int64", required=True),
                ColumnSpec("gender_concept_id", "int64", required=True),
                ColumnSpec("name", "string"),
            ],
            pk="person_id",
            concept_cols=["gender_concept_id"],
        ),
        TableSpec(
            name="visit",
            columns=[
                ColumnSpec("visit_id", "int64", required=True),
                ColumnSpec("person_id", "int64", required=True),
                ColumnSpec("amount", "float64"),
            ],
            pk="visit_id",
            fks={"person_id": "person"},
        ),
        TableSpec(
            name="note",
            columns=[
                ColumnSpec("note_id", "int64", required=True),
                ColumnSpec("person_id", "int64", required=True),
            ],
            pk="note_id",
            fks={"person_id": "person"},
            event_cols={"note_event_id": "note_event_field_concept_id"},
        ),
    ]
)


def _usagi(spark):
    rows = [
        ("GENDER_M", "male", "APPROVED", 8507, "MALE", "Gender"),
        ("GENDER_F", "female", "APPROVED", 8532, "FEMALE", "Gender"),
        # one code mapped to TWO concepts → row fan-out (§2.J)
        ("GENDER_X", "other", "APPROVED", 1001, "X1", "Gender"),
        ("GENDER_X", "other", "SEMI-APPROVED", 1002, "X2", "Gender"),
        # unapproved mapping must be ignored
        ("GENDER_U", "unknown", "UNCHECKED", 9999, "U", "Gender"),
    ]
    return spark.createDataFrame(
        rows,
        "sourceCode string, sourceName string, mappingStatus string, "
        "conceptId long, conceptName string, domainId string",
    )


def _inputs(spark):
    person_upload = spark.createDataFrame(
        [
            ("PK_P1", "GENDER_M", "alice"),
            ("PK_P1", "GENDER_M", "alice"),  # in-table duplicate → dedup
            ("PK_P2", "GENDER_F", "bob"),
            ("PK_P3", "GENDER_X", "cleo"),  # fans out to 2 concepts → 2 PKs
            ("PK_P4", "GENDER_U", "dan"),  # unmapped → concept 0
        ],
        "person_id string, gender_concept_id__source string, name string",
    )
    visit_upload = spark.createDataFrame(
        [
            ("PK_V1", "PK_P1", 10.0),
            ("PK_V2", "PK_P2", 20.0),
            ("PK_V3", "PK_MISSING", 30.0),  # FK miss → 0 (required)
        ],
        "visit_id string, person_id string, amount double",
    )
    note_upload = spark.createDataFrame(
        [
            ("PK_N1", "PK_P1", "PK_V1", "visit"),
            ("PK_N2", "PK_P2", "PK_P2", "person"),
            ("PK_N3", "PK_P2", None, None),
        ],
        "note_id string, person_id string, note_event_id string, "
        "note_event_field_concept_id string",
    )
    return {
        "person": TableInputs(uploads=[person_upload], usagi={"gender_concept_id": _usagi(spark)}),
        "visit": TableInputs(uploads=[visit_upload]),
        "note": TableInputs(uploads=[note_upload]),
    }


@pytest.fixture()
def wh():
    d = tempfile.mkdtemp(prefix="riab_wh_")
    yield Warehouse(d)
    shutil.rmtree(d, ignore_errors=True)


def test_dependency_levels():
    assert REGISTRY.dependency_levels() == [["person"], ["note", "visit"]]


def test_full_pipeline_two_stage(spark, wh):
    pipe = EtlPipeline(spark, wh, REGISTRY)
    processed = pipe.run(_inputs(spark))
    assert processed == ["person", "note", "visit"] or processed == ["person", "visit", "note"]

    person = {r["name"]: r for r in wh.read(spark, "omop", "person").collect()}
    # dedup: alice once; fan-out: cleo twice with distinct PKs
    assert wh.read(spark, "omop", "person").count() == 5
    cleo_ids = [
        r["person_id"]
        for r in wh.read(spark, "omop", "person").filter(F.col("name") == "cleo").collect()
    ]
    assert len(cleo_ids) == 2 and len(set(cleo_ids)) == 2
    assert person["dan"]["gender_concept_id"] == 0

    visit = {r["visit_id"]: r for r in wh.read(spark, "omop", "visit").collect()}
    assert len(visit) == 3
    missing_fk = [r for r in visit.values() if r["amount"] == 30.0][0]
    assert missing_fk["person_id"] == 0  # required FK miss → 0

    # stage 2: polymorphic notes resolved to visit/person swapped ids
    note_rows = wh.read(spark, "omop", "note").collect()
    assert len(note_rows) == 3
    v1_id = [v["visit_id"] for v in visit.values() if v["amount"] == 10.0][0]
    bob_id = person["bob"]["person_id"]
    evs = sorted(r["note_event_id"] for r in note_rows)
    assert evs[0] == 0  # the NULL-event row defaults to 0
    assert v1_id in evs  # note N1 → visit V1's new PK
    assert bob_id in evs  # note N2 → person bob's new PK
    # stage 2 rewrites the discriminator to CDM field concept ids
    # (EVENT_TYPE_CONCEPT_IDS; 'person' → 1147026, toy 'visit' → 0)
    discs = {r["note_event_field_concept_id"] for r in note_rows}
    assert discs == {0, 1147026}


def test_rerun_is_stable(spark, wh):
    """Running the pipeline twice must not renumber any PK
    (SURVEY §7 known-hard #1)."""
    pipe = EtlPipeline(spark, wh, REGISTRY)
    pipe.run(_inputs(spark))
    first = {
        (r["name"], r["gender_concept_id"]): r["person_id"]
        for r in wh.read(spark, "omop", "person").collect()
    }
    pipe.run(_inputs(spark))
    second = {
        (r["name"], r["gender_concept_id"]): r["person_id"]
        for r in wh.read(spark, "omop", "person").collect()
    }
    assert first == second


def test_new_rows_get_new_ids_without_renumbering(spark, wh):
    pipe = EtlPipeline(spark, wh, REGISTRY)
    base = _inputs(spark)
    pipe.run({"person": base["person"]})
    first = {r["name"]: r["person_id"] for r in wh.read(spark, "omop", "person").collect()}

    extra = spark.createDataFrame(
        [("PK_P9", "GENDER_M", "zoe")],
        "person_id string, gender_concept_id__source string, name string",
    )
    inputs2 = {
        "person": TableInputs(
            uploads=base["person"].uploads + [extra],
            usagi=base["person"].usagi,
        )
    }
    pipe.run(inputs2)
    second = {r["name"]: r["person_id"] for r in wh.read(spark, "omop", "person").collect()}
    for name, pid in first.items():
        assert second[name] == pid
    assert second["zoe"] not in first.values()


def test_cleanup(spark, wh):
    pipe = EtlPipeline(spark, wh, REGISTRY)
    pipe.run(_inputs(spark))
    dropped = cleanup(wh, "person")
    assert "omop.person" in dropped and "work.person__pk_swap" in dropped
    assert not wh.exists("omop", "person")
    assert wh.exists("omop", "visit")
    # the table's id-map partition goes too (reference M3 cleanup)
    assert "work.source_id_to_omop_id_map/omop_table=person" in dropped
    assert not wh.exists("work", "source_id_to_omop_id_map/omop_table=person")
    assert wh.exists("work", "source_id_to_omop_id_map/omop_table=visit")


def test_load_dispositions(spark, wh):
    """A5: append adds, truncate replaces, write_empty only succeeds on
    an absent/empty target (reference gcp.py:197-240 semantics)."""
    a = spark.range(0, 5).select(F.col("id").alias("k"))
    b = spark.range(5, 8).select(F.col("id").alias("k"))
    wh.load(a, "work", "t", disposition="write_empty")
    assert wh.read(spark, "work", "t").count() == 5
    wh.load(b, "work", "t", disposition="append")
    assert wh.read(spark, "work", "t").count() == 8
    with pytest.raises(ValueError, match="WRITE_EMPTY"):
        wh.load(a, "work", "t", disposition="write_empty")
    assert wh.read(spark, "work", "t").count() == 8  # untouched on failure
    wh.load(b, "work", "t", disposition="truncate")
    assert wh.read(spark, "work", "t").count() == 3
    # write_empty over a zero-row table succeeds (BigQuery allows it)
    wh.write(a.filter(F.lit(False)), "work", "empty_t")
    wh.load(b, "work", "empty_t", disposition="write_empty")
    assert wh.read(spark, "work", "empty_t").count() == 3
    with pytest.raises(ValueError, match="unknown write disposition"):
        wh.load(a, "work", "t", disposition="merge")


def test_cleanup_walks_fk_dependency_levels(spark, wh):
    """With a registry, cleaning a table also cleans every table of
    LATER dependency levels (reference etl/cleanup.py:42-48: their rows
    carry FKs minted against the now-invalid swap); same-level siblings
    and earlier levels survive, and the global concept-id swap is kept
    (clear_auto_generated_custom_concept_ids=False default)."""
    pipe = EtlPipeline(spark, wh, REGISTRY)
    pipe.run(_inputs(spark))
    # visit and note are one FK level below person
    dropped = cleanup(wh, "person", spark=spark, registry=REGISTRY)
    assert "omop.person" in dropped
    assert "omop.visit" in dropped and "work.visit__pk_swap" in dropped
    assert not wh.exists("omop", "visit")
    assert not wh.exists(
        "work", "source_id_to_omop_id_map/omop_table=visit"
    )
    # cleaning a LEAF table leaves its parent alone
    pipe2 = EtlPipeline(spark, wh, REGISTRY)
    pipe2.run(_inputs(spark))
    dropped2 = cleanup(wh, "visit", spark=spark, registry=REGISTRY)
    assert "omop.visit" in dropped2 and "omop.person" not in dropped2
    assert wh.exists("omop", "person")


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Co-located join: same keys + same bucket count → zero exchanges."""
    from rabbit_in_a_blender_spark.operators.skew import explain_shuffle_count
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    orders = spark.range(0, 1000).select(
        F.col("id").alias("o_orderkey"), (F.col("id") % 7).alias("o_flag")
    )
    lines = spark.range(0, 4000).select(
        (F.col("id") % 1000).alias("l_orderkey"), F.col("id").alias("l_line")
    )
    wh.write_bucketed(orders, "work", "orders_b", ["o_orderkey"], buckets=4)
    wh.write_bucketed(lines, "work", "lineitem_b", ["l_orderkey"], buckets=4)

    o = wh.read_bucketed(spark, "work", "orders_b")
    li = wh.read_bucketed(spark, "work", "lineitem_b")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    old_aqe = spark.conf.get(
        "spark.sql.adaptive.autoBroadcastJoinThreshold", old
    )
    try:
        # force the non-broadcast plan: this is the big-big join shape
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        j = o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        assert explain_shuffle_count(j) == 0, j._jdf.queryExecution().executedPlan().toString()
        assert j.count() == 4000
        # control: the same join on plain (non-bucketed) reads shuffles
        o2 = orders
        l2 = lines
        j2 = o2.join(l2, F.col("o_orderkey") == F.col("l_orderkey"))
        assert explain_shuffle_count(j2) >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
        spark.sql("DROP TABLE IF EXISTS work.orders_b")
        spark.sql("DROP TABLE IF EXISTS work.lineitem_b")


def test_source_id_to_omop_id_map(spark, wh):
    """The consolidated audit map records every swap assignment and
    survives re-runs without renumbering; cleanup removes one table."""
    pipe = EtlPipeline(spark, wh, REGISTRY)
    pipe.run(_inputs(spark))
    m = wh.read(spark, "work", "source_id_to_omop_id_map")
    rows = {(r["source_id"], r["omop_table"]): r["omop_id"] for r in m.collect()}
    assert ("PK_P1", "person") in rows and ("PK_V1", "visit") in rows
    # fan-out key appears twice in the swap but once per (id, table) pair
    assert m.filter("omop_table = 'person'").count() >= 4

    before = dict(rows)
    pipe.run(_inputs(spark))  # re-run: ids must not change
    after = {
        (r["source_id"], r["omop_table"]): r["omop_id"]
        for r in wh.read(spark, "work", "source_id_to_omop_id_map").collect()
    }
    assert after == before
    # the map stores each swap row once (no DISTINCT needed: y is unique
    # per swap row, and the re-run continued above MAX(y))
    m = wh.read(spark, "work", "source_id_to_omop_id_map")
    for t in ("person", "visit", "note"):
        swap = wh.read(spark, "work", f"{t}__pk_swap")
        assert m.filter(F.col("omop_table") == t).count() == swap.count() > 0

    pipe.remove_id_map_entries("visit")
    left = wh.read(spark, "work", "source_id_to_omop_id_map")
    assert left.filter("omop_table = 'visit'").count() == 0
    assert left.filter("omop_table = 'person'").count() > 0


def test_custom_concepts_flow(spark, wh):
    """§3.1 step 4b: custom concepts get stable ids ≥ 2B, land in
    omop.concept, and patch unmapped usagi rows."""
    custom = spark.createDataFrame(
        [("nonbinary", "GENDER_NB", "Gender", "Custom", "Gender")],
        "concept_name string, concept_code string, domain_id string, "
        "vocabulary_id string, concept_class_id string",
    )
    usagi = _usagi(spark).unionByName(
        spark.createDataFrame(
            [("GENDER_NB", "nonbinary", "APPROVED", 0, "NB", "Gender")],
            "sourceCode string, sourceName string, mappingStatus string, "
            "conceptId long, conceptName string, domainId string",
        )
    )
    person_upload = spark.createDataFrame(
        [("PK_P1", "GENDER_M", "alice"), ("PK_P9", "GENDER_NB", "nyx")],
        "person_id string, gender_concept_id__source string, name string",
    )
    inputs = {
        "person": TableInputs(
            uploads=[person_upload],
            usagi={"gender_concept_id": usagi},
            custom_concepts={"gender_concept_id": custom},
        )
    }
    pipe = EtlPipeline(spark, wh, REGISTRY)
    pipe.run(inputs)

    concept = {r["concept_code"]: r for r in wh.read(spark, "omop", "concept").collect()}
    assert "GENDER_NB" in concept
    nb_id = concept["GENDER_NB"]["concept_id"]
    assert nb_id > 2_000_000_000

    person = {r["name"]: r for r in wh.read(spark, "omop", "person").collect()}
    assert person["nyx"]["gender_concept_id"] == nb_id
    assert person["alice"]["gender_concept_id"] == 8507

    pipe.run(inputs)  # re-run: id stable
    concept2 = {
        r["concept_code"]: r for r in wh.read(spark, "omop", "concept").collect()
    }
    assert concept2["GENDER_NB"]["concept_id"] == nb_id

    # single-table cleanup removes this table's custom concepts from
    # omop.concept and its mappings from source_to_concept_map
    # (reference cleanup by usagi/custom upload tables); a different
    # table's custom concept that reuses the same concept_code under
    # another vocabulary_id must NOT be collateral damage
    concept_df = wh.read(spark, "omop", "concept")
    decoy = spark.createDataFrame(
        [(2_000_000_999, "decoy nb", "Gender", "OtherVocab", "Gender",
          None, "GENDER_NB", None, None, None)],
        concept_df.schema,
    )
    wh.write(concept_df.unionByName(decoy), "omop", "concept")
    cleanup(wh, "person", spark=spark)
    if wh.exists("omop", "concept"):
        kept = {
            (r["concept_code"], r["vocabulary_id"])
            for r in wh.read(spark, "omop", "concept").collect()
        }
        assert ("GENDER_NB", "Custom") not in kept
        assert ("GENDER_NB", "OtherVocab") in kept
    assert wh.exists("omop", "source_to_concept_map")
    srcs = {
        r["source_code"]
        for r in wh.read(spark, "omop", "source_to_concept_map").collect()
    }
    assert "GENDER_M" not in srcs and "GENDER_NB" not in srcs


def test_custom_concepts_referential_validation(spark, wh):
    """J8: with a vocabulary loaded, custom concepts naming an unknown
    domain/vocabulary/class are fatal (etl/bigquery/etl.py:146-177)."""
    wh.write(
        spark.createDataFrame([("Gender",)], "domain_id string"), "omop", "domain"
    )
    wh.write(
        spark.createDataFrame([("Custom",)], "vocabulary_id string"),
        "omop",
        "vocabulary",
    )
    wh.write(
        spark.createDataFrame([("Gender",)], "concept_class_id string"),
        "omop",
        "concept_class",
    )
    custom = spark.createDataFrame(
        [("bad", "BAD_CODE", "NoSuchDomain", "Custom", "Gender")],
        "concept_name string, concept_code string, domain_id string, "
        "vocabulary_id string, concept_class_id string",
    )
    upload = spark.createDataFrame(
        [("PK_P1", "BAD_CODE", "x")],
        "person_id string, gender_concept_id__source string, name string",
    )
    pipe = EtlPipeline(spark, wh, REGISTRY)
    with pytest.raises(EtlError, match="unknown domain"):
        pipe.run_table(
            REGISTRY["person"],
            TableInputs(
                uploads=[upload],
                custom_concepts={"gender_concept_id": custom},
            ),
        )


def test_source_to_concept_map_merge_and_invalidation(spark, wh):
    """J10 + M1: approved mappings land in omop.source_to_concept_map;
    mappings absent from a later run are invalidated with 'D'."""
    pipe = EtlPipeline(spark, wh, REGISTRY)
    pipe.run(_inputs(spark), etl_start="2020-01-01")

    stcm = wh.read(spark, "omop", "source_to_concept_map")
    rows = {
        (r["source_code"], r["target_concept_id"]): r for r in stcm.collect()
    }
    assert ("GENDER_M", 8507) in rows and ("GENDER_F", 8532) in rows
    assert ("GENDER_U", 9999) not in rows  # UNCHECKED filtered out
    assert rows[("GENDER_M", 8507)]["invalid_reason"] is None

    # second run drops the GENDER_F mapping → its row goes stale
    inputs = _inputs(spark)
    usagi2 = _usagi(spark).filter("sourceCode <> 'GENDER_F'")
    inputs["person"] = TableInputs(
        uploads=inputs["person"].uploads, usagi={"gender_concept_id": usagi2}
    )
    pipe.run(inputs, etl_start="2020-02-01")

    rows2 = {
        (r["source_code"], r["target_concept_id"]): r
        for r in wh.read(spark, "omop", "source_to_concept_map").collect()
    }
    assert rows2[("GENDER_F", 8532)]["invalid_reason"] == "D"
    assert rows2[("GENDER_M", 8507)]["invalid_reason"] is None


def test_usagi_domain_check_raises(spark, wh):
    """J12: a mapping whose concept domain is outside the allowed set is
    fatal once omop.concept exists."""
    from rabbit_in_a_blender_spark.pipeline.etl import EtlError

    concept = spark.createDataFrame(
        [(8507, "MALE", "Gender", "Gender", "Gender", "S", "M")],
        "concept_id long, concept_name string, domain_id string, "
        "vocabulary_id string, concept_class_id string, "
        "standard_concept string, concept_code string",
    )
    wh.write(concept, "omop", "concept")
    pipe = EtlPipeline(spark, wh, REGISTRY)
    inputs = _inputs(spark)
    inputs["person"] = TableInputs(
        uploads=inputs["person"].uploads,
        usagi=inputs["person"].usagi,
        allowed_domains={"gender_concept_id": ["Drug"]},  # Gender not allowed
    )
    with pytest.raises(EtlError, match="outside domains"):
        pipe.run_table(REGISTRY["person"], inputs["person"])

    # allowed set including Gender passes
    inputs["person"].allowed_domains["gender_concept_id"] = ["Gender"]
    pipe.run_table(REGISTRY["person"], inputs["person"])


def test_run_records_step_metrics(spark, wh):
    pipe = EtlPipeline(spark, wh, REGISTRY)
    pipe.run(_inputs(spark))
    names = [n for n, _ in pipe.metrics]
    assert any(n.startswith("stage1:person") for n in names)
    assert any(n.startswith("stage2:note") for n in names)
    assert names[-2:] == ["invalidate_stale_mappings", "seal_transaction"]
    assert all(s >= 0 for _, s in pipe.metrics)
    # rows/bytes accounting (reference cost tally parity,
    # etl/bigquery/gcp.py:106-144): the person stage1 step writes the
    # omop table, so the status store must attribute output rows+bytes
    # to it; steps expose all six I/O fields.
    by_name = {m.name: m for m in pipe.metrics}
    p = by_name["stage1:person"]
    assert p.output_rows > 0 and p.output_bytes > 0
    for f in ("input_rows", "input_bytes", "output_rows", "output_bytes",
              "shuffle_read_bytes", "shuffle_write_bytes"):
        assert getattr(p, f) >= 0


def test_pool_thread_jobs_carry_their_step_group(spark, wh):
    """Prefetched uploads and bookkeeping writes run on pool threads;
    their jobs still carry the group of the step they work for, so no
    job of the run (and none of its I/O) is left out of the steps."""
    pipe = EtlPipeline(spark, wh, REGISTRY)
    since = observe.next_job_id(spark)
    pipe.run(_inputs(spark))
    jobs = observe.jobs(spark, since)
    assert jobs
    untagged = [j for j in jobs if not (j.group or "").startswith("riab:")]
    assert [(j.id, j.description) for j in untagged] == []
    for k in IO_FIELDS:
        in_steps = sum(getattr(m, k) for m in pipe.metrics)
        assert in_steps == sum(getattr(j, k) for j in jobs), k


def test_unreadable_status_store_leaves_io_at_zero(spark, wh, monkeypatch, caplog):
    import logging

    from py4j.protocol import Py4JError

    from rabbit_in_a_blender_spark.pipeline import etl

    def unreadable(*args, **kwargs):
        raise Py4JError("status store unavailable")

    monkeypatch.setattr(observe, "jobs", unreadable)
    registry = SchemaRegistry(
        [
            TableSpec(
                name="person",
                columns=[ColumnSpec("person_id", "int64", required=True)],
                pk="person_id",
            )
        ]
    )
    upload = spark.createDataFrame([("PK_1",), ("PK_2",)], "person_id string")
    pipe = EtlPipeline(spark, wh, registry)
    with caplog.at_level(logging.WARNING, logger=etl.__name__):
        assert pipe.run({"person": TableInputs(uploads=[upload])}) == ["person"]
    assert [
        r
        for r in caplog.records
        if r.levelno == logging.WARNING
        and "status-store I/O unavailable" in r.getMessage()
    ]
    assert wh.read(spark, "omop", "person").count() == 2
    assert pipe.metrics
    assert all(getattr(m, k) == 0 for m in pipe.metrics for k in IO_FIELDS)


@pytest.mark.parametrize("n_rows,collapsed", [(2, True), (3, False)])
def test_usagi_collapse_is_capped(spark, wh, monkeypatch, caplog, n_rows, collapsed):
    """The caller-supplied usagi frame becomes a driver-side local
    relation only up to USAGI_LOCAL_MAX_ROWS rows; over the cap it stays
    lazy and the pipeline logs a warning."""
    import logging

    from rabbit_in_a_blender_spark.pipeline import etl

    monkeypatch.setattr(etl, "USAGI_LOCAL_MAX_ROWS", 2)
    seen = []
    real_apply = etl.apply_usagi

    def spy(upload, usagi, *args, **kwargs):
        seen.append(usagi)
        return real_apply(upload, usagi, *args, **kwargs)

    monkeypatch.setattr(etl, "apply_usagi", spy)
    usagi = _usagi(spark).filter(
        F.col("sourceCode").isin(["GENDER_M", "GENDER_F", "GENDER_U"][:n_rows])
    )
    inputs = _inputs(spark)
    inputs["person"] = TableInputs(
        uploads=inputs["person"].uploads, usagi={"gender_concept_id": usagi}
    )
    with caplog.at_level(logging.WARNING, logger=etl.__name__):
        EtlPipeline(spark, wh, REGISTRY).run(inputs)
    assert len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert ("LocalTableScan" in plan) == collapsed, plan
    warned = [r for r in caplog.records if "kept lazy" in r.getMessage()]
    assert bool(warned) != collapsed
    person = {r["name"]: r["gender_concept_id"] for r in wh.read(spark, "omop", "person").collect()}
    assert person["alice"] == 8507 and person["bob"] == 8532


def test_bucketed_io_pipeline_matches_plain_and_is_stable(spark, wh):
    """bucketed_io=True (the cluster path) must produce exactly the same
    tables as the plain path, stay id-stable across re-runs, and give the
    pk-swap join co-partitioned inputs (no exchange on either side)."""
    from rabbit_in_a_blender_spark.mapping.swap import apply_pk_swap
    from rabbit_in_a_blender_spark.operators.skew import explain_shuffle_count

    plain = EtlPipeline(spark, wh, REGISTRY)
    plain.run(_inputs(spark))
    expected = {
        t: sorted(map(str, wh.read(spark, "omop", t).collect()))
        for t in ("person", "visit", "note")
    }

    d = tempfile.mkdtemp(prefix="riab_wh_bkt_")
    try:
        bwh = Warehouse(d)
        pipe = EtlPipeline(spark, bwh, REGISTRY, bucketed_io=True, buckets=4)
        pipe.run(_inputs(spark))
        for t, exp in expected.items():
            got = sorted(map(str, bwh.read(spark, "omop", t).collect()))
            assert got == exp, t

        # swap + upload live in the catalog, bucketed on the source key
        assert bwh.exists_bucketed(spark, "work", "person__pk_swap")
        assert bwh.exists_bucketed(spark, "work", "person__upload")

        # re-run: staged catalog replacement, ids must not renumber
        first = {
            (r["name"], r["gender_concept_id"]): r["person_id"]
            for r in bwh.read(spark, "omop", "person").collect()
        }
        pipe.run(_inputs(spark))
        second = {
            (r["name"], r["gender_concept_id"]): r["person_id"]
            for r in bwh.read(spark, "omop", "person").collect()
        }
        assert first == second

        # the signature plan property: pk-swap join without exchanges
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
        old_aqe = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", old)
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            up = bwh.read_bucketed(spark, "work", "person__upload").withColumnRenamed(
                "person_id", "x"
            )
            sw = bwh.read_bucketed(spark, "work", "person__pk_swap")
            j = apply_pk_swap(up, sw, key_col="x", concept_cols=["gender_concept_id"])
            assert explain_shuffle_count(j) == 0, (
                j._jdf.queryExecution().executedPlan().toString()
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
            spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_aqe)
    finally:
        for t in ("person__pk_swap", "person__upload", "visit__pk_swap",
                  "visit__upload", "note__pk_swap", "note__upload"):
            spark.sql(f"DROP TABLE IF EXISTS work.{t}")
        shutil.rmtree(d, ignore_errors=True)


def test_visit_detail_episode_cdm54(spark, wh):
    """CDM 5.4 visit_detail/episode/episode_event through the two-stage
    flow using the REAL registry specs (VERDICT r2 task 7): exercises the
    self-FK routing (preceding/parent_visit_detail_id → visit_detail,
    episode_parent_id → episode — reference merge.sql.jinja:96-112 special
    cases), the episode_event polymorphic discriminator
    (cdm_5.4_events.json "episode_event"), and the clustering keys wired
    by cdm54_registry()."""
    from rabbit_in_a_blender_spark.core.cdm54 import CLUSTERING_FIELDS, cdm54_registry

    cdm = cdm54_registry()
    vd_spec, ep_spec, ee_spec = cdm["visit_detail"], cdm["episode"], cdm["episode_event"]
    # clustering keys reach the specs from the BigQuery CLUSTER BY analog
    assert vd_spec.cluster_by == CLUSTERING_FIELDS["visit_detail"]
    assert ep_spec.cluster_by == CLUSTERING_FIELDS["episode"]
    # the event discriminator is identity (concept col) AND routing col
    assert ee_spec.event_cols == {"event_id": "episode_event_field_concept_id"}

    person = TableSpec(
        name="person",
        columns=[ColumnSpec("person_id", "int64", required=True)],
        pk="person_id",
    )
    visit_occurrence = TableSpec(
        name="visit_occurrence",
        columns=[
            ColumnSpec("visit_occurrence_id", "int64", required=True),
            ColumnSpec("person_id", "int64", required=True),
        ],
        pk="visit_occurrence_id",
        fks={"person_id": "person"},
    )
    registry = SchemaRegistry([person, visit_occurrence, vd_spec, ep_spec, ee_spec])
    levels = registry.dependency_levels()
    assert levels[0] == ["person"]  # self-FKs must not cycle the toposort

    person_upload = spark.createDataFrame([("PK_P1",), ("PK_P2",)], "person_id string")
    vo_upload = spark.createDataFrame(
        [("PK_V1", "PK_P1")], "visit_occurrence_id string, person_id string"
    )
    vd_upload = spark.createDataFrame(
        [
            ("PK_VDA", "PK_P1", "PK_V1", None, None),
            ("PK_VDB", "PK_P1", "PK_V1", "PK_VDA", "PK_VDA"),
            # required FK miss -> 0; optional self-FK miss -> NULL
            ("PK_VDC", "PK_P2", "PK_MISSING", None, "PK_GONE"),
        ],
        "visit_detail_id string, person_id string, visit_occurrence_id string, "
        "preceding_visit_detail_id string, parent_visit_detail_id string",
    )
    ep_upload = spark.createDataFrame(
        [("PK_E1", "PK_P1", None), ("PK_E2", "PK_P1", "PK_E1")],
        "episode_id string, person_id string, episode_parent_id string",
    )
    ee_upload = spark.createDataFrame(
        [
            ("PK_E1", "PK_VDA", "visit_detail"),
            ("PK_E2", "PK_P2", "person"),
        ],
        "episode_id string, event_id string, episode_event_field_concept_id string",
    )

    pipe = EtlPipeline(spark, wh, registry)
    processed = pipe.run(
        {
            "person": TableInputs(uploads=[person_upload]),
            "visit_occurrence": TableInputs(uploads=[vo_upload]),
            "visit_detail": TableInputs(uploads=[vd_upload]),
            "episode": TableInputs(uploads=[ep_upload]),
            "episode_event": TableInputs(uploads=[ee_upload]),
        }
    )
    assert set(processed) == {
        "person", "visit_occurrence", "visit_detail", "episode", "episode_event"
    }

    vd_rows = wh.read(spark, "omop", "visit_detail").collect()
    assert len(vd_rows) == 3
    by_pid = sorted(vd_rows, key=lambda r: r["visit_detail_id"])
    ids = [r["visit_detail_id"] for r in by_pid]
    assert len(set(ids)) == 3 and all(isinstance(i, int) for i in ids)
    # self-FK remap: exactly one row points at another row's NEW pk
    child = [r for r in vd_rows if r["parent_visit_detail_id"] is not None
             and r["parent_visit_detail_id"] in ids]
    assert len(child) == 1
    assert child[0]["preceding_visit_detail_id"] == child[0]["parent_visit_detail_id"]
    # required FK miss -> 0, optional self-FK miss -> NULL
    misses = [r for r in vd_rows if r["visit_occurrence_id"] == 0]
    assert len(misses) == 1 and misses[0]["parent_visit_detail_id"] is None
    resolved_vo = {r["visit_occurrence_id"] for r in vd_rows} - {0}
    vo_ids = {r["visit_occurrence_id"]
              for r in wh.read(spark, "omop", "visit_occurrence").collect()}
    assert resolved_vo == vo_ids

    ep_rows = wh.read(spark, "omop", "episode").collect()
    assert len(ep_rows) == 2
    ep_ids = {r["episode_id"] for r in ep_rows}
    linked = [r for r in ep_rows if r["episode_parent_id"] is not None]
    assert len(linked) == 1 and linked[0]["episode_parent_id"] in ep_ids
    root = [r for r in ep_rows if r["episode_parent_id"] is None][0]
    assert linked[0]["episode_parent_id"] == root["episode_id"]

    # stage 2: episode_event discriminator routed through visit_detail /
    # person swaps, then rewritten to CDM field concept ids
    ee_rows = wh.read(spark, "omop", "episode_event").collect()
    assert len(ee_rows) == 2
    by_disc = {r["episode_event_field_concept_id"]: r for r in ee_rows}
    assert set(by_disc) == {1147624, 1147026}  # visit_detail, person
    assert by_disc[1147624]["event_id"] in ids
    person_ids = {r["person_id"] for r in wh.read(spark, "omop", "person").collect()}
    assert by_disc[1147026]["event_id"] in person_ids
    assert {r["episode_id"] for r in ee_rows} == ep_ids


def test_skip_usagi_and_custom_concept_upload(spark, wh):
    """Reference -s/--skip-usagi-and-custom-concept-upload
    (cli.py:573-580, etl/etl.py:211): a second run whose inputs carry NO
    usagi CSVs reuses the work-zone usagi tables persisted by the first
    run — mappings, fan-out, and swapped ids all come out identical."""
    EtlPipeline(spark, wh, REGISTRY).run(_inputs(spark))
    first = {
        (r["name"], r["gender_concept_id"]): r["person_id"]
        for r in wh.read(spark, "omop", "person").collect()
    }
    stcm_before = sorted(
        (r["source_code"], r["target_concept_id"])
        for r in wh.read(spark, "omop", "source_to_concept_map").collect()
    )

    base = _inputs(spark)
    stripped = {
        "person": TableInputs(uploads=base["person"].uploads),  # no usagi
        "visit": base["visit"],
        "note": base["note"],
    }
    pipe2 = EtlPipeline(
        spark, wh, REGISTRY, skip_usagi_and_custom_concept_upload=True
    )
    pipe2.run(stripped)
    second = {
        (r["name"], r["gender_concept_id"]): r["person_id"]
        for r in wh.read(spark, "omop", "person").collect()
    }
    assert second == first
    # the STCM merge lives inside the skipped usagi step: no new rows
    stcm_after = sorted(
        (r["source_code"], r["target_concept_id"])
        for r in wh.read(spark, "omop", "source_to_concept_map").collect()
    )
    assert stcm_after == stcm_before

    # without the flag, the same stripped inputs zero every concept —
    # proving the skip path (not the inputs) carried the mappings
    EtlPipeline(spark, wh, REGISTRY).run(stripped)
    zeroed = {
        r["gender_concept_id"]
        for r in wh.read(spark, "omop", "person").collect()
    }
    assert zeroed == {0}


def test_skip_event_fks_step(spark, wh):
    """Reference -se/--skip-event-fks-step (bq etl.py:525): stage 2
    still promotes work → omop, but the event FK and its discriminator
    render as NULL (apply_event_columns.sql.jinja:33-45 empty-map arm)."""
    pipe = EtlPipeline(spark, wh, REGISTRY, skip_event_fks_step=True)
    pipe.run(_inputs(spark))
    note_rows = wh.read(spark, "omop", "note").collect()
    assert len(note_rows) == 3
    assert all(
        r["note_event_id"] is None and r["note_event_field_concept_id"] is None
        for r in note_rows
    )
    # non-event tables are untouched by the flag
    assert wh.read(spark, "omop", "person").count() == 5


def test_cleanup_clear_auto_generated_custom_concept_ids(spark, wh):
    """Reference --clear-auto-generated-custom-concept-ids
    (cleanup.py:98-100/146-148): default cleanup keeps the ≥2B concept
    id swap; the flag drops it so ids are re-minted."""
    custom = spark.createDataFrame(
        [("nonbinary", "GENDER_NB", "Gender", "Custom", "Gender")],
        "concept_name string, concept_code string, domain_id string, "
        "vocabulary_id string, concept_class_id string",
    )
    usagi = _usagi(spark).unionByName(
        spark.createDataFrame(
            [("GENDER_NB", "nonbinary", "APPROVED", 0, "NB", "Gender")],
            "sourceCode string, sourceName string, mappingStatus string, "
            "conceptId long, conceptName string, domainId string",
        )
    )
    inputs = {
        "person": TableInputs(
            uploads=_inputs(spark)["person"].uploads,
            usagi={"gender_concept_id": usagi},
            custom_concepts={"gender_concept_id": custom},
        )
    }
    EtlPipeline(spark, wh, REGISTRY).run(inputs)
    assert wh.exists("work", "concept_id__swap")
    cleanup(wh, spark=spark)
    assert wh.exists("work", "concept_id__swap")  # default: kept
    cleanup(wh, spark=spark, clear_auto_generated_custom_concept_ids=True)
    assert not wh.exists("work", "concept_id__swap")


def test_etl_pipeline_on_uri_warehouse(spark, tmp_path):
    """r13: the two-stage ETL runs end-to-end against a URI-rooted
    pointer-mode warehouse (file:// here; hdfs://s3a:// in production)
    — uploads, mapping, swap, dedup, final tables, and the cleanup walk
    all through the Hadoop FileSystem route."""
    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.core.registry import (
        ColumnSpec,
        SchemaRegistry,
        TableSpec,
    )
    from rabbit_in_a_blender_spark.pipeline.etl import (
        EtlPipeline,
        TableInputs,
        cleanup,
    )
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    registry = SchemaRegistry(
        [
            TableSpec(
                name="person",
                columns=[
                    ColumnSpec("person_id", "int64", required=True),
                    ColumnSpec("name", "string"),
                ],
                pk="person_id",
            ),
        ]
    )
    wh = Warehouse("file://" + str(tmp_path / "uri_etl_wh"))
    upload = spark.createDataFrame(
        [(f"PK_{i}", f"name{i}") for i in range(20)],
        "person_id string, name string",
    )
    pipe = EtlPipeline(spark, wh, registry)
    pipe.run({"person": TableInputs(uploads=[upload])})
    assert wh.exists("omop", "person")
    out = wh.read(spark, "omop", "person")
    assert out.count() == 20
    assert out.filter(F.col("person_id").isNull()).count() == 0
    # re-run is stable (atomic rebuild semantics on the pointer route)
    pipe.run({"person": TableInputs(uploads=[upload])})
    assert wh.read(spark, "omop", "person").count() == 20
    # cleanup walk drops the table + its work artifacts through the fs
    dropped = cleanup(wh, table="person", spark=spark, registry=registry)
    assert any("person" in d for d in dropped)
    assert not wh.exists("omop", "person")


def test_etl_pointer_mode_seals_a_transaction_per_run(spark, tmp_path):
    """r13: on a pointer-mode warehouse every ETL run ends with ONE
    manifest publish (pipeline/txn.py) recording all omop tables'
    versions — snapshot readers flip between runs atomically, and time
    travel re-reads the whole warehouse as of any retained run."""
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
                    ColumnSpec("name", "string"),
                ],
                pk="person_id",
            ),
        ]
    )
    wh = Warehouse(str(tmp_path / "seal_wh"))
    pipe = EtlPipeline(spark, wh, registry)

    def upload(n):
        return spark.createDataFrame(
            [(f"PK_{i}", f"name{i}") for i in range(n)],
            "person_id string, name string",
        )

    pipe.run({"person": TableInputs(uploads=[upload(20)])})
    assert wh.list_txns() == [1]
    assert "omop/person" in wh.snapshot()
    assert wh.read_snapshot(spark, "omop", "person").count() == 20
    assert any(name == "seal_transaction" for name, _ in pipe.metrics)

    pipe.run({"person": TableInputs(uploads=[upload(7)])})
    assert wh.list_txns() == [1, 2]
    assert wh.read_snapshot(spark, "omop", "person").count() == 7
    # the previous run's consistent view is still fully readable
    assert wh.read_snapshot(spark, "omop", "person", txn=1).count() == 20
    # and table-level retention can't prune a manifest-pinned run
    for i in range(4):
        wh.write(upload(i + 1), "omop", "person")
    assert wh.read_snapshot(spark, "omop", "person", txn=1).count() == 20
    assert wh.read_snapshot(spark, "omop", "person", txn=2).count() == 7


def test_etl_crash_mid_run_leaves_snapshot_consistent(spark, tmp_path, monkeypatch):
    """r13: a run that DIES between table writes (simulated by failing
    the seal-adjacent stage-2 step) leaves snapshot readers on the
    previous run's sealed view; txn_recover repoints the drifted
    tables and the next clean run seals normally."""
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
                    ColumnSpec("name", "string"),
                ],
                pk="person_id",
            ),
        ]
    )
    wh = Warehouse(str(tmp_path / "crash_wh"))
    pipe = EtlPipeline(spark, wh, registry)

    def upload(n):
        return spark.createDataFrame(
            [(f"PK_{i}", f"name{i}") for i in range(n)],
            "person_id string, name string",
        )

    pipe.run({"person": TableInputs(uploads=[upload(20)])})
    assert wh.read_snapshot(spark, "omop", "person").count() == 20

    # second run dies AFTER stage-1 wrote omop.person but BEFORE the
    # seal: live pointer moved, manifest did not
    boom = RuntimeError("simulated crash mid-run")

    def exploding(self, spec):
        raise boom

    monkeypatch.setattr(EtlPipeline, "run_stage2", exploding)
    with pytest.raises(RuntimeError, match="mid-run"):
        pipe.run({"person": TableInputs(uploads=[upload(5)])})
    monkeypatch.undo()
    assert wh.read(spark, "omop", "person").count() == 5  # drifted
    assert wh.read_snapshot(spark, "omop", "person").count() == 20
    assert wh.list_txns() == [1]
    # recovery heals the drift; the next clean run seals txn 2
    assert wh.txn_recover() == {"omop/person": 1}
    assert wh.read(spark, "omop", "person").count() == 20
    pipe.run({"person": TableInputs(uploads=[upload(9)])})
    assert wh.list_txns() == [1, 2]
    assert wh.read_snapshot(spark, "omop", "person").count() == 9
    assert wh.read_snapshot(spark, "omop", "person", txn=1).count() == 20


def test_cleanup_seals_manifest_drops_on_pointer_warehouse(spark, tmp_path):
    """r13: cleanup on a sealed warehouse commits a manifest-drop
    transaction, so the LIVE snapshot never names deleted tables
    (older manifests are best-effort after a physical drop — the
    reference's cleanup is a hard drop)."""
    from rabbit_in_a_blender_spark.core.registry import (
        ColumnSpec,
        SchemaRegistry,
        TableSpec,
    )
    from rabbit_in_a_blender_spark.pipeline.etl import (
        EtlPipeline,
        TableInputs,
        cleanup,
    )
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    registry = SchemaRegistry(
        [
            TableSpec(
                name="person",
                columns=[
                    ColumnSpec("person_id", "int64", required=True),
                    ColumnSpec("name", "string"),
                ],
                pk="person_id",
            ),
        ]
    )
    wh = Warehouse(str(tmp_path / "clean_wh"))
    pipe = EtlPipeline(spark, wh, registry)
    upload = spark.createDataFrame(
        [(f"PK_{i}", f"n{i}") for i in range(6)],
        "person_id string, name string",
    )
    pipe.run({"person": TableInputs(uploads=[upload])})
    assert "omop/person" in wh.snapshot()
    dropped = cleanup(wh, table="person", spark=spark, registry=registry)
    assert "_TXN[manifest drop sealed]" in dropped
    assert "omop/person" not in wh.snapshot()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not include"):
        wh.read_snapshot(spark, "omop", "person")
    # the next run re-creates and re-seals the table
    pipe.run({"person": TableInputs(uploads=[upload])})
    assert "omop/person" in wh.snapshot()
    assert wh.read_snapshot(spark, "omop", "person").count() == 6


@pytest.mark.parametrize(
    "status,semi,cap,raises",
    [
        ("APPROVED", True, None, True),
        ("APPROVED", False, None, True),
        ("SEMI-APPROVED", True, None, True),
        ("SEMI-APPROVED", False, None, False),
        # over the collapse cap the frame stays lazy: the Spark check
        ("APPROVED", True, 2, True),
        ("SEMI-APPROVED", False, 2, False),
    ],
)
def test_usagi_duplicate_mapping_is_fatal(
    spark, wh, monkeypatch, status, semi, cap, raises
):
    """A duplicated (sourceCode, conceptId) among the rows that will map
    is fatal (reference etl/bigquery/etl.py:282-297); SEMI-APPROVED rows
    map only with process_semi_approved_mappings."""
    from rabbit_in_a_blender_spark.pipeline import etl

    if cap is not None:
        monkeypatch.setattr(etl, "USAGI_LOCAL_MAX_ROWS", cap)
    dup = {
        "APPROVED": ("GENDER_M", "male", "APPROVED", 8507, "MALE", "Gender"),
        "SEMI-APPROVED": ("GENDER_X", "other", "SEMI-APPROVED", 1002, "X2", "Gender"),
    }[status]
    usagi = _usagi(spark).unionByName(spark.createDataFrame([dup], _usagi(spark).schema))
    inputs = _inputs(spark)["person"]
    inputs = TableInputs(uploads=inputs.uploads, usagi={"gender_concept_id": usagi})
    pipe = EtlPipeline(spark, wh, REGISTRY, process_semi_approved_mappings=semi)
    if raises:
        with pytest.raises(EtlError, match=f"duplicate usagi mappings.*{dup[0]}"):
            pipe.run_table(REGISTRY["person"], inputs)
        assert not wh.exists("omop", "person")
    else:
        pipe.run_table(REGISTRY["person"], inputs)
        assert wh.exists("omop", "person")


def test_duplicate_row_warning_counts_groups_once(spark, wh, caplog):
    """The duplicate-row warning (G1) comes from an Observation on the
    table's own write.  With cluster_by, the write's range partitioning
    runs a sampling job over the plan below it; the count must still be
    exactly the number of planted duplicate groups."""
    import logging

    from rabbit_in_a_blender_spark.pipeline import etl

    registry = SchemaRegistry(
        [
            TableSpec(
                name="person",
                columns=[
                    ColumnSpec("person_id", "int64", required=True),
                    ColumnSpec("name", "string"),
                ],
                pk="person_id",
                cluster_by=["person_id"],
            ),
        ]
    )
    k = 3
    rows = [(f"PK_{i:03d}", f"name{i}") for i in range(60)]
    # same pk, different payload: survives the upload DISTINCT and forms
    # one duplicate group at the final dedup
    rows += [(f"PK_{i:03d}", f"other{i}") for i in (5, 17, 42)[:k]]
    upload = spark.createDataFrame(rows, "person_id string, name string").repartition(4)
    with caplog.at_level(logging.WARNING, logger=etl.__name__):
        EtlPipeline(spark, wh, registry).run({"person": TableInputs(uploads=[upload])})
    warned = [r.getMessage() for r in caplog.records if "duplicate row group" in r.getMessage()]
    assert len(warned) == 1, warned
    assert warned[0].startswith(f"person: {k} duplicate row group(s) before merge"), warned
    assert wh.read(spark, "omop", "person").count() == 60

    # no duplicates → no warning
    caplog.clear()
    clean = spark.createDataFrame(rows[:60], "person_id string, name string")
    with caplog.at_level(logging.WARNING, logger=etl.__name__):
        EtlPipeline(spark, wh, registry).run({"person": TableInputs(uploads=[clean])})
    assert not [r for r in caplog.records if "duplicate row group" in r.getMessage()]


#: Spark jobs one pointer-mode run of ``_inputs`` may launch.  Recorded
#: when the source_to_concept_map merge became one write per run, the
#: usagi duplicate check moved onto the collected rows, the duplicate-row
#: warning onto the final write, and reads of version dirs this process
#: wrote stopped inferring their schema.
ETL_JOB_BUDGET = 53  # was 84 with one STCM merge per usagi column


def test_etl_job_budget_and_schema_memo(spark, tmp_path):
    """Job count is deterministic where wall time is not: pin it.  Every
    table the run writes reads back with the memoized schema, which
    must equal what parquet inference reports; an append into the live
    version dir forgets it."""
    import os

    from rabbit_in_a_blender_spark.core.commit import POINTER, resolve_pointer

    wh = Warehouse(str(tmp_path / "budget_wh"))
    pipe = EtlPipeline(spark, wh, REGISTRY, io_metrics=False)
    inputs = _inputs(spark)
    since = observe.next_job_id(spark)
    pipe.run(inputs)
    jobs = len(observe.jobs(spark, since))
    assert jobs <= ETL_JOB_BUDGET, jobs

    tables = sorted(
        os.path.relpath(d, wh.root)
        for d, _dirs, files in os.walk(wh.root)
        if POINTER in files and not os.path.basename(d).startswith("_")
    )
    zones = {t.split(os.sep, 1)[0] for t in tables}
    assert {"omop", "work"} <= zones, tables
    for t in tables:
        zone, name = t.split(os.sep, 1)
        vdir = resolve_pointer(wh.path(zone, name))
        assert vdir in wh._schemas, t
        inferred = spark.read.parquet(vdir).schema
        assert wh._schemas[vdir] == inferred, t
        assert wh.read(spark, zone, name).schema == inferred, t

    person = wh.read(spark, "omop", "person")
    vdir = resolve_pointer(wh.path("omop", "person"))
    wh.append(spark.createDataFrame(person.take(1), person.schema), "omop", "person")
    assert vdir not in wh._schemas
    assert wh.read(spark, "omop", "person").count() == 6
    assert vdir in wh._schemas


#: Spark tasks one pointer-mode run of ``_inputs`` may launch at the
#: engine's default 32 shuffle partitions.  Recorded when AQE began
#: sizing persisted plans: 85 on ``local[8]``, the suite's widest session
#: (local relations split into up to defaultParallelism slices, so
#: narrower sessions run fewer: 69 on ``local[4]``, where every read of a
#: cached frame running all 32 of its partitions made it 538).
ETL_TASK_BUDGET = 85


def test_etl_task_budget_at_production_partitions(production_partitions, tmp_path):
    """Task count is as deterministic as job count, and it shows what
    the suite's 4 shuffle partitions hide: 32-task reads of KB frames."""
    spark = production_partitions
    wh = Warehouse(str(tmp_path / "task_wh"))
    pipe = EtlPipeline(spark, wh, REGISTRY, io_metrics=False)
    inputs = _inputs(spark)
    since = observe.next_job_id(spark)
    pipe.run(inputs)
    jobs = observe.jobs(spark, since)
    tasks = sum(j.tasks for j in jobs)
    assert tasks <= ETL_TASK_BUDGET, tasks
    widest = max(jobs, key=lambda j: j.tasks)
    assert widest.tasks <= spark.sparkContext.defaultParallelism, widest


def test_source_to_concept_map_collisions_resolve_in_run_order(spark, wh):
    """Two tables of one level map the same (source code, concept): the
    run's one STCM merge keeps the row of the later table in run order
    (level, table, concept column), whichever thread finished first."""

    def spec(name):
        return TableSpec(
            name=name,
            columns=[
                ColumnSpec(f"{name}_id", "int64", required=True),
                ColumnSpec("kind_concept_id", "int64", required=True),
            ],
            pk=f"{name}_id",
            concept_cols=["kind_concept_id"],
        )

    registry = SchemaRegistry([spec("beta"), spec("alpha")])
    assert registry.dependency_levels() == [["alpha", "beta"]]

    def inputs(name):
        upload = spark.createDataFrame(
            [(f"{name}1", "K1")], f"{name}_id string, kind_concept_id__source string"
        )
        usagi = spark.createDataFrame(
            [("K1", f"from {name}", "APPROVED", 8507, "MALE", "Gender")],
            _usagi(spark).schema,
        )
        return TableInputs(uploads=[upload], usagi={"kind_concept_id": usagi})

    EtlPipeline(spark, wh, registry).run(
        {"alpha": inputs("alpha"), "beta": inputs("beta")}, max_parallel_tables=2
    )
    rows = wh.read(spark, "omop", "source_to_concept_map").collect()
    assert [(r["source_code"], r["source_code_description"]) for r in rows] == [
        ("K1", "from beta")
    ]
