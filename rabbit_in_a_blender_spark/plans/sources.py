"""Source-ingest queries: the A1/A2/M4 operators driven end-to-end.

The driver testdata is parquet-only, so the CSV/TSV scan and
truncate-refill operators (SURVEY §2.A A1/A2, M4) were previously
pytest-covered only.  This query closes that gap: it GENERATES an
Athena-style vocabulary TSV deterministically from the nation table,
ingests it through ``read_tsv_vocab`` (tab separator, explicit schema,
``yyyyMMdd`` date coercion — reference import_vocabularies.py:179-184),
truncate-refills a warehouse table twice (stale subset first, then the
full refill, proving replace-not-append semantics — reference
cleanup/load flow), and returns the final table.  The DuckDB oracle
recomputes the identical rows from nation with pure SQL, so the hash
proves the whole write→scan→coerce→refill path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..core.io import load_tables
from ..pipeline.warehouse import Warehouse
from ..sources.readers import read_tsv_vocab
from .catalog import register

_VOCAB_SCHEMA = T.StructType(
    [
        T.StructField("concept_id", T.LongType()),
        T.StructField("concept_code", T.StringType()),
        T.StructField("concept_name", T.StringType()),
        T.StructField("valid_start_date", T.DateType()),
        T.StructField("valid_end_date", T.DateType()),
    ]
)


@register(
    "tsv_vocab_ingest",
    oracle="""
    SELECT n_nationkey AS concept_id,
           'C' || CAST(n_nationkey AS VARCHAR) AS concept_code,
           n_name AS concept_name,
           strftime(DATE '1970-01-01'
                    + CAST(n_nationkey * 100 AS INTEGER), '%Y-%m-%d')
             AS valid_start_date,
           strftime(DATE '1970-01-01'
                    + CAST(n_nationkey * 150 + 1000 AS INTEGER), '%Y-%m-%d')
             AS valid_end_date
    FROM nation
    """,
)
def tsv_vocab_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/M4 end-to-end: nation → Athena-style TSV (yyyyMMdd dates) →
    ``read_tsv_vocab`` → stale write + truncate-refill → final table."""
    nation = load_tables(spark, sf_dir, "nation")["nation"]
    epoch = F.lit("1970-01-01").cast("date")
    vocab = nation.select(
        F.col("n_nationkey").alias("concept_id"),
        F.concat(F.lit("C"), F.col("n_nationkey").cast("string")).alias(
            "concept_code"
        ),
        F.col("n_name").alias("concept_name"),
        F.date_add(epoch, (F.col("n_nationkey") * 100).cast("int")).alias(
            "valid_start_date"
        ),
        F.date_add(
            epoch, (F.col("n_nationkey") * 150 + 1000).cast("int")
        ).alias("valid_end_date"),
    )

    # 1. Write the Athena-style export: tab-separated, dates as yyyyMMdd
    #    strings.  (Left on disk under the system tmp dir — the returned
    #    plan reads the warehouse parquet lazily, so inputs must outlive
    #    this function.)
    root = tempfile.mkdtemp(prefix="riab_tsv_ingest_")
    tsv_dir = os.path.join(root, "CONCEPT.csv")
    vocab.select(
        "concept_id",
        "concept_code",
        "concept_name",
        F.date_format("valid_start_date", "yyyyMMdd").alias("valid_start_date"),
        F.date_format("valid_end_date", "yyyyMMdd").alias("valid_end_date"),
    ).repartition(1).write.option("sep", "\t").csv(
        tsv_dir, header=True, mode="overwrite"
    )

    # 2. Ingest through the A2 reader: explicit schema, yyyyMMdd coercion.
    ingested = read_tsv_vocab(spark, tsv_dir, _VOCAB_SCHEMA)

    # 3. M4 truncate-refill: seed the target with a stale subset, then
    #    refill with the full ingest; the final read must show ONLY the
    #    refilled rows (replace, not append).
    wh = Warehouse(os.path.join(root, "wh"))
    wh.write(ingested.filter(F.col("concept_id") < 5), "omop", "concept_stage")
    wh.write(ingested, "omop", "concept_stage")

    out = wh.read(spark, "omop", "concept_stage")
    return out.select(
        "concept_id",
        "concept_code",
        "concept_name",
        F.date_format("valid_start_date", "yyyy-MM-dd").alias(
            "valid_start_date"
        ),
        F.date_format("valid_end_date", "yyyy-MM-dd").alias("valid_end_date"),
    )


@register(
    "wh_catalog_listing",
    oracle="""
    SELECT 'work' AS zone,
           'upload__' || lower(replace(r_name, ' ', '_')) AS table_name,
           CAST((SELECT COUNT(*) FROM nation n
                 WHERE n.n_regionkey = r.r_regionkey) AS BIGINT) AS n_rows
    FROM region r
    UNION ALL
    SELECT 'omop', 'nation_all', CAST(COUNT(*) AS BIGINT) FROM nation
    """,
)
def wh_catalog_listing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 catalog listing under the oracle: stage one work table per
    region (bulk append semantics, A5) plus an omop table, then return
    ``Warehouse.list_tables`` per zone with each table's row count —
    the reference's dataset/table listing (etl_base.py table
    enumeration) as a verifiable query."""
    t = load_tables(spark, sf_dir, "nation", "region")
    nation, region = t["nation"], t["region"]
    root = tempfile.mkdtemp(prefix="riab_catalog_")
    wh = Warehouse(root)
    regions = sorted(
        (r["r_regionkey"], r["r_name"]) for r in region.collect()
    )
    for rkey, rname in regions:
        wh.write(
            nation.filter(F.col("n_regionkey") == rkey),
            "work",
            f"upload__{rname.lower().replace(' ', '_')}",
        )
    wh.write(nation, "omop", "nation_all")
    rows = []
    for zone in ("work", "omop"):
        for name in wh.list_tables(zone):
            rows.append(
                (zone, name, wh.read(spark, zone, name).count())
            )
    return spark.createDataFrame(
        rows, "zone string, table_name string, n_rows long"
    )


@register(
    "g7_preload_sort",
    oracle="""
    SELECT true AS files_sorted,
           CAST(0 AS BIGINT) AS overlapping_file_pairs,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(n_nationkey) AS BIGINT) AS min_id,
           CAST(MAX(n_nationkey) AS BIGINT) AS max_id
    FROM nation
    """,
)
def g7_preload_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 pre-load sort under the oracle: write the vocabulary CSV in
    DESCENDING id order, run ``import_vocabulary_dir`` (which sorts by
    the id column before load — reference import_vocabularies.py:
    156-158), then PROVE the physical layout: every parquet file of the
    loaded table is internally sorted (checked per (input_file_name,
    spark_partition_id) split via read-order lag) and (file, split)
    id-ranges are pairwise disjoint.  The
    oracle states the expected invariant (true / 0 overlaps / row
    bounds from nation); the Spark side computes it from the actual
    files, so a missing or broken pre-load sort hash-mismatches."""
    from pyspark.sql import Window

    from ..sources.readers import import_vocabulary_dir

    nation = load_tables(spark, sf_dir, "nation")["nation"]
    epoch = F.lit("1970-01-01").cast("date")
    vocab = nation.select(
        F.col("n_nationkey").alias("concept_id"),
        F.concat(F.lit("C"), F.col("n_nationkey").cast("string")).alias(
            "concept_code"
        ),
        F.col("n_name").alias("concept_name"),
        F.date_format(
            F.date_add(epoch, (F.col("n_nationkey") * 100).cast("int")),
            "yyyyMMdd",
        ).alias("valid_start_date"),
        F.date_format(
            F.date_add(epoch, (F.col("n_nationkey") * 150 + 1000).cast("int")),
            "yyyyMMdd",
        ).alias("valid_end_date"),
    )
    root = tempfile.mkdtemp(prefix="riab_g7_")
    # deliberately mis-sorted source: DESC by id, single CSV.  The
    # importer expects a plain Athena-style FILE, so lift the single
    # part file out of Spark's output directory.
    import shutil

    outdir = os.path.join(root, "_csv_out")
    vocab.orderBy(F.desc("concept_id")).coalesce(1).write.option(
        "sep", "\t"
    ).csv(outdir, header=True, mode="overwrite")
    part = next(
        p for p in sorted(os.listdir(outdir)) if p.startswith("part-")
    )
    shutil.move(
        os.path.join(outdir, part), os.path.join(root, "CONCEPT.csv")
    )
    wh = Warehouse(os.path.join(root, "wh"))
    import_vocabulary_dir(
        spark, wh, root, {"concept": _VOCAB_SCHEMA}
    )
    # Proof granularity is (file, read-partition): monotonically_
    # increasing_id only reflects physical row order WITHIN one read
    # partition, and a file large enough to be read as several splits
    # would interleave ids across split boundaries (ADVICE r4) — so
    # sortedness is checked per split and the disjointness join runs
    # over every (file, split) range pair, which together still prove
    # a global pre-load sort.
    loaded = wh.read(spark, "omop", "concept").select(
        "concept_id",
        F.input_file_name().alias("__f"),
        F.spark_partition_id().alias("__pid"),
        F.monotonically_increasing_id().alias("__mid"),
    )
    w = Window.partitionBy("__f", "__pid").orderBy("__mid")
    flags = loaded.withColumn(
        "__ok",
        F.coalesce(
            F.col("concept_id") >= F.lag("concept_id").over(w), F.lit(True)
        ),
    )
    per_file = flags.groupBy("__f", "__pid").agg(
        F.min("__ok").alias("file_sorted"),
        F.min("concept_id").alias("lo"),
        F.max("concept_id").alias("hi"),
        F.count(F.lit(1)).alias("cnt"),
    )
    a, b = per_file.alias("a"), per_file.alias("b")
    overlaps = (
        a.join(
            b,
            (
                (F.col("a.__f") < F.col("b.__f"))
                | (
                    (F.col("a.__f") == F.col("b.__f"))
                    & (F.col("a.__pid") < F.col("b.__pid"))
                )
            )
            & (F.col("a.lo") <= F.col("b.hi"))
            & (F.col("b.lo") <= F.col("a.hi")),
        )
        .count()
    )
    summary = per_file.agg(
        F.min("file_sorted").alias("files_sorted"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.min("lo").cast("long").alias("min_id"),
        F.max("hi").cast("long").alias("max_id"),
    )
    return summary.select(
        "files_sorted",
        F.lit(int(overlaps)).cast("long").alias("overlapping_file_pairs"),
        "n_rows",
        "min_id",
        "max_id",
    )


@register(
    "wh_cleanup_walk",
    oracle="""
    SELECT 'omop' AS zone, 'concept' AS table_name,
           CAST(0 AS BIGINT) AS n_rows
    UNION ALL
    SELECT 'omop', 'site',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    UNION ALL
    SELECT 'omop', 'source_to_concept_map', CAST(0 AS BIGINT)
    UNION ALL
    SELECT 'work', 'concept_id__swap', CAST(2 AS BIGINT)
    UNION ALL
    SELECT 'work', 'site__pk_swap',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    UNION ALL
    SELECT 'work', 'site__upload',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    UNION ALL
    SELECT 'work', 'source_id_to_omop_id_map',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    """,
)
def wh_cleanup_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 TRUNCATE/DELETE/DROP under the oracle: run the real two-stage
    pipeline over a three-level FK chain (site ← person ← visit, with
    usagi mappings AND custom concepts on person), then
    ``cleanup(table='person', registry=...)`` — the reference's
    dependency-walking delete (etl/cleanup.py:26-172): person AND the
    later-level visit fall; the earlier-level site survives; person's
    custom concepts leave omop.concept, its usagi codes leave
    source_to_concept_map, its id-map partitions drop, and the global
    concept-id swap is KEPT (clear_auto_generated_custom_concept_ids
    =False default, etl/cleanup.py:98-100).  Returns the post-cleanup
    catalog listing with row counts; the DuckDB oracle states the
    survivor set independently, so a cleanup that under- or
    over-deletes hash-mismatches."""
    from ..core.registry import ColumnSpec, SchemaRegistry, TableSpec
    from ..pipeline.etl import EtlPipeline, TableInputs, cleanup

    registry = SchemaRegistry(
        [
            TableSpec(
                name="site",
                columns=[
                    ColumnSpec("site_id", "int64", required=True),
                    ColumnSpec("name", "string"),
                ],
                pk="site_id",
            ),
            TableSpec(
                name="person",
                columns=[
                    ColumnSpec("person_id", "int64", required=True),
                    ColumnSpec("segment_concept_id", "int64", required=True),
                    ColumnSpec("site_id", "int64", required=True),
                    ColumnSpec("name", "string"),
                ],
                pk="person_id",
                concept_cols=["segment_concept_id"],
                fks={"site_id": "site"},
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
        ]
    )
    t = load_tables(spark, sf_dir, "nation", "customer", "orders")
    n, c, o = t["nation"], t["customer"], t["orders"]
    site_upload = n.select(
        F.concat(F.lit("PK_"), F.col("n_nationkey").cast("string")).alias(
            "site_id"
        ),
        F.col("n_name").alias("name"),
    )
    person_upload = c.select(
        F.concat(F.lit("PK_"), F.col("c_custkey").cast("string")).alias(
            "person_id"
        ),
        F.col("c_mktsegment").alias("segment_concept_id__source"),
        F.concat(F.lit("PK_"), F.col("c_nationkey").cast("string")).alias(
            "site_id"
        ),
        F.col("c_name").alias("name"),
    )
    visit_upload = o.select(
        F.concat(F.lit("PK_"), F.col("o_orderkey").cast("string")).alias(
            "visit_id"
        ),
        F.concat(F.lit("PK_"), F.col("o_custkey").cast("string")).alias(
            "person_id"
        ),
        F.col("o_totalprice").alias("amount"),
    )
    usagi = spark.createDataFrame(
        [
            ("AUTOMOBILE", "automobile", "APPROVED", 9001, "AUTO", "Segment"),
            ("BUILDING", "building", "APPROVED", 9002, "BUILD", "Segment"),
            ("FURNITURE", "furniture", "APPROVED", 9003, "FURN", "Segment"),
            ("HOUSEHOLD", "household", "APPROVED", 9004, "HOUSE", "Segment"),
            # unmapped on upload; patched from the custom concept (M2)
            ("MACHINERY", "machinery", "APPROVED", 0, "MACH", "Segment"),
        ],
        "sourceCode string, sourceName string, mappingStatus string, "
        "conceptId long, conceptName string, domainId string",
    )
    custom = spark.createDataFrame(
        [
            ("Machinery segment", "MACHINERY", "Segment", "RIAB", "Custom"),
            ("Spare segment", "SPARE", "Segment", "RIAB", "Custom"),
        ],
        "concept_name string, concept_code string, domain_id string, "
        "vocabulary_id string, concept_class_id string",
    )
    whdir = tempfile.mkdtemp(prefix="wh_cleanup_walk_")
    wh = Warehouse(whdir)
    pipe = EtlPipeline(spark, wh, registry)
    pipe.run(
        {
            "site": TableInputs(uploads=[site_upload]),
            "person": TableInputs(
                uploads=[person_upload],
                usagi={"segment_concept_id": usagi},
                custom_concepts={"segment_concept_id": custom},
            ),
            "visit": TableInputs(uploads=[visit_upload]),
        }
    )
    cleanup(wh, "person", spark=spark, registry=registry)
    rows = []
    for zone in ("work", "omop"):
        for name in wh.list_tables(zone):
            try:
                cnt = wh.read(spark, zone, name).count()
            except Exception:
                continue  # dir without readable parquet (all parts dropped)
            rows.append((zone, name, cnt))
    return spark.createDataFrame(
        rows, "zone string, table_name string, n_rows long"
    )


@register(
    "wh_snapshot_travel",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS step, 'write' AS action,
           CAST(-1 AS BIGINT) AS saved_version,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_rows
    UNION ALL
    SELECT 2, 'write', 1,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey <> 0)
                AS BIGINT)
    UNION ALL
    SELECT 3, 'write', 2,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 1)
                AS BIGINT)
    UNION ALL
    SELECT 4, 'read_version', 2,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey <> 0)
                AS BIGINT)
    UNION ALL
    SELECT 5, 'restore', 3,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    UNION ALL
    SELECT 6, 'versions', 3,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    """,
)
def wh_snapshot_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot versioning under the oracle (VERDICT r5 task 5): three
    ``write_versioned`` generations, a ``read_version`` time-travel read
    of the middle generation, a ``restore_version`` back to the first
    (which snapshots the outgoing contents, making the restore itself
    undoable), and the final version listing.  Each step records
    (action, saved_version, observed row count); the DuckDB oracle
    states the expected ledger independently from nation, so wrong
    snapshot rotation, a restore that loses the outgoing table, or a
    versions list that drifts all hash-mismatch.  saved_version uses a
    -1 sentinel for 'nothing snapshotted' (typed, not NULL — the
    checker's pandas round-trip would coerce a NULL BIGINT column)."""
    nation = load_tables(spark, sf_dir, "nation")["nation"]
    wh = Warehouse(tempfile.mkdtemp(prefix="riab_snapshots_"))
    gen1 = nation
    gen2 = nation.filter(F.col("n_regionkey") != 0)
    gen3 = nation.filter(F.col("n_regionkey") == 1)
    rows = []

    def record(step, action, saved, n):
        rows.append((step, action, -1 if saved is None else saved, n))

    s1 = wh.write_versioned(gen1, "omop", "nation_v")
    record(1, "write", s1, wh.read(spark, "omop", "nation_v").count())
    s2 = wh.write_versioned(gen2, "omop", "nation_v")
    record(2, "write", s2, wh.read(spark, "omop", "nation_v").count())
    s3 = wh.write_versioned(gen3, "omop", "nation_v")
    record(3, "write", s3, wh.read(spark, "omop", "nation_v").count())
    record(4, "read_version", 2, wh.read_version(spark, "omop", "nation_v", 2).count())
    s5 = wh.restore_version(spark, "omop", "nation_v", 1)
    record(5, "restore", s5, wh.read(spark, "omop", "nation_v").count())
    vs = wh.versions("omop", "nation_v")
    record(6, "versions", len(vs), wh.read(spark, "omop", "nation_v").count())
    return spark.createDataFrame(
        rows, "step long, action string, saved_version long, n_rows long"
    )


@register(
    "wh_zorder_layout",
    oracle="""
    SELECT 'plain' AS layout,
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT) AS n_rows,
           false AS cust_clustered, false AS date_clustered
    UNION ALL
    SELECT 'zorder',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           true, true
    """,
)
def wh_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering under the oracle: orders written plain
    (round-robin 8 files) vs ``zorder_layout(["o_custkey",
    "o_orderdate"])`` — including a DATE dimension, the ADVICE r5
    regression surface.  For each layout the parquet footers yield the
    average per-file min/max span as a fraction of the global range in
    BOTH dimensions (median over files — robust to the one file that
    straddles a Morton quadrant boundary); a dimension counts as
    clustered when the z-ordered median span is under 0.6x the plain
    layout's.  The oracle states plain
    must cluster in neither dimension and z-order in both — a Morton
    interleave that silently degrades to 1-D sorting (or none) flips a
    boolean and hash-mismatches.  Footer reads are driver-side metadata
    (32 files); rows never leave the executors.
    """
    import pyarrow.parquet as pq_

    from ..operators.zorder import zorder_layout

    o = load_tables(spark, sf_dir, "orders")["orders"].select(
        "o_orderkey", "o_custkey", F.col("o_orderdate").cast("date").alias("o_orderdate")
    )
    n_rows = o.count()
    base = tempfile.mkdtemp(prefix="riab_zorder_")
    layouts = {
        "plain": lambda df: df.repartition(16),
        "zorder": lambda df: zorder_layout(
            df, ["o_custkey", "o_orderdate"], num_files=16
        ),
    }
    span = {}
    for name, fn in layouts.items():
        path = os.path.join(base, name)
        fn(o).write.parquet(path)
        ratios = {"o_custkey": [], "o_orderdate": []}
        glo = {
            c: (r["lo"], r["hi"])
            for c, r in (
                (c, o.agg(F.min(c).alias("lo"), F.max(c).alias("hi")).collect()[0])
                for c in ratios
            )
        }
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq_.read_metadata(os.path.join(path, f))
            schema_names = md.schema.to_arrow_schema().names
            for c in ratios:
                idx = schema_names.index(c)
                lo = hi = None
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
                width = (hi - lo).days if c == "o_orderdate" else hi - lo
                gw = (
                    (glo[c][1] - glo[c][0]).days
                    if c == "o_orderdate"
                    else glo[c][1] - glo[c][0]
                )
                ratios[c].append(width / max(gw, 1))
        span[name] = {
            c: sorted(v)[len(v) // 2] for c, v in ratios.items()
        }
    rows = [
        ("plain", n_rows, False, False),
        (
            "zorder",
            n_rows,
            bool(span["zorder"]["o_custkey"] < 0.6 * span["plain"]["o_custkey"]),
            bool(
                span["zorder"]["o_orderdate"] < 0.6 * span["plain"]["o_orderdate"]
            ),
        ),
    ]
    return spark.createDataFrame(
        rows, "layout string, n_rows long, cust_clustered boolean, "
        "date_clustered boolean"
    )


@register(
    "wh_compact_roundtrip",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS step, 'seed' AS action, true AS many_files,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(DISTINCT n_regionkey) FROM nation) AS BIGINT)
             AS n_regions
    UNION ALL
    SELECT 2, 'compact', false,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
           CAST((SELECT COUNT(DISTINCT n_regionkey) FROM nation) AS BIGINT)
    """,
)
def wh_compact_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction under the oracle: seed a table via many
    single-slice appends (one parquet file each — the streaming-sink
    decay shape), then ``compact``.  The ledger records whether the
    table is fragmented (>= 5 files) plus row and distinct-region
    counts before and after; the oracle states fragmentation must be
    GONE after compaction while the contents are untouched.  A compact
    that drops/duplicates rows or fails to merge files hash-mismatches.
    """
    from ..core.commit import resolve_pointer

    nation = load_tables(spark, sf_dir, "nation")["nation"]
    wh = Warehouse(tempfile.mkdtemp(prefix="riab_compact_"))
    for rk in range(5):
        wh.load(
            nation.filter(F.col("n_regionkey") == rk).coalesce(1),
            "omop", "nation_frag", disposition="append",
        )

    def files():
        p = resolve_pointer(wh.path("omop", "nation_frag"))
        return sum(1 for f in os.listdir(p) if f.endswith(".parquet"))

    def stats():
        df = wh.read(spark, "omop", "nation_frag")
        return (
            df.count(),
            df.select("n_regionkey").distinct().count(),
        )

    rows = []
    n, reg = stats()
    rows.append((1, "seed", files() >= 5, n, reg))
    wh.compact(spark, "omop", "nation_frag")
    n, reg = stats()
    rows.append((2, "compact", files() >= 5, n, reg))
    return spark.createDataFrame(
        rows,
        "step long, action string, many_files boolean, n_rows long, "
        "n_regions long",
    )


@register(
    "wh_pointer_commit",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS step, 'write' AS action,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT) AS n_rows
    UNION ALL
    SELECT 2, 'replace',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1))
                AS BIGINT)
    UNION ALL
    SELECT 3, 'append',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1, 2))
                AS BIGINT)
    UNION ALL
    SELECT 4, 'crash_before_publish',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1, 2))
                AS BIGINT)
    UNION ALL
    SELECT 5, 'read_version_1',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT)
    UNION ALL
    SELECT 6, 'restore_version_1',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT)
    """,
)
def wh_pointer_commit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The object-store-safe pointer-swap commit protocol under the
    hash gate (core/commit.py, VERDICT r11 task 2): each step records
    the table's row count as seen THROUGH the pointer.  Step 4 stages a
    complete new version and crashes before the pointer flips — the
    oracle states the count must be UNCHANGED (old-or-new, never half,
    never absent); steps 5-6 prove version dirs double as snapshots
    (time travel + restore).  A commit that published early, lost the
    old version, or left readers on a half-written dir hash-mismatches.
    """
    from ..core.commit import pointer_commit

    nation = load_tables(spark, sf_dir, "nation")["nation"]
    wh = Warehouse(tempfile.mkdtemp(prefix="riab_pointer_"))

    def n():
        return wh.read(spark, "omop", "t").count()

    rows = []
    wh.write(nation.filter(F.col("n_regionkey") == 0), "omop", "t")
    rows.append((1, "write", n()))
    wh.write_versioned(
        nation.filter(F.col("n_regionkey").isin(0, 1)), "omop", "t"
    )
    rows.append((2, "replace", n()))
    wh.append(nation.filter(F.col("n_regionkey") == 2), "omop", "t")
    rows.append((3, "append", n()))

    def crashy(d):
        nation.write.mode("overwrite").parquet(d)
        raise RuntimeError("simulated crash before publish")

    try:
        pointer_commit(crashy, wh.path("omop", "t"))
    except RuntimeError:
        pass
    rows.append((4, "crash_before_publish", n()))
    rows.append(
        (5, "read_version_1", wh.read_version(spark, "omop", "t", 1).count())
    )
    wh.restore_version(spark, "omop", "t", 1)
    rows.append((6, "restore_version_1", n()))
    return spark.createDataFrame(rows, "step long, action string, n_rows long")


@register(
    "wh_load_dispositions",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS step, 'write_empty' AS disposition,
           true AS ok,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT) AS n_rows
    UNION ALL
    SELECT 2, 'append', true,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1))
                AS BIGINT)
    UNION ALL
    SELECT 3, 'write_empty', false,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1))
                AS BIGINT)
    UNION ALL
    SELECT 4, 'truncate', true,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
    """,
)
def wh_load_dispositions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 bulk-load disposition matrix under the oracle (reference
    batch_load semantics, etl/bigquery/gcp.py:197-240): WRITE_EMPTY
    into an absent table succeeds, WRITE_APPEND adds rows, WRITE_EMPTY
    into a populated table FAILS (BigQuery 'duplicate' error) leaving
    the table untouched, WRITE_TRUNCATE replaces.  Each step records
    (disposition, outcome, table row count after) — the DuckDB oracle
    states the expected ledger, so wrong disposition semantics (e.g. a
    write_empty that clobbers, or an append that replaces)
    hash-mismatch."""
    nation = load_tables(spark, sf_dir, "nation")["nation"]
    wh = Warehouse(tempfile.mkdtemp(prefix="riab_dispositions_"))
    steps = [
        (1, "write_empty", nation.filter(F.col("n_regionkey") == 0)),
        (2, "append", nation.filter(F.col("n_regionkey") == 1)),
        (3, "write_empty", nation.filter(F.col("n_regionkey") == 2)),
        (4, "truncate", nation),
    ]
    rows = []
    for step, disposition, df in steps:
        try:
            wh.load(df, "omop", "nation_load", disposition=disposition)
            ok = True
        except ValueError:
            ok = False
        rows.append(
            (step, disposition, ok, wh.read(spark, "omop", "nation_load").count())
        )
    return spark.createDataFrame(
        rows, "step long, disposition string, ok boolean, n_rows long"
    )


@register(
    "src_webdataset_shards",
    oracle="""
    SELECT printf('%08d', doc_id) AS key,
           CAST(2 AS BIGINT) AS n_parts,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           CAST(octet_length(encode(
               '{"id": ' || CAST(doc_id AS VARCHAR) || '}'
           )) AS BIGINT) AS json_bytes
    FROM documents WHERE doc_id < 40
    """,
    doc="WebDataset tar-shard source (sources/webdataset.py, r12) under "
    "the hash gate: the first 40 documents are packed into two tar "
    "shards (key = zero-padded doc_id, members <key>.txt + <key>.json, "
    "zeroed mtimes), read back through the binaryFile + mapInPandas "
    "member parser, and grouped into samples.  The oracle replays the "
    "per-sample part count and the exact byte lengths of both payloads "
    "from the source table — a parser that drops members, splits keys "
    "at the wrong dot, or truncates bytes hash-mismatches.  Scale "
    "shape: one task per shard (tars are not splittable, like "
    ".jsonl.gz), sample grouping is one shard-local shuffle.",
)
def src_webdataset_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    import json

    from ..sources.webdataset import (
        read_tar_shards,
        samples_from_members,
        write_tar_shard,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
        .collect()
    )
    root = tempfile.mkdtemp(prefix="riab_wds_")
    half = [[], []]
    for r in sorted(docs, key=lambda r: r["doc_id"]):
        key = f"{int(r['doc_id']):08d}"
        half[int(r["doc_id"]) % 2] += [
            (f"{key}.txt", r["text"].encode("utf-8")),
            (f"{key}.json", json.dumps({"id": int(r["doc_id"])}).encode()),
        ]
    for i, members in enumerate(half):
        write_tar_shard(members, os.path.join(root, f"shard-{i:03d}.tar"))
    samples = samples_from_members(read_tar_shards(spark, root))
    return samples.select(
        "key",
        "n_parts",
        F.length(F.element_at("parts", "txt")).cast("long").alias("txt_bytes"),
        F.length(F.element_at("parts", "json")).cast("long").alias("json_bytes"),
    )


@register(
    "wh_pointer_hadoopfs",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS step, 'commit_v1' AS action,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT) AS n_rows
    UNION ALL
    SELECT 2, 'commit_v2',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1))
                AS BIGINT)
    UNION ALL
    SELECT 3, 'crash_before_publish',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1))
                AS BIGINT)
    UNION ALL
    SELECT 4, 'time_travel_v1',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT)
    UNION ALL
    SELECT 5, 'concurrent_abort',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1))
                AS BIGINT)
    """,
    doc="The pointer-swap commit protocol executed through a file:// "
    "URI — every path operation routes through the session's Hadoop "
    "FileSystem (core/commit.py::_HadoopFS, VERDICT r12 task 1), the "
    "same JVM connector stack an hdfs:// or s3a:// warehouse resolves. "
    "Steps replay the wh_pointer_commit ledger on the JVM route: "
    "commit, replace, crash-before-publish (old stays live), time "
    "travel to v1, and — new in r13 — a commit attempted while another "
    "writer holds _COMMIT_LOCK raises ConcurrentCommitError without "
    "touching the live version (VERDICT r12 task 2).",
)
def wh_pointer_hadoopfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..core.commit import (
        LOCK,
        ConcurrentCommitError,
        _vdir,
        pointer_commit,
        resolve_pointer,
    )

    nation = load_tables(spark, sf_dir, "nation")["nation"]
    local_root = tempfile.mkdtemp(prefix="riab_ptr_hfs_")
    t = "file://" + local_root + "/t"

    def n():
        return spark.read.parquet(resolve_pointer(t)).count()

    rows = []
    pointer_commit(
        lambda d: nation.filter(F.col("n_regionkey") == 0)
        .write.mode("overwrite")
        .parquet(d),
        t,
    )
    rows.append((1, "commit_v1", n()))
    pointer_commit(
        lambda d: nation.filter(F.col("n_regionkey").isin(0, 1))
        .write.mode("overwrite")
        .parquet(d),
        t,
    )
    rows.append((2, "commit_v2", n()))

    def crashy(d):
        nation.write.mode("overwrite").parquet(d)
        raise RuntimeError("simulated crash before publish")

    try:
        pointer_commit(crashy, t)
    except RuntimeError:
        pass
    rows.append((3, "crash_before_publish", n()))
    rows.append((4, "time_travel_v1", spark.read.parquet(_vdir(t, 1)).count()))
    # a lock held by another writer turns the commit into a clean error
    lock_local = os.path.join(local_root, "t", LOCK)
    with open(lock_local, "w") as fh:
        fh.write("other-writer")
    try:
        pointer_commit(
            lambda d: nation.write.mode("overwrite").parquet(d), t
        )
        raise AssertionError("expected ConcurrentCommitError")
    except ConcurrentCommitError:
        pass
    os.remove(lock_local)
    rows.append((5, "concurrent_abort", n()))
    return spark.createDataFrame(
        rows, "step long, action string, n_rows long"
    )


@register(
    "wh_txn_snapshot",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS step, 'txn1_commit' AS action,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT) AS n_a,
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 1)
                AS BIGINT) AS n_b
    UNION ALL
    SELECT 2, 'txn2_crashed_midway',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 1)
                AS BIGINT)
    UNION ALL
    SELECT 3, 'recovered',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 1)
                AS BIGINT)
    UNION ALL
    SELECT 4, 'txn3_commit',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (1, 2))
                AS BIGINT)
    UNION ALL
    SELECT 5, 'time_travel_txn1',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 0)
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey = 1)
                AS BIGINT)
    UNION ALL
    SELECT 6, 'rollback_on_error',
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (0, 1))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation WHERE n_regionkey IN (1, 2))
                AS BIGINT)
    """,
    doc="Atomic multi-table transactions (pipeline/txn.py, r13) under "
    "the hash gate: a warehouse-root manifest makes every table an ETL "
    "run writes visible to snapshot readers in ONE pointer replace. "
    "The ledger records (count of table a, count of table b) as seen "
    "THROUGH the manifest at each step: txn1 commits both tables; txn2 "
    "stages a new version of a and dies before commit — the oracle "
    "states BOTH snapshot counts unchanged (no torn cross-table view); "
    "txn_recover repoints the drifted table (zero data I/O); txn3 "
    "replaces both tables atomically; time travel re-reads the whole "
    "warehouse as of txn1; and a transaction that raises mid-block "
    "rolls back leaving the txn3 view intact.  A manifest that "
    "published early, resolved a half-committed table, or lost a "
    "pinned snapshot hash-mismatches.  Scale shape: manifests are "
    "bytes-sized JSON; commit/rollback/recover move no data at any "
    "table size.",
)
def wh_txn_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_tables(spark, sf_dir, "nation")["nation"]
    wh = Warehouse(tempfile.mkdtemp(prefix="riab_txn_"))

    def snap(zone="omop"):
        return (
            wh.read_snapshot(spark, zone, "a").count(),
            wh.read_snapshot(spark, zone, "b").count(),
        )

    rows = []
    with wh.transaction() as txn:
        txn.write(nation.filter(F.col("n_regionkey") == 0), "omop", "a")
        txn.write(nation.filter(F.col("n_regionkey") == 1), "omop", "b")
    rows.append((1, "txn1_commit", *snap()))
    # txn2 stages one table and dies before commit: snapshot unchanged
    txn2 = wh.begin()
    txn2.write(nation, "omop", "a")
    rows.append((2, "txn2_crashed_midway", *snap()))
    wh.txn_recover()
    rows.append((3, "recovered", *snap()))
    with wh.transaction() as txn:
        txn.write(nation.filter(F.col("n_regionkey").isin(0, 1)), "omop", "a")
        txn.write(nation.filter(F.col("n_regionkey").isin(1, 2)), "omop", "b")
    rows.append((4, "txn3_commit", *snap()))
    rows.append(
        (
            5,
            "time_travel_txn1",
            wh.read_snapshot(spark, "omop", "a", txn=1).count(),
            wh.read_snapshot(spark, "omop", "b", txn=1).count(),
        )
    )
    try:
        with wh.transaction() as txn:
            txn.write(nation, "omop", "a")
            raise RuntimeError("simulated failure mid-transaction")
    except RuntimeError:
        pass
    rows.append((6, "rollback_on_error", *snap()))
    return spark.createDataFrame(
        rows, "step long, action string, n_a long, n_b long"
    )


@register(
    "wh_schema_evolution",
    oracle="""
    SELECT CAST(1 AS BIGINT) AS step, 'seed_old_schema' AS action,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_rows,
           CAST(3 AS BIGINT) AS n_cols,
           ROUND(0.0, 2) AS score_sum
    UNION ALL
    SELECT 2, 'read_evolved_zero_rewrite',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
           CAST(3 AS BIGINT),
           ROUND((SELECT COUNT(*) FROM nation) * 0.5, 2)
    UNION ALL
    SELECT 3, 'evolve_rewrite',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
           CAST(3 AS BIGINT),
           ROUND((SELECT COUNT(*) FROM nation) * 0.5, 2)
    UNION ALL
    SELECT 4, 'restore_undo',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
           CAST(3 AS BIGINT),
           ROUND(0.0, 2)
    """,
    doc="Schema evolution (pipeline/evolve.py, r13) under the hash "
    "gate: a table seeded with a drifted schema (int32 key, stray "
    "legacy column) is evolved to its target (int64 key, legacy "
    "dropped, score double added with default 0.5) twice — first "
    "READ-SIDE (read_evolved: one narrow projection Catalyst folds "
    "into the scan; zero rewrite, the 100 TB rung for additive drift), "
    "then as an atomic REWRITE (evolve) whose pre-evolution schema "
    "survives as a pointer version, proven by the restore_undo step "
    "flipping back to it with zero data I/O.  The ledger records "
    "(rows, surviving column count, sum of the defaulted column) at "
    "each step; the oracle states the expected shape from nation, so "
    "an evolution that loses rows, keeps dropped columns, or "
    "mis-defaults hash-mismatches.",
)
def wh_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as Ty

    from ..pipeline.evolve import evolve, read_evolved

    nation = load_tables(spark, sf_dir, "nation")["nation"]
    wh = Warehouse(tempfile.mkdtemp(prefix="riab_evolve_"))
    old = nation.select(
        F.col("n_nationkey").cast("int").alias("key"),
        F.col("n_name").alias("name"),
        F.lit("junk").alias("legacy"),
    )
    wh.write(old, "omop", "t")
    target = Ty.StructType(
        [
            Ty.StructField("key", Ty.LongType()),
            Ty.StructField("name", Ty.StringType()),
            Ty.StructField("score", Ty.DoubleType()),
        ]
    )

    def ledger(step, action, df, has_score):
        score = (
            df.agg(F.sum("score")).collect()[0][0] if has_score else 0.0
        )
        return (
            step, action, df.count(), len(df.columns),
            round(float(score or 0.0), 2),
        )

    rows = [ledger(1, "seed_old_schema", wh.read(spark, "omop", "t"), False)]
    evolved = read_evolved(
        wh, spark, "omop", "t", target, defaults={"score": 0.5}
    )
    rows.append(ledger(2, "read_evolved_zero_rewrite", evolved, True))
    evolve(wh, spark, "omop", "t", target, defaults={"score": 0.5})
    rows.append(ledger(3, "evolve_rewrite", wh.read(spark, "omop", "t"), True))
    wh.restore_version(spark, "omop", "t", 1)
    rows.append(ledger(4, "restore_undo", wh.read(spark, "omop", "t"), False))
    return spark.createDataFrame(
        rows,
        "step long, action string, n_rows long, n_cols long, "
        "score_sum double",
    )


@register(
    "src_webdataset_export",
    oracle="""
    SELECT printf('%08d', doc_id) AS key,
           CAST(2 AS BIGINT) AS n_parts,
           CAST(octet_length(encode(text)) AS BIGINT) AS txt_bytes,
           CAST(octet_length(encode(
               '{"id": ' || CAST(doc_id AS VARCHAR) || '}'
           )) AS BIGINT) AS json_bytes
    FROM documents WHERE doc_id < 40
    """,
    doc="The DISTRIBUTED write half of the WebDataset round trip "
    "(sources/webdataset.py::write_webdataset, r13): the first 40 "
    "documents become samples (txt + json parts), are exported to tar "
    "shards via hash-assigned shard ids + one payload exchange + "
    "applyInPandas tar writers (zeroed mtimes, (key, ext)-ordered "
    "members, atomic .inprogress rename — shard bytes are a pure "
    "function of corpus content), then read BACK through the "
    "binaryFile + mapInPandas member parser and re-grouped into "
    "samples.  The oracle restates every payload's byte length from "
    "the source table, so an exporter that drops samples, mangles "
    "member names, or truncates bytes hash-mismatches.  Scale shape: "
    "no global sort (shard ids are xxhash64 mod N), the single "
    "exchange carries each payload exactly once, one tar per group.",
)
def src_webdataset_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.webdataset import (
        read_tar_shards,
        samples_from_members,
        write_webdataset,
    )

    docs = (
        load_tables(spark, sf_dir, "documents")["documents"]
        .filter(F.col("doc_id") < 40)
        .select(
            F.format_string("%08d", F.col("doc_id")).alias("key"),
            F.map_from_arrays(
                F.array(F.lit("txt"), F.lit("json")),
                F.array(
                    F.encode(F.col("text"), "utf-8"),
                    F.encode(
                        F.format_string('{"id": %d}', F.col("doc_id")),
                        "utf-8",
                    ),
                ),
            ).alias("parts"),
        )
    )
    root = tempfile.mkdtemp(prefix="riab_wds_export_")
    write_webdataset(docs, root, samples_per_shard=16).collect()
    samples = samples_from_members(read_tar_shards(spark, root))
    return samples.select(
        "key",
        "n_parts",
        F.length(F.element_at("parts", "txt")).cast("long").alias("txt_bytes"),
        F.length(F.element_at("parts", "json")).cast("long").alias("json_bytes"),
    )


@register(
    "wh_table_stats",
    oracle="""
    SELECT 'n_name' AS col,
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_rows,
           CAST(0 AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT n_name) AS BIGINT) AS ndv,
           CAST(MIN(n_name) AS VARCHAR) AS min_s,
           CAST(MAX(n_name) AS VARCHAR) AS max_s
    FROM nation
    UNION ALL
    SELECT 'n_nationkey',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
           CAST(0 AS BIGINT),
           CAST(COUNT(DISTINCT n_nationkey) AS BIGINT),
           CAST(MIN(n_nationkey) AS VARCHAR),
           CAST(MAX(n_nationkey) AS VARCHAR)
    FROM nation
    UNION ALL
    SELECT 'n_regionkey',
           CAST((SELECT COUNT(*) FROM nation) AS BIGINT),
           CAST(0 AS BIGINT),
           CAST(COUNT(DISTINCT n_regionkey) AS BIGINT),
           CAST(MIN(n_regionkey) AS VARCHAR),
           CAST(MAX(n_regionkey) AS VARCHAR)
    FROM nation
    """,
    doc="Table statistics (pipeline/stats.py, r13) under the hash "
    "gate: analyze_table profiles a warehouse table in ONE aggregate "
    "pass (row count + per-column nulls/ndv/min/max; physical bytes "
    "from the file listing, no data read) and persists the _STATS "
    "sidecar stamped with the pointer version — the ANALYZE TABLE "
    "analog BigQuery keeps server-side and Spark CBO wants from a "
    "catalog.  The row uses the exact-ndv twin so DuckDB restates "
    "every number; the scale path is approx_count_distinct (HLL++, "
    "same single pass, partial aggregation — no shuffle wider than "
    "one row per partition).  A profile that miscounts nulls, "
    "misorders min/max, or double-counts rows hash-mismatches.",
)
def wh_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..pipeline.stats import analyze_table, table_stats

    nation = load_tables(spark, sf_dir, "nation")["nation"]
    wh = Warehouse(tempfile.mkdtemp(prefix="riab_stats_"))
    wh.write(nation, "omop", "nation")
    analyze_table(
        wh, spark, "omop", "nation",
        columns=["n_nationkey", "n_name", "n_regionkey"], exact=True,
    )
    stats = table_stats(wh, "omop", "nation")  # persisted round trip
    rows = [
        (
            col,
            stats["n_rows"],
            entry["nulls"],
            entry["ndv"],
            entry["min"],
            entry["max"],
        )
        for col, entry in sorted(stats["columns"].items())
    ]
    return spark.createDataFrame(
        rows,
        "col string, n_rows long, n_nulls long, ndv long, "
        "min_s string, max_s string",
    )
