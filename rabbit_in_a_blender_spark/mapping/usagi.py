"""Usagi concept-mapping operators (SURVEY §3.1 step 4c, §2.C J2).

The reference loads Usagi CSVs (6 of 18 columns — etl/etl.py:58-65,
786-794), warns on duplicate (sourceCode, conceptId) pairs
(etl/etl.py:492-508), and maps upload-table source codes to OMOP concept
ids via a LEFT JOIN with status filter
(bq:etl/{omop_table}_merge.sql.jinja:70-80).  A source code mapped to k
concepts legitimately fans out to k rows (§2.J identity contract).
"""

from __future__ import annotations

import csv
from collections import Counter

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The 6 columns the engine consumes (etl/etl.py:58-65).
USAGI_SCHEMA = T.StructType(
    [
        T.StructField("sourceCode", T.StringType()),
        T.StructField("sourceName", T.StringType()),
        T.StructField("mappingStatus", T.StringType()),
        T.StructField("conceptId", T.LongType()),
        T.StructField("conceptName", T.StringType()),
        T.StructField("domainId", T.StringType()),
    ]
)

APPROVED_STATUSES = ("APPROVED", "SEMI-APPROVED")


def _csv_header(path: str) -> list[str]:
    """The column names ``spark.read.csv(path, header=True)`` gives a
    local CSV file, read on the driver: the first non-blank line without
    a UTF-8 byte-order mark, an empty name as ``_c<i>``,
    case-insensitive duplicates as ``<name><i>`` (Spark's safe-header
    rules)."""
    with open(path, encoding="utf-8-sig", newline="") as f:
        line = next((ln for ln in f if ln.strip()), "")
    names = next(csv.reader([line]), [])
    counts = Counter(n.lower() for n in names)
    return [
        f"_c{i}" if not n else f"{n}{i}" if counts[n.lower()] > 1 else n
        for i, n in enumerate(names)
    ]


def read_usagi_csv(spark: SparkSession, path: str) -> DataFrame:
    """Usagi CSV → typed frame; extra columns in the file are dropped
    (the reference reads a named subset of the 18-column header).

    The header is parsed on the driver and the read gets an all-string
    schema, so Spark runs no job just to learn the column names."""
    header = _csv_header(path)
    schema = T.StructType([T.StructField(n, T.StringType()) for n in header])
    raw = spark.read.csv(path, schema=schema, header=True)
    cols = []
    for f in USAGI_SCHEMA.fields:
        c = F.col(f.name).cast(f.dataType) if f.name in raw.columns else F.lit(None).cast(f.dataType)
        cols.append(c.alias(f.name))
    return raw.select(*cols)


def approved_mappings(usagi: DataFrame, semi: bool = True) -> DataFrame:
    """B4 status filter (SOURCE_TO_CONCEPT_MAP_merge.sql.jinja:17-21)."""
    statuses = list(APPROVED_STATUSES) if semi else ["APPROVED"]
    return usagi.filter(F.col("mappingStatus").isin(statuses))


def duplicate_mappings(usagi: DataFrame, semi: bool = True) -> DataFrame:
    """Duplicate (sourceCode, conceptId) detection — the reference raises
    on these (etl/etl.py:492-508, etl/bigquery/etl.py:282-297).  ``semi``
    must match the ETL's --process-semi-approved-mappings switch so the
    duplicate check covers exactly the rows that will map (the reference
    applies the flag-dependent status set, etl.py:495,564)."""
    return (
        approved_mappings(usagi, semi=semi)
        .groupBy("sourceCode", "conceptId")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
        .orderBy(F.desc("dup_count"), "sourceCode")
    )


def duplicate_mapping_rows(rows: list[Row], semi: bool = True) -> list[Row]:
    """:func:`duplicate_mappings` over usagi rows already on the driver:
    the same groups, counts and order, with no Spark job."""
    statuses = APPROVED_STATUSES if semi else ("APPROVED",)
    counts = Counter(
        (r["sourceCode"], r["conceptId"])
        for r in rows
        if r["mappingStatus"] in statuses
    )
    dups = [(code, cid, n) for (code, cid), n in counts.items() if n > 1]
    # Spark's ascending order puts NULL codes first
    dups.sort(key=lambda d: (-d[2], d[0] is not None, d[0] or ""))
    return [Row(sourceCode=c, conceptId=i, dup_count=n) for c, i, n in dups]


def apply_usagi(
    upload: DataFrame,
    usagi: DataFrame,
    source_col: str,
    out_col: str,
    keep_source: bool = True,
    semi: bool = True,
) -> DataFrame:
    """Map ``source_col`` codes to concept ids; unmapped → 0.

    LEFT JOIN with the status predicate folded into the join condition
    (J2); the usagi frame is mapping-table-sized → broadcast.  Fan-out to
    k rows per k-mapped code is intentional and flows into the PK-swap
    identity (one source row → k CDM rows with k PKs).  ``semi`` mirrors
    the reference's --process-semi-approved-mappings switch (cli.py) —
    False keeps APPROVED rows only.
    """
    m = approved_mappings(usagi, semi=semi).select(
        F.col("sourceCode").alias("__src"), F.col("conceptId").alias("__cid")
    )
    out = upload.join(
        F.broadcast(m), upload[source_col] == F.col("__src"), "left"
    ).withColumn(out_col, F.coalesce(F.col("__cid"), F.lit(0)).cast("long"))
    out = out.drop("__src", "__cid")
    if not keep_source:
        out = out.drop(source_col)
    return out
