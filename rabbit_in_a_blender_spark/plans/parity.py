"""SURVEY §2 parity queries (scans, project/filter, joins, aggs, windows,
set-ops, scalar functions, sequence generation, DML emulation).

Each query re-expresses one reference operator over the driver testdata.
Reference citations (bq: = /root/reference/src/riab/etl/bigquery/templates/)
are in each docstring; the HOW is idiomatic DataFrame API.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..core.caching import track_cache
from ..core.io import load_tables
from ..operators.aggregates import distribution_stats, duplicate_groups, sorted_string_agg
from ..operators.dedup import dedup_keep_first
from ..operators.joins import merge_delete, merge_upsert, null_safe_join, polymorphic_resolve
from ..operators.sequence import assign_ids
from .catalog import register

TS_FMT = "yyyy-MM-dd HH:mm:ss"
TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


def _t(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return load_tables(spark, sf_dir, *names)


# --------------------------------------------------------------------------
# Flagship: G1-style grouped aggregation (pricing summary à la TPC-H Q1).
# Reference analog: duplicate-check + Achilles count aggregations (§2.D G1).
# --------------------------------------------------------------------------
@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                           AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)        AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 3)                                AS avg_qty,
           ROUND(AVG(l_extendedprice), 3)                           AS avg_price,
           ROUND(AVG(l_discount), 4)                                AS avg_disc,
           CAST(COUNT(*) AS BIGINT)                                 AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Flagship grouped aggregation; map-side partial agg, one shuffle.",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 3).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 3).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# B1: project + cast + rename + key-prequel tagging
# (bq:cdm_folders/sample_etl_query.sql.jinja:23-40)
# --------------------------------------------------------------------------
@register(
    "b1_project_cast_prequel",
    oracle="""
    SELECT 'PK_PREQUAL_' || CAST(c_custkey AS VARCHAR) AS person_source,
           c_name                                      AS person_name,
           CAST(c_nationkey AS BIGINT)                 AS nation_id,
           upper(c_mktsegment)                         AS segment,
           ROUND(CAST(c_acctbal AS DOUBLE), 2)         AS acctbal
    FROM customer
    """,
)
def b1_project_cast_prequel(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    return c.select(
        F.concat(F.lit("PK_PREQUAL_"), F.col("c_custkey").cast("string")).alias("person_source"),
        F.col("c_name").alias("person_name"),
        F.col("c_nationkey").cast("long").alias("nation_id"),
        F.upper("c_mktsegment").alias("segment"),
        F.round(F.col("c_acctbal").cast("double"), 2).alias("acctbal"),
    )


# B2: SELECT DISTINCT dedup-on-ingest
@register(
    "b2_distinct_pairs",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def b2_distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.select("o_orderstatus", "o_orderpriority").distinct()


# B4 + B8: IN-list predicate + range predicate
@register(
    "b4_filter_isin_range",
    oracle="""
    SELECT o_orderkey, o_orderpriority, ROUND(o_totalprice, 2) AS totalprice
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_totalprice >= 1000.0
    """,
)
def b4_filter_isin_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .filter(F.col("o_totalprice") >= 1000.0)
        .select(
            "o_orderkey",
            "o_orderpriority",
            F.round("o_totalprice", 2).alias("totalprice"),
        )
    )


# B7/G1: duplicate-group detection with HAVING
@register(
    "g1_duplicate_groups",
    oracle="""
    SELECT l_orderkey, l_suppkey, CAST(COUNT(*) AS BIGINT) AS dup_count
    FROM lineitem GROUP BY l_orderkey, l_suppkey HAVING COUNT(*) >= 2
    """,
)
def g1_duplicate_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    return duplicate_groups(li, ["l_orderkey", "l_suppkey"])


# J1: inner dimension-lookup join chain (broadcast both dims)
@register(
    "j1_dim_lookup_join",
    oracle="""
    SELECT c_custkey, c_name, n_name, r_name
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    """,
)
def j1_dim_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "nation", "region")
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey", "c_name", "n_name", "r_name")
    )


# J2: left outer mapping join with composite condition + null default
# (bq:etl/{omop_table}_merge.sql.jinja:70-80 — usagi concept mapping)
@register(
    "j2_mapping_left_join",
    oracle="""
    SELECT c_custkey,
           COALESCE(n.n_name, '?')              AS mapped_name,
           CAST(COALESCE(n.n_nationkey, 0) AS BIGINT) AS mapped_id
    FROM customer c
    LEFT JOIN nation n
      ON c.c_nationkey = n.n_nationkey AND n.n_regionkey IN (0, 1)
    """,
)
def j2_mapping_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "nation")
    n = t["nation"]
    return (
        t["customer"]
        .join(
            F.broadcast(n),
            (F.col("c_nationkey") == n["n_nationkey"]) & n["n_regionkey"].isin(0, 1),
            "left",
        )
        .select(
            "c_custkey",
            F.coalesce(F.col("n_name"), F.lit("?")).alias("mapped_name"),
            F.coalesce(F.col("n_nationkey"), F.lit(0)).cast("long").alias("mapped_id"),
        )
    )


# J4: null-safe multi-key equality join (IFNULL(..)=IFNULL(..) → <=>)
@register(
    "j4_nullsafe_join",
    oracle="""
    WITH a AS (
      SELECT o_custkey, nullif(o_orderstatus, 'O') AS status_key,
             CAST(COUNT(*) AS BIGINT) AS n_all
      FROM orders GROUP BY 1, 2
    ), b AS (
      SELECT o_custkey, nullif(o_orderstatus, 'O') AS status_key,
             CAST(COUNT(*) AS BIGINT) AS n_big
      FROM orders WHERE o_totalprice > 5000 GROUP BY 1, 2
    )
    SELECT a.o_custkey, a.status_key, a.n_all, b.n_big
    FROM a JOIN b
      ON a.o_custkey = b.o_custkey
     AND a.status_key IS NOT DISTINCT FROM b.status_key
    """,
)
def j4_nullsafe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    # fresh scan for the b side: building both join inputs from ONE
    # frame makes their key columns the same analyzer attribute, so the
    # equi-predicate degenerates to a "trivially true" self-compare
    # warning (VERDICT r11 hygiene note #3); a second read gives b its
    # own lineage — same plan shape, same oracle, no warning
    o2 = _t(spark, sf_dir, "orders")["orders"]
    key = F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_key")
    a = o.groupBy(F.col("o_custkey"), key).agg(F.count(F.lit(1)).alias("n_all"))
    b = (
        o2.filter(F.col("o_totalprice") > 5000)
        .groupBy(F.col("o_custkey"), key)
        .agg(F.count(F.lit(1)).alias("n_big"))
    )
    joined = null_safe_join(
        a, b, ["o_custkey", "status_key"], "inner", null_safe_keys=["status_key"]
    )
    return joined.select(a["o_custkey"], a["status_key"], "n_all", "n_big")


# J5: anti join — keys not yet swapped
# (bq:etl/{primary_key_column}_swap_merge.sql.jinja:33-48)
@register(
    "j5_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    """,
    doc="Anti join (keys without a matching recent order).  The orders "
    "side is date-restricted so the result is non-empty on the driver "
    "fixture — the unrestricted variant matched every customer and "
    "passed vacuously on 0 rows (the hash gate proves nothing about an "
    "empty result).",
)
def j5_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    recent = t["orders"].filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        t["customer"]
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


# J6: semi join — IN (subquery)
@register(
    "j6_semi_join",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def j6_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    urgent = t["orders"].filter(F.col("o_orderpriority") == "1-URGENT")
    return (
        t["customer"]
        .join(urgent, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


# J7 + G2: 1-row cross join attaching a global MAX scalar
# (bq:etl/CONCEPT_ID_swap_merge.sql.jinja:5-11)
@register(
    "j7_scalar_cross_join",
    oracle="""
    SELECT o_orderkey, ROUND(o_totalprice / m.max_price, 6) AS price_ratio
    FROM orders CROSS JOIN (SELECT MAX(o_totalprice) AS max_price FROM orders) m
    """,
)
def j7_scalar_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    mx = o.agg(F.max("o_totalprice").alias("max_price"))
    return o.crossJoin(F.broadcast(mx)).select(
        "o_orderkey",
        F.round(F.col("o_totalprice") / F.col("max_price"), 6).alias("price_ratio"),
    )


# J9: polymorphic discriminator-routed join
# (bq:etl/{omop_table}_apply_event_columns.sql.jinja:26-153)
@register(
    "j9_polymorphic_event_join",
    oracle="""
    SELECT e.event_id, e.event_type,
           CAST(CASE e.event_type
                  WHEN 'purchase' THEN COALESCE(c.c_nationkey, 0)
                  WHEN 'error'    THEN COALESCE(s.s_nationkey, 0)
                  ELSE 0 END AS BIGINT) AS resolved_id
    FROM events e
    LEFT JOIN customer c
      ON e.event_type = 'purchase' AND e.user_id = c.c_custkey
    LEFT JOIN supplier s
      ON e.event_type = 'error' AND e.user_id = s.s_suppkey
    """,
)
def j9_polymorphic_event_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "events", "customer", "supplier")
    resolved = polymorphic_resolve(
        t["events"],
        discriminator="event_type",
        value_col="user_id",
        targets={
            "purchase": (t["customer"], "c_custkey", "c_nationkey"),
            "error": (t["supplier"], "s_suppkey", "s_nationkey"),
        },
    )
    return resolved.select(
        "event_id", "event_type", F.col("resolved_id").cast("long").alias("resolved_id")
    )


# J10: MERGE upsert emulation (bq:etl/CONCEPT_merge.sql.jinja:3-21)
@register(
    "j10_merge_upsert",
    oracle="""
    WITH target AS (
      SELECT c_custkey, c_name, ROUND(c_acctbal, 2) AS bal
      FROM customer WHERE c_custkey < 1000
    ), source AS (
      SELECT c_custkey, c_name, ROUND(c_acctbal * 2, 2) AS bal
      FROM customer WHERE c_custkey BETWEEN 500 AND 1499
    )
    SELECT t.* FROM target t
    WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.c_custkey = t.c_custkey)
    UNION ALL
    SELECT * FROM source
    """,
)
def j10_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    target = c.filter(F.col("c_custkey") < 1000).select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("bal")
    )
    source = c.filter(F.col("c_custkey").between(500, 1499)).select(
        "c_custkey", "c_name", F.round(F.col("c_acctbal") * 2, 2).alias("bal")
    )
    return merge_upsert(target, source, ["c_custkey"])


# J11: MERGE-delete emulation
@register(
    "j11_merge_delete",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE c_custkey < 1000
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
      )
    """,
)
def j11_merge_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders")
    target = t["customer"].filter(F.col("c_custkey") < 1000).select("c_custkey", "c_name")
    source = (
        t["orders"]
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return merge_delete(target, source, ["c_custkey"])


# J12: NOT-IN domain-list check join
# (bq:etl/{omop_table}__{concept_id_column}_usagi_fk_domain_check.sql.jinja)
@register(
    "j12_domain_check",
    oracle="""
    SELECT c_custkey, n_name, CAST(n_regionkey AS BIGINT) AS region_id
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE n_regionkey NOT IN (0, 1, 2)
    """,
)
def j12_domain_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "nation")
    return (
        t["customer"]
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .filter(~F.col("n_regionkey").isin(0, 1, 2))
        .select("c_custkey", "n_name", F.col("n_regionkey").cast("long").alias("region_id"))
    )


# G2: global MAX watermark
@register(
    "g2_max_watermark",
    oracle="SELECT CAST(COALESCE(MAX(o_orderkey), 0) + 1 AS BIGINT) AS next_id FROM orders",
)
def g2_max_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.agg(
        (F.coalesce(F.max("o_orderkey"), F.lit(0)) + 1).cast("long").alias("next_id")
    )


# G3: deterministic grouped STRING_AGG
@register(
    "g3_string_agg_sorted",
    oracle="""
    SELECT CAST(n_regionkey AS BIGINT) AS region_id,
           string_agg(n_name, ', ' ORDER BY n_name) AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def g3_string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")["nation"]
    return n.groupBy(F.col("n_regionkey").cast("long").alias("region_id")).agg(
        sorted_string_agg("n_name").alias("nations")
    )


# G4: frequency count + descending sort (sample_usagi_query.sql.jinja:1-7)
@register(
    "g4_freq_count",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS source_frequency
    FROM events GROUP BY event_type
    ORDER BY source_frequency DESC, event_type
    """,
)
def g4_freq_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    return (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("source_frequency"))
        .orderBy(F.desc("source_frequency"), F.col("event_type"))
    )


# G6: Achilles-style distribution stats (avg/stddev/percentiles)
@register(
    "g6_distribution_stats",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT)                    AS count_value,
           ROUND(AVG(l_quantity), 3)                   AS avg_value,
           ROUND(stddev_samp(l_quantity), 3)           AS stdev_value,
           ROUND(quantile_cont(l_quantity, 0.10), 3)   AS p10_value,
           ROUND(quantile_cont(l_quantity, 0.25), 3)   AS p25_value,
           ROUND(quantile_cont(l_quantity, 0.50), 3)   AS p50_value,
           ROUND(quantile_cont(l_quantity, 0.75), 3)   AS p75_value,
           ROUND(quantile_cont(l_quantity, 0.90), 3)   AS p90_value
    FROM lineitem GROUP BY l_returnflag
    """,
)
def g6_distribution_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")["lineitem"]
    stats = distribution_stats(li, "l_quantity", ["l_returnflag"])
    return stats.select(
        "l_returnflag",
        "count_value",
        F.round("avg_value", 3).alias("avg_value"),
        F.round("stdev_value", 3).alias("stdev_value"),
        F.round("p10_value", 3).alias("p10_value"),
        F.round("p25_value", 3).alias("p25_value"),
        F.round("p50_value", 3).alias("p50_value"),
        F.round("p75_value", 3).alias("p75_value"),
        F.round("p90_value", 3).alias("p90_value"),
    )


# W1: RANK + offset — custom-concept id assignment above 2B
# (bq:etl/CONCEPT_ID_swap_merge.sql.jinja:10; RANK keeps ties equal)
@register(
    "w1_rank_offset",
    oracle="""
    SELECT p_partkey, p_brand,
           CAST(RANK() OVER (ORDER BY p_brand) + 2000000000 AS BIGINT) AS concept_id
    FROM part
    """,
)
def w1_rank_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = _t(spark, sf_dir, "part")["part"]
    w = Window.orderBy("p_brand")
    return p.select(
        "p_partkey",
        "p_brand",
        (F.rank().over(w).cast("long") + F.lit(2000000000)).alias("concept_id"),
    )


# W2/§2.J: ROW_NUMBER sequence assignment, strict global-order mode
@register(
    "w2_rownumber_ids_strict",
    oracle="""
    SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS nation_id,
           CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment, c_nationkey) + 100 AS BIGINT)
             AS assigned_id
    FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
    """,
)
def w2_rownumber_ids_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    keys = c.select("c_mktsegment", "c_nationkey").distinct()
    out = assign_ids(keys, ["c_mktsegment", "c_nationkey"], offset=100, mode="strict")
    return out.select(
        "c_mktsegment",
        F.col("c_nationkey").cast("long").alias("nation_id"),
        F.col("assigned_id").cast("long").alias("assigned_id"),
    )


# §2.J scalable variant: identical results, no single-partition window.
@register(
    "seq_assign_scalable",
    oracle="""
    SELECT c_mktsegment, CAST(c_nationkey AS BIGINT) AS nation_id,
           CAST(ROW_NUMBER() OVER (ORDER BY c_mktsegment, c_nationkey) + 100 AS BIGINT)
             AS assigned_id
    FROM (SELECT DISTINCT c_mktsegment, c_nationkey FROM customer)
    """,
    doc="Same oracle as w2 — proves the scalable path matches strict order.",
)
def seq_assign_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    keys = c.select("c_mktsegment", "c_nationkey").distinct()
    out = assign_ids(keys, ["c_mktsegment", "c_nationkey"], offset=100, mode="scalable")
    # hand the numbered frame's pin on, or a caller cannot release it
    return track_cache(
        out.select(
            "c_mktsegment",
            F.col("c_nationkey").cast("long").alias("nation_id"),
            F.col("assigned_id").cast("long").alias("assigned_id"),
        ),
        out._graft_cached,
    )


# W3: windowed dedup, keep latest row per key
# (bq:etl/{omop_table}_merge.sql.jinja:113-142)
@register(
    "w3_window_dedup",
    oracle="""
    SELECT o_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
    FROM orders
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey
    ) = 1
    """,
)
def w3_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    latest = dedup_keep_first(
        o, ["o_custkey"], [F.col("o_orderdate").desc(), F.col("o_orderkey").asc()]
    )
    return latest.select(
        "o_custkey",
        "o_orderkey",
        F.date_format("o_orderdate", TS_FMT).alias("order_ts"),
    )


# W5: windowed (non-grouped) STRING_AGG over a partition
@register(
    "w5_windowed_string_agg",
    oracle="""
    SELECT o.o_orderkey, o.o_custkey, g.statuses
    FROM orders o
    JOIN (
      SELECT o_custkey,
             string_agg(o_orderstatus, ',' ORDER BY o_orderstatus, o_orderkey)
               AS statuses
      FROM orders GROUP BY o_custkey
    ) g ON o.o_custkey = g.o_custkey
    """,
)
def w5_windowed_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy("o_orderstatus", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.array_join(F.collect_list("o_orderstatus").over(w), ",").alias("statuses"),
    )


# S1: ORDER BY ... DESC LIMIT k (get_last_dqd_runs.sql.jinja:3-7)
@register(
    "s1_latest_topk",
    oracle="""
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_ts
    FROM orders ORDER BY o_orderdate DESC, o_orderkey LIMIT 15
    """,
)
def s1_latest_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return (
        o.orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey"))
        .limit(15)
        .select("o_orderkey", F.date_format("o_orderdate", TS_FMT).alias("order_ts"))
    )


# U1: UNION ALL of N "upload tables" with provenance tag
@register(
    "u1_union_all_uploads",
    oracle="""
    SELECT o_orderkey, 'upload1' AS upload FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, 'upload2' AS upload FROM orders WHERE o_orderstatus = 'F'
    UNION ALL
    SELECT o_orderkey, 'upload3' AS upload FROM orders WHERE o_orderstatus = 'P'
    """,
)
def u1_union_all_uploads(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    parts = [
        o.filter(F.col("o_orderstatus") == s).select(
            "o_orderkey", F.lit(f"upload{i + 1}").alias("upload")
        )
        for i, s in enumerate(["O", "F", "P"])
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# U2: UNION ALL + DISTINCT (get_event_tables pattern)
@register(
    "u2_union_distinct",
    oracle="""
    SELECT DISTINCT event_type FROM (
      SELECT event_type FROM events WHERE value > 50
      UNION ALL
      SELECT event_type FROM events WHERE user_id < 100
    )
    """,
)
def u2_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")["events"]
    return (
        e.filter(F.col("value") > 50)
        .select("event_type")
        .unionByName(e.filter(F.col("user_id") < 100).select("event_type"))
        .distinct()
    )


# U3: preserve-rows union (custom concepts ∪ standard rows, merge.sql:144-149)
@register(
    "u3_preserve_union",
    oracle="""
    SELECT n_nationkey AS id, n_name AS name, 'custom' AS kind
    FROM nation WHERE n_regionkey = 0
    UNION ALL
    SELECT n_nationkey AS id, n_name AS name, 'standard' AS kind
    FROM nation WHERE n_regionkey <> 0
    """,
)
def u3_preserve_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")["nation"]
    custom = n.filter(F.col("n_regionkey") == 0).select(
        F.col("n_nationkey").alias("id"), F.col("n_name").alias("name"), F.lit("custom").alias("kind")
    )
    std = n.filter(F.col("n_regionkey") != 0).select(
        F.col("n_nationkey").alias("id"), F.col("n_name").alias("name"), F.lit("standard").alias("kind")
    )
    return custom.unionByName(std)


# F1-F11: scalar-function suite (concat/case/coalesce/string/date fns)
@register(
    "f_scalar_suite",
    oracle="""
    SELECT c_custkey,
           'C_' || c_name                                        AS tagged,
           lower(c_mktsegment)                                   AS seg_lower,
           substr(c_name, 1, 8)                                  AS name_prefix,
           CAST(length(c_name) AS BIGINT)                        AS name_len,
           regexp_replace(c_name, '[0-9]+', '#', 'g')            AS name_masked,
           COALESCE(nullif(c_mktsegment, 'BUILDING'), 'OTHER')   AS seg_default,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'mid'
                ELSE 'high' END                                  AS bal_band,
           strftime(strptime('19940102', '%Y%m%d'), '%Y-%m-%d')  AS fixed_date
    FROM customer
    """,
)
def f_scalar_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")["customer"]
    return c.select(
        "c_custkey",
        F.concat(F.lit("C_"), F.col("c_name")).alias("tagged"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("long").alias("name_len"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("OTHER")).alias(
            "seg_default"
        ),
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_band"),
        F.date_format(F.to_date(F.lit("19940102"), "yyyyMMdd"), "yyyy-MM-dd").alias(
            "fixed_date"
        ),
    )


# M1: UPDATE ... WHERE emulation (invalidate stale mappings)
# (bq:etl/SOURCE_TO_CONCEPT_MAP_update_invalid_reason.sql.jinja:3-5)
@register(
    "m1_update_invalidate",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
                THEN 'D' ELSE NULL END AS invalid_reason,
           o_orderstatus
    FROM orders
    """,
)
def m1_update_invalidate(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")["orders"]
    return o.select(
        "o_orderkey",
        F.when(
            F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"), "D"
        )
        .otherwise(F.lit(None).cast("string"))
        .alias("invalid_reason"),
        "o_orderstatus",
    )


# §2.J: the full swap-table sequence-assignment pattern
# (persistent swap + MAX watermark + anti join + ROW_NUMBER + union)
@register(
    "seq_swap_assign",
    oracle="""
    WITH existing AS (
      SELECT 'CUST_' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS x,
             CAST(ROW_NUMBER() OVER (
               ORDER BY 'CUST_' || lpad(CAST(c_custkey AS VARCHAR), 6, '0')
             ) AS BIGINT) AS y
      FROM customer WHERE c_custkey % 2 = 0
    ), mx AS (
      SELECT COALESCE(MAX(y), 0) AS m FROM existing
    ), new_keys AS (
      SELECT 'CUST_' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS x
      FROM customer c WHERE c_custkey % 2 = 1
    ), assigned AS (
      SELECT n.x,
             CAST(ROW_NUMBER() OVER (ORDER BY n.x) + mx.m AS BIGINT) AS y
      FROM new_keys n
      CROSS JOIN mx
      WHERE NOT EXISTS (SELECT 1 FROM existing e WHERE e.x = n.x)
    )
    SELECT x, y, 'existing' AS origin FROM existing
    UNION ALL
    SELECT x, y, 'new' AS origin FROM assigned
    """,
)
def seq_swap_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import next_offset

    c = _t(spark, sf_dir, "customer")["customer"]
    x = F.concat(F.lit("CUST_"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")).alias("x")
    existing = assign_ids(
        c.filter(F.col("c_custkey") % 2 == 0).select(x), ["x"], mode="strict", out_col="y"
    ).select("x", F.col("y").cast("long").alias("y"))
    offset = next_offset(existing, "y")
    new_keys = c.filter(F.col("c_custkey") % 2 == 1).select(x).join(
        existing.select("x"), "x", "left_anti"
    )
    assigned = assign_ids(new_keys, ["x"], offset=offset, mode="strict", out_col="y").select(
        "x", F.col("y").cast("long").alias("y")
    )
    return existing.withColumn("origin", F.lit("existing")).unionByName(
        assigned.withColumn("origin", F.lit("new"))
    )


# Q3-style: multi-join + aggregation + top-k (bench headliner)
@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate  > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem")
    return (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("l_shipdate") > F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"))
    )


# Q5-style: 6-way join with region filter (bench headliner)
@register(
    "q5_region_revenue",
    oracle="""
    SELECT n_name, ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE', 'AFRICA', 'AMERICA', 'MIDDLE EAST')
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "customer", "orders", "lineitem", "supplier", "nation", "region")
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name").isin("ASIA", "EUROPE", "AFRICA", "AMERICA", "MIDDLE EAST"))
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.col("n_name"))
    )


@register(
    "j3_fk_swap_routing",
    oracle="""
    WITH cust_swap AS (
      SELECT 'PK_' || CAST(c_custkey AS VARCHAR) AS x,
             c_custkey + 1000000 AS y
      FROM customer
    ), prequel AS (
      SELECT o_orderkey, 'PK_' || CAST(o_custkey AS VARCHAR) AS cust_fk,
             CASE WHEN o_orderkey % 10 = 0 THEN 'PK_MISSING'
                  ELSE 'PK_' || CAST(o_custkey AS VARCHAR) END AS cust_fk2
      FROM orders
    )
    SELECT o_orderkey,
           CAST(COALESCE(s1.y, 0) AS BIGINT) AS cust_fk,
           CAST(COALESCE(s2.y, 0) AS BIGINT) AS cust_fk2
    FROM prequel
    LEFT JOIN cust_swap s1 ON prequel.cust_fk  = s1.x
    LEFT JOIN cust_swap s2 ON prequel.cust_fk2 = s2.x
    """,
    doc="J3: remap two FK prequel columns through a parent swap; misses → 0.",
)
def j3_fk_swap_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..mapping.swap import apply_fk_swaps

    t = _t(spark, sf_dir, "customer", "orders")
    swap = t["customer"].select(
        F.concat(F.lit("PK_"), F.col("c_custkey").cast("string")).alias("x"),
        (F.col("c_custkey") + 1_000_000).alias("y"),
    )
    prequel = t["orders"].select(
        "o_orderkey",
        F.concat(F.lit("PK_"), F.col("o_custkey").cast("string")).alias("cust_fk"),
        F.when(F.col("o_orderkey") % 10 == 0, F.lit("PK_MISSING"))
        .otherwise(F.concat(F.lit("PK_"), F.col("o_custkey").cast("string")))
        .alias("cust_fk2"),
    )
    return apply_fk_swaps(
        prequel,
        {"cust_fk": swap, "cust_fk2": swap},
        required={"cust_fk": True, "cust_fk2": True},
    )


@register(
    "w4_rekey_window_losers",
    oracle="""
    WITH ranked AS (
      SELECT o_orderkey, o_custkey,
             ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS rn
      FROM orders WHERE o_orderkey <= 2000
    ), mx AS (SELECT MAX(o_orderkey) AS max_id FROM orders WHERE o_orderkey <= 2000),
    losers AS (
      SELECT o_custkey, o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_custkey, o_orderkey) AS lrn
      FROM ranked WHERE rn > 1
    )
    SELECT r.o_custkey, CAST(r.o_orderkey AS BIGINT) AS new_key
    FROM ranked r WHERE r.rn = 1
    UNION ALL
    SELECT l.o_custkey, CAST(mx.max_id + l.lrn AS BIGINT) AS new_key
    FROM losers l CROSS JOIN mx
    """,
    doc="W4: keep rn=1 rows; losers get fresh keys = MAX(id) + row_number "
    "(bq:etl/{omop_table}_apply_event_columns.sql.jinja:165-189). Strict "
    "global window on the LOSER SUBSET only — duplicates are rare, so the "
    "single-partition window sees a sliver of the data.",
)
def w4_rekey_window_losers(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = _t(spark, sf_dir, "orders")["orders"].filter(F.col("o_orderkey") <= 2000)
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    ranked = t.select("o_orderkey", "o_custkey").withColumn(
        "rn", F.row_number().over(w)
    )
    keepers = ranked.filter(F.col("rn") == 1).select(
        "o_custkey", F.col("o_orderkey").cast("long").alias("new_key")
    )
    max_id = t.agg(F.max("o_orderkey").alias("__mx"))
    lw = Window.orderBy("o_custkey", "o_orderkey")
    losers = (
        ranked.filter(F.col("rn") > 1)
        .withColumn("lrn", F.row_number().over(lw))
        .crossJoin(F.broadcast(max_id))
        .select(
            "o_custkey", (F.col("__mx") + F.col("lrn")).cast("long").alias("new_key")
        )
    )
    return keepers.unionByName(losers)
