"""Metadata-driven DQD sweep — "run the whole DQD over my CDM" in one call.

The reference loads 4 OHDSI CSVs and instantiates thousands of
per-table/field/concept check rows with thresholds
(/root/reference/src/riab/etl/data_quality.py:57-101, level dispatch
:209-224, threshold eval :322-347), then executes one rendered SQL query
per check from a thread pool.  Here the same enumeration is driven from
the CDM registry (core/cdm54.py TableSpec metadata: required flags, pk,
fk routing, concept columns, start/end date pairs), and execution is
re-planned Spark-first:

- **one aggregation pass per table** evaluates every column-level check
  of that table simultaneously (each check is a conditional-sum in a
  shared agg; FK/person/death/concept lookups are key-deduplicated and
  joined once before the agg, join strategy AQE-decided).  The
  reference runs N queries = N scans; this runs
  ~1 scan per table regardless of how many checks it carries — the
  difference between 400 jobs and 39 at 100 TB.
- metadata-level families (cdmTable, cdmField, cdmDatatype) never touch
  data: they are driver-side schema comparisons emitted as literal rows.
- measurePersonCompleteness batches too: one pass over person joined
  against each fact table's distinct person_id set.

Thresholds: the reference reads per-check thresholds from the OHDSI
CSVs; here each family carries a default (structural families 0,
plausibility 1%, completeness families informational) overridable per
check name — pct_violated_rows > threshold → failed, exactly the
reference's semantics (data_quality.py:322-347).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable, Mapping
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.caching import local_frame
from ..core.registry import SchemaRegistry, spark_type

Reader = Callable[[str], DataFrame | None]

# Family → default threshold on pct_violated_rows (fraction).  The
# reference's per-check values live in the OHDSI Field/Table/Concept
# level CSVs; these defaults follow the same spirit: structural checks
# zero-tolerance, plausibility 1%, completeness families informational
# (threshold 1.0 never fails — they exist to be *looked at*).
DEFAULT_THRESHOLDS: dict[str, float] = {
    "cdmTable": 0.0,
    "cdmField": 0.0,
    "cdmDatatype": 0.0,
    "isRequired": 0.0,
    "isPrimaryKey": 0.0,
    "isForeignKey": 0.0,
    "fkDomain": 0.0,
    "fkClass": 0.0,
    "plausibleValueLow": 0.01,
    "plausibleValueHigh": 0.01,
    "plausibleStartBeforeEnd": 0.01,
    "plausibleAfterBirth": 0.01,
    "plausibleBeforeDeath": 0.01,
    "withinVisitDates": 0.05,
    "measureValueCompleteness": 1.0,
    "standardConceptRecordCompleteness": 1.0,
    "sourceConceptRecordCompleteness": 1.0,
    "sourceValueCompleteness": 1.0,
    "measurePersonCompleteness": 1.0,
    "plausibleGenderUseDescendants": 0.01,
    "plausibleUnitConceptIds": 0.01,
}

# Plausible value ranges for specific CDM fields (public DQD convention:
# year_of_birth floor 1850; calendar-component bounds; dispensing caps).
PLAUSIBLE_RANGES: dict[str, tuple[float, float]] = {
    "year_of_birth": (1850, 2099),
    "month_of_birth": (1, 12),
    "day_of_birth": (1, 31),
    "days_supply": (0, 365),
    "refills": (0, 24),
}

# Concept-level family defaults.  The reference drives
# plausibleGenderUseDescendants / plausibleUnitConceptIds from the OHDSI
# Concept_Level CSV (data_quality.py:209-217), which vendors thousands of
# (concept, constraint) rows; that CSV is not shipped here, so the sweep
# carries seed defaults — the canonical gender-conditional concepts and
# vital-sign UCUM units — and deployments pass the full maps via
# ``run_sweep(gender_specific=..., allowed_units=...)``.  The descendant
# expansion ("UseDescendants") is precomputed into the map, making the
# runtime check a pure map lookup inside the single aggregation pass.

# concept_id → required gender concept (8507 male / 8532 female)
GENDER_SPECIFIC_DEFAULTS: dict[int, int] = {
    4163261: 8507,  # neoplasm of prostate → male
    4299535: 8532,  # pregnancy finding → female
}

# columns the gender family applies to (DQD scopes it to the clinical
# event domains, not visits/types/units)
GENDER_CHECK_COLS = frozenset(
    {
        "condition_concept_id",
        "procedure_concept_id",
        "observation_concept_id",
        "measurement_concept_id",
    }
)

# measurement concept_id → allowed unit concept ids
ALLOWED_UNIT_DEFAULTS: dict[int, list[int]] = {
    3036277: [8582],  # body height → centimeter
    3025315: [9529],  # body weight → kilogram
    3027018: [8541],  # heart rate → per minute
}

# (concept column, unit column) pairs the unit family applies to
UNIT_CHECK_COLS = (
    ("measurement_concept_id", "unit_concept_id"),
    ("observation_concept_id", "unit_concept_id"),
)

# table → concept column → required concept class (the Field_Level
# fkClass column; public DQD applies it to the era tables' drug
# concepts, which must be Ingredient-level).
FK_CLASSES: dict[str, dict[str, str]] = {
    "drug_era": {"drug_concept_id": "Ingredient"},
    "dose_era": {"drug_concept_id": "Ingredient"},
}

# Concept column → allowed OMOP domain (the Field_Level fkDomain column).
FK_DOMAINS: dict[str, str] = {
    "gender_concept_id": "Gender",
    "race_concept_id": "Race",
    "ethnicity_concept_id": "Ethnicity",
    "condition_concept_id": "Condition",
    "drug_concept_id": "Drug",
    "procedure_concept_id": "Procedure",
    "device_concept_id": "Device",
    "measurement_concept_id": "Measurement",
    "observation_concept_id": "Observation",
    "visit_concept_id": "Visit",
    "visit_detail_concept_id": "Visit",
    "specialty_concept_id": "Provider",
    "unit_concept_id": "Unit",
    "route_concept_id": "Route",
    "currency_concept_id": "Currency",
}

RESULT_SCHEMA = (
    "check_name string, check_family string, cdm_table string, "
    "cdm_field string, num_violated_rows long, num_denominator_rows long"
)


@dataclass
class _Check:
    name: str
    family: str
    field: str
    cond: object  # Column: row violates the check


def _date_pairs(cols: Iterable[str]) -> list[tuple[str, str]]:
    cs = set(cols)
    pairs = []
    for c in cs:
        for suffix in ("_start_date", "_start_datetime"):
            if c.endswith(suffix):
                end = c.replace("_start_", "_end_")
                if end in cs:
                    pairs.append((c, end))
    return sorted(pairs)


def _primary_date_col(spec) -> str | None:
    """The table's leading event date (first *_start_date, else *_date)."""
    names = [c.name for c in spec.columns]
    for n in names:
        if n.endswith("_start_date"):
            return n
    for n in names:
        if n.endswith("_date"):
            return n
    return None


class _SharedLookups:
    """Deduped lookup projections computed ONCE per sweep and persisted.

    Without this, every (table, column) pair re-derives its own
    ``dropDuplicates`` over the same parent — the concept table alone
    would be re-scanned and re-shuffled for every concept column of
    every fact table (20+ identical dedup exchanges per sweep), and the
    person/death/visit projections once per fact table.  Persisting the
    shared frame turns all but the first use into a cache read; the
    frames are lookup-sized (vocab ~7M rows, person keyset is the
    biggest) so MEMORY_AND_DISK is safe even at production scale.

    Lifecycle: the persisted frames back the LAZY result ``run_sweep``
    returns, so the sweep cannot unpersist them itself without forcing
    every downstream action to re-derive each lookup.  Repeated sweeps
    in one session do NOT stack entries (Spark's CacheManager dedupes
    by canonicalized plan), but the last set stays cached until session
    end — long-lived sessions should pass their own instance and call
    ``unpersist_all()`` once the result is materialized."""

    def __init__(self) -> None:
        self._frames: dict[tuple, DataFrame | None] = {}

    def get(self, key: tuple, build) -> DataFrame | None:
        if key not in self._frames:
            frame = build()
            self._frames[key] = frame.persist() if frame is not None else None
        return self._frames[key]

    def unpersist_all(self) -> None:
        """Release every persisted lookup (call after the sweep result
        has been materialized — collected, written, or checkpointed)."""
        for frame in self._frames.values():
            if frame is not None:
                frame.unpersist()
        self._frames.clear()


def _table_checks(
    tname: str,
    spec,
    df: DataFrame,
    read: Reader,
    registry: SchemaRegistry,
    concept: DataFrame | None,
    gender_specific: Mapping[int, int] | None = None,
    allowed_units: Mapping[int, list[int]] | None = None,
    lookups: _SharedLookups | None = None,
) -> DataFrame | None:
    """All column-level checks of one table, evaluated in ONE agg pass."""
    if lookups is None:
        lookups = _SharedLookups()
    cols = set(df.columns)
    checks: list[_Check] = []
    joined = df

    # isRequired over declared-required columns
    for c in spec.required_cols():
        if c in cols:
            checks.append(
                _Check(f"isRequired_{tname}_{c}", "isRequired", c, F.col(c).isNull())
            )

    # plausibleStartBeforeEnd over declared date pairs
    for start, end in _date_pairs(cols):
        checks.append(
            _Check(
                f"plausibleStartBeforeEnd_{tname}_{start}",
                "plausibleStartBeforeEnd",
                start,
                F.col(start).isNotNull()
                & F.col(end).isNotNull()
                & (F.col(end) < F.col(start)),
            )
        )

    # plausibleValueLow/High from the public ranges
    for c, (lo, hi) in PLAUSIBLE_RANGES.items():
        if c in cols:
            checks.append(
                _Check(
                    f"plausibleValueLow_{tname}_{c}",
                    "plausibleValueLow",
                    c,
                    F.col(c).isNotNull() & (F.col(c) < F.lit(lo)),
                )
            )
            checks.append(
                _Check(
                    f"plausibleValueHigh_{tname}_{c}",
                    "plausibleValueHigh",
                    c,
                    F.col(c).isNotNull() & (F.col(c) > F.lit(hi)),
                )
            )

    # concept-level completeness families
    for c in spec.concept_cols:
        if c in cols:
            checks.append(
                _Check(
                    f"standardConceptRecordCompleteness_{tname}_{c}",
                    "standardConceptRecordCompleteness",
                    c,
                    F.col(c).isNull() | (F.col(c) == 0),
                )
            )
    for c in sorted(cols):
        if c.endswith("_source_concept_id"):
            checks.append(
                _Check(
                    f"sourceConceptRecordCompleteness_{tname}_{c}",
                    "sourceConceptRecordCompleteness",
                    c,
                    F.col(c).isNull() | (F.col(c) == 0),
                )
            )
        if c.endswith("_source_value"):
            checks.append(
                _Check(
                    f"sourceValueCompleteness_{tname}_{c}",
                    "sourceValueCompleteness",
                    c,
                    F.col(c).isNull() | (F.trim(F.col(c)) == ""),
                )
            )

    # measureValueCompleteness over the domain value columns
    for c in ("value_as_number", "value_as_concept_id", "quantity"):
        if c in cols and any(sc.name == c for sc in spec.columns):
            checks.append(
                _Check(
                    f"measureValueCompleteness_{tname}_{c}",
                    "measureValueCompleteness",
                    c,
                    F.col(c).isNull(),
                )
            )

    # isForeignKey: left-join each parent's distinct key set.  The join
    # strategy is AQE-decided: small vocab parents broadcast, fact-sized
    # parents (person at 100 TB) degrade gracefully to a shuffled SMJ.
    #
    # Every lookup below is deduplicated on its join key before joining.
    # Duplicate parent keys are exactly the broken-data condition this
    # sweep's own isPrimaryKey check measures; without the dedupe they
    # would fan out the fact rows and silently inflate every check's
    # violated AND denominator counts (the reference's per-check queries
    # isolate each join, so a bad parent only skews its own check).
    for i, (fk_col, parent) in enumerate(sorted(spec.fks.items())):
        if fk_col not in cols or parent not in registry:
            continue
        parent_df = read(parent)
        parent_pk = registry[parent].pk
        if parent_df is None or parent_pk is None or parent_pk not in parent_df.columns:
            continue
        marker = f"__fk{i}"
        # one distinct keyset per PARENT per sweep (person's keyset is
        # joined by every fact table — share it, don't recompute it)
        shared = lookups.get(
            ("fk_keys", parent),
            lambda: parent_df.select(F.col(parent_pk).alias("__k")).distinct(),
        )
        keys = shared.select(F.col("__k").alias(marker))
        joined = joined.join(
            keys, joined[fk_col] == F.col(marker), "left"
        )
        checks.append(
            _Check(
                f"isForeignKey_{tname}_{fk_col}",
                "isForeignKey",
                fk_col,
                F.col(fk_col).isNotNull() & F.col(marker).isNull(),
            )
        )

    # plausibleAfterBirth / plausibleBeforeDeath on the primary event date
    event_date = _primary_date_col(spec)
    if event_date and event_date in cols and tname != "person" and "person_id" in cols:
        person = read("person")
        if (
            person is not None
            and "person_id" in person.columns
            and "birth_datetime" in person.columns
        ):
            shared_birth = lookups.get(
                ("person_birth",),
                lambda: person.select(
                    F.col("person_id").alias("__k"),
                    F.col("birth_datetime").alias("__v"),
                ).dropDuplicates(["__k"]),
            )
            p = shared_birth.select(
                F.col("__k").alias("__ab_pid"), F.col("__v").alias("__birth")
            )
            joined = joined.join(
                p, joined["person_id"] == F.col("__ab_pid"), "left"
            )
            checks.append(
                _Check(
                    f"plausibleAfterBirth_{tname}_{event_date}",
                    "plausibleAfterBirth",
                    event_date,
                    F.col("__birth").isNotNull()
                    & F.col(event_date).isNotNull()
                    & (F.col(event_date).cast("timestamp") < F.col("__birth")),
                )
            )
        death = read("death")
        if tname != "death" and death is not None and "death_date" in (death.columns if death else []):
            shared_death = lookups.get(
                ("death_date",),
                lambda: death.select(
                    F.col("person_id").alias("__k"),
                    F.col("death_date").alias("__v"),
                ).dropDuplicates(["__k"]),
            )
            d = shared_death.select(
                F.col("__k").alias("__bd_pid"), F.col("__v").alias("__dd")
            )
            joined = joined.join(
                d, joined["person_id"] == F.col("__bd_pid"), "left"
            )
            checks.append(
                _Check(
                    f"plausibleBeforeDeath_{tname}_{event_date}",
                    "plausibleBeforeDeath",
                    event_date,
                    F.col("__dd").isNotNull()
                    & F.col(event_date).isNotNull()
                    & (
                        F.col(event_date).cast("date")
                        > F.date_add(F.col("__dd"), 60)
                    ),
                )
            )

    # withinVisitDates: the fact's event date must fall inside its
    # visit's [start, end] (DQD withinVisitDates)
    if (
        event_date
        and event_date in cols
        and "visit_occurrence_id" in cols
        and spec.fks.get("visit_occurrence_id") == "visit_occurrence"
    ):
        visit = read("visit_occurrence")
        if visit is not None and {
            "visit_occurrence_id",
            "visit_start_date",
            "visit_end_date",
        } <= set(visit.columns):
            shared_visit = lookups.get(
                ("visit_dates",),
                lambda: visit.select(
                    F.col("visit_occurrence_id").alias("__k"),
                    F.col("visit_start_date").alias("__s"),
                    F.col("visit_end_date").alias("__e"),
                ).dropDuplicates(["__k"]),
            )
            v = shared_visit.select(
                F.col("__k").alias("__wv_id"),
                F.col("__s").alias("__wv_s"),
                F.col("__e").alias("__wv_e"),
            )
            joined = joined.join(
                v,
                joined["visit_occurrence_id"] == F.col("__wv_id"),
                "left",
            )
            checks.append(
                _Check(
                    f"withinVisitDates_{tname}_{event_date}",
                    "withinVisitDates",
                    event_date,
                    F.col("__wv_id").isNotNull()
                    & F.col(event_date).isNotNull()
                    & (
                        (F.col(event_date) < F.col("__wv_s"))
                        | (F.col(event_date) > F.col("__wv_e"))
                    ),
                )
            )

    # plausibleGenderUseDescendants: gender-conditional concepts vs the
    # person's gender.  The descendant expansion lives in the map, so the
    # runtime cost is one (deduped) person join shared by every scoped
    # concept column plus a map lookup per row in the shared agg pass —
    # the reference renders one query per (concept, table) row instead.
    if gender_specific and tname != "person" and "person_id" in cols:
        gcols = [
            c for c in spec.concept_cols if c in cols and c in GENDER_CHECK_COLS
        ]
        person = read("person") if gcols else None
        if person is not None and {"person_id", "gender_concept_id"} <= set(
            person.columns
        ):
            shared_gender = lookups.get(
                ("person_gender",),
                lambda: person.select(
                    F.col("person_id").alias("__k"),
                    F.col("gender_concept_id").alias("__v"),
                ).dropDuplicates(["__k"]),
            )
            pg = shared_gender.select(
                F.col("__k").alias("__pg_pid"), F.col("__v").alias("__pgender")
            )
            joined = joined.join(
                pg, joined["person_id"] == F.col("__pg_pid"), "left"
            )
            req_map = F.create_map(
                *[
                    F.lit(x).cast("long")
                    for kv in gender_specific.items()
                    for x in kv
                ]
            )
            for c in gcols:
                req = req_map[F.col(c).cast("long")]
                checks.append(
                    _Check(
                        f"plausibleGenderUseDescendants_{tname}_{c}",
                        "plausibleGenderUseDescendants",
                        c,
                        req.isNotNull()
                        & F.col("__pgender").isNotNull()
                        & (F.col("__pgender").cast("long") != req),
                    )
                )

    # plausibleUnitConceptIds: units outside the allowed set for their
    # measurement concept — a pure array-membership projection, no join.
    if allowed_units:
        scope_vals = [int(k) for k in allowed_units]
        pairs = [
            (int(m), int(u)) for m, units in allowed_units.items() for u in units
        ]
        allowed_arr = F.array(
            *[
                F.struct(
                    F.lit(m).cast("long").alias("m"),
                    F.lit(u).cast("long").alias("u"),
                )
                for m, u in pairs
            ]
        )
        for c, unit_col in UNIT_CHECK_COLS:
            if c not in cols or unit_col not in cols or c not in spec.concept_cols:
                continue
            ok = F.array_contains(
                allowed_arr,
                F.struct(
                    F.col(c).cast("long").alias("m"),
                    F.col(unit_col).cast("long").alias("u"),
                ),
            )
            checks.append(
                _Check(
                    f"plausibleUnitConceptIds_{tname}_{c}",
                    "plausibleUnitConceptIds",
                    unit_col,
                    F.col(c).isin(scope_vals)
                    & F.col(unit_col).isNotNull()
                    & ~ok,
                )
            )

    # fkDomain via the vocabulary concept table (when loaded)
    if concept is not None and "domain_id" in concept.columns:
        for j, c in enumerate(spec.concept_cols):
            dom = FK_DOMAINS.get(c)
            if dom is None or c not in cols:
                continue
            shared_dom = lookups.get(
                ("concept_domain",),
                lambda: concept.select(
                    F.col("concept_id").alias("__k"),
                    F.col("domain_id").alias("__v"),
                ).dropDuplicates(["__k"]),
            )
            lk = shared_dom.select(
                F.col("__k").alias(f"__dc{j}"), F.col("__v").alias(f"__dom{j}")
            )
            joined = joined.join(
                lk, joined[c] == F.col(f"__dc{j}"), "left"
            )
            checks.append(
                _Check(
                    f"fkDomain_{tname}_{c}",
                    "fkDomain",
                    c,
                    (F.col(c) > 0)
                    & F.col(f"__dom{j}").isNotNull()
                    & (F.col(f"__dom{j}") != F.lit(dom)),
                )
            )

    # fkClass: era-table drug concepts must be Ingredient-class
    if concept is not None and "concept_class_id" in concept.columns:
        for k, (c, cls) in enumerate(FK_CLASSES.get(tname, {}).items()):
            if c not in cols:
                continue
            shared_cls = lookups.get(
                ("concept_class",),
                lambda: concept.select(
                    F.col("concept_id").alias("__k"),
                    F.col("concept_class_id").alias("__v"),
                ).dropDuplicates(["__k"]),
            )
            lk = shared_cls.select(
                F.col("__k").alias(f"__cc{k}"), F.col("__v").alias(f"__cls{k}")
            )
            joined = joined.join(lk, joined[c] == F.col(f"__cc{k}"), "left")
            checks.append(
                _Check(
                    f"fkClass_{tname}_{c}",
                    "fkClass",
                    c,
                    (F.col(c) > 0)
                    & F.col(f"__cls{k}").isNotNull()
                    & (F.col(f"__cls{k}") != F.lit(cls)),
                )
            )

    has_pk_check = spec.pk is not None and spec.pk in cols
    if not checks and not has_pk_check:
        return None

    # ONE aggregation evaluates everything: conditional sums + count(*)
    # (+ one distinct count for the pk check) — map-side partials, a
    # single scan of the (broadcast-augmented) table.
    aggs = [F.count(F.lit(1)).alias("__denom")]
    for i, ch in enumerate(checks):
        aggs.append(F.sum(F.when(ch.cond, 1).otherwise(0)).alias(f"__v{i}"))
    if has_pk_check:
        # excess rows beyond one per key == rows lost to pk duplication
        aggs.append(F.count_distinct(F.col(spec.pk)).alias("__pk_distinct"))
    agged = joined.agg(*aggs)

    structs = [
        F.struct(
            F.lit(ch.name).alias("check_name"),
            F.lit(ch.family).alias("check_family"),
            F.lit(tname).alias("cdm_table"),
            F.lit(ch.field).alias("cdm_field"),
            F.col(f"__v{i}").cast("long").alias("num_violated_rows"),
            F.col("__denom").cast("long").alias("num_denominator_rows"),
        )
        for i, ch in enumerate(checks)
    ]
    if has_pk_check:
        structs.append(
            F.struct(
                F.lit(f"isPrimaryKey_{tname}_{spec.pk}").alias("check_name"),
                F.lit("isPrimaryKey").alias("check_family"),
                F.lit(tname).alias("cdm_table"),
                F.lit(spec.pk).alias("cdm_field"),
                (F.col("__denom") - F.col("__pk_distinct"))
                .cast("long")
                .alias("num_violated_rows"),
                F.col("__denom").cast("long").alias("num_denominator_rows"),
            )
        )
    return agged.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


def _person_completeness(
    read: Reader, registry: SchemaRegistry, tables: list[str]
) -> DataFrame | None:
    """measurePersonCompleteness for every fact table, in one person pass."""
    person = read("person")
    if person is None or "person_id" not in person.columns:
        return None
    joined = person
    fact_tables = []
    for i, tname in enumerate(tables):
        if tname == "person":
            continue
        spec = registry[tname]
        if "person_id" not in [c.name for c in spec.columns]:
            continue
        fact = read(tname)
        if fact is None or "person_id" not in fact.columns:
            continue
        marker = f"__mp{i}"
        keys = fact.select(F.col("person_id").alias(marker)).distinct()
        joined = joined.join(
            keys, joined["person_id"] == F.col(marker), "left"
        )
        fact_tables.append((tname, marker))
    if not fact_tables:
        return None
    aggs = [F.count(F.lit(1)).alias("__denom")] + [
        F.sum(F.when(F.col(marker).isNull(), 1).otherwise(0)).alias(f"__v{i}")
        for i, (_, marker) in enumerate(fact_tables)
    ]
    agged = joined.agg(*aggs)
    structs = [
        F.struct(
            F.lit(f"measurePersonCompleteness_{tname}").alias("check_name"),
            F.lit("measurePersonCompleteness").alias("check_family"),
            F.lit(tname).alias("cdm_table"),
            F.lit("person_id").alias("cdm_field"),
            F.col(f"__v{i}").cast("long").alias("num_violated_rows"),
            F.col("__denom").cast("long").alias("num_denominator_rows"),
        )
        for i, (tname, _) in enumerate(fact_tables)
    ]
    return agged.select(F.explode(F.array(*structs)).alias("r")).select("r.*")


def _metadata_rows(
    registry: SchemaRegistry, read: Reader, tables: list[str]
) -> list[tuple]:
    """cdmTable / cdmField / cdmDatatype: pure schema facts, zero scans."""
    rows: list[tuple] = []
    for tname in tables:
        spec = registry[tname]
        df = read(tname)
        rows.append(
            (f"cdmTable_{tname}", "cdmTable", tname, None, 0 if df is not None else 1, 1)
        )
        if df is None:
            continue
        actual = dict(df.dtypes)
        for c in spec.columns:
            present = c.name in actual
            rows.append(
                (
                    f"cdmField_{tname}_{c.name}",
                    "cdmField",
                    tname,
                    c.name,
                    0 if present else 1,
                    1,
                )
            )
            if present:
                expected = spark_type(c.dtype).simpleString()
                ok = actual[c.name] == expected or (
                    # longs stored as int parquet still satisfy integer cdm types
                    expected == "bigint" and actual[c.name] in ("int", "bigint")
                )
                rows.append(
                    (
                        f"cdmDatatype_{tname}_{c.name}",
                        "cdmDatatype",
                        tname,
                        c.name,
                        0 if ok else 1,
                        1,
                    )
                )
    return rows


def run_sweep(
    spark: SparkSession,
    read: Reader,
    registry: SchemaRegistry,
    concept: DataFrame | None = None,
    tables: Iterable[str] | None = None,
    families: Iterable[str] | None = None,
    thresholds: Mapping[str, float] | None = None,
    warehouse=None,
    gender_specific: Mapping[int, int] | None = None,
    allowed_units: Mapping[int, list[int]] | None = None,
    lookups: _SharedLookups | None = None,
) -> DataFrame:
    """Enumerate and run the whole DQD over the CDM exposed by ``read``.

    Returns one row per instantiated check:
    (check_name, check_family, cdm_table, cdm_field, num_violated_rows,
    pct_violated_rows, num_denominator_rows, threshold, failed).

    The result is lazy and backed by persisted shared lookup frames
    (see ``_SharedLookups``); when ``warehouse`` is given the write
    materializes the result and lookups THIS call created are released
    before returning — a caller-supplied ``lookups`` is never
    unpersisted here (the caller owns its cache lifecycle, e.g. when
    sharing one instance across several sweeps).  Without a warehouse,
    long-lived sessions should pass ``lookups=`` and call
    ``unpersist_all()`` after materializing.

    The concept-level families auto-enumerate from
    ``GENDER_SPECIFIC_DEFAULTS`` / ``ALLOWED_UNIT_DEFAULTS`` (the
    reference's Concept_Level CSV equivalents); pass ``gender_specific``
    / ``allowed_units`` to supply the full production maps, or empty
    mappings to disable the families.
    """
    if gender_specific is None:
        gender_specific = GENDER_SPECIFIC_DEFAULTS
    if allowed_units is None:
        allowed_units = ALLOWED_UNIT_DEFAULTS
    wanted = list(tables) if tables is not None else sorted(registry.tables)
    frames: list[DataFrame] = []

    meta = _metadata_rows(registry, read, wanted)
    if meta:
        frames.append(local_frame(spark, meta, RESULT_SCHEMA))

    owns_lookups = lookups is None
    if owns_lookups:
        lookups = _SharedLookups()
    for tname in wanted:
        df = read(tname)
        if df is None:
            continue
        per_table = _table_checks(
            tname,
            registry[tname],
            df,
            read,
            registry,
            concept,
            gender_specific=gender_specific,
            allowed_units=allowed_units,
            lookups=lookups,
        )
        if per_table is not None:
            frames.append(per_table)

    mpc = _person_completeness(read, registry, wanted)
    if mpc is not None:
        frames.append(mpc)

    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)

    if families is not None:
        out = out.filter(F.col("check_family").isin(list(families)))

    thr_over = dict(thresholds or {})
    fam_thr = F.create_map(
        *[F.lit(x) for kv in DEFAULT_THRESHOLDS.items() for x in kv]
    )
    name_thr = (
        F.create_map(*[F.lit(x) for kv in thr_over.items() for x in kv])
        if thr_over
        else None
    )
    thr = F.coalesce(
        *( [name_thr[F.col("check_name")]] if name_thr is not None else [] ),
        fam_thr[F.col("check_family")],
        F.lit(0.0),
    )
    out = (
        out.withColumn(
            "pct_violated_rows",
            F.round(
                F.col("num_violated_rows")
                / F.greatest(F.col("num_denominator_rows"), F.lit(1)),
                6,
            ),
        )
        .withColumn("threshold", thr)
        .withColumn(
            "failed", (F.col("pct_violated_rows") > F.col("threshold")).cast("int")
        )
        .select(
            "check_name",
            "check_family",
            "cdm_table",
            "cdm_field",
            "num_violated_rows",
            "pct_violated_rows",
            "num_denominator_rows",
            "threshold",
            "failed",
        )
    )
    if warehouse is not None:
        # The write is an action: the result is now durable parquet, so
        # the shared lookups can be released and the returned frame
        # re-read from the warehouse (no cache dependency downstream).
        # Only lookups THIS call created are released — a caller sharing
        # one _SharedLookups across sweeps keeps its cache.
        #
        # Runs APPEND under a fresh run_id (reference keeps every DQD
        # run and the dashboard's dropdown selects among them,
        # data_quality_dashboard.py:369-377); the returned frame is
        # re-read but scoped to THIS run so the function's contract is
        # unchanged by history.
        from .dqd import persist_run

        run_id = str(uuid.uuid4())
        persist_run(warehouse, spark, out, run_id)
        if owns_lookups:
            lookups.unpersist_all()
        return (
            warehouse.read(spark, "dqd", "dqdashboard_results")
            .filter(F.col("run_id") == run_id)
            .select(*out.columns)
        )
    return out
