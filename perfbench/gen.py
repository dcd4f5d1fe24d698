"""Seeded synthetic inputs for the benchmark workloads.

Everything the engine reads is generated here from ``--seed``:

- an EMR raw zone (patients, encounters, labs) as parquet directories;
- the RiaB convention folder tree: one upload query per OMOP table,
  Usagi CSVs with APPROVED, SEMI-APPROVED and unmapped codes, and one
  custom-concept CSV;
- a manifest of what a correct ETL must produce, and of the planted
  data-quality violations DQD must find;
- a documents corpus split into micro-batch files for the stream.

Pure Python + pyarrow: the same seed gives byte-identical inputs, and
no Spark job runs while inputs are made.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# -- vocabularies -------------------------------------------------------------
# (source code, Usagi mapping status, concept id).  The CLI maps APPROVED
# rows only (no --process-semi-approved-mappings), so SEMI-APPROVED and
# UNCHECKED codes land as concept 0, and so do codes absent from the CSV.
GENDER = [("M", "APPROVED", 8507), ("F", "APPROVED", 8532),
          ("U", "SEMI-APPROVED", 8551)]
RACE = [("W", "APPROVED", 8527), ("B", "APPROVED", 8516),
        ("A", "APPROVED", 8515), ("O", "UNCHECKED", 0)]
ETHNICITY = [("H", "APPROVED", 38003563), ("N", "APPROVED", 38003564)]
VISIT = [("OP", "APPROVED", 9202), ("IP", "APPROVED", 9201),
         ("ER", "APPROVED", 9203)]
# labs: (code, Usagi status or None = absent from the CSV, concept, unit,
# value low, value high)
LABS = (
    [("HT", "APPROVED", 3036277, "cm", 140.0, 200.0),
     ("WT", "APPROVED", 3025315, "kg", 40.0, 130.0),
     ("HR", "APPROVED", 3027018, "/min", 45.0, 120.0)]
    + [(f"L{i:02d}", "APPROVED", 3_000_100 + i, "mg/dL", 1.0, 300.0)
       for i in range(16)]
    + [(f"S{i:02d}", "SEMI-APPROVED", 3_000_200 + i, "mg/dL", 1.0, 300.0)
       for i in range(3)]
    + [(f"X{i:02d}", None, 0, "mg/dL", 1.0, 300.0) for i in range(3)]
)
# local lab codes: Usagi rows with conceptId 0, patched by the custom
# concepts the ETL mints (ids >= 2 000 000 000)
LOCAL_LABS = [f"LOC{i}" for i in range(5)]
UNITS = [("cm", "APPROVED", 8582), ("kg", "APPROVED", 9529),
         ("/min", "APPROVED", 8541), ("mg/dL", "APPROVED", 8840)]
CUSTOM_CONCEPT_BASE = 2_000_000_000
VISIT_FIELD_CONCEPT = 1147070  # meas_event_field_concept_id for visits

# planted data-quality violations; each family fails above 1% of rows
PLANT_MONTH_FRAC = 0.05      # person.month_of_birth = 13
PLANT_VISIT_END_FRAC = 0.04  # visit ends the day before it starts
PLANT_HT_KG_FRAC = 0.50      # body height recorded in kg

EPOCH = dt.date(2015, 1, 1)


def _mapped(table, code: str) -> int:
    for c, status, cid, *_ in table:
        if c == code:
            return cid if status == "APPROVED" else 0
    return 0


def emr(seed: int, persons: int) -> dict[str, list]:
    """Raw EMR rows; a person's rows depend only on the seed and the
    person number."""
    out = {k: [] for k in RAW_SCHEMAS}
    for pid in range(persons):
        _person(random.Random(seed * 1_000_003 + pid), pid, out)
    return out


def _person(r: random.Random, pid: int, out: dict[str, list]) -> None:
    sex = r.choices("MFU", weights=(48, 48, 4))[0]
    month = 13 if r.random() < PLANT_MONTH_FRAC else r.randint(1, 12)
    pkey = f"P{pid:07d}"
    out["patients"].append({
        "patient_id": pkey, "sex": sex, "birth_year": r.randint(1930, 2010),
        "birth_month": month, "race": r.choice("WBAO"),
        "ethnicity": r.choice("HN"),
    })
    for v in range(r.randint(1, 4)):
        ekey = f"E{pid:07d}{v}"
        start = EPOCH + dt.timedelta(days=r.randint(0, 8 * 365))
        enc_type = r.choices(("OP", "IP", "ER"), weights=(70, 20, 10))[0]
        days = r.randint(1, 9) if enc_type == "IP" else 0
        if r.random() < PLANT_VISIT_END_FRAC:
            days = -1
        out["encounters"].append({
            "encounter_id": ekey, "patient_id": pkey, "enc_type": enc_type,
            "start_date": start, "end_date": start + dt.timedelta(days=days),
        })
        for m in range(r.randint(0, 4)):
            if r.random() < 0.05:
                code, unit, value = r.choice(LOCAL_LABS), "mg/dL", r.uniform(1, 9)
            else:
                code, _s, _c, unit, lo, hi = r.choice(LABS)
                value = r.uniform(lo, hi)
                if code == "HT" and r.random() < PLANT_HT_KG_FRAC:
                    unit = "kg"
            out["labs"].append({
                "lab_id": f"M{pid:07d}{v}{m}", "patient_id": pkey,
                "encounter_id": ekey, "code": code,
                "value": round(value, 1), "unit": unit, "lab_date": start,
            })


RAW_SCHEMAS = {
    "patients": pa.schema([("patient_id", pa.string()), ("sex", pa.string()),
                           ("birth_year", pa.int32()), ("birth_month", pa.int32()),
                           ("race", pa.string()), ("ethnicity", pa.string())]),
    "encounters": pa.schema([("encounter_id", pa.string()), ("patient_id", pa.string()),
                             ("enc_type", pa.string()), ("start_date", pa.date32()),
                             ("end_date", pa.date32())]),
    "labs": pa.schema([("lab_id", pa.string()), ("patient_id", pa.string()),
                       ("encounter_id", pa.string()), ("code", pa.string()),
                       ("value", pa.float64()), ("unit", pa.string()),
                       ("lab_date", pa.date32())]),
}


def write_raw(raw_dir: str, rows: dict[str, list]) -> int:
    """One parquet directory per raw table; returns bytes written."""
    total = 0
    for name, schema in RAW_SCHEMAS.items():
        d = os.path.join(raw_dir, f"{name}.parquet")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "part-00000.parquet")
        pq.write_table(pa.Table.from_pylist(rows[name], schema=schema), path)
        total += os.path.getsize(path)
    return total


# -- convention folders ---------------------------------------------------------
# per OMOP table: (raw table, {column: expression}).  Keys, FKs and the
# event column carry source strings (the engine renumbers them) and
# concept columns carry source codes in <column>__source (Usagi maps
# them); ``upload_query`` adds every other CDM column as a typed NULL,
# like the scaffold ``riab-spark --create-folders`` writes.
UPLOADS = {
    "person": ("patients", {
        "person_id": "patient_id",
        "gender_concept_id__source": "sex",
        "race_concept_id__source": "race",
        "ethnicity_concept_id__source": "ethnicity",
        "year_of_birth": "CAST(birth_year AS BIGINT)",
        "month_of_birth": "CAST(birth_month AS BIGINT)",
        "person_source_value": "patient_id",
        "gender_source_value": "sex",
    }),
    "visit_occurrence": ("encounters", {
        "visit_occurrence_id": "encounter_id",
        "person_id": "patient_id",
        "visit_concept_id__source": "enc_type",
        "visit_start_date": "start_date",
        "visit_end_date": "end_date",
        "visit_source_value": "encounter_id",
        "preceding_visit_occurrence_id": "CAST(NULL AS STRING)",
    }),
    "measurement": ("labs", {
        "measurement_id": "lab_id",
        "person_id": "patient_id",
        "visit_occurrence_id": "encounter_id",
        "measurement_concept_id__source": "code",
        "measurement_date": "lab_date",
        "value_as_number": "value",
        "unit_concept_id__source": "unit",
        "measurement_source_value": "lab_id",
        "unit_source_value": "unit",
        "measurement_event_id": "encounter_id",
        "meas_event_field_concept_id": "'visit_occurrence'",
    }),
}
_SQL_TYPES = {"int64": "BIGINT", "float64": "DOUBLE", "date": "DATE",
              "datetime": "TIMESTAMP_NTZ", "string": "STRING"}


def upload_query(spec, source: str, given: dict[str, str]) -> str:
    exprs = [f"{e} AS {c}" for c, e in given.items()]
    for col in spec.columns:
        if col.name not in given and f"{col.name}__source" not in given:
            exprs.append(f"CAST(NULL AS {_SQL_TYPES[col.dtype]}) AS {col.name}")
    return "SELECT " + ",\n       ".join(exprs) + f"\nFROM {source}\n"


USAGI_HEADER = "sourceCode,sourceName,mappingStatus,conceptId,conceptName,domainId\n"


def _usagi(path: str, rows, domain: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(USAGI_HEADER)
        for code, status, cid, *_ in rows:
            if status is not None:
                f.write(f"{code},{code} name,{status},{cid},concept {cid},{domain}\n")


def write_folders(root: str, registry) -> None:
    for table, (source, given) in UPLOADS.items():
        os.makedirs(os.path.join(root, table), exist_ok=True)
        with open(os.path.join(root, table, "load.sql"), "w", encoding="utf-8") as f:
            f.write(upload_query(registry[table], source, given))
    _usagi(f"{root}/person/gender_concept_id/gender_usagi.csv", GENDER, "Gender")
    _usagi(f"{root}/person/race_concept_id/race_usagi.csv", RACE, "Race")
    _usagi(f"{root}/person/ethnicity_concept_id/ethnicity_usagi.csv", ETHNICITY,
           "Ethnicity")
    _usagi(f"{root}/visit_occurrence/visit_concept_id/visit_usagi.csv", VISIT, "Visit")
    _usagi(f"{root}/measurement/measurement_concept_id/lab_usagi.csv",
           LABS + [(c, "APPROVED", 0) for c in LOCAL_LABS], "Measurement")
    _usagi(f"{root}/measurement/unit_concept_id/unit_usagi.csv", UNITS, "Unit")
    cdir = f"{root}/measurement/measurement_concept_id/custom"
    os.makedirs(cdir, exist_ok=True)
    with open(f"{cdir}/local_lab_concept.csv", "w", encoding="utf-8") as f:
        f.write("concept_name,concept_code,domain_id,vocabulary_id,concept_class_id\n")
        for c in LOCAL_LABS:
            f.write(f"Local lab {c},{c},Measurement,LocalLab,Lab Test\n")


def manifest(rows: dict[str, list]) -> dict:
    """What a correct ETL over ``rows`` must produce."""
    return {
        "rows": {
            "person": len(rows["patients"]),
            "visit_occurrence": len(rows["encounters"]),
            "measurement": len(rows["labs"]),
        },
        "gender_zero": sum(_mapped(GENDER, p["sex"]) == 0 for p in rows["patients"]),
        "measurement_zero": sum(
            m["code"] not in LOCAL_LABS and _mapped(LABS, m["code"]) == 0
            for m in rows["labs"]),
        "measurement_custom": sum(m["code"] in LOCAL_LABS for m in rows["labs"]),
        "raw_rows": sum(len(v) for v in rows.values()),
    }


def planted_failed_checks(rows: dict[str, list]) -> set[str]:
    """The DQD checks the planted violations fail: a check fails when its
    violating share of the table's rows, rounded to 6 places, exceeds
    the family threshold (quality/dqd_sweep.py DEFAULT_THRESHOLDS)."""
    persons, visits, labs = rows["patients"], rows["encounters"], rows["labs"]
    backwards = {e["encounter_id"] for e in visits if e["end_date"] < e["start_date"]}
    counts = {
        # (check, threshold): violating rows, denominator rows
        ("plausibleValueHigh_person_month_of_birth", 0.01):
            (sum(p["birth_month"] > 12 for p in persons), len(persons)),
        ("plausibleStartBeforeEnd_visit_occurrence_visit_start_date", 0.01):
            (len(backwards), len(visits)),
        # labs are dated on their visit's start, so a lab falls outside
        # its visit exactly when the visit ends before it starts
        ("withinVisitDates_measurement_measurement_date", 0.05):
            (sum(m["encounter_id"] in backwards for m in labs), len(labs)),
        ("plausibleUnitConceptIds_measurement_measurement_concept_id", 0.01):
            (sum(m["code"] == "HT" and m["unit"] == "kg" for m in labs), len(labs)),
    }
    return {name for (name, thr), (bad, n) in counts.items()
            if n and round(bad / n, 6) > thr}


# -- documents corpus for the stream -----------------------------------------------
TOPICS = {
    "clinical": "patient presented with acute symptoms and the clinician "
                "ordered laboratory tests and imaging before admission".split(),
    "research": "the cohort study measured outcomes across randomized arms "
                "with hazard ratios adjusted for baseline covariates".split(),
    "spam": "buy cheap pills now click here free offer limited time "
            "winner bonus discount deal".split(),
    "news": "the city council voted on the new budget proposal after a "
            "long public hearing with residents".split(),
}
DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def documents(seed: int, n_docs: int, first_id: int = 0) -> list[dict]:
    r = random.Random(seed * 7919 + 17)
    topics = sorted(TOPICS)
    out = []
    for doc_id in range(first_id, first_id + n_docs):
        words = TOPICS[r.choice(topics)]
        text = " ".join(r.choice(words) for _ in range(r.randint(12, 40)))
        out.append({"doc_id": doc_id, "text": text})
    return out


def target_documents() -> list[dict]:
    """The frozen DSIR target: clinical and research prose."""
    return [{"doc_id": i, "text": " ".join(TOPICS[t])}
            for i, t in enumerate(("clinical", "research"))]


def write_stream_files(out_dir: str, docs: list[dict], k: int, seed: int,
                       first: int = 0) -> int:
    """Deal ``docs`` into ``k`` files in a seeded order, named and dated
    in replay order from file number ``first`` (the file source replays
    by modification time); returns the bytes written."""
    order = list(range(len(docs)))
    random.Random(seed).shuffle(order)
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for i in range(k):
        n = first + i
        path = os.path.join(out_dir, f"batch-{n:05d}.parquet")
        rows = [docs[j] for j in order[i::k]]
        pq.write_table(pa.Table.from_pylist(rows, schema=DOC_SCHEMA), path)
        os.utime(path, (1_000_000_000 + n * 10, 1_000_000_000 + n * 10))
        total += os.path.getsize(path)
    return total
