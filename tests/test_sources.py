"""Source readers: typed CSV, TSV vocab with date coercion, vocab import."""

from __future__ import annotations

import datetime
import os
import shutil
import tempfile

import pytest
from pyspark.sql import types as T

from rabbit_in_a_blender_spark.mapping.usagi import USAGI_SCHEMA, read_usagi_csv
from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse
from rabbit_in_a_blender_spark.sources.readers import (
    import_vocabulary_dir,
    read_csv_typed,
    read_tsv_vocab,
)


@pytest.fixture()
def tmpdir_():
    d = tempfile.mkdtemp(prefix="riab_src_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_read_usagi_csv_subset_of_full_header(spark, tmpdir_):
    """The full 18-column Usagi export: engine reads its 6 columns."""
    p = os.path.join(tmpdir_, "usagi.csv")
    with open(p, "w") as f:
        f.write(
            "sourceCode,sourceName,sourceFrequency,sourceAutoAssignedConceptIds,"
            "ADD_INFO:additionalInfo,matchScore,mappingStatus,equivalence,statusSetBy,"
            "statusSetOn,conceptId,conceptName,domainId,mappingType,comment,createdBy,"
            "createdOn,assignedReviewer\n"
        )
        f.write("C1,name one,10,,x,0.9,APPROVED,EQUAL,me,now,42,Concept42,Gender,MAPS_TO,,me,now,\n")
    df = read_usagi_csv(spark, p)
    assert df.columns == [f.name for f in USAGI_SCHEMA.fields]
    row = df.collect()[0]
    assert row["sourceCode"] == "C1" and row["conceptId"] == 42
    assert row["mappingStatus"] == "APPROVED"


@pytest.mark.parametrize(
    "text",
    [
        # extra columns
        "sourceCode,extra,sourceName,mappingStatus,conceptId,conceptName,domainId,more\n"
        "C1,x,one,APPROVED,42,Concept42,Gender,y\n",
        # reordered columns
        "conceptId,domainId,sourceCode,mappingStatus,sourceName,conceptName\n"
        "42,Gender,C1,APPROVED,one,Concept42\n",
        # missing columns
        "sourceCode,conceptId\nC1,42\nC2,\n",
        # quoted header, quoted values, blank leading line
        '\n"sourceCode","sourceName","mappingStatus","conceptId"\n'
        '"C1","one, two","APPROVED","42"\n',
        # case-insensitive duplicate and empty names
        "sourceCode,SourceCode,,mappingStatus,conceptId,conceptId\n"
        "C1,C2,z,APPROVED,42,43\n",
        # UTF-8 byte-order mark
        "\ufeffsourceCode,mappingStatus,conceptId\nC1,APPROVED,42\n",
        # short and long rows
        "sourceCode,mappingStatus,conceptId\nC1,APPROVED\nC2,APPROVED,42,extra\n",
        # empty file
        "",
    ],
)
def test_read_usagi_csv_matches_header_inferring_read(spark, tmpdir_, text):
    """The driver-parsed header names the columns exactly as Spark's own
    header read does, so the typed frame is the same."""
    from pyspark.sql import functions as F

    p = os.path.join(tmpdir_, "usagi.csv")
    with open(p, "w", encoding="utf-8") as f:
        f.write(text)
    raw = spark.read.csv(p, header=True, inferSchema=False)
    old = raw.select(
        *[
            (F.col(fl.name) if fl.name in raw.columns else F.lit(None))
            .cast(fl.dataType)
            .alias(fl.name)
            for fl in USAGI_SCHEMA.fields
        ]
    )
    new = read_usagi_csv(spark, p)
    assert new.schema == old.schema
    assert new.collect() == old.collect()


def test_read_csv_typed(spark, tmpdir_):
    p = os.path.join(tmpdir_, "t.csv")
    with open(p, "w") as f:
        f.write("a,b\n1,x\n2,y\n")
    schema = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    df = read_csv_typed(spark, p, schema)
    assert df.schema == schema
    assert df.count() == 2


def test_read_tsv_vocab_date_coercion(spark, tmpdir_):
    p = os.path.join(tmpdir_, "CONCEPT.csv")
    with open(p, "w") as f:
        f.write("concept_id\tconcept_name\tvalid_start_date\tvalid_end_date\n")
        f.write("1\tAspirin\t19700101\t20991231\n")
    schema = T.StructType(
        [
            T.StructField("concept_id", T.LongType()),
            T.StructField("concept_name", T.StringType()),
            T.StructField("valid_start_date", T.DateType()),
            T.StructField("valid_end_date", T.DateType()),
        ]
    )
    row = read_tsv_vocab(spark, p, schema).collect()[0]
    assert row["valid_start_date"] == datetime.date(1970, 1, 1)
    assert row["valid_end_date"] == datetime.date(2099, 12, 31)


def test_import_vocabulary_dir(spark, tmpdir_):
    vocab_dir = os.path.join(tmpdir_, "vocab")
    os.makedirs(vocab_dir)
    with open(os.path.join(vocab_dir, "DOMAIN.csv"), "w") as f:
        f.write("domain_id\tdomain_name\tdomain_concept_id\n")
        f.write("Gender\tGender\t2\nDrug\tDrug\t13\n")
    schemas = {
        "domain": T.StructType(
            [
                T.StructField("domain_id", T.StringType()),
                T.StructField("domain_name", T.StringType()),
                T.StructField("domain_concept_id", T.LongType()),
            ]
        )
    }
    wh = Warehouse(os.path.join(tmpdir_, "wh"))
    imported = import_vocabulary_dir(spark, wh, vocab_dir, schemas)
    assert imported == ["domain"]
    rows = wh.read(spark, "omop", "domain").collect()
    assert sorted(r["domain_id"] for r in rows) == ["Drug", "Gender"]


def test_import_vocabulary_zip(spark, tmpdir_):
    import zipfile

    from rabbit_in_a_blender_spark.sources.readers import import_vocabulary_zip

    zp = os.path.join(tmpdir_, "athena.zip")
    with zipfile.ZipFile(zp, "w") as zf:
        zf.writestr(
            "DOMAIN.csv",
            "domain_id\tdomain_name\tdomain_concept_id\n"
            "Gender\tGender\t2\nDrug\tDrug\t13\n",
        )
        zf.writestr("README.txt", "not a table")
    schemas = {
        "domain": T.StructType(
            [
                T.StructField("domain_id", T.StringType()),
                T.StructField("domain_name", T.StringType()),
                T.StructField("domain_concept_id", T.LongType()),
            ]
        )
    }
    wh = Warehouse(os.path.join(tmpdir_, "wh_zip"))
    imported = import_vocabulary_zip(spark, wh, zp, schemas)
    assert imported == ["domain"]
    rows = wh.read(spark, "omop", "domain").collect()
    assert sorted(r["domain_id"] for r in rows) == ["Drug", "Gender"]


def test_compact_parquet_dir_flat_and_partitioned(spark, tmp_path):
    """compact_parquet_dir folds append decay into few files without
    changing a row, and preserves a partition layout when asked —
    the small-files ops answer for the streaming sinks' outputs."""
    import os

    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.core.fsio import compact_parquet_dir

    flat = str(tmp_path / "flat")
    for i in range(8):
        spark.range(i * 100, (i + 1) * 100).withColumn(
            "v", F.col("id") * 2
        ).repartition(4).write.mode("append").parquet(flat)
    rows_before = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(flat).collect()
    )
    before, after = compact_parquet_dir(spark, flat, target_file_mb=128)
    assert before >= 32 and after < before and after >= 1
    rows_after = sorted(
        (r["id"], r["v"]) for r in spark.read.parquet(flat).collect()
    )
    assert rows_after == rows_before

    part = str(tmp_path / "part")
    for i in range(4):
        spark.range(i * 100, (i + 1) * 100).withColumn(
            "cell", F.col("id") % 3
        ).repartition(4).write.mode("append").partitionBy("cell").parquet(part)
    rows_b = sorted(
        (r["id"], r["cell"]) for r in spark.read.parquet(part).collect()
    )
    b, a = compact_parquet_dir(
        spark, part, target_file_mb=128, partition_by=["cell"]
    )
    assert a < b
    # partition dirs survive (scan pruning intact) and data is unchanged
    assert sorted(
        d for d in os.listdir(part) if d.startswith("cell=")
    ) == ["cell=0", "cell=1", "cell=2"]
    rows_a = sorted(
        (r["id"], r["cell"]) for r in spark.read.parquet(part).collect()
    )
    assert rows_a == rows_b


def test_webdataset_tar_shards_roundtrip(spark, tmp_path):
    """WebDataset tar-shard source (r12): members parse with the
    first-dot key/ext split, samples group per key with map payloads,
    and a duplicated member name follows tar's last-entry-wins rule."""
    import json

    from rabbit_in_a_blender_spark.sources.webdataset import (
        read_tar_shards,
        samples_from_members,
        write_tar_shard,
    )

    shards = tmp_path / "shards"
    shards.mkdir()
    write_tar_shard(
        [
            ("00000001.txt", b"hello world"),
            ("00000001.json", json.dumps({"id": 1}).encode()),
            ("00000002.txt", b"second doc"),
            ("00000002.seg.png", b"\x89PNGfake"),
        ],
        str(shards / "shard-000.tar"),
    )
    write_tar_shard(
        [
            ("00000003.txt", b"old payload"),
            ("00000003.txt", b"new payload"),  # shadows the first
        ],
        str(shards / "shard-001.tar"),
    )
    # a non-tar file in the dir is ignored by the glob filter
    (shards / "README.md").write_text("not a shard")

    members = read_tar_shards(spark, str(shards))
    rows = {
        (r["key"], r["ext"], r["pos"]): bytes(r["content"])
        for r in members.collect()
    }
    assert ("00000001", "txt", 0) in rows
    assert rows[("00000002", "seg.png", 3)] == b"\x89PNGfake"  # first-dot split
    assert len(rows) == 6  # both duplicate members surface as members

    samples = samples_from_members(members)
    got = {
        r["key"]: (r["n_parts"], {k: bytes(v) for k, v in r["parts"].items()})
        for r in samples.collect()
    }
    assert got["00000001"][0] == 2
    assert got["00000001"][1]["json"] == json.dumps({"id": 1}).encode()
    assert got["00000002"][1].keys() == {"txt", "seg.png"}
    # last-entry-wins shadowing for the duplicated name
    assert got["00000003"] == (1, {"txt": b"new payload"})


def test_webdataset_dotted_directory_key_split(spark, tmp_path):
    """ADVICE r12: the key/ext split happens at the first dot of the
    BASENAME — a dotted directory component ('v1.0/000123.txt') stays
    in the key ('v1.0/000123') instead of truncating it to 'v1'."""
    from rabbit_in_a_blender_spark.sources.webdataset import (
        read_tar_shards,
        samples_from_members,
        write_tar_shard,
    )

    shards = tmp_path / "shards"
    shards.mkdir()
    write_tar_shard(
        [
            ("v1.0/000123.txt", b"caption"),
            ("v1.0/000123.jpg", b"jpegbytes"),
            ("v1.0/000124.txt", b"other"),
            ("plain/000125.cls.txt", b"label"),
        ],
        str(shards / "shard-000.tar"),
    )
    members = read_tar_shards(spark, str(shards))
    got = {(r["key"], r["ext"]) for r in members.collect()}
    assert ("v1.0/000123", "txt") in got
    assert ("v1.0/000123", "jpg") in got
    assert ("v1.0/000124", "txt") in got
    assert ("plain/000125", "cls.txt") in got  # first basename dot only
    samples = {
        r["key"]: r["n_parts"]
        for r in samples_from_members(members).collect()
    }
    assert samples["v1.0/000123"] == 2
    assert samples["v1.0/000124"] == 1


def test_rel_dir_uri_and_plain_forms():
    """r13: partition-layout discovery must see the same relative dirs
    whether paths come from os.walk (plain), the caller (file:///) or
    the JVM walker (file:/ single-slash form)."""
    from rabbit_in_a_blender_spark.core.fsio import _rel_dir

    assert _rel_dir("/a/b/cell=1/x.parquet", "/a/b") == "cell=1"
    assert _rel_dir("file:///a/b/cell=1/x.parquet", "file:///a/b") == "cell=1"
    assert _rel_dir("file:/a/b/cell=1/x.parquet", "file:///a/b") == "cell=1"
    assert _rel_dir("file:/a/b/x.parquet", "file:///a/b") == "."
    assert (
        _rel_dir("s3a://bkt/t/batch=2/cell=0/x.parquet", "s3a://bkt/t")
        == "batch=2/cell=0"
    )


def test_webdataset_distributed_export_roundtrip(spark, tmp_path):
    """r13 write half: write_webdataset shards a sample frame into
    deterministic tars via applyInPandas; reading them back through
    read_tar_shards + samples_from_members reproduces every payload,
    and re-running the export reproduces byte-identical shards."""
    import hashlib
    import os

    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.sources.webdataset import (
        read_tar_shards,
        samples_from_members,
        write_webdataset,
    )

    samples = spark.range(0, 37).select(
        F.format_string("%08d", F.col("id")).alias("key"),
        F.map_from_arrays(
            F.array(F.lit("txt"), F.lit("json")),
            F.array(
                F.encode(F.format_string("payload-%d", F.col("id")), "utf-8"),
                F.encode(F.format_string('{"id": %d}', F.col("id")), "utf-8"),
            ),
        ).alias("parts"),
    )
    out1 = str(tmp_path / "export1")
    idx = write_webdataset(samples, out1, samples_per_shard=10).collect()
    assert sum(r["n_samples"] for r in idx) == 37
    assert sum(r["n_members"] for r in idx) == 74
    assert all(r["n_bytes"] > 0 for r in idx)
    shards = sorted(f for f in os.listdir(out1) if f.endswith(".tar"))
    assert shards == sorted(r["shard"] for r in idx)
    assert not any(f.endswith(".inprogress") for f in os.listdir(out1))

    back = samples_from_members(read_tar_shards(spark, out1))
    assert back.count() == 37
    got = {
        r["key"]: dict(r["parts"]) for r in back.collect()
    }
    assert bytes(got["00000005"]["txt"]) == b"payload-5"
    assert bytes(got["00000011"]["json"]) == b'{"id": 11}'

    # determinism: a second export writes byte-identical shards
    out2 = str(tmp_path / "export2")
    write_webdataset(samples, out2, samples_per_shard=10).collect()

    def digest(d):
        out = {}
        for f in sorted(os.listdir(d)):
            if f.endswith(".tar"):
                out[f] = hashlib.sha256(
                    open(os.path.join(d, f), "rb").read()
                ).hexdigest()
        return out

    assert digest(out1) == digest(out2)
