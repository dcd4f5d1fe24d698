"""CLI smoke tests: every riab-spark subcommand against tmp fixtures
(reference surface cli.py:48-282)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from rabbit_in_a_blender_spark.cli import main


@pytest.fixture()
def tmpdir_():
    d = tempfile.mkdtemp(prefix="riab_cli_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _wh_read(spark, root, zone, table):
    """A table of the CLI's warehouse under ``root``, read as the
    Warehouse resolves it (the live version of a pointer table)."""
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    return Warehouse(os.path.join(root, "warehouse")).read(spark, zone, table)


@pytest.fixture()
def env(spark, tmpdir_):
    """Config ini + raw zone + etl folders under one tmp root."""
    root = str(tmpdir_)
    raw = os.path.join(root, "raw")
    os.makedirs(raw)
    spark.createDataFrame(
        [(1, "M", 1970), (2, "F", 1980), (2, "F", 1980), (3, "X", 1990)],
        "id int, gender string, yob int",
    ).write.parquet(os.path.join(raw, "person_raw.parquet"))

    etl_dir = os.path.join(root, "omop_folders")
    os.makedirs(os.path.join(etl_dir, "person", "gender_concept_id"))
    with open(os.path.join(etl_dir, "person", "load.sql"), "w") as f:
        f.write(
            "SELECT CAST(id AS STRING) AS person_id, "
            "gender AS gender_concept_id__source, "
            "CAST(yob AS BIGINT) AS year_of_birth FROM person_raw"
        )
    with open(
        os.path.join(etl_dir, "person", "gender_concept_id", "sex_usagi.csv"), "w"
    ) as f:
        f.write(
            "sourceCode,sourceName,mappingStatus,conceptId,conceptName,domainId\n"
            "M,Male,APPROVED,8507,MALE,Gender\n"
            "F,Female,APPROVED,8532,FEMALE,Gender\n"
            "X,Unknown,SEMI-APPROVED,8551,UNKNOWN,Gender\n"
        )

    ini = os.path.join(root, "riab.ini")
    with open(ini, "w") as f:
        f.write(f"[warehouse]\nroot = {root}/warehouse\n[raw]\npath = {raw}\n")
    return {"root": root, "ini": ini, "etl_dir": etl_dir}


def test_print_etl_flow(capsys):
    assert main(["--print-etl-flow"]) == 0
    out = capsys.readouterr().out
    assert "level 0" in out and "person" in out


def test_ini_commit_mode_other_than_pointer_exits(tmpdir_):
    """Every warehouse write is a pointer commit: an ini asking for
    another commit_mode exits with the migration hint; the
    ``commit_mode = pointer`` line stays accepted."""
    ini = os.path.join(tmpdir_, "riab.ini")
    with open(ini, "w") as f:
        f.write(f"[warehouse]\nroot = {tmpdir_}/wh\ncommit_mode = rename\n")
    with pytest.raises(
        SystemExit, match="rename mode is gone.*convert on their first write"
    ):
        main(["--config", ini, "--print-etl-flow"])
    with open(ini, "w") as f:
        f.write(f"[warehouse]\nroot = {tmpdir_}/wh\ncommit_mode = pointer\n")
    assert main(["--config", ini, "--print-etl-flow"]) == 0


def test_create_folders(env, capsys):
    target = os.path.join(env["root"], "scaffold")
    assert main(["--config", env["ini"], "--create-folders", target]) == 0
    assert os.path.isfile(os.path.join(target, "person", "example.sql"))
    assert os.path.isdir(
        os.path.join(target, "condition_occurrence", "condition_concept_id", "custom")
    )
    sample = open(os.path.join(target, "person", "example.sql")).read()
    assert "person_id" in sample and "gender_concept_id__source" in sample


def test_run_etl_then_quality_then_achilles_then_cleanup(env, spark, capsys):
    ini = env["ini"]
    # --run-etl from the convention folders
    assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    out = capsys.readouterr().out
    assert "person" in out
    person = _wh_read(spark, env["root"], "omop", "person")
    rows = {r["year_of_birth"]: r for r in person.collect()}
    assert len(rows) == 3  # DISTINCT dropped the duplicate upload row
    assert rows[1970]["gender_concept_id"] == 8507  # usagi-mapped
    # SEMI-APPROVED not processed by default (reference CLI default)
    assert rows[1990]["gender_concept_id"] == 0
    assert isinstance(rows[1970]["person_id"], int)  # prequel renumbered

    # rerun with --process-semi-approved-mappings: X now maps to 8551
    assert main(
        ["--config", ini, "--run-etl", env["etl_dir"],
         "--process-semi-approved-mappings"]
    ) == 0
    person = _wh_read(spark, env["root"], "omop", "person")
    semi = {r["year_of_birth"]: r["gender_concept_id"] for r in person.collect()}
    assert semi[1990] == 8551

    # --data-quality with viewer JSON + static dashboard HTML
    json_path = os.path.join(env["root"], "dqd.json")
    html_path = os.path.join(env["root"], "dqd.html")
    rc = main(
        ["--config", ini, "--data-quality", "--json", json_path, "--html", html_path]
    )
    assert rc in (0, 3)  # 3 = some checks failed (absent tables fail cdmTable)
    doc = json.load(open(json_path))
    assert {"Overview", "CheckResults", "Metadata"} <= set(doc)
    assert doc["Overview"]["countTotal"] == len(doc["CheckResults"])
    one = doc["CheckResults"][0]
    assert {"CHECK_NAME", "CATEGORY", "CONTEXT", "NUM_VIOLATED_ROWS"} <= set(one)
    page = open(html_path).read()
    assert "Data Quality Dashboard" in page and 'id="dqd-data"' in page
    capsys.readouterr()  # drain the --data-quality progress lines

    # --data-quality-dashboard prints the Overview of the stored run and
    # can re-render the HTML from the persisted results table
    html2 = os.path.join(env["root"], "dqd2.html")
    assert main(
        ["--config", ini, "--data-quality-dashboard", "--html", html2]
    ) == 0
    out = capsys.readouterr().out
    overview = json.loads(out[out.index("{"):])
    assert overview["countTotal"] > 0
    assert "Data Quality Dashboard" in open(html2).read()

    # --achilles persists both result shapes for the present tables
    assert main(["--config", ini, "--achilles"]) == 0
    res = _wh_read(spark, env["root"], "achilles", "achilles_results")
    ids = {r["analysis_id"] for r in res.select("analysis_id").distinct().collect()}
    assert {1, 2, 3} <= ids  # person count / by gender / by year of birth

    # --cleanup person drops its artifacts
    assert main(["--config", ini, "--cleanup", "person"]) == 0
    assert not os.path.isdir(
        os.path.join(env["root"], "warehouse", "omop", "person")
    )


def test_load_table_inputs_derives_allowed_domains(env, spark):
    """The folder loader must populate allowed_domains from the shared
    Field_Level-style map so the fatal J12 domain check can fire on
    --run-etl, not only when tests pass it explicitly."""
    from rabbit_in_a_blender_spark.core.cdm54 import cdm54_registry
    from rabbit_in_a_blender_spark.folders import load_table_inputs

    spark.read.parquet(
        os.path.join(env["root"], "raw", "person_raw.parquet")
    ).createOrReplaceTempView("person_raw")
    inputs = load_table_inputs(
        spark, env["etl_dir"], cdm54_registry()["person"]
    )
    assert inputs is not None
    assert inputs.allowed_domains["gender_concept_id"] == ["Gender"]
    assert inputs.allowed_domains["race_concept_id"] == ["Race"]


def test_import_vocabularies(env, spark):
    vocab_dir = os.path.join(env["root"], "vocab")
    os.makedirs(vocab_dir)
    with open(os.path.join(vocab_dir, "DOMAIN.csv"), "w") as f:
        f.write("domain_id\tdomain_name\tdomain_concept_id\n")
        f.write("Gender\tGender\t2\n")
        f.write("Condition\tCondition\t19\n")
    assert main(["--config", env["ini"], "--import-vocabularies", vocab_dir]) == 0
    dom = _wh_read(spark, env["root"], "omop", "domain")
    rows = {r["domain_id"]: r["domain_concept_id"] for r in dom.collect()}
    assert rows == {"Gender": 2, "Condition": 19}


def test_create_db(env, spark):
    assert main(["--config", env["ini"], "--create-db"]) == 0
    vocab = os.path.join(env["root"], "warehouse", "omop", "vocabulary")
    assert os.path.isdir(vocab)
    df = _wh_read(spark, env["root"], "omop", "vocabulary")
    assert "vocabulary_id" in df.columns and df.count() == 0


def test_test_db_connection(env, capsys):
    assert main(["--config", env["ini"], "--test-db-connection"]) == 0
    out = capsys.readouterr().out
    assert "connection ok" in out and "writable" in out


def test_run_etl_skip_usagi_upload_reuses_work_tables(env, spark, capsys):
    """-s/--skip-usagi-and-custom-concept-upload: the rerun must not
    re-parse the CSVs — delete them and the mapping still applies from
    the persisted work tables (with -se along for the ride to prove the
    reference's flag pairing parses)."""
    ini = env["ini"]
    assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    os.remove(
        os.path.join(env["etl_dir"], "person", "gender_concept_id", "sex_usagi.csv")
    )
    assert main(
        ["--config", ini, "--run-etl", env["etl_dir"],
         "--skip-usagi-and-custom-concept-upload", "--skip-event-fks-step"]
    ) == 0
    person = _wh_read(spark, env["root"], "omop", "person")
    rows = {r["year_of_birth"]: r["gender_concept_id"] for r in person.collect()}
    assert rows[1970] == 8507  # mapped from the persisted usagi work table


def test_cleanup_clear_swap_flag(env, spark, capsys):
    ini = env["ini"]
    assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    swap = os.path.join(env["root"], "warehouse", "work", "concept_id__swap")
    # the fixture has no custom concepts, so the global swap may not
    # exist — stage one so the flag's effect is observable
    if not os.path.isdir(swap):
        spark.createDataFrame(
            [("GENDER_NB", "Custom", 2_000_000_001)],
            "concept_code string, vocabulary_id string, y long",
        ).write.parquet(swap)
    assert main(["--config", ini, "--cleanup"]) == 0
    assert os.path.isdir(swap)  # default: kept
    assert main(
        ["--config", ini, "--cleanup", "--clear-auto-generated-custom-concept-ids"]
    ) == 0
    assert not os.path.isdir(swap)


def test_run_query_list_and_export(env, capsys, tmpdir_):
    assert main(["--run-query", "list"]) == 0
    names = capsys.readouterr().out.split()
    assert "q1_pricing_summary" in names and "ext_sample_uniform" in names
    out = os.path.join(str(tmpdir_), "rq_out")
    rc = main(
        [
            "--run-query", "ext_sample_uniform",
            "--sf-dir", "/root/testdata/sf0.001",
            "--out", out, "--format", "jsonl",
            "--config", os.path.join(str(tmpdir_), "riab.ini"),
        ]
    )
    assert rc == 0
    rows = []
    for f in os.listdir(out):
        if f.endswith(".json"):
            with open(os.path.join(out, f)) as fh:
                rows += [json.loads(l) for l in fh if l.strip()]
    assert rows and all(set(r) == {"doc_id", "lang"} for r in rows)


def test_run_query_unknown_name_fails(env):
    with pytest.raises(SystemExit):
        main(["--run-query", "nope_not_a_query"])


def test_corpus_dedup_full_then_incremental(env, spark, capsys, tmpdir_):
    """--corpus-dedup end-to-end: full mode collapses exact + near dups
    and bootstraps the band index; a second incremental run screens a
    new batch against it in O(delta)."""
    root = str(tmpdir_)
    docs = os.path.join(root, "docs")
    spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),  # exact dup
            (3, "the quick brown fox jumps over the lazy dog tonight"),  # near dup
            (4, "completely different text about spark physical plans"),
        ],
        "doc_id long, text string",
    ).write.parquet(docs)
    out1 = os.path.join(root, "clean1")
    index = os.path.join(root, "band_index")
    cfg = os.path.join(root, "riab.ini")
    rc = main(
        ["--corpus-dedup", docs, "--out", out1, "--index", index,
         "--config", cfg]
    )
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out1).collect()}
    assert kept == {1, 4}  # 2 exact-dups into 1, 3 near-dups into 1
    assert os.path.isdir(index)
    msg = capsys.readouterr().out
    assert "4 in -> 2 canonical" in msg and "bootstrapped" in msg

    # incremental batch: one near-dup of the stored corpus, one new
    batch = os.path.join(root, "batch")
    spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),
            (11, "an entirely novel document about z-order clustering"),
        ],
        "doc_id long, text string",
    ).write.parquet(batch)
    out2 = os.path.join(root, "clean2")
    rc = main(
        ["--corpus-dedup", batch, "--out", out2, "--index", index,
         "--config", cfg]
    )
    assert rc == 0
    kept2 = {r["doc_id"] for r in spark.read.parquet(out2).collect()}
    assert kept2 == {11}
    assert "incremental dedup: 2 in -> 1 clean" in capsys.readouterr().out
    # survivor's bands were appended: a re-run of the same novel doc
    # under a different id is now screened too
    batch2 = os.path.join(root, "batch2")
    spark.createDataFrame(
        [(20, "an entirely novel document about z-order clustering")],
        "doc_id long, text string",
    ).write.parquet(batch2)
    out3 = os.path.join(root, "clean3")
    assert main(
        ["--corpus-dedup", batch2, "--out", out3, "--index", index,
         "--config", cfg]
    ) == 0
    assert spark.read.parquet(out3).count() == 0


def test_corpus_tokenize_trains_then_reapplies(env, spark, capsys, tmpdir_):
    """--corpus-tokenize: first run trains merges on the corpus and
    saves the merge table; second run loads it and produces identical
    tokenization (the merges file is the portable artifact)."""
    root = str(tmpdir_)
    docs = os.path.join(root, "docs")
    spark.createDataFrame(
        [
            (1, "the lowest lower low"),
            (2, "newest newer new news"),
            (3, "the widest wider wide"),
        ],
        "doc_id long, text string",
    ).write.parquet(docs)
    merges = os.path.join(root, "merges.txt")
    out1 = os.path.join(root, "toks1")
    cfg = os.path.join(root, "riab.ini")
    rc = main(
        ["--corpus-tokenize", docs, "--merges", merges, "--out", out1,
         "--num-merges", "30", "--config", cfg]
    )
    assert rc == 0
    assert "trained" in capsys.readouterr().out
    lines = [ln.split() for ln in open(merges) if ln.strip()]
    assert lines and all(len(ln) == 2 for ln in lines)

    out2 = os.path.join(root, "toks2")
    rc = main(
        ["--corpus-tokenize", docs, "--merges", merges, "--out", out2,
         "--config", cfg]
    )
    assert rc == 0
    assert "applying" in capsys.readouterr().out
    t1 = {r["doc_id"]: list(r["tokens"]) for r in spark.read.parquet(out1).collect()}
    t2 = {r["doc_id"]: list(r["tokens"]) for r in spark.read.parquet(out2).collect()}
    assert t1 == t2 and len(t1) == 3
    assert all(r["n_tokens"] == len(t1[r["doc_id"]])
               for r in spark.read.parquet(out2).collect())


def test_corpus_tokenize_requires_merges_and_out(env, tmpdir_):
    cfg = os.path.join(str(tmpdir_), "riab.ini")
    with pytest.raises(SystemExit):
        main(["--corpus-tokenize", "/tmp/nope", "--config", cfg])
    with pytest.raises(SystemExit):
        main(["--corpus-tokenize", "/tmp/nope", "--out", "/tmp/o",
              "--config", cfg])


def test_corpus_dedup_requires_out(env, tmpdir_):
    with pytest.raises(SystemExit):
        main(["--corpus-dedup", "/tmp/nope", "--config",
              os.path.join(str(tmpdir_), "riab.ini")])


def test_corpus_mix_upsamples_shards_and_budgets(spark, capsys, tmpdir_):
    """--corpus-mix end-to-end: weights file -> fractional upsampling ->
    token budget -> shuffle/shard -> shard-partitioned write (VERDICT r6
    task 8)."""
    root = str(tmpdir_)
    docs = os.path.join(root, "docs")
    rows = [
        (i, "hq" if i % 2 == 0 else "lq", f"doc {i} " + "word " * (i % 7 + 3))
        for i in range(40)
    ]
    spark.createDataFrame(rows, "doc_id long, source string, text string").write.parquet(docs)
    weights = os.path.join(root, "weights.json")
    with open(weights, "w") as f:
        json.dump({"hq": 2.5, "lq": 0.5}, f)
    out = os.path.join(root, "mix")
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(
        ["--corpus-mix", docs, "--weights", weights, "--out", out,
         "--shards", "4", "--config", cfg]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    assert set(got.select("shard_id").distinct().toPandas()["shard_id"]) <= {0, 1, 2, 3}
    # every hq doc appears 2 or 3 times; lq docs 0 or 1 times
    from collections import Counter

    counts = Counter(
        (r["doc_id"]) for r in got.collect()
    )
    for i in range(0, 40, 2):
        assert counts[i] in (2, 3), (i, counts[i])
    for i in range(1, 40, 2):
        assert counts.get(i, 0) in (0, 1), (i, counts.get(i, 0))
    # shard-partitioned layout on disk
    assert any(d.startswith("shard_id=") for d in os.listdir(out))
    assert "corpus mix:" in capsys.readouterr().out

    # deterministic: a second run reproduces the exact same mixture
    out2 = os.path.join(root, "mix2")
    assert main(
        ["--corpus-mix", docs, "--weights", weights, "--out", out2,
         "--shards", "4", "--config", cfg]
    ) == 0
    key = lambda df: sorted(
        (r["doc_id"], r["copy_idx"], r["shard_id"]) for r in df.collect()
    )
    assert key(spark.read.parquet(out2)) == key(got)

    # token budget caps the mixture and releases its pin
    sc = spark.sparkContext
    before = len(sc._jsc.getPersistentRDDs())
    out3 = os.path.join(root, "mix3")
    assert main(
        ["--corpus-mix", docs, "--weights", weights, "--out", out3,
         "--shards", "2", "--token-budget", "120", "--config", cfg]
    ) == 0
    capped = spark.read.parquet(out3)
    assert capped.count() > 0
    assert capped.agg({"cum_tokens": "max"}).collect()[0][0] <= 120
    assert len(sc._jsc.getPersistentRDDs()) == before


def test_corpus_search_ranks_and_writes(spark, capsys, tmpdir_):
    """--corpus-search end-to-end: exact-match doc ranks first; --out
    writes parquet; the df screen prunes ubiquitous terms."""
    root = str(tmpdir_)
    docs = os.path.join(root, "docs")
    rows = [
        (1, "apple banana cherry"),
        (2, "banana cherry durian"),
        (3, "elderberry fig grape"),
        (4, "apple apple banana"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(docs)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(
        ["--corpus-search", docs, "--id-col", "doc_id", "--text-col", "text",
         "--query", "elderberry grape", "--topk", "2", "--max-df", "1.0",
         "--config", cfg]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "query 0: 'elderberry grape'" in printed
    assert "  1. 3  score=" in printed
    # --out path
    out = os.path.join(root, "hits")
    rc = main(
        ["--corpus-search", docs, "--id-col", "doc_id", "--text-col", "text",
         "--query", "apple", "--out", out, "--max-df", "1.0", "--config", cfg]
    )
    assert rc == 0
    got = spark.read.parquet(out)
    by_rank = {r["rank"]: r["doc_id"] for r in got.collect()}
    # doc 4 has tf=2 for 'apple' and shortest length -> rank 1
    assert by_rank[1] == 4
    # a query of only ubiquitous terms yields no matches at a strict cap
    rc = main(
        ["--corpus-search", docs, "--id-col", "doc_id", "--text-col", "text",
         "--query", "banana", "--max-df", "0.5", "--config", cfg]
    )
    assert rc == 0
    assert "(no matches)" in capsys.readouterr().out


def test_graph_rank_prints_and_writes(spark, capsys, tmpdir_):
    """--graph-rank end-to-end: hub node ranks first; --out writes
    parquet; no persistent RDDs leak."""
    root = str(tmpdir_)
    edges = os.path.join(root, "edges")
    # pure star: hub is a dangling authority, everyone else a source
    rows = [(f"u{i}", "hub") for i in range(6)]
    spark.createDataFrame(rows, "src string, dst string").write.parquet(edges)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    before = len(spark.sparkContext._jsc.getPersistentRDDs())
    rc = main(["--graph-rank", edges, "--iterations", "4", "--config", cfg])
    assert rc == 0
    printed = capsys.readouterr().out.strip().splitlines()
    assert printed[0].split()[-1] == "hub"
    assert len(spark.sparkContext._jsc.getPersistentRDDs()) == before
    out = os.path.join(root, "ranks")
    rc = main(["--graph-rank", edges, "--iterations", "4", "--out", out,
               "--config", cfg])
    assert rc == 0
    got = {r["node"]: r["rank"] for r in spark.read.parquet(out).collect()}
    assert max(got, key=got.get) == "hub"
    assert abs(sum(got.values()) - 1.0) < 1e-5


def test_events_rollup_writes_dense_grid(spark, capsys, tmpdir_):
    """--events-rollup end-to-end: dense gap-filled grid written to --out;
    --with-anomalies writes the z-score table alongside."""
    import datetime as dt

    root = str(tmpdir_)
    events = os.path.join(root, "events")
    t0 = dt.datetime(2024, 1, 1)
    rows = [("a", t0 + dt.timedelta(minutes=m), 10.0) for m in (5, 50)]
    rows.append(("a", t0 + dt.timedelta(hours=3), 40.0))  # 2 gap hours
    spark.createDataFrame(rows, "event_type string, ts timestamp, value double") \
        .write.parquet(events)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    out = os.path.join(root, "rolled")
    rc = main(
        ["--events-rollup", events, "--bucket-seconds", "3600",
         "--out", out, "--with-anomalies", "--config", cfg]
    )
    assert rc == 0
    printed = capsys.readouterr().out
    assert "wrote 4 bucket rows" in printed  # hours 0-3 densified
    got = {r["bucket_ts"]: r for r in spark.read.parquet(out).collect()}
    assert got["2024-01-01 01:00:00"]["n_events"] == 0
    assert got["2024-01-01 01:00:00"]["avg_value_locf"] == 10.0
    anom = spark.read.parquet(out + "_anomalies")
    assert set(anom.columns) == {
        "event_type", "bucket_ts", "avg_value", "zscore", "is_anomaly"
    }


def test_events_rollup_requires_out_and_columns(spark, tmpdir_):
    root = str(tmpdir_)
    events = os.path.join(root, "ev2")
    spark.createDataFrame(
        [("a",)], "event_type string"
    ).write.parquet(events)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\n")
    with pytest.raises(SystemExit):
        main(["--events-rollup", events, "--out", os.path.join(root, "x"),
              "--config", cfg])


def test_corpus_drift_reports_and_writes(spark, capsys, tmpdir_):
    """--corpus-drift end-to-end: shifted stratum ranks above the clone;
    --out writes the joined report."""
    root = str(tmpdir_)
    docs = os.path.join(root, "docs_drift")
    rows = []
    for i in range(20):
        rows.append((i, "ref", 100 + i, "en"))
        rows.append((100 + i, "clone", 100 + i, "en"))
        rows.append((200 + i, "shifted", 500 + i, "zh"))
    spark.createDataFrame(
        rows, "doc_id long, source string, n_chars long, lang string"
    ).write.parquet(docs)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(["--corpus-drift", docs, "--ref-stratum", "ref", "--config", cfg])
    assert rc == 0
    printed = capsys.readouterr().out.strip().splitlines()
    assert printed[1].split()[0] == "shifted"  # largest PSI first
    clone = [ln for ln in printed if ln.startswith("clone")][0].split()
    assert float(clone[2]) == 0.0 and float(clone[3]) == 0.0 and float(clone[4]) == 0.0
    out = os.path.join(root, "drift_report")
    rc = main(["--corpus-drift", docs, "--ref-stratum", "ref",
               "--out", out, "--config", cfg])
    assert rc == 0
    report = {r["source"]: r for r in spark.read.parquet(out).collect()}
    assert report["shifted"]["ks"] == 1.0
    # unknown reference stratum → explicit error
    with pytest.raises(SystemExit):
        main(["--corpus-drift", docs, "--ref-stratum", "nope", "--config", cfg])


def test_embed_cluster_writes_centroids_and_assignments(spark, capsys, tmpdir_):
    """--embed-cluster end-to-end: separable blobs land in distinct
    clusters; assignments are partitioned by centroid_id."""
    import random

    root = str(tmpdir_)
    vecs = os.path.join(root, "vecs")
    rng = random.Random(6)
    rows = []
    for i in range(60):
        mu = 3.0 if i % 2 else -3.0
        rows.append((i, [mu + rng.gauss(0, 0.3) for _ in range(8)]))
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(vecs)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    out = os.path.join(root, "clusters")
    rc = main(["--embed-cluster", vecs, "--id-col", "vec_id", "--clusters", "2",
               "--iterations", "4", "--out", out, "--config", cfg])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "wrote 2 centroids" in printed
    from pyspark.sql import functions as F

    assigned = spark.read.parquet(out + "/assignments")
    sizes = dict(
        (r["centroid_id"], r["n"])
        for r in assigned.groupBy("centroid_id")
        .agg(F.count("vec_id").alias("n"))
        .collect()
    )
    assert sorted(sizes.values()) == [30, 30]  # the two planted blobs
    # partition layout on disk
    assert any(d.startswith("centroid_id=") for d in os.listdir(out + "/assignments"))


def test_version_flag(capsys):
    with pytest.raises(SystemExit) as e:
        main(["--version"])
    assert e.value.code == 0
    out = capsys.readouterr().out
    from rabbit_in_a_blender_spark import __version__

    assert __version__ in out


def test_corpus_normalize_stats_and_writes(spark, capsys, tmpdir_):
    root = str(tmpdir_)
    docs = os.path.join(root, "docs_norm")
    spark.createDataFrame(
        [(1, "café  with   runs", "en"), (2, "clean text", "en")],
        "doc_id long, text string, lang string",
    ).write.parquet(docs)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(["--corpus-normalize", docs, "--config", cfg])
    assert rc == 0
    assert "2 docs, 1 changed" in capsys.readouterr().out
    out = os.path.join(root, "norm_out")
    rc = main(["--corpus-normalize", docs, "--out", out, "--config", cfg])
    assert rc == 0
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got[1] == "café with runs"   # NFC-composed + collapsed
    assert got[2] == "clean text"
    # non-doc schema → explicit column error
    with pytest.raises(SystemExit):
        main(["--corpus-normalize", docs, "--text-col", "nope", "--config", cfg])


def test_passage_dedup_stats_and_writes(spark, capsys, tmpdir_):
    root = str(tmpdir_)
    docs = os.path.join(root, "docs_pass")
    boiler = "all rights reserved by this site"
    spark.createDataFrame(
        [(1, f"alpha one two {boiler}"), (2, f"beta three four {boiler}"),
         (3, "totally original words here")],
        "doc_id long, text string",
    ).write.parquet(docs)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(["--passage-dedup", docs, "--passage-k", "4", "--config", cfg])
    assert rc == 0
    assert "3 docs, 2 touched, 12/22 words removed" in capsys.readouterr().out
    out = os.path.join(root, "pass_out")
    rc = main(["--passage-dedup", docs, "--passage-k", "4",
               "--out", out, "--config", cfg])
    assert rc == 0
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got[1] == "alpha one two"
    assert got[3] == "totally original words here"


def test_passage_dedup_lsh_mode(spark, capsys, tmpdir_):
    """--passage-mode lsh removes near-duplicate windows keep-first:
    the lower-id doc keeps its copy, the edited higher-id copy is cut."""
    root = str(tmpdir_)
    docs = os.path.join(root, "docs_lsh")
    span = " ".join(f"w{i}" for i in range(16))
    edited = span.split()
    edited[7] = "EDIT"
    spark.createDataFrame(
        [(1, span), (2, " ".join(edited)),
         (3, " ".join(f"n{i}" for i in range(16)))],
        "doc_id long, text string",
    ).write.parquet(docs)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    # DEFAULT invocation: lsh mode must verify at the certified
    # defaults (shingle k=3, threshold 0.35) without any extra flags —
    # the shared --threshold (0.2) and --passage-k (8) no longer leak
    # into lsh mode (ADVICE r9)
    rc = main(["--passage-dedup", docs, "--passage-mode", "lsh",
               "--config", cfg])
    assert rc == 0
    # doc 2 (16 words) is the only one touched
    assert "3 docs, 1 touched, 16/48 words removed" in capsys.readouterr().out
    # the dedicated flags steer verification: at an impossible 1.01
    # threshold nothing verifies, nothing is removed
    rc = main(["--passage-dedup", docs, "--passage-mode", "lsh",
               "--passage-threshold", "1.01", "--config", cfg])
    assert rc == 0
    assert "3 docs, 0 touched, 0/48 words removed" in capsys.readouterr().out


def test_semantic_dedup_cli_stats_and_kept_rows(spark, capsys, tmpdir_):
    """--semantic-dedup flags smaller-id near-twins and --out writes
    only the kept rows."""
    root = str(tmpdir_)
    vecs = os.path.join(root, "vecs_sem")
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.01, 0.999, 0.0, 0.0]),
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<double>") \
        .write.parquet(vecs)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(["--semantic-dedup", vecs, "--id-col", "vec_id",
               "--clusters", "2", "--iterations", "2", "--tau", "0.9",
               "--config", cfg])
    assert rc == 0
    assert "4 vectors, 2 semantic duplicates" in capsys.readouterr().out
    out = os.path.join(root, "sem_kept")
    rc = main(["--semantic-dedup", vecs, "--id-col", "vec_id",
               "--clusters", "2", "--iterations", "2", "--tau", "0.9",
               "--out", out, "--config", cfg])
    assert rc == 0
    kept = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 10}
    # without --clusters the default is size-aware (max(8, N/1000) = 8
    # here, every vector its own cell at N=4) rather than a fixed 8
    # inherited from --embed-cluster (ADVICE r9); probe=2 rides through
    rc = main(["--semantic-dedup", vecs, "--id-col", "vec_id",
               "--iterations", "1", "--tau", "0.9", "--probe", "2",
               "--config", cfg])
    assert rc == 0
    assert "across 8 clusters" in capsys.readouterr().out
    # --coarse-probe auto on the coarse rung runs the sampled
    # agreement tuner and reports its choice (r12, VERDICT r11 task 5);
    # sampled flags must match the default-path run
    rc = main(["--semantic-dedup", vecs, "--id-col", "vec_id",
               "--clusters", "2", "--iterations", "2", "--tau", "0.9",
               "--assign-method", "coarse", "--coarse-probe", "auto",
               "--out", os.path.join(root, "sem_kept_auto"),
               "--config", cfg])
    assert rc == 0
    assert "--coarse-probe auto: chose probe=" in capsys.readouterr().out
    kept_auto = {
        r["vec_id"]
        for r in spark.read.parquet(os.path.join(root, "sem_kept_auto")).collect()
    }
    assert kept_auto == {1, 10}
    # a bad --coarse-probe value fails loud
    try:
        main(["--semantic-dedup", vecs, "--id-col", "vec_id",
              "--clusters", "2", "--coarse-probe", "zero", "--config", cfg])
        assert False, "expected SystemExit"
    except SystemExit as e:
        assert "coarse-probe" in str(e)


def test_dsir_select_cli_stats_and_selected_rows(spark, capsys, tmpdir_):
    """--dsir-select prints weight stats, and with --out/--dsir-k writes
    exactly k rows biased toward the target distribution."""
    root = str(tmpdir_)
    raw_p = os.path.join(root, "dsir_raw")
    tgt_p = os.path.join(root, "dsir_tgt")
    sci = "quantum field theory predicts particle interactions"
    spam = "buy cheap pills now click here free offer"
    rows = [(i, f"{sci} v{i}") for i in range(10)]
    rows += [(100 + j, f"{spam} v{j}") for j in range(10)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(raw_p)
    spark.createDataFrame([(0, sci)], "doc_id long, text string") \
        .write.parquet(tgt_p)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(["--dsir-select", raw_p, "--dsir-target", tgt_p,
               "--dsir-buckets", "128", "--config", cfg])
    assert rc == 0
    assert "20 docs weighted toward" in capsys.readouterr().out
    out = os.path.join(root, "dsir_out")
    rc = main(["--dsir-select", raw_p, "--dsir-target", tgt_p,
               "--dsir-buckets", "128", "--dsir-k", "8",
               "--out", out, "--config", cfg])
    assert rc == 0
    sel = spark.read.parquet(out).collect()
    assert len(sel) == 8
    # zero vocab overlap -> the selection must be all target-like docs
    assert all(r["doc_id"] < 100 for r in sel)
    # missing --dsir-target fails loud
    try:
        main(["--dsir-select", raw_p, "--config", cfg])
        assert False, "expected SystemExit"
    except SystemExit as e:
        assert "dsir-target" in str(e)


def test_dsir_model_bootstrap_then_incremental(spark, capsys, tmpdir_):
    """--dsir-model bootstraps persisted bucket models on first run,
    then scores later batches incrementally (frozen target, no
    --dsir-target needed) and folds their counts in."""
    root = str(tmpdir_)
    b1 = os.path.join(root, "dsir_b1")
    b2 = os.path.join(root, "dsir_b2")
    tgt = os.path.join(root, "dsir_t")
    model = os.path.join(root, "dsir_model")
    sci = "quantum field theory predicts particle interactions"
    spam = "buy cheap pills now click here free offer"
    spark.createDataFrame(
        [(i, f"{sci} v{i}") for i in range(5)]
        + [(100 + j, f"{spam} v{j}") for j in range(5)],
        "doc_id long, text string",
    ).write.parquet(b1)
    spark.createDataFrame(
        [(200 + i, f"{sci} w{i}") for i in range(3)]
        + [(300 + j, f"{spam} w{j}") for j in range(3)],
        "doc_id long, text string",
    ).write.parquet(b2)
    spark.createDataFrame([(0, sci)], "doc_id long, text string") \
        .write.parquet(tgt)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    # bootstrap
    rc = main(["--dsir-select", b1, "--dsir-target", tgt,
               "--dsir-buckets", "128", "--dsir-model", model,
               "--config", cfg])
    assert rc == 0
    out1 = capsys.readouterr().out
    assert "bootstrapped DSIR models" in out1
    assert os.path.exists(os.path.join(model, "meta.json"))
    # incremental: no --dsir-target, bucket count comes from meta.json
    rc = main(["--dsir-select", b2, "--dsir-model", model, "--config", cfg])
    assert rc == 0
    out2 = capsys.readouterr().out
    assert "incremental DSIR" in out2 and "B=128" in out2
    assert "6 docs weighted" in out2  # batch docs only, never history
    # the fold appended the batch's aggregate rows into the raw model:
    # total gram mass = sum over ALL docs (both batches) of 2*words - 1
    from pyspark.sql import functions as F

    raw_rows = spark.read.parquet(os.path.join(model, "raw_model"))
    n_total_grams = raw_rows.agg(F.sum("cnt")).first()[0]
    b_all = spark.read.parquet(b1).union(spark.read.parquet(b2))
    words = [len(r["text"].split(" ")) for r in b_all.collect()]
    assert n_total_grams == sum(2 * w - 1 for w in words)
    # re-running the SAME increment (crash recovery) is a no-op on the
    # model — the fold is keyed by the batch source path (ADVICE r10:
    # the old append-always flow double-counted the batch on re-run)
    rc = main(["--dsir-select", b2, "--dsir-model", model, "--config", cfg])
    assert rc == 0
    out3 = capsys.readouterr().out
    assert "already folded" in out3
    n_after_rerun = (
        spark.read.parquet(os.path.join(model, "raw_model"))
        .agg(F.sum("cnt")).first()[0]
    )
    assert n_after_rerun == n_total_grams
    # ...but REFRESHED data at the same path re-folds (ADVICE r11: the
    # tag is a content fingerprint, not a path digest — a daily-updated
    # dir must not be silently skipped and leave the model stale)
    import shutil as _sh

    _sh.rmtree(b2)
    spark.createDataFrame(
        [(400 + i, f"{sci} x{i}") for i in range(2)],
        "doc_id long, text string",
    ).write.parquet(b2)
    rc = main(["--dsir-select", b2, "--dsir-model", model, "--config", cfg])
    assert rc == 0
    out4 = capsys.readouterr().out
    assert "folded in" in out4
    n_refreshed = (
        spark.read.parquet(os.path.join(model, "raw_model"))
        .agg(F.sum("cnt")).first()[0]
    )
    new_words = [
        len(r["text"].split(" ")) for r in spark.read.parquet(b2).collect()
    ]
    assert n_refreshed == n_total_grams + sum(2 * w - 1 for w in new_words)
    # an explicit --fold-tag forces idempotence on the caller's key
    rc = main(["--dsir-select", b2, "--dsir-model", model,
               "--fold-tag", "mykey", "--config", cfg])
    assert rc == 0
    assert "folded in" in capsys.readouterr().out
    rc = main(["--dsir-select", b2, "--dsir-model", model,
               "--fold-tag", "mykey", "--config", cfg])
    assert rc == 0
    assert "already folded" in capsys.readouterr().out
    # corrupt meta fails loud instead of guessing the bucket count
    with open(os.path.join(model, "meta.json"), "w") as f:
        f.write("{}")
    try:
        main(["--dsir-select", b2, "--dsir-model", model, "--config", cfg])
        assert False, "expected SystemExit"
    except SystemExit as e:
        assert "meta.json" in str(e)


def test_quality_fit_then_select_cli(spark, capsys, tmpdir_):
    """--quality-fit trains + persists the distilled quality filter;
    --quality-select scores later batches against the SAVED weights
    with no retraining (VERDICT r10 task 7: the --dsir-model shape for
    the logreg filter)."""
    root = str(tmpdir_)
    train_p = os.path.join(root, "q_train")
    batch_p = os.path.join(root, "q_batch")
    model_p = os.path.join(root, "quality_model.json")
    good = "the quick brown fox jumps over the lazy dog and runs far away"
    bad = "zzzz xxxx qqqq"
    spark.createDataFrame(
        [(i, f"{good} v{i}", 1) for i in range(10)]
        + [(100 + j, f"{bad} v{j}", 0) for j in range(10)],
        "doc_id long, text string, label int",
    ).write.parquet(train_p)
    spark.createDataFrame(
        [(200 + i, f"{good} w{i}") for i in range(4)]
        + [(300 + j, f"{bad} w{j}") for j in range(4)],
        "doc_id long, text string",
    ).write.parquet(batch_p)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(["--quality-fit", train_p, "--quality-model", model_p,
               "--config", cfg])
    assert rc == 0
    out = capsys.readouterr().out
    assert "trained quality filter" in out and "accuracy=" in out
    assert os.path.exists(model_p)
    # score-only stats pass
    rc = main(["--quality-select", batch_p, "--quality-model", model_p,
               "--config", cfg])
    assert rc == 0
    out = capsys.readouterr().out
    assert "8 docs scored" in out
    # selection write: good docs score above bad ones
    sel = os.path.join(root, "q_out")
    rc = main(["--quality-select", batch_p, "--quality-model", model_p,
               "--quality-threshold", "0.5", "--out", sel, "--config", cfg])
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(sel).collect()}
    assert kept and kept <= {200, 201, 202, 203}
    # missing model fails loud
    try:
        main(["--quality-select", batch_p, "--quality-model",
              os.path.join(root, "nope.json"), "--config", cfg])
        assert False, "expected SystemExit"
    except SystemExit as e:
        assert "quality model" in str(e)


def test_compact_cli(spark, capsys, tmpdir_):
    """--compact folds an append-decayed directory and reports the
    file-count change; --compact-partition-by preserves the layout."""
    root = str(tmpdir_)
    d = os.path.join(root, "decayed")
    for i in range(5):
        spark.range(i * 50, (i + 1) * 50).repartition(3).write.mode(
            "append"
        ).parquet(d)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    rc = main(["--compact", d, "--config", cfg])
    assert rc == 0
    out = capsys.readouterr().out
    assert "compacted" in out and "files ->" in out
    assert spark.read.parquet(d).count() == 250


def test_ann_index_build_and_search_cli(spark, capsys, tmpdir_):
    """--ann-index builds a persisted IVFADC directory (centroids +
    books + centroid_id-partitioned codes + meta.json); --ann-search
    probes it and returns the same rows the library search does."""
    root = str(tmpdir_)
    cfg = os.path.join(root, "riab.ini")
    with open(cfg, "w") as f:
        f.write("[spark]\nmaster = local[4]\nshuffle_partitions = 4\n")
    src = "/root/testdata/sf0.001/embeddings.parquet"
    idx = os.path.join(root, "ann_idx")
    rc = main(["--ann-index", src, "--id-col", "vec_id",
               "--clusters", "8", "--iterations", "1",
               "--ann-m", "8", "--ann-ksub", "16",
               "--out", idx, "--config", cfg])
    assert rc == 0
    out = capsys.readouterr().out
    assert "built IVFADC index" in out and "m=8" in out
    assert os.path.exists(os.path.join(idx, "meta.json"))
    # partition-prunable layout
    assert any(
        d.startswith("centroid_id=")
        for d in os.listdir(os.path.join(idx, "index"))
    )
    # search: write mode
    q_out = os.path.join(root, "ann_hits")
    queries = os.path.join(root, "ann_q")
    spark.read.parquet(src).filter("vec_id < 3").write.parquet(queries)
    rc = main(["--ann-search", queries, "--index", idx, "--topk", "3",
               "--ann-nprobe", "4", "--out", q_out, "--config", cfg])
    assert rc == 0
    hits = spark.read.parquet(q_out).collect()
    assert {r["query_id"] for r in hits} == {0, 1, 2}
    assert all(
        len([h for h in hits if h["query_id"] == q]) == 3 for q in (0, 1, 2)
    )
    # equals the library search on the same persisted artifacts
    from rabbit_in_a_blender_spark.ext.ivfpq import ivfpq_search
    from rabbit_in_a_blender_spark.ext.pq import l2_normalize

    e = l2_normalize(
        spark.read.parquet(src).select("vec_id", "embedding"), "embedding"
    )
    lib = ivfpq_search(
        spark.read.parquet(os.path.join(idx, "index")),
        spark.read.parquet(os.path.join(idx, "centroids")).withColumnRenamed(
            "centroid_id", "vec_id"
        ),
        spark.read.parquet(os.path.join(idx, "books")),
        e, e.filter("vec_id < 3"), m=8, k=3, nprobe=4, shortlist=32,
    )
    assert sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"]) for r in hits
    ) == sorted(
        (r["query_id"], r["neighbor_id"], r["cosine"]) for r in lib.collect()
    )
    # print mode
    rc = main(["--ann-search", queries, "--index", idx, "--topk", "2",
               "--config", cfg])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "query 0:" in printed and "cosine=" in printed
    # guardrails fail loud
    try:
        main(["--ann-search", queries, "--config", cfg])
        assert False, "expected SystemExit"
    except SystemExit as e2:
        assert "--index" in str(e2)
    try:
        main(["--ann-index", src, "--id-col", "vec_id", "--ann-m", "7",
              "--out", os.path.join(root, "x"), "--config", cfg])
        assert False, "expected SystemExit"
    except SystemExit as e3:
        assert "does not divide" in str(e3)


def test_cli_txn_verbs_on_pointer_warehouse(env, spark, capsys):
    """r13 transaction verbs: pointer-mode ETL runs seal a transaction
    each; --list-txns prints them, --restore-txn time-travels the whole
    warehouse (zero data I/O), --txn-recover reconciles drifted
    pointers."""
    root = env["root"]
    ini = os.path.join(root, "riab_ptr.ini")
    with open(ini, "w") as f:
        f.write(
            f"[warehouse]\nroot = {root}/ptr_wh\ncommit_mode = pointer\n"
            f"[raw]\npath = {root}/raw\n"
        )
    assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    capsys.readouterr()

    assert main(["--config", ini, "--list-txns"]) == 0
    out = capsys.readouterr().out
    assert "txn 1" in out and "txn 2 (live)" in out
    assert "omop/person -> v" in out

    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    wh = Warehouse(f"{root}/ptr_wh")
    n_run = wh.read_snapshot(spark, "omop", "person").count()

    # warehouse-wide restore to the first run's view
    assert main(["--config", ini, "--restore-txn", "1"]) == 0
    out = capsys.readouterr().out
    assert "restored transaction 1" in out and "new transaction 3" in out
    assert wh.snapshot() == wh.snapshot(txn=1)
    assert wh.read_snapshot(spark, "omop", "person").count() == n_run

    # drift one table, then recover against the live manifest
    wh.write(
        spark.createDataFrame([("P1",)], "person_id string"), "omop", "person"
    )
    assert main(["--config", ini, "--txn-recover"]) == 0
    out = capsys.readouterr().out
    assert "repointed omop/person" in out
    assert wh.read_snapshot(spark, "omop", "person").count() == n_run
    assert wh.read(spark, "omop", "person").count() == n_run


def test_cli_migrate_db(env, spark, capsys):
    """--migrate-db (r13): creates missing CDM tables empty and evolves
    drifted ones to the registry schema through the atomic commit
    path."""
    ini = env["ini"]
    root = env["root"]
    # plant a drifted person table: int32 id, a stray column
    spark.createDataFrame(
        [(1, "stray")], "person_id int, legacy string"
    ).write.mode("overwrite").parquet(
        os.path.join(root, "warehouse", "omop", "person")
    )
    assert main(["--config", ini, "--migrate-db"]) == 0
    out = capsys.readouterr().out
    assert "person:" in out and "-legacy" in out
    assert "~person_id:int->bigint" in out
    person = _wh_read(spark, root, "omop", "person")
    assert "legacy" not in person.columns
    assert dict(person.dtypes)["person_id"] == "bigint"
    # idempotent: second run reports zero changes
    assert main(["--config", ini, "--migrate-db"]) == 0
    out = capsys.readouterr().out
    assert "migrated 0/" in out


def test_cli_vacuum(env, spark, capsys):
    """--vacuum (r13): reports per-table reclamation on a pointer
    warehouse and leaves live data intact."""
    root = env["root"]
    ini = os.path.join(root, "riab_vac.ini")
    with open(ini, "w") as f:
        f.write(
            f"[warehouse]\nroot = {root}/vac_wh\ncommit_mode = pointer\n"
            f"[raw]\npath = {root}/raw\n"
        )
    assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    # churn versions beyond retention
    for _ in range(5):
        assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    capsys.readouterr()
    assert main(["--config", ini, "--vacuum"]) == 0
    out = capsys.readouterr().out
    assert "vacuumed" in out and "pointer tables" in out
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    wh = Warehouse(f"{root}/vac_wh")
    assert wh.read_snapshot(spark, "omop", "person").count() > 0


def test_cli_wds_export(env, spark, capsys, tmpdir_):
    """--wds-export (r13): corpus -> WebDataset tar shards with a
    printed index; shards read back through the tar source."""
    root = str(tmpdir_)
    docs = os.path.join(root, "docs")
    spark.createDataFrame(
        [(i, f"document text {i}") for i in range(12)],
        "doc_id long, text string",
    ).write.parquet(docs)
    out = os.path.join(root, "wds")
    cfg = os.path.join(root, "riab.ini")
    assert main(
        ["--wds-export", docs, "--out", out, "--shards", "3",
         "--id-col", "doc_id", "--config", cfg]
    ) == 0
    printed = capsys.readouterr().out
    assert "exported 12 samples" in printed
    tars = [f for f in os.listdir(out) if f.endswith(".tar")]
    assert 1 <= len(tars) <= 3

    from rabbit_in_a_blender_spark.sources.webdataset import (
        read_tar_shards,
        samples_from_members,
    )

    back = samples_from_members(read_tar_shards(spark, out))
    assert back.count() == 12
    row = {r["key"]: r for r in back.collect()}["7"]
    assert bytes(dict(row["parts"])["txt"]) == b"document text 7"


def test_cli_data_quality_at_txn(env, spark, capsys):
    """--at-txn (r13): -dq reads omop through a frozen transaction
    manifest — the run is reproducible even after later ETL runs
    change the live tables."""
    root = env["root"]
    ini = os.path.join(root, "riab_snap.ini")
    with open(ini, "w") as f:
        f.write(
            f"[warehouse]\nroot = {root}/snap_wh\ncommit_mode = pointer\n"
            f"[raw]\npath = {root}/raw\n"
        )
    assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    capsys.readouterr()
    out_json = os.path.join(root, "dq_at_txn.json")
    rc = main(
        ["--config", ini, "--data-quality", "--at-txn", "1",
         "--json", out_json]
    )
    assert rc in (0, 3)  # 3 = some checks failed (absent CDM tables)
    assert os.path.isfile(out_json)
    payload = json.load(open(out_json))
    assert payload  # checks ran against the frozen view
    # the latest-txn spelling works too
    assert main(
        ["--config", ini, "--data-quality", "--at-txn", "0"]
    ) in (0, 3)


def test_cli_analyze_table(env, spark, capsys):
    """--analyze (r13): one-pass profile of an omop table with the
    persisted _STATS sidecar and the broadcast suggestion."""
    ini = env["ini"]
    assert main(["--config", ini, "--run-etl", env["etl_dir"]]) == 0
    capsys.readouterr()
    assert main(["--config", ini, "--analyze", "person"]) == 0
    out = capsys.readouterr().out
    assert "omop.person:" in out and "rows" in out
    assert "person_id: nulls=0" in out
    assert "broadcast-join candidate: True" in out
