"""riab-spark CLI — the reference's operational surface on Spark.

Mirrors ``riab``'s commands (/root/reference/src/riab/cli.py:48-282,
flag surface :454-658): --create-db, --create-folders,
--import-vocabularies, --run-etl, --cleanup, --data-quality,
--data-quality-dashboard, --achilles, --print-etl-flow, with an ini
config resolved by the same cascade (--config flag → RIAB_CONFIG env →
./riab.ini; cli.py:335-356).

Config file (ini):

    [spark]
    master = local[*]
    shuffle_partitions = 32
    [warehouse]
    root = ./warehouse
    [raw]
    path = ./raw          ; dir of <name>.parquet registered as raw views

Run as ``python -m rabbit_in_a_blender_spark`` (or install the package
and expose ``riab-spark = rabbit_in_a_blender_spark.cli:main``).
"""

from __future__ import annotations

import argparse
import configparser
import json
import logging
import os
import sys
from datetime import datetime

log = logging.getLogger("riab_spark")


def _read_config(path: str | None) -> configparser.ConfigParser:
    cfg = configparser.ConfigParser()
    ini = path or os.environ.get("RIAB_CONFIG")
    if not ini:
        candidate = os.path.join(os.getcwd(), "riab.ini")
        ini = candidate if os.path.exists(candidate) else None
    if ini:
        if not os.path.exists(ini):
            raise SystemExit(f"config file not found: {ini}")
        cfg.read(ini)
    # every warehouse table is a pointer table (core/commit.py); the
    # old ``commit_mode = pointer`` line stays valid, anything else
    # asked for the deleted rename mode
    mode = cfg.get("warehouse", "commit_mode", fallback="pointer")
    if mode != "pointer":
        raise SystemExit(
            f"[warehouse] commit_mode = {mode}: rename mode is gone — "
            "every warehouse write is a pointer commit. Remove the line; "
            "plain table dirs convert on their first write."
        )
    return cfg


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="riab-spark",
        description="PySpark-native OMOP CDM ETL (Rabbit-in-a-Blender capabilities)",
    )
    # flag-parity with the reference CLI (/root/reference/src/riab/cli.py:387)
    from rabbit_in_a_blender_spark import __version__

    p.add_argument(
        "--version", action="version", version=f"%(prog)s {__version__}"
    )
    g = p.add_argument_group("commands")
    g.add_argument("-cd", "--create-db", action="store_true",
                   help="Create the (empty) OMOP CDM tables in the omop zone")
    g.add_argument("--migrate-db", action="store_true",
                   help="Evolve every omop table to the registry's "
                        "schema (CDM upgrade path): create missing "
                        "tables empty, add/drop/retype drifted columns "
                        "through the atomic commit path; prints the "
                        "per-table change report. Lossy casts are "
                        "refused unless --allow-narrowing")
    g.add_argument("--allow-narrowing", action="store_true",
                   help="With --migrate-db: force lossy casts via "
                        "try_cast (overflow becomes NULL) instead of "
                        "refusing them")
    g.add_argument("-tdc", "--test-db-connection", action="store_true",
                   help="Test the Spark session + warehouse root are reachable")
    g.add_argument("-cf", "--create-folders", metavar="PATH",
                   help="Scaffold the ETL folder structure (queries/usagi/custom)")
    g.add_argument("-i", "--import-vocabularies", metavar="ZIP_OR_DIR",
                   help="Import an Athena vocabulary export (zip or directory)")
    g.add_argument("-r", "--run-etl", metavar="PATH",
                   help="Run the two-stage ETL from a convention folder tree")
    g.add_argument("-c", "--cleanup", nargs="?", const="ALL", metavar="TABLE",
                   help="Cleanup all OMOP tables (no arg) or one table")
    g.add_argument("-dq", "--data-quality", action="store_true",
                   help="Run the metadata-driven DQD sweep over the CDM")
    g.add_argument("-dqd", "--data-quality-dashboard", action="store_true",
                   help="Print the latest DQD run's viewer Overview")
    g.add_argument("-ach", "--achilles", action="store_true",
                   help="Generate the Achilles descriptive statistics")
    g.add_argument("--print-etl-flow", action="store_true",
                   help="Print the FK-dependency table processing order")
    o = p.add_argument_group("options")
    o.add_argument("--config", metavar="INI",
                   help="ini config path (else $RIAB_CONFIG, else ./riab.ini)")
    o.add_argument("-t", "--table", action="append",
                   help="Restrict --run-etl to specific table(s)")
    o.add_argument("-q", "--only-query", action="append", metavar="TABLE/FILE.sql",
                   help="Restrict --run-etl to specific query file(s)")
    o.add_argument("-sa", "--process-semi-approved-mappings", action="store_true",
                   help="Also map SEMI-APPROVED usagi rows (default: APPROVED only)")
    o.add_argument("-se", "--skip-event-fks-step", action="store_true",
                   help="With --run-etl: skip the event foreign-keys step "
                        "(event id + discriminator columns land as NULL)")
    o.add_argument("-s", "--skip-usagi-and-custom-concept-upload",
                   action="store_true",
                   help="With --run-etl: reuse the usagi/custom-concept work "
                        "tables persisted by a prior run instead of "
                        "re-parsing the CSVs (speed boost when mappings "
                        "are unchanged)")
    o.add_argument("--clear-auto-generated-custom-concept-ids",
                   action="store_true",
                   help="With --cleanup: also drop the custom-concept id "
                        "swap so ids ≥2B are re-minted on the next run")
    o.add_argument("--json", metavar="PATH",
                   help="With --data-quality: also write viewer JSON here")
    o.add_argument("--html", metavar="PATH",
                   help="With --data-quality / --data-quality-dashboard: write "
                        "the static self-contained dashboard HTML here")
    o.add_argument("--port", type=int, metavar="N",
                   help="With --data-quality-dashboard: serve the live "
                        "dashboard on this port instead of printing "
                        "(reference's Dash app, as a stdlib HTTP server)")
    o.add_argument("-v", "--verbose", action="store_true")
    x = p.add_argument_group("extensions (beyond the reference surface)")
    x.add_argument("--run-query", metavar="NAME",
                   help="Run a named catalog query (plans/catalog.py) over "
                        "--sf-dir; print a sample or write with --out. "
                        "Use --run-query list to enumerate names")
    x.add_argument("--sf-dir", metavar="PATH",
                   default="/root/testdata/sf0.01",
                   help="Parquet table directory for --run-query "
                        "(default: %(default)s)")
    x.add_argument("--out", metavar="PATH",
                   help="With --run-query / --corpus-dedup: write the "
                        "result here instead of printing a sample")
    x.add_argument("--format", choices=("parquet", "jsonl"), default="parquet",
                   help="With --out: output format (default: %(default)s)")
    x.add_argument("--corpus-dedup", metavar="DOCS",
                   help="Near-duplicate dedup of a document corpus "
                        "(parquet dir/file or .jsonl[.gz]): exact + "
                        "MinHash-LSH clustering, keeps one canonical doc "
                        "per near-dup group.  With --index: incremental "
                        "mode — screen DOCS against the stored LSH band "
                        "index, append survivors' bands")
    x.add_argument("--index", metavar="PATH",
                   help="With --corpus-dedup: persistable LSH band index "
                        "directory.  Absent/empty → bootstrap it from "
                        "this batch; existing → O(delta) incremental "
                        "screen against the stored corpus")
    x.add_argument("--id-col", default="doc_id",
                   help="With --corpus-dedup: id column (default %(default)s)")
    x.add_argument("--text-col", default="text",
                   help="With --corpus-dedup: text column (default %(default)s)")
    x.add_argument("--threshold", type=float, default=0.2,
                   help="With --corpus-dedup (full mode): n-gram Jaccard "
                        "cluster threshold (default %(default)s)")
    x.add_argument("--corpus-tokenize", metavar="DOCS",
                   help="BPE-tokenize a document corpus (parquet dir/file "
                        "or .jsonl[.gz]): appends tokens + n_tokens. "
                        "--merges names the merge table — existing file → "
                        "apply it; absent → train on this corpus and save "
                        "it there (reusable across corpora/engines)")
    x.add_argument("--merges", metavar="PATH",
                   help="With --corpus-tokenize: merge table file "
                        "(one 'left right' pair per line, rank order)")
    x.add_argument("--num-merges", type=int, default=200,
                   help="With --corpus-tokenize (training): merges to "
                        "learn (default %(default)s)")
    x.add_argument("--corpus-mix", metavar="DOCS",
                   help="Curate a training mixture from a document corpus "
                        "(parquet dir/file or .jsonl[.gz]): per-stratum "
                        "fractional upsampling (--weights), optional "
                        "--token-budget cap, deterministic shuffle key + "
                        "--shards assignment, written shard-partitioned "
                        "to --out")
    x.add_argument("--weights", metavar="JSON",
                   help="With --corpus-mix: JSON file of stratum -> epochs "
                        "(e.g. {\"web\": 1.0, \"books\": 2.3}); strata not "
                        "listed default to 1.0")
    x.add_argument("--strata-col", default="source",
                   help="With --corpus-mix: stratum column "
                        "(default %(default)s)")
    x.add_argument("--token-budget", type=int, metavar="N",
                   help="With --corpus-mix: cap the mixture at N "
                        "whitespace tokens (random prefix in shuffle-key "
                        "order, so the cap keeps the mixture's "
                        "proportions)")
    x.add_argument("--shards", type=int, default=8,
                   help="With --corpus-mix: training shards "
                        "(default %(default)s)")
    x.add_argument("--seed", default="mix",
                   help="With --corpus-mix: seed for the upsample and "
                        "shuffle hashes (default %(default)s)")
    x.add_argument("--corpus-search", metavar="DOCS",
                   help="BM25 keyword search over a document corpus "
                        "(parquet dir/file or .jsonl[.gz]): builds the "
                        "postings aggregate in-session and ranks --query "
                        "strings against it")
    x.add_argument("--query", action="append", metavar="TEXT",
                   help="With --corpus-search: query string (repeatable; "
                        "at least one required)")
    x.add_argument("--topk", type=int, default=10,
                   help="With --corpus-search: results per query "
                        "(default %(default)s)")
    x.add_argument("--max-df", type=float, default=0.5, metavar="FRAC",
                   help="With --corpus-search: prune terms present in "
                        "more than this fraction of documents — the "
                        "stopword screen (default %(default)s; raise "
                        "toward 1.0 for tiny-vocabulary corpora)")
    x.add_argument("--graph-rank", metavar="EDGES",
                   help="PageRank over an edge table (parquet dir/file "
                        "or .jsonl[.gz] with --src-col/--dst-col "
                        "columns): the FineWeb-style source-authority "
                        "signal; prints the top 20 or writes --out")
    x.add_argument("--src-col", default="src",
                   help="With --graph-rank: source column (default %(default)s)")
    x.add_argument("--dst-col", default="dst",
                   help="With --graph-rank: destination column "
                        "(default %(default)s)")
    x.add_argument("--iterations", type=int, default=10,
                   help="With --graph-rank: damped power steps "
                        "(default %(default)s)")
    x.add_argument("--damping", type=float, default=0.85,
                   help="With --graph-rank: damping factor "
                        "(default %(default)s)")
    x.add_argument("--embed-cluster", metavar="VECS",
                   help="Lloyd k-means over an embedding table (parquet "
                        "dir/file with --id-col / --vec-col): writes "
                        "<out>/centroids and <out>/assignments "
                        "(partitioned by centroid_id, IVF-ready). "
                        "NOTE: --id-col defaults to 'doc_id'; for a "
                        "standard embeddings table pass --id-col vec_id")
    x.add_argument("--vec-col", default="embedding",
                   help="With --embed-cluster: vector column "
                        "(default %(default)s)")
    x.add_argument("--ann-index", metavar="VECS",
                   help="Build a persisted IVFADC ANN index (ext/ivfpq) "
                        "from an embedding table: Lloyd-refines "
                        "--clusters coarse centroids, trains "
                        "--ann-m x --ann-ksub PQ codebooks, and writes "
                        "<out>/centroids + <out>/books + <out>/index "
                        "(partitioned by centroid_id, scan-prunable) + "
                        "meta.json.  Vectors are L2-normalized so ADC "
                        "scores approximate cosine.  NOTE: --id-col "
                        "defaults to 'doc_id'; pass --id-col vec_id for "
                        "a standard embeddings table")
    x.add_argument("--ann-search", metavar="QUERIES",
                   help="Search a --ann-index-built directory (pass it "
                        "as --index): probe-bounded ADC + exact cosine "
                        "re-rank, printing (or --out writing) "
                        "(query_id, neighbor_id, cosine) top---topk "
                        "rows per query.  The exact re-rank reads the "
                        "corpus recorded in the index's meta.json "
                        "(override with --ann-corpus)")
    x.add_argument("--ann-corpus", metavar="VECS",
                   help="With --ann-search: corpus table for the exact "
                        "re-rank (default: the source recorded at build "
                        "time)")
    x.add_argument("--ann-m", type=int, default=8,
                   help="With --ann-index: PQ subspaces (default "
                        "%(default)s; must divide the vector dim)")
    x.add_argument("--ann-ksub", type=int, default=16,
                   help="With --ann-index: codewords per subspace "
                        "(default %(default)s)")
    x.add_argument("--ann-nprobe", type=int, default=4,
                   help="With --ann-search: coarse cells probed per "
                        "query (default %(default)s)")
    x.add_argument("--ann-shortlist", type=int, default=32,
                   help="With --ann-search: ADC shortlist re-ranked "
                        "exactly per query (default %(default)s)")
    x.add_argument("--clusters", type=int, default=None,
                   help="Number of centroids.  With --embed-cluster: "
                        "default 8.  With --semantic-dedup: default is "
                        "size-aware (~N/1000, min 8) because per-cluster "
                        "pairwise work is O((N/C)^2) — a small fixed C "
                        "on a large table is a quadratic blowup (the "
                        "SemDeDup paper runs ~50k clusters)")
    x.add_argument("--corpus-drift", metavar="DOCS",
                   help="Distribution-drift QC per stratum vs a reference "
                        "stratum: PSI + KS on --numeric-col, JSD on "
                        "--category-col; prints a table or writes --out")
    x.add_argument("--ref-stratum", metavar="NAME",
                   help="With --corpus-drift: the reference stratum value "
                        "(required)")
    x.add_argument("--numeric-col", default="n_chars",
                   help="With --corpus-drift: numeric column for PSI/KS "
                        "(default %(default)s)")
    x.add_argument("--category-col", default="lang",
                   help="With --corpus-drift: categorical column for JSD "
                        "(default %(default)s)")
    x.add_argument("--events-rollup", metavar="EVENTS",
                   help="Hypertable rollup over an event table (parquet "
                        "dir/file or .jsonl[.gz]): downsample onto a "
                        "dense gap-filled LOCF bucket grid, written to "
                        "--out; see --bucket-seconds/--with-anomalies")
    x.add_argument("--group-col", default="event_type",
                   help="With --events-rollup: series column "
                        "(default %(default)s)")
    x.add_argument("--ts-col", default="ts",
                   help="With --events-rollup: timestamp column "
                        "(default %(default)s)")
    x.add_argument("--value-col", default="value",
                   help="With --events-rollup: value column "
                        "(default %(default)s)")
    x.add_argument("--bucket-seconds", type=int, default=21600,
                   help="With --events-rollup: bucket width in seconds "
                        "(default %(default)s)")
    x.add_argument("--with-anomalies", action="store_true",
                   help="With --events-rollup: also write trailing-window "
                        "z-score anomaly flags to <out>_anomalies")
    x.add_argument("--corpus-normalize", metavar="DOCS",
                   help="Canonical text cleanup of a document corpus "
                        "(parquet dir/file or .jsonl[.gz]): C0 control "
                        "strip + whitespace collapse + Unicode NFC; "
                        "writes --out with text replaced by text_norm, "
                        "or prints change statistics")
    x.add_argument("--passage-dedup", metavar="DOCS",
                   help="Cut corpus-wide repeated >=k-word passages out "
                        "of every document (Lee-et-al-2022 exact-"
                        "substring dedup semantics via rolling word "
                        "k-grams); writes --out, or prints removal "
                        "statistics.  See --passage-k/--passage-min-total")
    x.add_argument("--passage-k", type=int, default=8,
                   help="With --passage-dedup: words per k-gram "
                        "(default %(default)s)")
    x.add_argument("--passage-min-total", type=int, default=2,
                   help="With --passage-dedup: occurrences for a k-gram "
                        "to count as duplicated (default %(default)s)")
    x.add_argument("--passage-mode", choices=("exact", "lsh"),
                   default="exact",
                   help="With --passage-dedup: 'exact' cuts corpus-"
                        "duplicated k-grams (default); 'lsh' removes "
                        "NEAR-duplicate sliding windows via MinHash+LSH "
                        "(keep-first: the lower-id doc keeps its copy); "
                        "lsh verifies candidates at --passage-threshold "
                        "and uses --passage-window/--passage-stride/"
                        "--passage-shingle-k")
    x.add_argument("--passage-window", type=int, default=16,
                   help="With --passage-mode lsh: words per sliding "
                        "window (default %(default)s)")
    x.add_argument("--passage-stride", type=int, default=8,
                   help="With --passage-mode lsh: window stride in "
                        "words (default %(default)s)")
    x.add_argument("--passage-threshold", type=float, default=0.35,
                   help="With --passage-mode lsh: Jaccard verification "
                        "threshold for near-dup windows (default "
                        "%(default)s).  Dedicated flag — the shared "
                        "--threshold (0.2, corpus-dedup clustering) "
                        "does NOT apply here (ADVICE r9)")
    x.add_argument("--passage-shingle-k", type=int, default=3,
                   help="With --passage-mode lsh: words per shingle "
                        "inside each window (default %(default)s).  "
                        "Dedicated flag — --passage-k is the EXACT "
                        "mode's k-gram width, not the lsh shingle "
                        "(ADVICE r9)")
    x.add_argument("--semantic-dedup", metavar="VECS",
                   help="SemDeDup over an embedding table (parquet): "
                        "Lloyd-cluster the vectors (--clusters seeds, "
                        "--iterations rounds), flag every vector whose "
                        "cluster holds a smaller-id member at cosine >= "
                        "--tau; writes the KEPT rows to --out, or "
                        "prints flag statistics.  --id-col defaults to "
                        "doc_id — pass --id-col vec_id for a standard "
                        "embeddings table")
    x.add_argument("--tau", type=float, default=0.35,
                   help="With --semantic-dedup: rounded-cosine duplicate "
                        "threshold (default %(default)s)")
    x.add_argument("--keep", choices=("min_id", "low_centroid"),
                   default="min_id",
                   help="With --semantic-dedup: which exemplar of a "
                        "near-dup neighborhood survives — smallest id "
                        "(default) or the lowest-centroid-cosine member "
                        "(the SemDeDup paper's policy)")
    x.add_argument("--probe", type=int, default=1,
                   help="With --semantic-dedup: assign each vector to "
                        "its --probe nearest centroids for the CANDIDATE "
                        "phase (reported cluster stays the nearest one); "
                        "2 closes most cross-cluster boundary misses at "
                        "~2x candidate cost (default %(default)s)")
    x.add_argument("--assign-method",
                   choices=("auto", "expr", "arrow", "coarse"),
                   default="auto",
                   help="With --semantic-dedup / --embed-cluster: "
                        "nearest-centroid assignment path — 'auto' "
                        "(default: picks 'coarse' once the centroid "
                        "count crosses the measured crossover, 'arrow' "
                        "below it; the choice is logged), 'arrow' "
                        "(flat BLAS matmul per Arrow batch; identical "
                        "assignments, exact at any C), 'expr' "
                        "(pure-SQL-replayable HOF fold, the oracle "
                        "twin), or 'coarse' (two-level quantizer: "
                        "probe sqrt(C) super-cells then exact within "
                        "— O(N*sqrt(C)*d), the C-proportional-to-N "
                        "regime rung; exact whenever the nearest "
                        "centroid lies in a probed super-cell)")
    x.add_argument("--coarse-probe", default="4",
                   help="With --semantic-dedup / --embed-cluster on the "
                        "coarse assignment rung: how many super-cells "
                        "each vector probes (bounds the miss rate like "
                        "IVF nprobe; default %(default)s), or 'auto' to "
                        "size it by a sampled flat-vs-coarse agreement "
                        "estimate (doubles the probe until agreement "
                        ">= 0.98 on a deterministic id-hash sample — "
                        "needed on unclustered geometry, where the "
                        "measured agreement at probe=4 is only 0.68)")
    x.add_argument("--max-cluster-size", type=int, default=None,
                   help="With --semantic-dedup: subsplit clusters larger "
                        "than this for the pairwise phase (deterministic "
                        "id-hash sub-buckets), bounding the per-cluster "
                        "pair blowup a degenerate corpus can cause; "
                        "trades recall on the hot cluster (default: off)")
    x.add_argument("--dsir-select", metavar="DOCS",
                   help="DSIR data selection (Xie et al. 2023): resample "
                        "--dsir-k documents from DOCS toward the "
                        "distribution of --dsir-target, by importance "
                        "weights over hashed uni+bigram buckets and "
                        "deterministic Gumbel top-k; writes the selected "
                        "rows to --out, or prints weight statistics")
    x.add_argument("--dsir-target", metavar="DOCS",
                   help="With --dsir-select: corpus whose distribution "
                        "to select toward (parquet dir/file or "
                        ".jsonl[.gz]); only its text column is read")
    x.add_argument("--dsir-k", type=int, default=None,
                   help="With --dsir-select + --out: how many documents "
                        "to select (required when writing)")
    x.add_argument("--dsir-buckets", type=int, default=10000,
                   help="With --dsir-select: hashed n-gram bucket count "
                        "(default %(default)s, the paper's 10k)")
    x.add_argument("--fold-tag", metavar="TAG",
                   help="With --dsir-select on an existing --dsir-model: "
                        "override the idempotent fold tag (defaults to a "
                        "content fingerprint of the batch source — path "
                        "+ file listing/sizes/mtimes). Use for non-local "
                        "URIs where the fingerprint can't see contents, "
                        "or to force a re-fold")
    x.add_argument("--dsir-model", metavar="DIR",
                   help="With --dsir-select: persistable bucket-model "
                        "directory.  Absent/empty -> bootstrap it from "
                        "this corpus + --dsir-target; existing -> "
                        "O(batch) incremental scoring against the "
                        "stored models (the batch's counts fold in as "
                        "one idempotent file keyed on a content "
                        "fingerprint of the batch source, so crash "
                        "re-runs never double-count but refreshed "
                        "data at the same path re-folds; "
                        "the target model stays frozen, so "
                        "--dsir-target is not read)")
    x.add_argument("--quality-fit", metavar="DOCS",
                   help="Train the logistic-regression quality filter "
                        "(oracle-reproducible full-batch GD) on DOCS "
                        "over the standard text feature set, using "
                        "--label-col as the 0/1 target; prints the "
                        "confusion matrix and saves the weights to "
                        "--quality-model for score-only reruns")
    x.add_argument("--quality-select", metavar="DOCS",
                   help="Score DOCS with a PERSISTED quality model "
                        "(--quality-model, trained by --quality-fit) — "
                        "no retraining, one narrow scoring pass; with "
                        "--out writes rows scoring >= "
                        "--quality-threshold, else prints score stats")
    x.add_argument("--quality-model", metavar="FILE",
                   help="With --quality-fit / --quality-select: JSON "
                        "weight file (weights + feature list, so "
                        "scoring can never run against mismatched "
                        "features)")
    x.add_argument("--label-col", default="label",
                   help="With --quality-fit: 0/1 label column in DOCS "
                        "(default %(default)s)")
    x.add_argument("--quality-threshold", type=float, default=0.5,
                   help="With --quality-select + --out: keep docs with "
                        "sigmoid score >= this (default %(default)s)")
    x.add_argument("--quality-steps", type=int, default=8,
                   help="With --quality-fit: gradient-descent steps "
                        "(default %(default)s)")
    x.add_argument("--compact", metavar="DIR",
                   help="Rewrite an append-decayed parquet directory "
                        "(streaming sink outputs, incremental indexes) "
                        "into ~--target-file-mb files via an atomic "
                        "swap (a pointer commit for warehouse tables); "
                        "prints files before -> after")
    x.add_argument("--target-file-mb", type=int, default=128,
                   help="With --compact: target output file size "
                        "(default %(default)s MB)")
    x.add_argument("--compact-partition-by", metavar="COLS",
                   help="With --compact: comma-separated partition "
                        "columns the directory's discovered key=value "
                        "layout must match (a mismatch raises instead "
                        "of silently rewriting the layout); omit to "
                        "preserve the discovered layout automatically")
    x.add_argument("--list-txns", action="store_true",
                   help="Print the warehouse's retained transactions "
                        "(pipeline/txn.py): each ETL run seals one — "
                        "id, table count, and "
                        "the table->version map of the live one")
    x.add_argument("--txn-recover", action="store_true",
                   help="Reconcile table pointers with the live "
                        "manifest after a crashed run: every manifest "
                        "table whose live version drifted is repointed "
                        "back (zero data I/O)")
    x.add_argument("--wds-export", metavar="DOCS",
                   help="Export a corpus to WebDataset tar shards "
                        "(--out DIR required): each doc becomes one "
                        "sample (member <id>.txt), hash-sharded into "
                        "--shards tars (default 8), deterministic "
                        "bytes, atomic per-shard rename; prints the "
                        "shard index")
    x.add_argument("--at-txn", type=int, metavar="N",
                   help="With -dq/-dqd/-ach: "
                        "read omop tables through transaction N's "
                        "manifest (a frozen consistent view) instead "
                        "of the live pointers — reproducible quality "
                        "runs even while an ETL is writing; 0 = the "
                        "latest committed transaction")
    x.add_argument("--analyze", metavar="TABLE",
                   help="Profile an omop table in one aggregate pass "
                        "(rows, bytes, per-column nulls/ndv/min/max; "
                        "HLL ndv) and persist the _STATS sidecar "
                        "stamped with the pointer version; prints the "
                        "profile and the broadcast-join suggestion")
    x.add_argument("--vacuum", action="store_true",
                   help="Reclaim dead warehouse space without "
                        "committing: crash-orphan version dirs, stale "
                        "temp pointer files, versions beyond retention "
                        "(never live, never manifest-pinned); retires "
                        "old transaction manifests first and re-derives "
                        "pins, so expired transactions release their "
                        "versions. Prints per-table dirs/bytes freed")
    x.add_argument("--restore-txn", type=int, metavar="N",
                   help="Warehouse-wide time travel: repoint every "
                        "table to its version in transaction N and "
                        "seal that view as a NEW transaction (zero "
                        "data I/O; the restore is itself undoable)")
    return p


def _load_corpus(spark, src: str):
    if src.endswith((".jsonl", ".jsonl.gz", ".json")):
        from .sources.readers import read_jsonl

        return read_jsonl(spark, src)
    return spark.read.parquet(src)


def _ext_session(cfg):
    from .core.session import get_spark

    return get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )


def _wds_export(args, cfg) -> int:
    """Corpus → WebDataset tar shards (sources/webdataset.py, r13)."""
    from pyspark.sql import functions as F

    if not args.out:
        raise SystemExit("--wds-export needs --out DIR for the shards")
    spark = _ext_session(cfg)
    docs = _load_corpus(spark, args.wds_export)
    for c in (args.id_col, args.text_col):
        if c not in docs.columns:
            raise SystemExit(
                f"column {c!r} not in {args.wds_export} ({docs.columns})"
            )
    from .sources.webdataset import write_webdataset

    samples = docs.select(
        F.col(args.id_col).cast("string").alias("key"),
        F.map_from_arrays(
            F.array(F.lit("txt")),
            F.array(F.encode(F.col(args.text_col), "utf-8")),
        ).alias("parts"),
    )
    idx = write_webdataset(samples, args.out, n_shards=args.shards).collect()
    for r in sorted(idx, key=lambda r: r["shard"]):
        print(
            f"{r['shard']}: {r['n_samples']} samples, "
            f"{r['n_members']} members, {r['n_bytes']:,} bytes"
        )
    print(f"exported {sum(r['n_samples'] for r in idx)} samples -> {args.out}")
    return 0


def _corpus_normalize(args, cfg) -> int:
    """User-facing text cleanup (`ext/text.py::normalize_text`)."""
    from pyspark.sql import functions as F

    spark = _ext_session(cfg)
    src = args.corpus_normalize
    docs = _load_corpus(spark, src)
    for c in (args.id_col, args.text_col):
        if c not in docs.columns:
            raise SystemExit(f"column {c!r} not in {src} ({docs.columns})")
    from .ext.text import normalize_text

    norm = normalize_text(docs, args.id_col, args.text_col)
    if args.out:
        cleaned = (
            docs.drop(args.text_col)
            .join(
                norm.select(
                    args.id_col, F.col("text_norm").alias(args.text_col)
                ),
                args.id_col,
            )
        )
        _write_docs(cleaned, args.out, args.format)
        print(f"wrote normalized corpus -> {args.out} ({args.format})")
        return 0
    stats = norm.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum(F.col("changed").cast("long")).alias("changed"),
        F.sum("n_chars_raw").alias("chars_raw"),
        F.sum("n_chars_norm").alias("chars_norm"),
    ).first()
    print(
        f"{stats['docs']} docs, {stats['changed']} changed, "
        f"{stats['chars_raw']} -> {stats['chars_norm']} chars"
    )
    return 0


def _passage_dedup(args, cfg) -> int:
    """User-facing duplicate-passage removal (`ext/passages.py`):
    exact repeated k-grams, or MinHash-LSH near-duplicate windows with
    keep-first removal (--passage-mode lsh)."""
    from pyspark.sql import functions as F

    from .core.caching import unpersist_intermediates
    from .ext.passages import (
        remove_duplicate_passages,
        remove_near_duplicate_passages,
    )

    spark = _ext_session(cfg)
    src = args.passage_dedup
    docs = _load_corpus(spark, src)
    for c in (args.id_col, args.text_col):
        if c not in docs.columns:
            raise SystemExit(f"column {c!r} not in {src} ({docs.columns})")
    if args.passage_mode == "lsh":
        # Dedicated lsh flags (ADVICE r9): --passage-threshold (0.35)
        # and --passage-shingle-k (3) — the shared --threshold (0.2,
        # corpus-dedup clustering) and --passage-k (exact-mode k-gram
        # width, 8) carry different semantics and defaults, and a
        # default invocation must verify at the tested configuration.
        out = remove_near_duplicate_passages(
            docs,
            args.id_col,
            args.text_col,
            window=args.passage_window,
            stride=args.passage_stride,
            k=min(args.passage_shingle_k, args.passage_window),
            threshold=args.passage_threshold,
        )
    else:
        out = remove_duplicate_passages(
            docs,
            args.id_col,
            args.text_col,
            k=args.passage_k,
            min_total=args.passage_min_total,
        )
    if args.out:
        cleaned = (
            docs.drop(args.text_col)
            .join(
                out.select(
                    args.id_col, F.col("text_clean").alias(args.text_col)
                ),
                args.id_col,
            )
        )
        _write_docs(cleaned, args.out, args.format)
        unpersist_intermediates(out)
        print(f"wrote passage-deduped corpus -> {args.out} ({args.format})")
        return 0
    stats = out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.sum((F.col("n_removed") > 0).cast("long")).alias("touched"),
        F.sum("n_words").alias("words"),
        F.sum("n_removed").alias("removed"),
    ).first()
    unpersist_intermediates(out)
    print(
        f"{stats['docs']} docs, {stats['touched']} touched, "
        f"{stats['removed']}/{stats['words']} words removed"
    )
    return 0


def _corpus_tokenize(args, cfg) -> int:
    """User-facing BPE entry point (`ext/bpe.py`): one vocabulary-
    bounded aggregation to train, pure-JVM chained-regex application."""
    from .core.session import get_spark
    from .ext.bpe import bpe_tokenize, train_bpe, word_frequencies

    if not args.out:
        raise SystemExit("--corpus-tokenize requires --out")
    if not args.merges:
        raise SystemExit("--corpus-tokenize requires --merges")
    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    src = args.corpus_tokenize
    if src.endswith((".jsonl", ".jsonl.gz", ".json")):
        from .sources.readers import read_jsonl

        docs = read_jsonl(spark, src)
    else:
        docs = spark.read.parquet(src)
    if args.text_col not in docs.columns:
        raise SystemExit(f"column {args.text_col!r} not in {src} ({docs.columns})")

    if os.path.isfile(args.merges):
        with open(args.merges) as f:
            merges = [tuple(line.split()) for line in f if line.strip()]
        bad = [m for m in merges if len(m) != 2]
        if bad:
            raise SystemExit(f"malformed merge lines in {args.merges}: {bad[:3]}")
        print(f"applying {len(merges)} merges from {args.merges}")
    else:
        merges = train_bpe(word_frequencies(docs, args.text_col), args.num_merges)
        with open(args.merges, "w") as f:
            f.writelines(f"{a} {b}\n" for a, b in merges)
        print(f"trained {len(merges)} merges -> {args.merges}")
    out = bpe_tokenize(docs, merges, args.text_col)
    _write_docs(out, args.out, args.format)
    # One aggregation over the WRITTEN output for both totals (ADVICE
    # r6: re-running the tokenization chain for the doc and token
    # counts tripled the dominant cost on a large corpus).
    spark_out = (
        spark.read.parquet(args.out) if args.format == "parquet"
        else spark.read.json(args.out)
    )
    from pyspark.sql import functions as F

    stats = spark_out.agg(
        F.count(F.lit(1)).alias("docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("toks"),
    ).collect()[0]
    print(f"tokenized {stats['docs']} docs, {stats['toks']} tokens -> {args.out}")
    return 0


def _corpus_dedup(args, cfg) -> int:
    """The user-facing entry point for the dedup operators (VERDICT r5
    task 9): full-corpus exact + LSH near-dup clustering, or — with a
    stored band index — the O(delta) incremental screen.

    Full mode: exact dedup collapses byte-identical docs, then
    near_dup_clusters keeps one canonical doc per transitive near-dup
    group.  If --index names an absent/empty directory the surviving
    docs' band rows are written there, bootstrapping incremental runs.
    Incremental mode (--index exists): incremental_dedup screens the
    batch against the stored index with a band-key semi join (the
    corpus itself is never read), appends the survivors' bands, and
    releases the loop's persisted intermediates.
    """
    from pyspark.sql import functions as F

    from .core.session import get_spark
    from .ext.dedup import (
        exact_dedup_groups,
        incremental_dedup,
        minhash_signatures,
        shingle_sets,
        signature_bands,
        unpersist_intermediates,
    )

    if not args.out:
        raise SystemExit("--corpus-dedup requires --out")
    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    src = args.corpus_dedup
    if src.endswith((".jsonl", ".jsonl.gz", ".json")):
        from .sources.readers import read_jsonl

        docs = read_jsonl(spark, src)
    else:
        docs = spark.read.parquet(src)
    id_col, text_col = args.id_col, args.text_col
    for c in (id_col, text_col):
        if c not in docs.columns:
            raise SystemExit(f"column {c!r} not in {src} ({docs.columns})")
    n_in = docs.count()

    from .core.fsio import parquet_exists

    # Hadoop-FS-aware (ADVICE r6): os.path probes lie on HDFS/S3 URIs.
    index_exists = bool(args.index) and parquet_exists(spark, args.index)
    if index_exists:
        corpus_bands = spark.read.parquet(args.index)
        clean, clean_bands = incremental_dedup(
            docs, corpus_bands, id_col, text_col
        )
        _write_docs(clean, args.out, args.format)
        clean_bands.write.mode("append").parquet(args.index)
        n_out = spark.read.parquet(
            args.out
        ).count() if args.format == "parquet" else clean.count()
        unpersist_intermediates(clean, clean_bands)
        print(
            f"incremental dedup: {n_in} in -> {n_out} clean "
            f"({n_in - n_out} screened); bands appended to {args.index}"
        )
        return 0

    # Full mode: exact first (cheap digest groupBy), then LSH clustering.
    from .ext.cluster import near_dup_clusters

    canon = exact_dedup_groups(docs, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    uniq = docs.join(canon, id_col, "left_semi")
    labeled = near_dup_clusters(
        uniq, id_col, text_col, threshold=args.threshold
    )
    # labels carry (id, cluster_id, cluster_size, is_canonical) only —
    # semi-join back so the output keeps the full document rows
    clean = uniq.join(
        labeled.filter(F.col("is_canonical") == 1).select(id_col),
        id_col,
        "left_semi",
    )
    _write_docs(clean, args.out, args.format)
    out_read = (
        spark.read.parquet(args.out) if args.format == "parquet" else clean
    )
    n_out = out_read.count()
    if args.index:
        keep = clean if args.format != "parquet" else out_read
        bands = signature_bands(
            minhash_signatures(
                shingle_sets(keep, id_col, text_col), id_col
            ),
            id_col,
        )
        os.makedirs(args.index, exist_ok=True)
        bands.write.mode("overwrite").parquet(args.index)
        print(f"band index bootstrapped at {args.index}")
    print(
        f"corpus dedup: {n_in} in -> {n_out} canonical "
        f"({n_in - n_out} removed as exact/near dups)"
    )
    return 0


def _corpus_mix(args, cfg) -> int:
    """The user-facing curation-chain pipeline (VERDICT r6 task 8):
    weights -> fractional upsampling -> optional token budget ->
    deterministic shuffle/shard -> shard-partitioned write.

    Every stage is an already-oracle-proven operator
    (ext/sampling.upsample_epochs, ext/budget.token_budget_select,
    ext/budget.deterministic_shuffle — the ext_curation_chain catalog
    row proves their composition); this verb wires them to files.  The
    output is partitioned by shard_id so training loaders consume
    shards independently, pre-shuffled by shuffle_key.
    """
    import json as _json

    from pyspark.sql import functions as F

    from .core.caching import unpersist_intermediates
    from .core.session import get_spark
    from .ext.budget import deterministic_shuffle, token_budget_select
    from .ext.sampling import upsample_epochs

    if not args.out:
        raise SystemExit("--corpus-mix requires --out")
    weights: dict[str, float] = {}
    if args.weights:
        with open(args.weights) as f:
            weights = {str(k): float(v) for k, v in _json.load(f).items()}
    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    src = args.corpus_mix
    if src.endswith((".jsonl", ".jsonl.gz", ".json")):
        from .sources.readers import read_jsonl

        docs = read_jsonl(spark, src)
    else:
        docs = spark.read.parquet(src)
    for c in (args.id_col, args.text_col, args.strata_col):
        if c not in docs.columns:
            raise SystemExit(f"column {c!r} not in {src} ({docs.columns})")

    up = upsample_epochs(
        docs, args.id_col, args.strata_col, weights, seed=args.seed
    )
    # copies get distinct shuffle keys (and budget rank) via a composite
    # key, so epoch repeats of one doc land in different shards
    mixed = up.withColumn(
        "__mix_key",
        F.concat_ws(":", F.col(args.id_col).cast("string"), F.col("copy_idx")),
    )
    shuffled = deterministic_shuffle(
        mixed, "__mix_key", seed=f"{args.seed}:order", shards=args.shards
    ).drop("__mix_key")
    budgeted = None
    if args.token_budget:
        shuffled = shuffled.withColumn(
            "n_ws_tokens", F.size(F.split(F.col(args.text_col), " ")).cast("long")
        )
        # shuffle-key order = uniform random prefix: the budget cap
        # scales the whole mixture down without biasing any stratum
        budgeted = token_budget_select(
            shuffled, "n_ws_tokens", args.token_budget,
            [F.asc("shuffle_key")], cum_col="cum_tokens",
        )
        shuffled = budgeted
    shuffled.write.mode("overwrite").partitionBy("shard_id").parquet(args.out)
    if budgeted is not None:
        unpersist_intermediates(budgeted)
    written = spark.read.parquet(args.out)
    stats = written.groupBy(args.strata_col).agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct(args.id_col).alias("docs"),
    ).collect()
    total = sum(r["rows"] for r in stats)
    per = ", ".join(
        f"{r[args.strata_col]}: {r['rows']} rows/{r['docs']} docs"
        for r in sorted(stats, key=lambda r: str(r[args.strata_col]))
    )
    print(
        f"corpus mix: {total} rows across {args.shards} shards -> "
        f"{args.out} ({per})"
    )
    return 0


def _corpus_search(args, cfg) -> int:
    """User-facing BM25 search (`ext/retrieval.py`): the postings
    aggregate is the index, built in-session — no external service."""
    from .core.caching import local_frame
    from .core.session import get_spark
    from .ext.retrieval import bm25_topk

    if not args.query:
        raise SystemExit("--corpus-search requires at least one --query")
    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    src = args.corpus_search
    if src.endswith((".jsonl", ".jsonl.gz", ".json")):
        from .sources.readers import read_jsonl

        docs = read_jsonl(spark, src)
    else:
        docs = spark.read.parquet(src)
    for c in (args.id_col, args.text_col):
        if c not in docs.columns:
            raise SystemExit(f"column {c!r} not in {src} ({docs.columns})")

    queries = local_frame(
        spark, list(enumerate(args.query)), "qid int, qtext string"
    )
    hits = bm25_topk(
        docs, queries, args.id_col, args.text_col, "qid", "qtext",
        k=args.topk, max_df_fraction=args.max_df,
    )
    if args.out:
        _write_docs(hits, args.out, args.format)
        print(f"wrote search results -> {args.out} ({args.format})")
        return 0
    rows = hits.orderBy("qid", "rank").collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["qid"], []).append(r)
    for i, q in enumerate(args.query):
        print(f"query {i}: {q!r}")
        for r in by_q.get(i, []):
            print(f"  {r['rank']:>3}. {r[args.id_col]}  score={r['score']}")
        if i not in by_q:
            print("  (no matches)")
    return 0


def _resolve_coarse_probe(
    arg: str, vecs, cents, id_col: str, vec_col: str,
    n_clusters: int, assign_method: str,
) -> int:
    """Parse --coarse-probe: a positive integer, or 'auto' — which runs
    ext/ivf.py::tune_coarse_probe (sampled flat-vs-coarse agreement,
    probe doubled to target) but ONLY when the resolved assignment
    method is actually the coarse rung; on the flat rungs the probe is
    unused and tuning would waste two sample assignments."""
    from .ext.ivf import resolve_assign_method, tune_coarse_probe

    if arg != "auto":
        try:
            p = int(arg)
        except ValueError:
            raise SystemExit(
                f"--coarse-probe must be a positive integer or 'auto', "
                f"got {arg!r}"
            )
        if p < 1:
            raise SystemExit(f"--coarse-probe must be >= 1, got {p}")
        return p
    if resolve_assign_method(assign_method, n_clusters) != "coarse":
        return 4
    probe, agree = tune_coarse_probe(
        vecs, cents, id_col=id_col, vec_col=vec_col
    )
    print(
        f"--coarse-probe auto: chose probe={probe} "
        f"(sampled flat-vs-coarse agreement {agree:.4f})"
    )
    return probe


def _embed_cluster(args, cfg) -> int:
    """User-facing Lloyd k-means (`ext/ivf.py::refine_centroids`):
    cluster an embedding table, write centroids + an IVF-ready
    assignment layout.  Seeds are the first --clusters ids (hash-order
    deterministic); --iterations (shared with --graph-rank) sets the
    Lloyd rounds."""
    from pyspark.sql import functions as F

    from .core.session import get_spark
    from .ext.ivf import build_ivf_index, refine_centroids

    if not args.out:
        raise SystemExit("--embed-cluster requires --out")
    # Validate columns from the parquet footer BEFORE spinning up a
    # session when the source is a local path (ADVICE r7: --id-col
    # defaults to 'doc_id', so a standard embeddings table needs
    # --id-col vec_id — fail in milliseconds, not after session start).
    src = args.embed_cluster
    if os.path.exists(src):
        try:
            import pyarrow.dataset as _ds

            cols = set(_ds.dataset(src, format="parquet").schema.names)
        except Exception:
            cols = None
        if cols is not None:
            for c in (args.id_col, args.vec_col):
                if c not in cols:
                    raise SystemExit(
                        f"column {c!r} not in {src} (has {sorted(cols)}); "
                        "hint: --id-col defaults to 'doc_id', pass "
                        "--id-col vec_id for a standard embeddings table"
                    )
    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    vecs = spark.read.parquet(src)
    for c in (args.id_col, args.vec_col):
        if c not in vecs.columns:
            raise SystemExit(f"column {c!r} not in {src} ({vecs.columns})")
    vecs = vecs.select(args.id_col, args.vec_col)
    n_clusters = args.clusters if args.clusters is not None else 8
    seeds = vecs.orderBy(args.id_col).limit(n_clusters)
    cents = refine_centroids(
        vecs, seeds, id_col=args.id_col, vec_col=args.vec_col,
        iterations=args.iterations, grid=6,
        assign_method=args.assign_method,
    )
    cents_out = args.out.rstrip("/") + "/centroids"
    cents.withColumnRenamed(args.id_col, "centroid_id").write.mode(
        "overwrite"
    ).parquet(cents_out)
    cents_read = spark.read.parquet(cents_out).withColumnRenamed(
        "centroid_id", args.id_col
    )
    # probe tuning runs against the WRITTEN centroids so the sampled
    # agreement measures exactly what the final assignment will use
    coarse_probe = _resolve_coarse_probe(
        args.coarse_probe, vecs, cents_read, args.id_col, args.vec_col,
        n_clusters, args.assign_method,
    )
    assigned = build_ivf_index(
        vecs, cents_read,
        id_col=args.id_col, vec_col=args.vec_col,
        method=args.assign_method, coarse_probe=coarse_probe,
    )
    assign_out = args.out.rstrip("/") + "/assignments"
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(assign_out)
    sizes = (
        spark.read.parquet(assign_out)
        .groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("centroid_id")
        .collect()
    )
    print(f"wrote {len(sizes)} centroids -> {cents_out}")
    print(f"wrote assignments (partitioned by centroid_id) -> {assign_out}")
    for r in sizes:
        print(f"  centroid {r['centroid_id']}: {r['n']} vectors")
    return 0


def _semantic_dedup(args, cfg) -> int:
    """User-facing SemDeDup (`ext/semdedup.py`): Lloyd-cluster an
    embedding table and drop every vector with a smaller-id same-cluster
    member at rounded cosine >= --tau (the min-id exemplar survives)."""
    from pyspark.sql import functions as F

    from .core.caching import unpersist_intermediates
    from .ext.ivf import refine_centroids
    from .ext.semdedup import semantic_dedup

    spark = _ext_session(cfg)
    src = args.semantic_dedup
    vecs = spark.read.parquet(src)
    for c in (args.id_col, args.vec_col):
        if c not in vecs.columns:
            raise SystemExit(
                f"column {c!r} not in {src} ({vecs.columns}); hint: "
                "--id-col defaults to 'doc_id', pass --id-col vec_id "
                "for a standard embeddings table"
            )
    slim = vecs.select(args.id_col, args.vec_col)
    # Size-aware C (ADVICE r9): SemDeDup's pairwise phase is
    # O((N/C)^2) per cluster, so inheriting --embed-cluster's fixed
    # default would make the default invocation quadratic on a real
    # table.  ~N/1000 tracks the paper's cluster density (they run
    # ~50k clusters over ~50M embeddings); expected pair count is
    # ~N^2/(2C) — warn when it's large even at the chosen C.
    n_rows = slim.count()
    n_clusters = (
        args.clusters if args.clusters is not None
        else max(8, n_rows // 1000)
    )
    expected_pairs = (n_rows * n_rows) / (2.0 * max(n_clusters, 1))
    if expected_pairs > 5e7:
        print(
            f"WARNING: --clusters {n_clusters} over {n_rows} vectors "
            f"implies ~{expected_pairs:.0f} candidate pairs "
            f"(~(N/C)^2/2 per cluster); raise --clusters or set "
            "--max-cluster-size to bound the pairwise phase",
            file=sys.stderr,
        )
    seeds = slim.orderBy(args.id_col).limit(n_clusters)
    cents = refine_centroids(
        slim, seeds, id_col=args.id_col, vec_col=args.vec_col,
        iterations=args.iterations, grid=6,
        assign_method=args.assign_method,
    )
    coarse_probe = _resolve_coarse_probe(
        args.coarse_probe, slim, cents, args.id_col, args.vec_col,
        n_clusters, args.assign_method,
    )
    flags = semantic_dedup(
        slim, cents, id_col=args.id_col, vec_col=args.vec_col,
        tau=args.tau, grid=6, keep=args.keep, probe=args.probe,
        max_cluster_size=args.max_cluster_size,
        assign_method=args.assign_method, coarse_probe=coarse_probe,
    )
    if args.out:
        kept = vecs.join(
            flags.filter(~F.col("is_dup")).select(args.id_col),
            args.id_col,
            "left_semi",
        )
        _write_docs(kept, args.out, args.format)
        unpersist_intermediates(flags)
        print(f"wrote SemDeDup-kept rows -> {args.out} ({args.format})")
        return 0
    stats = flags.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("is_dup").cast("long")).alias("dups"),
    ).first()
    unpersist_intermediates(flags)
    print(
        f"{stats['rows']} vectors, {stats['dups']} semantic duplicates "
        f"flagged at tau={args.tau} across {n_clusters} clusters"
    )
    return 0


def _ann_index(args, cfg) -> int:
    """User-facing IVFADC index build (`ext/ivfpq.py`): Lloyd-refined
    coarse centroids + trained PQ codebooks + the fused zero-shuffle
    assignment/encode, persisted with ``partitionBy("centroid_id")`` so
    searches prune at the parquet-scan level.  meta.json records the
    build parameters and source so ``--ann-search`` is self-contained."""
    import json as _json
    import os as _os

    from .ext.ivf import refine_centroids
    from .ext.ivfpq import build_ivfpq_index
    from .ext.pq import l2_normalize, train_pq_codebooks

    if not args.out:
        raise SystemExit("--ann-index requires --out DIR")
    spark = _ext_session(cfg)
    src = args.ann_index
    vecs = spark.read.parquet(src)
    for c in (args.id_col, args.vec_col):
        if c not in vecs.columns:
            raise SystemExit(
                f"column {c!r} not in {src} ({vecs.columns}); hint: "
                "--id-col defaults to 'doc_id', pass --id-col vec_id "
                "for a standard embeddings table"
            )
    vecs = l2_normalize(
        vecs.select(args.id_col, args.vec_col), args.vec_col
    )
    dim = len(vecs.select(args.vec_col).first()[0])
    if dim % args.ann_m != 0:
        raise SystemExit(
            f"--ann-m {args.ann_m} does not divide the vector "
            f"dimension {dim}"
        )
    n_rows = vecs.count()
    n_clusters = (
        args.clusters if args.clusters is not None
        else max(4, min(n_rows // 64, 4096))
    )
    seeds = vecs.orderBy(args.id_col).limit(n_clusters)
    cents = refine_centroids(
        vecs, seeds, id_col=args.id_col, vec_col=args.vec_col,
        iterations=args.iterations, grid=6,
        assign_method=args.assign_method,
    ).persist()
    out = args.out.rstrip("/")
    cents.withColumnRenamed(args.id_col, "centroid_id").write.mode(
        "overwrite"
    ).parquet(f"{out}/centroids")
    # PQ books: 2 Lloyd rounds (the proven catalog-row config);
    # --iterations steers the coarse-centroid refinement only
    books = train_pq_codebooks(
        vecs, id_col=args.id_col, vec_col=args.vec_col,
        m=args.ann_m, ksub=args.ann_ksub, iterations=2, grid=6,
    ).persist()
    books.write.mode("overwrite").parquet(f"{out}/books")
    cents_read = spark.read.parquet(f"{out}/centroids").withColumnRenamed(
        "centroid_id", args.id_col
    )
    books_read = spark.read.parquet(f"{out}/books")
    index = build_ivfpq_index(
        vecs, cents_read, books_read,
        id_col=args.id_col, vec_col=args.vec_col, m=args.ann_m,
    )
    index.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{out}/index"
    )
    with open(_os.path.join(out, "meta.json"), "w") as fh:
        _json.dump(
            {
                "src": _os.path.abspath(src),
                "id_col": args.id_col,
                "vec_col": args.vec_col,
                "m": args.ann_m,
                "ksub": args.ann_ksub,
                "clusters": n_clusters,
                "normalized": True,
            },
            fh,
        )
    cents.unpersist()
    books.unpersist()
    n_cells = spark.read.parquet(f"{out}/index").select(
        "centroid_id"
    ).distinct().count()
    print(
        f"built IVFADC index over {n_rows} vectors -> {out} "
        f"(C={n_clusters}, {n_cells} non-empty cells, m={args.ann_m}, "
        f"ksub={args.ann_ksub}; code bytes/vector={args.ann_m})"
    )
    return 0


def _ann_search(args, cfg) -> int:
    """User-facing IVFADC search (`ext/ivfpq.py::ivfpq_search`):
    probe-bounded ADC over the persisted code table (partition-pruned on
    centroid_id) + exact cosine re-rank against the corpus recorded at
    build time (or --ann-corpus)."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from .ext.ivfpq import ivfpq_search
    from .ext.pq import l2_normalize

    if not args.index:
        raise SystemExit(
            "--ann-search requires --index DIR (a --ann-index output)"
        )
    meta_path = _os.path.join(args.index, "meta.json")
    if not _os.path.exists(meta_path):
        raise SystemExit(
            f"{args.index} has no meta.json — not a --ann-index output"
        )
    with open(meta_path) as fh:
        meta = _json.load(fh)
    id_col, vec_col, m = meta["id_col"], meta["vec_col"], int(meta["m"])
    spark = _ext_session(cfg)
    idx_root = args.index.rstrip("/")
    index = spark.read.parquet(f"{idx_root}/index")
    cents = spark.read.parquet(f"{idx_root}/centroids").withColumnRenamed(
        "centroid_id", id_col
    )
    books = spark.read.parquet(f"{idx_root}/books")
    corpus_src = args.ann_corpus or meta["src"]
    corpus = l2_normalize(
        spark.read.parquet(corpus_src).select(id_col, vec_col), vec_col
    )
    queries = spark.read.parquet(args.ann_search)
    for c in (id_col, vec_col):
        if c not in queries.columns:
            raise SystemExit(
                f"column {c!r} not in {args.ann_search} "
                f"({queries.columns}) — the index was built with "
                f"id_col={id_col!r}, vec_col={vec_col!r}"
            )
    queries = l2_normalize(queries.select(id_col, vec_col), vec_col)
    hits = ivfpq_search(
        index, cents, books, corpus, queries,
        id_col=id_col, vec_col=vec_col, m=m, k=args.topk,
        nprobe=args.ann_nprobe, shortlist=args.ann_shortlist,
    )
    if args.out:
        _write_docs(hits, args.out, args.format)
        print(f"wrote ANN results -> {args.out} ({args.format})")
        return 0
    rows = hits.orderBy("query_id", F.desc("cosine"), "neighbor_id").collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid in sorted(by_q):
        print(f"query {qid}:")
        for i, r in enumerate(by_q[qid], 1):
            print(f"  {i:>3}. {r['neighbor_id']}  cosine={r['cosine']}")
    return 0


def _corpus_drift(args, cfg) -> int:
    """User-facing drift QC (`ext/drift.py`): PSI + KS over a numeric
    column and JSD over a categorical column, per stratum vs a
    reference stratum."""
    from pyspark.sql import functions as F

    from .core.session import get_spark
    from .ext.drift import jsd_drift, ks_statistic, psi_drift

    if not args.ref_stratum:
        raise SystemExit("--corpus-drift requires --ref-stratum")
    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    src = args.corpus_drift
    if src.endswith((".jsonl", ".jsonl.gz", ".json")):
        from .sources.readers import read_jsonl

        docs = read_jsonl(spark, src)
    else:
        docs = spark.read.parquet(src)
    for c in (args.strata_col, args.numeric_col, args.category_col):
        if c not in docs.columns:
            raise SystemExit(f"column {c!r} not in {src} ({docs.columns})")
    if docs.where(F.col(args.strata_col) == args.ref_stratum).limit(1).count() == 0:
        raise SystemExit(
            f"reference stratum {args.ref_stratum!r} has no rows in {src}"
        )

    s = args.strata_col
    psi = psi_drift(docs, s, args.numeric_col, args.ref_stratum)
    ks = ks_statistic(docs, s, args.numeric_col, args.ref_stratum).drop(
        "n_cand", "n_ref"
    )
    jsd = jsd_drift(docs, s, args.category_col, args.ref_stratum).drop("n_docs")
    report = psi.join(ks, s).join(jsd, s)
    if args.out:
        _write_docs(report, args.out, args.format)
        print(f"wrote drift report -> {args.out} ({args.format})")
        return 0
    rows = report.orderBy(F.col("psi").desc()).collect()
    print(f"{'stratum':<16} {'n_docs':>8} {'psi':>8} {'ks':>8} {'jsd':>8}")
    for r in rows:
        print(
            f"{r[s]:<16} {r['n_docs']:>8} {r['psi']:>8.4f} "
            f"{r['ks']:>8.4f} {r['jsd']:>8.4f}"
        )
    return 0


def _events_rollup(args, cfg) -> int:
    """User-facing hypertable rollup (`ext/timeseries.py`): downsample an
    event stream onto a dense, gap-filled LOCF bucket grid; optionally
    write trailing-window z-score anomaly flags alongside."""
    from pyspark.sql import functions as F

    from .core.session import get_spark
    from .ext.timeseries import rollup_gapfill, rolling_zscore

    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    src = args.events_rollup
    if src.endswith((".jsonl", ".jsonl.gz", ".json")):
        from .sources.readers import read_jsonl

        events = read_jsonl(spark, src)
    else:
        # tolerate TIMESTAMP(NANOS) sources the same way core.io does
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:  # noqa: BLE001 — conf may be static on some builds
            pass
        events = spark.read.parquet(src)
        if dict(events.dtypes).get(args.ts_col) == "bigint":
            events = events.withColumn(
                args.ts_col, F.timestamp_micros(F.expr(f"{args.ts_col} DIV 1000"))
            )
    for c in (args.group_col, args.ts_col, args.value_col):
        if c not in events.columns:
            raise SystemExit(f"column {c!r} not in {src} ({events.columns})")
    if not args.out:
        raise SystemExit("--events-rollup requires --out")

    rolled = rollup_gapfill(
        events, args.group_col, args.ts_col, args.value_col,
        width_s=args.bucket_seconds,
    ).persist()  # one materialization feeds both the write and the count
    try:
        _write_docs(rolled, args.out, args.format)
        n_buckets = rolled.count()
    finally:
        rolled.unpersist()
    print(f"wrote {n_buckets} bucket rows -> {args.out} ({args.format})")
    if args.with_anomalies:
        flags = rolling_zscore(
            events, args.group_col, args.ts_col, args.value_col,
            width_s=args.bucket_seconds,
        ).persist()
        try:
            anom_out = args.out.rstrip("/") + "_anomalies"
            _write_docs(flags, anom_out, args.format)
            n_anom = flags.where(F.col("is_anomaly")).count()
        finally:
            flags.unpersist()
        print(f"wrote z-scores -> {anom_out} ({n_anom} anomalous buckets)")
    return 0


def _graph_rank(args, cfg) -> int:
    """User-facing PageRank (`ext/graph.py`): rank sources/domains by
    link authority over an edge table."""
    from pyspark.sql import functions as F

    from .core.caching import unpersist_intermediates
    from .core.session import get_spark
    from .ext.graph import pagerank

    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    src = args.graph_rank
    if src.endswith((".jsonl", ".jsonl.gz", ".json")):
        from .sources.readers import read_jsonl

        edges = read_jsonl(spark, src)
    else:
        edges = spark.read.parquet(src)
    for c in (args.src_col, args.dst_col):
        if c not in edges.columns:
            raise SystemExit(f"column {c!r} not in {src} ({edges.columns})")

    ranks = pagerank(
        edges, args.src_col, args.dst_col,
        damping=args.damping, iterations=args.iterations,
    )
    if args.out:
        _write_docs(ranks, args.out, args.format)
        unpersist_intermediates(ranks)
        print(f"wrote node ranks -> {args.out} ({args.format})")
        return 0
    top = ranks.orderBy(F.col("rank").desc(), "node").limit(20).collect()
    unpersist_intermediates(ranks)
    for r in top:
        print(f"  {r['rank']:.8f}  {r['node']}")
    return 0


def _dsir_select(args, cfg) -> int:
    """User-facing DSIR (`ext/dsir.py`): importance-resample a raw
    corpus toward a target corpus's hashed-n-gram distribution.
    With --dsir-model: persisted bucket models — bootstrap on first
    run, O(batch) incremental scoring (frozen target) afterwards."""
    import json as _json
    import os as _os

    from pyspark.sql import functions as F

    from .core.caching import unpersist_intermediates
    from .core.fsio import parquet_exists
    from .ext.dsir import (
        dsir_model_counts,
        dsir_resample,
        dsir_weights,
        incremental_dsir_weights,
    )

    spark = _ext_session(cfg)
    raw = _load_corpus(spark, args.dsir_select)
    for c in (args.id_col, args.text_col):
        if c not in raw.columns:
            raise SystemExit(
                f"column {c!r} not in {args.dsir_select} ({raw.columns})"
            )
    raw_model_path = (
        f"{args.dsir_model.rstrip('/')}/raw_model" if args.dsir_model else None
    )
    incremental = bool(raw_model_path) and parquet_exists(spark, raw_model_path)
    buckets = args.dsir_buckets
    seed = "dsir"
    if incremental:
        # Frozen models: --dsir-target is not read; bucket count AND
        # featurization seed come from the model dir's meta so an
        # increment can never silently score against mismatched hashing
        # (ADVICE r10: the seed must ride with the model, not fall back
        # to whatever the library default happens to be).
        meta_path = _os.path.join(args.dsir_model, "meta.json")
        try:
            with open(meta_path) as fh:
                meta = _json.load(fh)
            buckets = int(meta["buckets"])
            seed = str(meta["seed"])
        except (OSError, KeyError, ValueError) as e:
            raise SystemExit(
                f"--dsir-model {args.dsir_model} exists but its "
                f"meta.json is unreadable ({e}); refusing to guess the "
                "bucket count or seed"
            )
        raw_model = spark.read.parquet(raw_model_path)
        target_model = spark.read.parquet(
            f"{args.dsir_model.rstrip('/')}/target_model"
        )
        w, _updated = incremental_dsir_weights(
            raw, raw_model, target_model, args.id_col, args.text_col,
            num_buckets=buckets, seed=seed,
        )
        # The batch's counts are folded in AFTER the selection action
        # below.  Since r13 incremental_dsir_weights is EAGER on the
        # model side (it collects the ≤B-row models at call time and
        # does the ratio algebra on the driver), so the pre-fold view
        # is captured by the collect above, not by a lazy file listing
        # — the ADVICE-r10 ordering hazard (fold/compact mutating a
        # directory a lazy plan still lists) is moot here; only `w`'s
        # BATCH featurize stays lazy, and it never reads the model dir.
    else:
        if not args.dsir_target:
            raise SystemExit(
                "--dsir-select requires --dsir-target (or an existing "
                "--dsir-model to score against)"
            )
        target = _load_corpus(spark, args.dsir_target)
        if args.text_col not in target.columns:
            raise SystemExit(
                f"column {args.text_col!r} not in {args.dsir_target} "
                f"({target.columns})"
            )
        # The target never needs ids — synthesize one so dsir_weights'
        # column contract holds even for a text-only benchmark dump.
        tgt = (
            target if args.id_col in target.columns
            else target.withColumn(args.id_col, F.monotonically_increasing_id())
        )
        w = dsir_weights(
            raw, tgt, args.id_col, args.text_col, num_buckets=buckets,
            seed=seed,
        )
        if args.dsir_model:
            _os.makedirs(args.dsir_model, exist_ok=True)
            dsir_model_counts(
                raw, args.id_col, args.text_col, num_buckets=buckets,
                seed=seed,
            ).write.mode("overwrite").parquet(raw_model_path)
            dsir_model_counts(
                tgt, args.id_col, args.text_col, num_buckets=buckets,
                seed=seed,
            ).write.mode("overwrite").parquet(
                f"{args.dsir_model.rstrip('/')}/target_model"
            )
            with open(_os.path.join(args.dsir_model, "meta.json"), "w") as fh:
                _json.dump({"buckets": buckets, "seed": seed}, fh)
            print(f"bootstrapped DSIR models -> {args.dsir_model} (B={buckets})")
    if args.out:
        if not args.dsir_k:
            raise SystemExit("--dsir-select with --out requires --dsir-k")
        # Same derived Gumbel seed as ext.dsir.dsir_select, so the CLI
        # selects the identical set the library/oracle would for these
        # weights (ADVICE r10: it previously used a divergent default).
        sel = dsir_resample(w, args.id_col, k=args.dsir_k, seed=f"{seed}-g")
        kept = raw.join(sel.select(args.id_col), args.id_col, "left_semi")
        _write_docs(kept, args.out, args.format)
        unpersist_intermediates(w)
        print(
            f"wrote {args.dsir_k} DSIR-selected docs -> {args.out} "
            f"({args.format})"
        )
    else:
        stats = w.agg(
            F.count(F.lit(1)).alias("rows"),
            F.min("logw_micro").alias("lo"),
            F.expr("percentile(logw_micro, 0.5)").alias("med"),
            F.max("logw_micro").alias("hi"),
        ).first()
        unpersist_intermediates(w)
        toward = args.dsir_target or f"models in {args.dsir_model}"
        print(
            f"{stats['rows']} docs weighted toward {toward}: "
            f"log-weight micro min={stats['lo']} median={stats['med']:.0f} "
            f"max={stats['hi']} over {buckets} buckets"
        )
    if incremental:
        # `w` is fully materialized (and released) by now, so touching
        # raw_model_path is safe.  The fold is keyed by a CONTENT
        # fingerprint of the batch source (resolved path + file
        # listing/sizes/mtimes — ADVICE r11: a path-only digest
        # silently skipped refreshed data at a reused path, leaving the
        # raw model stale); crash re-runs of identical data stay no-ops.
        from .ext.dsir import fold_model_increment, source_fingerprint

        tag = args.fold_tag or source_fingerprint(args.dsir_select)
        # Tag-scheme migration (ADVICE r12 item 2): pre-r12 folds were
        # keyed by a path-only sha256 digest.  A model carrying that
        # legacy tag for THIS source path already contains this batch
        # (the path's data was unchanged when the scheme flipped, else
        # the old tag would have skipped wrongly — the very bug the
        # content tag fixed), so the legacy tag also suppresses the
        # fold; it is never written for new folds.
        import hashlib as _hashlib

        legacy = (
            _hashlib.sha256(
                _os.path.abspath(args.dsir_select).encode()
            ).hexdigest()[:16],
        ) if not args.fold_tag else ()
        folded = fold_model_increment(
            spark,
            raw_model_path,
            dsir_model_counts(
                raw, args.id_col, args.text_col, num_buckets=buckets,
                seed=seed,
            ),
            tag,
            also_skip_tags=legacy,
        )
        print(
            f"incremental DSIR: batch scored against {args.dsir_model} "
            f"(B={buckets}, frozen target); batch counts "
            + ("folded in" if folded else "already folded")
        )
        if not folded:
            print(
                f"WARNING: batch counts were NOT folded — fold tag "
                f"{tag} (or this path's pre-r12 legacy path-digest "
                "tag) was already recorded for this source. If this "
                "really is new data, pass --fold-tag with a fresh "
                "value.",
                file=sys.stderr,
            )
        # Single-file folds decay into one tiny file per increment;
        # re-fold to <=B rows once the directory passes 64 files (the
        # model is metadata-sized, so this is a driver-side aggregate).
        # Local-path probe only — on object-store URIs run
        # ext.dsir.compact_model on your own cadence.
        try:
            n_files = len(
                [f for f in _os.listdir(raw_model_path) if f.endswith(".parquet")]
            )
        except OSError:
            n_files = 0
        if n_files > 64:
            from .ext.dsir import compact_model

            n_rows = compact_model(spark, raw_model_path)
            print(
                f"compacted raw model: {n_files} files -> 1 "
                f"({n_rows} bucket rows)"
            )
    return 0


def _quality_fit(args, cfg) -> int:
    """Train the distilled quality filter (ext/mlfit.py) on a labeled
    corpus over the standard feature set and persist the weights —
    the train half of the freeze-and-reuse flow (VERDICT r10 task 7)."""
    from .ext.mlfit import (
        QUALITY_FEATURES,
        logreg_fit,
        logreg_metrics,
        quality_features,
        save_logreg_model,
    )

    spark = _ext_session(cfg)
    docs = _load_corpus(spark, args.quality_fit)
    for c in (args.id_col, args.text_col, args.label_col):
        if c not in docs.columns:
            raise SystemExit(
                f"column {c!r} not in {args.quality_fit} ({docs.columns})"
            )
    if not args.quality_model:
        raise SystemExit("--quality-fit requires --quality-model")
    from pyspark.sql import functions as F

    feats = quality_features(docs, args.id_col, args.text_col).join(
        docs.select(args.id_col, F.col(args.label_col).alias("__label")),
        args.id_col,
    )
    w = logreg_fit(
        feats, QUALITY_FEATURES, "__label", steps=args.quality_steps, lr=2.0
    )
    m = logreg_metrics(feats, QUALITY_FEATURES, "__label", w).select(
        "tp", "fp", "fn", "tn", "accuracy"
    ).first()
    save_logreg_model(args.quality_model, w, QUALITY_FEATURES)
    print(
        f"trained quality filter ({args.quality_steps} steps) -> "
        f"{args.quality_model}: accuracy={m['accuracy']} "
        f"tp={m['tp']} fp={m['fp']} fn={m['fn']} tn={m['tn']}"
    )
    return 0


def _quality_select(args, cfg) -> int:
    """Score-only rerun against a persisted quality model — no
    retraining, one narrow zero-shuffle pass over the batch."""
    from pyspark.sql import functions as F

    from .ext.mlfit import load_logreg_model, logreg_score, quality_features

    if not args.quality_model:
        raise SystemExit("--quality-select requires --quality-model")
    try:
        w, feat_cols = load_logreg_model(args.quality_model)
    except (OSError, ValueError) as e:
        raise SystemExit(f"cannot load quality model: {e}")
    spark = _ext_session(cfg)
    docs = _load_corpus(spark, args.quality_select)
    for c in (args.id_col, args.text_col):
        if c not in docs.columns:
            raise SystemExit(
                f"column {c!r} not in {args.quality_select} ({docs.columns})"
            )
    scored = logreg_score(
        quality_features(docs, args.id_col, args.text_col), feat_cols, w
    )
    if args.out:
        kept_ids = scored.filter(
            F.col("score") >= args.quality_threshold
        ).select(args.id_col)
        kept = docs.join(kept_ids, args.id_col, "left_semi")
        _write_docs(kept, args.out, args.format)
        n = kept_ids.count()
        print(
            f"wrote {n} docs scoring >= {args.quality_threshold} -> "
            f"{args.out} ({args.format})"
        )
        return 0
    stats = scored.agg(
        F.count(F.lit(1)).alias("rows"),
        F.round(F.min("score"), 4).alias("lo"),
        F.round(F.expr("percentile(score, 0.5)"), 4).alias("med"),
        F.round(F.max("score"), 4).alias("hi"),
        F.sum((F.col("score") >= args.quality_threshold).cast("long")).alias(
            "n_keep"
        ),
    ).first()
    print(
        f"{stats['rows']} docs scored with {args.quality_model}: "
        f"min={stats['lo']} median={stats['med']} max={stats['hi']}; "
        f"{stats['n_keep']} >= {args.quality_threshold}"
    )
    return 0


def _write_docs(df, out: str, fmt: str) -> None:
    if fmt == "jsonl":
        df.write.mode("overwrite").json(out)
    else:
        df.write.mode("overwrite").parquet(out)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    logging.basicConfig(
        level=logging.DEBUG if args.verbose else logging.INFO,
        format="%(levelname)s %(name)s: %(message)s",
    )
    cfg = _read_config(args.config)

    from .core.cdm54 import cdm54_registry

    registry = cdm54_registry()

    if args.print_etl_flow:
        for i, level in enumerate(registry.dependency_levels()):
            print(f"level {i}: {', '.join(level)}")
        return 0

    if args.run_query:
        from .plans.catalog import all_queries

        qs = all_queries()
        if args.run_query == "list":
            for name in sorted(qs):
                print(name)
            return 0
        if args.run_query not in qs:
            raise SystemExit(
                f"unknown query {args.run_query!r} "
                "(use --run-query list to enumerate)"
            )
        from .core.session import get_spark as _gs

        spark = _gs(
            "riab-spark",
            master=cfg.get("spark", "master", fallback=None),
            shuffle_partitions=(
                cfg.getint("spark", "shuffle_partitions")
                if cfg.has_option("spark", "shuffle_partitions")
                else None
            ),
        )
        df = qs[args.run_query](spark, args.sf_dir)
        if args.out:
            if args.format == "jsonl":
                df.write.mode("overwrite").json(args.out)
            else:
                df.write.mode("overwrite").parquet(args.out)
            print(f"wrote {args.run_query} -> {args.out} ({args.format})")
        else:
            df.show(20, truncate=False)
        return 0

    if args.corpus_dedup:
        return _corpus_dedup(args, cfg)

    if args.corpus_tokenize:
        return _corpus_tokenize(args, cfg)

    if args.corpus_mix:
        return _corpus_mix(args, cfg)

    if args.corpus_search:
        return _corpus_search(args, cfg)

    if args.graph_rank:
        return _graph_rank(args, cfg)

    if args.embed_cluster:
        return _embed_cluster(args, cfg)

    if args.corpus_drift:
        return _corpus_drift(args, cfg)

    if args.events_rollup:
        return _events_rollup(args, cfg)

    if args.corpus_normalize:
        return _corpus_normalize(args, cfg)

    if args.wds_export:
        return _wds_export(args, cfg)

    if args.passage_dedup:
        return _passage_dedup(args, cfg)

    if args.semantic_dedup:
        return _semantic_dedup(args, cfg)

    if args.ann_index:
        return _ann_index(args, cfg)

    if args.ann_search:
        return _ann_search(args, cfg)

    if args.dsir_select:
        return _dsir_select(args, cfg)

    if args.quality_fit:
        return _quality_fit(args, cfg)

    if args.quality_select:
        return _quality_select(args, cfg)

    if args.compact:
        from .core.fsio import compact_parquet_dir

        spark = _ext_session(cfg)
        parts = (
            [c.strip() for c in args.compact_partition_by.split(",") if c.strip()]
            if args.compact_partition_by
            else None
        )
        before, after = compact_parquet_dir(
            spark, args.compact,
            target_file_mb=args.target_file_mb, partition_by=parts,
        )
        print(
            f"compacted {args.compact}: {before} files -> {after} "
            f"(target {args.target_file_mb} MB"
            + (f", partitioned by {','.join(parts)})" if parts else ")")
        )
        return 0

    if args.create_folders:
        from .folders import create_cdm_folders

        created = create_cdm_folders(args.create_folders, registry)
        print(f"created {len(created)} table folders under {args.create_folders}")
        return 0

    # Everything below needs Spark + a warehouse.
    from .core.caching import local_frame
    from .core.session import get_spark
    from .pipeline.warehouse import Warehouse

    wh_root = cfg.get("warehouse", "root", fallback="./warehouse")
    spark = get_spark(
        "riab-spark",
        master=cfg.get("spark", "master", fallback=None),
        shuffle_partitions=(
            cfg.getint("spark", "shuffle_partitions")
            if cfg.has_option("spark", "shuffle_partitions")
            else None
        ),
    )
    # the root may be a URI (hdfs://, s3a://, file://): all warehouse
    # I/O then routes through the session's Hadoop FileSystem (the same
    # connector stack the DataFrame reader uses)
    wh = Warehouse(wh_root)

    def _omop_reader():
        # --at-txn freezes the quality verbs (-dq/-dqd/-ach) on one
        # transaction's consistent cross-table view (pipeline/txn.py)
        # — safe to run while an ETL writes, reproducible afterwards
        src = (
            wh.at_snapshot(args.at_txn or None)
            if args.at_txn is not None
            else wh
        )

        def read(table):
            if not src.exists("omop", table):
                return None
            return src.read(spark, "omop", table)

        return read

    if args.list_txns:
        txns = wh.list_txns()
        if not txns:
            print(f"no transactions in {wh_root} (every ETL run seals one)")
            return 0
        live = txns[-1]
        for t in txns:
            snap = wh.snapshot(txn=t)
            mark = " (live)" if t == live else ""
            print(f"txn {t}{mark}: {len(snap)} tables")
        for key, ver in sorted(wh.snapshot().items()):
            print(f"  {key} -> v{ver:06d}")
        return 0

    if args.analyze:
        from .pipeline.stats import analyze_table, suggest_broadcast

        stats = analyze_table(wh, spark, "omop", args.analyze)
        print(
            f"omop.{args.analyze}: {stats['n_rows']:,} rows, "
            f"{stats['n_bytes']:,} bytes"
            + (
                f", version {stats['version']}"
                if stats["version"] is not None
                else ""
            )
        )
        for col, e in sorted(stats["columns"].items()):
            detail = f"nulls={e['nulls']}"
            if "ndv" in e:
                detail += f" ndv~{e['ndv']} min={e['min']} max={e['max']}"
            print(f"  {col}: {detail}")
        bc = suggest_broadcast(wh, "omop", args.analyze)
        print(f"broadcast-join candidate: {bc}")
        return 0

    if args.vacuum:
        report = wh.vacuum()
        freed_dirs = sum(d for d, _ in report.values())
        freed_bytes = sum(b for _, b in report.values())
        for key in sorted(report):
            d, b = report[key]
            if d:
                print(f"{key}: {d} version dirs, {b:,} bytes freed")
        print(
            f"vacuumed {len(report)} pointer tables: {freed_dirs} dirs, "
            f"{freed_bytes:,} bytes freed"
        )
        return 0

    if args.txn_recover:
        restored = wh.txn_recover()
        if restored:
            for key, ver in sorted(restored.items()):
                print(f"repointed {key} -> v{ver:06d}")
        print(f"recovered {len(restored)} drifted tables to the live manifest")
        return 0

    if args.restore_txn is not None:
        from .core.commit import repoint

        target = wh.snapshot(txn=args.restore_txn)
        live = wh.snapshot()
        txn = wh.begin()
        for key, ver in sorted(target.items()):
            zone, _, table = key.partition("/")
            repoint(wh.path(zone, table), ver)
            txn.include(zone, table)
        for key in sorted(set(live) - set(target)):
            zone, _, table = key.partition("/")
            txn.drop(zone, table)
        new_id = txn.commit()
        print(
            f"restored transaction {args.restore_txn} "
            f"({len(target)} tables) as new transaction {new_id}"
        )
        return 0

    if args.test_db_connection:
        # Reference -tdc/--test-db-connection (cli.py:460-462): prove the
        # backend answers a trivial query and the warehouse root is
        # writable before committing to a long ETL run.
        assert spark.range(1).count() == 1
        os.makedirs(wh_root, exist_ok=True)
        probe = os.path.join(wh_root, ".riab_connection_probe")
        with open(probe, "w") as f:
            f.write("ok")
        os.remove(probe)
        zones = {z: len(wh.list_tables(z)) for z in ("omop", "work", "dqd")}
        print(
            f"connection ok: spark {spark.version}, warehouse {wh_root} "
            f"writable, tables: {zones}"
        )
        return 0

    if args.create_db:
        created = []
        for tname in sorted(registry.tables):
            if not wh.exists("omop", tname):
                wh.write(
                    local_frame(spark, [], registry[tname].schema()), "omop", tname
                )
                created.append(tname)
        print(f"created {len(created)} empty OMOP tables in {wh_root}/omop")
        return 0

    if args.migrate_db:
        from .pipeline.evolve import migrate_to_registry

        report = migrate_to_registry(
            wh, spark, registry, allow_narrowing=args.allow_narrowing
        )
        changed = 0
        for tname in sorted(report):
            changes = report[tname]
            if changes:
                changed += 1
                print(f"{tname}: {', '.join(changes)}")
        print(
            f"migrated {changed}/{len(report)} tables to the registry "
            f"schema in {wh_root}/omop"
        )
        return 0

    if args.import_vocabularies:
        from .core.cdm54 import vocabulary_schemas
        from .sources.readers import import_vocabulary_dir, import_vocabulary_zip

        src = args.import_vocabularies
        fn = import_vocabulary_zip if os.path.isfile(src) else import_vocabulary_dir
        imported = fn(spark, wh, src, vocabulary_schemas())
        print(f"imported vocabulary tables: {', '.join(imported) or '(none found)'}")
        return 0

    if args.run_etl:
        from .folders import load_table_inputs
        from .pipeline.etl import EtlPipeline

        raw_path = cfg.get("raw", "path", fallback=None)
        if raw_path and os.path.isdir(raw_path):
            for fn in sorted(os.listdir(raw_path)):
                if fn.endswith(".parquet"):
                    name = fn[: -len(".parquet")]
                    spark.read.parquet(os.path.join(raw_path, fn)).createOrReplaceTempView(name)
                    log.info("registered raw view %s", name)
        inputs = {}
        only = set(args.table or [])
        only_queries = set(args.only_query or [])
        if only_queries:
            # reference --query TABLE/FILE.sql: restrict to those files
            # (and implicitly to their tables — cli.py only_query path)
            only |= {q.split("/", 1)[0] for q in only_queries}
        for tname in sorted(registry.tables):
            if only and tname not in only:
                continue
            ti = load_table_inputs(
                spark,
                args.run_etl,
                registry[tname],
                only_queries=only_queries or None,
            )
            if ti is not None:
                inputs[tname] = ti
        if not inputs:
            raise SystemExit(f"no table folders with queries under {args.run_etl}")
        pipe = EtlPipeline(
            spark,
            wh,
            registry,
            process_semi_approved_mappings=args.process_semi_approved_mappings,
            skip_usagi_and_custom_concept_upload=(
                args.skip_usagi_and_custom_concept_upload
            ),
            skip_event_fks_step=args.skip_event_fks_step,
        )
        processed = pipe.run(inputs)
        print(f"processed tables: {', '.join(processed)}")
        # Per-step cost tally at exit — the reference prints total
        # bytes-billed/cost when the ETL finishes (etl/bigquery/
        # gcp.py:106-144, etl_base.py:65-67); here: wall plus the
        # rows/bytes Spark's status store attributed to each step.
        print("step                                   sec    in_rows    out_rows   out_bytes")
        for m in pipe.metrics:
            print(
                f"{m.name:36s} {m.seconds:6.2f} {m.input_rows:10d} "
                f"{m.output_rows:10d} {m.output_bytes:11d}"
            )
        total_s = round(sum(m.seconds for m in pipe.metrics), 2)
        total_out = sum(m.output_bytes for m in pipe.metrics)
        print(f"total: {total_s}s, {total_out} output bytes")
        return 0

    if args.cleanup:
        from .pipeline.etl import cleanup

        dropped = cleanup(
            wh,
            None if args.cleanup == "ALL" else args.cleanup,
            spark=spark,
            # dependency walk: cleaning a table also cleans every table
            # of later FK levels (reference etl/cleanup.py:42-48)
            registry=registry,
            clear_auto_generated_custom_concept_ids=(
                args.clear_auto_generated_custom_concept_ids
            ),
        )
        print(f"dropped: {', '.join(dropped) or '(nothing)'}")
        return 0

    if args.data_quality:
        from .quality.dashboard import export_dqd_json
        from .quality.dqd_sweep import run_sweep

        start = datetime.now()
        read = _omop_reader()
        results = run_sweep(
            spark, read, registry, concept=read("concept"), warehouse=wh
        )
        rows = results.count()
        failed = results.filter("failed = 1").count()
        print(f"DQD sweep: {rows} checks, {failed} failed → {wh_root}/dqd")
        if args.json:
            export_dqd_json(results, args.json, start=start, end=datetime.now())
            print(f"viewer JSON written to {args.json}")
        if args.html:
            from .quality.dashboard_html import export_dqd_html

            export_dqd_html(results, args.html, start=start, end=datetime.now())
            print(f"dashboard HTML written to {args.html}")
        return 0 if failed == 0 else 3

    if args.data_quality_dashboard:
        from .quality.dashboard import summarize_overview

        if not wh.exists("dqd", "dqdashboard_results"):
            raise SystemExit("no DQD results — run --data-quality first")
        if args.port is not None:
            # Live server (reference's Dash app): pyarrow-backed, so it
            # never touches the Spark session — serving results must not
            # hold cluster resources.
            from .quality.dashboard_server import serve

            serve(wh_root, port=args.port)
            return 0
        from pyspark.sql import functions as F

        stored = wh.read(spark, "dqd", "dqdashboard_results")
        if "run_id" in stored.columns:
            # History accumulates per run (persist_run); the print/HTML
            # view scopes to the newest run like the reference's
            # dropdown default (data_quality_dashboard.py:369-377).
            runs = wh.read(spark, "dqd", "dqdashboard_runs")
            latest = runs.orderBy(F.col("run_ts").desc()).first()
            if latest is not None:
                stored = stored.filter(F.col("run_id") == latest["run_id"])
        if args.html:
            from .quality.dashboard_html import export_dqd_html

            export_dqd_html(stored, args.html)
            print(f"dashboard HTML written to {args.html}")
        rows = [r.asDict() for r in stored.collect()]
        print(json.dumps(summarize_overview(rows), indent=2))
        return 0

    if args.achilles:
        from .quality.achilles_catalog import run_catalog

        out = run_catalog(spark, _omop_reader(), warehouse=wh)
        for name, df in out.items():
            print(f"{name}: {df.count()} rows → {wh_root}/achilles/{name}")
        return 0

    build_parser().print_help()
    return 2


if __name__ == "__main__":
    sys.exit(main())
