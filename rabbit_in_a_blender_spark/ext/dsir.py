"""DSIR data selection (Xie et al. 2023, arXiv:2302.03169): importance
resampling of a raw corpus toward a target distribution over hashed
n-gram features.

The published recipe, re-expressed Spark-first:

1. **Featurize** every document as a bag of hashed word uni+bigrams:
   ``bucket = md5(gram ':' seed) mod B``.  One explode + one partial-
   aggregated ``groupBy(id, bucket)`` — the only data-sized shuffle, and
   its key space is (doc, bucket), never raw text.
2. **Fit** two smoothed unigram bucket models — target and raw — from
   the bucket-count aggregates (each at most B rows, metadata-sized at
   any corpus scale; the paper uses B = 10k).
3. **Weight** each document: ``log w = Σ_b c[b]·(ln p̂_t[b] − ln p̂_r[b])``,
   computed as an exact integer dot product against the per-bucket
   log-ratio pinned on a 1e-6 grid — order-independent, so the DuckDB
   oracle replays it bit-for-bit.
4. **Resample** k documents without replacement with probability
   ∝ softmax(log w) via Gumbel top-k: ``key = log w + Gumbel(0,1)``
   with the Gumbel draw a pure function of ``md5(id ':' seed)`` (same
   determinism contract as :mod:`ext.sampling`).  The global top-k is
   ``orderBy(...).limit(k)`` — Spark plans TakeOrderedAndProject
   (per-partition partial top-k), no single-partition window.

Scale notes (100 TB): the corpus is touched twice — once to featurize
(the doc-bucket frame should be persisted by callers who run both the
fit and the weighting from it; :func:`dsir_weights` does this via the
tracked-cache contract), once more never — the bucket models and the
log-ratio table are ≤ B rows and ride as broadcasts.  The resample is
a narrow projection plus a top-k.

Reference parity note: the reference (RiaB) has no data-selection
surface; extension scope (SURVEY §2.N training-data operators).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core.caching import local_frame, track_cache

#: 2^32 + 1 — maps the 8-hex-char md5 prefix to u in (0, 1) exclusive on
#: both ends, so ln(-ln(u)) is finite even at the extreme hash values.
_GUMBEL_SPACE = 4294967297.0


def _hash_int(key: Column, seed: str) -> Column:
    """First 32 bits of md5("<key>:<seed>") as a BIGINT in [0, 2^32).

    Oracle: ``('0x' || substr(md5(k || ':<seed>'), 1, 8))::BIGINT``.
    """
    return F.conv(
        F.substring(F.md5(F.concat(key.cast("string"), F.lit(f":{seed}"))), 1, 8),
        16,
        10,
    ).cast("long")


def hashed_ngram_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 256,
    seed: str = "dsir",
    fan_out_probe: bool = False,
) -> DataFrame:
    """(id, bucket, cnt): hashed uni+bigram bag-of-words features.

    Bigrams come from zip_with(words, words[2:]) — the trailing pair is
    (last_word, NULL), which concat() nulls out and filter() drops, so a
    one-word document contributes exactly its unigram and no bigram.

    ``fan_out_probe``: set True when ``df`` is a streaming micro-batch
    frame (no input-file metadata) so the featurize fan-out below can
    decide from the frame's partition count instead — see
    ``core.parallelism.fan_out_for_compute`` (r13 optimization round:
    the per-batch md5 explode otherwise runs serially in the sink).
    """
    w = F.split(F.col(text_col), " ")
    bigrams = F.filter(
        F.zip_with(
            w,
            F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda g: g.isNotNull(),
    )
    from ..core.parallelism import fan_out_for_compute

    # Guide §2.5 unsplittable-input remedy: the featurize explode is the
    # corpus-sized pass of every DSIR operator, and a single-file scan
    # would run it serially; the fan-out is a structural no-op whenever
    # the scan already has >= default-parallelism partitions.
    grams = fan_out_for_compute(
        df.select(F.col(id_col), F.col(text_col)),
        id_col,
        partition_probe=fan_out_probe,
    ).select(F.col(id_col), F.explode(F.concat(w, bigrams)).alias("__gram"))
    return (
        grams.select(
            F.col(id_col),
            (_hash_int(F.col("__gram"), seed) % num_buckets).alias("bucket"),
        )
        .groupBy(id_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def fit_bucket_logratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    num_buckets: int,
    alpha: float = 1.0,
) -> DataFrame:
    """(bucket, ratio_micro): per-bucket ln(p̂_target) − ln(p̂_raw) on an
    exact 1e-6 integer grid.

    Inputs are (bucket, cnt) aggregates (≤ num_buckets rows each).  Both
    models are add-alpha smoothed over the full bucket space, so buckets
    unseen on either side stay finite.  The full outer join keeps every
    bucket either side observed; callers joining doc features against it
    only ever probe raw-side buckets.
    """
    t = target_counts.groupBy("bucket").agg(F.sum("cnt").alias("tc"))
    r = raw_counts.groupBy("bucket").agg(F.sum("cnt").alias("rc"))
    t_tot = t.agg(F.sum("tc").alias("ttot"))
    r_tot = r.agg(F.sum("rc").alias("rtot"))
    joined = (
        t.join(r, "bucket", "full_outer")
        .na.fill({"tc": 0, "rc": 0})
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
    )
    log_ratio = F.ln(
        (F.col("tc") + F.lit(alpha)) / (F.col("ttot") + F.lit(alpha * num_buckets))
    ) - F.ln(
        (F.col("rc") + F.lit(alpha)) / (F.col("rtot") + F.lit(alpha * num_buckets))
    )
    return joined.select(
        "bucket",
        F.round(log_ratio * F.lit(1e6)).cast("long").alias("ratio_micro"),
    )


def dsir_weights(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 256,
    alpha: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """(id, logw_micro): per-document DSIR importance log-weight, as the
    exact integer dot product c·ratio_micro.

    ``df`` is the raw corpus being selected from; ``target_df`` carries
    the distribution to select toward (it never needs ids — only text).
    The doc-bucket frame is cached (tracked-release contract) because
    the raw bucket model and the weighting both read it; without the pin
    the lineage would scan the corpus twice.
    """
    doc_buckets = hashed_ngram_buckets(
        df, id_col, text_col, num_buckets, seed
    ).persist()
    raw_counts = doc_buckets.select("bucket", "cnt")
    target_counts = hashed_ngram_buckets(
        target_df, id_col, text_col, num_buckets, seed
    ).select("bucket", "cnt")
    ratios = fit_bucket_logratio(target_counts, raw_counts, num_buckets, alpha)
    out = (
        doc_buckets.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("ratio_micro")).alias("logw_micro"))
    )
    return track_cache(out, [doc_buckets])


def gumbel_key(weight_micro: Column, id_col: Column, seed: str) -> Column:
    """weight + Gumbel(0,1) on the 1e-6 grid, the Gumbel draw a pure
    function of md5(id ':' seed): -ln(-ln(u)), u in (0, 1)."""
    u = (_hash_int(id_col, seed) + F.lit(1.0)) / F.lit(_GUMBEL_SPACE)
    return weight_micro + F.round(-F.ln(-F.ln(u)) * F.lit(1e6)).cast("long")


def dsir_resample(
    weights: DataFrame,
    id_col: str,
    k: int,
    weight_col: str = "logw_micro",
    seed: str = "dsir-g",
) -> DataFrame:
    """(id, key_micro): k documents sampled without replacement with
    probability ∝ softmax(log w), via Gumbel top-k on deterministic
    hash draws.  Ties (possible only at identical key_micro) break on
    id, so the selected set is a pure function of (weights, seed, k).

    The default seed matches :func:`dsir_select`'s derived Gumbel seed
    (``"dsir" + "-g"``), so resampling a weights frame separately
    selects the same set as the end-to-end helper (ADVICE r10: the old
    ``"dsirg"`` default silently diverged from library/oracle
    selections for identical weights).
    """
    keyed = weights.select(
        F.col(id_col),
        gumbel_key(F.col(weight_col), F.col(id_col), seed).alias("key_micro"),
    )
    return keyed.orderBy(F.col("key_micro").desc(), F.col(id_col)).limit(k)


def dsir_select(
    df: DataFrame,
    target_df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    num_buckets: int = 256,
    alpha: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """End-to-end DSIR: featurize → fit → weight → Gumbel top-k.
    Returns (id, logw_micro, key_micro) for the k selected documents."""
    w = dsir_weights(df, target_df, id_col, text_col, num_buckets, alpha, seed)
    keyed = w.select(
        F.col(id_col),
        F.col("logw_micro"),
        gumbel_key(F.col("logw_micro"), F.col(id_col), f"{seed}-g").alias(
            "key_micro"
        ),
    )
    return keyed.orderBy(F.col("key_micro").desc(), F.col(id_col)).limit(k)


def dsir_model_counts(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_buckets: int = 256,
    seed: str = "dsir",
) -> DataFrame:
    """(bucket, cnt): a corpus's aggregated bucket model — the
    persistable state of a DSIR screen (≤ num_buckets rows, metadata at
    any corpus size; store it and fold increments in with
    :func:`incremental_dsir_weights` instead of re-scanning history)."""
    return (
        hashed_ngram_buckets(df, id_col, text_col, num_buckets, seed)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def incremental_dsir_weights(
    batch: DataFrame,
    raw_model,
    target_model,
    id_col: str,
    text_col: str,
    num_buckets: int = 256,
    alpha: float = 1.0,
    seed: str = "dsir",
    doc_buckets: DataFrame | None = None,
    batch_model=None,
) -> tuple[DataFrame, DataFrame]:
    """Continuous-crawl DSIR: score ONLY the new batch, in O(batch).

    ``raw_model`` is the persisted (bucket, cnt) aggregate of every
    previously seen document (:func:`dsir_model_counts`);
    ``target_model`` is the frozen target distribution.  The batch's
    bucket counts fold into the raw model first, so the importance
    weights are exactly what a full-corpus :func:`dsir_weights` with
    the same frozen target would assign to these documents
    (equality pytest-pinned) — without ever touching historical text.

    Returns ``(weights, updated_raw_model)``: persist the updated model
    for the next increment.  Per increment the corpus-sized work is one
    scan of the BATCH; the models stay ≤ num_buckets rows and ride as
    broadcasts.

    ``doc_buckets`` (r13 optimization round): a caller that ALSO needs
    the batch's (id, bucket, cnt) features — the streaming sink folds
    their aggregate into the persisted model — can pass its own
    (persisted) frame from :func:`hashed_ngram_buckets` so the batch is
    featurized ONCE instead of once per consumer; the caller then owns
    the unpersist.  Omitted, behavior is unchanged (internal persist,
    released via the track_cache contract).

    ``batch_model`` (r13 optimization round): a caller that already
    collected the batch's (bucket, cnt) aggregate — the streaming sink
    folds exactly that frame into the persisted model — can pass it as
    a LOCAL relation so this call never re-aggregates the features.

    Model algebra runs on the DRIVER (r13 optimization round, guide
    §2.4/§5): the three inputs are ≤ num_buckets-row aggregates by
    contract, but composing them as a Spark plan (union + re-aggregate
    + four scalar aggregates + a full-outer join + two broadcasts) cost
    ~8 scheduled jobs per micro-batch — two orders of magnitude more
    scheduling than data.  The counts are now collected once and merged
    as exact integer sums in Python, and only the per-bucket log-ratio
    EXPRESSION still evaluates in the JVM over a local relation — the
    identical ``ln``/``round`` expression tree on identical inputs, so
    weights are bit-for-bit what the plan-shaped composition produced
    (incremental-equality pytest unchanged).

    NOTE this makes the call EAGER when the models are DataFrames
    (ADVICE r13 item 1): the model collects execute at CALL time, so
    building the returned ``weights`` plan is no longer free — a
    plan-only use (EXPLAIN, deferred construction) pays the model
    scans up front.  The models are metadata-sized by contract, but
    the BATCH featurize stays lazy either way.

    ``raw_model`` / ``target_model`` / ``batch_model`` also accept a
    plain ``{bucket: cnt}`` dict (r14 optimization round, guide §5): a
    caller that already holds the counts driver-side — the streaming
    sink folds per-batch pyarrow reads of the model files — passes
    dicts and this call schedules ZERO model jobs.  DataFrame inputs
    behave as before (one collect each).  The per-bucket log-ratio
    table and the updated model are ``core.caching.local_frame``
    relations.
    """
    own_cache: list[DataFrame] = []
    if doc_buckets is None:
        doc_buckets = hashed_ngram_buckets(
            batch, id_col, text_col, num_buckets, seed
        ).persist()
        own_cache.append(doc_buckets)
    if batch_model is None:
        batch_model = doc_buckets.groupBy("bucket").agg(
            F.sum("cnt").alias("cnt")
        )
    spark = batch.sparkSession

    t_counts = _sum_counts(target_model)
    updated = _sum_counts(raw_model)
    for b, c in _sum_counts(batch_model).items():
        updated[b] = updated.get(b, 0) + c
    ttot = sum(t_counts.values())
    rtot = sum(updated.values())
    pre = local_frame(
        spark,
        [
            (b, t_counts.get(b, 0), updated.get(b, 0))
            for b in sorted(set(t_counts) | set(updated))
        ],
        "bucket long, tc long, rc long",
    )
    # the SAME expression tree fit_bucket_logratio built over the
    # plan-shaped join — identical double inputs → identical ratio_micro
    log_ratio = F.ln(
        (F.col("tc") + F.lit(alpha)) / (F.lit(ttot) + F.lit(alpha * num_buckets))
    ) - F.ln(
        (F.col("rc") + F.lit(alpha)) / (F.lit(rtot) + F.lit(alpha * num_buckets))
    )
    ratios = pre.select(
        "bucket",
        F.round(log_ratio * F.lit(1e6)).cast("long").alias("ratio_micro"),
    )
    weights = (
        doc_buckets.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(F.sum(F.col("cnt") * F.col("ratio_micro")).alias("logw_micro"))
    )
    updated_raw = local_frame(
        spark, sorted(updated.items()), "bucket long, cnt long"
    )
    return track_cache(weights, own_cache), updated_raw


def _sum_counts(src) -> dict[int, int]:
    """Exact integer bucket sums from a ``(bucket, cnt)`` DataFrame or a
    ``{bucket: cnt}`` dict; order-independent, so collect order is
    irrelevant (inputs may carry one row per bucket per fold file).
    NULL bucket/cnt rows are rejected with a clear error — the model
    fold contract (fold_model_increment / dsir_model_counts) cannot
    produce them, so one indicates a corrupt model file (ADVICE r13
    item 4: int(None) used to surface as a bare TypeError)."""
    if isinstance(src, dict):
        return {int(b): int(c) for b, c in src.items()}
    out: dict[int, int] = {}
    for r in src.select("bucket", "cnt").collect():
        if r["bucket"] is None or r["cnt"] is None:
            raise ValueError(
                "DSIR model contains a NULL bucket or cnt row — the "
                "fold contract cannot produce one; the model file is "
                f"corrupt (row: {r!r})"
            )
        out[int(r["bucket"])] = out.get(int(r["bucket"]), 0) + int(r["cnt"])
    return out


#: Sidecar manifest inside a model dir listing every increment tag ever
#: folded (underscore prefix → invisible to Spark's parquet reader).
#: Compaction erases the per-increment ``inc-<tag>.parquet`` files, so
#: the tags move here to keep :func:`fold_model_increment` idempotent
#: across compactions.
_FOLDED_MANIFEST = "_folded.json"


def source_fingerprint(path: str) -> str:
    """Content-sensitive fold tag for a batch source (ADVICE r11): a
    digest of the resolved path PLUS its file listing with sizes and
    mtimes, so re-running ``--dsir-select`` against a path whose data
    was refreshed in place (a daily-updated dir, a ``latest/`` symlink)
    folds the NEW batch instead of silently skipping on a stale
    path-only tag.  Identical data at the same path keeps the tag
    stable, so crash re-runs remain no-ops.  Non-local URIs fall back
    to the path alone — pass an explicit tag there (CLI
    ``--fold-tag``)."""
    import hashlib
    import os

    h = hashlib.sha256()
    ap = os.path.abspath(os.path.realpath(path))
    h.update(ap.encode())
    if os.path.isdir(ap):
        for root, dirs, files in os.walk(ap):
            dirs.sort()
            for f in sorted(files):
                if f.startswith("."):
                    continue
                st = os.stat(os.path.join(root, f))
                rel = os.path.relpath(os.path.join(root, f), ap)
                h.update(f"|{rel}|{st.st_size}|{st.st_mtime_ns}".encode())
    elif os.path.isfile(ap):
        st = os.stat(ap)
        h.update(f"|{st.st_size}|{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _read_folded_tags(model_dir: str) -> set[str]:
    import json
    import os

    try:
        with open(os.path.join(model_dir, _FOLDED_MANIFEST)) as fh:
            return set(json.load(fh))
    except (OSError, ValueError):
        return set()


def fold_model_increment(
    spark,
    model_dir: str,
    counts_df: DataFrame,
    tag: str,
    also_skip_tags: tuple[str, ...] = (),
    rows: list | None = None,
) -> bool:
    """Idempotently fold a batch's ``(bucket, cnt)`` aggregate into a
    persisted model directory; returns False (no-op) if ``tag`` — or
    any of ``also_skip_tags`` — was already folded.

    ``also_skip_tags`` exists for tag-scheme migrations (ADVICE r12
    item 2): the CLI's fold tag changed from a path-only digest to a
    content fingerprint in r12, so a pre-existing model whose batches
    were folded under the OLD path tag must not re-fold the same
    unchanged batch under the new tag on the first post-upgrade run —
    the caller passes the legacy tag(s) here and the fold stays a
    no-op; genuinely new data at the same path changes the content
    fingerprint without matching the legacy tag, so it still folds.

    At-least-once callers (foreachBatch replay, a re-run CLI increment)
    must not double-count a batch in the raw model (ADVICE r10).  Each
    fold lands as ONE deterministically-named file
    ``inc-<tag>.parquet``, written to a hidden temp name and renamed
    into place — a single atomic op, so a crash can never leave a
    half-fold — and skipped when the file (or its tag in the
    post-compaction manifest) already exists.  The aggregate is ≤ B
    rows by construction, the documented metadata-sized exception to
    the no-collect rule, so a driver-side pyarrow write is exact and
    cheap at any corpus size.  Local-path semantics; on object stores
    use Delta MERGE keyed on (bucket,) with a batch ledger instead.

    ``rows`` (r13 optimization round): a caller that already holds the
    batch's collected (bucket, cnt) aggregate — the streaming sink
    collects it once for the scoring pass too — can pass it directly so
    the fold schedules zero Spark jobs; ``counts_df`` is ignored then.
    """
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = os.path.join(model_dir, f"inc-{tag}.parquet")
    folded = _read_folded_tags(model_dir)
    for t in (tag, *also_skip_tags):
        if (
            os.path.exists(os.path.join(model_dir, f"inc-{t}.parquet"))
            or t in folded
        ):
            return False
    if rows is None:
        rows = (
            counts_df.groupBy("bucket").agg(F.sum("cnt").alias("cnt")).collect()
        )
    os.makedirs(model_dir, exist_ok=True)
    tbl = pa.table(
        {
            "bucket": pa.array([r["bucket"] for r in rows], pa.int64()),
            "cnt": pa.array([r["cnt"] for r in rows], pa.int64()),
        }
    )
    tmp = os.path.join(model_dir, f".inc-{tag}.parquet.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, path)
    return True


def compact_model(spark, model_dir: str) -> int:
    """Fold an append-mode bucket-model directory back to ≤ num_buckets
    rows in one file; returns the compacted row count.

    Every incremental fold adds one aggregate file, so a long-running
    screen decays into many tiny files whose rows the next fit must
    re-aggregate.  The model is ≤ B rows by construction — the
    documented metadata-sized exception to the no-collect rule — so the
    aggregate is collected, written to a sibling staging dir, and
    renamed into place (ADVICE r10: the old in-place overwrite deleted
    the live files mid-job, breaking any OTHER still-lazy frame over
    the directory and risking total model loss on a crash between
    delete and write).  Callers must still materialize their own reads
    before compacting — rename swaps the listed files out from under an
    unmaterialized plan.  The tags of the ``inc-*.parquet`` files being
    compacted away are preserved in the ``_folded.json`` manifest
    (written inside the staging dir, so the swap is one atomic rename),
    keeping :func:`fold_model_increment` replay-safe across
    compactions.  Local-path rename semantics; on object stores use the
    pointer-swap tables in ``core/commit.py`` (or Delta) instead.
    """
    import json
    import os
    import shutil

    rows = [
        (r["bucket"], r["cnt"])
        for r in spark.read.parquet(model_dir)
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    ]
    tags = _read_folded_tags(model_dir) | {
        f[len("inc-"):-len(".parquet")]
        for f in os.listdir(model_dir)
        if f.startswith("inc-") and f.endswith(".parquet")
    }
    staging = model_dir.rstrip("/") + ".__staging__"
    shutil.rmtree(staging, ignore_errors=True)
    local_frame(spark, rows, "bucket long, cnt long").coalesce(1).write.mode(
        "overwrite"
    ).parquet(staging)
    with open(os.path.join(staging, _FOLDED_MANIFEST), "w") as fh:
        json.dump(sorted(tags), fh)
    old = model_dir.rstrip("/") + ".__old__"
    shutil.rmtree(old, ignore_errors=True)
    os.rename(model_dir, old)
    os.rename(staging, model_dir)
    shutil.rmtree(old, ignore_errors=True)
    return len(rows)
