"""SemDeDup: semantic deduplication inside k-means clusters.

Public recipe: Abbas et al., "SemDeDup: Data-efficient learning at
web-scale through semantic deduplication" (arXiv 2303.09540) — cluster
the embedding space, compare pairs only WITHIN each cluster, and drop
all but one exemplar of every cosine-near group.  Complements the
surface-form dedup family (exact/minhash docs, exact/LSH passages): it
removes semantically redundant documents whose token overlap may be
near zero.

Engine policy (deterministic, oracle-replayable): a vector is a
semantic duplicate iff some SMALLER-ID member of its cluster has
rounded cosine >= tau — the min-id member of every near-dup
neighborhood survives, the same keep-first canonical rule as exact
dedup.  (The paper keeps the lowest-centroid-similarity exemplar; any
total order works — min-id keeps the run engine-reproducible.)

Scale shape (100 TB): pairwise work is per-cluster O(|cluster|^2), so
C is the knob — the paper runs ~50k clusters to keep clusters in the
low thousands.  The candidate self-join follows the two-phase
discipline of ext/similarity.py::cosine_near_dup_lsh (VERDICT r7 task
5): the centroid_id exchange carries (cluster, id) pairs only, vectors
are fetched by id for exactly the candidate pairs, and hot clusters
fall to AQE skew-join handling.  Misses across cluster boundaries are
the documented SemDeDup trade (same as the paper).
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ivf import assign_top_centroids, build_ivf_index
from .similarity import _dot, _norm, pair_cosine_survivors_arrow


def _cluster_pair_flags_arrow(
    ids: DataFrame,
    join_cols: list[str],
    tau: float,
    grid: int,
    block: int = 256,
) -> DataFrame:
    """Flagged ``__id`` rows of the within-cluster pair phase, scored
    per CLUSTER with numpy (r13 optimization round, guide §8): instead
    of materializing the candidate self-join and fetching two vectors
    per PAIR (O(pairs·d) doubles through joins and the Arrow boundary —
    the profiled 3.5-6 s single-task stages of the sf0.1 SemDeDup
    rows), each cluster's (key, id, vector) rows group ONCE and the
    pair cosines come from per-dimension accumulation over the cluster
    matrix.  At scale this also moves each vector across exactly ONE
    exchange (the cluster groupBy) instead of two id-joins plus the
    pair stream; per-group memory is bounded by the existing
    ``max_cluster_size`` subsplit guard and the ``block``-row scoring
    window (O(block·n) scores, never n²).

    ``ids`` columns: ``*join_cols``, optional ``__key`` struct(k1
    double, k2 long), ``__id``, ``__v``.  A row is flagged iff an
    EARLIER row (key order — or plain ``__id`` order when ``__key`` is
    absent, the incremental operator's rule) of the same group has
    rounded cosine >= tau.  Keys are unique within a group (k2 is the
    id), so sorted position order is exactly the ``l.__key < r.__key``
    pair condition.

    Bit parity with the expr twin: per-dimension LEFT-TO-RIGHT
    accumulation for dot and norms, IEEE sqrt/*//, ``round_half_up``
    (F.round HALF_UP), NaN survives (Spark orders NaN above every
    double so ``round(NaN) >= tau`` is true); a null/ragged vector row
    falls back to a per-row replay of the zip_with null semantics
    (dropped), matching the expr filter's ``null >= tau``.  Null
    ELEMENTS remain the package-wide expr-only contract (Arrow hands
    them to pandas as NaN).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    from ._rounding import round_half_up

    has_key = "__key" in ids.columns
    out_schema = T.StructType([ids.schema["__id"]])

    def _pair_cos_none(a, b):
        # expr zip_with/fold null semantics for the degenerate fallback
        if a is None or b is None or len(a) != len(b):
            return None
        accd = accna = accnb = 0.0
        for x, y in zip(a, b):
            if x is None or y is None:
                return None
            accd += x * y
            accna += x * x
            accnb += y * y
        import math

        return accd / (math.sqrt(accna) * math.sqrt(accnb))

    def _fallback(pdf, order, ids_sorted):
        vecs = list(pdf["__v"].iloc[order])
        n = len(vecs)
        flagged = np.zeros(n, dtype=bool)
        for j in range(1, n):
            for i in range(j):
                c = _pair_cos_none(vecs[i], vecs[j])
                if c is None:
                    continue
                r = float(round_half_up(np.array([c]), grid)[0])
                if r >= tau or np.isnan(r):
                    flagged[j] = True
                    break
        return pd.DataFrame({"__id": ids_sorted[flagged]})

    def score(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"__id": pdf["__id"][:0]})
        if has_key:
            k1 = np.array([k["k1"] for k in pdf["__key"]], dtype=np.float64)
            k2 = np.array([k["k2"] for k in pdf["__key"]], dtype=np.int64)
            order = np.lexsort((k2, k1))
        else:
            order = np.argsort(pdf["__id"].to_numpy(), kind="stable")
        ids_sorted = pdf["__id"].to_numpy()[order]
        try:
            v = np.stack(
                [
                    np.asarray(x, dtype=np.float64)
                    for x in pdf["__v"].iloc[order]
                ]
            )
        except Exception:
            return _fallback(pdf, order, ids_sorted)
        d = v.shape[1]
        with np.errstate(invalid="ignore", divide="ignore"):
            accn = np.zeros(n, dtype=np.float64)
            for t in range(d):
                accn = accn + v[:, t] * v[:, t]
            nrm = np.sqrt(accn)
            flagged = np.zeros(n, dtype=bool)
            cols = np.arange(n)
            for start in range(0, n, block):
                end = min(start + block, n)
                bj = v[start:end]
                accd = np.zeros((end - start, n), dtype=np.float64)
                for t in range(d):
                    accd = accd + bj[:, t:t + 1] * v[None, :, t]
                cos = accd / (nrm[start:end, None] * nrm[None, :])
                r = round_half_up(cos, grid)
                surv = (r >= tau) | np.isnan(r)
                earlier = cols[None, :] < np.arange(start, end)[:, None]
                flagged[start:end] = (surv & earlier).any(axis=1)
        return pd.DataFrame({"__id": ids_sorted[flagged]})

    return ids.groupBy(*join_cols).applyInPandas(score, schema=out_schema)


def _resolve_pair_method(pair_method: str, assign_method: str) -> str:
    """Resolve the pair-verify rung (r13 optimization round).

    ``"auto"`` rides the Arrow scorer except when the caller pinned
    ``assign_method="expr"`` — the pure-SQL-lineage twin
    (ext_semantic_dedup_expr) must stay expr end to end, exactly like
    the assignment dispatch keeps its expr opt-in.  Scores are
    bit-identical either way (see pair_cosine_survivors_arrow), so the
    dispatch never changes results — only the physical plan.
    """
    if pair_method == "auto":
        return "expr" if assign_method == "expr" else "arrow"
    if pair_method not in ("arrow", "expr"):
        raise ValueError(
            f"pair_method must be 'auto', 'arrow' or 'expr', got {pair_method!r}"
        )
    return pair_method


def _subsplit_hot(
    ids: DataFrame,
    cluster_col: str,
    max_cluster_size: int | None,
    op_name: str,
) -> tuple[DataFrame, list[str], list[DataFrame]]:
    """Hot-cluster guard for the within-cluster candidate self-joins
    (VERDICT r9): clusters above ``max_cluster_size`` are subsplit into
    ``ceil(n / max_cluster_size)`` deterministic id-hash sub-buckets, so
    one degenerate cluster (all-near-identical corpus, bad centroid
    init) can no longer make the pair phase O(n²) regardless of C —
    the same pathological-bucket discipline as ext/dedup.py's
    ``max_bucket_size``.

    The trade (warned loud, like the LSH cap's drop): pairs straddling
    sub-buckets are not compared, so a hot cluster keeps up to
    ``nsplits`` exemplars instead of one.  Similarity-based subsplits
    can't bound the degenerate case (identical vectors all re-assign to
    one sub-centroid), so the split key is ``pmod(xxhash64(id),
    nsplits)`` — deterministic across runs, uniform in expectation.

    Returns ``(ids', join_cols, extra_tracked)``; engaging the guard
    runs one metadata-sized job (per-cluster counts, <= C rows) over a
    persisted ``ids`` — at the default ``None`` the plan is untouched
    and fully lazy.
    """
    if max_cluster_size is None:
        return ids, [cluster_col], []
    if max_cluster_size < 1:
        raise ValueError(
            f"max_cluster_size must be >= 1, got {max_cluster_size}"
        )
    ids = ids.persist()
    hot = (
        ids.groupBy(cluster_col)
        .agg(F.count(F.lit(1)).alias("__csz"))
        .filter(F.col("__csz") > max_cluster_size)
        .select(
            cluster_col,
            F.ceil(F.col("__csz") / F.lit(max_cluster_size))
            .cast("long")
            .alias("__nsplits"),
        )
    )
    n_hot = hot.count()
    if n_hot == 0:
        return ids, [cluster_col], [ids]
    warnings.warn(
        f"{op_name}: {n_hot} cluster(s) exceed max_cluster_size="
        f"{max_cluster_size}; subsplitting into id-hash sub-buckets "
        "bounds the pair phase but keeps one exemplar PER SUB-BUCKET "
        "of a hot cluster (recall trade). Raise C (re-cluster) to "
        "restore full within-cluster recall.",
        stacklevel=3,
    )
    split = (
        ids.join(F.broadcast(hot), cluster_col, "left")
        .withColumn(
            "__sub",
            F.when(
                F.col("__nsplits").isNotNull(),
                F.pmod(F.xxhash64(F.col("__id")), F.col("__nsplits")),
            )
            .otherwise(F.lit(0))
            .cast("long"),
        )
        .drop("__nsplits")
    )
    return split, [cluster_col, "__sub"], [ids]


def semantic_dedup(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.35,
    grid: int = 6,
    keep: str = "min_id",
    probe: int = 1,
    max_cluster_size: int | None = None,
    assign_method: str = "auto",
    coarse_probe: int = 4,
    pair_method: str = "auto",
) -> DataFrame:
    """(id, centroid_id, is_dup) for every corpus vector.

    ``centroids`` is the (typically Lloyd-refined, grid-rounded)
    centroid frame — pair with ``ext/ivf.py::refine_centroids(grid=...)``
    so the whole pipeline replays in SQL.  ``is_dup`` is True iff an
    EARLIER member (in the keep order) of the same cluster has
    ``round(cosine, grid) >= tau``; filtering ``is_dup`` yields the
    SemDeDup-kept corpus, and the flag form keeps the removal
    accounting explicit (like remove_duplicate_passages' n_removed).

    ``keep`` picks the exemplar order within each near-dup
    neighborhood:

    - ``"min_id"`` (default): the smallest id survives — the same
      keep-first canonical rule as exact dedup;
    - ``"low_centroid"``: the member with the LOWEST rounded cosine to
      its centroid survives (id tie-break) — the paper's policy (the
      most atypical exemplar carries the most information).

    Both orders are total and grid-rounded, so either run replays in
    SQL verbatim.

    ``probe`` (default 1) assigns each vector to its ``probe`` nearest
    centroids FOR THE CANDIDATE PHASE ONLY (via
    ``ext/ivf.py::assign_top_centroids``; the reported ``centroid_id``
    stays the nearest).  probe=2 closes most cross-cluster boundary
    misses — a near-dup pair split by a cluster boundary is still
    compared when either member's second-closest centroid is the
    other's cluster — at ~probe× candidate cost.  The flagged set at
    probe=p is a superset of the flagged set at any p' < p
    (pytest-pinned containment).

    ``max_cluster_size`` engages the hot-cluster guard (see
    :func:`_subsplit_hot`): a data distribution, not a plan, is the one
    thing that can make the within-cluster pair join O(n²), and the
    guard bounds it at a warned recall trade.

    ``assign_method`` picks the nearest-centroid assignment path.  The
    default ``"auto"`` (r12, VERDICT r11 task 1) resolves by centroid
    count via ``ext/ivf.py::resolve_assign_method``: the flat
    ``"arrow"`` BLAS rung below ``AUTO_COARSE_MIN_C`` centroids, the
    two-level ``"coarse"`` rung at or above it — the r11 scale curve
    measures flat at 70x over coarse at C=8000 with IDENTICAL
    assignments at C>=2000 on clustered geometry, and the CLI derives
    C ~ N/1000, so a large corpus must not silently ride the O(N*C*d)
    flat matmul.  ``"arrow"`` is the explicit flat opt-out (see
    ``build_ivf_index``):
    identical assignments (rounded-cosine grid + min-cid tie-break,
    pytest-pinned and oracle-gated on the SAME replay as the expr
    path), measured 44×/71× faster at C=100/200 — the r10 scale curve
    showed the interpreted HOF assignment, not the pair phase,
    dominating the fixed-density (C ∝ N) regime (PLANS.md r10 notes),
    so the default a user gets must be the path that survives 100×
    (VERDICT r10 task 1).  ``"expr"`` is the opt-in pure-SQL-lineage
    twin (``ext_semantic_dedup_expr`` gates it on the same oracle).

    ``coarse_probe`` bounds the coarse rung's super-cell miss rate
    (only used when the resolved method is ``coarse``); size it with
    ``ext/ivf.py::tune_coarse_probe`` on unfamiliar geometry — the CLI's
    ``--coarse-probe auto`` does exactly that.

    ``pair_method`` (r13 optimization round) picks the phase-2
    pair-verify rung: ``"auto"`` resolves to the Arrow/numpy scorer
    (``ext/similarity.py::pair_cosine_survivors_arrow`` — one
    per-dimension vectorized accumulation per batch instead of an
    O(dim) interpreted HOF fold per candidate pair, the profiled wall
    of this operator: a 6.1 s single-task stage on the sf0.1 bench row)
    unless ``assign_method="expr"`` pins the pure-SQL-lineage twin, in
    which case the verify stays expr too.  Rounded cosines are
    bit-identical between the rungs (same left-to-right fold, same
    HALF_UP grid — see the scorer's docstring), so the dispatch never
    changes which pairs survive.
    """
    if keep not in ("min_id", "low_centroid"):
        raise ValueError(f"keep must be min_id or low_centroid, got {keep!r}")
    assigned = (
        build_ivf_index(
            corpus, centroids, id_col=id_col, vec_col=vec_col,
            method=assign_method, coarse_probe=coarse_probe,
        )
        .select(
            F.col(id_col),
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .persist()
    )
    # Keep-order key per member: plain id, or (rounded centroid cosine,
    # id) — computed via the broadcast centroid vectors, metadata-sized.
    if keep == "low_centroid":
        cvecs = centroids.select(
            F.col(id_col).cast("long").alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("__cv"),
        )
        keyed = assigned.join(F.broadcast(cvecs), "centroid_id").select(
            "centroid_id",
            F.struct(
                F.round(
                    _dot(F.col("__v"), F.col("__cv"))
                    / (_norm(F.col("__v")) * _norm(F.col("__cv"))),
                    grid,
                ).alias("k1"),
                F.col(id_col).cast("long").alias("k2"),
            ).alias("__key"),
            F.col(id_col).alias("__id"),
            F.col("__v"),
        )
    else:
        keyed = assigned.select(
            "centroid_id",
            F.struct(
                F.lit(0.0).alias("k1"),
                F.col(id_col).cast("long").alias("k2"),
            ).alias("__key"),
            F.col(id_col).alias("__id"),
            F.col("__v"),
        )
    resolved_pairs = _resolve_pair_method(pair_method, assign_method)
    # Phase 1 candidates.  The expr rung's exchange carries (cluster
    # key, keep key, id) only; the arrow rung additionally carries the
    # vector so each vector crosses exactly ONE exchange (the cluster
    # groupBy) and the pair matrix is scored in numpy per cluster —
    # instead of a pair-count-sized stream re-joined to vectors twice
    # (see _cluster_pair_flags_arrow).
    key_cols = ["__key", "__id"] + (["__v"] if resolved_pairs == "arrow" else [])
    if probe <= 1:
        ids = keyed.select(
            F.col("centroid_id").alias("__ccid"), *key_cols
        )
    else:
        # Top-p multi-assignment for candidates only: up to `probe`
        # (cluster, id) rows per vector; the keep key rides along from
        # the primary assignment so the exemplar order is unchanged.
        # the candidate phase rides the same assignment path as phase 1
        # so assign_method="coarse" keeps BOTH corpus-sized passes at
        # O(N·√C·d); "expr" keeps the probe replay pure-SQL
        probes = assign_top_centroids(
            corpus, centroids, id_col=id_col, vec_col=vec_col, p=probe,
            method=assign_method, coarse_probe=coarse_probe,
        ).select(
            F.col("centroid_id").alias("__ccid"),
            F.col(id_col).alias("__id"),
        )
        ids = probes.join(keyed.select(*key_cols), "__id")
    ids, join_cols, extra_tracked = _subsplit_hot(
        ids, "__ccid", max_cluster_size, "semantic_dedup"
    )
    if resolved_pairs == "arrow":
        # a pair sharing several top-p clusters is flagged once per
        # cluster; the distinct below collapses it — no pair stream to
        # pre-dedup
        flagged = _cluster_pair_flags_arrow(ids, join_cols, tau, grid)
        dups = (
            flagged.select(F.col("__id").alias(id_col))
            .distinct()
            .withColumn("__dup", F.lit(True))
        )
    else:
        cand = (
            ids.alias("l")
            .join(ids.alias("r"), join_cols)
            .filter(F.col("l.__key") < F.col("r.__key"))
            .select(
                F.col("l.__id").alias("__ida"), F.col("r.__id").alias("__idb")
            )
        )
        if probe > 1:
            # A pair sharing several of its top-p clusters arises once
            # per shared cluster; dedup before the (costlier) fetch.
            cand = cand.distinct()
        # Phase 2: fetch vectors for exactly the candidate pairs.
        va = assigned.select(
            F.col(id_col).alias("__ida"), F.col("__v").alias("__va")
        )
        vb = assigned.select(
            F.col(id_col).alias("__idb"), F.col("__v").alias("__vb")
        )
        cos = F.round(
            _dot(F.col("__va"), F.col("__vb"))
            / (_norm(F.col("__va")) * _norm(F.col("__vb"))),
            grid,
        )
        dups = (
            cand.join(va, "__ida")
            .join(vb, "__idb")
            .filter(cos >= F.lit(tau))
            .select(F.col("__idb").alias(id_col))
            .distinct()
            .withColumn("__dup", F.lit(True))
        )
    out = assigned.join(dups, id_col, "left").select(
        F.col(id_col),
        "centroid_id",
        F.coalesce("__dup", F.lit(False)).alias("is_dup"),
    )
    from ..core.caching import track_cache

    return track_cache(out, [assigned] + extra_tracked)


def incremental_semantic_dedup(
    new_vecs: DataFrame,
    index: DataFrame | None,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    tau: float = 0.35,
    grid: int = 6,
    max_cluster_size: int | None = None,
    assign_method: str = "auto",
    coarse_probe: int = 4,
    pair_method: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """Screen a NEW batch of vectors against a persisted exemplar index
    — the continuous-crawl form of :func:`semantic_dedup`, mirroring
    ``ext/dedup.py::incremental_dedup``.

    ``index`` is the stored (id, centroid_id, vec) table of previously
    KEPT exemplars (``None`` bootstraps from this batch).  ``centroids``
    must be the SAME frozen centroids the index was built with —
    incremental runs never re-train; re-cluster periodically and
    rebuild the index when drift warrants it.

    A new vector is flagged iff (a) some stored exemplar in its cluster
    has ``round(cosine, grid) >= tau``, or (b) some smaller-id member
    of the same batch's same cluster does (the min-id intra-batch rule;
    transitive chains collapse fully only when they collide pairwise,
    same caveat as incremental_dedup).

    Returns ``(flags, kept_index_rows)``: flags = (id, centroid_id,
    is_dup) for the batch; kept_index_rows = the survivors' (id,
    centroid_id, vec) rows, ready to append to the index.  Release with
    ``unpersist_intermediates(flags, kept_index_rows)`` per increment.

    Scale: only the delta is assigned and compared; the index side is
    probed with an equi-join on centroid_id, so the comparisons per
    increment are O(delta x cluster density), not O(corpus).  The join
    still scans the stored index (and shuffles it unless it is small
    enough to broadcast); keep it as a plain table, e.g. one
    ``Warehouse.append`` per increment.

    ``max_cluster_size`` guards the INTRA-batch self-join like the
    batch operator (see :func:`_subsplit_hot`); the index-probe join is
    a screen against stored exemplars and stays exact.

    ``assign_method``/``coarse_probe`` mirror :func:`semantic_dedup`:
    the default ``"auto"`` rides the flat Arrow rung below
    ``AUTO_COARSE_MIN_C`` frozen centroids and the coarse
    O(delta·sqrt(C)·d) rung at/above it.
    """
    assigned = (
        build_ivf_index(
            new_vecs, centroids, id_col=id_col, vec_col=vec_col,
            method=assign_method, coarse_probe=coarse_probe,
        )
        .select(
            F.col(id_col),
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .persist()
    )

    def _cos(a, b):
        return F.round(_dot(F.col(a), F.col(b)) / (_norm(F.col(a)) * _norm(F.col(b))), grid)

    resolved_pairs = _resolve_pair_method(pair_method, assign_method)

    def _survivors(pairs, va_col, vb_col, keep):
        # shared verify rung for the index screen and the intra-batch
        # pass (r13 optimization round): the Arrow scorer replaces the
        # per-pair interpreted HOF fold at bit-identical rounded
        # cosines; "expr" keeps the pure-SQL-lineage filter
        if resolved_pairs == "arrow":
            return pair_cosine_survivors_arrow(
                pairs, va_col, vb_col, [keep], tau, grid
            )
        return pairs.filter(_cos(va_col, vb_col) >= F.lit(tau)).select(keep)

    screens = []
    if index is not None:
        idx = index.select(
            F.col("centroid_id").cast("long").alias("centroid_id"),
            F.col(vec_col).cast("array<double>").alias("__xv"),
        )
        screens.append(
            _survivors(
                assigned.join(idx, "centroid_id"), "__v", "__xv", id_col
            )
        )
    # Intra-batch self-join gets the same hot-cluster guard as the
    # batch operator (the index-probe join above is delta×exemplars —
    # a screen, not a self-join — and must stay exact for correctness).
    ids = assigned.select(
        F.col("centroid_id").alias("__ccid"),
        F.col(id_col).alias("__id"),
        *(["__v"] if resolved_pairs == "arrow" else []),
    )
    ids, join_cols, extra_tracked = _subsplit_hot(
        ids, "__ccid", max_cluster_size, "incremental_semantic_dedup"
    )
    if resolved_pairs == "arrow":
        # per-cluster grouped scoring (no __key column → plain __id
        # order, the min-id intra-batch rule) — see
        # _cluster_pair_flags_arrow for the plan-shape rationale
        screens.append(
            _cluster_pair_flags_arrow(ids, join_cols, tau, grid)
            .withColumnRenamed("__id", id_col)
        )
    else:
        va = assigned.select(
            F.col(id_col).alias("__ida"), F.col("__v").alias("__va")
        )
        vb = assigned.select(
            F.col(id_col).alias("__idb"), F.col("__v").alias("__vb")
        )
        intra_pairs = (
            ids.alias("l")
            .join(ids.alias("r"), join_cols)
            .filter(F.col("l.__id") < F.col("r.__id"))
            .select(
                F.col("l.__id").alias("__ida"), F.col("r.__id").alias("__idb")
            )
            .join(va, "__ida")
            .join(vb, "__idb")
        )
        screens.append(
            _survivors(intra_pairs, "__va", "__vb", "__idb").withColumnRenamed(
                "__idb", id_col
            )
        )
    # ONE distinct over the unioned candidate-loser ids (was: a distinct
    # per screen plus a distinct over their union — same set, one
    # exchange), persisted because BOTH outputs consume it: without the
    # pin the flags write and the kept-index write each re-ran the
    # whole intra-batch pair phase (profiled as the twin 4 s single-task
    # stages per micro-batch in stream_semdedup_batch).  Loser ids are
    # id-sized metadata; released via the track_cache contract below.
    losers = screens[0] if len(screens) == 1 else screens[0].unionByName(screens[1])
    losers = losers.distinct().persist()
    flags = assigned.join(
        losers.withColumn("__dup", F.lit(True)), id_col, "left"
    ).select(
        F.col(id_col),
        "centroid_id",
        F.coalesce("__dup", F.lit(False)).alias("is_dup"),
    )
    kept_index = assigned.join(losers, id_col, "left_anti").select(
        F.col(id_col), "centroid_id", F.col("__v").alias(vec_col)
    )
    from ..core.caching import track_cache

    return (
        track_cache(flags, [assigned, losers] + extra_tracked),
        track_cache(kept_index, [assigned, losers] + extra_tracked),
    )
