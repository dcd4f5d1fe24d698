"""IVF-style approximate nearest-neighbor search (the scale path for
ext/similarity.cosine_topk).

Index build: every corpus vector is assigned to its nearest of C coarse
centroids; store ``centroid_id`` as a partition column.  Search: score
the query against the C centroids only, pick ``nprobe`` closest lists,
and run exact cosine inside those lists.

Centroid choice here is deterministic (the lowest-id vectors) so tests
are reproducible without an iterative k-means job; on a real corpus run
a few Lloyd iterations offline and pass the centroids in — the index
and search code below are unchanged.

Scale: the corpus scan prunes to nprobe/C of the data via partition
pruning on ``centroid_id`` (write the index with
``.partitionBy("centroid_id")``); queries are broadcast.  Recall/latency
trades with nprobe exactly like FAISS IVF-Flat.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.caching import local_frame
from .similarity import _dot, _norm

log = logging.getLogger("riab_spark.ext.ivf")

#: Measured auto-escalation crossover for nearest-centroid assignment
#: (PLANS.md r11 scale curve, N=200k d=64): the coarse two-level rung
#: already wins 5.3x at C=400 and is assignment-IDENTICAL to the flat
#: matmul at C>=2000 on clustered geometry (the SemDeDup operating
#: regime, probe=4) — 15.8x at C=2000, 70.4x at C=8000, widening as
#: C/sqrt(C).  Below the threshold flat arrow stays default: it is
#: unconditionally exact and fast enough that the coarse setup cost
#: isn't worth a bounded-miss trade on adversarial geometry (agreement
#: 0.68 at C=400 on uniform-random vectors).
AUTO_COARSE_MIN_C = 2000


def resolve_assign_method(
    method: str, n_centroids: int, threshold: int | None = None
) -> str:
    """Resolve ``method="auto"`` to a concrete assignment path by the
    centroid count (VERDICT r11 task 1: the CLI derives C ~ N/1000, so a
    large corpus must not silently ride the O(N*C*d) flat matmul that
    the r11 curve measures at 70x over coarse at C=8000).  Non-auto
    methods pass through untouched — ``arrow``/``expr`` remain the
    explicit exactness opt-outs at any C.  ``threshold=None`` reads the
    module constant at CALL time so the boundary stays one knob."""
    if method != "auto":
        return method
    t = AUTO_COARSE_MIN_C if threshold is None else threshold
    if n_centroids >= t:
        import warnings

        # ADVICE r12 item 5: escalation trades unconditional exactness
        # for the coarse rung's geometry-dependent agreement (≈1.0 on
        # clustered vectors at probe>=4, measured 0.68 at probe=4 on
        # uniform-random ones), so make the trade VISIBLE, not a log
        # line: callers who need exact assignment at any C pass
        # method='arrow'; callers unsure of their geometry can check
        # estimate_coarse_agreement / tune_coarse_probe first.
        warnings.warn(
            f"assignment method 'auto' escalated to 'coarse' at "
            f"C={n_centroids} (>= {t}): nearest-centroid assignment is "
            "now approximate (probe-bounded two-level search; exactness "
            "depends on centroid geometry). Pass method='arrow' for "
            "exact assignment, or validate with "
            "estimate_coarse_agreement()/tune_coarse_probe().",
            RuntimeWarning,
            stacklevel=3,
        )
        return "coarse"
    return "arrow"


#: Measured probe-side expr→arrow crossover (r13, local[32], d=32,
#: nprobe=4): at |Q|·C=1e5 the expr HOF probe still wins (2.3 s vs
#: 2.7 s — per-batch numpy setup dominates); at 1e6 arrow wins 2.5×
#: (0.6 s vs 1.5 s) and the gap widens with |Q|·C (4.4 s vs 7.3 s at
#: 2e7).  Below the threshold expr stays default: the probe batch is
#: metadata-sized and the expr twin keeps the lineage pure SQL (it IS
#: the oracle path).
AUTO_PROBE_MIN_QC = 1_000_000


def resolve_probe_method(
    method: str,
    n_queries: int,
    n_centroids: int,
    threshold: int | None = None,
) -> str:
    """Resolve ``method="auto"`` for the probe side (:func:`probe_lists`)
    by the |Q|·C product (VERDICT r12 task 6: bulk query batches — the
    Arrow probe twin's own use case — deserve the same dispatch
    discipline as assignment).  Non-auto methods pass through untouched;
    both rungs select IDENTICAL probed cells (pytest-pinned), so unlike
    the assignment escalation this dispatch never trades exactness —
    only null-element query vectors remain an expr-only contract."""
    if method != "auto":
        return method
    t = AUTO_PROBE_MIN_QC if threshold is None else threshold
    return "arrow" if n_queries * n_centroids >= t else "expr"


def _collect_centroids(centroids: DataFrame, id_col: str, vec_col: str):
    """Driver-side (cids asc int64 array, C x d float64 matrix) of the
    centroid frame — C x d METADATA, collected once per operator call
    so the auto dispatch never recomputes a lazy centroid plan twice.

    When the SAME centroid frame object feeds several operators (build
    + search + probe in one query, or Lloyd rounds in
    :func:`refine_centroids`), the converted matrix rides the frame as
    a per-object memo keyed by (id_col, vec_col) — later calls skip the
    collect job.  The memo dies with the frame object, so nothing is
    cached across bench or oracle invocations.
    """
    key = (id_col, vec_col)
    memo = getattr(centroids, "_graft_centroids_np", None)
    if memo is not None and memo[0] == key:
        return memo[1]
    c_rows = centroids.select(
        F.col(id_col).cast("long").alias("cid"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    ).collect()
    out = _centroids_np_from_rows(c_rows)
    centroids._graft_centroids_np = (key, out)
    return out


def _centroids_np_from_rows(c_rows):
    """(cid, cv) rows -> the ``_collect_centroids`` pair, no job."""
    import numpy as np

    c_rows = sorted(c_rows, key=lambda r: r[0])
    cids = np.array([r[0] for r in c_rows], dtype=np.int64)
    cmat = (
        np.array([list(r[1]) for r in c_rows], dtype=np.float64)
        if c_rows
        else np.zeros((0, 0), dtype=np.float64)
    )
    return cids, cmat


def _cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


#: Per-tile scratch ceiling for the numpy assignment kernels: the
#: score/key matrices a tile allocates stay ~16 MB (2M float64/int64
#: elements) regardless of Arrow batch size or centroid count.  A
#: 10k-row batch against C=50k centroids would otherwise materialize
#: 4 GB matrices per temporary (guide §4.2: bound batch memory) —
#: and bounded scratch re-uses the worker's warm allocator arena
#: instead of faulting fresh pages every batch.
_TILE_ELEMS = 2_000_000


def _row_tiles(pdf, n_cols: int):
    """Row-slices of one Arrow batch sized so per-tile numpy scratch
    (rows x n_cols elements) stays under ``_TILE_ELEMS``.  Every kernel
    below is row-independent — each row's scores, rounding and argmax
    read nothing from other rows — so tiling changes no output value,
    only the allocation shape."""
    step = max(1, _TILE_ELEMS // max(n_cols, 1))
    if len(pdf) <= step:
        yield pdf
        return
    for s in range(0, len(pdf), step):
        yield pdf.iloc[s:s + step]


def _fan_out_if_heavy(df: DataFrame, n_centroids: int, *key_cols: str):
    """Fan a low-parallelism scan out to the session's cores ONLY when
    the per-row numpy work is heavy enough to dominate the exchange it
    costs — gated on the SAME measured boundary the assignment
    auto-dispatch rides (``AUTO_COARSE_MIN_C``).  The fan-out shuffle
    moves each vector once (~d elements) to unlock O(C·d)-per-row
    compute, a C:1 payoff at C>=2000 (r13 5-round interleaved A/B:
    ext_ivf_assign_auto and ext_probe_auto_bulk head/ref ~0.06) — but
    at the small C of the fused IVFPQ/SemDeDup pipelines (16-64 cells)
    the kernels are nowhere near the wall and the unconditional fan-out
    REGRESSED them (same A/B: ext_ivfpq_incremental 2.4x,
    ext_semantic_dedup 1.4x — extra exchange per lineage execution plus
    a 32x small-file explosion under partitionBy writes).  Identity
    below the boundary keeps those pipelines' zero-shuffle plans; see
    ``core.parallelism.fan_out_for_compute`` for the already-parallel
    guard above it."""
    if n_centroids >= AUTO_COARSE_MIN_C:
        from ..core.parallelism import fan_out_for_compute

        return fan_out_for_compute(df, *key_cols)
    return df


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "auto",
    coarse_probe: int = 4,
    n_super: int | None = None,
) -> DataFrame:
    """Assign each corpus vector to its nearest centroid (cosine).

    Returns corpus + ``centroid_id``; persist with
    ``.write.partitionBy("centroid_id")`` so searches prune.

    Zero-shuffle assignment: the C centroids are collapsed to ONE row
    holding an array of (id, vector) structs, broadcast, and attached to
    every corpus row (a 1-row BroadcastNestedLoopJoin is a map-side
    attach).  Nearest-centroid is then a pure per-row ``array_max`` over
    ``transform(centroids, struct(cosine, -id))`` — no corpus×C row
    explosion, no exchange.  (The previous crossJoin + row_number window
    shuffled corpus×C rows: a 4000× exchange at C=4k on a 100 TB corpus.)
    Tie-break matches the old window (cosine desc, centroid_id asc) via
    the negated id inside the max struct.

    ``method="arrow"`` computes the same assignment with ONE BLAS
    matmul per Arrow batch instead of the per-row higher-order-function
    fold.  HOF lambdas sit outside whole-stage codegen, so the ``expr``
    path costs O(C·d) INTERPRETED ops per row — measured ~4.6M
    scalar-lambda-ops/s/host on the r10 SemDeDup scale curve (69s for
    50k rows × C=100 × d=64; the arrow twin: 1.6s, 44×), i.e. the
    assignment (not the pair phase) dominates once C reaches the
    hundreds.  The Arrow twin rounds through
    ``ext/_rounding.py::round_half_up`` (bit-exact F.round semantics)
    and breaks rounded-cosine ties to the smaller centroid id exactly
    like the max-struct, so both methods select identical assignments
    (pytest-pinned); scores differ pre-round only by summation-order
    ulps, the same contract as ``similarity.cosine_topk_arrow``.  The
    C×d centroid matrix rides in the task closure — dimension-sized
    metadata, like the JVM path's broadcast row.

    ``method="coarse"`` is the large-C rung (VERDICT r10 task 2): even
    the arrow matmul is O(N·C·d) per row-batch, and in the SemDeDup
    paper's fixed-density regime C grows with N (C≈50k at 100 TB), so
    flat assignment goes quadratic overall.  The coarse path k-means
    the CENTROIDS THEMSELVES into ``n_super`` (default ⌈√C⌉)
    super-cells on the driver (C×d metadata, deterministic strided
    init, no RNG), then per corpus vector (1) one N×√C matmul picks
    the ``coarse_probe`` nearest super-cells and (2) the exact
    rounded-cosine argmax runs over only those cells' member centroids
    — O(N·(√C + probe·C/√C)·d).  Same rounding grid and min-cid
    tie-break as the flat paths, so whenever the true nearest centroid
    lives in a probed super-cell the answer is IDENTICAL; with
    ``coarse_probe >= n_super`` the candidate set is every centroid
    and equality is unconditional (pytest-pinned).  Probing w cells
    bounds the miss rate the way IVF nprobe does — a miss still
    returns the best candidate among probed cells, never garbage.

    ``method="auto"`` (default since r12, VERDICT r11 task 1) collects
    the centroid frame ONCE (C x d metadata) and picks the rung by C via
    :func:`resolve_assign_method`: ``coarse`` at C >=
    ``AUTO_COARSE_MIN_C`` (the measured assignment-identical crossover),
    flat ``arrow`` below it.  The choice is logged; pass an explicit
    method to opt out.
    """
    if method in ("auto", "arrow", "coarse"):
        c = _collect_centroids(centroids, id_col, vec_col)
        resolved = resolve_assign_method(method, len(c[0]))
        if method == "auto":
            log.info(
                "build_ivf_index: assign method auto -> %r (C=%d, "
                "crossover=%d)", resolved, len(c[0]), AUTO_COARSE_MIN_C,
            )
        if resolved == "arrow":
            return _build_ivf_index_arrow(
                corpus, centroids, id_col, vec_col, _c=c
            )
        return _build_ivf_index_coarse(
            corpus, centroids, id_col, vec_col,
            coarse_probe=coarse_probe, n_super=n_super, _c=c,
        )
    if method != "expr":
        raise ValueError(
            f"method must be 'auto', 'expr', 'arrow' or 'coarse', "
            f"got {method!r}"
        )
    cents_row = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).cast("long").alias("cid"),
                    F.col(vec_col).cast("array<double>").alias("cv"),
                )
            )
        ).alias("__cents")
    )
    best = F.array_max(
        F.transform(
            F.col("__cents"),
            lambda s: F.struct(
                F.round(_cosine(F.col("__v"), s["cv"]), 6).alias("cos"),
                (-s["cid"]).alias("neg_cid"),
            ),
        )
    )
    return (
        corpus.withColumn("__v", F.col(vec_col).cast("array<double>"))
        .crossJoin(F.broadcast(cents_row))
        .withColumn("centroid_id", -best["neg_cid"])
        .drop("__cents", "__v")
    )


def _build_ivf_index_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    _c=None,
) -> DataFrame:
    """Arrow/BLAS twin of the expr assignment — see build_ivf_index."""
    import numpy as np

    from pyspark.sql import types as T

    from ._rounding import round_half_up

    # cids ascending: argmax first-hit == min-cid tie-break
    cids, cmat = _c if _c is not None else _collect_centroids(
        centroids, id_col, vec_col
    )
    cnorm = np.linalg.norm(cmat, axis=1)

    # §2.5: a single-file scan plans ONE task, serializing the O(N·C·d)
    # numpy work below on one core — but only worth an exchange when C
    # is large (see _fan_out_if_heavy)
    src = _fan_out_if_heavy(
        corpus.withColumn(vec_col, F.col(vec_col).cast("array<double>")),
        len(cids),
        id_col,
    )
    out_schema = T.StructType(
        list(src.schema.fields) + [T.StructField("centroid_id", T.LongType())]
    )

    def assign(pdfs):
        for whole in pdfs:
            if not len(whole):
                continue
            for pdf in _row_tiles(whole, len(cids)):
                v = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
                )
                vnorm = np.linalg.norm(v, axis=1)
                sims = (v @ cmat.T) / np.outer(vnorm, cnorm)
                # the expr path compares ROUNDED cosines (grid 1e-6) and
                # breaks ties to the smaller cid; cids ascending makes
                # argmax's first-max exactly that tie-break
                rounded = round_half_up(sims, 6)
                pdf = pdf.copy()
                pdf["centroid_id"] = cids[np.argmax(rounded, axis=1)]
                yield pdf

    return src.mapInPandas(assign, schema=out_schema)


def _super_kmeans(cu, n_super: int, iters: int = 5):
    """Deterministic driver-side k-means over the unit centroid rows
    ``cu`` (C×d numpy): strided init in cid order, fixed Lloyd rounds,
    argmax ties to the lower super-cell index — no RNG, so the same
    centroid frame always yields the same super-cells.  Returns
    (super_matrix S×d, assignment C-vector)."""
    import numpy as np

    idx = np.unique(
        np.linspace(0, len(cu) - 1, n_super).round().astype(np.int64)
    )
    s = cu[idx].copy()
    for _ in range(iters):
        a = np.argmax(cu @ s.T, axis=1)
        for j in range(len(s)):
            m = cu[a == j]
            if len(m):
                v = m.mean(axis=0)
                nv = np.linalg.norm(v)
                if nv > 0:
                    s[j] = v / nv
    return s, np.argmax(cu @ s.T, axis=1)


def _build_ivf_index_coarse(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    coarse_probe: int = 4,
    n_super: int | None = None,
    _c=None,
) -> DataFrame:
    """Two-level (coarse-quantized) nearest-centroid assignment — see
    build_ivf_index(method="coarse") for the contract and scale math."""
    import math

    import numpy as np

    from pyspark.sql import types as T

    from ._rounding import round_half_up

    cids, cmat = _c if _c is not None else _collect_centroids(
        centroids, id_col, vec_col
    )
    if len(cids) <= 2:
        return _build_ivf_index_arrow(
            corpus, centroids, id_col, vec_col, _c=(cids, cmat)
        )
    if int(cids.min()) < 0 or int(cids.max()) >= (1 << 32):
        # the running-best int64 key packs the cid into the low 32
        # bits; ids outside [0, 2^32) would corrupt the tie-break
        # order, so fall back to the flat path (correct at any id)
        return _build_ivf_index_arrow(
            corpus, centroids, id_col, vec_col, _c=(cids, cmat)
        )
    cnorm = np.linalg.norm(cmat, axis=1)
    cu = cmat / np.where(cnorm == 0, 1.0, cnorm)[:, None]
    n_s = n_super if n_super else math.isqrt(len(cids) - 1) + 1
    smat, cell_of = _super_kmeans(cu, min(n_s, len(cids)))
    # drop empty super-cells so every probed cell contributes >=1
    # candidate (a row probing only empty cells would otherwise get no
    # assignment at all)
    members = [np.nonzero(cell_of == j)[0] for j in range(len(smat))]
    keep = [j for j, m in enumerate(members) if len(m)]
    smat = smat[keep]
    members = [members[j] for j in keep]
    probe = min(coarse_probe, len(smat))

    # §2.5 fan-out + bounded tiles, like the flat arrow kernel: the
    # per-supercell loop's (rows x |members|) score matrices sum to at
    # most rows x C elements per tile
    src = _fan_out_if_heavy(
        corpus.withColumn(vec_col, F.col(vec_col).cast("array<double>")),
        len(cids),
        id_col,
    )
    out_schema = T.StructType(
        list(src.schema.fields) + [T.StructField("centroid_id", T.LongType())]
    )

    def assign(pdfs):
        for whole in pdfs:
            if not len(whole):
                continue
            for pdf in _row_tiles(whole, len(cids)):
                v = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]]
                )
                vnorm = np.linalg.norm(v, axis=1)
                vu = v / np.where(vnorm == 0, 1.0, vnorm)[:, None]
                ssims = vu @ smat.T
                if probe < len(smat):
                    probed = np.argpartition(-ssims, probe - 1, axis=1)[:, :probe]
                else:
                    probed = np.tile(np.arange(len(smat)), (len(v), 1))
                # running lexicographic best (rounded cosine desc, cid asc)
                # as one int64 key: 1e-6-grid cosine in the high bits, the
                # negated cid in the low 32 — identical order to the flat
                # paths' argmax-first-hit over ascending cids
                best = np.full(len(v), np.iinfo(np.int64).min, dtype=np.int64)
                best_cid = np.zeros(len(v), dtype=np.int64)
                for j in range(len(smat)):
                    rows = np.nonzero((probed == j).any(axis=1))[0]
                    if not rows.size:
                        continue
                    mem = members[j]
                    sims = (v[rows] @ cmat[mem].T) / np.outer(
                        vnorm[rows], cnorm[mem]
                    )
                    ri = np.round(round_half_up(sims, 6) * 1e6).astype(np.int64)
                    keys = ri * (1 << 32) - cids[mem][None, :]
                    arg = np.argmax(keys, axis=1)
                    kbest = keys[np.arange(len(rows)), arg]
                    upd = kbest > best[rows]
                    hit = rows[upd]
                    best[hit] = kbest[upd]
                    best_cid[hit] = cids[mem][arg[upd]]
                pdf = pdf.copy()
                pdf["centroid_id"] = best_cid
                yield pdf

    return src.mapInPandas(assign, schema=out_schema)


def assign_top_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    p: int = 2,
    method: str = "auto",
    coarse_probe: int = 4,
    n_super: int | None = None,
) -> DataFrame:
    """(id_col, centroid_id, centroid_rank 1..p): each corpus vector's
    ``p`` nearest centroids — the multi-assignment view of
    :func:`build_ivf_index` (rank 1 IS its assignment, same comparator:
    rounded cosine desc, centroid_id asc via the negated id in the sort
    struct).  Consumers that only need CANDIDATE coverage (SemDeDup's
    top-p probe, multi-list IVF inserts) read ranks 1..p; the reported/
    stored cluster stays rank 1.

    ``method="arrow"`` (default since r11, same rationale as
    build_ivf_index's flip): the per-row interpreted O(C log C) HOF
    sort is this function's expr cost over the FULL CORPUS — the exact
    wall the r10 SemDeDup scale curve measured for the plain
    assignment, since the probe phase runs corpus-wide too.  The Arrow
    twin does one matmul + top-p argsort per batch on the identical
    (rounded cosine desc, cid asc) int64 key, so ranks are identical
    (pytest-pinned; ext_semantic_dedup_probe2 hash-gates it end to
    end).  ``method="expr"`` keeps the pure-SQL-lineage twin.

    ``method="coarse"`` is the large-C rung, mirroring
    build_ivf_index(method="coarse"): top-p is computed over only the
    ``coarse_probe`` nearest super-cells' members — O(N·√C·d) instead
    of the arrow matmul's O(N·C·d) — with per-cell top-p partials
    merged into a running (n×p) best, same int64 key/tie-break.  Ranks
    are identical whenever the true top-p all lie in probed super-cells
    (unconditional at coarse_probe >= n_super, pytest-pinned); use p
    well below probe·√C so the candidate pool covers the list.

    Zero-shuffle like build_ivf_index: one broadcast centroid-array row
    attached map-side, a per-row O(C log C) sort over the broadcast
    array, and a p-row posexplode — no corpus×C exchange.
    """
    if p < 1:
        raise ValueError(f"p must be >= 1, got {p}")
    if method in ("auto", "arrow", "coarse"):
        c = _collect_centroids(centroids, id_col, vec_col)
        resolved = resolve_assign_method(method, len(c[0]))
        if method == "auto":
            log.info(
                "assign_top_centroids: assign method auto -> %r (C=%d, "
                "crossover=%d)", resolved, len(c[0]), AUTO_COARSE_MIN_C,
            )
        if resolved == "arrow":
            return _assign_top_centroids_arrow(
                corpus, centroids, id_col, vec_col, p, _c=c
            )
        return _assign_top_centroids_coarse(
            corpus, centroids, id_col, vec_col, p,
            coarse_probe=coarse_probe, n_super=n_super, _c=c,
        )
    if method != "expr":
        raise ValueError(
            f"method must be 'auto', 'expr', 'arrow' or 'coarse', "
            f"got {method!r}"
        )
    cents_row = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).cast("long").alias("cid"),
                    F.col(vec_col).cast("array<double>").alias("cv"),
                )
            )
        ).alias("__cents")
    )
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    F.col("__cents"),
                    lambda s: F.struct(
                        F.round(_cosine(F.col("__v"), s["cv"]), 6).alias("cos"),
                        (-s["cid"]).alias("neg_cid"),
                    ),
                )
            )
        ),
        1,
        p,
    )
    return (
        corpus.withColumn("__v", F.col(vec_col).cast("array<double>"))
        .crossJoin(F.broadcast(cents_row))
        .select(F.col(id_col), F.posexplode(ranked).alias("__r", "__s"))
        .select(
            F.col(id_col),
            (-F.col("__s.neg_cid")).alias("centroid_id"),
            (F.col("__r") + 1).cast("int").alias("centroid_rank"),
        )
    )


def _assign_top_centroids_arrow(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    p: int,
    _c=None,
) -> DataFrame:
    """Arrow/BLAS twin of the expr top-p assignment — see
    assign_top_centroids.  One matmul + top-p argsort per batch on the
    int64 (rounded-cosine, -cid) key; ranks identical to the HOF sort."""
    import numpy as np

    from pyspark.sql import types as T

    from ._rounding import round_half_up

    cids, cmat = _c if _c is not None else _collect_centroids(
        centroids, id_col, vec_col
    )
    cnorm = np.linalg.norm(cmat, axis=1)
    take = min(p, len(cids))
    if cids.size and (int(cids.min()) < 0 or int(cids.max()) >= (1 << 32)):
        # the int64 key packs the cid into the low 32 bits (see the
        # coarse path); out-of-range ids use the expr twin instead
        return assign_top_centroids(
            corpus, centroids, id_col=id_col, vec_col=vec_col, p=p,
            method="expr",
        )

    src = _fan_out_if_heavy(
        corpus.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
        ),
        len(cids),
        id_col,
    )
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("centroid_id", T.LongType()),
            T.StructField("centroid_rank", T.IntegerType()),
        ]
    )

    def top_p(pdfs):
        import pandas as pd

        for whole in pdfs:
            if not len(whole):
                continue
            for pdf in _row_tiles(whole, len(cids)):
                v = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf["__v"]]
                )
                vnorm = np.linalg.norm(v, axis=1)
                sims = (v @ cmat.T) / np.outer(vnorm, cnorm)
                ri = np.round(round_half_up(sims, 6) * 1e6).astype(np.int64)
                keys = ri * (1 << 32) - cids[None, :]
                # top-p by key desc == (rounded cosine desc, cid asc)
                if take < keys.shape[1]:
                    part = np.argpartition(-keys, take - 1, axis=1)[:, :take]
                    pk = np.take_along_axis(keys, part, axis=1)
                    order = np.argsort(-pk, axis=1, kind="stable")
                    idx = np.take_along_axis(part, order, axis=1)
                else:
                    idx = np.argsort(-keys, axis=1, kind="stable")
                n, w = idx.shape
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].to_numpy(), w),
                        "centroid_id": cids[idx].reshape(-1),
                        "centroid_rank": np.tile(
                            np.arange(1, w + 1, dtype=np.int32), n
                        ),
                    }
                )

    return src.mapInPandas(top_p, schema=out_schema)


def _assign_top_centroids_coarse(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str,
    vec_col: str,
    p: int,
    coarse_probe: int = 4,
    n_super: int | None = None,
    _c=None,
) -> DataFrame:
    """Two-level top-p assignment — see assign_top_centroids
    (method="coarse").  Per batch: one N×√C super-cell matmul, then
    per probed cell a members matmul whose per-row top-p partial merges
    into a running (n×p) best on the shared int64 key."""
    import math

    import numpy as np

    from pyspark.sql import types as T

    from ._rounding import round_half_up

    cids, cmat = _c if _c is not None else _collect_centroids(
        centroids, id_col, vec_col
    )
    if len(cids) <= 2 or (
        cids.size and (int(cids.min()) < 0 or int(cids.max()) >= (1 << 32))
    ):
        return _assign_top_centroids_arrow(
            corpus, centroids, id_col, vec_col, p, _c=(cids, cmat)
        )
    cnorm = np.linalg.norm(cmat, axis=1)
    cu = cmat / np.where(cnorm == 0, 1.0, cnorm)[:, None]
    n_s = n_super if n_super else math.isqrt(len(cids) - 1) + 1
    smat, cell_of = _super_kmeans(cu, min(n_s, len(cids)))
    members = [np.nonzero(cell_of == j)[0] for j in range(len(smat))]
    keep = [j for j, m in enumerate(members) if len(m)]
    smat = smat[keep]
    members = [members[j] for j in keep]
    probe = min(coarse_probe, len(smat))
    take = min(p, len(cids))
    # sentinel must survive negation: -int64_min overflows back to
    # itself, which would make argpartition(-pool) rank the EMPTY slot
    # first; min+1 negates to int64_max and stays below every real key
    kmin = np.iinfo(np.int64).min + 1

    src = _fan_out_if_heavy(
        corpus.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("__v")
        ),
        len(cids),
        id_col,
    )
    out_schema = T.StructType(
        [
            src.schema[id_col],
            T.StructField("centroid_id", T.LongType()),
            T.StructField("centroid_rank", T.IntegerType()),
        ]
    )

    def top_p(pdfs):
        import pandas as pd

        for whole in pdfs:
            if not len(whole):
                continue
            for pdf in _row_tiles(whole, len(cids)):
                v = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in pdf["__v"]]
                )
                vnorm = np.linalg.norm(v, axis=1)
                vu = v / np.where(vnorm == 0, 1.0, vnorm)[:, None]
                ssims = vu @ smat.T
                if probe < len(smat):
                    probed = np.argpartition(-ssims, probe - 1, axis=1)[:, :probe]
                else:
                    probed = np.tile(np.arange(len(smat)), (len(v), 1))
                best = np.full((len(v), take), kmin, dtype=np.int64)
                for j in range(len(smat)):
                    rows = np.nonzero((probed == j).any(axis=1))[0]
                    if not rows.size:
                        continue
                    mem = members[j]
                    sims = (v[rows] @ cmat[mem].T) / np.outer(
                        vnorm[rows], cnorm[mem]
                    )
                    ri = np.round(round_half_up(sims, 6) * 1e6).astype(np.int64)
                    keys = ri * (1 << 32) - cids[mem][None, :]
                    t = min(take, keys.shape[1])
                    if t < keys.shape[1]:
                        part = np.argpartition(-keys, t - 1, axis=1)[:, :t]
                        kj = np.take_along_axis(keys, part, axis=1)
                    else:
                        kj = keys
                    # merge this cell's top-t into the running (n×take) best
                    pool = np.concatenate([best[rows], kj], axis=1)
                    sel = np.argpartition(-pool, take - 1, axis=1)[:, :take]
                    best[rows] = np.take_along_axis(pool, sel, axis=1)
                order = np.argsort(-best, axis=1, kind="stable")
                best = np.take_along_axis(best, order, axis=1)
                # decode cids back from the key's low 32 bits: key = ri*2^32
                # - cid with cid in [0, 2^32) → cid = -(key mod -2^32)...
                # simpler exactly: ri = ceil(key / 2^32), cid = ri*2^32 - key
                ri = -(-best // (1 << 32))
                dec_cid = ri * (1 << 32) - best
                valid = best > kmin
                n = len(v)
                reps = valid.sum(axis=1)
                ranks = np.concatenate(
                    [np.arange(1, r + 1, dtype=np.int32) for r in reps]
                ) if n else np.array([], dtype=np.int32)
                yield pd.DataFrame(
                    {
                        id_col: np.repeat(pdf[id_col].to_numpy(), reps),
                        "centroid_id": dec_cid[valid],
                        "centroid_rank": ranks,
                    }
                )

    return src.mapInPandas(top_p, schema=out_schema)


def estimate_coarse_agreement(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    coarse_probe: int = 4,
    n_super: int | None = None,
    sample_mod: int = 100,
    max_rows: int = 5000,
) -> tuple[float, int]:
    """Cheap sampled agreement estimate for the coarse assignment rung
    (VERDICT r11 task 5): assign a deterministic id-hash sample of the
    corpus BOTH ways (flat arrow and coarse at ``coarse_probe``) and
    return ``(fraction identical, rows sampled)``.

    The r11 probe curve shows agreement reads on GEOMETRY: 1.0 at
    probe=4 on clustered (Lloyd-refined) centroids, but 0.68 on
    adversarially unstructured uniform-random vectors at C=400 — so a
    user can't know their probe is safe without measuring THEIR corpus.
    This estimator bounds the measurement cost: the sample is
    ``pmod(xxhash64(id), sample_mod) == 0`` capped at ``max_rows``
    (deterministic across runs — no RNG), so the flat leg costs
    O(max_rows * C * d), independent of corpus size.

    0 sampled rows returns agreement 1.0 — "no evidence", not a
    guarantee; lower ``sample_mod`` for tiny corpora.
    """
    # orderBy before limit: a bare limit over an over-full hash sample
    # would pick a scheduler-dependent subset; TakeOrdered keeps the
    # estimate a pure function of the corpus (cheap — only filtered
    # rows reach it)
    sample = (
        corpus.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(sample_mod)) == 0
        )
        .orderBy(id_col)
        .limit(max_rows)
    )
    c = _collect_centroids(centroids, id_col, vec_col)
    flat = _build_ivf_index_arrow(sample, centroids, id_col, vec_col, _c=c).select(
        F.col(id_col).alias("__id"), F.col("centroid_id").alias("__flat")
    )
    coarse = _build_ivf_index_coarse(
        sample, centroids, id_col, vec_col,
        coarse_probe=coarse_probe, n_super=n_super, _c=c,
    ).select(F.col(id_col).alias("__id"), F.col("centroid_id").alias("__coarse"))
    row = (
        flat.join(coarse, "__id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("__flat") == F.col("__coarse")).cast("long")
            ).alias("ok"),
        )
        .collect()[0]
    )
    n = int(row["n"] or 0)
    return (1.0 if n == 0 else int(row["ok"]) / n), n


def tune_coarse_probe(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target: float = 0.98,
    start_probe: int = 4,
    n_super: int | None = None,
    sample_mod: int = 100,
    max_rows: int = 5000,
) -> tuple[int, float]:
    """``coarse_probe="auto"``: double the probe until the sampled
    flat-vs-coarse agreement (:func:`estimate_coarse_agreement`) reaches
    ``target`` or the probe covers every super-cell (exhaustive probing
    equals flat BY CONSTRUCTION — the pytest-pinned unconditional leg —
    so the loop always terminates at agreement 1.0).  Returns ``(probe,
    estimated agreement)``; each step is logged so the chosen trade is
    visible, the IVF-nprobe discipline applied to the assignment rung.
    """
    import math

    cids, _cmat = _collect_centroids(centroids, id_col, vec_col)
    n_cells = max(len(cids), 1)
    n_s = min(
        n_super if n_super else math.isqrt(max(n_cells - 1, 0)) + 1, n_cells
    )
    probe = max(1, start_probe)
    while probe < n_s:
        agree, n = estimate_coarse_agreement(
            corpus, centroids, id_col=id_col, vec_col=vec_col,
            coarse_probe=probe, n_super=n_super,
            sample_mod=sample_mod, max_rows=max_rows,
        )
        if n == 0 or agree >= target:
            log.info(
                "tune_coarse_probe: probe=%d agreement=%.4f over %d "
                "sampled rows (target %.4f) — accepted",
                probe, agree, n, target,
            )
            return probe, agree
        log.info(
            "tune_coarse_probe: probe=%d agreement=%.4f over %d sampled "
            "rows < target %.4f — doubling probe",
            probe, agree, n, target,
        )
        probe = min(probe * 2, n_s)
    log.info(
        "tune_coarse_probe: probe=%d covers all %d super-cells — "
        "exhaustive (agreement 1.0 by construction)", probe, n_s,
    )
    return probe, 1.0


def probe_lists(
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    method: str = "auto",
    n_queries: int | None = None,
    n_centroids: int | None = None,
) -> DataFrame:
    """(query_id, __qv, centroid_id): the nprobe nearest centroid lists
    per query — the metadata-sized probe driver for any IVF-family
    search (raw-vector ivf_search here, PQ-code ivfpq_search in
    ext/ivfpq.py).

    Zero-shuffle (r11): the centroids collapse to ONE broadcast
    array-of-structs row; each query row HOF-sorts it by (rounded
    cosine desc, centroid_id asc — the negated id inside the ascending
    sort struct) and explodes the top nprobe.  The previous shape
    materialized |Q|×C rows through a row_number window — a real
    exchange whose width goes quadratic when BOTH the query batch and
    the centroid count are large (bulk re-scoring at C ∝ N); now
    nothing wider than |Q|×nprobe ever exists and no exchange is
    planned.  Selection is identical (same comparator as the old
    window; the IVF-family oracles gate it).  For bulk |Q| at C in the
    tens of thousands, the per-row O(C log C) interpreted sort can be
    swapped for the Arrow top-p the way build_ivf_index's
    method="arrow"/"coarse" does — same contract.

    Edge contracts (ADVICE r11): centroid ids must be NUMERIC — the
    ``cast("long")`` below (shared with every assignment path's int64
    comparator) turns non-numeric ids into nulls rather than erroring;
    and a null cosine (null elements in a degenerate centroid vector)
    is coalesced to -2.0 — below every real cosine — so it sorts LAST
    like the pre-r11 ``F.desc`` window did, instead of ahead of real
    centroids after array_sort+reverse (null structs sort high), where
    it would consume probe slots.

    ``method="arrow"`` (r12): for BULK |Q| — re-scoring a corpus-sized
    query set at C in the tens of thousands — the per-row interpreted
    O(C log C) HOF sort becomes this function's wall; the Arrow twin
    rides :func:`assign_top_centroids`'s matmul + top-p argsort on the
    identical (rounded-cosine desc, cid asc) comparator, so the probed
    cells are identical (pytest-pinned; caveat: vectors with NULL
    elements stay an expr-only contract — the numpy paths see them as
    NaN).

    ``method="auto"`` (default since r13, VERDICT r12 task 6) picks
    the rung by |Q|·C via :func:`resolve_probe_method`: ``arrow`` from
    ``AUTO_PROBE_MIN_QC`` up, ``expr`` below — where the probe batch
    is metadata-sized and the expr twin keeps the lineage pure SQL.
    Both rungs probe the same cells, so auto never changes results.
    Callers that already hold the sizes pass ``n_queries`` /
    ``n_centroids`` (r14, guide §2.4): without the hints, auto COUNTS
    both frames — two scheduled jobs per search call, and on a BULK
    query set the |Q| count is a full extra pass over the query corpus
    purely to pick a dispatch that cannot change results.  C defaults
    to the memoized centroid collect (metadata by contract, and every
    rung of the family needs it anyway), so only |Q| may still count.
    """
    if method == "auto":
        if n_centroids is None:
            try:
                n_centroids = len(
                    _collect_centroids(centroids, id_col, vec_col)[0]
                )
            except Exception:
                # non-numeric centroid ids (the expr-only contract
                # below) don't convert; fall back to the plain count
                n_centroids = centroids.count()
        if n_queries is None:
            n_queries = queries.count()
        method = resolve_probe_method("auto", n_queries, n_centroids)
        log.info(
            "probe_lists: probe method auto -> %r (crossover |Q|*C=%d)",
            method, AUTO_PROBE_MIN_QC,
        )
    if method == "arrow":
        top = _assign_top_centroids_arrow(
            queries, centroids, id_col, vec_col, nprobe
        ).select(F.col(id_col).alias("query_id"), "centroid_id")
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("__qv"),
        )
        # no broadcast hint: at bulk |Q| the vector re-attach must be a
        # distributed join; AQE still broadcasts when the batch is small
        return top.join(q, "query_id").select(
            "query_id", "__qv", "centroid_id"
        )
    if method != "expr":
        raise ValueError(f"method must be 'expr' or 'arrow', got {method!r}")
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    cents_row = centroids.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(id_col).cast("long").alias("cid"),
                    F.col(vec_col).cast("array<double>").alias("cv"),
                )
            )
        ).alias("__cents")
    )
    ranked = F.slice(
        F.reverse(
            F.array_sort(
                F.transform(
                    F.col("__cents"),
                    lambda s: F.struct(
                        F.coalesce(
                            F.round(_cosine(F.col("__qv"), s["cv"]), 6),
                            F.lit(-2.0),
                        ).alias("cos"),
                        (-s["cid"]).alias("neg_cid"),
                    ),
                )
            )
        ),
        1,
        nprobe,
    )
    return (
        q.crossJoin(F.broadcast(cents_row))
        .select("query_id", "__qv", F.explode(ranked).alias("__s"))
        .select(
            "query_id",
            "__qv",
            (-F.col("__s.neg_cid")).alias("centroid_id"),
        )
    )


def ivf_search(
    index: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 4,
    probe_method: str = "auto",
) -> DataFrame:
    """Approximate top-k: probe the nprobe nearest centroid lists only.

    ``probe_method`` rides :func:`probe_lists`'s |Q|·C auto dispatch by
    default (VERDICT r12 task 6); ``"arrow"``/``"expr"`` pin the rung —
    same probed cells either way."""
    probes = probe_lists(
        centroids, queries, id_col=id_col, vec_col=vec_col, nprobe=nprobe,
        method=probe_method,
    )
    # Exact cosine inside the probed lists; centroid_id join prunes
    # partitions when the index is partitioned by it.
    cand = index.withColumnRenamed(id_col, "neighbor_id").join(
        F.broadcast(probes), "centroid_id"
    )
    scored = cand.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            _cosine(F.col(vec_col).cast("array<double>"), F.col("__qv")), 4
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def refine_centroids(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iterations: int = 2,
    grid: int | None = None,
    assign_method: str = "auto",
    coarse_probe: int = 4,
) -> DataFrame:
    """Lloyd (k-means) refinement of the coarse centroids, pure DataFrame.

    Each iteration: assign every vector to its nearest centroid
    (broadcast join, one shuffle for the window), then recompute each
    centroid as the element-wise mean of its members — posexplode to
    (centroid, dim, value), one groupBy, and an ordered re-assembly.
    Shuffle width is (centroid_id, dim_index, double): dimensions ×
    centroids rows, never corpus-sized payloads.

    ``grid`` (decimals) rounds every recomputed mean per step; with the
    assignment's own 1e-6 cosine rounding that makes the ENTIRE Lloyd
    iteration engine-reproducible — an unrolled SQL replay lands on
    identical centroids (the PageRank/logreg decimal-grid recipe), so
    k-means earns a hash gate instead of a recall bound.

    Returns a frame in the same (id_col, vec_col) shape as ``centroids``
    so it feeds straight back into build_ivf_index / ivf_search.

    On the collected rungs (``assign_method`` auto/arrow/coarse) each
    round's recomputed centroid frame — C x d metadata — is collapsed to
    a driver-side local relation by one collect per round (which also
    pre-seeds the ``_collect_centroids`` memo).  Without that, round i's
    lazy plan embeds rounds 1..i-1: the next round's
    ``_collect_centroids`` re-executes the whole chain, the optimizer
    re-plans an iterations-deep corpus lineage per consumer, and the
    RETURNED frame re-executes its final round once per downstream
    action (measured as multi-second "plan-build" wall on every
    ivfpq/kmeans bench row).  With it, every round executes exactly
    once and consumers see a LocalRelation.  ``"expr"`` keeps the
    fully-lazy pure-SQL lineage (the unrolled-oracle replay twin).
    """
    cents = centroids.select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
    )
    for _ in range(iterations):
        assigned = build_ivf_index(
            corpus, cents, id_col=id_col, vec_col=vec_col,
            method=assign_method, coarse_probe=coarse_probe,
        )
        dims = assigned.select(
            "centroid_id",
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__val"),
        )
        mean_expr = F.avg("__val")
        if grid is not None:
            mean_expr = F.round(mean_expr, grid)
        means = (
            dims.groupBy("centroid_id", "__pos")
            .agg(mean_expr.alias("__mean"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("__pos"), F.col("__mean")))
                    ),
                    lambda s: s["__mean"],
                ).alias(vec_col)
            )
        )
        cents = means.select(F.col("centroid_id").alias(id_col), vec_col)
        if assign_method != "expr":
            # One collect per round: rebuild as a local relation AND
            # pre-seed the _collect_centroids memo so the next round's
            # assignment (and every downstream consumer of the returned
            # frame) launches no collect job of its own.
            rows = cents.collect()
            cents = local_frame(cents.sparkSession, rows, cents.schema)
            cents._graft_centroids_np = (
                (id_col, vec_col), _centroids_np_from_rows(rows)
            )
    return cents
