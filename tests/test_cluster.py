"""Connected-components near-dup clustering (ext/cluster.py)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rabbit_in_a_blender_spark.ext.cluster import (
    connected_components,
    embed_near_dup_clusters,
    near_dup_clusters,
)


def _cc(spark, edges):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    return {
        r["node"]: r["comp"] for r in connected_components(pairs).collect()
    }


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # normalize: every node → min id of its component
    comp = {}
    roots = {}
    for x in list(parent):
        roots.setdefault(find(x), []).append(x)
    for members in roots.values():
        m = min(members)
        for x in members:
            comp[x] = m
    return comp


def test_transitive_chain_and_isolated(spark):
    # A~B, B~C must cluster A,B,C together; D~E separate
    got = _cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_long_chain_converges_under_pointer_jumping(spark):
    """A 64-node path has diameter 63; plain min-propagation would need
    63 rounds — pointer jumping must finish within the 30-round cap."""
    edges = [(i, i + 1) for i in range(64)]
    got = _cc(spark, edges)
    assert set(got.values()) == {0}
    assert len(got) == 65


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=30),
            st.integers(min_value=0, max_value=30),
        ).filter(lambda p: p[0] != p[1]),
        min_size=1,
        max_size=40,
    )
)
def test_matches_union_find(spark, edges):
    canon = [(min(a, b), max(a, b)) for a, b in edges]
    assert _cc(spark, canon) == _union_find(canon)


def test_near_dup_clusters_exact(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "the quick brown fox jumps over the lazy cat tonight"),
            (4, "completely different text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in near_dup_clusters(
            docs, "doc_id", "text", threshold=0.3, exact=True
        ).collect()
    }
    # 1~2 and 2~3 overlap heavily; 1~3 may fall under the threshold but
    # transitivity must still cluster all three
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[1]["cluster_size"] == 3
    assert out[1]["is_canonical"] == 1
    assert out[2]["is_canonical"] == 0
    # doc 4 is a singleton canonical
    assert out[4]["cluster_id"] == 4
    assert out[4]["cluster_size"] == 1
    assert out[4]["is_canonical"] == 1


def test_default_path_uses_lsh_candidates(spark):
    """The non-exact path must still produce a full labeling (every doc
    exactly once) even when LSH yields no candidate pairs."""
    docs = spark.createDataFrame(
        [(i, f"unique text number {i} with filler words {i * 7}") for i in range(8)],
        "doc_id long, text string",
    )
    out = near_dup_clusters(docs, "doc_id", "text", threshold=0.9)
    rows = out.collect()
    assert len(rows) == 8
    assert all(r["is_canonical"] == 1 and r["cluster_size"] == 1 for r in rows)


def test_embed_near_dup_clusters(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.999, 0.04, 0.0]),   # ~1 with vec 1
            (3, [0.97, 0.24, 0.0]),    # close to 2, less to 1
            (4, [0.0, 1.0, 0.0]),      # orthogonal to the 1-2-3 chain
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r["vec_id"]: r
        for r in embed_near_dup_clusters(
            vecs, threshold=0.97, exact=True
        ).collect()
    }
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    assert out[1]["cluster_size"] == 3 and out[1]["is_canonical"] == 1
    assert out[4]["cluster_id"] == 4 and out[4]["cluster_size"] == 1


def test_semantic_dedup_keep_first_within_cluster(spark):
    """SemDeDup flags every vector with a smaller-id near-twin in its
    cluster; the min-id exemplar survives and cross-cluster twins are
    the documented miss."""
    from pyspark.sql import functions as F

    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.semdedup import semantic_dedup

    # two well-separated directions; ids 1,2,3 are near-twins along +x,
    # id 10 is alone along +y, id 11 a near-twin of 10
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),
        (3, [0.998, -0.02, 0.0, 0.0]),
        (10, [0.0, 1.0, 0.0, 0.0]),
        (11, [0.01, 0.999, 0.0, 0.0]),
        (20, [0.0, 0.0, 1.0, 0.0]),  # lone vector, own direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0, 0.0]),
         (20, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    out = semantic_dedup(df, cents, tau=0.9, grid=6)
    got = {r["vec_id"]: r for r in out.collect()}
    unpersist_intermediates(out)
    # min-id exemplars survive, their near-twins are flagged
    assert not got[1]["is_dup"] and got[2]["is_dup"] and got[3]["is_dup"]
    assert not got[10]["is_dup"] and got[11]["is_dup"]
    # a lone direction is never flagged
    assert not got[20]["is_dup"]
    # flags are cluster-local: the x-twins all sit in centroid 1's cell
    assert got[2]["centroid_id"] == got[1]["centroid_id"] == 1


def test_semantic_dedup_low_centroid_keep_policy(spark):
    """keep='low_centroid' keeps the most atypical exemplar (lowest
    rounded centroid cosine, the paper's policy) instead of the min id;
    keep='min_id' on the same data keeps id 1."""
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.semdedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),        # exactly on the centroid
        (2, [0.9999, 0.012, 0.0, 0.0]),   # slightly off
        (3, [0.995, 0.0999, 0.0, 0.0]),   # farthest from the centroid
        (10, [0.0, 1.0, 0.0, 0.0]),       # other cluster, lone
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    low = semantic_dedup(df, cents, tau=0.9, keep="low_centroid")
    got_low = {r["vec_id"]: r["is_dup"] for r in low.collect()}
    unpersist_intermediates(low)
    assert got_low == {1: True, 2: True, 3: False, 10: False}
    first = semantic_dedup(df, cents, tau=0.9, keep="min_id")
    got_first = {r["vec_id"]: r["is_dup"] for r in first.collect()}
    unpersist_intermediates(first)
    assert got_first == {1: False, 2: True, 3: True, 10: False}


def test_incremental_semantic_dedup_screens_against_index(spark):
    """Bootstrap keeps min-id exemplars; the next increment flags
    vectors near STORED exemplars (index hit) and near smaller-id
    batch-mates (intra hit), and appends only survivors to the index."""
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.semdedup import incremental_semantic_dedup

    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    b1 = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (2, [0.999, 0.01, 0.0, 0.0]),
         (10, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    flags1, index1 = incremental_semantic_dedup(b1, None, cents, tau=0.9)
    kept1 = {r["vec_id"] for r in index1.collect()}
    assert kept1 == {1, 10}  # 2 lost to 1 intra-batch
    b2 = spark.createDataFrame(
        [(20, [0.999, -0.01, 0.0, 0.0]),   # index hit (near exemplar 1)
         (21, [0.0, 0.0, 1.0, 0.0]),       # clean, new direction
         (22, [0.01, 0.0, 0.999, 0.0])],   # intra hit (near 21)
        "vec_id long, embedding array<double>",
    )
    flags2, index2 = incremental_semantic_dedup(b2, index1, cents, tau=0.9)
    got = {r["vec_id"]: r["is_dup"] for r in flags2.collect()}
    kept2 = {r["vec_id"] for r in index2.collect()}
    unpersist_intermediates(flags1, index1, flags2, index2)
    assert got == {20: True, 21: False, 22: True}
    assert kept2 == {21}


def test_semantic_dedup_partitioning_invariant_and_tau_monotone(spark):
    """The flag set is independent of input partitioning (determinism
    the fixed-partitioning hash oracle can't prove) and monotone in
    tau: raising the threshold never flags MORE vectors."""
    import random

    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.semdedup import semantic_dedup

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(8)]) for i in range(120)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = df.filter("vec_id < 3")

    def flags(frame, tau):
        out = semantic_dedup(frame, cents, tau=tau)
        got = {r["vec_id"] for r in out.collect() if r["is_dup"]}
        unpersist_intermediates(out)
        return got

    base = flags(df, 0.3)
    assert flags(df.repartition(7, "vec_id"), 0.3) == base
    assert flags(df.coalesce(1), 0.3) == base
    tighter = flags(df, 0.5)
    assert tighter <= base


def test_semantic_dedup_hot_cluster_guard_degenerate(spark):
    """VERDICT r9 task 1: an all-identical corpus puts every vector in
    one cluster — unguarded, the pair phase is O(n^2) no matter what C
    is.  max_cluster_size subsplits the hot cluster into deterministic
    id-hash sub-buckets: the job completes with a bounded pair count,
    keeps at most ceil(n/cap) exemplars (one per sub-bucket, recall
    trade), warns loud, and stays deterministic across runs."""
    import warnings as _w

    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.semdedup import semantic_dedup

    n, cap = 60, 10
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        out = semantic_dedup(df, cents, tau=0.9, max_cluster_size=cap)
        survivors = {r["vec_id"] for r in out.collect() if not r["is_dup"]}
        unpersist_intermediates(out)
    assert any("max_cluster_size" in str(w.message) for w in caught)
    # one exemplar per sub-bucket: 1 <= survivors <= ceil(60/10)
    assert 1 <= len(survivors) <= 6
    # unguarded, the min-id exemplar is the ONLY survivor
    full = semantic_dedup(df, cents, tau=0.9)
    full_survivors = {r["vec_id"] for r in full.collect() if not r["is_dup"]}
    unpersist_intermediates(full)
    assert full_survivors == {0}
    # guarded survivors always include each sub-bucket's min, hence a
    # superset never — but determinism must hold across reruns
    with _w.catch_warnings():
        _w.simplefilter("ignore")
        again = semantic_dedup(df, cents, tau=0.9, max_cluster_size=cap)
        survivors2 = {r["vec_id"] for r in again.collect() if not r["is_dup"]}
        unpersist_intermediates(again)
    assert survivors2 == survivors
    # cold clusters are untouched by the guard: a corpus under the cap
    # yields the identical flag set with and without it
    small = spark.createDataFrame(rows[:8], "vec_id long, embedding array<double>")
    a = semantic_dedup(small, cents, tau=0.9)
    fa = {(r["vec_id"], r["is_dup"]) for r in a.collect()}
    unpersist_intermediates(a)
    b = semantic_dedup(small, cents, tau=0.9, max_cluster_size=cap)
    fb = {(r["vec_id"], r["is_dup"]) for r in b.collect()}
    unpersist_intermediates(b)
    assert fa == fb


def test_incremental_semantic_dedup_hot_cluster_guard(spark):
    """The incremental twin guards its intra-batch self-join the same
    way; the index-probe screen stays exact."""
    import warnings as _w

    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.semdedup import (
        incremental_semantic_dedup,
    )

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    batch = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        flags, index = incremental_semantic_dedup(
            batch, None, cents, tau=0.9, max_cluster_size=8
        )
        kept = {r["vec_id"] for r in index.collect()}
        unpersist_intermediates(flags, index)
    assert any("max_cluster_size" in str(w.message) for w in caught)
    assert 1 <= len(kept) <= 5  # ceil(40/8) sub-buckets


def test_semantic_dedup_probe_containment(spark):
    """VERDICT r9 task 2: the top-p candidate phase closes cross-cluster
    boundary misses.  flagged(probe=1) ⊆ flagged(probe=2) ⊆ flagged
    (exact all-pairs), and a boundary-straddling near-dup pair is
    caught at probe=2 but missed at probe=1."""
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.semdedup import semantic_dedup

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),     # near-twin of 1, same cluster
        (10, [0.0, 1.0, 0.0, 0.0]),
        # boundary pair: near-dups of each other but assigned to
        # DIFFERENT nearest centroids (either side of the x/y bisector)
        (100, [0.72, 0.69, 0.0, 0.0]),    # nearest +x
        (101, [0.69, 0.72, 0.0, 0.0]),    # nearest +y, cos(100,101)≈0.998
        (20, [0.0, 0.0, 1.0, 0.0]),       # lone direction
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0, 0.0]), (10, [0.0, 1.0, 0.0, 0.0]),
         (20, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    one_cell = spark.createDataFrame(
        [(0, [1.0, 1.0, 1.0, 1.0])], "vec_id long, embedding array<double>"
    )

    def flags(cents_frame, probe):
        out = semantic_dedup(df, cents_frame, tau=0.9, probe=probe)
        got = {r["vec_id"] for r in out.collect() if r["is_dup"]}
        unpersist_intermediates(out)
        return got

    p1 = flags(cents, 1)
    p2 = flags(cents, 2)
    exact = flags(one_cell, 1)  # one cluster -> every pair compared
    assert p1 <= p2 <= exact
    # the boundary pair is the p2-vs-p1 difference
    assert 101 not in p1 and 101 in p2
    # probe never changes the reported (nearest) cluster
    out = semantic_dedup(df, cents, tau=0.9, probe=2)
    cids = {r["vec_id"]: r["centroid_id"] for r in out.collect()}
    unpersist_intermediates(out)
    assert cids[100] == 1 and cids[101] == 10


def test_pair_rung_arrow_expr_flag_parity(spark):
    """r13 optimization round: the per-cluster Arrow pair scorer
    (_cluster_pair_flags_arrow) must flag EXACTLY the rows the expr HOF
    verify flags — including rounded-cosine near-tie pairs sitting on
    the 1e-6 grid boundary, where a single-ulp scoring difference would
    flip is_dup.  Both the batch operator and the incremental screen
    are compared rung-vs-rung on the same inputs."""
    import math

    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.semdedup import (
        incremental_semantic_dedup,
        semantic_dedup,
    )

    # two clusters; members at angles engineered to land near the tau
    # boundary after 1e-6 rounding (tau = cos of ~25.8 deg), plus exact
    # duplicates and near-orthogonal singletons
    def vec(deg, axis):
        a = math.radians(deg)
        v = [0.0, 0.0, 0.0, 0.0]
        v[axis] = math.cos(a)
        v[(axis + 1) % 4] = math.sin(a)
        return v

    rows = []
    for i, deg in enumerate([0.0, 0.5, 25.799, 25.8, 25.801, 44.9, 45.0]):
        rows.append((i, vec(deg, 0)))
        rows.append((100 + i, vec(deg, 2)))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    tau = round(math.cos(math.radians(25.8)), 6)
    for keep in ("min_id", "low_centroid"):
        arrow = semantic_dedup(
            df, cents, tau=tau, keep=keep, pair_method="arrow"
        )
        expr = semantic_dedup(
            df, cents, tau=tau, keep=keep, pair_method="expr"
        )
        a = {tuple(r) for r in arrow.collect()}
        e = {tuple(r) for r in expr.collect()}
        assert a == e, (keep, a ^ e)
        assert any(r[2] for r in a)  # the fixture does flag something
        unpersist_intermediates(arrow, expr)

    b1 = df.filter("vec_id < 3 OR (vec_id >= 100 AND vec_id < 103)")
    b2 = df.subtract(b1)
    fa1, ia1 = incremental_semantic_dedup(
        b1, None, cents, tau=tau, pair_method="arrow"
    )
    fe1, ie1 = incremental_semantic_dedup(
        b1, None, cents, tau=tau, pair_method="expr"
    )
    assert {tuple(r) for r in fa1.collect()} == {tuple(r) for r in fe1.collect()}
    ia = ia1.collect()
    fa2, ia2 = incremental_semantic_dedup(
        b2, spark.createDataFrame(ia, ia1.schema), cents, tau=tau,
        pair_method="arrow",
    )
    fe2, ie2 = incremental_semantic_dedup(
        b2, spark.createDataFrame(ia, ia1.schema), cents, tau=tau,
        pair_method="expr",
    )
    assert {tuple(r) for r in fa2.collect()} == {tuple(r) for r in fe2.collect()}
    unpersist_intermediates(fa1, ia1, fe1, ie1, fa2, ia2, fe2, ie2)
