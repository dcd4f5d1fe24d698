"""Property-based tests (hypothesis) for the invariants the reference
only enforces operationally (SURVEY §5): sequence-assignment laws,
null-safe join semantics, and dedup idempotence.

Spark jobs are slow per-example, so examples are capped low and inputs
are generated as plain Python lists first.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from rabbit_in_a_blender_spark.operators.dedup import dedup_keep_first
from rabbit_in_a_blender_spark.operators.joins import null_safe_join
from rabbit_in_a_blender_spark.operators.sequence import assign_ids

_SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys_strategy = st.lists(
    st.text(alphabet="abcdef", min_size=1, max_size=6), min_size=1, max_size=40
)


@given(keys=keys_strategy, offset=st.integers(min_value=0, max_value=10**9))
@_SLOW
def test_assign_ids_is_dense_unique_and_order_preserving(spark, keys, offset):
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    out = assign_ids(df, ["k"], offset=offset, out_col="id", mode="scalable")
    rows = sorted((r["k"], r["id"]) for r in out.collect())
    n = len(keys)
    ids = [i for _, i in sorted(rows, key=lambda t: t[1])]
    # dense 1..n + offset, no gaps, no dupes
    assert ids == list(range(offset + 1, offset + n + 1))
    # id order == sort order of the key (ties broken arbitrarily but ids
    # for equal keys must be contiguous): k asc ⇒ id asc across distinct keys
    by_id = [k for k, _ in sorted(rows, key=lambda t: t[1])]
    assert by_id == sorted(by_id)


@given(keys=keys_strategy)
@_SLOW
def test_assign_ids_scalable_matches_strict(spark, keys):
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    a = {
        (r["k"], r["id"])
        for r in assign_ids(df, ["k"], out_col="id", mode="scalable").collect()
    }
    b = {
        (r["k"], r["id"])
        for r in assign_ids(df, ["k"], out_col="id", mode="strict").collect()
    }
    # equal keys may permute within their tie range; compare id multisets
    # per key value (the reference's determinism contract is per sort key)
    def grouped(s):
        g = {}
        for k, i in s:
            g.setdefault(k, []).append(i)
        return {k: sorted(v) for k, v in g.items()}

    assert grouped(a) == grouped(b)


@given(
    left=st.lists(
        st.tuples(st.integers(0, 5), st.one_of(st.none(), st.integers(0, 3))),
        max_size=25,
    ),
    right=st.lists(
        st.tuples(st.integers(0, 5), st.one_of(st.none(), st.integers(0, 3))),
        max_size=25,
    ),
)
@_SLOW
def test_null_safe_join_matches_python_semantics(spark, left, right):
    l = spark.createDataFrame(left or [(0, 0)], "k int, v int")
    r = spark.createDataFrame(right or [(0, 0)], "k int, v int")
    joined = null_safe_join(
        l, r.select("k", "v"), ["k", "v"], how="inner", null_safe_keys=["v"]
    )

    def nkey(t):  # None-safe sort key
        return tuple((x is None, 0 if x is None else x) for x in t)

    expect = sorted(
        (
            (lk, lv)
            for (lk, lv) in (left or [(0, 0)])
            for (rk, rv) in (right or [(0, 0)])
            if lk == rk and lv == rv  # None == None is True in Python, like <=>
        ),
        key=nkey,
    )
    assert sorted(((x[0], x[1]) for x in joined.collect()), key=nkey) == expect


@given(rows=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 100)), max_size=30))
@_SLOW
def test_dedup_keep_first_is_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(rows or [(0, 0)], "k int, v int")
    once = dedup_keep_first(df, ["k"], order_by=[F.col("v")])
    twice = dedup_keep_first(once, ["k"], order_by=[F.col("v")])
    got_once = sorted((r["k"], r["v"]) for r in once.collect())
    got_twice = sorted((r["k"], r["v"]) for r in twice.collect())
    assert got_once == got_twice
    # exactly one row per key, and it's the minimum by order col
    data = rows or [(0, 0)]
    expect = sorted(
        (k, min(v for kk, v in data if kk == k)) for k in {k for k, _ in data}
    )
    assert got_once == expect


# --- sampling threshold laws (pure Python — no Spark per example) -----

from rabbit_in_a_blender_spark.ext.sampling import fraction_threshold


@given(f=st.floats(min_value=0.0, max_value=1.0, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_fraction_threshold_is_valid_hex_or_sentinel(f):
    t = fraction_threshold(f)
    if t == "g":
        assert f >= 1.0 or round(f * 16**8) >= 16**8
    else:
        assert len(t) == 8
        int(t, 16)  # parses as hex
        assert t == t.lower()


@given(
    a=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    b=st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
@settings(max_examples=200, deadline=None)
def test_fraction_threshold_is_monotone(a, b):
    """a <= b ⇒ threshold(a) <= threshold(b) lexicographically — the law
    behind nested-sample subsets ('g' sorts above every hex digit)."""
    lo, hi = sorted((a, b))
    assert fraction_threshold(lo) <= fraction_threshold(hi)


@given(f=st.floats(min_value=0.0, max_value=0.999999, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_fraction_threshold_keeps_expected_mass(f):
    """The kept fraction of the hash space equals round(f * 16^8)/16^8
    exactly — thresholds never silently drift from the requested rate."""
    t = fraction_threshold(f)
    kept = int(t, 16) if t != "g" else 16**8
    assert kept == round(f * 16**8)


from rabbit_in_a_blender_spark.ext.budget import token_budget_select  # noqa: E402

tokens_strategy = st.lists(
    st.integers(min_value=1, max_value=500), min_size=1, max_size=40
)


@given(tokens=tokens_strategy, budget=st.integers(min_value=0, max_value=5_000))
@_SLOW
def test_token_budget_scalable_matches_strict(spark, tokens, budget):
    rows = [(i, t) for i, t in enumerate(tokens)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    order = [F.desc("n_tokens"), F.asc("doc_id")]
    a = sorted(
        (r["doc_id"], r["cum_tokens"])
        for r in token_budget_select(df, "n_tokens", budget, order).collect()
    )
    b = sorted(
        (r["doc_id"], r["cum_tokens"])
        for r in token_budget_select(
            df, "n_tokens", budget, order, mode="strict"
        ).collect()
    )
    assert a == b
    # greedy-prefix law: the kept set is exactly the maximal prefix of
    # the (tokens desc, id asc) order whose running total fits
    prefix, run = [], 0
    for i, t in sorted(enumerate(tokens), key=lambda p: (-p[1], p[0])):
        if run + t > budget:
            break
        run += t
        prefix.append(i)
    assert {d for d, _ in a} == set(prefix)


# --- round-10 additions: DSIR + RRF laws --------------------------------

docs_strategy = st.lists(
    st.text(alphabet="abcd ", min_size=1, max_size=24).map(
        lambda s: " ".join(s.split()) or "a"
    ),
    min_size=2,
    max_size=12,
)


@given(texts=docs_strategy)
@_SLOW
def test_dsir_weights_sum_law_under_self_target(spark, texts):
    """Target == raw corpus ⇒ every bucket log-ratio is ~0 only when the
    models coincide exactly; universally, weights are invariant to doc
    ids and input partitioning, and defined for every doc."""
    from rabbit_in_a_blender_spark.core.caching import unpersist_intermediates
    from rabbit_in_a_blender_spark.ext.dsir import dsir_weights

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    w1 = dsir_weights(df, df, "doc_id", "text", num_buckets=32)
    got1 = sorted((r.doc_id, r.logw_micro) for r in w1.collect())
    unpersist_intermediates(w1)
    assert len(got1) == len(texts)
    # self-target: p_t == p_r bucket-for-bucket ⇒ every ratio_micro is 0
    assert all(v == 0 for _, v in got1)
    w2 = dsir_weights(
        df.repartition(5), df.repartition(3), "doc_id", "text", num_buckets=32
    )
    got2 = sorted((r.doc_id, r.logw_micro) for r in w2.collect())
    unpersist_intermediates(w2)
    assert got1 == got2


@given(
    ranks=st.lists(
        st.tuples(st.integers(1, 50), st.integers(1, 50)),
        min_size=1,
        max_size=8,
        unique_by=lambda t: t,
    )
)
@_SLOW
def test_rrf_score_monotone_in_rank(spark, ranks):
    """A document can never lose fused score by improving a rank, and
    appearing in both lists beats appearing in either alone."""
    from rabbit_in_a_blender_spark.ext.retrieval import rrf_fuse

    rows_a = [(1, i, r1) for i, (r1, _) in enumerate(ranks)]
    rows_b = [(1, i, r2) for i, (_, r2) in enumerate(ranks)]
    a = spark.createDataFrame(rows_a, "qid long, doc_id long, rank long")
    b = spark.createDataFrame(rows_b, "qid long, doc_id long, rank long")
    both = {
        r.doc_id: r.rrf_micro for r in rrf_fuse([a, b], k=60).collect()
    }
    only_a = {
        r.doc_id: r.rrf_micro for r in rrf_fuse([a], k=60).collect()
    }
    for i, (r1, r2) in enumerate(ranks):
        assert both[i] > only_a[i]  # the second list can only add mass
        expect = round(1e6 / (60 + r1)) + round(1e6 / (60 + r2))
        assert both[i] == expect


vec_strategy = st.lists(
    st.lists(
        st.floats(
            min_value=-4, max_value=4,
            allow_nan=False, allow_infinity=False, width=32,
        ),
        min_size=4, max_size=4,
    ).filter(lambda v: any(abs(x) > 1e-3 for x in v)),
    min_size=3, max_size=24,
)


@given(vecs=vec_strategy, n_cents=st.integers(min_value=2, max_value=6))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_assignment_methods_agree_on_random_fixtures(spark, vecs, n_cents):
    """Law (r11): all three nearest-centroid assignment paths — expr HOF,
    Arrow matmul, and the coarse quantizer with exhaustive probe — pick
    the SAME centroid for every vector, for ANY geometry hypothesis can
    draw (including duplicate vectors and rounded-cosine ties)."""
    from rabbit_in_a_blender_spark.ext.ivf import build_ivf_index

    n_cents = min(n_cents, len(vecs))
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = df.limit(n_cents)

    def got(**kw):
        return {
            r["vec_id"]: r["centroid_id"]
            for r in build_ivf_index(df, cents, **kw)
            .select("vec_id", "centroid_id").collect()
        }

    expr = got(method="expr")
    assert got(method="arrow") == expr
    assert got(method="coarse", coarse_probe=n_cents) == expr


@given(vecs=vec_strategy, p=st.integers(min_value=1, max_value=4))
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_top_p_rank1_is_the_assignment_for_any_fixture(spark, vecs, p):
    """Law: assign_top_centroids rank 1 IS build_ivf_index's assignment
    and arrow/expr rank maps coincide, for any geometry."""
    from rabbit_in_a_blender_spark.ext.ivf import (
        assign_top_centroids,
        build_ivf_index,
    )

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    cents = df.limit(3)
    base = {
        r["vec_id"]: r["centroid_id"]
        for r in build_ivf_index(df, cents)
        .select("vec_id", "centroid_id").collect()
    }
    a = {
        (r["vec_id"], r["centroid_rank"]): r["centroid_id"]
        for r in assign_top_centroids(df, cents, p=p).collect()
    }
    e = {
        (r["vec_id"], r["centroid_rank"]): r["centroid_id"]
        for r in assign_top_centroids(df, cents, p=p, method="expr").collect()
    }
    assert a == e
    assert all(a[(vid, 1)] == cid for vid, cid in base.items())


# ---------------------------------------------------------------------------
# pointer-commit protocol law (r12): after ANY interleaving of successful
# commits and crashes-before-publish, a reader resolving through the
# pointer sees exactly the LAST SUCCESSFULLY PUBLISHED payload — never a
# crashed stage, never a half state, never ENOENT once one commit
# succeeded — and retention never exceeds keep + the one sweepable orphan.
from rabbit_in_a_blender_spark.core.commit import (  # noqa: E402
    current_version,
    list_versions,
    pointer_commit,
    resolve_pointer,
)


class _SimCrash(RuntimeError):
    pass


@settings(max_examples=40, deadline=None)
@given(st.lists(st.booleans(), min_size=1, max_size=12))
def test_pointer_commit_interleaving_law(ops):
    import os
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="riab_ptr_prop_")
    table = os.path.join(root, "t")
    try:
        published = None
        for n, ok in enumerate(ops, start=1):
            def write_fn(d, payload=n, ok=ok):
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, "payload.txt"), "w") as f:
                    f.write(str(payload))
                if not ok:
                    raise _SimCrash(str(payload))

            try:
                pointer_commit(write_fn, table, keep=3)
            except _SimCrash:
                pass
            else:
                published = n
            # reader invariant holds after EVERY operation
            if published is None:
                assert current_version(table) is None
            else:
                live = resolve_pointer(table)
                with open(os.path.join(live, "payload.txt")) as f:
                    assert f.read() == str(published)
            # retention: at most keep=3 published versions + <=1 orphan
            # from the most recent crash (swept by the next commit)
            assert len(list_versions(table)) <= 4
    finally:
        shutil.rmtree(root, ignore_errors=True)


# multi-table transaction law (r13): after ANY interleaving of committed
# transactions, mid-transaction crashes, explicit rollbacks, and
# recoveries, a snapshot reader resolving through the warehouse manifest
# sees the LAST COMMITTED transaction's payload on EVERY table — the two
# tables always agree (no torn cross-table view), and recovery restores
# the live table pointers to the manifest without moving the view.
@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.sampled_from(["commit", "crash_mid", "rollback", "recover"]),
        min_size=1,
        max_size=8,
    )
)
def test_txn_manifest_interleaving_law(ops):
    import os
    import shutil
    import tempfile

    from rabbit_in_a_blender_spark.core.commit import (
        _vdir,
        current_version,
        pointer_commit,
    )
    from rabbit_in_a_blender_spark.pipeline.txn import live_manifest
    from rabbit_in_a_blender_spark.pipeline.warehouse import Warehouse

    root = tempfile.mkdtemp(prefix="riab_txn_prop_")
    try:
        wh = Warehouse(os.path.join(root, "wh"))

        def put(table, payload):
            # the seal path: a plain pointer commit + txn.include —
            # exactly how the ETL stages tables during a run
            def write_fn(d):
                os.makedirs(d, exist_ok=True)
                with open(os.path.join(d, "payload.txt"), "w") as f:
                    f.write(str(payload))

            pointer_commit(write_fn, wh.path("omop", table))

        def snap_payloads():
            _, tables = live_manifest(wh)
            out = {}
            for key, ver in tables.items():
                zone, _, table = key.partition("/")
                with open(
                    os.path.join(_vdir(wh.path(zone, table), ver), "payload.txt")
                ) as f:
                    out[key] = f.read()
            return out

        committed = None
        for n, op in enumerate(ops, start=1):
            if op == "commit":
                txn = wh.begin()
                put("a", n)
                txn.include("omop", "a")
                put("b", n)
                txn.include("omop", "b")
                txn.commit()
                committed = n
            elif op == "crash_mid":
                txn = wh.begin()
                put("a", n)
                txn.include("omop", "a")
                # txn object abandoned: simulated process death
            elif op == "rollback":
                txn = wh.begin()
                put("a", n)
                txn.include("omop", "a")
                put("b", n)
                txn.include("omop", "b")
                txn.rollback()
            elif op == "recover":
                wh.txn_recover()

            # the law, after EVERY operation
            if committed is None:
                assert snap_payloads() == {}
            else:
                assert snap_payloads() == {
                    "omop/a": str(committed),
                    "omop/b": str(committed),
                }
            if op == "recover" and committed is not None:
                _, tables = live_manifest(wh)
                for key, ver in tables.items():
                    zone, _, table = key.partition("/")
                    assert current_version(wh.path(zone, table)) == ver
    finally:
        shutil.rmtree(root, ignore_errors=True)
