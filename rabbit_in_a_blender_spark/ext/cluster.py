"""Near-duplicate CLUSTERING for training-data pipelines.

Pairwise dedup (ext/dedup.py) flags edges; a curation pipeline needs the
next step: group transitively-connected near-dups into one cluster and
keep a single canonical document per cluster.  ``A~B, B~C`` must purge
both B and C even though A and C never matched directly.

Connected components run as alternating min-label propagation and
pointer jumping (the Shiloach-Vishkin contraction idea; see also
Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14 for the star-contraction family):

- propagate: every node adopts the minimum label among itself and its
  neighbors — one shuffle join edges × labels + one groupBy min;
- jump: every node re-reads the label OF its current label
  (``l(u) ← l(l(u))``), halving pointer-chain depth — one self-join
  of the label table.

Plain propagation needs diameter-many rounds (a 1000-doc chain = 1000
rounds); with jumping, convergence is O(log d) rounds.  Near-dup
graphs are overwhelmingly star-shaped, so 2-4 rounds is typical.

Scale notes (100 TB):
- Only (id, id) pairs ever shuffle — constant width, never text.
- The label table is doc-count-sized; each round persists it and
  unpersists the previous one, and cuts lineage with a local
  checkpoint so round N's plan doesn't replay rounds 1..N-1.
- Convergence is detected with a changed-label count — one action per
  round on the already-persisted frame.
- Every join and aggregate here is on a node key and nothing reads a
  partition id, so the result does not depend on how AQE sizes the
  persisted and checkpointed frames (core/session.py); a read that
  needs a key distribution the cache no longer has adds a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.caching import CheckpointPin, track_cache


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """Component id (= min reachable node id) per node of the pair graph.

    Returns (node, component) for every node that appears in ``pairs``;
    isolated nodes never appear (callers union them back as their own
    singleton component — see :func:`near_dup_clusters`).

    ``max_rounds`` bounds the loop; with pointer jumping the label
    forest depth halves per round, so 30 rounds covers graphs up to
    ~2^30 diameter.  Raises if convergence isn't reached — a silent
    partial clustering would corrupt a dedup purge.

    Cache ownership: the returned frame IS the final round's persisted
    label table (node-count rows; every superseded round's cache entry
    AND checkpoint pin are released inside the loop).  It stays cached
    so downstream joins don't replay the loop; it carries its own
    release handles per the core/caching contract —
    ``unpersist_intermediates(result)`` drops both the cache entry and
    the final checkpoint pin when done.
    """
    edges = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
        .distinct()
        .persist()
    )
    labels = edges.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    )
    labels = labels.persist()
    labels.count()
    prev_pin = None
    try:
        for _ in range(max_rounds):
            # propagate: min over self + neighbor labels
            nbr = (
                edges.join(labels, edges["v"] == labels["node"])
                .groupBy("u")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            prop = (
                labels.join(nbr, labels["node"] == nbr["u"], "left")
                .select(
                    "node",
                    F.least(
                        F.col("comp"), F.coalesce("nbr_comp", "comp")
                    ).alias("comp"),
                )
            )
            # jump: l(u) <- l(l(u)); every comp value IS a node, so the
            # self-join is total
            l2 = prop.select(
                F.col("node").alias("__n"), F.col("comp").alias("__c")
            )
            jumped = (
                prop.join(l2, prop["comp"] == l2["__n"])
                .select("node", F.col("__c").alias("comp"))
            )
            # localCheckpoint cuts the per-round lineage: without it,
            # round N's plan nests all prior rounds and planning time
            # itself becomes the bottleneck
            jumped = jumped.localCheckpoint(eager=False).persist()
            changed = (
                jumped.alias("j")
                .join(labels.alias("p"), "node")
                .filter(F.col("j.comp") != F.col("p.comp"))
                .count()
            )
            # previous round's cache entry AND checkpoint pin are both
            # superseded now that the new checkpoint is materialized
            # (DataFrame.unpersist alone leaves the truncated-lineage
            # RDD in getPersistentRDDs forever — core/caching.py)
            labels.unpersist()
            if prev_pin is not None:
                prev_pin.unpersist()
            prev_pin = CheckpointPin(jumped)
            labels = jumped
            if changed == 0:
                return track_cache(labels, [labels, prev_pin])
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )
    finally:
        edges.unpersist()


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    exact: bool = False,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Cluster near-duplicate documents; one canonical doc per cluster.

    Pipeline: n-gram Jaccard pairs ≥ threshold (LSH-candidate-bounded by
    default, ``exact=True`` for the oracle-checkable all-shared-shingle
    baseline) → connected components → every document labeled with
    (cluster_id = min doc id of its component, cluster_size,
    is_canonical).  Unmatched documents are their own singleton cluster.

    A curation job keeps ``is_canonical = 1`` rows: that retains exactly
    one representative per near-dup group, transitively.
    """
    from .dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        df,
        id_col,
        text_col,
        n=n,
        threshold=threshold,
        exact=exact,
        num_hashes=num_hashes,
        bands=bands,
    ).select("id_a", "id_b")
    return label_clusters(df, id_col, connected_components(pairs))


def embed_near_dup_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    exact: bool = False,
) -> DataFrame:
    """Embedding-space twin of :func:`near_dup_clusters`: cosine ≥
    threshold pairs (sign-LSH candidates by default; ``exact=True`` for
    the all-pairs oracle baseline) → connected components → per-vector
    (cluster_id, cluster_size, is_canonical) labeling."""
    from .similarity import cosine_near_dup_lsh, cosine_near_dup_pairs

    fn = cosine_near_dup_pairs if exact else cosine_near_dup_lsh
    pairs = fn(df, id_col, vec_col, threshold=threshold).select("id_a", "id_b")
    return label_clusters(df, id_col, connected_components(pairs))


def label_clusters(df: DataFrame, id_col: str, comp: DataFrame) -> DataFrame:
    """Join a (node, comp) component table back onto every id: unmatched
    ids become their own singleton cluster; canonical = min id."""
    out = (
        df.select(F.col(id_col))
        .join(comp, F.col(id_col) == comp["node"], "left")
        .select(
            F.col(id_col),
            F.coalesce("comp", F.col(id_col)).alias("cluster_id"),
        )
    )
    w = F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    return out.select(
        F.col(id_col),
        "cluster_id",
        w.cast("long").alias("cluster_size"),
        (F.col(id_col) == F.col("cluster_id")).cast("long").alias("is_canonical"),
    )
