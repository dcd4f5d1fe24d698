"""Graph centrality over edge tables — PageRank as a bounded-iteration
join/agg loop.

Why it's here: corpus-curation pipelines rank sources by link
authority (the FineWeb/Common-Crawl domain-ranking signal) and
propagate quality scores across near-dup/citation graphs.  The
connected-components op (``ext/cluster.py``) covers the partition
structure; PageRank covers the weighting.

Execution model (the genuinely-scalable shape, no GraphX dependency):

- state is one (node, rank) DataFrame;
- each iteration is one ``ranks ⋈ edges`` hash join on the source key
  + one groupBy(dst) aggregation — two shuffles, both on keys AQE can
  size and skew-split (a celebrity in-degree node is just a hot
  reduce key);
- dangling mass (nodes without out-edges) folds back uniformly via a
  one-row broadcast scalar, keeping the total mass at 1 so the damped
  iteration is a proper power method;
- ``localCheckpoint`` every iteration cuts lineage exactly like the
  pointer-jumping loop in ``ext/cluster.py:97`` — without it the plan
  for iteration N replays 1..N-1.  State is joined on the node key
  only, never by partition position, so AQE sizing the persisted and
  checkpointed frames (core/session.py) leaves ranks unchanged.

Determinism: iterations run a FIXED count (no data-dependent early
exit), and every per-node rank is rounded to 8 decimals per iteration
on an exact power-of-10 grid — that absorbs FP-summation order from
the incoming-contribution aggregate, so the same computation expressed
as a DuckDB recursive CTE hashes identically (the catalog row proves
it).  Reference: RiaB has no graph surface; this is extension depth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.caching import CheckpointPin, track_cache


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    damping: float = 0.85,
    iterations: int = 5,
    round_decimals: int = 8,
) -> DataFrame:
    """(node, rank) after ``iterations`` damped power steps from the
    uniform start.  Parallel edges count multiply (pre-``distinct()``
    the input for simple-graph semantics); isolated nodes don't exist
    by construction (nodes = src ∪ dst).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )
    # (node, out_deg) with 0 for sinks; n is a driver-side scalar (node
    # count — the one collect, metadata-sized like sequence.py's).
    deg = nodes.join(out_deg, "node", "left").select(
        "node", F.coalesce("out_deg", F.lit(0)).alias("out_deg")
    )
    n = deg.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))

    ranks = deg.select("node", "out_deg", F.lit(1.0 / n).alias("rank"))
    ranks = ranks.persist()
    ranks.count()
    base = (1.0 - damping) / n
    prev_pin: CheckpointPin | None = None
    for _ in range(iterations):
        dangling = (
            ranks.filter(F.col("out_deg") == 0)
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        )
        contrib = (
            e.join(
                ranks.filter(F.col("out_deg") > 0),
                e["src"] == F.col("node"),
            )
            .select(
                F.col("dst").alias("node"),
                (F.col("rank") / F.col("out_deg")).alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__in"))
        )
        new_ranks = (
            deg.join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "out_deg",
                F.round(
                    F.lit(base)
                    + damping
                    * (F.coalesce(F.col("__in"), F.lit(0.0)) + F.col("__dm") / n),
                    round_decimals,
                ).alias("rank"),
            )
        )
        new_ranks = new_ranks.localCheckpoint(eager=False).persist()
        new_ranks.count()
        # the old state (cache entry AND checkpoint pin) is superseded
        # the moment the new checkpoint is materialized
        ranks.unpersist()
        if prev_pin is not None:
            prev_pin.unpersist()
        prev_pin = CheckpointPin(new_ranks)
        ranks = new_ranks
    # Final state stays pinned (it was just materialized); hand callers
    # both release handles per the core/caching contract.
    cached = [ranks] if prev_pin is None else [ranks, prev_pin]
    return track_cache(ranks.select("node", "rank"), cached)
