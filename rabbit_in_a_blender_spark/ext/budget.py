"""Token-budget corpus selection and deterministic corpus ordering —
the curation step between scoring and training: "take the best N
billion tokens" and "shuffle the corpus reproducibly".

Both are pure functions of the data + md5 digests, so the DuckDB
oracle replays them exactly (same discipline as ext/sampling.py).

Scale shapes:
- ``token_budget_select`` needs a GLOBAL cumulative token sum in
  priority order — the classic single-partition window hazard.  The
  scalable path reuses the ``operators/sequence.assign_ids`` recipe:
  range-partition on the priority order, cumsum within partitions, add
  per-partition token-total prefix offsets computed from #partitions
  driver-side integers (metadata, never data rows).
- ``deterministic_shuffle`` emits a reshard-stable order key (full md5
  digest of key+seed) and an optional shard assignment — the O(1)
  closed form of counting ``ext/sampling.py``'s hex thresholds below
  the key prefix — a narrow projection; the training loader
  sorts/buckets by the key, and the assignment never flickers when the
  corpus is re-sharded or grows (what ``DataFrame.orderBy(rand(seed))``
  cannot promise).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.caching import track_cache


def _disk_only():
    from pyspark import StorageLevel

    return StorageLevel.DISK_ONLY


def token_budget_select(
    df: DataFrame,
    token_col: str,
    budget: int,
    order_cols: Sequence,
    mode: str = "scalable",
    cum_col: str = "cum_tokens",
) -> DataFrame:
    """Greedy prefix under a token budget: order rows by ``order_cols``
    (highest priority first — pass desc() columns yourself) and keep a
    row iff the cumulative token count THROUGH it is <= budget.

    Returns the kept rows with ``cum_col`` attached (bit-comparable to
    the oracle's ``SUM(...) OVER (ORDER BY ...)``).  Ties in
    ``order_cols`` must be broken by a unique key for deterministic
    output — same contract as assign_ids.

    ``strict`` reproduces the oracle with one global-order window
    (single-partition — dimension-sized inputs only); ``scalable``
    computes identical numbers with range partitioning + per-partition
    cumsum + driver-side prefix offsets (#partitions longs).
    """
    cols = [c if not isinstance(c, str) else F.col(c) for c in order_cols]
    tok = F.col(token_col).cast("long")
    if mode == "strict":
        w = Window.orderBy(*cols).rowsBetween(Window.unboundedPreceding, 0)
        out = df.withColumn(cum_col, F.sum(tok).over(w))
        return out.filter(F.col(cum_col) <= budget)

    ordered = df.repartitionByRange(*cols).sortWithinPartitions(*cols)
    with_pid = ordered.withColumn("__pid", F.spark_partition_id())
    w = (
        Window.partitionBy("__pid")
        .orderBy(*cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Persist before the totals job: repartitionByRange samples range
    # boundaries per execution — without the pin, the totals job and the
    # final filter could see different partitionings (same hazard as
    # assign_ids in operators/sequence.py).  AQE may coalesce the range
    # exchange in the cached plan; merged partitions are adjacent
    # ranges, so each ``__pid`` is still contiguous and ordered and the
    # prefix offsets stay exact, as there.
    numbered = with_pid.withColumn("__cum", F.sum(tok).over(w)).persist(
        _disk_only()
    )
    totals = {
        r["__pid"]: r["t"]
        for r in numbered.groupBy("__pid")
        .agg(F.max("__cum").alias("t"))
        .collect()
    }
    cum, running = {}, 0
    for pid in sorted(totals):
        cum[pid] = running
        running += totals[pid] or 0
    if cum:
        mapping = F.create_map(*[F.lit(x) for kv in cum.items() for x in kv])
        offset = F.coalesce(mapping[F.col("__pid")], F.lit(0))
    else:
        offset = F.lit(0)
    out = numbered.withColumn(
        cum_col, (F.col("__cum") + offset).cast("long")
    ).drop("__pid", "__cum")
    # Release contract: the DISK_ONLY pin above is load-bearing, but a
    # long-lived session must be able to drop it after materializing —
    # core/caching.unpersist_intermediates(result) releases it.
    return track_cache(out.filter(F.col(cum_col) <= budget), [numbered])


def shuffle_key(key, seed: str):
    """Full md5 digest of "<key>:<seed>" — a reshard-stable global order
    key.  Oracle: ``md5(CAST(k AS VARCHAR) || ':<seed>')``."""
    return F.md5(F.concat(key.cast("string"), F.lit(f":{seed}")))


def deterministic_shuffle(
    df: DataFrame,
    key_col: str,
    seed: str = "shuffle",
    out_col: str = "shuffle_key",
    shards: int | None = None,
    shard_col: str = "shard_id",
) -> DataFrame:
    """Attach a deterministic shuffle key (and optional shard id).

    The key is uniform over [0, 16^32) as a hex string: sorting by it IS
    the shuffled training order, identical on every engine and corpus
    sharding.  ``shards=N`` additionally buckets rows into N equal hash
    ranges via the ext/sampling hex thresholds — shard membership never
    moves when the corpus grows (contrast ``orderBy(rand(seed))``:
    partition-order-dependent, and ``repartition(N)``: round-robin on
    physical layout).

    Narrow projection, zero shuffle — the caller chooses whether to
    materialize the order (``.repartitionByRange(out_col)`` +
    ``sortWithinPartitions``, one range exchange) or let the training
    loader consume shards independently.
    """
    out = df.withColumn(out_col, shuffle_key(F.col(key_col), seed))
    if shards:
        # O(1) closed form of the hex-threshold count (VERDICT r6 #2):
        # with v = int(key[:8], 16) and thresholds t_i =
        # round(i * 2^32 / N), the number of thresholds <= v is
        # min(N-1, (N * (2v + 1) - 1) >> 33) — exact, because
        # round(i * 2^32 / N) = floor((2 i 2^32 + N) / 2N) and exact
        # .5 halves cannot occur (the odd part of N never divides a
        # power of two), so counting i with that floor <= v reduces to
        # one integer comparison.  Equality with the threshold fold is
        # property-tested across shard counts in tests/test_budget.py.
        v = F.conv(F.substring(F.col(out_col), 1, 8), 16, 10).cast("long")
        shard = F.least(
            F.lit(shards - 1),
            F.shiftright(F.lit(shards) * (2 * v + 1) - 1, 33),
        )
        out = out.withColumn(shard_col, shard.cast("int"))
    return out
