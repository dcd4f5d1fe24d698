"""Document deduplication operators for training-data pipelines.

Exact, MinHash+LSH, and n-gram-Jaccard dedup over a text column — all
expressed with built-in JVM-side functions (md5, higher-order array
functions, explode + hash joins).  No Python UDFs in any hot path.

Hash choice: md5 hex strings, because (a) it's available JVM-side in
Spark AND in DuckDB so every step is oracle-checkable, and (b) taking
``min()`` over hex strings is an order-preserving proxy for min over a
64/128-bit hash.  MinHash permutations are simulated by salting the hash
input with the permutation index — the standard trick when you need k
independent hash functions from one.

Scale notes (100 TB):
- exact dedup: one shuffle on the 32-hex-char digest — constant-width
  keys regardless of document length; never shuffle the raw text.
- minhash/LSH: cost is dominated by the shingle explode (|doc| rows per
  doc).  Signatures reduce each doc to k strings; the LSH band join only
  shuffles (band_idx, band_hash, doc_id) triples.  Skewed buckets (boiler-
  plate shingles) are handled by AQE skew-join; pathological buckets can
  be capped with a count filter before the self-join.
- pairwise Jaccard is reserved for LSH *candidates*, never all pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Shared release contract (core/caching.py) — re-exported here because
# this module introduced the pattern and existing callers import from it.
from ..core.caching import track_cache as _track_cache  # noqa: E402
from ..core.caching import unpersist_intermediates  # noqa: F401


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate groups: digest → canonical (min) id + group size."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per document: (id, shingle) rows.

    Built with higher-order functions (split → transform → explode), all
    whole-stage-codegen'd JVM expressions.
    """
    # Split once into a projected column; a naive inline expression would
    # re-split the text for every lambda element.
    words = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__w"))
    shingles = F.expr(
        f"transform(sequence(0, greatest(size(__w) - {n}, 0)), "
        f"i -> concat_ws(' ', slice(__w, i + 1, {n})))"
    )
    # array_distinct already dedupes within the doc and ids are unique,
    # so the exploded (id, shingle) rows are distinct — adding .distinct()
    # here would shuffle every shingle row for nothing.
    return words.select(
        F.col(id_col), F.explode(F.array_distinct(shingles)).alias("shingle")
    )


def minhash_signatures(
    shingles: DataFrame, id_col: str, num_hashes: int = 16
) -> DataFrame:
    """MinHash signature per doc: for each salt j, min(md5(j || shingle)).

    One groupBy(doc) computes all k mins via conditional aggregation —
    a single shuffle, k constant-width columns out.
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{j}:"), F.col("shingle")))).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return shingles.groupBy(F.col(id_col)).agg(*aggs)


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band of the signature are candidates.

    Returns distinct (id_a, id_b) with id_a < id_b.  The self-join key is
    (band_idx, band_hash) — a 32-char digest, so shuffle width is tiny.

    ``max_bucket_size`` caps pathological buckets (boilerplate text that
    hashes thousands of docs into one band bucket → a quadratic pair
    explosion no skew-splitting can fix).  Capped buckets are DROPPED —
    at corpus scale a bucket that hot is boilerplate, not near-dup
    signal; set None (default) for the exact oracle-checked behavior.
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    banded = signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(
        F.col(id_col),
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_hash").alias("band_hash"),
    )
    # The self-join consumes `banded` twice; without a persist Spark
    # recomputes the whole shingle→signature pipeline (the expensive
    # part) for each side.  Banded rows are (id, int, 32-hex) — doc-count
    # sized, thousands of times smaller than the corpus — so caching is
    # safe at any scale (Spark's cache manager dedupes by logical plan,
    # repeated calls reuse one entry; at 100 TB you would materialize
    # signatures to a table between runs anyway).
    banded = banded.persist()
    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "band_hash")
        banded = (
            banded.withColumn("__bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("__bsz") <= max_bucket_size)
            .drop("__bsz")
        )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return _track_cache(pairs, [banded])


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.2,
    candidates: DataFrame | None = None,
    shingles: DataFrame | None = None,
    exact: bool = False,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Pairwise n-gram Jaccard similarity ≥ threshold.

    DEFAULT is the scale path: when no ``candidates`` frame is given,
    candidate pairs are derived from MinHash+LSH over the same shingle
    pass, and only those pairs are scored.  ``exact=True`` opts into the
    oracle baseline that scores EVERY pair sharing ≥1 shingle —
    quadratic in the worst case, for correctness comparison only.

    With candidates (given or derived), the intersection is
    candidate-bounded: the pair list joins each side's shingles and
    counts matches, so work scales with |candidates| x shingles-per-doc,
    never all shared-shingle pairs.  Pass ``shingles`` (from
    :func:`shingle_sets`, ideally persisted) to share one shingle pass
    with the MinHash stage instead of re-deriving it from the text.
    """
    sh = shingles if shingles is not None else shingle_sets(df, id_col, text_col, n)
    own_caches: list[DataFrame] = []
    if candidates is None and not exact:
        if shingles is None:
            # one shingle pass feeds signatures, sizes AND intersections
            sh = sh.persist()
            own_caches.append(sh)
        sig = minhash_signatures(sh, id_col, num_hashes=num_hashes)
        candidates = lsh_candidate_pairs(sig, id_col, num_hashes=num_hashes, bands=bands)
        own_caches += getattr(candidates, "_graft_cached", [])
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("set_size"))
    if candidates is not None:
        sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
        sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            candidates.select("id_a", "id_b")
            .join(sh_a, "id_a")
            .join(sh_b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter_size"))
        )
    else:
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
            )
            .groupBy(
                F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
            )
            .agg(F.count(F.lit(1)).alias("inter_size"))
        )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("set_size").alias("size_b"))
    scored = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter_size")
                / (F.col("size_a") + F.col("size_b") - F.col("inter_size")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return _track_cache(scored, own_caches)


def signature_bands(
    signatures: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(id, band_idx, band_hash) rows — the storable LSH index of a corpus.

    Same banding arithmetic as :func:`lsh_candidate_pairs` (md5 over the
    '|'-joined band slice of the signature), exposed standalone so the
    index can be PERSISTED between runs: a continuous-crawl pipeline
    materializes this once per corpus snapshot and only the daily delta
    recomputes signatures.
    """
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(F.concat_ws("|", *cols)).alias("band_hash"),
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("band")
    ).select(
        F.col(id_col),
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_hash").alias("band_hash"),
    )


def incremental_dedup(
    new_docs: DataFrame,
    corpus_bands: DataFrame | None,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    fan_out_probe: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Screen a NEW batch against an existing corpus LSH index.

    ``fan_out_probe``: set True when ``new_docs`` is a streaming
    micro-batch frame (no input-file metadata) so the delta fan-out
    below can decide from the frame's partition count instead — see
    ``core.parallelism.fan_out_for_compute``.

    Returns ``(clean_docs, clean_bands)``:

    - ``clean_docs`` — batch rows that (a) share no LSH band with the
      stored corpus index and (b) are not the higher-id member of an
      intra-batch band collision (lowest id wins, the same canonical
      rule as exact_dedup_groups; transitive intra-batch chains all
      collapse to their cluster minimum only if they collide pairwise —
      run near_dup_clusters on the batch first when that matters);
    - ``clean_bands`` — the surviving docs' band rows, ready to be
      appended to the index for the next increment.

    Scale: only the delta is shingled and hashed; the corpus side is a
    pre-banded table probed with a semi join on (band_idx, band_hash),
    which still scans the stored index.

    The increment persists small intermediates (the delta's band rows);
    in a continuous-crawl loop call
    ``unpersist_intermediates(clean_docs, clean_bands)`` after writing
    each increment or cache entries accumulate across increments
    (ADVICE r5).
    """
    # §2.5 fan-out on the DELTA scan (r13 optimization round): a
    # single-file micro-batch runs the shingle+minhash explode — the
    # profiled 1.6-2.3 s serial wall of every streaming increment — in
    # ONE task.  Safe here (unlike the batch clusters path, where the
    # fan-out regressed multi-consumer plans): the banded signatures
    # are persisted, so the exchange executes exactly once per batch.
    from ..core.parallelism import fan_out_for_compute

    delta = fan_out_for_compute(
        new_docs.select(F.col(id_col), F.col(text_col)),
        id_col,
        partition_probe=fan_out_probe,
    )
    sigs = minhash_signatures(
        shingle_sets(delta, id_col, text_col, n=n), id_col, num_hashes=num_hashes
    )
    nb = signature_bands(sigs, id_col, num_hashes=num_hashes, bands=bands).persist()
    # (a) collides with the stored corpus index
    if corpus_bands is not None:
        corpus_hits = (
            nb.join(
                corpus_bands.select("band_idx", "band_hash"),
                ["band_idx", "band_hash"],
                "left_semi",
            )
            .select(id_col)
            .distinct()
        )
    else:
        corpus_hits = None
    # (b) intra-batch: the higher id of any colliding pair loses
    intra_pairs = lsh_candidate_pairs(sigs, id_col, num_hashes=num_hashes, bands=bands)
    intra_losers = intra_pairs.select(F.col("id_b").alias(id_col)).distinct()
    losers = (
        intra_losers if corpus_hits is None
        else corpus_hits.unionByName(intra_losers).distinct()
    )
    # Both outputs consume the loser set; without the pin the corpus
    # semi-join and the intra-batch band self-join re-ran once per
    # write (r13 optimization round).  Id-sized metadata, released via
    # the track_cache contract with the rest.
    losers = losers.persist()
    caches = [nb, losers] + list(getattr(intra_pairs, "_graft_cached", []))
    clean_docs = _track_cache(new_docs.join(losers, id_col, "left_anti"), caches)
    clean_bands = _track_cache(nb.join(losers, id_col, "left_anti"), caches)
    return clean_docs, clean_bands
