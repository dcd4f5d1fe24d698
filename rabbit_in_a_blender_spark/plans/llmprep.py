"""Training-data-preparation queries (SURVEY §2.N extensions): stable
sampling / split assignment, benchmark decontamination, and sequence
packing over the documents table.

Every decision in these operators is a pure function of md5 digests or
of the data itself, so the DuckDB oracles replay the exact algorithm —
including the next-fit packing fold, expressed as a recursive CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.caching import track_cache
from ..core.io import load_tables
from ..ext.bpe import bpe_token_count_sql, bpe_token_ids_sql
from ..ext.decontam import contamination_overlap, decontaminate
from ..ext.packing import pack_next_fit
from ..ext.sampling import (
    deterministic_sample,
    fraction_threshold,
    stratified_sample,
    train_val_test_split,
)
from ..ext.text import token_counts
from .catalog import register

# Thresholds are computed ONCE here and embedded in both engines' plans,
# so a rounding choice can never diverge between Spark and the oracle.
_T_QUARTER = fraction_threshold(0.25)
_STRATA = {"en": 0.1, "fr": 0.5, "zh": 0.3}
_T_DEFAULT = fraction_threshold(0.2)
_T_TRAIN = fraction_threshold(0.8)
_T_VAL = fraction_threshold(0.9)


_EPOCHS = {"en": 2.3, "fr": 0.5, "zh": 1.0}
_EPOCH_CASE = " ".join(
    f"WHEN '{lang}' THEN {int(e)} + (CASE WHEN "
    f"substr(md5(CAST(doc_id AS VARCHAR) || ':r6e'), 1, 8) < "
    f"'{fraction_threshold(e - int(e))}' THEN 1 ELSE 0 END)"
    for lang, e in sorted(_EPOCHS.items())
)


@register(
    "ext_upsample_epochs",
    oracle=f"""
    WITH n AS (
      SELECT doc_id, lang,
             CASE lang {_EPOCH_CASE}
               ELSE 1 + (CASE WHEN
                 substr(md5(CAST(doc_id AS VARCHAR) || ':r6e'), 1, 8) < '{fraction_threshold(0.0)}'
                 THEN 1 ELSE 0 END)
             END AS n_copies
      FROM documents
    )
    SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS INTEGER)
             AS copy_idx
    FROM n WHERE n_copies > 0
    """,
    doc="Deterministic fractional upsampling (en 2.3 epochs, fr 0.5, "
    "zh 1.0): floor copies for everyone + one stable hash-gated extra "
    "for the remainder; explode fan-out, zero shuffle.",
)
def ext_upsample_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import upsample_epochs

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return upsample_epochs(d, "doc_id", "lang", _EPOCHS, seed="r6e").select(
        "doc_id", "lang", "copy_idx"
    )


_SHARD_BOUNDS = [fraction_threshold(i / 8) for i in range(1, 8)]
_SHARD_SQL = " + ".join(
    f"(CASE WHEN substr(shuffle_key, 1, 8) >= '{b}' THEN 1 ELSE 0 END)"
    for b in _SHARD_BOUNDS
)

_SHARD4_SQL = " + ".join(
    f"(CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':r6s'), 1, 8) "
    f">= '{fraction_threshold(i / 4)}' THEN 1 ELSE 0 END)"
    for i in range(1, 4)
)


@register(
    "ext_curation_chain",
    oracle=f"""
    WITH canon AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    ),
    uniq AS (
      SELECT d.doc_id, d.text FROM documents d
      JOIN canon c ON d.doc_id = c.doc_id
    ),
    t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM uniq
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id) AS cum_tokens
      FROM t
    ),
    kept AS (SELECT * FROM cum WHERE cum_tokens <= 30000)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':r6c'), 1, 8)
                     < '{_T_TRAIN}' THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':r6c'), 1, 8)
                     < '{_T_VAL}' THEN 'val'
                ELSE 'test' END AS split,
           CAST({_SHARD4_SQL} AS INTEGER) AS shard_id
    FROM kept
    """,
    doc="Curation capstone: exact dedup → longest-first 30k-token "
    "budget → stable train/val/test split → 4-way shuffle shards.  "
    "Distinct seeds for split ('r6c') and shard ('r6s') so membership "
    "decisions are uncorrelated.",
)
def ext_curation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.budget import deterministic_shuffle, token_budget_select
    from ..ext.dedup import exact_dedup_groups

    d = load_tables(spark, sf_dir, "documents")["documents"]
    canon = exact_dedup_groups(d, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    uniq = d.join(canon, "doc_id", "left_semi")
    scored = uniq.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    kept = token_budget_select(
        scored, "n_tokens", 30_000, [F.desc("n_tokens"), F.asc("doc_id")]
    )
    split = train_val_test_split(kept, "doc_id", seed="r6c")
    sharded = deterministic_shuffle(split, "doc_id", seed="r6s", shards=4)
    return track_cache(
        sharded.select("doc_id", "n_tokens", "cum_tokens", "split", "shard_id"),
        kept._graft_cached,
    )


@register(
    "ext_token_budget",
    oracle="""
    WITH t AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents
    ), c AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY n_tokens DESC, doc_id) AS cum_tokens
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 50000
    """,
    doc="Greedy token-budget selection (longest-first, 50k-token cap): "
    "the scalable range-partitioned cumsum reproduces the oracle's "
    "global-order SUM OVER bit-for-bit.",
)
def ext_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.budget import token_budget_select

    d = load_tables(spark, sf_dir, "documents")["documents"]
    scored = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    kept = token_budget_select(
        scored,
        "n_tokens",
        50_000,
        [F.desc("n_tokens"), F.asc("doc_id")],
        mode="scalable",
    )
    return track_cache(
        kept.select("doc_id", "n_tokens", "cum_tokens"), kept._graft_cached
    )


@register(
    "ext_deterministic_shuffle",
    oracle=f"""
    WITH k AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR) || ':r6') AS shuffle_key
      FROM documents
    )
    SELECT doc_id, shuffle_key, CAST({_SHARD_SQL} AS INTEGER) AS shard_id
    FROM k
    """,
    doc="Reshard-stable corpus shuffle: md5 order key + 8 equal hash-"
    "range shards; narrow projection, zero shuffle.",
)
def ext_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.budget import deterministic_shuffle

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return deterministic_shuffle(d, "doc_id", seed="r6", shards=8).select(
        "doc_id", "shuffle_key", "shard_id"
    )


@register(
    "ext_sample_uniform",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':r5'), 1, 8) < '{_T_QUARTER}'
    """,
    doc="Deterministic 25% sample: md5 hash-prefix filter, zero shuffle.",
)
def ext_sample_uniform(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return deterministic_sample(d, "doc_id", 0.25, seed="r5").select("doc_id", "lang")


@register(
    "ext_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR) || ':r5'), 1, 8)
          < CASE lang
              WHEN 'zh' THEN '{fraction_threshold(0.3)}'
              WHEN 'fr' THEN '{fraction_threshold(0.5)}'
              WHEN 'en' THEN '{fraction_threshold(0.1)}'
              ELSE '{_T_DEFAULT}'
            END
    """,
    doc="Per-language keep fractions via CASE thresholds; narrow filter.",
)
def ext_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return stratified_sample(
        d, "doc_id", "lang", _STRATA, seed="r5", default_fraction=0.2
    ).select("doc_id", "lang")


@register(
    "ext_split_assign",
    oracle=f"""
    SELECT doc_id,
           CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) < '{_T_TRAIN}'
               THEN 'train'
             WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) < '{_T_VAL}'
               THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents
    """,
    doc="80/10/10 train/val/test assignment from cumulative hash ranges.",
)
def ext_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    return train_val_test_split(d, "doc_id", (0.8, 0.1, 0.1), seed="split").select(
        "doc_id", "split"
    )


@register(
    "ext_chunk_documents",
    oracle="""
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
    SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
           array_to_string(ws[i*24+1:i*24+32], ' ') AS chunk,
           CAST(len(ws[i*24+1:i*24+32]) AS BIGINT) AS n_chunk_words
    FROM w, unnest(range(0,
           greatest(CAST(ceil((len(ws) - 32) / 24.0) AS BIGINT), 0) + 1)) AS t(i)
    """,
    doc="Overlapping word-window chunking (32-word windows, stride 24) "
    "for embedding/retrieval prep; zero shuffle, chunk ids are pure "
    "functions of the data.",
)
def ext_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.text import chunk_documents

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return chunk_documents(d, "doc_id", "text", max_words=32, overlap=8)


@register(
    "ext_unigram_logprob",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    vocab AS (SELECT w, COUNT(*) AS c FROM words GROUP BY w),
    t AS (SELECT CAST(SUM(c) AS DOUBLE) AS total FROM vocab),
    scored AS (SELECT w, ln(c / total) AS lp FROM vocab, t)
    SELECT doc_id, ROUND(AVG(lp), 4) AS mean_logprob
    FROM words JOIN scored USING (w)
    GROUP BY doc_id
    """,
    doc="CCNet-style perplexity proxy: mean unigram log-probability of "
    "each document under the corpus's own word distribution.",
)
def ext_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.text import unigram_logprob

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return unigram_logprob(d, "doc_id", "text")


@register(
    "ext_source_mixture",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    w AS (
      SELECT source, CAST(SUM(nt) AS DOUBLE) AS w FROM toks GROUP BY source
    ),
    t AS (SELECT MIN(w) AS target FROM w),
    thr AS (
      SELECT source,
             CASE WHEN w <= target THEN 'g'
                  ELSE lower(lpad(to_hex(
                         CAST(floor(target / w * 4294967296.0) AS BIGINT)
                       ), 8, '0'))
             END AS thr
      FROM w, t
    ),
    kept AS (
      SELECT k.doc_id, k.source, k.nt
      FROM toks k JOIN thr ON k.source = thr.source
      WHERE substr(md5(CAST(k.doc_id AS VARCHAR) || ':mix'), 1, 8) < thr.thr
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(nt) AS BIGINT) AS n_tokens
    FROM kept GROUP BY source
    """,
    doc="Source-mixture rebalancing: every source down-sampled to the "
    "smallest source's token budget, with thresholds derived from the "
    "data INSIDE the plan (hex(floor(target/w * 16^8))) — "
    "data-dependent yet fully engine-reproducible.",
)
def ext_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import balance_sample

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
    )
    kept = balance_sample(toks, "doc_id", "source", "nt", seed="mix")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("nt").cast("long").alias("n_tokens"),
    )


# Benchmark set for the decontamination queries: every 97th document
# plays the eval set; the rest are the training corpus.  3-grams (not
# the production default of 8) so the tiny fixture actually overlaps.
_DECON_SQL = """
    bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
    corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
    bgrams AS (
      SELECT DISTINCT g AS shingle FROM (
        SELECT unnest(list_distinct(list_transform(
                 range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')
               ))) AS g
        FROM bench
      ) AS t
    ),
    cgrams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
               i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')
             ))) AS shingle
      FROM corpus
    ),
    hits AS (
      SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
      FROM cgrams c JOIN bgrams b ON c.shingle = b.shingle
      GROUP BY c.doc_id
    )
"""


@register(
    "ext_decontam_overlap",
    oracle=f"WITH {_DECON_SQL} SELECT doc_id, n_shared_ngrams FROM hits",
    doc="Per-doc count of word 3-grams shared with the benchmark set "
    "(broadcast the benchmark grams; corpus never shuffled raw).",
)
def ext_decontam_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_overlap(corpus, bench, "doc_id", "text", n=3)


@register(
    "ext_decontam_filter",
    oracle=f"""
    WITH {_DECON_SQL}
    SELECT c.doc_id, c.lang FROM corpus c
    WHERE c.doc_id NOT IN (SELECT doc_id FROM hits)
    """,
    doc="Decontaminated corpus: anti join against contaminated doc ids.",
)
def ext_decontam_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return decontaminate(corpus, bench, "doc_id", "text", n=3).select(
        "doc_id", "lang"
    )


@register(
    "ext_decontam_rare",
    oracle=f"""
    WITH {_DECON_SQL},
    dfcap AS (
      SELECT c.shingle, COUNT(*) AS df
      FROM cgrams c JOIN bgrams b ON c.shingle = b.shingle
      GROUP BY c.shingle
    ),
    rare_hits AS (
      SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_ngrams
      FROM cgrams c
      JOIN bgrams b ON c.shingle = b.shingle
      JOIN dfcap d ON c.shingle = d.shingle AND d.df <= 2
      GROUP BY c.doc_id
    )
    SELECT doc_id, n_shared_ngrams FROM rare_hits
    """,
    doc="Rare-gram decontamination: benchmark grams whose corpus document "
    "frequency exceeds 2 are treated as boilerplate and excluded before "
    "counting overlap (the published recipes match on RARE n-grams; the "
    "cap also removes the join's hot keys).",
)
def ext_decontam_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_overlap(
        corpus, bench, "doc_id", "text", n=3, max_gram_df=2
    )


@register(
    "ext_redact_pii",
    oracle="""
    WITH step0 AS (
      SELECT doc_id, text,
             len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+')) AS c0,
             regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g') AS t0
      FROM documents
    ),
    step1 AS (
      SELECT doc_id,
             c0 + len(regexp_extract_all(t0, '\\+?[0-9][0-9()\\-\\. ]{7,}[0-9]')) AS c1,
             regexp_replace(t0, '\\+?[0-9][0-9()\\-\\. ]{7,}[0-9]', '<PHONE>', 'g') AS t1
      FROM step0
    )
    SELECT doc_id,
           regexp_replace(t1, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}',
                          '<IP>', 'g') AS redacted,
           CAST(c1 + len(regexp_extract_all(
             t1, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS BIGINT)
             AS n_redactions
    FROM step1
    """,
    doc="PII redaction (email -> phone -> IPv4, count-then-replace per "
    "step); zero-shuffle narrow projection.",
)
def ext_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.scrub import redact_pii

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return redact_pii(d, "doc_id", "text")


@register(
    "ext_repetition_stats",
    oracle="""
    WITH base AS (
      SELECT doc_id, string_split(text, ' ') AS ws,
             list_transform(
               range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
               i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')
             ) AS grams
      FROM documents
    ),
    wc AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(ws) AS w FROM base) t
      GROUP BY doc_id, w
    ),
    topw AS (SELECT doc_id, MAX(c) AS top_c, SUM(c) AS n_w FROM wc GROUP BY doc_id)
    SELECT b.doc_id,
           ROUND(1.0 - len(list_distinct(grams)) / len(grams), 4) AS dup_ngram_ratio,
           ROUND(t.top_c / t.n_w, 4) AS top_word_ratio
    FROM base b JOIN topw t ON b.doc_id = t.doc_id
    """,
    doc="Gopher-style repetition signals: duplicate word-3-gram fraction "
    "and top single-word frequency share.",
)
def ext_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.scrub import repetition_stats

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return repetition_stats(d, "doc_id", "text", n=3)


@register(
    "ext_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
               i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')
             ))) AS shingle
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter_size
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE ROUND(inter_size / (sa.sz + sb.sz - inter_size), 4) >= 0.05
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    comp AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_id
      FROM reach GROUP BY u
    ),
    lab AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CASE
             WHEN substr(md5(CAST(cluster_id AS VARCHAR) || ':split'), 1, 8)
                  < '{_T_TRAIN}' THEN 'train'
             WHEN substr(md5(CAST(cluster_id AS VARCHAR) || ':split'), 1, 8)
                  < '{_T_VAL}' THEN 'val'
             ELSE 'test'
           END AS split
    FROM lab
    """,
    doc="Leakage-safe train/val/test assignment: split is keyed on the "
    "transitive near-dup CLUSTER id, so no near-duplicate pair can "
    "straddle train and test (the eval-contamination failure mode of "
    "naive per-doc splits).",
)
def ext_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.cluster import near_dup_clusters

    d = load_tables(spark, sf_dir, "documents")["documents"]
    clusters = near_dup_clusters(
        d, "doc_id", "text", n=3, threshold=0.05, exact=True
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )
    return train_val_test_split(clusters, "cluster_id", (0.8, 0.1, 0.1), seed="split")


@register(
    "ext_incremental_dedup",
    oracle="""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
               i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')
             ))) AS shingle
      FROM documents
    ),
    hashes AS (
      SELECT doc_id, j,
             MIN(md5(CAST(j AS VARCHAR) || ':' || shingle)) AS mh
      FROM sh CROSS JOIN (SELECT unnest(range(16)) AS j) js
      GROUP BY doc_id, j
    ),
    bands AS (
      SELECT doc_id, j // 4 AS band_idx,
             md5(string_agg(mh, '|' ORDER BY j)) AS band_hash
      FROM hashes GROUP BY doc_id, j // 4
    ),
    corpus_bands AS (SELECT * FROM bands WHERE doc_id < 250),
    batch_bands  AS (SELECT * FROM bands WHERE doc_id >= 250),
    corpus_hits AS (
      SELECT DISTINCT b.doc_id FROM batch_bands b
      JOIN corpus_bands c
        ON b.band_idx = c.band_idx AND b.band_hash = c.band_hash
    ),
    intra_losers AS (
      SELECT DISTINCT b.doc_id FROM batch_bands a
      JOIN batch_bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    )
    SELECT doc_id, lang FROM documents
    WHERE doc_id >= 250
      AND doc_id NOT IN (SELECT doc_id FROM corpus_hits)
      AND doc_id NOT IN (SELECT doc_id FROM intra_losers)
    """,
    doc="Continuous-crawl dedup: the doc_id>=250 half arrives as a new "
    "batch and is screened against the <250 half's stored LSH band "
    "index — only the delta is shingled/hashed; survivors returned.",
)
def ext_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.dedup import (
        incremental_dedup,
        minhash_signatures,
        shingle_sets,
        signature_bands,
    )

    d = load_tables(spark, sf_dir, "documents")["documents"]
    corpus = d.filter(F.col("doc_id") < 250)
    batch = d.filter(F.col("doc_id") >= 250)
    corpus_bands = signature_bands(
        minhash_signatures(shingle_sets(corpus, "doc_id", "text"), "doc_id"),
        "doc_id",
    )
    clean, _ = incremental_dedup(batch, corpus_bands, "doc_id", "text")
    return clean.select("doc_id", "lang")


@register(
    "ext_corpus_prep",
    oracle=f"""
    WITH bench AS (SELECT * FROM documents WHERE doc_id % 97 = 0),
    rawcorpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
    qbase AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS nw,
             len(list_filter(string_split(text, ' '),
                 w -> list_contains(['the','a','of','and','to','in','is','it','that','for'], w)))
               / len(string_split(text, ' ')) AS stop_r,
             len(regexp_extract_all(text, '[.,;:!?]'))
               / greatest(length(text), 1) AS punct_r
      FROM rawcorpus
    ),
    keepq AS (
      SELECT c.* FROM rawcorpus c JOIN qbase USING (doc_id)
      WHERE ROUND(least(nw / 64.0, 1.0) * 0.4 + stop_r * 0.4
                  + (1.0 - punct_r) * 0.2, 4) >= 0.5
    ),
    canon AS (SELECT MIN(doc_id) AS doc_id FROM keepq GROUP BY md5(text)),
    dedup AS (SELECT k.* FROM keepq k JOIN canon USING (doc_id)),
    bgrams AS (
      SELECT DISTINCT g AS shingle FROM (
        SELECT unnest(list_distinct(list_transform(
                 range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')
               ))) AS g
        FROM bench
      ) AS t
    ),
    dgrams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(0, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
               i -> array_to_string(string_split(text, ' ')[i+1:i+3], ' ')
             ))) AS shingle
      FROM dedup
    ),
    hits AS (
      SELECT d.doc_id FROM dgrams d JOIN bgrams b ON d.shingle = b.shingle
      GROUP BY d.doc_id
    ),
    decon AS (
      SELECT * FROM dedup WHERE doc_id NOT IN (SELECT doc_id FROM hits)
    )
    SELECT
      CASE
        WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) < '{_T_TRAIN}'
          THEN 'train'
        WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8) < '{_T_VAL}'
          THEN 'val'
        ELSE 'test'
      END AS split,
      lang,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
    FROM decon
    GROUP BY 1, 2
    """,
    doc="End-to-end corpus preparation: quality filter (>=0.5) -> exact "
    "dedup (canonical doc per text hash) -> benchmark decontamination "
    "(3-gram) -> train/val/test assignment -> per-(split, lang) doc and "
    "token tallies.  Every stage is an already-proven operator; this row "
    "proves their composition.",
)
def ext_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.dedup import exact_dedup_groups
    from ..ext.text import quality_score

    d = load_tables(spark, sf_dir, "documents")["documents"]
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    keep_ids = (
        quality_score(corpus, "doc_id", "text")
        .filter(F.col("quality") >= 0.5)
        .select("doc_id")
    )
    keepq = corpus.join(keep_ids, "doc_id", "left_semi")
    canon = exact_dedup_groups(keepq, "doc_id", "text").select(
        F.col("canonical_id").alias("doc_id")
    )
    dedup = keepq.join(canon, "doc_id", "left_semi")
    decon = decontaminate(dedup, bench, "doc_id", "text", n=3)
    final = train_val_test_split(decon, "doc_id", (0.8, 0.1, 0.1), seed="split")
    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    return final.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(toks).alias("total_tokens"),
    )


@register(
    "ext_temperature_mixture",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
      FROM documents
    ),
    n AS (SELECT source, CAST(SUM(nt) AS DOUBLE) AS n FROM toks GROUP BY source),
    agg AS (
      SELECT SUM(sqrt(n) ORDER BY source) AS wsum, SUM(n) AS t FROM n
    ),
    e AS (SELECT source, (sqrt(n) / wsum) * t / n AS e FROM n, agg),
    cfg AS (
      SELECT source, CAST(floor(e) AS INTEGER) AS fl,
             CASE WHEN CAST(round((e - floor(e)) * 4294967296.0) AS BIGINT)
                       >= 4294967296
                  THEN 'g'
                  ELSE lower(lpad(to_hex(CAST(round((e - floor(e))
                       * 4294967296.0) AS BIGINT)), 8, '0'))
             END AS thr
      FROM e
    ),
    c AS (
      SELECT t.doc_id, t.source,
             cfg.fl + (CASE WHEN substr(md5(CAST(t.doc_id AS VARCHAR)
                            || ':temp'), 1, 8) < cfg.thr
                       THEN 1 ELSE 0 END) AS n_copies
      FROM toks t JOIN cfg USING (source)
    )
    SELECT doc_id, source,
           CAST(unnest(range(1, n_copies + 1)) AS INTEGER) AS copy_idx
    FROM c WHERE n_copies > 0
    """,
    doc="Temperature-weighted source mixing (p_i ∝ n_i^0.5, the "
    "standard multilingual flattening recipe): per-source token totals "
    "-> epoch factors -> hash-gated fractional copies, all derived "
    "from the data.  alpha=0.5 runs through sqrt (correctly rounded in "
    "IEEE 754) and the weight sum accumulates in sorted-source order "
    "on both engines, so the double arithmetic — and therefore every "
    "copy decision — replays bit-for-bit in the oracle.",
)
def ext_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import temperature_mixture

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("nt"),
    )
    return temperature_mixture(
        toks, "doc_id", "source", "nt", alpha=0.5, seed="temp"
    ).select("doc_id", "source", "copy_idx")


# Fixed BPE merge table for the tokenizer catalog rows: trained once
# with train_bpe(word_frequencies(sf0.001 documents), num_merges=60)
# and embedded as a literal so the oracle SQL (generated from the SAME
# list) is static.  59 merges — training stops early when no pair
# repeats.  Catalog rows must be pure functions of (sf_dir, code);
# re-training at query time would bake the training data into the
# oracle string, which registration-time SQL cannot express.
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", ">"), ("n", ">"), ("o", "r"), ("t", ">"),
    ("er", ">"), ("o", "w"), ("ow", ">"), ("l", "u"), ("i", "n"),
    ("y", ">"), ("a", "r"), ("p", "ar"), ("g", ">"), ("a", "s"),
    ("h", ">"), ("a", ">"), ("s", "t"), ("a", "t"), ("a", "n>"),
    ("c", "an>"), ("s", "can>"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n>"), ("d", "ow>"), ("in", "dow>"),
    ("w", "indow>"), ("d", "er>"), ("or", "der>"), ("or", "t>"),
    ("s", "ort>"), ("p", ">"), ("par", "t>"), ("u", "p>"),
    ("a", "g"), ("ag", "g>"), ("a", "lu"), ("alu", "e>"),
    ("v", "alue>"), ("in", "e>"), ("l", "ine>"), ("e", "y>"),
    ("k", "ey>"), ("i", "n>"), ("j", "o"), ("jo", "in>"),
    ("er", "g"), ("erg", "e>"), ("m", "erge>"), ("er", "y>"),
    ("g", "r"), ("gr", "o"), ("gro", "up>"), ("q", "u"),
    ("qu", "ery>"), ("c", "t"), ("ct", "or"), ("ctor", ">"),
]


@register(
    "ext_bpe_token_counts",
    oracle=f"""
    SELECT doc_id, {bpe_token_count_sql(_BPE_MERGES)} AS n_tokens
    FROM documents
    """,
    doc="Real BPE tokenization under the hash gate: the 59-merge table "
    "(trained on the fixture corpus, embedded as a literal) applied as "
    "a pure-JVM literal-replace chain; the oracle replays the IDENTICAL "
    "chain as ANSI replace() calls generated from the same merge list "
    "(ext/bpe.py::bpe_token_count_sql).",
)
def ext_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.bpe import bpe_token_counts

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return bpe_token_counts(d, _BPE_MERGES)


@register(
    "ext_bpe_encode_ids",
    oracle=f"""
    SELECT doc_id,
           {bpe_token_ids_sql(_BPE_MERGES)} AS token_ids,
           {bpe_token_count_sql(_BPE_MERGES)} AS n_tokens
    FROM documents
    """,
    doc="BPE id encoding (the shard-export form): tokens mapped through "
    "the deterministic 37+59-entry vocab as one literal map expression "
    "(codegen, no join); ids comma-joined so the oracle compare is "
    "array-free.  DuckDB twin generates the token→id CASE from the "
    "same bpe_vocab table.",
)
def ext_bpe_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.bpe import bpe_encode_ids

    d = load_tables(spark, sf_dir, "documents")["documents"]
    enc = bpe_encode_ids(d, _BPE_MERGES)
    return enc.select(
        "doc_id",
        F.concat_ws(
            ",", F.transform(F.col("token_ids"), lambda x: x.cast("string"))
        ).alias("token_ids"),
        "n_tokens",
    )


@register(
    "ext_pack_nextfit",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             doc_id // 128 AS grp
      FROM documents
    ),
    docs AS (
      SELECT doc_id, n_ws_tokens, grp,
             row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
      FROM toks
    ),
    pack AS (
      SELECT grp, rn, doc_id, n_ws_tokens,
             CAST(0 AS BIGINT) AS bin, n_ws_tokens AS load
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.grp, d.rn, d.doc_id, d.n_ws_tokens,
             CASE WHEN p.load + d.n_ws_tokens > 512 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.load + d.n_ws_tokens > 512
                  THEN d.n_ws_tokens ELSE p.load + d.n_ws_tokens END
      FROM pack p JOIN docs d ON d.grp = p.grp AND d.rn = p.rn + 1
    )
    SELECT doc_id, n_ws_tokens, grp * 4294967296 + bin AS bin_id FROM pack
    """,
    doc="Next-fit sequence packing (budget 512 ws-tokens, id-range groups "
    "of 128); the oracle replays the fold as a recursive CTE.",
)
def ext_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = token_counts(d, "doc_id", "text").select("doc_id", "n_ws_tokens")
    return pack_next_fit(toks, "doc_id", "n_ws_tokens", budget=512, group_span=128)


@register(
    "ext_pack_bins",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
             doc_id // 128 AS grp
      FROM documents
    ),
    docs AS (
      SELECT doc_id, n_ws_tokens, grp,
             row_number() OVER (PARTITION BY grp ORDER BY doc_id) AS rn
      FROM toks
    ),
    pack AS (
      SELECT grp, rn, doc_id, n_ws_tokens,
             CAST(0 AS BIGINT) AS bin, n_ws_tokens AS load
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.grp, d.rn, d.doc_id, d.n_ws_tokens,
             CASE WHEN p.load + d.n_ws_tokens > 512 THEN p.bin + 1 ELSE p.bin END,
             CASE WHEN p.load + d.n_ws_tokens > 512
                  THEN d.n_ws_tokens ELSE p.load + d.n_ws_tokens END
      FROM pack p JOIN docs d ON d.grp = p.grp AND d.rn = p.rn + 1
    )
    SELECT grp * 4294967296 + bin AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_ws_tokens) AS BIGINT) AS bin_tokens
    FROM pack GROUP BY 1
    """,
    doc="Per-bin fill statistics of the next-fit packing — proves "
    "bin_summary and the budget invariant under the same oracle.",
)
def ext_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.packing import bin_summary

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = token_counts(d, "doc_id", "text").select("doc_id", "n_ws_tokens")
    packed = pack_next_fit(toks, "doc_id", "n_ws_tokens", budget=512, group_span=128)
    return bin_summary(packed, "n_ws_tokens")


@register(
    "ext_bigram_logprob",
    oracle="""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || chr(31) || w[i+1])) AS bg
      FROM ws
    ),
    bc AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
    cc AS (SELECT string_split(bg, chr(31))[1] AS w1, SUM(c2) AS c1
           FROM bc GROUP BY 1),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM bc),
    sc AS (SELECT bg, ln((c2 + 0.5) / (c1 + 0.5 * v)) AS lp
           FROM bc JOIN cc ON string_split(bg, chr(31))[1] = w1, v)
    SELECT doc_id, ROUND(AVG(lp), 4) AS mean_bigram_logprob
    FROM bi JOIN sc USING (bg)
    GROUP BY doc_id
    """,
    doc="Add-k-smoothed bigram LM fluency signal: mean conditional "
    "log-probability per document under the corpus's own transitions "
    "(the step from the unigram perplexity proxy toward KenLM).",
)
def ext_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.text import bigram_logprob

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return bigram_logprob(d, "doc_id", "text", k=0.5)


@register(
    "ext_source_cap",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':cap'), 1, 8),
                        doc_id) AS rn
      FROM documents
    )
    SELECT doc_id, source FROM ranked WHERE rn <= 7
    """,
    doc="FineWeb-style per-domain cap: at most N documents per source, "
    "selected by deterministic hash order so the cap is reproducible "
    "and unbiased by document content.",
)
def ext_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import per_group_cap

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return per_group_cap(d, "doc_id", "source", cap=7, seed="cap").select(
        "doc_id", "source"
    )


@register(
    "ext_blocklist_filter",
    oracle="""
    WITH hits AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '),
                         t -> list_contains(['bug', 'slow', 'spark'], t)) AS h
      FROM documents
    )
    SELECT doc_id,
           CAST(len(h) AS BIGINT) AS n_hits,
           CAST(len(list_distinct(h)) AS BIGINT) AS n_distinct_hits,
           len(h) <= 2 AS keep
    FROM hits
    """,
    doc="UT1/LDNOOBW-style blocklist screen: token-exact hit counts per "
    "document plus the keep decision, as one zero-shuffle projection.",
)
def ext_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.scrub import blocklist_filter

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return blocklist_filter(
        d, "doc_id", "text", blocklist=["bug", "slow", "spark"], max_hits=2
    )


@register(
    "ext_bm25_topk",
    oracle="""
    WITH q AS (
      SELECT doc_id AS qid,
             array_to_string(string_split(text, ' ')[3:8], ' ') AS qtext
      FROM documents WHERE doc_id % 97 = 0
    ),
    postings AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
             t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      GROUP BY doc_id, dl, term
    ),
    scalars AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
      FROM documents
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term),
    qterms AS (
      SELECT DISTINCT qid, t AS term
      FROM q, unnest(string_split(qtext, ' ')) AS u(t)
    ),
    qstats AS (
      SELECT qid, term, df, n_docs, avgdl
      FROM dfreq JOIN qterms USING (term), scalars
      WHERE df <= n_docs * 0.85
    ),
    scored AS (
      SELECT qid, doc_id,
             ROUND(SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM postings JOIN qstats USING (term)
      GROUP BY qid, doc_id
    ),
    ranked AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rank,
             score
      FROM scored
    )
    SELECT qid, doc_id, CAST(rank AS BIGINT) AS rank, score
    FROM ranked WHERE rank <= 10
    """,
    doc="BM25 top-10 per query over the postings aggregate: query terms "
    "broadcast into the term-stats join, stopword-frequency terms "
    "pruned (df cap), deterministic rounded-score ranking.",
)
def ext_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.retrieval import bm25_topk

    d = load_tables(spark, sf_dir, "documents")["documents"]
    q = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("qid"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 3, 6)).alias(
            "qtext"
        ),
    )
    # The synthetic corpus has a ~31-word vocabulary with df between 5%
    # and 80% of documents — a 0.5 cap would prune EVERY query term and
    # the row would pass vacuously on zero rows.  0.85 keeps the tiny-
    # vocab terms scoreable while the pruning path stays pytest-proven.
    return bm25_topk(
        d, q, "doc_id", "text", "qid", "qtext",
        k=10, k1=1.2, b=0.75, max_df_fraction=0.85,
    )


@register(
    "ext_tfidf_top_terms",
    oracle="""
    WITH postings AS (
      SELECT doc_id, t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      GROUP BY doc_id, term
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term),
    scored AS (
      SELECT doc_id, term,
             ROUND(tf * ln((1.0 + n_docs) / (1.0 + df)), 4) AS tfidf
      FROM postings JOIN dfreq USING (term), nd
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored
    )
    SELECT doc_id, CAST(rank AS BIGINT) AS rank, term, tfidf
    FROM ranked WHERE rank <= 3
    """,
    doc="Per-document top-3 TF-IDF keywords: postings + df join-back + "
    "a per-doc window (never global), deterministic tie-break on term.",
)
def ext_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.retrieval import tfidf_top_terms

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return tfidf_top_terms(d, "doc_id", "text", k=3)


@register(
    "ext_pmi_collocations",
    oracle="""
    WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
    bi AS (
      SELECT unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || chr(31) || w[i+1])) AS bg
      FROM ws
    ),
    bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY bg),
    lm AS (SELECT string_split(bg, chr(31))[1] AS w1, SUM(c12) AS c1
           FROM bc GROUP BY 1),
    rm AS (SELECT string_split(bg, chr(31))[2] AS w2, SUM(c12) AS c2
           FROM bc GROUP BY 1),
    tot AS (SELECT CAST(SUM(c12) AS DOUBLE) AS b FROM bc),
    out AS (
      SELECT string_split(bg, chr(31))[1] AS word1,
             string_split(bg, chr(31))[2] AS word2,
             c12 AS pair_count,
             ROUND(ln(c12 * b / (c1 * c2)), 4) AS pmi
      FROM bc
      JOIN lm ON string_split(bg, chr(31))[1] = w1
      JOIN rm ON string_split(bg, chr(31))[2] = w2, tot
      WHERE c12 >= 5
    )
    SELECT word1, word2, pair_count, pmi FROM out WHERE pmi >= 0.02
    """,
    doc="PMI collocation mining over the shared bigram-count aggregate; "
    "count + PMI thresholds instead of a tie-prone global top-N.",
)
def ext_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.text import pmi_collocations

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return pmi_collocations(d, "doc_id", "text", min_count=5, min_pmi=0.02)


@register(
    "ext_weighted_sample",
    oracle="""
    WITH pri AS (
      SELECT doc_id, lang,
             ln((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'),
                                 1, 8))::BIGINT + 1.0) / 4294967296.0)
             / n_chars AS p
      FROM documents WHERE n_chars > 0
    ),
    ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY p DESC, doc_id) AS rn
      FROM pri
    )
    SELECT doc_id, lang FROM ranked WHERE rn <= 20
    """,
    doc="Weighted sampling without replacement (Efraimidis-Spirakis on "
    "deterministic hash draws): 20 docs per language, selection "
    "probability proportional to n_chars — the quality-weighted "
    "corpus-selection primitive, reproducible across engines.",
)
def ext_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.sampling import weighted_group_sample

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return weighted_group_sample(
        d, "doc_id", "lang", "n_chars", k=20, seed="wsample"
    ).select("doc_id", "lang")


@register(
    "ext_embed_decontam",
    oracle="""
    WITH bench AS (
      SELECT embedding::DOUBLE[] AS vb FROM embeddings WHERE label = 0
    ),
    corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS vc FROM embeddings WHERE label <> 0
    ),
    scored AS (
      SELECT vec_id,
             ROUND(MAX(list_dot_product(vc, vb)
                       / (sqrt(list_dot_product(vc, vc))
                          * sqrt(list_dot_product(vb, vb)))), 4)
               AS max_bench_cosine
      FROM corpus, bench
      GROUP BY vec_id
    )
    SELECT vec_id, max_bench_cosine,
           max_bench_cosine >= 0.35 AS contaminated
    FROM scored
    """,
    doc="Embedding-space decontamination: corpus vectors' max cosine to "
    "the broadcast benchmark set (label 0), flagged at the threshold — "
    "the semantic companion to the n-gram overlap screen (MAX over "
    "exact per-pair doubles is order-insensitive, so fully hash-checkable).",
)
def ext_embed_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.decontam import embedding_decontaminate

    e = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return embedding_decontaminate(
        e.filter(F.col("label") != 0),
        e.filter(F.col("label") == 0),
        "vec_id",
        "embedding",
        threshold=0.35,
    )


@register(
    "ext_psi_drift",
    oracle="""
    WITH base AS (
      SELECT source AS s, CAST(n_chars AS DOUBLE) AS v FROM documents
    ),
    edges AS (
      SELECT quantile_cont(v, [0.25, 0.5, 0.75]) AS e FROM base WHERE s = 'src0'
    ),
    binned AS (
      SELECT s, len(list_filter((SELECT e FROM edges), x -> v >= x)) AS bin,
             COUNT(*) AS c
      FROM base GROUP BY 1, 2
    ),
    grid AS (
      SELECT DISTINCT base.s, b.bin
      FROM base, (SELECT UNNEST(range(4)) AS bin) b
    ),
    cells AS (
      SELECT g.s, g.bin, COALESCE(binned.c, 0) AS c
      FROM grid g LEFT JOIN binned ON g.s = binned.s AND g.bin = binned.bin
    ),
    shares AS (
      SELECT s, bin, c,
             (c + 0.5) / (SUM(c) OVER (PARTITION BY s) + 2.0) AS p
      FROM cells
    ),
    ref AS (SELECT bin, p AS pr FROM shares WHERE s = 'src0')
    SELECT s AS source, CAST(SUM(c) AS BIGINT) AS n_docs,
           ROUND(SUM((p - pr) * ln(p / pr)), 4) AS psi
    FROM shares JOIN ref USING (bin) WHERE s <> 'src0' GROUP BY s
    """,
    doc="Population Stability Index of n_chars per source vs src0: "
    "reference-quantile bins, dense grid, add-half smoothing.",
)
def ext_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.drift import psi_drift

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return psi_drift(d, "source", "n_chars", "src0", n_bins=4)


@register(
    "ext_ks_drift",
    oracle="""
    WITH base AS (
      SELECT source AS s, CAST(n_chars AS DOUBLE) AS v FROM documents
    ),
    cand AS (SELECT * FROM base WHERE s <> 'src0'),
    refv AS (SELECT v FROM base WHERE s = 'src0'),
    strata AS (SELECT DISTINCT s FROM cand),
    merged AS (
      SELECT s, v, SUM(ic) AS c, SUM(ir) AS r FROM (
        SELECT s, v, 1 AS ic, 0 AS ir FROM cand
        UNION ALL
        SELECT strata.s, refv.v, 0, 1 FROM strata, refv
      ) GROUP BY 1, 2
    ),
    ecdf AS (
      SELECT s,
             SUM(c) OVER (PARTITION BY s ORDER BY v) * 1.0
               / SUM(c) OVER (PARTITION BY s) AS ec,
             SUM(r) OVER (PARTITION BY s ORDER BY v) * 1.0
               / SUM(r) OVER (PARTITION BY s) AS er,
             SUM(c) OVER (PARTITION BY s) AS nc,
             SUM(r) OVER (PARTITION BY s) AS nr
      FROM merged
    )
    SELECT s AS source, CAST(MAX(nc) AS BIGINT) AS n_cand,
           CAST(MAX(nr) AS BIGINT) AS n_ref,
           ROUND(MAX(ABS(ec - er)), 4) AS ks
    FROM ecdf GROUP BY s
    """,
    doc="Two-sample Kolmogorov-Smirnov statistic of n_chars per source "
    "vs src0 (tie-safe ECDF over per-value mass).",
)
def ext_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.drift import ks_statistic

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return ks_statistic(d, "source", "n_chars", "src0")


@register(
    "ext_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS token FROM documents
    )
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM toks GROUP BY token
    HAVING COUNT(*) * 30 > (SELECT COUNT(*) FROM toks)
    """,
    doc="Tokens with exact global frequency > n/30 via the Misra-Gries "
    "screen + exact re-count two-pass (final answer identical to the "
    "full groupBy — only the WORK is approximate).",
)
def ext_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.heavy import heavy_hitters

    d = load_tables(spark, sf_dir, "documents")["documents"]
    toks = d.select(F.explode(F.split("text", " ")).alias("token"))
    return heavy_hitters(toks, "token", 30)


@register(
    "ext_jsd_drift",
    oracle="""
    WITH counts AS (
      SELECT source AS s, lang AS c, COUNT(*) AS n FROM documents GROUP BY 1, 2
    ),
    grid AS (
      SELECT st.s, ca.c
      FROM (SELECT DISTINCT s FROM counts) st, (SELECT DISTINCT c FROM counts) ca
    ),
    cells AS (
      SELECT g.s, g.c, COALESCE(counts.n, 0) AS n
      FROM grid g LEFT JOIN counts ON g.s = counts.s AND g.c = counts.c
    ),
    shares AS (
      SELECT s, c, n, n * 1.0 / SUM(n) OVER (PARTITION BY s) AS p FROM cells
    ),
    ref AS (SELECT c, p AS q FROM shares WHERE s = 'src0'),
    paired AS (
      SELECT shares.s, shares.n, shares.p, ref.q, (shares.p + ref.q) / 2 AS m
      FROM shares JOIN ref USING (c) WHERE shares.s <> 'src0'
    )
    SELECT s AS source, CAST(SUM(n) AS BIGINT) AS n_docs,
           ROUND(SUM(0.5 * (CASE WHEN p > 0 THEN p * ln(p / m) ELSE 0 END)
                   + 0.5 * (CASE WHEN q > 0 THEN q * ln(q / m) ELSE 0 END)), 4)
             AS jsd
    FROM paired GROUP BY s
    """,
    doc="Jensen-Shannon divergence of the language mix per source vs "
    "src0 — the categorical sibling of ext_psi_drift (finite on "
    "disjoint supports, no smoothing needed).",
)
def ext_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.drift import jsd_drift

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return jsd_drift(d, "source", "lang", "src0")


_LOGREG_XY_SQL = """
  SELECT len(string_split(text, ' ')) / 100.0 AS x1,
         (n_chars / (len(string_split(text, ' ')) * 1.0)) / 10.0 AS x2,
         CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y
  FROM documents
"""


def _logreg_oracle() -> str:
    from ..ext.mlfit import logreg_oracle_sql

    return logreg_oracle_sql(_LOGREG_XY_SQL, n_features=2, steps=8, lr=2.0)


@register(
    "ext_logreg_quality",
    oracle=_logreg_oracle(),
    doc="Distributed logistic-regression training (8 full-batch GD "
    "steps, one aggregation each, weights on a 1e-8 decimal grid like "
    "the PageRank iteration), distilling the n_chars>=300 quality rule "
    "into a smooth scorer over word count + chars-per-word (the "
    "filter-distillation shape: mimic a heuristic screen with a "
    "calibrated model); the row returns the confusion matrix + "
    "accuracy + learned weights, hash-checked against an unrolled "
    "chained-CTE DuckDB replay.",
)
def ext_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.mlfit import logreg_fit, logreg_metrics

    d = load_tables(spark, sf_dir, "documents")["documents"]
    n_words = F.size(F.split("text", " "))
    feats = d.select(
        (n_words / F.lit(100.0)).alias("x1"),
        ((F.col("n_chars") / (n_words * F.lit(1.0))) / F.lit(10.0)).alias("x2"),
        F.when(F.col("n_chars") >= 300, 1.0).otherwise(0.0).alias("y"),
    )
    w = logreg_fit(feats, ["x1", "x2"], "y", steps=8, lr=2.0)
    return logreg_metrics(feats, ["x1", "x2"], "y", w)


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023) — r10

_DSIR_WEIGHTS_CTES = """
    toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, lang, g
      FROM toks, unnest(list_concat(
          w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
      )) AS u(g)
    ),
    bucketed AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(g || ':dsir'), 1, 8))::BIGINT) % 64 AS bucket
      FROM grams
    ),
    doc_counts AS (
      SELECT doc_id, lang, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bucketed GROUP BY 1, 2, 3
    ),
    raw AS (SELECT bucket, SUM(cnt) AS rc FROM doc_counts GROUP BY 1),
    tgt AS (SELECT bucket, SUM(cnt) AS tc FROM doc_counts
            WHERE lang = 'en' GROUP BY 1),
    rt AS (SELECT SUM(rc) AS rtot FROM raw),
    tt AS (SELECT SUM(tc) AS ttot FROM tgt),
    ratios AS (
      SELECT COALESCE(r.bucket, t.bucket) AS bucket,
             CAST(ROUND((ln((COALESCE(tc, 0) + 1.0) / (ttot + 1.0 * 64))
                       - ln((COALESCE(rc, 0) + 1.0) / (rtot + 1.0 * 64)))
                  * 1e6) AS BIGINT) AS ratio_micro
      FROM raw r FULL JOIN tgt t USING (bucket), rt, tt
    ),
    weights AS (
      SELECT doc_id, CAST(SUM(cnt * ratio_micro) AS BIGINT) AS logw_micro
      FROM doc_counts JOIN ratios USING (bucket)
      GROUP BY doc_id
    )
"""


@register(
    "ext_dsir_weights",
    oracle="WITH" + _DSIR_WEIGHTS_CTES + """
    SELECT doc_id, logw_micro FROM weights
    """,
    doc="DSIR importance log-weights (Xie et al. 2023, arXiv:2302.03169): "
    "hashed uni+bigram bucket features (md5 mod 64), add-1-smoothed "
    "target (lang='en') vs raw bucket models, per-doc weight as the "
    "exact integer dot product against the 1e-6-grid log-ratio table — "
    "the bucket models are <=B rows and broadcast; the one data-sized "
    "shuffle keys on (doc, bucket).",
)
def ext_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.dsir import dsir_weights

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return dsir_weights(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text",
        num_buckets=64, alpha=1.0, seed="dsir",
    )


@register(
    "ext_dsir_resample",
    oracle="WITH" + _DSIR_WEIGHTS_CTES + """,
    keyed AS (
      SELECT doc_id, logw_micro,
             logw_micro + CAST(ROUND(-ln(-ln(
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':dsir-g'),
                              1, 8))::BIGINT + 1.0) / 4294967297.0
             )) * 1e6) AS BIGINT) AS key_micro
      FROM weights
    )
    SELECT doc_id, logw_micro, key_micro
    FROM keyed ORDER BY key_micro DESC, doc_id LIMIT 100
    """,
    doc="DSIR Gumbel top-k resample: 100 docs without replacement with "
    "probability proportional to softmax(log w), the Gumbel draw a pure "
    "function of md5(id ':' seed) so both engines select the identical "
    "set; Spark plans TakeOrderedAndProject (per-partition partial "
    "top-k), never a single-partition window.",
)
def ext_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.dsir import dsir_select

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return dsir_select(
        d, d.filter(F.col("lang") == "en"), "doc_id", "text",
        k=100, num_buckets=64, alpha=1.0, seed="dsir",
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: Reciprocal Rank Fusion of BM25 + dense cosine — r10

@register(
    "ext_hybrid_rrf",
    oracle="""
    WITH q AS (
      SELECT doc_id AS qid,
             array_to_string(string_split(text, ' ')[3:8], ' ') AS qtext
      FROM documents WHERE doc_id % 97 = 0
    ),
    postings AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl,
             t AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM documents, unnest(string_split(text, ' ')) AS u(t)
      GROUP BY doc_id, dl, term
    ),
    scalars AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl
      FROM documents
    ),
    dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings GROUP BY term),
    qterms AS (
      SELECT DISTINCT qid, t AS term
      FROM q, unnest(string_split(qtext, ' ')) AS u(t)
    ),
    qstats AS (
      SELECT qid, term, df, n_docs, avgdl
      FROM dfreq JOIN qterms USING (term), scalars
      WHERE df <= n_docs * 0.85
    ),
    bm25 AS (
      SELECT qid, doc_id,
             ROUND(SUM(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
             ), 4) AS score
      FROM postings JOIN qstats USING (term)
      GROUP BY qid, doc_id
    ),
    sparse_ranked AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY score DESC, doc_id) AS rank
      FROM bm25
    ),
    qv AS (
      SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
      FROM embeddings WHERE vec_id % 97 = 0
    ),
    cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS cvec FROM embeddings),
    dense_scored AS (
      SELECT qid, doc_id,
             ROUND(list_dot_product(cvec, qvec)
                   / (sqrt(list_dot_product(cvec, cvec))
                      * sqrt(list_dot_product(qvec, qvec))), 4) AS cosine
      FROM cv CROSS JOIN qv
      WHERE doc_id <> qid
    ),
    dense_ranked AS (
      SELECT qid, doc_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cosine DESC, doc_id) AS rank
      FROM dense_scored
    ),
    unioned AS (
      SELECT qid, doc_id, rank FROM sparse_ranked WHERE rank <= 10
      UNION ALL
      SELECT qid, doc_id, rank FROM dense_ranked WHERE rank <= 10
    ),
    fused AS (
      SELECT qid, doc_id,
             CAST(SUM(CAST(ROUND(1000000.0 / (60 + rank)) AS BIGINT)) AS BIGINT)
               AS rrf_micro,
             CAST(COUNT(*) AS BIGINT) AS n_lists
      FROM unioned GROUP BY qid, doc_id
    )
    SELECT qid, doc_id, rrf_micro, n_lists
    FROM fused
    QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
                               ORDER BY rrf_micro DESC, doc_id) <= 5
    """,
    doc="Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al. "
    "2009): BM25 lexical top-10 and exact dense-cosine top-10 (the "
    "documents and embeddings tables are id-aligned) fused as "
    "sum(round(1e6/(60+rank))) — an order-independent integer, so the "
    "whole two-retriever pipeline replays in DuckDB; only ranks cross "
    "the lexical/dense boundary, never incommensurable scores.",
)
def ext_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from ..ext.retrieval import bm25_topk, rrf_fuse
    from ..ext.similarity import cosine_topk_arrow

    t = load_tables(spark, sf_dir, "documents", "embeddings")
    d, e = t["documents"], t["embeddings"]
    q = d.filter(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("qid"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 3, 6)).alias("qtext"),
    )
    sparse = bm25_topk(
        d, q, "doc_id", "text", "qid", "qtext",
        k=10, k1=1.2, b=0.75, max_df_fraction=0.85,
    ).select("qid", "doc_id", "rank")
    dense_scores = cosine_topk_arrow(
        e, e.filter(F.col("vec_id") % 97 == 0), "vec_id", "embedding", k=10
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    dense = dense_scores.select(
        F.col("query_id").alias("qid"),
        F.col("neighbor_id").alias("doc_id"),
        F.row_number().over(w).alias("rank"),
    )
    return rrf_fuse([sparse, dense], "qid", "doc_id", "rank", k=60, topk=5)


@register(
    "ext_incremental_dsir",
    oracle="""
    WITH toks AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
    grams AS (
      SELECT doc_id, lang, g
      FROM toks, unnest(list_concat(
          w, list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
      )) AS u(g)
    ),
    bucketed AS (
      SELECT doc_id, lang,
             (('0x' || substr(md5(g || ':dsir'), 1, 8))::BIGINT) % 64 AS bucket
      FROM grams
    ),
    doc_counts AS (
      SELECT doc_id, lang, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM bucketed GROUP BY 1, 2, 3
    ),
    raw AS (SELECT bucket, SUM(cnt) AS rc FROM doc_counts GROUP BY 1),
    tgt AS (SELECT bucket, SUM(cnt) AS tc FROM doc_counts
            WHERE lang = 'en' AND doc_id % 2 = 0 GROUP BY 1),
    rt AS (SELECT SUM(rc) AS rtot FROM raw),
    tt AS (SELECT SUM(tc) AS ttot FROM tgt),
    ratios AS (
      SELECT COALESCE(r.bucket, t.bucket) AS bucket,
             CAST(ROUND((ln((COALESCE(tc, 0) + 1.0) / (ttot + 1.0 * 64))
                       - ln((COALESCE(rc, 0) + 1.0) / (rtot + 1.0 * 64)))
                  * 1e6) AS BIGINT) AS ratio_micro
      FROM raw r FULL JOIN tgt t USING (bucket), rt, tt
    )
    SELECT doc_id, CAST(SUM(cnt * ratio_micro) AS BIGINT) AS logw_micro
    FROM doc_counts JOIN ratios USING (bucket)
    WHERE doc_id % 2 = 1
    GROUP BY doc_id
    """,
    doc="Continuous-crawl DSIR (two-batch replay): batch 1 (even "
    "doc_ids) bootstraps the persisted raw bucket model and the FROZEN "
    "target model (its en docs); batch 2 (odd doc_ids) folds its own "
    "bucket counts into the raw model and scores ONLY itself against "
    "the updated ratios — O(batch) per increment, historical text never "
    "re-read, models <=B rows.  The oracle's raw model over ALL docs is "
    "exactly the post-fold state, so the incremental path is proven "
    "equal to a full-corpus scoring with the same frozen target.",
)
def ext_incremental_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.dsir import dsir_model_counts, incremental_dsir_weights

    d = load_tables(spark, sf_dir, "documents")["documents"]
    even = d.filter(F.col("doc_id") % 2 == 0)
    odd = d.filter(F.col("doc_id") % 2 == 1)
    raw_model = dsir_model_counts(even, "doc_id", "text", num_buckets=64)
    target_model = dsir_model_counts(
        even.filter(F.col("lang") == "en"), "doc_id", "text", num_buckets=64
    )
    w, _updated = incremental_dsir_weights(
        odd, raw_model, target_model, "doc_id", "text",
        num_buckets=64, alpha=1.0, seed="dsir",
    )
    return w


@register(
    "ext_ccnet_buckets",
    oracle="""
    WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(w)),
                                   i -> w[i] || chr(31) || w[i+1])) AS bg
      FROM ws
    ),
    bc AS (SELECT bg, COUNT(*) AS c2 FROM bi GROUP BY bg),
    cc AS (SELECT string_split(bg, chr(31))[1] AS w1, SUM(c2) AS c1
           FROM bc GROUP BY 1),
    v AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM bc),
    sc AS (SELECT bg, ln((c2 + 0.5) / (c1 + 0.5 * v)) AS lp
           FROM bc JOIN cc ON string_split(bg, chr(31))[1] = w1, v),
    scored AS (
      SELECT doc_id, ROUND(AVG(lp), 4) AS mean_bigram_logprob
      FROM bi JOIN sc USING (bg)
      GROUP BY doc_id
    ),
    th AS (
      SELECT quantile_cont(mean_bigram_logprob, 0.25) AS lo,
             quantile_cont(mean_bigram_logprob, 0.75) AS hi
      FROM scored
    )
    SELECT doc_id, mean_bigram_logprob,
           CASE WHEN mean_bigram_logprob >= hi THEN 'head'
                WHEN mean_bigram_logprob >= lo THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored, th
    """,
    doc="CCNet-style head/middle/tail corpus split (Wenzek et al. "
    "2020) by bigram-LM fluency: exact quantile thresholds at the "
    "binary-exact (0.25, 0.75) cuts broadcast as one row; higher "
    "log-probability = lower perplexity = head.  At 100 TB swap the "
    "threshold pass for approx_percentile (same call shape).",
)
def ext_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..ext.text import perplexity_buckets

    d = load_tables(spark, sf_dir, "documents")["documents"]
    return perplexity_buckets(d, "doc_id", "text", k=0.5)
