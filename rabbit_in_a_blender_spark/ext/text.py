"""Text-analysis operators: stats, token counts, language ID heuristic,
document fingerprinting.  All JVM-side expressions (no UDFs).

Scale: every operator here is a narrow map over the documents table —
no shuffle at all; reads prune to (id, text) columns only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.caching import local_frame

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deterministic and oracle-expressible; swap for fastText/CLD3 offline
# models via a pandas_udf where accuracy matters.
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "to"],
    "de": ["der", "und", "die", "das", "ein"],
    "fr": ["le", "la", "et", "les", "des"],
    "es": ["el", "los", "que", "y", "una"],
}


def text_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Quality-scoring features: word count, avg word length, short-word
    ratio — the length/punctuation/stopword family of heuristics."""
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    short = F.size(F.filter(words, lambda w: F.length(w) <= 3))
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(
            (F.length(F.col(text_col)) - (n_words - 1)) / n_words, 4
        ).alias("avg_word_len"),
        F.round(short / n_words, 4).alias("short_word_ratio"),
    )


STOPWORDS_EN = ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"]


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite document-quality heuristic (Gopher/C4-style filters):
    length score, stopword ratio, punctuation density → one 0-1 score.

    All JVM-side expressions; the weights are arbitrary but fixed so the
    oracle can reproduce them bit-for-bit.
    """
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    sw = F.array(*[F.lit(w) for w in STOPWORDS_EN])
    stop_ratio = F.size(F.filter(words, lambda w: F.array_contains(sw, w))) / n_words
    punct_ratio = F.regexp_count(F.col(text_col), F.lit(r"[.,;:!?]")) / F.greatest(
        F.length(F.col(text_col)), F.lit(1)
    )
    length_score = F.least(n_words / F.lit(64.0), F.lit(1.0))
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(
            length_score * 0.4 + stop_ratio * 0.4 + (1.0 - punct_ratio) * 0.2, 4
        ).alias("quality"),
    )


def token_counts(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Regex token counting (whitespace words + BPE-ish alnum chunks)."""
    return df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_ws_tokens"),
        F.regexp_count(F.col(text_col), F.lit("[a-z0-9]+")).cast("long").alias(
            "n_alnum_tokens"
        ),
    )


def langid_heuristic(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Marker-word language scoring; argmax with deterministic tie-break
    (highest hits; ties pick the lexicographically largest language
    code); 'und' when nothing hits."""
    words = F.split(F.col(text_col), " ")

    def _marker_hits(markers: list[str]):
        # Single-arg closure: a default-arg lambda would be seen by PySpark
        # as a two-parameter (element, index) higher-order function.
        arr = F.array(*[F.lit(m) for m in markers])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))

    scores = [
        F.struct(
            _marker_hits(markers).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # Struct sort orders by (hits, lang) descending → ties break to the
    # largest language code, mirrored exactly in the oracle SQL.
    arr = F.array(*scores)
    best = F.sort_array(arr, asc=False)[0]
    return df.select(
        F.col(id_col),
        F.when(best["hits"] > 0, best["lang"]).otherwise("und").alias("predicted_lang"),
        best["hits"].cast("long").alias("marker_hits"),
    )


# Seed text per language for the char-n-gram profiles (common-word
# sentences composed for this module; the classifier only needs the
# n-gram RANK ORDER of ordinary running text, not any specific corpus).
LANG_SEED_TEXT = {
    "en": (
        "the quick brown fox jumps over the lazy dog and it was the best "
        "of times it was the worst of times all happy families are alike "
        "this is a test of the language identification system with common "
        "english words that appear in most texts and the words are chosen "
        "to be frequent in everyday writing with the usual letters"
    ),
    "de": (
        "der schnelle braune fuchs springt über den faulen hund und es war "
        "die beste aller zeiten alle glücklichen familien sind einander "
        "ähnlich dies ist ein test des systems zur erkennung der sprache "
        "mit häufigen deutschen wörtern die in den meisten texten vorkommen "
        "und die wörter sind so gewählt dass sie im alltag häufig sind"
    ),
    "fr": (
        "le rapide renard brun saute par dessus le chien paresseux et c "
        "était le meilleur des temps toutes les familles heureuses se "
        "ressemblent ceci est un test du système d identification de la "
        "langue avec des mots français courants qui apparaissent dans la "
        "plupart des textes et les mots sont choisis pour être fréquents"
    ),
    "es": (
        "el rápido zorro marrón salta sobre el perro perezoso y era el "
        "mejor de los tiempos todas las familias felices se parecen esta "
        "es una prueba del sistema de identificación del idioma con "
        "palabras españolas comunes que aparecen en la mayoría de los "
        "textos y las palabras son elegidas por ser frecuentes"
    ),
}


def _seed_char_ngrams(s: str, max_n: int = 3):
    """Char 1..max_n-grams of the normalized string (lower, spaces→_)."""
    s = s.lower().replace(" ", "_")
    for n in range(1, max_n + 1):
        for i in range(len(s) - n + 1):
            yield s[i : i + n]


def langid_profiles(top_n: int = 100, max_n: int = 3) -> dict[str, dict[str, int]]:
    """lang → {ngram: rank 1..top_n} — Cavnar-Trenkle rank profiles from
    the embedded seed text.  Ties rank by (count desc, ngram asc), the
    same comparator the per-document ranking uses, so the whole
    classifier is engine-reproducible."""
    from collections import Counter

    out: dict[str, dict[str, int]] = {}
    for lang, seed in LANG_SEED_TEXT.items():
        counts = Counter(_seed_char_ngrams(seed, max_n))
        ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:top_n]
        out[lang] = {g: r + 1 for r, (g, _) in enumerate(ranked)}
    return out


def _langid_ngram_arrow(
    t: DataFrame,
    df: DataFrame,
    id_col: str,
    top_n: int,
    max_n: int,
    profiles: dict[str, dict[str, int]],
) -> DataFrame:
    """Arrow twin of the langid_ngram core (r13 optimization round,
    guide §4.2): the expr path pays O(|text|) interpreted substring
    scans per gram (O(|text|²·n) per document — profiled as a 6.8 s
    single-task stage on the sf0.1 bench row) and shuffles a corpus ×
    ~1.5k (id, gram) explode; here the doc profile, the out-of-place
    distances against the (metadata-sized, closure-captured) language
    profiles, and the argmin all happen per document inside one
    mapInPandas pass — ZERO corpus-sized shuffle remains in the plan.

    Integer-exact parity with the expr/SQL twin: normalization
    (lower/replace/substring) stays a JVM projection so no Python
    locale semantics enter; gram slicing is by code point on both
    sides (UTF8String counts code points, so does Python str); the
    rank comparator (count desc, gram asc) compares strings
    identically (UTF-8 byte order == code-point order); distances are
    integer sums; argmin ties break to the smaller language code by
    the same string order.
    """
    import pandas as pd

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            t.schema["__id"],
            T.StructField("__lang", T.StringType()),
            T.StructField("__dist", T.LongType()),
        ]
    )
    langs = sorted(profiles)

    def classify(pdfs):
        from collections import Counter

        for pdf in pdfs:
            if not len(pdf):
                continue
            out_id, out_lang, out_dist = [], [], []
            for doc_id, s in zip(pdf["__id"], pdf["__t"]):
                if s is None:
                    continue
                counts = Counter()
                for n in range(1, max_n + 1):
                    for i in range(len(s) - n + 1):
                        counts[s[i : i + n]] += 1
                if not counts:
                    continue
                ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
                doc_rank = {
                    g: r + 1 for r, (g, _) in enumerate(ranked[:top_n])
                }
                best_lang, best_dist = None, None
                for lang in langs:
                    pm = profiles[lang]
                    dist = 0
                    for g, dr in doc_rank.items():
                        lr = pm.get(g)
                        dist += abs(dr - lr) if lr is not None else top_n
                    if best_dist is None or dist < best_dist:
                        best_lang, best_dist = lang, dist
                out_id.append(doc_id)
                out_lang.append(best_lang)
                out_dist.append(best_dist)
            yield pd.DataFrame(
                {"__id": out_id, "__lang": out_lang, "__dist": out_dist}
            )

    from ..core.parallelism import fan_out_for_compute

    best = fan_out_for_compute(t, "__id").mapInPandas(
        classify, schema=out_schema
    )
    return (
        df.select(F.col(id_col))
        .join(best, F.col(id_col) == best["__id"], "left")
        .select(
            F.col(id_col),
            F.coalesce("__lang", F.lit("und")).alias("predicted_lang"),
            F.coalesce("__dist", F.lit(-1)).cast("long").alias("oop_distance"),
        )
    )


def langid_ngram(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_n: int = 100,
    max_n: int = 3,
    max_chars: int = 512,
    method: str = "arrow",
) -> DataFrame:
    """Char-n-gram language ID (Cavnar-Trenkle out-of-place distance) —
    the accuracy upgrade over :func:`langid_heuristic` (VERDICT r7 task
    7; "N-Gram-Based Text Categorization", Cavnar & Trenkle 1994).

    Each document's top-``top_n`` char 1..3-grams (rank by count desc,
    gram asc) are compared against fixed per-language rank profiles;
    distance = Σ |doc_rank − profile_rank| with ``top_n`` penalty for
    grams absent from the profile; predicted = argmin (ties → smaller
    language code).  Everything is integer arithmetic over JVM-side
    expressions: per doc the work is O(text length + top_n·|langs|),
    no shuffle wider than (id, gram) rows — and the whole pipeline
    replays exactly in SQL, so the catalog row carries a hash oracle.

    Measured on the held-out accuracy fixtures (tests/test_ext.py):
    the marker-word heuristic misses function-word-free sentences; the
    n-gram profile classifies them from character statistics alone.

    ``max_chars`` caps the scored prefix (language is stationary within
    a document, so the first few hundred chars carry the signal): at
    corpus scale this bounds the gram explode to O(max_chars) rows per
    doc instead of O(|doc|) — the difference between a metadata-sized
    pass and re-exploding the whole corpus (measured 3.4× on the sf0.1
    bench row).

    ``method="arrow"`` (default since the r13 optimization round): the
    whole classify — doc profile, out-of-place distances, argmin —
    runs per document inside one mapInPandas pass against the
    closure-captured profiles, integer-exact to the expr/SQL twin (see
    :func:`_langid_ngram_arrow`); no corpus-sized shuffle remains.
    ``method="expr"`` keeps the pure-SQL-lineage pipeline the DuckDB
    oracle replays.
    """
    if method not in ("arrow", "expr"):
        raise ValueError(f"method must be 'arrow' or 'expr', got {method!r}")
    norm = F.substring(
        F.lower(F.regexp_replace(F.col(text_col), " ", "_")), 1, max_chars
    )
    t = df.select(F.col(id_col).alias("__id"), norm.alias("__t"))
    if method == "arrow":
        return _langid_ngram_arrow(
            t, df, id_col, top_n, max_n,
            langid_profiles(top_n=top_n, max_n=max_n),
        )
    gram_arrays = []
    for n in range(1, max_n + 1):
        gram_arrays.append(
            F.when(
                F.length("__t") >= n,
                F.expr(
                    f"transform(sequence(1, length(__t) - {n} + 1), "
                    f"i -> substring(__t, i, {n}))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        )
    grams = t.select(
        "__id", F.explode(F.concat(*gram_arrays)).alias("__g")
    )
    from pyspark.sql import Window

    wd = Window.partitionBy("__id").orderBy(F.desc("__n"), F.col("__g"))
    doc_prof = (
        grams.groupBy("__id", "__g")
        .agg(F.count(F.lit(1)).alias("__n"))
        .withColumn("__drank", F.row_number().over(wd))
        .filter(F.col("__drank") <= top_n)
        .select("__id", "__g", "__drank")
    )
    profiles = langid_profiles(top_n=top_n, max_n=max_n)
    prof_rows = [
        (lang, g, r) for lang, pm in profiles.items() for g, r in pm.items()
    ]
    spark = df.sparkSession
    prof = local_frame(spark, prof_rows, "__lang string, __g string, __lrank int")
    langs = local_frame(spark, [(lang,) for lang in sorted(profiles)], "__lang string")
    dists = (
        doc_prof.crossJoin(F.broadcast(langs))
        .join(F.broadcast(prof), ["__lang", "__g"], "left")
        .groupBy("__id", "__lang")
        .agg(
            F.sum(
                F.coalesce(
                    F.abs(F.col("__drank") - F.col("__lrank")), F.lit(top_n)
                )
            ).alias("__dist")
        )
    )
    wmin = Window.partitionBy("__id").orderBy(F.col("__dist"), F.col("__lang"))
    best = (
        dists.withColumn("__rn", F.row_number().over(wmin))
        .filter(F.col("__rn") == 1)
        .select("__id", "__lang", "__dist")
    )
    return (
        df.select(F.col(id_col))
        .join(best, F.col(id_col) == best["__id"], "left")
        .select(
            F.col(id_col),
            F.coalesce("__lang", F.lit("und")).alias("predicted_lang"),
            F.coalesce("__dist", F.lit(-1)).cast("long").alias("oop_distance"),
        )
    )


def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical text cleanup before any dedup/tokenize pass (the
    C4/Gopher-style normalize stage): strip C0 control chars (keeping
    tab/newline, which then collapse), collapse all whitespace runs to
    one space, trim, and Unicode-NFC the result.

    The strip/collapse/trim run as JVM regexes (whole-stage codegen);
    NFC has no Spark SQL builtin, so it runs as ONE Arrow-batched
    pandas_udf over the already-collapsed column — the same documented
    Python seam as ext/pca.py, O(batch) with no shuffle.  DuckDB's
    nfc_normalize implements the identical Unicode normal form, so the
    operator is oracle-checkable end-to-end.

    Returns (id, text_norm, n_chars_raw, n_chars_norm, changed).
    """
    from pyspark.sql.functions import pandas_udf

    # no annotations: `from __future__ import annotations` turns them
    # into unresolvable strings that pandas_udf's inspection rejects
    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(lambda x: unicodedata.normalize("NFC", x) if x is not None else x)

    stripped = F.regexp_replace(
        F.col(text_col), "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""
    )
    collapsed = F.trim(F.regexp_replace(stripped, "\\s+", " "))
    return df.select(
        F.col(id_col),
        F.col(text_col).alias("__raw"),
        _nfc(collapsed).alias("text_norm"),
    ).select(
        F.col(id_col),
        "text_norm",
        F.length("__raw").cast("long").alias("n_chars_raw"),
        F.length("text_norm").cast("long").alias("n_chars_norm"),
        (F.col("text_norm") != F.col("__raw")).alias("changed"),
    )


def doc_fingerprint(
    df: DataFrame, id_col: str, text_col: str, n: int = 4
) -> DataFrame:
    """Winnowing-style fingerprint: min digest over word n-grams."""
    fp = F.expr(
        f"array_min(transform(sequence(0, greatest(size(split({text_col}, ' ')) - {n}, 0)), "
        f"i -> md5(concat_ws(' ', slice(split({text_col}, ' '), i + 1, {n})))))"
    )
    return df.select(F.col(id_col), fp.alias("fingerprint"))


def unigram_logprob(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    word distribution — the CCNet-style "perplexity proxy" quality
    signal (fluent text scores high; gibberish and rare-token spam
    score low).  Production pipelines use a KenLM n-gram model; the
    unigram variant keeps the entire computation in-engine and
    oracle-checkable, and the column contract is the same if a model
    UDF replaces the scorer later.

    Plan: one (word, count) aggregation builds the vocabulary, its
    total is attached as a broadcast scalar, and each document averages
    ln(count/total) over its words via a word-level join.  Two shuffles
    + the vocab join (broadcast at dimension-like vocab sizes; AQE
    decides at runtime).
    """
    words = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("__w")
    )
    vocab = words.groupBy("__w").agg(F.count(F.lit(1)).alias("__c"))
    total = vocab.agg(F.sum("__c").cast("double").alias("__total"))
    scored = vocab.crossJoin(F.broadcast(total)).select(
        "__w", F.log(F.col("__c") / F.col("__total")).alias("__lp")
    )
    return (
        words.join(scored, "__w")
        .groupBy(id_col)
        .agg(F.round(F.avg("__lp"), 4).alias("mean_logprob"))
    )


def chunk_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_words: int = 256,
    overlap: int = 32,
) -> DataFrame:
    """Split long documents into overlapping word windows — the
    retrieval/embedding prep step (embedding models cap input length;
    overlap keeps context at the seams).

    Output: (id, chunk_idx, chunk, n_chunk_words).  Chunk i covers
    words [i*stride, i*stride + max_words) with stride = max_words -
    overlap; the last chunk is the remainder (never empty, never
    duplicated: a doc shorter than max_words yields exactly one chunk).

    Narrow transform + explode — no shuffle; chunk count per doc is
    ceil((words - max_words) / stride) + 1, a pure function of the data
    so chunk ids are stable across cluster layouts.
    """
    stride = max_words - overlap
    if stride <= 0:
        raise ValueError("overlap must be smaller than max_words")
    words = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__ws")
    )
    n_chunks = (
        F.greatest(
            F.ceil((F.size("__ws") - max_words) / F.lit(float(stride))).cast("long"),
            F.lit(0),
        )
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), (n_chunks - 1).cast("int")),
        lambda i: F.struct(
            i.cast("long").alias("chunk_idx"),
            F.concat_ws(
                " ", F.slice(F.col("__ws"), (i * stride + 1).cast("int"), max_words)
            ).alias("chunk"),
        ),
    )
    return words.select(F.col(id_col), F.explode(chunks).alias("__c")).select(
        id_col,
        F.col("__c.chunk_idx").alias("chunk_idx"),
        F.col("__c.chunk").alias("chunk"),
        F.size(F.split(F.col("__c.chunk"), " ")).cast("long").alias("n_chunk_words"),
    )


# Bigram-key separator: ASCII unit separator, never present in
# whitespace-split tokens.  DuckDB side spells it chr(31).
_BG_SEP = "\u001f"


def bigram_logprob(
    df: DataFrame, id_col: str, text_col: str, k: float = 0.5
) -> DataFrame:
    """Per-document mean bigram conditional log-probability under an
    add-k-smoothed LM trained on the corpus itself — the step up from
    :func:`unigram_logprob` toward the KenLM-style fluency signal
    production pipelines use (word-salad spam that survives a unigram
    screen has improbable TRANSITIONS, which this catches).

    p(w2 | w1) = (C(w1 w2) + k) / (C(w1 .) + k*V)

    where C(w1 .) counts w1 occurrences that have a successor and V is
    the number of distinct bigram types.  Every count is an exact
    integer, so the per-bigram double ratio is bit-identical across
    engines; the per-doc mean is rounded to 4 decimals to absorb FP
    sum order.

    Plan: the doc-to-bigram explode feeds one (bigram -> count)
    shuffle; the context totals and vocab size derive from the bigram
    counts (already tiny), and scoring is one join back on the bigram
    key — the same shape as the unigram scorer with one extra
    reduction.  No Python in the path; at 100 TB the bigram-count
    table is the only wide state and it shrinks with Zipf.
    """
    bigram_expr = (
        "transform(sequence(1, size(__ws) - 1), "
        "i -> concat(element_at(__ws, i), '\\u001F', element_at(__ws, i + 1)))"
    )
    ws = df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__ws"))
    bigrams = ws.select(
        F.col(id_col),
        F.explode(
            F.when(F.size("__ws") >= 2, F.expr(bigram_expr)).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("__bg"),
    )
    bg_counts = bigrams.groupBy("__bg").agg(F.count(F.lit(1)).alias("__c2"))
    w1 = F.split(F.col("__bg"), _BG_SEP).getItem(0)
    ctx_counts = bg_counts.groupBy(w1.alias("__w1")).agg(
        F.sum("__c2").alias("__c1")
    )
    vocab = bg_counts.agg(F.count(F.lit(1)).cast("double").alias("__v"))
    scored = (
        bg_counts.join(ctx_counts, w1 == F.col("__w1"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "__bg",
            F.log(
                (F.col("__c2") + F.lit(k))
                / (F.col("__c1") + F.lit(k) * F.col("__v"))
            ).alias("__lp"),
        )
    )
    return (
        bigrams.join(scored, "__bg")
        .groupBy(id_col)
        .agg(F.round(F.avg("__lp"), 4).alias("mean_bigram_logprob"))
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = 5,
    min_pmi: float = 1.0,
) -> DataFrame:
    """Corpus-level collocation mining: adjacent word pairs whose
    pointwise mutual information exceeds a threshold — the classic
    phrase-detection pass (word2vec's phrase step, tokenizer-merge
    candidates, glossary extraction).

    PMI(w1, w2) = ln( C(w1 w2) * B / (C(w1 .) * C(. w2)) )

    with B = total bigram tokens and the marginals counted over bigram
    slots (so the identity sums hold exactly).  All counts are exact
    integers -> the double ratio is engine-identical; output keeps
    every pair with C >= min_count and rounded PMI >= min_pmi
    (threshold, not top-N: no tie-prone global LIMIT).

    Plan: reuses the bigram-count aggregation shape of
    :func:`bigram_logprob`; both marginals derive from the (already
    Zipf-shrunk) bigram table, joined back on the two word keys.  Two
    corpus-wide shuffles total, marginal tables broadcast-sized.
    """
    bigram_expr = (
        "transform(sequence(1, size(__ws) - 1), "
        "i -> concat(element_at(__ws, i), '\\u001F', element_at(__ws, i + 1)))"
    )
    ws = df.select(F.split(F.col(text_col), " ").alias("__ws"))
    bigrams = ws.select(
        F.explode(
            F.when(F.size("__ws") >= 2, F.expr(bigram_expr)).otherwise(
                F.array().cast("array<string>")
            )
        ).alias("__bg")
    )
    bc = bigrams.groupBy("__bg").agg(F.count(F.lit(1)).alias("__c12"))
    w1 = F.split(F.col("__bg"), _BG_SEP).getItem(0)
    w2 = F.split(F.col("__bg"), _BG_SEP).getItem(1)
    left = bc.groupBy(w1.alias("__w1")).agg(F.sum("__c12").alias("__c1"))
    right = bc.groupBy(w2.alias("__w2")).agg(F.sum("__c12").alias("__c2"))
    total = bc.agg(F.sum("__c12").cast("double").alias("__b"))
    return (
        bc.filter(F.col("__c12") >= min_count)
        .join(left, w1 == F.col("__w1"))
        .join(right, w2 == F.col("__w2"))
        .crossJoin(F.broadcast(total))
        .select(
            w1.alias("word1"),
            w2.alias("word2"),
            F.col("__c12").alias("pair_count"),
            F.round(
                F.log(
                    F.col("__c12") * F.col("__b") / (F.col("__c1") * F.col("__c2"))
                ),
                4,
            ).alias("pmi"),
        )
        .filter(F.col("pmi") >= min_pmi)
    )


def perplexity_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: float = 0.5,
    cuts: tuple[float, float] = (0.25, 0.75),
) -> DataFrame:
    """CCNet-style head/middle/tail corpus split (Wenzek et al. 2020,
    arXiv:1911.00359) by LM fluency: documents ranked by their
    :func:`bigram_logprob` score and cut at the ``cuts`` quantiles —
    higher log-probability (= lower perplexity) lands in *head*, the
    paper's "keep first" stratum.

    The paper cuts at thirds; the default cuts are (0.25, 0.75) because
    quarter fractions are exact binary doubles — the quantile index
    (n-1)·q computes identically in every engine, which keeps a
    data-point-landing threshold engine-reproducible (1/3 rounds in FP
    and the index can straddle an integer differently per engine).
    Scores are on the 4-dp grid, and an interpolated threshold lies
    strictly between adjacent distinct scores, so no document's bucket
    depends on FP noise.

    One extra scalar pass over the score frame (exact `percentile`;
    swap `approx_percentile` at 100 TB — same call shape, sketch-
    merged); the two thresholds broadcast as a 1-row frame.
    """
    scored = bigram_logprob(df, id_col, text_col, k)
    th = scored.agg(
        F.expr(
            f"percentile(mean_bigram_logprob, array({cuts[0]!r}, {cuts[1]!r}))"
        ).alias("__t")
    )
    lo = F.col("__t").getItem(0)
    hi = F.col("__t").getItem(1)
    return scored.crossJoin(F.broadcast(th)).select(
        F.col(id_col),
        "mean_bigram_logprob",
        F.when(F.col("mean_bigram_logprob") >= hi, "head")
        .when(F.col("mean_bigram_logprob") >= lo, "middle")
        .otherwise("tail")
        .alias("bucket"),
    )
