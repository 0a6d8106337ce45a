"""Text analysis operators for training-data curation — all pure Spark SQL
expressions (JVM-side, whole-stage codegen; no UDFs), each with an exact
DuckDB-SQL oracle equivalent in __spark_entry__.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# deterministic per-language marker words for the n-gram/stopword language-ID
# heuristic; tie order = alphabetical language code
LANG_MARKERS = {
    "de": ["der", "die", "und", "nicht", "ist"],
    "en": ["the", "and", "of", "is", "with"],
    "es": ["el", "la", "que", "los", "una"],
    "fr": ["le", "la", "les", "est", "une"],
}


def token_counts(docs: DataFrame) -> DataFrame:
    """→ (doc_id, n_tokens, n_distinct_tokens, avg_token_len)."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        (
            F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
            / F.size(toks)
        ).alias("avg_token_len"),
    )


def quality_scores(docs: DataFrame) -> DataFrame:
    """→ length / punctuation-ratio / stopword-ratio / distinct-ratio quality
    features + a boolean keep flag (the classic pre-training filters)."""
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    n = F.size(toks)
    stop = F.array(*[F.lit(w) for w in LANG_MARKERS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stop))
    punct_ratio = (
        F.length(F.regexp_replace(F.col("text"), r"[\w\s]+", "")) / F.length("text")
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / n
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n.alias("n_tokens"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        n_stop.alias("n_stopword_types"),
        ((n >= 10) & (distinct_ratio > 0.2)).alias("keep"),
    )


def language_id(docs: DataFrame) -> DataFrame:
    """→ (doc_id, pred_lang): argmax of marker-word hits, ties → first
    language code alphabetically, no hits → 'und'."""
    toks = F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+"))
    scores = [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias(f"_s_{code}")
        for code, words in sorted(LANG_MARKERS.items())
    ]
    df = docs.select("doc_id", *scores)
    best = F.greatest(*[F.col(f"_s_{c}") for c in sorted(LANG_MARKERS)])
    pred = F.when(best == 0, F.lit("und"))
    for code in sorted(LANG_MARKERS):
        pred = pred.when(F.col(f"_s_{code}") == best, F.lit(code))
    return df.select("doc_id", pred.alias("pred_lang"))


def _max_run_count(sorted_arr):
    """Longest run of equal adjacent elements in a SORTED array — i.e. the
    occurrence count of the most frequent element — computed row-local with
    `F.aggregate` (no shuffle, no explode). O(n log n) per row regardless of
    corpus size, so the operator's cost is bounded by document length, never
    by corpus-wide key cardinality."""
    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
    )

    def step(acc, t):
        run = F.when(t.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    return F.aggregate(sorted_arr, zero, step, lambda acc: acc["best"])


def repetition_scores(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1):

    - ``top_unigram_frac``: tokens covered by the single most frequent token;
    - ``top_bigram_frac``: bigram positions covered by the most frequent
      word bigram;
    - ``dup_trigram_frac``: fraction of trigram positions whose trigram
      occurs more than once in the document;
    - ``repetitive``: the keep/drop flag (top-unigram > 0.30 or
      dup-trigram > 0.30 — boilerplate / keyword-stuffed docs).

    Scale shape: everything is computed inside the row via sorted-array run
    counting (`_max_run_count`) and `array_distinct` — a map-only stage, no
    explode, no (doc, ngram) shuffle, so a 100 TB corpus pays exactly one
    scan. Per-doc cost is O(len · log len).
    """
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.size(toks)
    sep = F.lit(" ")  # whitespace-split tokens make a space separator unambiguous
    bigrams = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, sep, b),
    )
    trigrams = F.zip_with(
        F.slice(toks, 1, n - 2),
        F.zip_with(
            F.slice(toks, 2, n - 2), F.slice(toks, 3, n - 2),
            lambda b, c: F.concat(b, sep, c),
        ),
        lambda a, bc: F.concat(a, sep, bc),
    )
    n_bi = F.greatest(n - 1, F.lit(0))
    n_tri = F.greatest(n - 2, F.lit(0))
    top_uni = F.round(_max_run_count(F.array_sort(toks)) / n, 6)
    top_bi = F.when(n_bi > 0, F.round(_max_run_count(F.array_sort(bigrams)) / n_bi, 6)).otherwise(F.lit(0.0))
    dup_tri = F.when(
        n_tri > 0,
        F.round((n_tri - F.size(F.array_distinct(trigrams))) / n_tri, 6),
    ).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        top_uni.alias("top_unigram_frac"),
        top_bi.alias("top_bigram_frac"),
        dup_tri.alias("dup_trigram_frac"),
        ((top_uni > 0.30) | (dup_tri > 0.30)).alias("repetitive"),
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """→ (doc_id, fingerprint): md5 of the whitespace/case-normalized text —
    the canonical dedup fingerprint (stable across engines)."""
    normalized = F.regexp_replace(F.trim(F.lower(F.col("text"))), r"\s+", " ")
    return docs.select("doc_id", F.md5(normalized).alias("fingerprint"))


def ngram_stats(
    docs: DataFrame,
    n: int = 2,
    k: int = 200,
) -> DataFrame:
    """→ (term, tf, df): corpus-level word-n-gram statistics — term
    frequency (all occurrences) and document frequency, top-``k`` by
    (tf desc, term asc) — the vocabulary/frequency table that seeds
    tokenizer training (BPE/SentencePiece both start from exactly this),
    stopword induction, and boilerplate detection.

    Scale shape: a row-local n-gram explode (fan-out len−n+1 per doc, the
    same shape as the contamination shingler) into ONE term-keyed
    aggregation — tf and df computed in the same groupBy (df via
    count(distinct id)); top-k is a TakeOrderedAndProject, never a global
    sort. All expressions JVM-side; the (tf desc, term asc) ordering is
    total, so the k-boundary is engine-exact."""
    ws = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    if n == 1:
        grams = ws
    else:
        # n-grams as a zip of n shifted slices: the transform lambda touches
        # only struct fields, so the token array is never re-derived inside
        # the lambda. (The previous slice(ws, i+1, n)-inside-lambda form let
        # projection collapse inline the split() there — re-tokenizing the
        # whole text once per position, O(len²) per doc.)
        m = F.greatest(F.size(ws) - (n - 1), F.lit(0))
        zipped = F.arrays_zip(*[F.slice(ws, i + 1, m) for i in range(n)])
        grams = F.transform(
            zipped, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
        )
    exploded = docs.select(F.col("doc_id").alias("_id"), F.explode(grams).alias("term"))
    # blank/whitespace-only docs explode to [''] on the n=1 path (split of a
    # trimmed empty string); drop the empty term so the unigram output is a
    # clean vocabulary table, consistent with the n>=2 branch and learn_bpe
    exploded = exploded.where(F.col("term") != "")
    return (
        exploded.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("tf"),
            F.countDistinct("_id").cast("long").alias("df"),
        )
        .orderBy(F.desc("tf"), F.asc("term"))
        .limit(k)
    )
