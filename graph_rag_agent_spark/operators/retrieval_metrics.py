"""Rule-based retrieval evaluation metrics as map-only DataFrame plans.

The structural (non-LLM) half of the reference's retrieval evaluation
framework (evaluation/metrics/retrieval_metrics.py):

- RetrievalPrecision._calculate_rule_precision (:100-131): per sample,
  a reference entity counts as matched when its lowercased string is a
  SUBSTRING of any lowercased retrieved entity (rule 1), or when its
  first digit-run appears in any retrieved string (rule 2); matched =
  max(rule1, rule2); score = max(0.3, 0.3 + 0.7·matched/|ref|) when
  matched > 0 else the 0.3 floor.
- RetrievalUtilization._calculate_rule_utilization (:280-316): the same
  two match rules, plus a partial-token fallback — when nothing matched
  but any >3-char whitespace token of a reference entity appears in the
  space-joined retrieved text, matched = 1 with a fixed 0.4 score.

The LLM-judged branches of both metrics are out of rebuild scope (same
boundary as every other LLM subsystem — see SURVEY §2 n/a rows).

Scale shape: one row per evaluated query with two bounded string arrays;
every rule is an array higher-order function (`exists`/`filter`/
`aggregate`) over those in-row arrays — whole-stage codegen, zero
shuffle, zero Python, embarrassingly parallel over 10⁹ eval rows. The
per-row work is O(|ref|·|retr|) on arrays that are top-k bounded by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _lower_arr(col: str):
    return F.transform(F.col(col), lambda x: F.lower(x))


def _substring_matched(refs, retrs):
    """rule 1: # of refs that are a substring of ANY retrieved string."""
    return F.size(
        F.filter(refs, lambda r: F.exists(retrs, lambda t: t.contains(r)))
    )


def _digit_matched(refs, retrs):
    """rule 2: # of refs whose first digit-run appears in ANY retrieved
    string (refs without digits never match — regexp_extract yields '')."""
    return F.size(
        F.filter(
            refs,
            lambda r: (F.regexp_extract(r, r"\d+", 0) != F.lit(""))
            & F.exists(
                retrs, lambda t: t.contains(F.regexp_extract(r, r"\d+", 0))
            ),
        )
    )


def retrieval_metrics(samples: DataFrame) -> DataFrame:
    """(query_id, retrieved array<string>, reference array<string>) →
    (query_id, prec_matched, precision, util_matched, utilization) with the
    reference's exact rule arithmetic, rounded to 6 for cross-engine
    comparison."""
    refs = _lower_arr("reference")
    retrs = _lower_arr("retrieved")
    n_ref = F.size(refs)

    matched = F.greatest(
        _substring_matched(refs, retrs), _digit_matched(refs, retrs)
    )
    score = F.when(
        matched > 0,
        F.greatest(
            F.lit(0.3),
            F.lit(0.3) + F.lit(0.7) * matched.cast("double") / n_ref.cast("double"),
        ),
    ).otherwise(F.lit(0.3))

    # utilization fallback: any >3-char token of any ref inside the
    # space-joined retrieved text (reference :308-313) → matched 1, 0.4
    joined = F.array_join(retrs, " ")
    partial = F.exists(
        refs,
        lambda r: F.exists(
            F.filter(F.split(r, "\\s+"), lambda t: F.length(t) > 3),
            lambda t: joined.contains(t),
        ),
    )
    util_matched = F.when(matched > 0, matched).when(partial, F.lit(1)).otherwise(
        F.lit(0)
    )
    util_score = (
        F.when(matched > 0, score)
        .when(partial, F.lit(0.4))
        .otherwise(F.lit(0.3))
    )

    return samples.select(
        "query_id",
        matched.alias("prec_matched"),
        F.round(score, 6).alias("precision"),
        util_matched.alias("util_matched"),
        F.round(util_score, 6).alias("utilization"),
    )


# normalize_answer's punctuation set (evaluation/utils/text_utils.py:22):
# string.punctuation plus the CJK marks, removed via translate()
_ANSWER_PUNC = (
    "!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~" + "，。！？《》【】“”‘’：；（）、"
)
# F1's stopword set (answer_metrics.py:209) — CJK function words; a no-op
# on ASCII corpora but mirrored for parity
_F1_STOPWORDS = ["的", "了", "和", "在", "是", "为", "以", "与", "或", "且"]


def _normalize_answer(col):
    """evaluation/utils/text_utils.py:5-28 — lower → strip punctuation →
    strip articles (a|an|the|一个|一种|这个|那个) → collapse whitespace.
    Same chain, same order; `\\b` is ASCII-boundary in both Spark (Java)
    and the DuckDB twin (RE2), a documented deviation from Python's
    Unicode `\\b` that only matters for CJK article boundaries."""
    x = F.lower(col)
    x = F.translate(x, _ANSWER_PUNC, "")
    x = F.regexp_replace(x, r"\b(a|an|the|一个|一种|这个|那个)\b", " ")
    return F.trim(F.regexp_replace(x, r"\s+", " "))


def _tokens(norm):
    return F.when(F.length(norm) > 0, F.split(norm, " ")).otherwise(
        F.array().cast("array<string>")
    )


def answer_metrics(samples: DataFrame) -> DataFrame:
    """The rule branches of the reference's answer evaluation
    (evaluation/metrics/answer_metrics.py; LLM branches out of scope):

    - exact_match (:16-36): normalized equality, 0.0 when either raw
      string is empty/NULL.
    - content_similarity (:123-158): over distinct normalized tokens,
      0.4·Jaccard + 0.3·prediction-coverage + 0.3·golden-coverage; 0.0
      when either token list is empty.
    - rule_f1 (:200-241): tokens filtered to len>1 minus the stopword
      set; DISTINCT-intersection count over LIST lengths (duplicates
      inflate the denominators, as in the reference); both-empty → 1.0,
      one-empty → 0.0. Documented deviation: the reference tokenizes
      with jieba — this rebuild uses the deterministic
      whitespace-on-normalized-text tokenizer (the same jieba/HanLP →
      deterministic-tokenizer substitution documented in SURVEY §7).

    Map-only: every rule is in-row string/array arithmetic — zero
    shuffle, zero Python, parallel over any number of eval rows."""
    pred_raw = F.col("prediction")
    gold_raw = F.col("golden")
    pn = _normalize_answer(pred_raw)
    gn = _normalize_answer(gold_raw)
    em = F.when(
        pred_raw.isNull() | (pred_raw == "") | gold_raw.isNull() | (gold_raw == ""),
        F.lit(0.0),
    ).otherwise(F.when(pn == gn, F.lit(1.0)).otherwise(F.lit(0.0)))

    pt, gt = _tokens(pn), _tokens(gn)
    ps, gs = F.array_distinct(pt), F.array_distinct(gt)
    common = F.size(F.array_intersect(ps, gs)).cast("double")
    union = F.size(F.array_union(ps, gs)).cast("double")
    sim = F.when(
        (F.size(pt) == 0) | (F.size(gt) == 0), F.lit(0.0)
    ).otherwise(
        F.lit(0.4) * F.when(union > 0, common / union).otherwise(F.lit(0.0))
        + F.lit(0.3) * common / F.size(ps).cast("double")
        + F.lit(0.3) * common / F.size(gs).cast("double")
    )

    f1_filter = lambda arr: F.filter(
        arr, lambda t: (F.length(t) > 1) & ~t.isin(*_F1_STOPWORDS)
    )
    pf, gf = f1_filter(pt), f1_filter(gt)
    fcommon = F.size(
        F.array_intersect(F.array_distinct(pf), F.array_distinct(gf))
    ).cast("double")
    prec = fcommon / F.size(pf).cast("double")
    rec = fcommon / F.size(gf).cast("double")
    f1 = (
        F.when((F.size(pf) == 0) & (F.size(gf) == 0), F.lit(1.0))
        .when((F.size(pf) == 0) | (F.size(gf) == 0), F.lit(0.0))
        .otherwise(
            F.when(
                prec + rec > 0, F.lit(2.0) * prec * rec / (prec + rec)
            ).otherwise(F.lit(0.0))
        )
    )

    return samples.select(
        "query_id",
        F.round(em, 6).alias("exact_match"),
        F.round(sim, 6).alias("content_similarity"),
        F.round(f1, 6).alias("rule_f1"),
    )


def reasoning_metrics(samples: DataFrame) -> DataFrame:
    """Rule branches of the reference's deep-search evaluation
    (evaluation/metrics/deep_search_metrics.py; LLM branches out of
    scope):

    - ReasoningCoherence (:34-52 structure rule): thinking = the first
      ``(?s)<think>(.*?)</think>`` block (stripped); score = min(1.0,
      0.6 + 0.1·min(3, n_search_queries) + 0.1 if paragraphs > 3),
      where search queries match ``>\\s*\\d+\\.\\s*(.*?)\\n`` and
      paragraphs split on ``\\n\\n+``. No thinking block → the 0.6
      default (:155-158 no-LLM branch).
    - ReasoningDepth (:199-217 feature rule): 0.6 + min(0.2, 0.05·n_q)
      + min(0.1, 0.02·n_paragraphs) + min(0.1, 0.05·n_info_sections);
      same 0.6 default. Documented deviation: the reference counts info
      sections with ``\\*\\*Final Information\\*\\*(.*?)(?=\\n\\n|\\Z)``
      — a lookahead RE2 (the DuckDB twin) cannot express — so BOTH
      engines count the literal ``**Final Information**`` markers,
      identical whenever each marker starts its own section as the
      deep-search format emits them.

    Map-only in-row regex/size arithmetic — zero shuffle, zero Python.
    → (query_id, n_queries, n_paragraphs, n_info, reasoning_coherence,
    reasoning_depth)."""
    # Python .strip() removes ALL whitespace; trim() in both engines is
    # space-only — regex-strip both ends instead (ASCII \s, both engines)
    thinking = F.regexp_replace(
        F.regexp_extract(F.col("answer"), r"(?s)<think>(.*?)</think>", 1),
        r"^\s+|\s+$",
        "",
    )
    has = F.length(thinking) > 0
    nq = F.size(F.regexp_extract_all(thinking, F.lit(r">\s*\d+\.\s*(.*?)\n"), 0))
    npara = F.size(F.split(thinking, r"\n\n+"))
    ninfo = F.size(
        F.regexp_extract_all(thinking, F.lit(r"\*\*Final Information\*\*"), 0)
    )
    coherence = F.when(
        has,
        F.least(
            F.lit(1.0),
            F.lit(0.6)
            + F.lit(0.1) * F.least(F.lit(3), nq).cast("double")
            + F.when(npara > 3, F.lit(0.1)).otherwise(F.lit(0.0)),
        ),
    ).otherwise(F.lit(0.6))
    depth = F.when(
        has,
        F.lit(0.6)
        + F.least(F.lit(0.2), F.lit(0.05) * nq.cast("double"))
        + F.least(F.lit(0.1), F.lit(0.02) * npara.cast("double"))
        + F.least(F.lit(0.1), F.lit(0.05) * ninfo.cast("double")),
    ).otherwise(F.lit(0.6))
    return samples.select(
        "query_id",
        F.when(has, nq).otherwise(F.lit(0)).alias("n_queries"),
        F.when(has, npara).otherwise(F.lit(0)).alias("n_paragraphs"),
        F.when(has, ninfo).otherwise(F.lit(0)).alias("n_info"),
        F.round(coherence, 6).alias("reasoning_coherence"),
        F.round(depth, 6).alias("reasoning_depth"),
    )


def agent_utilization_metrics(samples: DataFrame) -> DataFrame:
    """The last two deep-search rule branches (deep_search_metrics.py):

    - IterativeImprovementMetric (:344-456 rule path): iterations = count
      of numbered search-query lines in the <think> block; score = 0.5 +
      min(0.3, 0.1·count) when a thinking block exists (the reference
      adds the bonus only when count ≥ 1, which min-arithmetic already
      gives), else the 0.5 default (:498-502).
    - KnowledgeGraphUtilizationMetric (:523-691 rule path): marker flags
      核心相关实体[：:] / 相关知识社区[：:] anywhere in the answer
      (existence only — the reference's (?=\\n|$) lookahead, which RE2
      cannot express, only bounds the captured text, not the match
      decision), graph-mention count 知识图谱|实体|关系|社区 in the
      thinking block. With thinking: 0.2 + min(0.3, 0.03·mentions) +
      0.25·entity + 0.25·community (:637-640); without: 0.2 +
      0.25·entity + 0.25·community + min(0.3, 0.05·(实体|entity counts +
      关系|relation counts in the answer)) (:641-648).

    Map-only regex counting — zero shuffle, zero Python. →
    (query_id, n_iterations, iterative_improvement, kg_mentions,
    kg_utilization)."""
    ans = F.col("answer")
    thinking = F.regexp_replace(
        F.regexp_extract(ans, r"(?s)<think>(.*?)</think>", 1),
        r"^\s+|\s+$",
        "",
    )
    has = F.length(thinking) > 0
    n_iter = F.size(
        F.regexp_extract_all(thinking, F.lit(r">\s*(\d+)\.\s*(.*?)\n"), 0)
    )
    improvement = F.when(
        has,
        F.lit(0.5) + F.least(F.lit(0.3), F.lit(0.1) * n_iter.cast("double")),
    ).otherwise(F.lit(0.5))

    has_entity = (
        F.size(F.regexp_extract_all(ans, F.lit("(?i)核心相关实体[：:]"), 0)) > 0
    )
    has_comm = (
        F.size(F.regexp_extract_all(ans, F.lit("(?i)相关知识社区[：:]"), 0)) > 0
    )
    mentions = F.size(
        F.regexp_extract_all(thinking, F.lit("(?i)知识图谱|实体|关系|社区"), 0)
    )
    erefs = F.size(F.regexp_extract_all(ans, F.lit("(?i)实体|entity"), 0))
    rrefs = F.size(F.regexp_extract_all(ans, F.lit("(?i)关系|relation"), 0))
    ent_s = F.when(has_entity, F.lit(0.25)).otherwise(F.lit(0.0))
    com_s = F.when(has_comm, F.lit(0.25)).otherwise(F.lit(0.0))
    util = F.when(
        has,
        F.lit(0.2)
        + F.least(F.lit(0.3), F.lit(0.03) * mentions.cast("double"))
        + ent_s
        + com_s,
    ).otherwise(
        F.lit(0.2)
        + ent_s
        + com_s
        + F.least(F.lit(0.3), F.lit(0.05) * (erefs + rrefs).cast("double"))
    )
    return samples.select(
        "query_id",
        F.when(has, n_iter).otherwise(F.lit(0)).alias("n_iterations"),
        F.round(improvement, 6).alias("iterative_improvement"),
        F.when(has, mentions).otherwise(F.lit(0)).alias("kg_mentions"),
        F.round(util, 6).alias("kg_utilization"),
    )


# the reference's key-phrase pattern (retrieval_metrics.py:506) with the
# CJK range as literal characters so the Java and RE2 engines parse the
# identical class; {4,} already enforces the reference's len>3 re-filter
_KEY_PHRASE_RE = "\\b[\\w一-龥]{4,}\\b"


def chunk_utilization(samples: DataFrame, chunks: DataFrame) -> DataFrame:
    """ChunkUtilization's rule branch (reference retrieval_metrics.py:
    430-537, Neo4j-lookup path): per referenced chunk, key phrases =
    distinct ``\\b[\\w CJK]{4,}\\b`` matches in the chunk text; the chunk's
    ratio = fraction of those phrases appearing (lowercased substring) in
    the answer; per-sample score = mean ratio over chunks WITH text
    (phrase-less chunks count in the denominator, :518-526); samples whose
    reference list resolves to no chunk text score the 0.3 base
    (:447-459, :533-537). The LLM fallback branches are out of scope (same
    boundary as every LLM subsystem).

    Scale shape: one explode of the bounded per-sample chunk-id arrays,
    one key-partitioned join against the chunk table (the Cypher per-id
    lookup loop becomes a single hash join), phrase extraction and
    matching as in-row higher-order exprs, one groupBy back per sample.
    → (query_id, n_chunks, chunk_utilization)."""
    exploded = samples.select(
        "query_id",
        F.lower(F.col("answer")).alias("_ans"),
        F.explode_outer("chunk_ids").alias("chunk_id"),
    )
    ch = chunks.select("chunk_id", F.col("text").alias("_text"))
    joined = exploded.join(ch, on="chunk_id", how="left")
    phrases = F.array_distinct(
        F.regexp_extract_all(F.col("_text"), F.lit(_KEY_PHRASE_RE), 0)
    )
    ratio = F.when(
        F.size(phrases) > 0,
        F.size(
            F.filter(phrases, lambda p: F.col("_ans").contains(F.lower(p)))
        ).cast("double")
        / F.size(phrases).cast("double"),
    ).otherwise(F.lit(0.0))
    per_chunk = joined.select(
        "query_id",
        F.when(F.col("_text").isNotNull(), ratio).alias("_ratio"),
    )
    agg = per_chunk.groupBy("query_id").agg(
        F.count("_ratio").alias("n_chunks"),
        F.sum("_ratio").alias("_total"),
    )
    return agg.select(
        "query_id",
        F.col("n_chunks").cast("int").alias("n_chunks"),
        F.round(
            F.when(
                F.col("n_chunks") > 0, F.col("_total") / F.col("n_chunks")
            ).otherwise(F.lit(0.3)),
            6,
        ).alias("chunk_utilization"),
    )
