"""Online entity disambiguation / linking (reference D9 —
entity_disambiguation.py:34-156): given a surface mention, recall candidate
entities by string similarity, rerank by 0.4·string + 0.6·cosine, return
NIL below threshold.

Thresholds mirror settings.py:147-150: string recall levenshteinSimilarity
≥ 0.7, top 5 candidates, accept ≥ 0.6 after rerank.

levenshteinSimilarity(a, b) = 1 - levenshtein(a, b) / max(len(a), len(b))
(apoc.text.levenshteinSimilarity semantics) — expressible as built-in SQL
on both Spark and DuckDB, so the string-recall stage is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

RECALL_SIMILARITY = 0.7
RECALL_TOPK = 5
ACCEPT_SCORE = 0.6
STRING_WEIGHT = 0.4
VECTOR_WEIGHT = 0.6


def levenshtein_similarity(a: F.Column, b: F.Column) -> F.Column:
    return 1.0 - F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))


def string_recall(nodes: DataFrame, mention: str) -> DataFrame:
    """→ (entity_id, string_sim): the top RECALL_TOPK candidates by
    levenshteinSimilarity of the lowercased mention (reference recall stage)."""
    m = F.lit(mention.lower())
    sim = levenshtein_similarity(F.lower(F.col("entity_id")), m)
    return (
        nodes.select("entity_id", F.round(sim, 6).alias("string_sim"))
        .filter(F.col("string_sim") >= RECALL_SIMILARITY)
        .orderBy(F.desc("string_sim"), F.asc("entity_id"))
        .limit(RECALL_TOPK)
    )


def link_mention(
    nodes: DataFrame,
    embeddings: DataFrame,
    mention: str,
) -> DataFrame:
    """→ at most one row (entity_id, string_sim, vector_sim, score) — the
    linked entity, or zero rows (NIL) when the best rerank score < ACCEPT_SCORE
    (reference entity_disambiguation.py:95-114)."""
    from graph_rag_agent_spark.functions.embedder import embed_text
    from graph_rag_agent_spark.operators.similarity import cosine_col

    candidates = string_recall(nodes, mention)
    q = F.array(*[F.lit(float(x)) for x in embed_text(mention)])
    scored = (
        candidates.join(embeddings.select("entity_id", "embedding"), on="entity_id", how="left")
        .withColumn(
            "vector_sim",
            F.coalesce(cosine_col(F.col("embedding").cast("array<double>"), q), F.lit(0.0)),
        )
        .withColumn(
            "score",
            STRING_WEIGHT * F.col("string_sim") + VECTOR_WEIGHT * F.col("vector_sim"),
        )
        .select("entity_id", "string_sim", F.round("vector_sim", 6).alias("vector_sim"),
                F.round("score", 6).alias("score"))
    )
    # top-1 by (score desc, id asc) via orderBy().limit(1): plans as
    # TakeOrderedAndProject (scored is ≤ topk rows, but this also avoids
    # the single-partition WindowExec a partition-less row_number plans)
    return (
        scored.orderBy(F.desc("score"), F.asc("entity_id"))
        .limit(1)
        .filter(F.col("score") >= ACCEPT_SCORE)
    )
