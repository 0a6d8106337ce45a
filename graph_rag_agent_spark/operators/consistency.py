"""Graph consistency validation + repair.

Reference: graph_consistency_validator.py:37-430 — five audits with repairs:
orphan entities (no MENTIONS), dangling chunks (no document), empty chunks,
broken document links, broken NEXT_CHUNK chains.

Spark mapping: each audit is one anti-join or window aggregation emitted as
a row in a validation-report DataFrame; repairs are targeted semi-joins.
The incremental run validates, then repairs only on violations: with no
dangling mention, orphan entity or missing edge endpoint, `repair` returns
its inputs' rows unchanged. No semi- or anti-join here deduplicates its
right side, since neither join ever multiplies its left rows.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window, functions as F

from graph_rag_agent_spark.session import local_frame

# the validation_report checks whose violations `repair` removes
REPAIRED_CHECKS = ("orphan_entities", "dangling_mentions", "edge_endpoints_missing")


def audit_orphan_entities(nodes: DataFrame, mentions: DataFrame) -> DataFrame:
    """Entities with no MENTIONS provenance (validator: orphan entities)."""
    return nodes.join(
        mentions.select("entity_id"), on="entity_id", how="left_anti"
    ).select("entity_id")


def audit_dangling_mentions(mentions: DataFrame, chunks: DataFrame) -> DataFrame:
    """MENTIONS rows pointing at chunk ids absent from the chunks table."""
    return mentions.join(chunks.select("chunk_id"), on="chunk_id", how="left_anti")


def audit_empty_chunks(chunks: DataFrame) -> DataFrame:
    return chunks.filter(
        F.col("text").isNull() | (F.length("text") == 0) | (F.col("tokens") <= 0)
    ).select("chunk_id", "doc_id")


def audit_broken_chains(chunks: DataFrame) -> DataFrame:
    """NEXT_CHUNK chain integrity: per doc, positions must be 1..n and each
    prev_chunk_id must equal the previous position's chunk_id (position 1
    points at itself — struct_builder.py:84)."""
    w = Window.partitionBy("doc_id").orderBy("position")
    with_prev = chunks.withColumn("_expected_prev", F.lag("chunk_id").over(w)).withColumn(
        "_expected_pos", F.row_number().over(w)
    )
    return with_prev.filter(
        (F.col("position") != F.col("_expected_pos"))
        | (
            (F.col("position") == 1) & (F.col("prev_chunk_id") != F.col("chunk_id"))
        )
        | (
            (F.col("position") > 1) & (F.col("prev_chunk_id") != F.col("_expected_prev"))
        )
    ).select("doc_id", "chunk_id", "position")


def audit_edge_endpoints(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Edges whose endpoints are missing from the nodes table."""
    ids = nodes.select("entity_id")
    bad_subj = edges.join(ids.withColumnRenamed("entity_id", "subj"), on="subj", how="left_anti")
    bad_obj = edges.join(ids.withColumnRenamed("entity_id", "obj"), on="obj", how="left_anti")
    return bad_subj.unionByName(bad_obj).select("subj", "pred", "obj").dropDuplicates()


def validation_report(
    nodes: DataFrame, edges: DataFrame, mentions: DataFrame, chunks: DataFrame
) -> DataFrame:
    """→ (check, violation_count) — one row per audit, counted by ONE
    groupBy over the union of the check-tagged audit rows, not five
    sequential .count() actions that would each recompute the upstream
    plan."""
    audits = [
        ("orphan_entities", audit_orphan_entities(nodes, mentions)),
        ("dangling_mentions", audit_dangling_mentions(mentions, chunks)),
        ("empty_chunks", audit_empty_chunks(chunks)),
        ("broken_chains", audit_broken_chains(chunks)),
        ("edge_endpoints_missing", audit_edge_endpoints(edges, nodes)),
    ]
    tagged = [df.select(F.lit(name).alias("check")) for name, df in audits]
    merged = functools.reduce(DataFrame.unionByName, tagged).groupBy("check").agg(
        F.count("*").alias("violation_count")
    )
    # audits with zero violations produce no row → re-seed with 0
    names = local_frame(nodes.sparkSession, [(n,) for n, _ in audits], "check string")
    return (
        names.join(merged, on="check", how="left")
        .withColumn("violation_count", F.coalesce("violation_count", F.lit(0)))
    )


def repair(
    nodes: DataFrame, edges: DataFrame, mentions: DataFrame, chunks: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Apply the validator's repairs: drop orphan entities, dangling
    mentions, and edges with missing endpoints (the reference deletes or
    re-links; we re-derive the consistent subset — same end state)."""
    mentions2 = mentions.join(chunks.select("chunk_id"), on="chunk_id", how="left_semi")
    nodes2 = nodes.join(mentions2.select("entity_id"), on="entity_id", how="left_semi")
    ids = nodes2.select("entity_id")
    edges2 = edges.join(
        ids.withColumnRenamed("entity_id", "subj"), on="subj", how="left_semi"
    ).join(ids.withColumnRenamed("entity_id", "obj"), on="obj", how="left_semi").select(
        edges.columns
    )
    return nodes2, edges2, mentions2
