"""Incremental build: change detection, partition-scoped rebuild, refcount GC.

Reference §2.7 (N1-N7): FileChangeManager diffs a JSON registry of per-file
SHA-256s (file_change_manager.py:58-142); IncrementalGraphUpdater re-runs
the pipeline on added/modified files and garbage-collects entities whose
MENTIONS provenance came only from deleted chunks
(incremental_graph_builder.py:572-676).

Spark mapping:
- N1 change detection → the current corpus snapshot and the ``registry``
  table grouped together by (repo, path), comparing each document's
  sorted ``sha2(content, 256)`` array — the same per-row invariant the
  P/R gate checks.
- N2 partition-scoped rebuild → the build DAG filtered to changed rows
  (predicate pushdown prunes the scan to touched repo/path partitions).
- N6 deleted-file GC → mentions refcount: entities whose every mentioning
  chunk belongs to deleted docs are dropped (groupBy + conditional count
  equality — one shuffle).

All diffs are key-partitioned joins; nothing is collected to the driver.
"""

from __future__ import annotations

import uuid
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, functions as F


class ChangeSet(NamedTuple):
    added: DataFrame      # corpus rows of documents new since the registry snapshot
    modified: DataFrame   # corpus rows of documents whose content changed
    deleted: DataFrame    # (repo, path) of registry documents gone from the corpus
    counts: dict          # change -> rows of added/modified, keys of deleted


def detect_changes(corpus: DataFrame, registry: DataFrame) -> ChangeSet:
    """N1: corpus snapshot vs registry(repo, path, content_sha256).

    A document is its (repo, path) key, and its content is the sorted array
    of the content hashes of its rows: two commits of one path are one
    document with two hashes. A row with null content counts as absent, so
    a key whose rows are all null is no document at all. A key is added
    when only the corpus has it, deleted when only the registry has it, and
    modified when the two arrays differ. ``added`` and ``modified`` are the
    key's corpus rows with non-null content. The registry is written from
    the same rows (plans.build.registry_stage), so rerunning on an
    unchanged corpus finds no change.

    The per-key verdict is one shuffle, checkpointed: an incremental run
    reads each side of the change set several times. ``counts`` comes from
    the same checkpoint job, through an Observation: a key's ``_shas`` has
    one entry per corpus row with non-null content, so summing its size
    over the added (modified) keys counts ``added`` (``modified``)
    exactly, and ``deleted`` counts its keys."""
    def hashes(df: DataFrame, sha: F.Column, cur: bool) -> DataFrame:
        return df.select("repo", "path", sha.alias("_sha"), F.lit(cur).alias("_cur"))

    def sorted_shas(cur: bool) -> F.Column:
        return F.array_sort(F.collect_list(F.when(F.col("_cur") == cur, F.col("_sha"))))

    docs = (
        hashes(corpus, F.sha2("content", 256), True)
        .unionByName(hashes(registry, F.col("content_sha256"), False))
        .filter(F.col("_sha").isNotNull())
        .groupBy("repo", "path")
        .agg(sorted_shas(True).alias("_shas"), sorted_shas(False).alias("_reg_shas"))
    )
    verdict = docs.select(
        "repo", "path",
        F.when(F.size("_reg_shas") == 0, "added")
        .when(F.size("_shas") == 0, "deleted")
        .when(F.col("_shas") != F.col("_reg_shas"), "modified")
        .alias("_change"),
        F.size("_shas").alias("_rows"),
    ).filter(F.col("_change").isNotNull())
    obs = Observation(f"changes_{uuid.uuid4().hex[:8]}")
    counted = {"added": F.col("_rows"), "modified": F.col("_rows"), "deleted": F.lit(1)}
    verdict = verdict.observe(obs, *(
        F.coalesce(F.sum(F.when(F.col("_change") == change, n)), F.lit(0)).alias(change)
        for change, n in counted.items()
    )).localCheckpoint(eager=True)

    def keys(change: str) -> DataFrame:
        return verdict.filter(F.col("_change") == change).select("repo", "path")

    rows = corpus.filter(F.col("content").isNotNull())
    return ChangeSet(
        added=rows.join(keys("added"), on=["repo", "path"], how="left_semi"),
        modified=rows.join(keys("modified"), on=["repo", "path"], how="left_semi"),
        deleted=keys("deleted"),
        counts={change: int(n) for change, n in obs.get.items()},
    )


def chunks_of_docs(chunks: DataFrame, docs: DataFrame) -> DataFrame:
    """chunks belonging to the given (repo, path) doc set (semi-join)."""
    return chunks.join(
        docs.select("repo", "path").dropDuplicates(["repo", "path"]),
        on=["repo", "path"],
        how="left_semi",
    )


def gc_deleted_docs(
    nodes: DataFrame,
    edges: DataFrame,
    mentions: DataFrame,
    chunks: DataFrame,
    deleted_docs: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """N6: drop entities referenced ONLY by chunks of deleted docs
    (refcount equality, incremental_graph_builder.py:572-676), then drop
    their edges, edges extracted from the doomed chunks, and the doomed
    chunks' mentions.

    Improvement over the reference: our edges carry chunk provenance, so
    edges produced by deleted chunks are GC'd even when both endpoints
    survive — making incremental-update ≡ full-rebuild (the reference
    leaks such edges because Neo4j edges have no chunk back-pointer).

    A chunk is doomed only if NO surviving document contains the same text
    (chunk_id = sha1(text) dedups across docs).

    Manual-edit carve-out (SURVEY N6 "unless manual_edit/protected";
    reference manual_edit_manager.py:308-361): when the nodes table carries
    ``manual_edit``/``protected`` boolean columns, flagged entities are
    EXEMPT from refcount GC — their mentions row survives too (so a later
    re-add sees consistent provenance). Edges flagged ``manual_edit``
    survive chunk-provenance GC likewise.

    → (nodes', edges', mentions')."""
    del_chunks = chunks_of_docs(chunks, deleted_docs).select("chunk_id")
    kept_chunks = chunks.join(
        deleted_docs.select("repo", "path").dropDuplicates(["repo", "path"]),
        on=["repo", "path"],
        how="left_anti",
    ).select("chunk_id")
    deleted_chunk_ids = del_chunks.dropDuplicates().join(
        kept_chunks.dropDuplicates(), on="chunk_id", how="left_anti"
    )

    refcount = (
        mentions.join(
            deleted_chunk_ids.withColumn("_del", F.lit(1)), on="chunk_id", how="left"
        )
        .groupBy("entity_id")
        .agg(
            F.count("*").alias("total"),
            F.sum(F.coalesce("_del", F.lit(0))).alias("from_deleted"),
        )
    )
    doomed = refcount.filter(
        (F.col("from_deleted") > 0) & (F.col("total") == F.col("from_deleted"))
    ).select("entity_id")

    # manual-edit carve-out: flagged entities are never doomed
    flag_cols = [c for c in ("manual_edit", "protected") if c in nodes.columns]
    if flag_cols:
        exempt = None
        for c in flag_cols:
            cond = F.coalesce(F.col(c), F.lit(False))
            exempt = cond if exempt is None else (exempt | cond)
        exempt_ids = nodes.filter(exempt).select("entity_id")
        doomed = doomed.join(exempt_ids, on="entity_id", how="left_anti")

    nodes2 = nodes.join(doomed, on="entity_id", how="left_anti")
    edges_gc = edges
    if "manual_edit" in edges.columns:
        manual_edges = edges.filter(F.coalesce(F.col("manual_edit"), F.lit(False)))
        edges_gc = edges.filter(~F.coalesce(F.col("manual_edit"), F.lit(False)))
    edges2 = (
        edges_gc.join(deleted_chunk_ids, on="chunk_id", how="left_anti")
        .join(doomed.withColumnRenamed("entity_id", "subj"), on="subj", how="left_anti")
        .join(doomed.withColumnRenamed("entity_id", "obj"), on="obj", how="left_anti")
        .select(edges.columns)
    )
    if "manual_edit" in edges.columns:
        edges2 = edges2.unionByName(manual_edges.select(edges.columns))
    mentions2 = mentions.join(deleted_chunk_ids, on="chunk_id", how="left_anti")
    if flag_cols:
        # keep the flagged entities' provenance rows alongside the entities
        mentions2 = mentions2.unionByName(
            mentions.join(deleted_chunk_ids, on="chunk_id", how="left_semi")
            .join(exempt_ids, on="entity_id", how="left_semi")
            .select(mentions2.columns)
        )
    return nodes2, edges2, mentions2


def upsert_nodes(
    existing: DataFrame,
    updates: DataFrame,
    conflict_strategy: str = "manual_first",
) -> DataFrame:
    """N3: MERGE semantics for the nodes table — updated rows replace
    matched ids, new rows insert (anti-join + union; Iceberg MERGE INTO via
    TableCatalog.upsert when a real catalog is configured).

    When ``existing`` carries manual-edit flags, rows with
    ``manual_edit=true`` are NOT blindly replaced: the merge honors
    ``conflict_strategy`` (reference manual_edit_manager.resolve_conflicts,
    :363-477) via operators/manual_edits.resolve_conflicts; the default
    matches the reference's ``manual_first``. Unflagged tables keep the
    historical replace-on-match behavior bit-for-bit (one anti-join +
    union, no strategy logic on that path)."""
    if "manual_edit" in existing.columns:
        from graph_rag_agent_spark.operators.manual_edits import resolve_conflicts

        resolved = resolve_conflicts(existing, updates, strategy=conflict_strategy)
        out_cols = [c for c in resolved.columns
                    if c not in ("conflict_resolved", "conflict_resolution")]
        return resolved.select(*out_cols)
    kept = existing.join(updates.select("entity_id"), on="entity_id", how="left_anti")
    return kept.unionByName(updates.select(existing.columns))


def upsert_edges(existing: DataFrame, updates: DataFrame) -> DataFrame:
    """N4: MERGE on (subj, pred, obj); new evidence replaces the matched
    triple row (weight/description refresh), unmatched inserts. Edges
    flagged ``manual_edit=true`` are preserved verbatim (their key is
    exempt from replacement), mirroring the node-side carve-out."""
    keys = ["subj", "pred", "obj"]
    if "manual_edit" in existing.columns:
        # an auto-built updates frame may not carry the flag columns yet
        for c in ("manual_edit", "protected"):
            if c in existing.columns and c not in updates.columns:
                updates = updates.withColumn(c, F.lit(False))
        manual = existing.filter(F.coalesce(F.col("manual_edit"), F.lit(False)))
        auto = existing.filter(~F.coalesce(F.col("manual_edit"), F.lit(False)))
        updates2 = updates.join(
            manual.select(*keys).dropDuplicates(keys), on=keys, how="left_anti"
        )
        kept = auto.join(
            updates2.select(*keys).dropDuplicates(keys), on=keys, how="left_anti"
        )
        return kept.unionByName(updates2.select(existing.columns)).unionByName(
            manual.select(existing.columns)
        )
    kept = existing.join(updates.select(*keys).dropDuplicates(keys), on=keys, how="left_anti")
    return kept.unionByName(updates.select(existing.columns))

