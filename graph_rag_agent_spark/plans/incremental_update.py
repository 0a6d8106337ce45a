"""Orchestrated incremental run (reference N7, incremental_update.py:355-409).

Order mirrors the reference: detect changes → rebuild changed partitions →
GC deleted docs → refresh embeddings (anti-join incremental) →
consistency validate, then repair on violations → re-detect communities.

The incremental-only steps live here; they feed plans/build.py's shared
stages, which materialize every table through BuildPipeline's catalog saver
(Iceberg MERGE INTO when a real catalog is configured; anti-join+rewrite
parquet emulation otherwise), one build_metrics lineage row per stage.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_rag_agent_spark.operators.consistency import (
    REPAIRED_CHECKS,
    repair,
    validation_report,
)
from graph_rag_agent_spark.operators.extraction import cache_rows
from graph_rag_agent_spark.operators.incremental import (
    detect_changes,
    upsert_edges,
    upsert_nodes,
)
from graph_rag_agent_spark.operators.manual_edits import (
    ensure_edit_columns,
    preserve_manual_edits,
)
from graph_rag_agent_spark.plans.build import (
    BuildPipeline,
    canonical_stage,
    chunk_stage,
    community_stages,
    extract_stage,
    graph_stage,
    registry_stage,
)
from graph_rag_agent_spark.sources.catalog import TableCatalog


class IncrementalUpdatePipeline:
    def __init__(
        self,
        spark: SparkSession,
        catalog: TableCatalog,
        extractor=None,
        summarizer=None,
        conflict_strategy: str = "manual_first",
    ):
        """`conflict_strategy` resolves a manually edited node the rebuild
        also emits: "manual_first" keeps the edit, "auto_first" the
        rebuilt row (reference manual_edit_manager.resolve_conflicts)."""
        self.spark = spark
        self.catalog = catalog
        self.conflict_strategy = conflict_strategy
        self.extractor = extractor
        self.summarizer = summarizer
        self.run_id = uuid.uuid4().hex[:12]

    def run_once(self, corpus: DataFrame) -> dict:
        """One incremental pass against the current catalog state.

        Every table a full build writes is refreshed except these, which
        keep describing the previous corpus: ``corpus`` (the registry holds
        its hashes) and ``chunk_embeddings``. Canonicalization's
        diagnostic ``similar`` and ``wcc`` are rewritten from the whole
        new graph, as a full build does. Refreshing ``chunk_embeddings`` costs
        about 1.0-1.2 s (warm, 4 cores, the 200-file benchmark corpus with
        a 2% delta of each kind), so it is left to a separate, measured
        change.

        The community tail is a full build's (`community_stages`):
        communities are re-detected over the whole new graph, summaries
        and PageRank warm-start from the previous run's tables, and
        ``graph_quality`` is rebuilt from the same graph snapshot."""
        cat = self.catalog
        changes = detect_changes(corpus, cat.read("registry"))
        stats = dict(changes.counts)
        if not any(stats.values()):
            return {**stats, "changed": False}
        build = BuildPipeline(self.spark, cat, run_id=self.run_id)
        save = build._save

        # --- snapshot the prior state this run reads AND overwrites, before
        # any rebuild. Checkpointed eagerly: lazy frames would read the NEW
        # data once the catalog tables are rewritten.
        old_chunks = cat.read("chunks")
        gone_docs = changes.deleted.unionByName(changes.modified.select("repo", "path"))
        # N6 GC by chunk provenance: a chunk dies only if no surviving doc
        # shares its text (chunk_id = sha1(text) dedups across docs)
        kept_chunks = old_chunks.join(
            gone_docs, on=["repo", "path"], how="left_anti"
        ).localCheckpoint(eager=True)
        kept_ids = kept_chunks.select("chunk_id")
        kept_records = cat.read("records").join(
            kept_ids, on="chunk_id", how="left_semi"
        ).localCheckpoint(eager=True)

        # manual-edit sync (reference manual_edit_manager.process):
        # manually-edited/protected nodes+edges must survive this run
        prior_nodes = cat.read("nodes") if cat.exists("nodes") else None
        manual_nodes = None
        n_preserved = 0
        if prior_nodes is not None and (
            "manual_edit" in prior_nodes.columns or "protected" in prior_nodes.columns
        ):
            prior_nodes = preserve_manual_edits(
                ensure_edit_columns(prior_nodes), cat.read("mentions"), old_chunks,
                gone_docs.unionByName(changes.added.select("repo", "path")),
            )
            manual_nodes = prior_nodes.filter(
                F.col("manual_edit") | F.col("protected")
            ).localCheckpoint(eager=True)
            n_preserved = manual_nodes.count()
        prior_edges = cat.read("edges") if cat.exists("edges") else None
        manual_edges = None
        if prior_edges is not None and "manual_edit" in prior_edges.columns:
            manual_edges = prior_edges.filter(
                F.coalesce(F.col("manual_edit"), F.lit(False))
            ).localCheckpoint(eager=True)

        # warm starts: the previous rank table (PageRank seed) and summaries
        # (content-addressed reuse: the summarizer runs only on communities
        # whose stringified info changed)
        prior_ranks = (
            cat.read("entity_pagerank").localCheckpoint(eager=True)
            if cat.exists("entity_pagerank") else None
        )
        prior_summaries = (
            cat.read("community_summaries").localCheckpoint(eager=True)
            if self.summarizer is not None and cat.exists("community_summaries")
            else None
        )

        # --- N2: rebuild changed partitions only. Only chunk texts the
        # surviving docs lack are extracted and parsed; the rest of their
        # graph rows are already in kept_records.
        chunks = chunk_stage(
            changes.added.unionByName(changes.modified), save, kept_chunks
        )
        cache = cat.read("extraction_cache") if cat.exists("extraction_cache") else None
        results = extract_stage(
            chunks.join(kept_ids, on="chunk_id", how="left_anti"),
            self.extractor, cache,
        ).localCheckpoint(eager=True)
        cat.upsert("extraction_cache", cache_rows(results), keys=["chunk_sha1"])
        raw = graph_stage(results, save, kept_records)

        # --- N8 consistency: validate, then repair on violations. With no
        # dangling mention, orphan entity or missing edge endpoint, repair
        # is the identity, so the written tables feed embed + canonicalize
        # as they are. Otherwise the repaired frames are checkpointed:
        # canonicalize's actions and table writes would each re-run the
        # repair joins
        validation = {r.check: r.violation_count
                      for r in validation_report(*raw, chunks).collect()}
        if any(validation[c] for c in REPAIRED_CHECKS):
            raw = [df.localCheckpoint(eager=True) for df in repair(*raw, chunks)]

        existing = cat.read("entity_embeddings") if cat.exists("entity_embeddings") else None
        result = canonical_stage(*raw, save, existing)
        save("similar", result.similar)
        save("wcc", result.wcc)
        nodes, edges = result.nodes, result.edges
        n_conflicts = 0
        if manual_nodes is not None:
            # auto rebuild vs manual edits: flagged rows are never silently
            # overwritten — upsert_nodes routes through resolve_conflicts
            # with the configured strategy; manual rows the rebuild dropped
            # are re-inserted (protected from GC)
            nodes = upsert_nodes(manual_nodes, nodes, conflict_strategy=self.conflict_strategy)
            n_conflicts = manual_nodes.join(
                result.nodes.select("entity_id"), on="entity_id", how="left_semi"
            ).count()
        if manual_edges is not None:
            edges = upsert_edges(manual_edges, edges)

        community_stages(
            nodes, edges, result.mentions, chunks, save, summarizer=self.summarizer,
            prior_summaries=prior_summaries, prior_ranks=prior_ranks,
        )
        registry_stage(corpus, save)
        build.flush_metrics()
        return {
            **stats,
            "changed": True,
            "preserved_edits": int(n_preserved),
            "conflicts_resolved": int(n_conflicts),
            "validation": validation,
        }
