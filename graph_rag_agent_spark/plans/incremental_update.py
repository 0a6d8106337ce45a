"""Orchestrated incremental run (reference N7, incremental_update.py:355-409).

Order mirrors the reference: detect changes → rebuild changed partitions →
GC deleted docs → refresh embeddings (anti-join incremental) →
consistency validate/repair → re-detect communities.

The incremental-only steps live here; they feed plans/build.py's shared
stages, which materialize every table through BuildPipeline's catalog saver
(Iceberg MERGE INTO when a real catalog is configured; anti-join+rewrite
parquet emulation otherwise), one build_metrics lineage row per stage.
"""

from __future__ import annotations

import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession, functions as F

from graph_rag_agent_spark.config import PipelineConfig
from graph_rag_agent_spark.operators.communities import weighted_projection
from graph_rag_agent_spark.operators.consistency import repair, validation_report
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
        config: Optional[PipelineConfig] = None,
        extractor=None,
        summarizer=None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.config = config or PipelineConfig()
        self.extractor = extractor
        self.summarizer = summarizer
        self.run_id = uuid.uuid4().hex[:12]

    def run_once(self, corpus: DataFrame) -> dict:
        """One incremental pass against the current catalog state.

        Every table a full build writes is refreshed except these, which
        keep describing the previous corpus: ``corpus`` (the registry holds
        its hashes), canonicalization's diagnostic ``similar`` and ``wcc``,
        and ``chunk_embeddings`` and ``graph_quality``. Refreshing the last
        two costs about 1.0-1.2 s and 1.9-2.6 s (warm, 4 cores, the 200-file
        benchmark corpus with a 2% delta of each kind) — roughly 15% of the
        pass — so it is left to a separate, measured change."""
        cat, cfg = self.catalog, self.config
        changes = detect_changes(corpus, cat.read("registry"))
        n_added = changes.added.count()
        n_modified = changes.modified.count()
        n_deleted = changes.deleted.count()
        stats = {"added": n_added, "modified": n_modified, "deleted": n_deleted}
        if not (n_added or n_modified or n_deleted):
            return {**stats, "changed": False}
        build = BuildPipeline(self.spark, cat, cfg, run_id=self.run_id)
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

        # warm starts: the previous rank table (PageRank seed), summaries
        # (content-addressed reuse: the summarizer runs only on communities
        # whose stringified info changed) and, in LPA mode, the previous
        # projection + membership (scoped re-detection)
        prior_ranks = (
            cat.read("entity_pagerank").localCheckpoint(eager=True)
            if cat.exists("entity_pagerank") else None
        )
        prior_summaries = (
            cat.read("community_summaries").localCheckpoint(eager=True)
            if self.summarizer is not None and cat.exists("community_summaries")
            else None
        )
        prior_lpa = None
        if (cfg.community_method == "lpa" and cat.exists("lpa_membership")
                and prior_edges is not None):
            prior_lpa = (
                weighted_projection(prior_edges).localCheckpoint(eager=True),
                cat.read("lpa_membership").localCheckpoint(eager=True),
            )

        # --- N2: rebuild changed partitions only. Only chunk texts the
        # surviving docs lack are extracted and parsed; the rest of their
        # graph rows are already in kept_records.
        chunks = chunk_stage(
            changes.added.unionByName(changes.modified), cfg, save, kept_chunks
        )
        cache = cat.read("extraction_cache") if cat.exists("extraction_cache") else None
        results = extract_stage(
            chunks.join(kept_ids, on="chunk_id", how="left_anti"),
            cfg, self.extractor, cache,
        ).localCheckpoint(eager=True)
        cat.upsert(
            "extraction_cache",
            results.select(F.col("chunk_id").alias("chunk_sha1"), "raw_result"),
            keys=["chunk_sha1"],
        )
        raw = graph_stage(results, save, kept_records)

        # --- N8 consistency repair: a no-op on a consistent delta. The
        # repaired frames feed embed + canonicalize, whose actions and
        # table writes would each re-run the repair joins
        report = validation_report(*raw, chunks)
        raw = [df.localCheckpoint(eager=True) for df in repair(*raw, chunks)]

        existing = cat.read("entity_embeddings") if cat.exists("entity_embeddings") else None
        result = canonical_stage(*raw, cfg, save, existing)
        nodes, edges = result.nodes, result.edges
        n_conflicts = 0
        if manual_nodes is not None:
            # auto rebuild vs manual edits: flagged rows are never silently
            # overwritten — upsert_nodes routes through resolve_conflicts
            # with the configured strategy; manual rows the rebuild dropped
            # are re-inserted (protected from GC)
            nodes = upsert_nodes(manual_nodes, nodes, conflict_strategy=cfg.conflict_strategy)
            n_conflicts = manual_nodes.join(
                result.nodes.select("entity_id"), on="entity_id", how="left_semi"
            ).count()
        if manual_edges is not None:
            edges = upsert_edges(manual_edges, edges)

        community_stages(
            nodes, edges, result.mentions, cfg, save, summarizer=self.summarizer,
            prior_lpa=prior_lpa, prior_summaries=prior_summaries, prior_ranks=prior_ranks,
        )
        registry_stage(corpus, save)
        build.flush_metrics()
        return {
            **stats,
            "changed": True,
            "preserved_edits": int(n_preserved),
            "conflicts_resolved": int(n_conflicts),
            "validation": {r.check: r.violation_count for r in report.collect()},
        }
