"""End-to-end build orchestration.

The reference's hard-coded Python orchestration (integrations/build/main.py:
process_all → KnowledgeGraphBuilder → IndexCommunityBuilder → ChunkIndexBuilder)
becomes one list of DataFrame stages, defined once here and shared by
four callers:

  chunk_stage → extract_stage → graph_stage (records → occurrences /
  edges_raw → nodes_raw / mentions_raw) → canonical_stage (embed +
  canonicalize) → community_stages (detect → memberships + hierarchy →
  rank → summaries → PageRank → graph_quality) → registry_stage

The stages take frames and a materializer, no config: each calls its
operators with their keyword defaults, the constants of config.py.

community_stages builds its whole tail on the driver from one Arrow
snapshot of the canonical graph when that graph fits the driver gate
(`communities.community_tail_on_driver`), and with the distributed
operators otherwise; the tables are equal either way.

Each stage hands its outputs to a ``materialize(name, df) -> df`` callable
that decides where they live:

- ``BuildPipeline._save`` writes the catalog table (the checkpoint) with a
  row in ``build_metrics`` (per-stage row counts + durations + run id — the
  per-partition lineage the north rule requires). ``BuildPipeline.run`` and
  ``IncrementalUpdatePipeline.run_once`` both use it.
- ``_checkpoint`` keeps everything lazy except the records and entity
  embeddings, which it localCheckpoints — ``run_kg_build_in_memory``, the
  benchmarking path.
- ``__spark_entry__._record`` localCheckpoints the frames its queries
  share and keeps every named frame in a per-session memo — the driver
  contract's KG build, which the oracle-checked queries read.

Resumability: ``resume=True`` skips the corpus and chunk stages whose
tables already exist, and the extraction stage is always incremental via
the extraction_cache anti-join.

Tables written (SURVEY.md §1.4):
  corpus, chunks, extraction_cache, records, occurrences, nodes_raw,
  edges_raw, mentions_raw, entity_embeddings, similar, wcc, nodes, edges,
  mentions, entity_communities, communities, community_hierarchy,
  community_summaries, entity_pagerank, chunk_embeddings, graph_quality,
  registry, build_metrics
"""

from __future__ import annotations

import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from graph_rag_agent_spark.config import PAGERANK_MAX_ITER, PAGERANK_TOL
from graph_rag_agent_spark.operators.canonicalize import canonicalize
from graph_rag_agent_spark.operators.chunker import chunk_documents
from graph_rag_agent_spark.operators.communities import (
    community_hierarchy,
    community_membership,
    community_rank,
    community_tail_on_driver,
    detect_communities,
    summarize_communities,
    weighted_projection,
)
from graph_rag_agent_spark.operators.embeddings import embed_chunks, embed_entities
from graph_rag_agent_spark.operators.extraction import (
    cache_rows,
    cached_results,
    extract_chunks,
)
from graph_rag_agent_spark.operators.graph_metrics import graph_quality_report
from graph_rag_agent_spark.operators.pagerank import pagerank_projection
from graph_rag_agent_spark.operators.parsing import (
    derive_nodes,
    occurrences_from_records,
    parse_records,
    relationships_from_records,
)
from graph_rag_agent_spark.session import local_frame
from graph_rag_agent_spark.sources.catalog import TableCatalog

# table -> the build_metrics stage that materializes it
STAGES = {
    "corpus": "corpus", "chunks": "chunk", "extraction_cache": "extract",
    "records": "parse_records", "occurrences": "parse_occurrences",
    "edges_raw": "parse_edges", "nodes_raw": "parse_nodes",
    "mentions_raw": "parse_mentions", "entity_embeddings": "embed",
    "similar": "similar_join", "wcc": "wcc", "nodes": "canonicalize_nodes",
    "edges": "canonicalize_edges", "mentions": "canonicalize_mentions",
    "entity_communities": "communities_detect",
    "communities": "communities_membership",
    "community_hierarchy": "communities_hierarchy",
    "community_summaries": "communities_summarize",
    "entity_pagerank": "pagerank", "chunk_embeddings": "embed_chunks",
    "graph_quality": "graph_quality", "registry": "registry",
}


def salted_corpus_repartition(corpus: DataFrame, n_partitions: int) -> DataFrame:
    """Hot-repo/lang skew salting: repartition by a hash of (repo, path) —
    never by repo alone — so a repo holding half the corpus spreads across
    all partitions (each file is its own key; 2¹⁶ salt buckets bound the
    key space without losing balance at any practical partition count)."""
    return corpus.repartition(
        n_partitions, F.pmod(F.xxhash64("repo", "path"), F.lit(1 << 16))
    )


# -- stages ----------------------------------------------------------------
def chunk_stage(corpus, materialize, kept_chunks=None):
    """corpus → chunks. `kept_chunks` (incremental): the surviving docs'
    chunks, which join the changed docs' in the table."""
    chunks = chunk_documents(corpus)
    if kept_chunks is not None:
        chunks = chunks.unionByName(kept_chunks)
    return materialize("chunks", chunks)


def extract_stage(chunks, extractor=None, cache=None):
    """chunks → (chunk_id, raw_result), lazy. `cache` is the
    extraction_cache table; its hits skip the extractor."""
    return extract_chunks(chunks, extractor=extractor, cache=cache)


def graph_stage(results, materialize, kept_records=None):
    """results → records → occurrences / edges_raw → nodes_raw /
    mentions_raw; → (nodes_raw, edges_raw, mentions_raw).

    ONE regex pass: the tagged records table; every downstream parse table
    derives from it via regex-free splits/aggregates. `kept_records`
    (incremental): the surviving chunks' records — records are
    chunk-provenanced, so GC + union is exactly a full rebuild's records."""
    records = parse_records(results)
    if kept_records is not None:
        records = records.unionByName(kept_records)
    records = materialize("records", records)
    occurrences = materialize("occurrences", occurrences_from_records(records))
    edges_raw = materialize("edges_raw", relationships_from_records(records))
    # lazy under _checkpoint: the node groupBy pipelines into the embed job
    nodes_raw = materialize("nodes_raw", derive_nodes(occurrences))
    # occurrences are one row per (chunk, entity) — mentions is a projection
    mentions_raw = materialize("mentions_raw", occurrences.select("chunk_id", "entity_id"))
    return nodes_raw, edges_raw, mentions_raw


def canonical_stage(nodes_raw, edges_raw, mentions_raw, materialize, existing=None):
    """embed → canonicalize; → CanonicalizationResult (lazy). `existing` is
    the prior entity_embeddings table; unchanged texts keep their vectors."""
    embeddings = embed_entities(nodes_raw, existing=existing)
    if existing is not None:
        # materialize before overwriting the table being lazily read
        embeddings = embeddings.localCheckpoint(eager=True)
    embeddings = materialize("entity_embeddings", embeddings)
    return canonicalize(nodes_raw, edges_raw, mentions_raw, embeddings)


def community_stages(nodes, edges, mentions, chunks, materialize, summarizer=None,
                     prior_summaries=None, prior_ranks=None) -> dict:
    """canonical graph → communities, summaries, PageRank and
    graph_quality; → every table it materialized, by name.

    A graph that fits the driver gate is fetched ONCE
    (`community_tail_on_driver`: one `collect_if_fits` probe each of
    edges, mentions, nodes, the chunk ids and the prior ranks; a graph
    whose projection is too large stops after the edges), and every
    tail table is built from that snapshot on the driver — the reference
    likewise runs this tail inside one Neo4j JVM. Above the gate the
    distributed operators run: detect_communities (driver Leiden kernel or
    the distributed modularity loop, by projected size) → memberships +
    hierarchy → rank → summaries → PageRank → graph_quality_report. Both
    paths give the same rows.

    The warm starts are the incremental run's, None on a full build:
    `prior_summaries` reuses the summary of every community whose
    stringified info is unchanged; `prior_ranks` seeds the PageRank
    fixpoint. Detection itself re-runs over the whole graph: the modularity
    gain divides by the global edge weight, so it is not component-local."""
    out = {}

    def save(name, df):
        out[name] = materialize(name, df)
        return out[name]

    nodes, edges, mentions = (
        save("nodes", nodes), save("edges", edges), save("mentions", mentions)
    )
    tail = community_tail_on_driver(
        nodes, edges, mentions, chunks, prior_ranks=prior_ranks,
        summarizer=summarizer, prior_summaries=prior_summaries,
    )
    if tail is not None:
        for name, df in tail.items():
            save(name, df)
        return out

    entity_comms = save("entity_communities", detect_communities(nodes, edges))
    membership = save("communities", community_membership(entity_comms))
    save("community_hierarchy", community_hierarchy(entity_comms))
    rank = community_rank(membership, mentions)
    save("community_summaries", summarize_communities(
        membership, nodes, edges, rank, summarizer=summarizer, prior=prior_summaries,
    ))
    # entity PageRank (tol-mode fixpoint) — the table the next incremental
    # run warm-starts from
    save("entity_pagerank", pagerank_projection(
        weighted_projection(edges), tol=PAGERANK_TOL,
        n_iter=PAGERANK_MAX_ITER, initial_ranks=prior_ranks,
    ))
    # graph-quality metrics (reference evaluation framework analogue)
    save("graph_quality", graph_quality_report(nodes, edges, mentions, chunks, membership))
    return out


def registry_stage(corpus, materialize):
    """The per-file content hashes the next incremental run diffs against."""
    return materialize("registry", corpus.select(
        "repo", "path",
        F.sha2("content", 256).alias("content_sha256"),
        F.current_timestamp().alias("processed_at"),
    ))


IN_MEMORY_CHECKPOINTS = ("records", "entity_embeddings")


def _checkpoint(name: str, df: DataFrame) -> DataFrame:
    """The in-memory materializer. Chunking pipelines INTO extraction and
    record discovery in one pass, so the one checkpointed frame out of the
    burn phase is the records table; every later derivation is a regex-free
    split/aggregate over it. Whatever runs right after the all-core
    extraction burn crawls on thermally-throttled hosts (BENCH.md), so the
    post-burn phase must be as few and as cheap jobs as possible. The
    embeddings checkpoint keeps canonicalize's convergence actions from
    recomputing chunk→extract→parse→embed once per action."""
    return df.localCheckpoint(eager=True) if name in IN_MEMORY_CHECKPOINTS else df


def run_kg_build_in_memory(spark, corpus, extractor=None):
    """BuildPipeline's stages through canonicalize, with localCheckpoint
    stage boundaries instead of catalog writes — the benchmarking path."""
    chunks = chunk_stage(corpus, _checkpoint)
    raw = graph_stage(extract_stage(chunks, extractor), _checkpoint)
    return canonical_stage(*raw, _checkpoint)


class BuildPipeline:
    def __init__(
        self,
        spark: SparkSession,
        catalog: TableCatalog,
        extractor=None,
        run_id: Optional[str] = None,
        summarizer=None,
    ):
        self.spark = spark
        self.catalog = catalog
        self.extractor = extractor
        self.summarizer = summarizer
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self._metrics: list = []
        self._t0 = time.time()

    # -- lineage -----------------------------------------------------------
    def flush_metrics(self) -> None:
        mdf = local_frame(
            self.spark, self._metrics,
            "stage string, row_count bigint, duration_ms bigint, run_id string",
        ).withColumn("recorded_at", F.current_timestamp())
        self.catalog.write(mdf, "build_metrics", mode="append" if self.catalog.exists("build_metrics") else "overwrite")
        self._metrics = []

    def _save(self, name: str, df: DataFrame) -> DataFrame:
        """The catalog materializer: write a stage table once and read it
        back. The lineage row count comes FROM THE WRITE JOB ITSELF via
        Observation — no read-back count() job per stage (round-2's
        per-stage lineage scans were a measured chunk of the small-stage
        tail that capped scaling efficiency) — and the stage's duration
        runs from the previous save. A table with an `embed_failed` flag
        also records its failure count on the same pass: a systemically
        failing embedder (bad credentials, dead endpoint) zero-vectors
        every row, and the rate distinguishes 'no duplicates found' from
        'embedder down' (reference per-row logging)."""
        stage = STAGES[name]
        obs = Observation(f"save_{name}_{uuid.uuid4().hex[:8]}")
        aggs = [F.count(F.lit(1)).alias("rows")]
        if "embed_failed" in df.columns:
            aggs.append(F.sum(F.col("embed_failed").cast("int")).alias("failures"))
        out = self.catalog.write(df.observe(obs, *aggs), name)
        got, now = obs.get, time.time()
        ms = int((now - self._t0) * 1000)
        self._metrics.append((stage, int(got["rows"]), ms, self.run_id))
        if "failures" in got:
            self._metrics.append(
                (f"{stage}_failures", int(got["failures"] or 0), ms, self.run_id)
            )
        self._t0 = now
        return out

    def run(self, corpus: DataFrame, resume: bool = False) -> dict:
        """corpus(repo, path, commit, lang, content) → all graph tables.

        The corpus is repartitioned by repo-hash first (hot-repo skew: one
        repo can hold half the rows — salting by hash spreads its files)."""
        cat, save = self.catalog, self._save
        self._t0 = time.time()

        if resume and cat.exists("corpus"):
            corpus = cat.read("corpus")
        else:
            corpus = save("corpus", salted_corpus_repartition(
                corpus, int(self.spark.conf.get("spark.sql.shuffle.partitions"))
            ))
        if resume and cat.exists("chunks"):
            chunks = cat.read("chunks")
        else:
            chunks = chunk_stage(corpus, save)

        cache = cat.read("extraction_cache") if cat.exists("extraction_cache") else None
        results = extract_stage(chunks, self.extractor, cache)
        if cache is not None:
            # materialize before overwriting the parquet we are lazily reading
            results = results.localCheckpoint(eager=True)
        results = cached_results(save("extraction_cache", cache_rows(results)))

        raw = graph_stage(results, save)
        existing = (
            cat.read("entity_embeddings") if (resume and cat.exists("entity_embeddings")) else None
        )
        result = canonical_stage(*raw, save, existing)
        save("similar", result.similar)
        save("wcc", result.wcc)
        out = community_stages(
            result.nodes, result.edges, result.mentions, chunks, save,
            summarizer=self.summarizer,
        )

        # chunk embeddings (I2, reference ChunkIndexBuilder — build step 3)
        existing_cemb = (
            cat.read("chunk_embeddings") if (resume and cat.exists("chunk_embeddings")) else None
        )
        chunk_embs = embed_chunks(chunks, existing=existing_cemb)
        if existing_cemb is not None:
            chunk_embs = chunk_embs.localCheckpoint(eager=True)
        save("chunk_embeddings", chunk_embs)
        # registry snapshot for incremental diffs (N1)
        registry_stage(corpus, save)

        self.flush_metrics()
        return {"chunks": chunks, **out}
