"""Seeded inputs, operations and output checks of the benchmark workloads.

A workload has one operation, which runs once per process so that it is
always cold the same way:

- ``build_full``: ``BuildPipeline.run`` into an empty warehouse;
- ``incremental_delta``: ``IncrementalUpdatePipeline.run_once`` with a
  seeded delta against a base warehouse built during set-up.

``make_inputs`` builds the seeded input frames (set-up repeats it so its
median is reported), ``prepare`` does the rest of set-up, ``op`` is the
timed operation and ``check`` compares its triples with the pure-Python
reference builder on the same corpus.

After the operation, ``QueryStream`` serves a seeded stream of local and
global search requests from the warehouse the operation left behind.
"""

from __future__ import annotations

import hashlib
import random
import statistics

import pandas as pd
from pyspark.sql import functions as F

from graph_rag_agent_spark.functions.chunking import chunk_records
from graph_rag_agent_spark.functions.embedder import embed_text
from graph_rag_agent_spark.operators import search
from graph_rag_agent_spark.oracle.reference_builder import build_reference_graph
from graph_rag_agent_spark.plans.build import BuildPipeline
from graph_rag_agent_spark.plans.incremental_update import IncrementalUpdatePipeline
from graph_rag_agent_spark.sources.catalog import TableCatalog
from graph_rag_agent_spark.sources.corpus import generate_corpus_pdf

CORPUS_SCHEMA = "repo string, path string, commit string, lang string, content string"

# query vocabulary for the search stream: names the synthetic corpus plants
QUERY_NAMES = ("DataLoader", "ConfigParser", "HttpClient", "QueryPlanner",
               "TokenStream", "GraphWriter", "IndexBuilder", "CacheManager")
QUERY_VERBS = ("load_batch", "parse_config", "fetch_page", "plan_query",
               "write_graph", "build_index", "route_event", "map_shard")
LOCAL_PER_GLOBAL = 4


def corpus_delta(base: pd.DataFrame, seed: int, n_each: int):
    """-> (post-delta corpus, expected change counts, changed files).

    Deletes ``n_each`` files, appends a class to ``n_each`` others and adds
    ``n_each`` new files under ``delta/``. File 0 (the >500k-char file) is
    left alone so the pass stays a small delta. The changed files are drawn
    one per size stratum, so every seed changes a similar volume of text."""
    rng = random.Random(seed)
    picks = _stratified(rng, base.loc[1:, "content"], 2 * n_each)
    rng.shuffle(picks)
    deleted, modified = picks[:n_each], picks[n_each:]
    after = base.drop(index=deleted).copy()
    for i in modified:
        cls, parent = rng.choice(QUERY_NAMES), rng.choice(QUERY_NAMES)
        verb = rng.choice(QUERY_VERBS)
        after.loc[i, "content"] = (
            (after.loc[i, "content"] or "")
            + f"\n\nclass {cls}Patch{i}({parent}):\n"
            + f"    def {verb}(self, arg):\n        return {verb}(arg)\n"
        )
    pool = generate_corpus_pdf(4 * n_each, seed=seed + 7919).iloc[1:]
    added = pool.loc[_stratified(rng, pool["content"], n_each)].reset_index(drop=True)
    added["path"] = "delta/" + added["path"]
    added["commit"] = [
        hashlib.sha1(f"{r}:{p}".encode()).hexdigest()
        for r, p in zip(added["repo"], added["path"])
    ]
    changed = pd.concat([after.loc[modified], added], ignore_index=True)
    after = pd.concat([after, added], ignore_index=True)
    expected = {"added": n_each, "modified": n_each, "deleted": n_each}
    return after, expected, changed


def _stratified(rng: random.Random, contents: pd.Series, k: int) -> list:
    """k index labels of ``contents``, one drawn from each of k equal-count
    strata by text length."""
    by_size = contents.str.len().sort_values(kind="stable").index.tolist()
    edges = [round(j * len(by_size) / k) for j in range(k + 1)]
    return [by_size[rng.randrange(edges[j], edges[j + 1])] for j in range(k)]


def chunk_ids(pdf: pd.DataFrame) -> set:
    return {
        rec.chunk_id for content in pdf["content"] for rec in chunk_records(content or "")
    }


def content_mb(pdf: pd.DataFrame) -> float:
    return sum(len((c or "").encode("utf-8")) for c in pdf["content"]) / (1024.0 * 1024.0)


class Workload:
    """Seeded corpus frame and the warehouse the operation writes."""

    def __init__(self, spark, work: str, seed: int, n_files: int):
        self.spark = spark
        self.seed = seed
        self.n_files = n_files
        self.catalog = TableCatalog(spark, f"{work}/warehouse")
        self.triples: set = set()
        self._frames: list = []

    def frame(self, pdf: pd.DataFrame):
        df = self.spark.createDataFrame(pdf, schema=CORPUS_SCHEMA).localCheckpoint(eager=True)
        self._frames.append(df)
        return df

    def make_inputs(self) -> None:
        for df in self._frames:
            df.unpersist()
        self._frames = []
        self.pdf = generate_corpus_pdf(self.n_files, seed=self.seed)
        self.corpus = self.frame(self.pdf)

    def prepare(self) -> None:
        pass

    def check(self, out) -> bool:
        """The warehouse's triples equal the reference builder's."""
        got = {
            (r.subj, r.pred, r.obj)
            for r in self.catalog.read("edges").select("subj", "pred", "obj").collect()
        }
        self.triples = build_reference_graph(self.final_pdf()).triples
        return got == self.triples

    def final_pdf(self) -> pd.DataFrame:
        return self.pdf


class BuildFull(Workload):
    """One cold ``BuildPipeline.run`` into an empty warehouse."""

    def op(self):
        return BuildPipeline(self.spark, self.catalog).run(self.corpus)

    def stage_rows(self) -> dict:
        """stage -> rows written, from the build's own lineage table."""
        return {r.stage: r.row_count for r in self.catalog.read("build_metrics").collect()}

    def report(self, op_s):
        return {"build_s": op_s, "triples": len(self.triples),
                "triples_per_s": len(self.triples) / op_s}

    def trace_extra(self):
        return {"changed_mb": content_mb(self.pdf), "chunks_in": len(chunk_ids(self.pdf)),
                "cache_hit_ratio": 0.0}


class IncrementalDelta(Workload):
    """One ``IncrementalUpdatePipeline.run_once`` against a base warehouse
    built from the pre-delta corpus during set-up."""

    def make_inputs(self):
        super().make_inputs()
        n_each = max(1, self.n_files // 50)
        self.after_pdf, self.expected_stats, self.changed_pdf = corpus_delta(
            self.pdf, self.seed, n_each
        )
        self.after = self.frame(self.after_pdf)

    def prepare(self):
        BuildPipeline(self.spark, self.catalog).run(self.corpus)

    def op(self):
        return IncrementalUpdatePipeline(self.spark, self.catalog).run_once(self.after)

    def check(self, stats) -> bool:
        counts = {k: stats.get(k) for k in self.expected_stats}
        return (
            stats.get("changed") is True
            and counts == self.expected_stats
            and super().check(stats)
        )

    def final_pdf(self):
        return self.after_pdf

    def report(self, op_s):
        return {"incremental_s": op_s, **self.expected_stats}

    def trace_extra(self):
        delta = chunk_ids(self.changed_pdf)
        hits = len(delta & chunk_ids(self.pdf))
        return {"changed_mb": content_mb(self.changed_pdf), "chunks_in": len(delta),
                "cache_hit_ratio": hits / len(delta) if delta else 0.0}


class QueryStream:
    """A seeded cycle of ``LOCAL_PER_GLOBAL`` local requests and one global
    request, read-only, against a built warehouse.

    A local request embeds a query string, picks seeds with
    ``seed_entities_by_similarity`` and collects ``local_search_context``;
    a global request runs ``global_search_map`` then
    ``global_search_reduce``."""

    def __init__(self, spark, catalog: TableCatalog, seed: int):
        self.spark = spark
        self.t = {
            name: catalog.read(name)
            for name in ("chunks", "mentions", "edges", "communities",
                         "community_summaries", "nodes")
        }
        # the vector index holds canonical entities only, as a graph
        # store's entity index would after merging
        self.index = (
            catalog.read("entity_embeddings")
            .join(self.t["nodes"].select("entity_id"), on="entity_id", how="left_semi")
            .localCheckpoint(eager=True)
        )
        self.node_ids = {r.entity_id for r in self.t["nodes"].select("entity_id").collect()}
        level = self.t["community_summaries"].agg(F.min("level")).first()[0]
        rng = random.Random(seed)
        # the global request leads each cycle, so every run's mix is the same
        self.stream = [("global", level)] + [
            ("local", f"{rng.choice(QUERY_NAMES)} {rng.choice(QUERY_VERBS)}")
            for _ in range(LOCAL_PER_GLOBAL)
        ]
        self.digests: dict = {}

    def kind(self, i: int) -> str:
        return self.stream[i % len(self.stream)][0]

    def _local(self, text):
        t = self.t
        query = embed_text(text).tolist()
        seeds = [r.entity_id for r in search.seed_entities_by_similarity(self.index, query).collect()]
        seed_df = self.spark.createDataFrame([(s,) for s in seeds], "entity_id string")
        sections = search.local_search_context(
            t["chunks"], t["mentions"], t["edges"], t["communities"],
            t["community_summaries"], seed_df,
        ).collect()
        return seeds, sorted((r.section, r.content) for r in sections)

    def _global(self, level):
        mapped = search.global_search_map(self.t["community_summaries"], level=level)
        return search.global_search_reduce(mapped)

    def request(self, i: int):
        kind, arg = self.stream[i % len(self.stream)]
        return self._local(arg) if kind == "local" else self._global(arg)

    def repeats(self, n: int) -> list:
        """Indices that repeat the first global and the first local request
        after ``n`` requests, so every run checks repeated outputs."""
        base = len(self.stream) * (n // len(self.stream) + 1)
        return [base, base + 1]

    def check(self, i: int, out) -> bool:
        """Seeds exist in ``nodes``, sections are non-empty, and a repeated
        request returns the same digest as its first occurrence."""
        if self.kind(i) == "local":
            seeds, sections = out
            ok = (
                bool(seeds) and set(seeds) <= self.node_ids
                and bool(sections) and all(content for _, content in sections)
            )
        else:
            ok = bool(out)
        digest = hashlib.sha256(repr(out).encode("utf-8")).hexdigest()
        return ok and self.digests.setdefault(i % len(self.stream), digest) == digest

    def report(self, query_s: list) -> dict:
        out = {}
        for kind in ("local", "global"):
            ms = sorted(1000.0 * s for i, s in enumerate(query_s) if self.kind(i) == kind)
            if ms:
                out[f"{kind}_search_p50_ms"] = statistics.median(ms)
                out[f"{kind}_search_max_ms"] = ms[-1]
                out[f"{kind}_requests"] = len(ms)
        return out


WORKLOADS = {
    "build_full": BuildFull,
    "incremental_delta": IncrementalDelta,
}
