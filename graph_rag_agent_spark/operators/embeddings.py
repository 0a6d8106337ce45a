"""Entity / chunk embedding stage.

Reference: EntityIndexManager / ChunkIndexManager
(entity_indexer.py:53-298, chunk_indexer.py:54-120) — OpenAI-compatible
embedding calls batched 32 at a time, only over rows with no embedding yet.

Spark mapping: one Arrow-vectorized pandas UDF over
``concat(entity_id, ' ', description)``; incremental behavior (I4) is an
anti-join against the existing entity_embeddings table, not a flag column.
The embedder is pluggable; the default is the deterministic hash-projection
from functions/embedder.py (the oracle uses the identical function).

Cache-key semantics: the incremental key ``text_sha`` hashes the EMBEDDER
FINGERPRINT along with the text — swapping the embedder (or its dim)
invalidates every cached row, mirroring the reference's needs_reembedding
flag (embedding_manager.py:49-117). Failures degrade per-row to the zero
vector AND are flagged in the ``embed_failed`` column so a wholesale
embedder outage is observable in build_metrics (reference per-row error
logging, entity_indexer.py:189-205) — instead of silently producing an
all-zero table that makes canonicalization a no-op.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from graph_rag_agent_spark.config import EMBEDDING_DIM
from graph_rag_agent_spark.functions.chunking import first_chunk_rows
from graph_rag_agent_spark.functions.embedder import embed_text


def embedding_text_col() -> F.Column:
    """The text embedded per entity — id + description
    (reference entity_indexer.py:53-56 text_node_properties=['id','description'])."""
    return F.concat_ws(" ", F.col("entity_id"), F.col("description"))


def embedder_fingerprint(embedder, dim: int) -> str:
    """Stable identity of (embedder, dim) baked into the incremental cache
    key: a changed embedder must invalidate cached vectors. Custom embedders
    may expose ``.version``; otherwise the qualified class/function name
    stands in (stable across sessions, unlike id())."""
    if embedder is None:
        return f"hashproj-trigram-sha256-v1:d{dim}"
    v = getattr(embedder, "version", None)
    if v:
        return f"{v}:d{dim}"
    t = embedder if isinstance(embedder, type) else type(embedder)
    if t.__module__ == "builtins" or t.__name__ == "function":
        qualname = getattr(embedder, "__qualname__", repr(embedder))
        # a bare '<lambda>' qualname is not a stable identity even with the
        # module prefixed (two lambdas in one module collide) — require an
        # explicit .version instead of silently reusing stale vectors
        if "<lambda>" in qualname:
            raise ValueError(
                "lambda embedders have no stable fingerprint; set a "
                "`.version` attribute (or use a named function/class)"
            )
        name = f"{getattr(embedder, '__module__', 'unknown')}.{qualname}"
    else:
        name = f"{t.__module__}.{t.__qualname__}"
    return f"{name}:d{dim}"


def _embed_rows(texts, dim: int, embedder=None) -> tuple:
    """Per-row embedding with the reference's failure semantics
    (entity_indexer.py:189-205): a row whose embed call raises degrades to
    the ZERO VECTOR and the batch continues — one poisoned row must never
    fail the task (at 10⁹ rows a per-task failure is a pipeline outage).
    → (vectors, failed_flags)."""
    fn = embedder or embed_text
    out, failed = [], []
    for t in texts:
        try:
            vec = fn(t, dim)
            out.append([float(x) for x in vec])
            failed.append(False)
        except Exception:
            out.append([0.0] * dim)
            failed.append(True)
    return out, failed


def embed_entities(
    nodes: DataFrame,
    existing: Optional[DataFrame] = None,
    embedder=None,
) -> DataFrame:
    """nodes(entity_id, description, ...) →
    entity_embeddings(entity_id, embedding, text_sha, embed_failed).

    `existing` (previous entity_embeddings table) short-circuits rows whose
    embedded text AND embedder fingerprint are unchanged; a changed
    description — or a swapped embedder — re-embeds (text_sha hashes the
    fingerprint, so stale vectors from a different embedder are never
    reused). Embeddings of entities no longer in `nodes` are dropped.
    `embedder` is the pluggable text→vector slot (an OpenAI-compatible
    client in the reference); failures zero-vector AND flag the row, not
    the task."""
    ver = embedder_fingerprint(embedder, EMBEDDING_DIM)
    cur = nodes.select(
        "entity_id",
        embedding_text_col().alias("_text"),
        F.sha2(F.concat_ws("|", F.lit(ver), embedding_text_col()), 256).alias("text_sha"),
    )
    valid = None
    if existing is not None and "text_sha" in existing.columns:
        prev = existing
        if "embed_failed" not in prev.columns:
            prev = prev.withColumn("embed_failed", F.lit(False))
        # failed rows are NOT reusable: a zero-vector written during an
        # embedder outage must be retried next run (reference retry-on-NULL
        # semantics, chunk_indexer.py embeds rows WHERE embedding IS NULL) —
        # without this filter a transient outage poisons the table until the
        # text itself changes
        prev = prev.filter(~F.col("embed_failed"))
        valid = prev.select("entity_id", "embedding", "text_sha", "embed_failed").join(
            cur.select("entity_id", "text_sha"),
            on=["entity_id", "text_sha"],
            how="left_semi",
        )
        todo = cur.join(valid.select("entity_id"), on="entity_id", how="left_anti")
    else:
        todo = cur

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            embs, failed = _embed_rows(pdf["_text"].fillna(""), EMBEDDING_DIM, embedder)
            yield pd.DataFrame(
                {
                    "entity_id": pdf["entity_id"],
                    "embedding": embs,
                    "text_sha": pdf["text_sha"],
                    "embed_failed": failed,
                }
            )

    # keep the UDF stage at full parallelism (AQE would coalesce the small
    # node shuffle to ~1 partition; embedding cost is per-row, not per-byte)
    n_part = nodes.sparkSession.sparkContext.defaultParallelism
    fresh = todo.repartition(n_part, "entity_id").mapInPandas(
        run,
        schema="entity_id string, embedding array<double>, text_sha string, "
               "embed_failed boolean",
    )
    return fresh.unionByName(valid) if valid is not None else fresh


def embed_chunks(
    chunks: DataFrame,
    existing: Optional[DataFrame] = None,
    embedder=None,
) -> DataFrame:
    """I2: chunks(chunk_id, text) →
    chunk_embeddings(chunk_id, embedding, embed_version, embed_failed).

    chunk_id IS the text hash (sha1 of text, struct_builder.py:82), so the
    incremental anti-join on chunk_id alone is already text-change-aware
    (reference chunk_indexer.py:54-120 embeds rows with embedding IS NULL);
    the stored embed_version additionally invalidates rows produced by a
    DIFFERENT embedder — same needs_reembedding semantics as entities."""
    ver = embedder_fingerprint(embedder, EMBEDDING_DIM)
    todo = chunks.select("chunk_id", "text")
    if existing is not None:
        if "embed_version" in existing.columns:
            existing = existing.filter(F.col("embed_version") == ver)
        else:  # legacy table without version → re-embed everything
            existing = existing.limit(0)
        if "embed_failed" not in existing.columns:
            existing = existing.withColumn("embed_failed", F.lit(False))
        # same retry-on-failure semantics as entities: flagged rows drop out
        # of the reusable set, so the anti-join re-embeds them
        existing = existing.filter(~F.col("embed_failed"))
        todo = todo.join(existing.select("chunk_id"), on="chunk_id", how="left_anti")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # equal chunk_ids land in one partition of the hash repartition
        # below, so the per-partition dedup is exact
        for pdf in first_chunk_rows(batches):
            embs, failed = _embed_rows(pdf["text"].fillna(""), EMBEDDING_DIM, embedder)
            yield pd.DataFrame(
                {
                    "chunk_id": pdf["chunk_id"],
                    "embedding": embs,
                    "embed_version": ver,
                    "embed_failed": failed,
                }
            )

    # one shuffle at one partition per core, as embed_entities: a
    # dropDuplicates shuffle would be coalesced by AQE into one task
    n_part = chunks.sparkSession.sparkContext.defaultParallelism
    fresh = todo.repartition(n_part, "chunk_id").mapInPandas(
        run,
        schema="chunk_id string, embedding array<double>, embed_version string, "
               "embed_failed boolean",
    )
    if existing is not None:
        fresh = fresh.unionByName(
            existing.select("chunk_id", "embedding", "embed_version", "embed_failed")
        )
    return fresh
