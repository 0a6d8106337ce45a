"""Triple-extraction stage (the reference's LLM map, Spark-native).

Reference: EntityRelationExtractor.process_chunks_batch
(reference entity_extractor.py:145-332) — ThreadPool + pickle cache +
dynamic micro-batching. Here:

- the pickle cache becomes the ``extraction_cache(chunk_sha1, raw_result)``
  table and a LEFT ANTI join selects the misses (entity_extractor.py:164-176
  → one shuffle-free broadcast-able join instead of per-key file IO);
- chunk texts are deduplicated by chunk_id (= sha1(text), the cache key) so
  a text repeated across documents is extracted once;
- the extractor runs inside `mapInPandas` — one Arrow batch in, dynamic
  micro-batches of chunks per model call inside (entity_extractor.py:236-240),
  mismatch repair per batch;
- results re-join the full chunk set by chunk_id.

Scale notes: the anti-join key (chunk_sha1) is uniformly distributed
(it's a hash) — no skew; extraction itself is map-only; caching makes
re-runs an incremental anti-join (resumability).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from graph_rag_agent_spark.config import MAX_GLEANINGS
from graph_rag_agent_spark.functions.chunking import first_chunk_rows
from graph_rag_agent_spark.functions.extractor import (
    DeterministicCodeExtractor,
    Extractor,
    apply_gleanings,
    dynamic_batch_size,
    extract_batch,
)

RESULTS_SCHEMA = "chunk_id string, raw_result string"


def cache_rows(results: DataFrame) -> DataFrame:
    """(chunk_id, raw_result) → extraction_cache rows (chunk_sha1,
    raw_result). The table keeps the `chunk_sha1` name existing warehouses
    hold; `cached_results` reads it back."""
    return results.select(F.col("chunk_id").alias("chunk_sha1"), "raw_result")


def cached_results(cache: DataFrame) -> DataFrame:
    """extraction_cache rows → (chunk_id, raw_result)."""
    return cache.select(F.col("chunk_sha1").alias("chunk_id"), "raw_result")


def extract_chunks(
    chunks: DataFrame,
    extractor: Optional[Extractor] = None,
    cache: Optional[DataFrame] = None,
    max_gleanings: int = MAX_GLEANINGS,
) -> DataFrame:
    """chunks → (chunk_id, raw_result); one row per distinct chunk text.

    `cache` is an existing extraction_cache(chunk_sha1, raw_result) table;
    hits skip the extractor entirely (reference cache pre-check E3). Its
    writers keep `chunk_sha1` unique (one row per distinct chunk on a full
    build, an upsert on that key incrementally), so it is joined as is.

    `max_gleanings` bounds GraphRAG-style continuation passes for extractors
    exposing ``glean(text, prior)``; the passes run inside the same Arrow
    batch task (no extra shuffle or job), and cached results are final —
    gleaning happened before the row was cached.
    """
    extractor = extractor or DeterministicCodeExtractor()
    selected = chunks.select("chunk_id", "text")

    if cache is not None:
        cache = cached_results(cache)
        distinct = selected.dropDuplicates(["chunk_id"])
        misses = distinct.join(cache, on="chunk_id", how="left_anti")
        hits = distinct.join(cache, on="chunk_id", how="inner").select(
            "chunk_id", "raw_result"
        )
    else:
        # no cache → ONE shuffle: the hash repartition on chunk_id below
        # already co-locates equal texts, so dedup happens for free inside
        # the extraction task (a dropDuplicates here would shuffle the full
        # chunk text a second time — the serial-I/O floor of the build)
        misses, hits = selected, None

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # rows with equal chunk_id always land in the same partition (hash
        # repartition key), so the per-partition dedup is exact
        for pdf in first_chunk_rows(batches):
            texts = list(pdf["text"].fillna(""))
            ids = list(pdf["chunk_id"])
            results: list = []
            if texts:
                bsz = dynamic_batch_size([len(t) for t in texts])
                for i in range(0, len(texts), bsz):
                    batch = texts[i : i + bsz]
                    firsts = extract_batch(batch, extractor)
                    results.extend(
                        apply_gleanings(batch, firsts, extractor, max_gleanings)
                    )
            yield pd.DataFrame({"chunk_id": ids, "raw_result": results})

    # AQE sizes partitions by shuffle BYTES, but extraction cost is per-row
    # Python compute (an LLM call per chunk in production) — left alone, AQE
    # coalesces the small deduped shuffle to one partition and serializes
    # the whole stage. Force one partition per core.
    n_part = chunks.sparkSession.sparkContext.defaultParallelism
    fresh = misses.repartition(n_part, "chunk_id").mapInPandas(run, schema=RESULTS_SCHEMA)
    return fresh.unionByName(hits) if hits is not None else fresh
