"""Embedding stages: the count-per-distinct-trigram embedder is bit-identical
to the per-occurrence loop, and both embedding UDF stages run at one
hash partition per core."""

import hashlib
import random
import re

import numpy as np
import pytest

from graph_rag_agent_spark.config import EMBEDDING_DIM
from graph_rag_agent_spark.functions.embedder import _NORM_RE, embed_text
from graph_rag_agent_spark.session import local_frame


def _reference_embed(text, dim):
    """The per-trigram-occurrence loop: one sha256 and one ±1 per trigram."""
    joined = _NORM_RE.sub("", (text or "").lower())
    if len(joined) <= 3:
        feats = [joined] if joined else []
    else:
        feats = [joined[i : i + 3] for i in range(len(joined) - 2)]
    vec = np.zeros(dim, dtype=np.float64)
    for feat in feats:
        h = int.from_bytes(hashlib.sha256(feat.encode("utf-8")).digest()[:8], "big")
        vec[h % dim] += 1.0 if (h >> 63) & 1 else -1.0
    norm = float(np.linalg.norm(vec))
    if norm > 0:
        vec /= norm
    return vec


def _code_chunk(n_chars):
    line = "def load_batch(self, idx):  # 数据加载器\n    return self.rows[idx] * 2\n"
    return (line * (n_chars // len(line) + 1))[:n_chars]


FIXED = ["", None, "a", "Ab", "x_Y-z", "!!! ... ???", "—·—", "数据", "图谱构建",
         "DataLoader class DataLoader", _code_chunk(10_000)]


def _random_strings(n, seed=20261017):
    rng = random.Random(seed)
    alphabet = "abcxyzABCXYZ0189_ -.,()\n数据加载器图谱éß😀"
    return ["".join(rng.choice(alphabet) for _ in range(rng.randint(0, 80))) for _ in range(n)]


@pytest.mark.parametrize("dim", sorted({8, 64, 256, EMBEDDING_DIM}))
def test_embed_text_bit_identical_to_per_trigram_loop(dim):
    for text in FIXED + _random_strings(2000):
        got, want = embed_text(text, dim), _reference_embed(text, dim)
        assert got.dtype == want.dtype == np.float64 and got.shape == (dim,)
        assert got.tobytes() == want.tobytes(), repr(text)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_embedding_stages_hash_partition_per_core(spark):
    from graph_rag_agent_spark.operators.embeddings import embed_chunks, embed_entities

    n = spark.sparkContext.defaultParallelism
    chunks = local_frame(spark, [("c1", "abc"), ("c2", "xyz")], "chunk_id string, text string")
    nodes = local_frame(spark, [("A", "class A")], "entity_id string, description string")
    for df, key in ((embed_chunks(chunks), "chunk_id"), (embed_entities(nodes), "entity_id")):
        assert re.search(
            rf"MapInPandas run\(.*\n\s*\+- Exchange hashpartitioning\({key}#\d+, {n}\)",
            _plan(df),
        ), _plan(df)


def test_chunk_embeddings_equal_embed_text(spark, tiny_corpus):
    from graph_rag_agent_spark.operators.chunker import chunk_documents
    from graph_rag_agent_spark.operators.embeddings import embed_chunks

    chunks = chunk_documents(tiny_corpus.limit(12)).localCheckpoint(eager=True)
    texts = {r.chunk_id: r.text for r in chunks.select("chunk_id", "text").collect()}
    assert len(texts) > 12
    # every chunk twice: the in-task dedup must still emit one row per chunk
    rows = embed_chunks(chunks.unionByName(chunks)).collect()
    assert sorted(r.chunk_id for r in rows) == sorted(texts)
    for r in rows:
        assert not r.embed_failed
        assert np.array(r.embedding).tobytes() == embed_text(texts[r.chunk_id]).tobytes()
