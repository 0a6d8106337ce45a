"""Deterministic hash-projection embedder.

Stands in for the reference's OpenAI-compatible embedding calls
(reference graph/indexing/entity_indexer.py:53-298). The production slot
is any text→vector callable; this default is a feature-hashing projection
(signed token counts into ``dim`` buckets, L2-normalized) — deterministic,
dependency-free, and similar strings map to similar vectors, which is what
the canonicalization similarity join needs.
"""

from __future__ import annotations

import hashlib
import re
from functools import lru_cache
from typing import Tuple

import numpy as np

from graph_rag_agent_spark.config import EMBEDDING_DIM

# same normalization as functions/blocking.normalize_name — punctuation
# variants (Data_Loader vs DataLoader) collapse to identical feature sets
_NORM_RE = re.compile(r"[^0-9a-z一-鿿]+")

# a code point fits in 21 bits, so three pack into one uint64 feature key
_CP_BITS = 21
_CP_MASK = (1 << _CP_BITS) - 1


def _feature_counts(joined: str) -> Tuple[np.ndarray, np.ndarray]:
    """Distinct feature keys of non-empty normalized text and how often
    each occurs. The features are the text's character trigrams, or the
    whole text when it has ≤ 3 characters (left-padded with NULs, which the
    normalization never leaves in). Pure trigrams (no word features) so
    near-duplicate names land at cosine ≥ 0.9 (the reference's KNN cutoff)
    while unrelated names stay well below it."""
    cp = np.frombuffer(joined.rjust(3, "\0").encode("utf-32-le"), np.uint32).astype(np.uint64)
    b = np.uint64(_CP_BITS)
    keys = (cp[:-2] << (b + b)) | (cp[1:-1] << b) | cp[2:]
    return np.unique(keys, return_counts=True)


@lru_cache(maxsize=1 << 16)
def _feature_hash(key: int) -> int:
    """First 8 bytes of sha256 of the feature's UTF-8, big-endian. Memoized
    per process: a corpus repeats a few thousand distinct trigrams across
    hundreds of thousands of occurrences."""
    cps = (key >> (2 * _CP_BITS), (key >> _CP_BITS) & _CP_MASK, key & _CP_MASK)
    feat = "".join(chr(c) for c in cps if c)
    return int.from_bytes(hashlib.sha256(feat.encode("utf-8")).digest()[:8], "big")


def embed_text(text: str, dim: int = EMBEDDING_DIM) -> np.ndarray:
    """sha256 (not sha1) so the projection is reproducible in ANSI SQL —
    DuckDB: idx = ('0x' || substr(sha256(t), 1, 16))::UBIGINT % dim — which
    lets the driver's oracle check the full canonicalization pipeline.

    Each occurrence adds ±1 to its bucket; the bucket sums are small
    integers, exact in float64 in any order, so summing count × sign per
    distinct feature gives the per-occurrence loop's vector bit for bit."""
    joined = _NORM_RE.sub("", (text or "").lower())
    if not joined:
        return np.zeros(dim, dtype=np.float64)
    keys, counts = _feature_counts(joined)
    h = np.fromiter(map(_feature_hash, keys.tolist()), np.uint64, len(keys))
    idx = (h % np.uint64(dim)).astype(np.intp)
    sign = np.where(h >> np.uint64(63), 1.0, -1.0)
    vec = np.bincount(idx, weights=sign * counts, minlength=dim)
    norm = float(np.linalg.norm(vec))
    if norm > 0:
        vec /= norm
    return vec
