"""Shared candidate-pair kernel for entity canonicalization.

ONE implementation of "blocked per-node topK cosine pairs with local
re-splitting of oversized blocks" used by all three call sites:

- the Spark `applyInPandas` per-block task (operators/canonicalize.py),
- the driver fast path of canonicalize (small entity sets),
- the pure-Python reference oracle (oracle/reference_builder.py).

Sharing the kernel makes the P/R parity structural rather than hoped-for.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Dict, List, Sequence, Set, Tuple

import numpy as np

from graph_rag_agent_spark.config import (
    BLOCK_SALT_THRESHOLD,
    SIMILARITY_CUTOFF,
    SIMILARITY_TOPK,
)
from graph_rag_agent_spark.functions.blocking import BLOCK_PREFIX_LEN, block_key, normalize_name


def local_subblocks(norms: Sequence[str], threshold: int):
    """Split one block's row indices by progressively longer normalized-name
    prefixes until every sub-block fits under `threshold` — deterministic
    skew salting that never separates true near-duplicates (they share long
    prefixes). Yields lists of indices."""
    stack = [(list(range(len(norms))), BLOCK_PREFIX_LEN)]
    while stack:
        idxs, plen = stack.pop()
        if len(idxs) <= threshold or plen >= 16:
            yield idxs
            continue
        by_prefix: Dict[str, List[int]] = {}
        for i in idxs:
            by_prefix.setdefault(norms[i][: plen + 2], []).append(i)
        if len(by_prefix) == 1:
            stack.append((idxs, plen + 2))
            continue
        for sub in by_prefix.values():
            stack.append((sub, plen + 2))


def pairs_for_block(
    ids: Sequence[str],
    norms: Sequence[str],
    embs: np.ndarray,
    cutoff: float = SIMILARITY_CUTOFF,
    topk: int = SIMILARITY_TOPK,
) -> List[Tuple[str, str, float]]:
    """Per-node topK cosine pairs (score ≥ cutoff) within one block,
    re-split locally when oversized. A pair survives if it is in the topK
    of either endpoint (GDS KNN writeback semantics). Deterministic order:
    (src, dst) ascending, src < dst."""
    out: List[Tuple[str, str, float]] = []
    for idxs in local_subblocks(norms, BLOCK_SALT_THRESHOLD):
        n = len(idxs)
        if n < 2:
            continue
        sub_ids = [ids[i] for i in idxs]
        mat = embs[idxs].astype(np.float64, copy=False)
        lens = np.linalg.norm(mat, axis=1, keepdims=True)
        lens[lens == 0] = 1.0
        mat = mat / lens
        sims = mat @ mat.T
        np.fill_diagonal(sims, -1.0)
        keep: Set[Tuple[int, int]] = set()
        for i in range(n):
            cand = np.where(sims[i] >= cutoff)[0]
            if cand.size == 0:
                continue
            cand = sorted(cand, key=lambda j: (-float(sims[i, j]), sub_ids[j]))[:topk]
            for j in cand:
                a, b = (i, j) if sub_ids[i] < sub_ids[j] else (j, i)
                keep.add((a, b))
        out.extend(
            (sub_ids[a], sub_ids[b], float(sims[a, b]))
            for a, b in sorted(keep, key=lambda p: (sub_ids[p[0]], sub_ids[p[1]]))
        )
    return out


def pairs_all(
    ids: Sequence[str],
    embs: np.ndarray,
    cutoff: float = SIMILARITY_CUTOFF,
    topk: int = SIMILARITY_TOPK,
) -> List[Tuple[str, str, float]]:
    """Block the full entity set by block_key, then pairs_for_block each —
    the single-machine path (driver fast path and the Python oracle)."""
    blocks: Dict[str, List[int]] = defaultdict(list)
    for i, eid in enumerate(ids):
        blocks[block_key(eid)].append(i)
    out: List[Tuple[str, str, float]] = []
    for idxs in blocks.values():
        if len(idxs) < 2:
            continue
        out.extend(
            pairs_for_block(
                [ids[i] for i in idxs],
                [normalize_name(ids[i]) for i in idxs],
                embs[idxs],
                cutoff, topk,
            )
        )
    return out
