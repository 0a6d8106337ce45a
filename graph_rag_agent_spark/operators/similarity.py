"""Similarity operators over embedding columns (array<float>).

- `cosine_col` — cosine of two array columns as a JVM-side
  zip_with/aggregate expression (no Python); the `ann_topk` query ranks
  against a constant query vector with it.
- `cosine_pairs_blocked` — exact all-pairs near-duplicates above a
  threshold (hash-block pair join + per-task matmul).
- `pairwise_topk_per_label` — exact per-vector top-k inside each label
  block (chunked per-block matmul).
- `semantic_dedup` — SemDeDup cluster-then-dedup.
"""

from __future__ import annotations

from typing import Iterator, List

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from graph_rag_agent_spark.session import local_frame


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_col(a: F.Column, b: F.Column) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def _topk_rows(ids: np.ndarray, mat: np.ndarray, k: int) -> List[tuple]:
    """Exact per-row top-k cosine among the normalized rows of mat,
    computed in 2048-ROW CHUNKS so peak memory is O(2048 × n) — one hot
    block never materializes an n×n matrix. float64 throughout so scores
    agree with any double-precision oracle at 6 decimals. Ties break by
    neighbor id ascending (lexsort), self-pairs (same id) excluded."""
    rows: List[tuple] = []
    for lo in range(0, len(ids), 2048):
        hi = min(lo + 2048, len(ids))
        sims = mat[lo:hi] @ mat.T  # (chunk, n)
        for r in range(hi - lo):
            srow = sims[r]
            self_mask = ids == ids[lo + r]
            srow = np.where(self_mask, -2.0, srow)
            # argpartition prunes to a candidate pool, lexsort resolves ties
            # deterministically; if a score tie crosses the pool boundary the
            # id-ascending tie-break needs every tied candidate → full sort
            pool = min(len(srow), max(4 * k, k + 16))
            if pool < len(srow):
                cand = np.argpartition(-srow, pool - 1)[:pool]
                kth = np.sort(srow[cand])[::-1][min(k, pool) - 1]
                if (np.count_nonzero(srow >= kth) > pool):
                    cand = np.arange(len(srow))
            else:
                cand = np.arange(len(srow))
            order = cand[np.lexsort((ids[cand], -srow[cand]))]
            top = order[: min(k, int((~self_mask).sum()))]
            rows.extend((ids[lo + r], ids[j], float(srow[j])) for j in top)
    return rows


DEFAULT_BLOCK_ROWS = 4096  # ~4k × 64-dim float64 ≈ 2 MB per block payload


def _derive_n_blocks(n_rows: int, target_block_rows: int) -> int:
    """Block count such that a block payload holds ~target rows — per-task
    memory stays CONSTANT as the corpus grows (a static n_blocks means
    block payload grows linearly with n and hits Spark's ~2 GB row/Arrow
    ceiling long before 100×). Task count grows O((n/target)²) — inherent
    to exact all-pairs."""
    import math

    return max(1, math.ceil(max(n_rows, 1) / max(target_block_rows, 1)))


def cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_blocks: int | None = None,
    target_block_rows: int = DEFAULT_BLOCK_ROWS,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: all (a < b) with
    cosine ≥ threshold, via a hash-block pair join + per-task matmul —
    the distributed exact primitive (O(n²/B²) tasks, each bounded to two
    sub-blocks of memory). `n_blocks=None` (default) derives the block
    count from a cheap count so a block payload is ~`target_block_rows`
    regardless of corpus size. → (id_a, id_b, score)."""
    if n_blocks is None:
        n_blocks = _derive_n_blocks(embeddings.count(), target_block_rows)
    base = embeddings.select(
        F.col("vec_id").cast("string").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    ).withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int"))
    grouped = base.groupBy("blk").agg(
        F.collect_list(F.struct("vec_id", "emb")).alias("items")
    )
    a, b = grouped.alias("a"), grouped.alias("b")
    paired = a.join(b, on=F.col("a.blk") <= F.col("b.blk")).select(
        F.col("a.blk").alias("blk_a"), F.col("b.blk").alias("blk_b"),
        F.col("a.items").alias("items_a"), F.col("b.items").alias("items_b"),
    )

    def pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[tuple] = []
            for blk_a, blk_b, items_a, items_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["items_a"], pdf["items_b"]
            ):
                ids_a = np.array([r["vec_id"] for r in items_a])
                ids_b = np.array([r["vec_id"] for r in items_b])
                mat_a = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in items_a])
                mat_b = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in items_b])
                for m in (mat_a, mat_b):
                    norms = np.linalg.norm(m, axis=1, keepdims=True)
                    norms[norms == 0] = 1
                    m /= norms
                sims = mat_a @ mat_b.T
                ii, jj = np.where(sims >= threshold)
                for i, j in zip(ii, jj):
                    x, y = ids_a[i], ids_b[j]
                    # same-block pairs appear twice (i,j)/(j,i) and cross-
                    # block pairs once per ordered block pair — keep the
                    # canonical (min, max) ordering exactly once
                    if blk_a < blk_b or (blk_a == blk_b and x < y):
                        out.append((min(x, y), max(x, y), float(sims[i, j])))
            yield pd.DataFrame(out, columns=["id_a", "id_b", "score"])

    return paired.mapInPandas(pairs, schema="id_a string, id_b string, score double")


def pairwise_topk_per_label(embeddings: DataFrame, k: int = 5) -> DataFrame:
    """Blocked all-pairs: per-label numpy cosine matrix → per-vector top-k
    neighbors within the label block (applyInPandas, vectorized matmul).

    Memory inside a block is bounded by chunked matmul (_topk_rows): a hot
    label costs O(chunk × |label|) per slice, not O(|label|²). Each label's
    rows must still fit one task's row storage."""

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "score": []}).astype(
                {"vec_id": str, "neighbor_id": str, "score": float}
            )
        ids = pdf["vec_id"].astype(str).to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1
        mat = mat / norms
        rows = _topk_rows(ids, mat, k)
        return pd.DataFrame(rows, columns=["vec_id", "neighbor_id", "score"])

    return embeddings.groupBy("label").applyInPandas(
        per_block, schema="vec_id string, neighbor_id string, score double"
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    chunk: int = 1024,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster-then-dedup.
    Semantic near-duplicates are detected WITHIN coarse embedding clusters,
    so the pairwise pass costs O(Σ|cluster|²) instead of O(n²) — grow
    `n_clusters` with the corpus and the per-cluster work stays bounded;
    this is the scale path over exact `cosine_pairs_blocked` for 10⁹+
    embeddings. Cross-cluster near-dups are not seen (the SemDeDup recall
    trade, documented and pytest-locked).

    Deterministic and engine-portable by construction (the oracle twin is
    plain SQL, no RNG):
      * centroids = the `n_clusters` vectors with the smallest
        md5(cast(id as string)) — a reproducible pseudo-random sample,
        computed as a bounded TakeOrderedAndProject (never a full sort);
      * assignment = argmax cosine against the broadcast centroid matrix,
        ties → smallest centroid id; one numpy matmul per Arrow batch
        (map-only — no shuffle, no per-row Python);
      * drop rule = a vector is dropped iff SOME vector with a smaller id
        in the same cluster has cosine ≥ threshold (keep-one with the
        min-id representative; the paper keeps the vector farthest from
        the centroid — deterministic min-id preferred here, and the rule
        is intentionally non-greedy so it is a pure pairwise predicate).

    → (vec_id long, cluster_id long, keep boolean). Plan: one bounded
    centroid collect, one map-only assignment pass, ONE shuffle (groupBy
    cluster); the per-cluster pairwise matmul is chunked so a hot cluster
    costs O(chunk × |cluster|) compute memory, never O(|cluster|²) rows at
    once; each cluster's rows must still fit one task's row storage.
    Reference scope: the reference has no embedding-level dedup — this is
    the training-data-pipeline extension alongside exact/minhash/simhash/
    jaccard/substring dedup."""
    base = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    cent_rows = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_clusters)
        .collect()
    )
    if not cent_rows:
        return local_frame(
            embeddings.sparkSession, [], "vec_id long, cluster_id long, keep boolean"
        )
    # ties in the assignment argmax resolve to the smallest centroid id —
    # order the centroid matrix by id so argmax's first-max IS that rule
    cent_rows = sorted(cent_rows, key=lambda r: r.vec_id)
    cent_ids = np.array([r.vec_id for r in cent_rows], dtype=np.int64)
    cmat = np.stack([np.asarray(r.emb, dtype=np.float64) for r in cent_rows])
    norms = np.linalg.norm(cmat, axis=1, keepdims=True)
    norms[norms == 0] = 1
    cmat = cmat / norms

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]])
            mn = np.linalg.norm(m, axis=1, keepdims=True)
            mn[mn == 0] = 1
            best = ((m / mn) @ cmat.T).argmax(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "cluster_id": cent_ids[best], "emb": pdf["emb"]}
            )

    assigned = base.mapInPandas(
        assign, schema="vec_id long, cluster_id long, emb array<double>"
    )

    def per_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        n = len(ids)
        dropped = np.zeros(n, dtype=bool)
        if n > 1:
            mat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["emb"].iloc[order]]
            )
            mn = np.linalg.norm(mat, axis=1, keepdims=True)
            mn[mn == 0] = 1
            mat = mat / mn
            # rows are id-sorted: row i is dropped iff any row j < i has
            # cosine ≥ threshold — chunked strict-lower-triangle scan
            for s in range(1, n, chunk):
                e = min(s + chunk, n)
                sims = mat[s:e] @ mat[:e].T  # (e-s, e)
                for i in range(e - s):
                    gi = s + i
                    if (sims[i, :gi] >= threshold).any():
                        dropped[gi] = True
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster_id": pdf["cluster_id"].iloc[0],
                "keep": ~dropped,
            }
        )

    return assigned.groupBy("cluster_id").applyInPandas(
        per_cluster, schema="vec_id long, cluster_id long, keep boolean"
    )
