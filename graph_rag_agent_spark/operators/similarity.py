"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (JVM-side zip_with/aggregate
— no Python), LSH-bucketed variant as the 100 TB scale path (candidates
from random-hyperplane sign buckets, exact re-rank inside buckets).
"""

from __future__ import annotations

from typing import Iterator, List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from graph_rag_agent_spark.session import local_frame


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def cosine_col(a: F.Column, b: F.Column) -> F.Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """→ (vec_id, score) top-k by cosine to a constant query vector.

    Entirely JVM-side: the query is a literal array, the dot product is a
    zip_with/aggregate expression, top-k is orderBy+limit
    (TakeOrderedAndProject — per-partition heap, no full sort)."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            cosine_col(F.col(vec_col), q).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("vec_id"))
        .limit(k)
    )


def lsh_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH buckets, exact cosine only
    inside the query's buckets. At scale the bucket join prunes ~2^planes of
    the corpus per table; multiple tables recover recall."""
    dim = len(query_vec)
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim)).astype(np.float32)
    qv = np.asarray(query_vec, dtype=np.float32)
    powers = (1 << np.arange(n_planes)).astype(np.int64)
    q_keys = [
        f"{t}:{int(((planes[t] @ qv >= 0).astype(np.int64) * powers).sum())}"
        for t in range(n_tables)
    ]

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one (batch × planes) matmul per table — signatures for the whole
        # Arrow batch vectorized; no per-row Python in the signature path
        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({"vec_id": [], "bucket": []}).astype(str)
                continue
            mat = np.stack([np.asarray(e, dtype=np.float32) for e in pdf["emb"]])
            ids = pdf["vec_id"].astype(str)
            frames = []
            for t in range(n_tables):
                sigs = ((mat @ planes[t].T) >= 0).astype(np.int64) @ powers
                frames.append(
                    pd.DataFrame({"vec_id": ids, "bucket": [f"{t}:{s}" for s in sigs]})
                )
            yield pd.concat(frames, ignore_index=True)

    base = embeddings.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("emb"))
    buckets = base.mapInPandas(bucketize, schema="vec_id string, bucket string")
    cands = (
        buckets.filter(F.col("bucket").isin(q_keys))
        .select("vec_id")
        .dropDuplicates(["vec_id"])
    )
    scored = cands.join(
        base.withColumn("vec_id", F.col("vec_id").cast("string")), on="vec_id"
    ).select(
        "vec_id",
        cosine_col(F.col("emb"), F.array(*[F.lit(float(x)) for x in query_vec])).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


def _topk_rows(
    ids_a: np.ndarray,
    mat_a: np.ndarray,
    ids_b: np.ndarray,
    mat_b: np.ndarray,
    k: int,
    row_chunk: int = 2048,
) -> List[tuple]:
    """Exact per-row top-k cosine of normalized mat_a rows against mat_b,
    computed in ROW CHUNKS so peak memory is O(row_chunk × |b|) — one hot
    block never materializes an n×n matrix. float64 throughout so scores
    agree with any double-precision oracle at 6 decimals. Ties break by
    neighbor id ascending (lexsort), self-pairs (same id) excluded."""
    rows: List[tuple] = []
    for lo in range(0, len(ids_a), row_chunk):
        hi = min(lo + row_chunk, len(ids_a))
        sims = mat_a[lo:hi] @ mat_b.T  # (chunk, |b|)
        for r in range(hi - lo):
            srow = sims[r]
            self_mask = ids_b == ids_a[lo + r]
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
            order = cand[np.lexsort((ids_b[cand], -srow[cand]))]
            top = order[: min(k, int((~self_mask).sum()))]
            rows.extend((ids_a[lo + r], ids_b[j], float(srow[j])) for j in top)
    return rows


def _kmeans_centroids(
    mat: np.ndarray, n_lists: int, seed: int = 42, iters: int = 10
) -> np.ndarray:
    """Deterministic k-means (k-means++ init from a fixed seed) on the
    driver sample — the IVF coarse quantizer."""
    rng = np.random.RandomState(seed)
    n = len(mat)
    if n == 0:
        return np.zeros((0, 0), dtype=np.float64)
    k = min(n_lists, n)
    centroids = np.empty((k, mat.shape[1]), dtype=np.float64)
    centroids[0] = mat[rng.randint(n)]
    d2 = np.full(n, np.inf)
    for i in range(1, k):
        d2 = np.minimum(d2, ((mat - centroids[i - 1]) ** 2).sum(axis=1))
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(n, 1.0 / n)
        centroids[i] = mat[rng.choice(n, p=probs)]
    for _ in range(iters):
        dists = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = dists.argmin(axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def ivf_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    train_sample: int = 4096,
) -> DataFrame:
    """IVF approximate top-k: a deterministic k-means coarse quantizer —
    trained on a seeded PSEUDO-RANDOM sample (top-`train_sample` by
    xxhash64(seed, id): unbiased w.r.t. insertion/id order, reproducible,
    and computed as a per-partition top-N heap, never a full sort) —
    assigns every vector to its nearest centroid list; the query scans only
    the `n_probe` nearest lists and re-ranks exactly. At scale the
    assignment is one map pass and the probe prunes
    (n_lists - n_probe)/n_lists of the corpus before any exact distance is
    computed."""
    base = embeddings.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    sample = (
        base.orderBy(F.xxhash64(F.lit(seed), "vec_id"), "vec_id")
        .limit(train_sample)
        .collect()
    )
    if not sample:
        return local_frame(embeddings.sparkSession, [], "vec_id string, score double")
    mat = np.array([r.emb for r in sample], dtype=np.float64)
    centroids = _kmeans_centroids(mat, n_lists, seed)
    qv = np.asarray(query_vec, dtype=np.float64)
    probe_lists = np.argsort(((centroids - qv) ** 2).sum(axis=1))[:n_probe].tolist()

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["emb"]]) \
                if len(pdf) else np.zeros((0, centroids.shape[1]))
            lists = (
                ((m[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
                if len(pdf) else np.array([], dtype=int)
            )
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "list_id": lists.astype("int32")})

    assigned = base.mapInPandas(assign, schema="vec_id string, list_id int")
    cands = assigned.filter(F.col("list_id").isin(probe_lists)).select("vec_id")
    scored = cands.join(base, on="vec_id").select(
        "vec_id",
        cosine_col(F.col("emb"), F.array(*[F.lit(float(x)) for x in query_vec])).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc("vec_id")).limit(k)


DEFAULT_BLOCK_ROWS = 4096  # ~4k × 64-dim float64 ≈ 2 MB per block payload


def _derive_n_blocks(n_rows: int, target_block_rows: int) -> int:
    """Block count such that a block payload holds ~target rows — per-task
    memory stays CONSTANT as the corpus grows (a static n_blocks means
    block payload grows linearly with n and hits Spark's ~2 GB row/Arrow
    ceiling long before 100×). Task count grows O((n/target)²) — inherent
    to exact all-pairs; the web-scale path prefilters with LSH first."""
    import math

    return max(1, math.ceil(max(n_rows, 1) / max(target_block_rows, 1)))


def cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_block_rows: int = DEFAULT_BLOCK_ROWS,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs: all (a < b) with
    cosine ≥ threshold, via a hash-block pair join + per-task matmul —
    the distributed exact primitive (O(n²/B²) tasks, each bounded to two
    sub-blocks of memory). `n_blocks=None` (default) derives the block
    count from a cheap count so a block payload is ~`target_block_rows`
    regardless of corpus size. For web scale, prefilter candidates with
    hyperplane LSH (lsh_topk's bucketing) and verify with this threshold.
    → (id_a, id_b, score)."""
    if n_blocks is None:
        n_blocks = _derive_n_blocks(embeddings.count(), target_block_rows)
    base = embeddings.select(
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
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


def pairwise_topk_per_label(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Blocked all-pairs: per-label numpy cosine matrix → per-vector top-k
    neighbors within the label block (applyInPandas, vectorized matmul).

    Memory inside a block is bounded by chunked matmul (_topk_rows): a hot
    label costs O(chunk × |label|) per slice, not O(|label|²). A label too
    big for one task's *row storage* should use pairwise_topk_blocked."""

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"vec_id": [], "neighbor_id": [], "score": []}).astype(
                {"vec_id": str, "neighbor_id": str, "score": float}
            )
        ids = pdf[id_col].astype(str).to_numpy()
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1
        mat = mat / norms
        rows = _topk_rows(ids, mat, ids, mat, k)
        return pd.DataFrame(rows, columns=["vec_id", "neighbor_id", "score"])

    return embeddings.groupBy(label_col).applyInPandas(
        per_block, schema="vec_id string, neighbor_id string, score double"
    )


def pairwise_topk_blocked(
    embeddings: DataFrame,
    k: int = 5,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    target_block_rows: int = DEFAULT_BLOCK_ROWS,
) -> DataFrame:
    """Distributed exact KNN for labels too large for one task: vectors are
    hash-split into `n_blocks` sub-blocks per label; every (block_a, block_b)
    pair computes a PARTIAL per-vector top-k (vectorized matmul), and a
    global window keeps the true top-k. One shuffle to group, one block-pair
    join (each side replicated n_blocks×), one window — the standard
    big-block exact-KNN shape; no task ever holds more than 2 sub-blocks.
    `n_blocks=None` derives the block count from the LARGEST label so a
    sub-block payload is ~`target_block_rows` rows at any corpus size."""
    if n_blocks is None:
        mx = (
            embeddings.groupBy(label_col)
            .agg(F.count("*").alias("_n"))
            .agg(F.max("_n"))
            .first()[0]
        )
        n_blocks = _derive_n_blocks(int(mx or 0), target_block_rows)
    base = embeddings.select(
        F.col(label_col).alias("label"),
        F.col(id_col).cast("string").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    ).withColumn("blk", F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)))
    grouped = base.groupBy("label", "blk").agg(
        F.collect_list(F.struct("vec_id", "emb")).alias("items")
    )
    a, b = grouped.alias("a"), grouped.alias("b")
    paired = a.join(b, on=F.col("a.label") == F.col("b.label")).select(
        F.col("a.items").alias("items_a"), F.col("b.items").alias("items_b")
    )

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[tuple] = []
            for items_a, items_b in zip(pdf["items_a"], pdf["items_b"]):
                ids_a = np.array([r["vec_id"] for r in items_a])
                ids_b = np.array([r["vec_id"] for r in items_b])
                mat_a = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in items_a])
                mat_b = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in items_b])
                for m in (mat_a, mat_b):
                    norms = np.linalg.norm(m, axis=1, keepdims=True)
                    norms[norms == 0] = 1
                    m /= norms
                out.extend(_topk_rows(ids_a, mat_a, ids_b, mat_b, k))
            yield pd.DataFrame(out, columns=["vec_id", "neighbor_id", "score"])

    partials = paired.mapInPandas(
        partial, schema="vec_id string, neighbor_id string, score double"
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
    return (
        partials.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _semantic_assign(
    embeddings: DataFrame, n_clusters: int, id_col: str, vec_col: str
) -> DataFrame | None:
    """Shared SemDeDup front half: deterministic md5-sampled centroids
    (bounded TakeOrderedAndProject collect) + map-only argmax-cosine
    assignment (one numpy matmul per Arrow batch). → (vec_id, cluster_id,
    emb) or None on empty input."""
    base = embeddings.select(
        F.col(id_col).cast("long").alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("emb"),
    )
    cent_rows = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_clusters)
        .collect()
    )
    if not cent_rows:
        return None
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

    return base.mapInPandas(
        assign, schema="vec_id long, cluster_id long, emb array<double>"
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
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
    once. A cluster too large for one task's ROW storage should use
    `semantic_dedup_blocked` (identical output, block-pair join).
    Reference scope: the reference has no embedding-level dedup — this is
    the training-data-pipeline extension alongside exact/minhash/simhash/
    jaccard/substring dedup."""
    assigned = _semantic_assign(embeddings, n_clusters, id_col, vec_col)
    if assigned is None:
        return local_frame(
            embeddings.sparkSession, [], "vec_id long, cluster_id long, keep boolean"
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


def semantic_dedup_blocked(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
    target_block_rows: int = DEFAULT_BLOCK_ROWS,
) -> DataFrame:
    """Distributed SemDeDup for clusters too large for one task: same
    semantics as `semantic_dedup` (equality pytest-gated), but within each
    cluster vectors are hash-split into `n_blocks` sub-blocks; every
    (block_a ≤ block_b) pair computes PARTIAL drop flags (a vector drops
    iff a smaller-id cluster-mate anywhere has cosine ≥ threshold — the
    pairwise predicate ORs cleanly across block pairs), and a final
    per-vector bool_or aggregate combines them. No task ever holds more
    than two sub-blocks of rows — the same hot-block mitigation as
    `pairwise_topk_blocked`. `n_blocks=None` derives the block count from
    the LARGEST cluster so sub-block payloads are ~`target_block_rows` at
    any corpus size. → (vec_id long, cluster_id long, keep boolean)."""
    assigned = _semantic_assign(embeddings, n_clusters, id_col, vec_col)
    if assigned is None:
        return local_frame(
            embeddings.sparkSession, [], "vec_id long, cluster_id long, keep boolean"
        )
    if n_blocks is None:
        mx = (
            assigned.groupBy("cluster_id")
            .agg(F.count("*").alias("_n"))
            .agg(F.max("_n"))
            .first()[0]
        )
        n_blocks = _derive_n_blocks(int(mx or 0), target_block_rows)
    blocked = assigned.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("vec_id").cast("string")), F.lit(n_blocks)).cast("int")
    )
    grouped = blocked.groupBy("cluster_id", "blk").agg(
        F.collect_list(F.struct("vec_id", "emb")).alias("items")
    )
    a, b = grouped.alias("a"), grouped.alias("b")
    paired = a.join(
        b,
        on=(F.col("a.cluster_id") == F.col("b.cluster_id"))
        & (F.col("a.blk") <= F.col("b.blk")),
    ).select(
        F.col("a.cluster_id").alias("cluster_id"),
        F.col("a.blk").alias("blk_a"), F.col("b.blk").alias("blk_b"),
        F.col("a.items").alias("items_a"), F.col("b.items").alias("items_b"),
    )

    def partial_flags(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[tuple] = []
            for cid, blk_a, blk_b, items_a, items_b in zip(
                pdf["cluster_id"], pdf["blk_a"], pdf["blk_b"],
                pdf["items_a"], pdf["items_b"],
            ):
                ids_a = np.array([r["vec_id"] for r in items_a], dtype=np.int64)
                mat_a = np.stack([np.asarray(r["emb"], dtype=np.float64) for r in items_a])
                na = np.linalg.norm(mat_a, axis=1, keepdims=True)
                na[na == 0] = 1
                mat_a = mat_a / na
                if blk_a == blk_b:
                    ids_b, mat_b = ids_a, mat_a
                else:
                    ids_b = np.array([r["vec_id"] for r in items_b], dtype=np.int64)
                    mat_b = np.stack(
                        [np.asarray(r["emb"], dtype=np.float64) for r in items_b]
                    )
                    nb = np.linalg.norm(mat_b, axis=1, keepdims=True)
                    nb[nb == 0] = 1
                    mat_b = mat_b / nb
                sims = mat_a @ mat_b.T
                hit = sims >= threshold
                # a-side vector drops if some SMALLER-id b-side vector hits;
                # b-side symmetric (same matrix, transposed comparison)
                smaller_b = ids_b[None, :] < ids_a[:, None]
                drop_a = (hit & smaller_b).any(axis=1)
                for vid, cidv, d in zip(ids_a, np.repeat(cid, len(ids_a)), drop_a):
                    out.append((int(vid), int(cidv), bool(d)))
                if blk_a != blk_b:
                    smaller_a = ids_a[:, None] < ids_b[None, :]
                    drop_b = (hit & smaller_a).any(axis=0)
                    for vid, d in zip(ids_b, drop_b):
                        out.append((int(vid), int(cid), bool(d)))
            yield pd.DataFrame(out, columns=["vec_id", "cluster_id", "dropped"])

    partials = paired.mapInPandas(
        partial_flags, schema="vec_id long, cluster_id long, dropped boolean"
    )
    return partials.groupBy("vec_id", "cluster_id").agg(
        (~F.bool_or("dropped")).alias("keep")
    )
