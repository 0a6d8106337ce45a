"""Distributed (personalized) PageRank over the canonical entity graph.

The reference ranks retrieval candidates by raw degree and community rank
(search/local_search.py:86-137, community summary rank); PageRank is the
natural strengthening of both on the same weighted co-occurrence
projection — a global importance score for entity ranking and a
personalized (seed-teleport) score for Q1-style local retrieval. No
GraphFrames/GDS dependency: a driver-side loop of two key-partitioned
shuffles per iteration over the rank table.

Semantics (standard damped PageRank, Page et al. 1999):

    rank_{k+1}(v) = reset(v) · ((1-d) + d·dangling_k) + d · Σ_{u→v} rank_k(u) · w(u,v) / W(u)

where ``W(u)`` is u's total out-weight, ``reset`` is the teleport
distribution (uniform 1/n, or normalized over a seed set for personalized
PageRank), and ``dangling_k`` is the rank mass sitting on zero-out-degree
vertices at step k, redistributed through the teleport vector so total
mass stays 1 (pytest-asserted).

Scale notes (10⁹-vertex co-occurrence graph):
- the edge table is normalized ONCE (one groupBy + one join) and
  checkpointed; each iteration then costs exactly two shuffles — the
  rank⋈edge hash join on src and the contribution groupBy on dst. On a
  real cluster the edge table would be bucketed by src so only the
  (small) rank table moves per iteration; in-sandbox the plan gate
  asserts no cartesian product and no Python eval in the loop body.
- ``loop_checkpoint`` per iteration cuts lineage AND drops inherited
  plan-stat estimates (see functions/iterative.py — the stats-compounding
  pitfall measured at minutes/iteration without it).
- the dangling/tol aggregate is one scalar-row action per iteration (the
  same bounded pattern as the CC convergence check), never a frame
  collect; with no dangling vertices and ``tol=None`` the loop runs
  action-free between checkpoints.
- deterministic by construction: fixed ``n_iter`` (the oracle unrolls the
  same iterations in SQL), no RNG, and float sums that agree with the
  DuckDB twin to well below the round-6 comparison grain.
"""

from __future__ import annotations

import logging
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from graph_rag_agent_spark.config import DRIVER_MAX_EDGES
from graph_rag_agent_spark.functions.iterative import loop_checkpoint
from graph_rag_agent_spark.session import collect_if_fits, local_frame

DAMPING = 0.85

log = logging.getLogger(__name__)


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    *,
    damping: float = DAMPING,
    n_iter: int = 5,
    tol: Optional[float] = None,
    weight_col: Optional[str] = None,
    reset: Optional[DataFrame] = None,
    initial_ranks: Optional[DataFrame] = None,
    driver_threshold: int = DRIVER_MAX_EDGES,
) -> DataFrame:
    """→ (id, pagerank) over the DIRECTED graph ``edges``; symmetrize first
    for an undirected projection (see ``pagerank_projection``).

    ``reset``: optional one-column (id) seed frame → personalized PageRank
    with the teleport distribution uniform over the seeds (seeds absent
    from ``vertices`` are ignored). ``tol``: optional early stop when the
    summed absolute rank change falls below it (still capped at
    ``n_iter``); leave None for the fixed-iteration deterministic form the
    SQL oracle mirrors.

    ``initial_ranks``: optional (id, rank) frame from a PREVIOUS run —
    incremental warm start for the daily-delta pipeline: the damped power
    iteration converges to the same unique fixpoint from any start, so
    after a small graph update, starting from yesterday's ranks cuts the
    tol-mode sweep count (pytest-asserted via the logged iteration count).
    Missing vertices start at their teleport mass; the vector is
    renormalized to total mass 1.

    Size-adaptive (the CC/canonicalize pattern): when ``collect_if_fits``
    fetches the edge, vertex and any seed / initial-rank tables within
    ``driver_threshold`` rows each, the whole power iteration runs as one
    numpy kernel on the driver (one fetch job per table instead of ~2
    actions per damped iteration — at entity-graph sizes the distributed
    loop is pure scheduler overhead); otherwise the distributed
    two-shuffle-per-iteration loop runs. Both paths implement the
    identical recurrence (equality pytest-gated). Each run logs
    ``pagerank: <driver|distributed> path, <n> iterations`` at INFO."""
    verts = vertices.select("id").distinct()
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    g = edges.select("src", "dst", w.alias("w"))

    probes = {"edges": g, "vertices": verts}
    if reset is not None:
        probes["seeds"] = reset.select(reset.columns[0]).distinct()
    if initial_ranks is not None:
        probes["initial ranks"] = initial_ranks.select(*initial_ranks.columns[:2])
    tables = {}
    for what, df in probes.items():
        tables[what] = collect_if_fits(df, driver_threshold, f"pagerank {what}")
        if tables[what] is None:
            break
    else:
        return _driver_pagerank(
            vertices.sparkSession, tables, damping=damping, n_iter=n_iter, tol=tol
        )

    # out-weight normalization, once: nw = w / W(src)
    outw = g.groupBy("src").agg(F.sum("w").alias("tw"))
    g_norm = (
        g.join(outw, on="src")
        .select("src", "dst", (F.col("w") / F.col("tw")).alias("nw"))
        .transform(loop_checkpoint)
    )

    # teleport distribution: uniform over vertices, or over the seed set
    if reset is not None:
        seeds = (
            reset.select(F.col(reset.columns[0]).alias("id"))
            .distinct()
            .join(verts, on="id", how="left_semi")
        )
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("personalized pagerank: no seed is a vertex")
        rst = seeds.withColumn("reset_m", F.lit(1.0 / n_seeds))
    else:
        n = verts.count()
        if n == 0:
            return verts.withColumn("pagerank", F.lit(0.0))
        rst = verts.withColumn("reset_m", F.lit(1.0 / n))
    base = verts.join(rst, on="id", how="left").select(
        "id", F.coalesce("reset_m", F.lit(0.0)).alias("reset_m")
    ).transform(loop_checkpoint)

    # dangling vertices: in the teleport term every iteration; detect once
    has_dangling = not base.join(
        outw.withColumnRenamed("src", "id"), on="id", how="left_anti"
    ).isEmpty()

    if initial_ranks is not None:
        ic = initial_ranks.columns
        prev = initial_ranks.select(
            F.col(ic[0]).alias("id"), F.col(ic[1]).cast("double").alias("_init")
        )
        ranks = base.join(prev, on="id", how="left").select(
            "id", F.coalesce("_init", F.col("reset_m")).alias("rank")
        )
        total = ranks.agg(F.sum("rank").alias("s")).collect()[0]["s"] or 1.0
        ranks = ranks.select(
            "id", (F.col("rank") / F.lit(float(total))).alias("rank")
        ).transform(loop_checkpoint)
    else:
        ranks = base.select("id", F.col("reset_m").alias("rank"))
    d = float(damping)
    it = 0
    for it in range(1, n_iter + 1):
        contrib = (
            g_norm.join(ranks.withColumnRenamed("id", "src"), on="src")
            .groupBy(F.col("dst").alias("id"))
            .agg(F.sum(F.col("rank") * F.col("nw")).alias("c"))
        )
        if has_dangling:
            dangling = (
                ranks.join(
                    outw.withColumnRenamed("src", "id"), on="id", how="left_anti"
                )
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
                .collect()[0]["m"]
            )
        else:
            dangling = 0.0
        new_ranks = (
            base.join(contrib, on="id", how="left")
            .select(
                "id",
                (
                    F.col("reset_m") * F.lit((1.0 - d) + d * dangling)
                    + F.lit(d) * F.coalesce("c", F.lit(0.0))
                ).alias("rank"),
            )
            .transform(loop_checkpoint)
        )
        if tol is not None:
            delta = (
                new_ranks.join(
                    ranks.withColumnRenamed("rank", "prev"), on="id"
                )
                .agg(F.sum(F.abs(F.col("rank") - F.col("prev"))).alias("s"))
                .collect()[0]["s"]
            )
            ranks = new_ranks
            if delta is not None and delta < tol:
                break
        else:
            ranks = new_ranks
    log.info("pagerank: distributed path, %d iterations", it)
    return ranks.withColumnRenamed("rank", "pagerank")


def _driver_pagerank(
    spark,
    tables: dict,
    *,
    damping: float,
    n_iter: int,
    tol: Optional[float],
) -> DataFrame:
    """numpy power-iteration kernel — the distributed loop's recurrence
    verbatim: out-weight over ALL of a vertex's edges (even to non-vertex
    endpoints, mirroring the join semantics), contributions only along
    vertex→vertex edges, dangling = vertices that appear as src of NO edge,
    their mass re-entering through the teleport vector."""
    import numpy as np

    vert_ids = tables["vertices"].column(0).to_pylist()
    edge_rows = list(zip(*tables["edges"].to_pydict().values()))
    seed_ids = tables["seeds"].column(0).to_pylist() if "seeds" in tables else None
    init = tables.get("initial ranks")
    init_map = None if init is None else dict(
        zip(init.column(0).to_pylist(), map(float, init.column(1).to_pylist()))
    )
    idx = {v: i for i, v in enumerate(vert_ids)}
    n = len(vert_ids)
    if n == 0:
        return local_frame(spark, [], "id string, pagerank double")

    tw: dict = {}
    for s, _, w in edge_rows:
        tw[s] = tw.get(s, 0.0) + float(w)
    kept = [
        (idx[s], idx[d], float(w) / tw[s])
        for s, d, w in edge_rows
        if s in idx and d in idx
    ]
    if kept:
        src_i = np.array([k[0] for k in kept], dtype=np.int64)
        dst_i = np.array([k[1] for k in kept], dtype=np.int64)
        nw = np.array([k[2] for k in kept], dtype=np.float64)
    else:
        src_i = dst_i = np.array([], dtype=np.int64)
        nw = np.array([], dtype=np.float64)

    m = np.zeros(n)
    if seed_ids is not None:
        seeds_in = [s for s in set(seed_ids) if s in idx]
        if not seeds_in:
            raise ValueError("personalized pagerank: no seed is a vertex")
        m[[idx[s] for s in seeds_in]] = 1.0 / len(seeds_in)
    else:
        m[:] = 1.0 / n

    no_out = np.array([v not in tw for v in vert_ids])
    has_dangling = bool(no_out.any())
    d = float(damping)
    if init_map is not None:
        r = np.array([init_map.get(v, m[idx[v]]) for v in vert_ids])
        total = float(r.sum()) or 1.0
        r = r / total
    else:
        r = m.copy()
    it = 0
    for it in range(1, n_iter + 1):
        dangling = float(r[no_out].sum()) if has_dangling else 0.0
        contrib = np.zeros(n)
        if kept:
            np.add.at(contrib, dst_i, r[src_i] * nw)
        new_r = m * ((1.0 - d) + d * dangling) + d * contrib
        delta = float(np.abs(new_r - r).sum())
        r = new_r
        if tol is not None and delta < tol:
            break
    log.info("pagerank: driver path, %d iterations", it)
    return local_frame(
        spark,
        [(v, float(r[i])) for i, v in enumerate(vert_ids)],
        "id string, pagerank double",
    )


def pagerank_projection(
    projection: DataFrame,
    *,
    damping: float = DAMPING,
    n_iter: int = 5,
    tol: Optional[float] = None,
    reset: Optional[DataFrame] = None,
    initial_ranks: Optional[DataFrame] = None,
) -> DataFrame:
    """(Personalized) PageRank over the undirected weighted co-occurrence
    projection ``(s, d, weight)`` (communities.weighted_projection): edges
    are symmetrized, the vertex set is the projection's (isolated canonical
    entities carry no co-occurrence evidence and are excluded — document
    scope, not a bug). → (entity_id, pagerank) rounded to 6 for stable
    cross-engine comparison.

    ``tol``/``initial_ranks`` pass through to ``pagerank`` — the
    incremental plan warm-starts from the previous run's rank table
    (``initial_ranks``) in tol mode, converging in fewer sweeps to the
    same fixpoint (the logged iteration count is pytest-gated)."""
    sym = projection.select(
        F.col("s").alias("src"), F.col("d").alias("dst"), "weight"
    ).unionByName(
        projection.select(
            F.col("d").alias("src"), F.col("s").alias("dst"), "weight"
        )
    )
    verts = sym.select(F.col("src").alias("id")).distinct()
    pr = pagerank(
        verts,
        sym,
        damping=damping,
        n_iter=n_iter,
        tol=tol,
        weight_col="weight",
        reset=reset,
        initial_ranks=initial_ranks,
    )
    return entity_ranks(pr)


def entity_ranks(pr: DataFrame) -> DataFrame:
    """(id, pagerank) → the (entity_id, pagerank) table, rounded to 6."""
    return pr.select(
        F.col("id").alias("entity_id"), F.round("pagerank", 6).alias("pagerank")
    )
