"""Query-side retrieval operators over the built graph (reference §2.8).

Q1 local search  — from seed entities: top chunks by mention frequency,
                   top communities by (rank, weight), inside/outside
                   relationships by weight (search/local_search.py:86-137;
                   limits settings.py:261-274).
Q2 weights       — community weight = count(distinct mentioning chunk).
Q3 global search — map over communities at a level, reduce (pluggable
                   map/reduce fns; deterministic templates by default).
Q4 top-k         — Window rank / orderBy().limit() everywhere.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from graph_rag_agent_spark.config import DRIVER_MAX_EDGES
from graph_rag_agent_spark.session import collect_if_fits, local_frame

TOP_CHUNKS = 3
TOP_COMMUNITIES = 3
TOP_RELATIONSHIPS = 10


def seed_entities_by_similarity(
    embeddings: DataFrame, query_embedding: Sequence[float], k: int = 10
) -> DataFrame:
    """Vector top-k seed selection (stands in for the Neo4j vector index)."""
    from graph_rag_agent_spark.operators.similarity import cosine_col

    q = F.array(*[F.lit(float(x)) for x in query_embedding])
    return (
        embeddings.select(
            "entity_id", cosine_col(F.col("embedding").cast("array<double>"), q).alias("score")
        )
        .orderBy(F.desc("score"), F.asc("entity_id"))
        .limit(k)
    )


def top_chunks_for_seeds(
    mentions: DataFrame, chunks: DataFrame, seeds: DataFrame, limit: int = TOP_CHUNKS
) -> DataFrame:
    """→ (chunk_sha, freq, text): the chunks mentioning the most distinct
    seed entities, ordered by (freq desc, chunk_sha asc) (Q1). chunk_sha =
    sha256(text) is the cross-engine chunk key; chunk_id = sha1(text), so
    one chunk_id is one chunk_sha."""
    freq = (
        mentions.join(F.broadcast(seeds.select("entity_id")), on="entity_id", how="left_semi")
        .groupBy("chunk_id")
        .agg(F.countDistinct("entity_id").alias("freq"))
    )
    return (
        freq.join(chunks.select("chunk_id", "text").dropDuplicates(["chunk_id"]), on="chunk_id")
        .select(F.sha2("text", 256).alias("chunk_sha"), "freq", "text")
        .orderBy(F.desc("freq"), F.asc("chunk_sha"))
        .limit(limit)
    )


def community_weights(membership: DataFrame, mentions: DataFrame) -> DataFrame:
    """Q2: weight = count(distinct chunk) mentioning any member."""
    return (
        membership.join(
            mentions.withColumnRenamed("entity_id", "member_id"), on="member_id"
        )
        .groupBy("community_id")
        .agg(F.countDistinct("chunk_id").alias("weight"))
    )


def top_communities_for_seeds(
    membership: DataFrame,
    summaries: DataFrame,
    mentions: DataFrame,
    seeds: DataFrame,
) -> DataFrame:
    """Communities containing seed entities, ordered by (rank, weight) desc."""
    hit = membership.join(
        seeds.select(F.col("entity_id").alias("member_id")), on="member_id", how="left_semi"
    ).select("community_id").dropDuplicates()
    weights = community_weights(membership, mentions)
    return (
        hit.join(summaries, on="community_id")
        .join(weights, on="community_id", how="left")
        .fillna({"weight": 0})
        .orderBy(F.desc("rank"), F.desc("weight"), F.asc("community_id"))
        .limit(TOP_COMMUNITIES)
        .select("community_id", "rank", "weight", "summary")
    )


def seed_relationships(edges: DataFrame, seeds: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(inside, outside) relationships by weight desc (Q1): inside = both
    endpoints are seeds, outside = exactly one endpoint is a seed."""
    s = seeds.select("entity_id")
    ss = s.withColumnRenamed("entity_id", "subj").withColumn("_ss", F.lit(1))
    so = s.withColumnRenamed("entity_id", "obj").withColumn("_so", F.lit(1))
    flagged = edges.join(F.broadcast(ss), on="subj", how="left").join(
        F.broadcast(so), on="obj", how="left"
    )
    inside = flagged.filter(
        F.col("_ss").isNotNull() & F.col("_so").isNotNull()
    ).select(edges.columns)
    outside = flagged.filter(
        F.col("_ss").isNotNull() != F.col("_so").isNotNull()
    ).select(edges.columns)
    # pred is the terminal tiebreaker: (subj, obj) alone is not total when a
    # pair carries two predicates, which would make the limit-boundary (and
    # the oracle hash) fixture-dependent
    order = [F.desc("weight"), F.asc("subj"), F.asc("obj"), F.asc("pred")]
    return (
        inside.orderBy(*order).limit(TOP_RELATIONSHIPS),
        outside.orderBy(*order).limit(TOP_RELATIONSHIPS),
    )


def seed_hop_distance(
    projection: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    driver_threshold: int = DRIVER_MAX_EDGES,
) -> DataFrame:
    """→ (entity_id, hops): minimum hop count from ANY seed over the
    undirected weighted projection ``(s, d, weight)``, bounded at
    ``max_hops`` — the multi-hop generalization of Q1's 1-hop
    seed-relationship retrieval (local_search.py:86-137): the k-hop
    evidence neighborhood around the query's seed entities. Unreached
    vertices are absent (not NULL rows); seeds themselves are hop 0 even
    when isolated.

    Deterministic bounded-round relaxation (the SQL oracle unrolls the
    same ``max_hops`` rounds): dist ← min(dist, neighbor dist + 1), each
    round one key-partitioned join + one min-aggregation over the distance
    table, ``loop_checkpoint`` per round (stats-compounding fix). Bounded
    rounds means bounded shuffles at any graph size — hop limits in
    retrieval are small constants. Size-adaptive like CC/pagerank: with
    edges and seeds each within ``driver_threshold`` rows (``collect_if_fits``)
    the BFS runs as one driver kernel; equality across paths is pytest-gated."""
    from graph_rag_agent_spark.functions.iterative import loop_checkpoint

    sym = projection.select(
        F.col("s").alias("a"), F.col("d").alias("b")
    ).unionByName(projection.select(F.col("d").alias("a"), F.col("s").alias("b")))
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("id"), F.lit(0).alias("hops")
    ).distinct()

    t = driver_threshold
    e_tab = collect_if_fits(projection.select("s", "d"), t, "hop BFS edges")
    s_tab = None if e_tab is None else collect_if_fits(dist.select("id"), t, "hop BFS seeds")
    if s_tab is not None:
        # driver BFS: adjacency dict + frontier expansion
        adj: dict = {}
        for s, d in zip(e_tab.column("s").to_pylist(), e_tab.column("d").to_pylist()):
            adj.setdefault(s, []).append(d)
            adj.setdefault(d, []).append(s)
        best = dict.fromkeys(s_tab.column("id").to_pylist(), 0)
        frontier = list(best)
        for h in range(1, max_hops + 1):
            nxt = []
            for u in frontier:
                for v in adj.get(u, ()):
                    if v not in best:
                        best[v] = h
                        nxt.append(v)
            if not nxt:
                break
            frontier = nxt
        return local_frame(
            projection.sparkSession, sorted(best.items()), "entity_id string, hops int"
        )

    sym = loop_checkpoint(sym)
    dist = loop_checkpoint(dist)
    for _ in range(max_hops):
        stepped = (
            sym.join(dist.withColumnRenamed("id", "b"), on="b")
            .select(F.col("a").alias("id"), (F.col("hops") + 1).alias("hops"))
        )
        dist = (
            dist.unionByName(stepped)
            .groupBy("id")
            .agg(F.min("hops").alias("hops"))
            .transform(loop_checkpoint)
        )
    return dist.select(F.col("id").alias("entity_id"), F.col("hops").cast("int"))


def sampled_neighborhood(
    projection: DataFrame,
    seeds: DataFrame,
    fanout: int = 3,
    hops: int = 2,
) -> DataFrame:
    """→ (src, dst, hop, weight): deterministic fan-out-bounded expansion of
    the seed entities over the undirected projection — per hop, each
    frontier vertex keeps only its top-``fanout`` neighbors by
    (weight desc, id asc), and only previously-unvisited sampled vertices
    join the next frontier. The GraphSAGE-style sampling discipline that
    makes k-hop expansion safe at 10⁹ vertices: a hub with 10⁷ neighbors
    contributes ``fanout`` rows, not 10⁷, so the frontier is bounded by
    |seeds|·fanoutᵏ regardless of degree skew (vs ``seed_hop_distance``,
    which is exact but frontier-unbounded).

    Per hop: one key-partitioned join of the edge table with the (small)
    frontier + one per-src window (PARTITION BY src — never a global
    window) + one anti-join against the visited set; ``loop_checkpoint``
    on frontier/visited. Deterministic (ties by neighbor id; (src, dst)
    is unique in the grouped projection), so the SQL oracle unrolls the
    same hops."""
    from graph_rag_agent_spark.functions.iterative import loop_checkpoint

    sym = projection.select(
        F.col("s").alias("src"), F.col("d").alias("dst"), "weight"
    ).unionByName(
        projection.select(F.col("d").alias("src"), F.col("s").alias("dst"), "weight")
    )
    frontier = seeds.select(F.col(seeds.columns[0]).alias("id")).distinct()
    frontier = loop_checkpoint(frontier)
    visited = frontier
    spark = projection.sparkSession
    sampled = local_frame(spark, [], "src string, dst string, hop int, weight double")
    w = Window.partitionBy("src").orderBy(F.desc("weight"), F.asc("dst"))
    for k in range(1, hops + 1):
        cand = sym.join(
            F.broadcast(frontier.withColumnRenamed("id", "src")), on="src"
        )
        samp = (
            cand.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= fanout)
            .select("src", "dst", F.lit(k).alias("hop"), "weight")
            .transform(loop_checkpoint)
        )
        sampled = sampled.unionByName(samp)
        frontier = (
            samp.select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, on="id", how="left_anti")
            .transform(loop_checkpoint)
        )
        visited = loop_checkpoint(visited.unionByName(frontier))
    return sampled


def _ordered_concat(parts: DataFrame) -> DataFrame:
    """→ (section, content): per-section newline-join of ``content`` in
    ``sort_key`` ascending order, with NO window and NO driver collect —
    each section's parts are already top-k-bounded (≤ TOP_* rows), so the
    sort happens inside ``array_sort`` over a collect_list aggregate, one
    ordinary hash aggregation at any corpus size."""
    return parts.groupBy("section").agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("sort_key", "content"))),
                lambda s: s["content"],
            ),
        ).alias("content")
    )


def local_search_context(
    chunks: DataFrame,
    mentions: DataFrame,
    edges: DataFrame,
    membership: DataFrame,
    summaries: DataFrame,
    seeds: DataFrame,
) -> DataFrame:
    """→ (section, content): the ASSEMBLED Q1 local-search context — the
    reference's actual retrieval deliverable (search/local_search.py:86-137
    builds one prompt context from the chunk, community, and inside/outside
    relationship sections before handing it to the LLM). Sections:

      chunk       top chunks by distinct-seed mention freq, texts joined
      community   top seed-hit communities by (rank, weight), summaries
      rel_inside  both endpoints seeds, 'subj -pred-> obj' lines
      rel_outside exactly one endpoint a seed

    Each section is a single row whose content is the newline-join of its
    parts in retrieval order. Ordering is encoded in a sortable struct key
    (negated numeric ranks + id tiebreaks) and resolved via
    ``array_sort``-over-``collect_list`` — no partition-less window, no
    driver loop; every input branch is the already-proven top-k plan.
    Empty sections emit no row."""
    chunk_top = top_chunks_for_seeds(mentions, chunks, seeds).select(
        F.lit("chunk").alias("section"),
        F.struct((-F.col("freq")).alias("k1"), F.col("chunk_sha").alias("k2")).alias("sort_key"),
        F.col("text").alias("content"),
    )
    comm = top_communities_for_seeds(membership, summaries, mentions, seeds).select(
        F.lit("community").alias("section"),
        F.struct(
            (-F.col("rank").cast("long")).alias("k1"),
            (-F.col("weight").cast("long")).alias("k2"),
            F.col("community_id").alias("k3"),
        ).alias("sort_key"),
        F.col("summary").alias("content"),
    )
    inside, outside = seed_relationships(edges, seeds)
    rel = lambda df, side: df.select(
        F.lit(side).alias("section"),
        F.struct(
            (-F.col("weight")).alias("k1"),
            F.col("subj").alias("k2"),
            F.col("obj").alias("k3"),
            F.col("pred").alias("k4"),
        ).alias("sort_key"),
        F.concat(F.col("subj"), F.lit(" -"), F.col("pred"), F.lit("-> "), F.col("obj")).alias("content"),
    )
    # sort-key struct schemas differ per section: concat per section, union after
    out = [
        _ordered_concat(chunk_top),
        _ordered_concat(comm),
        _ordered_concat(rel(inside, "rel_inside")),
        _ordered_concat(rel(outside, "rel_outside")),
    ]
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res


def global_search_reduce_df(mapped: DataFrame) -> DataFrame:
    """→ (answer): Q3's reduce phase as a one-row DataFrame — the
    deterministic newline-join of the first 20 intermediate answers
    by community_id (the LLM-reduce slot's template path; the string form
    ``global_search_reduce`` collects this same row). Bounded
    TakeOrderedAndProject feeds one global aggregate of ≤ 20 rows."""
    return (
        mapped.orderBy(F.asc("community_id"))
        .limit(20)
        .groupBy()
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("community_id", "intermediate"))
                    ),
                    lambda s: s["intermediate"],
                ),
            ).alias("answer")
        )
    )


def global_search_map(
    summaries: DataFrame, level: int = 0, map_fn=None
) -> DataFrame:
    """Q3 map phase: per-community intermediate answer. map_fn is the
    pluggable LLM slot; the default template extracts the summary line."""
    at_level = summaries.filter(F.col("level") == level)
    if map_fn is None:
        return at_level.select(
            "community_id",
            F.concat(F.lit("[map] "), F.col("summary")).alias("intermediate"),
        )
    import pandas as pd

    def run(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "community_id": pdf["community_id"],
                    "intermediate": [map_fn(s) for s in pdf["full_content"]],
                }
            )

    return at_level.mapInPandas(run, schema="community_id string, intermediate string")


def global_search_reduce(mapped: DataFrame) -> str:
    """Q3 reduce phase: deterministic concatenation of the top intermediate
    results (the LLM-reduce slot). The only driver-side collect in the
    query path, bounded at 20 rows."""
    rows = mapped.orderBy(F.asc("community_id")).limit(20).collect()
    return "\n".join(r.intermediate for r in rows)
