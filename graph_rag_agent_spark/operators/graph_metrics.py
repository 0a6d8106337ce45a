"""Graph-structure quality metrics over the canonical graph.

Re-expresses the structural (non-LLM) half of the reference's evaluation
metrics as distributed DataFrame plans:

- `graph_structure_report` — GraphStructureQuality's density +
  connectivity + 0.5/0.5 weighted quality score
  (/root/reference/graphrag_agent/evaluation/metrics/graph_metrics.py:332-355:
  density = |E| / (n(n-1)/2), connectivity = fraction of entities
  participating in ≥1 relationship, quality = 0.5*density +
  0.5*connectivity). Documented deviation: the reference divides the raw
  relationship-instance count by max pairs (multi-edges can push its
  density past 1.0); here density uses DISTINCT undirected pairs — the
  standard simple-graph definition, bounded in [0, 1] — with the raw
  triple count reported alongside as `n_triples`.
- `graph_quality_report` — the five build-time graph-quality metrics
  (EntityCoverageMetric:1009, RelationshipUtilizationMetric:1302,
  GraphCoverageMetric:635, SubgraphQualityMetric:242,
  CommunityRelevanceMetric:6) as one (metric, value) DataFrame (the
  reference scores retrieval results; these score the GRAPH itself).
- `triangle_counts` — per-vertex triangle counts + local clustering
  coefficients. The reference probes connectedness with bounded-path
  Cypher queries (graph_metrics.py:964-1009); a distributed triangle
  count is the exact, scalable form of that probe.

Scale shape (triangles): the classic degree-ordered wedge join. Each
undirected edge is oriented from its lower (degree, id) endpoint to the
higher; wedges are generated only at an edge's LOWER-degree endpoint, so
total wedge volume is O(m^1.5) instead of sum(deg²) — the difference
between feasible and not on a power-law graph where one celebrity node
would otherwise emit |deg|² ≈ 10¹⁴ wedges. Three hash joins, all on
vertex/pair keys; AQE handles residual skew.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, functions as F

from graph_rag_agent_spark.config import DRIVER_MAX_EDGES
from graph_rag_agent_spark.session import collect_if_fits, local_frame

log = logging.getLogger(__name__)


def _undirected(edges: DataFrame) -> DataFrame:
    """→ (a, b): distinct undirected (subj, obj) pairs, self-loops dropped,
    a < b."""
    return (
        edges.select(
            F.least(F.col("subj"), F.col("obj")).alias("a"),
            F.greatest(F.col("subj"), F.col("obj")).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def graph_structure_report(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """→ ONE row (n_nodes, n_triples, n_edges, density, connectivity,
    quality): the corpus-level graph-quality rollup (see module docstring
    for the reference mapping).

    Scale shape: four independent single-row aggregates cross-joined (each
    a map-side-combined count — no wide shuffle); the only distinct is over
    edge endpoints, keyed on the vertex id.
    """
    und = _undirected(edges)
    nn = nodes.select(F.countDistinct("entity_id").alias("n_nodes"))
    nt = edges.agg(F.count("*").alias("n_triples"))
    ne = und.agg(F.count("*").alias("n_edges"))
    touched = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .distinct()
        .agg(F.count("*").alias("n_touched"))
    )
    row = nn.crossJoin(nt).crossJoin(ne).crossJoin(touched)
    n = F.col("n_nodes")
    max_edges = F.when(n > 1, n * (n - 1) / F.lit(2.0)).otherwise(F.lit(1.0))
    density = F.col("n_edges") / max_edges
    connectivity = F.when(n > 0, F.col("n_touched") / n).otherwise(F.lit(0.0))
    return row.select(
        "n_nodes",
        "n_triples",
        "n_edges",
        density.alias("density"),
        connectivity.alias("connectivity"),
        (F.lit(0.5) * density + F.lit(0.5) * connectivity).alias("quality"),
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """→ (entity_id, degree, triangles, clustering): per-vertex triangle
    count and local clustering coefficient 2T/(deg·(deg−1)) over the
    undirected simple graph (multi-edges and self-loops dropped first).
    Every vertex incident to ≥1 edge is emitted (isolated vertices have no
    triangles by definition and carry no edge row to anchor them).
    """
    und = _undirected(edges)
    deg = (
        und.select(F.col("a").alias("id"))
        .unionByName(und.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("degree"))
    )
    # orient each edge from the lower (degree, id) endpoint to the higher —
    # the wedge-bounding step (see module docstring)
    ranked = (
        und.join(deg.withColumnRenamed("id", "a").withColumnRenamed("degree", "da"), "a")
        .join(deg.withColumnRenamed("id", "b").withColumnRenamed("degree", "db"), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = ranked.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    )
    # wedges centered at u between its two higher-ranked neighbors v1 < v2
    # (rank order again, so the closing edge — if present — is oriented
    # exactly v1 → v2 and ONE join closes the triangle)
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = o1.join(o2, "u").filter(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(closing, ["v1", "v2"]).select("u", "v1", "v2")
    cnt = (
        tri.select(F.col("u").alias("id"))
        .unionByName(tri.select(F.col("v1").alias("id")))
        .unionByName(tri.select(F.col("v2").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("triangles"))
    )
    out = deg.join(cnt, "id", "left").select(
        F.col("id").alias("entity_id"),
        "degree",
        F.coalesce("triangles", F.lit(0)).alias("triangles"),
    )
    clustering = F.when(
        F.col("degree") > 1,
        (F.lit(2.0) * F.col("triangles")) / (F.col("degree") * (F.col("degree") - 1)),
    ).otherwise(F.lit(0.0))
    return out.withColumn("clustering", clustering)


def graph_quality_report(
    nodes: DataFrame,
    edges: DataFrame,
    mentions: DataFrame,
    chunks: DataFrame,
    membership: DataFrame,
) -> DataFrame:
    """The five graph-quality metrics as one (metric, value) DataFrame:

    - entity_coverage — share of mentioned entity ids that are nodes;
    - relationship_utilization — share of nodes that are an edge endpoint;
    - graph_coverage — share of chunks with ≥ 1 mention;
    - community_relevance — share of edges whose endpoints share a level-0
      community;
    - subgraph_quality — 0.5 × share of nodes with a known type + 0.5 ×
      share of edges that are distinct (subj, pred, obj) triples.

    An empty denominator scores 1.0. Computed in ONE distributed plan, not
    one driver-side ``.count()`` per ratio: every input feeds a single-row
    aggregate branch, the branches cross-join (1×1, no wide shuffle), the
    empty-input fallbacks are ``when()`` guards, and ``stack`` unpivots the
    wide row.
    """
    from graph_rag_agent_spark.config import UNKNOWN_ENTITY_TYPE

    mentioned = mentions.select("entity_id").distinct()
    endpoints = edges.select(F.col("subj").alias("entity_id")).unionByName(
        edges.select(F.col("obj").alias("entity_id"))
    )
    m0 = membership.filter(F.col("level") == 0).select("member_id", "community_id")
    branches = [
        mentioned.join(nodes.select("entity_id"), "entity_id", "left_semi")
        .agg(F.count("*").alias("mention_covered")),
        mentioned.agg(F.count("*").alias("mention_total")),
        nodes.join(endpoints, "entity_id", "left_semi")
        .agg(F.count("*").alias("nodes_used")),
        nodes.agg(
            F.count("*").alias("nodes_total"),
            F.count(
                F.when(F.col("entity_type") != UNKNOWN_ENTITY_TYPE, 1)
            ).alias("nodes_known"),
        ),
        chunks.select("chunk_id").distinct()
        .join(mentions.select("chunk_id"), "chunk_id", "left_semi")
        .agg(F.count("*").alias("chunks_covered")),
        chunks.select("chunk_id").distinct().agg(F.count("*").alias("chunks_total")),
        edges.agg(F.count("*").alias("edges_total")),
        edges.select("subj", "pred", "obj").distinct()
        .agg(F.count("*").alias("edges_distinct")),
        edges.join(m0.withColumnRenamed("member_id", "subj"), "subj")
        .join(
            m0.withColumnRenamed("member_id", "obj").withColumnRenamed(
                "community_id", "_c2"
            ),
            "obj",
        )
        .filter(F.col("community_id") == F.col("_c2"))
        .agg(F.count("*").alias("edges_intra")),
    ]
    wide = branches[0]
    for b in branches[1:]:
        wide = wide.crossJoin(b)

    def ratio(num: str, den: str) -> F.Column:  # empty input → 1.0
        return F.when(F.col(den) > 0, F.col(num) / F.col(den)).otherwise(F.lit(1.0))

    node_ratio = ratio("nodes_known", "nodes_total")
    edge_ratio = ratio("edges_distinct", "edges_total")
    vals = wide.select(
        ratio("mention_covered", "mention_total").alias("v_ec"),
        ratio("nodes_used", "nodes_total").alias("v_ru"),
        ratio("chunks_covered", "chunks_total").alias("v_gc"),
        ratio("edges_intra", "edges_total").alias("v_cr"),
        (F.lit(0.5) * node_ratio + F.lit(0.5) * edge_ratio).alias("v_sq"),
    )
    return vals.select(
        F.expr(
            "stack(5, "
            "'entity_coverage', v_ec, "
            "'relationship_utilization', v_ru, "
            "'graph_coverage', v_gc, "
            "'community_relevance', v_cr, "
            "'subgraph_quality', v_sq) as (metric, value)"
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_rounds: int = 8,
    driver_threshold: int = DRIVER_MAX_EDGES,
) -> DataFrame:
    """→ (entity_id, core_degree): the k-core of the undirected distinct-pair
    graph — the maximal subgraph where every vertex keeps degree ≥ k — with
    each member's within-core degree. The standard graph-quality pruning
    pass (peripheral extraction noise peels away; the core is what
    community detection and ranking should weight).

    Simultaneous-removal peeling: each round drops every vertex whose
    degree within the surviving subgraph is < k; the fixpoint is the
    unique k-core regardless of removal order. Size-adaptive (the
    CC/pagerank pattern): ≤ ``driver_threshold`` undirected pairs
    (``collect_if_fits``) are peeled as an adjacency dict on the driver;
    above it, a distributed loop of one join + one degree
    aggregation per round (``loop_checkpoint`` each, convergence checked
    with a cheap count — rounds are bounded by ``max_rounds``, the form
    the SQL oracle unrolls; each run logs ``k_core: distributed path, <n>
    rounds`` at INFO). At 10⁹ vertices each round is two
    key-partitioned shuffles over the shrinking alive set — no global
    structure, no quadratic join."""
    from graph_rag_agent_spark.functions.iterative import loop_checkpoint

    pairs = _undirected(edges)

    table = collect_if_fits(pairs, driver_threshold, "k_core pairs")
    if table is not None:
        adj: dict = {}
        for a, b in zip(table.column("a").to_pylist(), table.column("b").to_pylist()):
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        alive = set(adj)
        while True:
            doomed = [v for v in alive if sum(1 for u in adj[v] if u in alive) < k]
            if not doomed:
                break
            alive -= set(doomed)
        rows = [
            (v, sum(1 for u in adj[v] if u in alive)) for v in sorted(alive)
        ]
        return local_frame(edges.sparkSession, rows, "entity_id string, core_degree int")

    sym = pairs.select(F.col("a").alias("s"), F.col("b").alias("d")).unionByName(
        pairs.select(F.col("b").alias("s"), F.col("a").alias("d"))
    ).transform(loop_checkpoint)
    alive = sym.select(F.col("s").alias("id")).distinct().transform(loop_checkpoint)

    def degrees(live: DataFrame) -> DataFrame:
        """→ (id, deg): each vertex of `live` with its degree within `live`."""
        return (
            sym.join(live.withColumnRenamed("id", "s"), on="s")
            .join(live.withColumnRenamed("id", "d"), on="d")
            .groupBy(F.col("s").alias("id"))
            .agg(F.count("*").alias("deg"))
        )

    rounds = 0
    before = alive.count()
    for rounds in range(1, max_rounds + 1):
        nxt = degrees(alive).filter(F.col("deg") >= k).select("id").transform(loop_checkpoint)
        after = nxt.count()
        alive = nxt
        if after == before:
            break
        before = after
    log.info("k_core: distributed path, %d rounds", rounds)
    return degrees(alive).select(
        F.col("id").alias("entity_id"), F.col("deg").cast("int").alias("core_degree")
    )
