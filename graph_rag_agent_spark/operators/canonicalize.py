"""Entity canonicalization — the LightRAG-style dedupe as a salted
blocked similarity join + DataFrame connected components.

Reference operators D2-D14 (similar_entity.py, entity_merger.py,
entity_disambiguation.py, entity_alignment.py):

1. SIMILAR edges   — GDS KNN (cosine ≥ 0.9, topK 10) → here: blocked
                     self-similarity via `applyInPandas` (numpy matmul per
                     block — vectorized, no |block|² row explosion), blocks
                     from the shared normalized-name prefix key.
2. WCC             — gds.wcc → DataFrame CC loop (connected_components.py).
3. Duplicate groups— within each wcc, pairs with levenshtein(lower) < 3
                     (built-in F.levenshtein), overlapping groups unioned by
                     running CC over the pair graph — exactly the apoc
                     union/subsumption dance (similar_entity.py:295-372).
4. Merge           — group representative = min entity_id (deterministic
                     stand-in for the reference's list-order first node,
                     entity_merger.py:348-360).
5. Disambiguate +  — remaining wcc groups of ≥2: canonical = max degree,
   align             tie → min id (entity_disambiguation.py:213-233), merge
                     with edge transfer + duplicate-edge cleanup
                     (entity_alignment.py:153-281).

Skew/scale: hot blocks (one giant prefix — think 'test…' across 10^12
files) are re-blocked with progressively longer prefixes until under the
salt threshold (the explicit skew handling the north rule demands; AQE
skew-join stays on as backstop). The canonical map is tiny relative to the
edge table → applied with broadcast() joins on subj and obj.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from graph_rag_agent_spark.config import (
    CANON_DRIVER_THRESHOLD,
    CONFLICT_JACCARD,
    SIMILARITY_CUTOFF,
    WORD_EDIT_DISTANCE,
)
from graph_rag_agent_spark.functions.blocking import BLOCK_PREFIX_LEN
from graph_rag_agent_spark.functions.iterative import loop_checkpoint
from graph_rag_agent_spark.functions.canonical_kernel import (
    compose_maps,
    disambig_map_of,
    merge_map_of,
    wcc_of,
)
from graph_rag_agent_spark.functions.similarity_kernel import (
    local_subblocks as _local_subblocks,
    pairs_all,
    pairs_for_block,
)
from graph_rag_agent_spark.operators.connected_components import connected_components
from graph_rag_agent_spark.session import collect_if_fits, local_frame

# Spark-side normalized name — MUST mirror functions/blocking.normalize_name
_NORMALIZE_PATTERN = r"[^0-9a-z一-鿿]+"


def _norm_col(col: str) -> F.Column:
    return F.regexp_replace(F.lower(F.col(col)), _NORMALIZE_PATTERN, "")


def assign_blocks(embeddings: DataFrame) -> DataFrame:
    """entity_embeddings → + (block, _norm) columns: block = prefix of the
    normalized entity name (∅ for empty). Oversized-block salting happens
    LOCALLY inside the similarity task (_local_subblocks) — no extra Spark
    jobs; the shuffle key stays the coarse prefix."""
    return embeddings.withColumn("_norm", _norm_col("entity_id")).withColumn(
        "block",
        F.when(F.length("_norm") == 0, F.lit("∅")).otherwise(
            F.substring("_norm", 1, BLOCK_PREFIX_LEN)
        ),
    )


def similar_edges(embeddings: DataFrame, cutoff: float = SIMILARITY_CUTOFF) -> DataFrame:
    """entity_embeddings(entity_id, embedding) → SIMILAR(src, dst, score).

    Within each block (oversized blocks re-split locally by longer prefixes
    — the skew salting): numpy cosine matrix, pairs ≥ cutoff, per-node topK
    (score desc, id asc). A pair survives if it is in the topK of either
    endpoint — matching GDS KNN's per-node topK writeback (D2).
    """
    blocked = assign_blocks(embeddings)

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame({"src": [], "dst": [], "score": []}).astype(
                {"src": str, "dst": str, "score": float}
            )
        embs = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
        rows = pairs_for_block(
            list(pdf["entity_id"]), list(pdf["_norm"]), embs,
            cutoff=cutoff,
        )
        return pd.DataFrame(rows, columns=["src", "dst", "score"]).astype(
            {"src": str, "dst": str, "score": float}
        )

    return blocked.groupBy("block").applyInPandas(
        per_block, schema="src string, dst string, score double"
    )


def wcc_labels(embeddings: DataFrame, similar: DataFrame) -> DataFrame:
    """→ (entity_id, component): connected components over SIMILAR edges;
    singleton entities are their own component (D3).

    The iterative loop runs ONLY over vertices that touch a SIMILAR edge —
    a tiny fraction of the entity set — and singletons join back as their
    own component afterwards. At 10^9 entities this is the difference
    between iterating on the full node set and on the near-duplicate
    cluster members only."""
    edge_verts = (
        similar.select(F.col("src").alias("entity_id"))
        .unionByName(similar.select(F.col("dst").alias("entity_id")))
        .distinct()
    )
    active = connected_components(
        edge_verts, similar, vertex_col="entity_id", src_col="src", dst_col="dst"
    ).select(F.col("id").alias("entity_id"), "component")
    return (
        embeddings.select("entity_id")
        .join(active, on="entity_id", how="left")
        .withColumn("component", F.coalesce("component", F.col("entity_id")))
    )


def duplicate_groups(labels: DataFrame) -> DataFrame:
    """Within-wcc edit-distance pairing → merged candidate groups (D4/D6).

    → (entity_id, group_id) for entities belonging to a multi-member group;
    group_id = min entity_id of the group (the deterministic 'first node').
    Only ids longer than 1 char participate (similar_entity.py:306 size>1).
    """
    # only multi-member components can produce pairs — prefilter before the
    # self-join so the full entity set never enters the shuffle
    multi = (
        labels.groupBy("component")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("component")
    )
    members = labels.join(multi, on="component", how="left_semi").filter(
        F.length("entity_id") > 1
    )
    a = members.alias("a")
    b = members.alias("b")
    pairs = (
        a.join(b, on=(F.col("a.component") == F.col("b.component")) & (F.col("a.entity_id") < F.col("b.entity_id")))
        # lev(x, y) < d ⇒ |len(x) - len(y)| < d: free exact prefilter that
        # skips the O(len²) levenshtein for most pairs of a hot component
        .filter(
            F.abs(F.length("a.entity_id") - F.length("b.entity_id"))
            < WORD_EDIT_DISTANCE
        )
        # bounded levenshtein (threshold=d-1 → -1 when above): O(d·len)
        # per pair instead of O(len²) — distance < d ⟺ result ≥ 0
        .filter(
            F.levenshtein(
                F.lower("a.entity_id"), F.lower("b.entity_id"),
                WORD_EDIT_DISTANCE - 1,
            )
            >= 0
        )
        .select(F.col("a.entity_id").alias("src"), F.col("b.entity_id").alias("dst"))
    )
    verts = (
        pairs.select(F.col("src").alias("entity_id"))
        .unionByName(pairs.select(F.col("dst").alias("entity_id")))
        .distinct()
    )
    comp = connected_components(verts, pairs, vertex_col="entity_id")
    return comp.select(F.col("id").alias("entity_id"), F.col("component").alias("group_id"))


def _remap_endpoints(edges: DataFrame, bmap: DataFrame) -> DataFrame:
    """Rewrite each edge's subj and obj through the (broadcast) map
    `bmap`(entity_id → canonical_id); an unmapped endpoint keeps its id,
    and the self-loops a merge creates are dropped."""
    return (
        edges.join(bmap.withColumnRenamed("entity_id", "subj").withColumnRenamed("canonical_id", "_cs"), on="subj", how="left")
        .join(bmap.withColumnRenamed("entity_id", "obj").withColumnRenamed("canonical_id", "_co"), on="obj", how="left")
        .withColumn("subj", F.coalesce("_cs", "subj"))
        .withColumn("obj", F.coalesce("_co", "obj"))
        .drop("_cs", "_co")
        .filter(F.col("subj") != F.col("obj"))
    )


def apply_canonical_map(
    nodes: DataFrame, edges: DataFrame, mentions: DataFrame, cmap: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Rewire nodes/edges/mentions through canonical_map(entity_id → canonical_id)
    (D7/D14): the map is broadcast onto subj and obj; same-direction duplicate
    edges collapse keeping max weight + lexicographically-first description
    (deterministic stand-in for 'first node wins', entity_merger.py:409-450)."""
    cmap = cmap.select("entity_id", "canonical_id")
    bmap = F.broadcast(cmap)

    new_nodes = (
        nodes.join(bmap, on="entity_id", how="left")
        .withColumn("canonical_id", F.coalesce("canonical_id", "entity_id"))
        .withColumn("_merged_away", F.col("canonical_id") != F.col("entity_id"))
    )
    survivors = (
        new_nodes.groupBy("canonical_id")
        .agg(
            F.min_by(
                F.struct("entity_id", "entity_type", "description"),
                F.when(F.col("_merged_away"), F.lit(1)).otherwise(F.lit(0)),
            ).alias("_keep"),
            F.array_sort(
                F.collect_list(F.when(F.col("_merged_away"), F.col("entity_id")))
            ).alias("aligned_from"),
        )
        .select(
            F.col("canonical_id").alias("entity_id"),
            F.col("_keep.entity_type").alias("entity_type"),
            F.col("_keep.description").alias("description"),
            "aligned_from",
        )
    )

    new_edges = (
        _remap_endpoints(edges, bmap)
        .groupBy("subj", "pred", "obj")
        .agg(
            F.min("description").alias("description"),
            F.max("weight").alias("weight"),
            F.min("chunk_id").alias("chunk_id"),
            F.count("*").alias("support"),
        )
    )

    new_mentions = (
        mentions.join(bmap, on="entity_id", how="left")
        .withColumn("entity_id", F.coalesce("canonical_id", "entity_id"))
        .select("chunk_id", "entity_id")
        .dropDuplicates(["chunk_id", "entity_id"])
    )
    return survivors, new_edges, new_mentions


def degree_table(edges: DataFrame) -> DataFrame:
    """entity degree = number of incident edge endpoints (COUNT{(e)--()}),
    the canonical-selection key of D10 (entity_disambiguation.py:213-215)."""
    return (
        edges.select(F.col("subj").alias("entity_id"))
        .unionByName(edges.select(F.col("obj").alias("entity_id")))
        .groupBy("entity_id")
        .agg(F.count("*").alias("degree"))
    )


def disambiguation_map(
    labels: DataFrame, edges: DataFrame, resolver=None
) -> DataFrame:
    """wcc groups of ≥2 surviving members → canonical = max degree, tie →
    min entity_id (D10); → canonical_map(entity_id, canonical_id) rows only
    for entities that change.

    `resolver` is the D13 LLM adjudication slot (reference
    entity_disambiguation.py:158-276): callable (sorted members,
    {member: degree}) → canonical id, run as an Arrow-batched
    applyInPandas per component (one model call per conflicting group —
    the production shape). None = the pure-DataFrame window rule."""
    deg = degree_table(edges)
    members = labels.join(deg, on="entity_id", how="left").fillna({"degree": 0})
    if resolver is None:
        w = Window.partitionBy("component").orderBy(F.desc("degree"), F.asc("entity_id"))
        ranked = members.withColumn("_canon", F.first("entity_id").over(w))
        return (
            ranked.filter(F.col("entity_id") != F.col("_canon"))
            .select("entity_id", F.col("_canon").alias("canonical_id"))
        )

    def per_component(pdf: pd.DataFrame) -> pd.DataFrame:
        ms = sorted(pdf["entity_id"])
        if len(ms) < 2:
            return pd.DataFrame({"entity_id": [], "canonical_id": []}).astype(str)
        degs = dict(zip(pdf["entity_id"], (int(d) for d in pdf["degree"])))
        pick = resolver(list(ms), {e: degs.get(e, 0) for e in ms})
        if pick not in ms:
            pick = min(ms, key=lambda e: (-degs.get(e, 0), e))
        rows = [(e, pick) for e in ms if e != pick]
        return pd.DataFrame(rows, columns=["entity_id", "canonical_id"])

    return members.groupBy("component").applyInPandas(
        per_component, schema="entity_id string, canonical_id string"
    )


def alignment_conflicts(canonical_map: DataFrame, edges: DataFrame) -> DataFrame:
    """D12 conflict detection (entity_alignment.py:81-123): within each
    alignment group, pairwise Jaccard of the members' outgoing rel-type
    sets; a pair below CONFLICT_JACCARD is a conflict.

    → (canonical_id, entity_a, entity_b, jaccard, conflict). D13 resolution
    is the max-degree rule already applied by disambiguation_map (the
    reference's deterministic fallback when the LLM adjudicator is absent).
    """
    # group members = mapped entities + their canonical representative
    members = canonical_map.select("canonical_id", "entity_id").unionByName(
        canonical_map.select("canonical_id").distinct().withColumn(
            "entity_id", F.col("canonical_id")
        )
    )
    rel_types = edges.groupBy(F.col("subj").alias("entity_id")).agg(
        F.array_sort(F.collect_set("pred")).alias("_types")
    )
    typed = members.join(rel_types, on="entity_id", how="left").withColumn(
        "_types", F.coalesce("_types", F.array())
    )
    a, b = typed.alias("a"), typed.alias("b")
    inter = F.size(F.array_intersect(F.col("a._types"), F.col("b._types")))
    union = F.size(F.array_union(F.col("a._types"), F.col("b._types")))
    jac = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)
    return (
        a.join(
            b,
            on=[
                F.col("a.canonical_id") == F.col("b.canonical_id"),
                F.col("a.entity_id") < F.col("b.entity_id"),
            ],
        )
        .select(
            F.col("a.canonical_id").alias("canonical_id"),
            F.col("a.entity_id").alias("entity_a"),
            F.col("b.entity_id").alias("entity_b"),
            F.round(jac, 6).alias("jaccard"),
            (jac < CONFLICT_JACCARD).alias("conflict"),
        )
    )


class CanonicalizationResult(NamedTuple):
    nodes: DataFrame
    edges: DataFrame
    mentions: DataFrame
    similar: DataFrame
    wcc: DataFrame
    merge_map: DataFrame
    disambig_map: DataFrame
    canonical_map: DataFrame  # composed disambig ∘ merge (entity_id, canonical_id)


def canonicalize(
    nodes: DataFrame,
    edges: DataFrame,
    mentions: DataFrame,
    embeddings: DataFrame,
    cutoff: float = SIMILARITY_CUTOFF,
    driver_threshold_entities: int = CANON_DRIVER_THRESHOLD,
    adjudicator=None,
    resolver=None,
) -> CanonicalizationResult:
    """Full D2-D14 sequence — SIZE-ADAPTIVE like the reference's GDS
    (which runs KNN/WCC in the Neo4j JVM's memory):

    - entity set ≤ `driver_threshold_entities` → the whole canonical map is
      computed on the driver with the SHARED numpy/union-find kernels
      (functions/similarity_kernel.py + canonical_kernel.py — the same code
      the parity oracle runs), ~3 Spark jobs total; only the edge-table
      degree aggregation and the final map application stay distributed.
    - larger → fully distributed: blocked applyInPandas similarity join,
      DataFrame connected components, window disambiguation.

    Either way, the two merge phases (edit-distance groups, then max-degree
    disambiguation) COMPOSE into one canonical map before touching the edge
    table: phase A's degrees come from a lazy phase-M-mapped aggregation,
    then combined = disambig ∘ merge is applied in a single broadcast-join
    pass. Map composition preserves the final (subj, pred, obj) set (dedup
    after composed mapping ≡ dedup after each phase) while halving the
    full-edge-table shuffles — the edge table is the 10^12-row side; the
    maps are the tiny side.

    `adjudicator` (D5) picks each duplicate group's surviving entity;
    `resolver` (D13) picks each conflicting group's canonical — both are
    the reference's LLM slots (entity_merger.py:165-311,
    entity_disambiguation.py:158-276), run as one Arrow-batched call per
    group in the distributed path; None = the deterministic rules."""
    spark = nodes.sparkSession
    emb = collect_if_fits(
        embeddings.select("entity_id", "embedding"),
        driver_threshold_entities,
        "canonicalize embeddings",
    )
    if emb is not None:
        return _canonicalize_driver(
            spark, nodes, edges, mentions, emb, cutoff, adjudicator, resolver,
        )

    similar = similar_edges(embeddings, cutoff=cutoff).transform(loop_checkpoint)
    labels = wcc_labels(embeddings, similar).transform(loop_checkpoint)

    # phase M: edit-distance duplicate groups within wcc → merge rep (D5:
    # min id, or one adjudicator call per group)
    groups = duplicate_groups(labels)
    if adjudicator is None:
        merge_map = groups.filter(F.col("entity_id") != F.col("group_id")).select(
            "entity_id", F.col("group_id").alias("canonical_id")
        )
    else:

        def per_group(pdf: pd.DataFrame) -> pd.DataFrame:
            ms = sorted(pdf["entity_id"])
            pick = adjudicator(list(ms))
            if pick not in ms:
                pick = ms[0]
            rows = [(e, pick) for e in ms if e != pick]
            return pd.DataFrame(rows, columns=["entity_id", "canonical_id"])

        merge_map = groups.groupBy("group_id").applyInPandas(
            per_group, schema="entity_id string, canonical_id string"
        )
    merge_map = merge_map.transform(loop_checkpoint)

    # phase A degrees: distinct triples after the (lazy) phase-M mapping
    bmerge = F.broadcast(merge_map)
    edges_m = _remap_endpoints(edges, bmerge).select("subj", "pred", "obj").dropDuplicates()
    surviving_labels = labels.join(bmerge, on="entity_id", how="left_anti")
    disambig_map = disambiguation_map(
        surviving_labels, edges_m, resolver=resolver
    ).transform(loop_checkpoint)

    # combined map: entity →(M)→ group rep →(A)→ canonical
    dis_renamed = disambig_map.select(
        F.col("entity_id").alias("_g"), F.col("canonical_id").alias("_final")
    )
    chained = (
        merge_map.join(
            F.broadcast(dis_renamed),
            merge_map["canonical_id"] == dis_renamed["_g"],
            "left",
        )
        .select(
            "entity_id", F.coalesce("_final", "canonical_id").alias("canonical_id")
        )
    )
    combined_map = chained.unionByName(disambig_map).transform(loop_checkpoint)

    nodes2, edges2, mentions2 = apply_canonical_map(nodes, edges, mentions, combined_map)

    return CanonicalizationResult(
        nodes=nodes2,
        edges=edges2,
        mentions=mentions2,
        similar=similar,
        wcc=labels,
        merge_map=merge_map,
        disambig_map=disambig_map,
        canonical_map=combined_map,
    )


def _canonicalize_driver(
    spark,
    nodes: DataFrame,
    edges: DataFrame,
    mentions: DataFrame,
    emb: pa.Table,
    cutoff: float,
    adjudicator=None,
    resolver=None,
) -> CanonicalizationResult:
    """Driver fast path: similarity pairs + WCC + duplicate groups + map
    composition via the shared kernels; degrees and the final application
    stay distributed (the edge table is never collected)."""
    ids = emb.column("entity_id").to_pylist()
    embs = (
        np.array(emb.column("embedding").to_pylist(), dtype=np.float64)
        if ids else np.zeros((0, 1), np.float64)
    )
    pairs = pairs_all(ids, embs, cutoff=cutoff)
    wcc = wcc_of(ids, [(a, b) for a, b, _ in pairs])
    mm = merge_map_of(wcc, adjudicator=adjudicator)

    map_schema = "entity_id string, canonical_id string"
    mm_df = local_frame(spark, sorted(mm.items()), map_schema)
    bmerge = F.broadcast(mm_df)
    edges_m = _remap_endpoints(edges, bmerge).select("subj", "pred", "obj").dropDuplicates()
    degrees = {r.entity_id: r.degree for r in degree_table(edges_m).collect()}

    dmap = disambig_map_of(wcc, mm, degrees, resolver=resolver)
    combined = compose_maps(mm, dmap)
    combined_df = local_frame(spark, sorted(combined.items()), map_schema)
    nodes2, edges2, mentions2 = apply_canonical_map(nodes, edges, mentions, combined_df)

    return CanonicalizationResult(
        nodes=nodes2,
        edges=edges2,
        mentions=mentions2,
        similar=local_frame(spark, pairs, "src string, dst string, score double"),
        wcc=local_frame(spark, sorted(wcc.items()), "entity_id string, component string"),
        merge_map=mm_df,
        disambig_map=local_frame(spark, sorted(dmap.items()), map_schema),
        canonical_map=combined_df,
    )
