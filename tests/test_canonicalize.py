"""Canonicalization: blocking, similarity join, WCC, duplicate groups,
max-degree canonical selection (reference D2-D14)."""

from pyspark.sql import functions as F

from graph_rag_agent_spark.functions.blocking import block_key, normalize_name
from graph_rag_agent_spark.functions.embedder import embed_text
from graph_rag_agent_spark.functions.strings import levenshtein
from graph_rag_agent_spark.operators.canonicalize import (
    apply_canonical_map,
    assign_blocks,
    canonicalize,
    disambiguation_map,
    duplicate_groups,
    similar_edges,
)
from graph_rag_agent_spark.operators.connected_components import (
    connected_components,
    consecutive_component_ids,
)


def test_normalize_and_block():
    assert normalize_name("Data_Loader") == "dataloader"
    assert normalize_name("DataLoader") == "dataloader"
    assert block_key("Data_Loader") == block_key("DataLoaders") == "data"
    assert block_key("") == "∅"


def test_levenshtein_matches_spark(spark):
    pairs = [("dataloader", "data_loader"), ("abc", "abd"), ("", "xy"), ("同一", "同一")]
    rows = spark.createDataFrame(pairs, "a string, b string").select(
        F.levenshtein("a", "b").alias("d")
    ).collect()
    for (a, b), row in zip(pairs, rows):
        assert levenshtein(a, b) == row.d


def _emb_df(spark, names):
    return spark.createDataFrame(
        [(n, embed_text(f"{n} x").tolist()) for n in names],
        "entity_id string, embedding array<float>",
    )


def test_connected_components(spark):
    verts = spark.createDataFrame([(x,) for x in "abcde"], "id string")
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("d", "e")], "src string, dst string")
    # both code paths must agree: driver union-find and distributed loop
    for threshold in (1_000_000, 0):
        comp = {
            r.id: r.component
            for r in connected_components(verts, edges, driver_threshold=threshold).collect()
        }
        assert comp["a"] == comp["b"] == comp["c"] == "a"
        assert comp["d"] == comp["e"] == "d"
    dense = consecutive_component_ids(connected_components(verts, edges))
    wccs = {r.id: r.wcc for r in dense.collect()}
    assert sorted(set(wccs.values())) == [0, 1]


def test_distributed_cc_log_diameter_convergence(spark, caplog):
    """The distributed loop must be diameter-INDEPENDENT: pointer doubling
    makes label jumps compose, so a 2000-node path (diameter 1999) converges
    in ~log2 rounds — hop-at-a-time propagation would need ~2000."""
    import logging

    from helpers import logged_loops

    n = 2000
    ids = [f"v{i:04d}" for i in range(n)]
    verts = spark.createDataFrame([(x,) for x in ids], "id string")
    edges = spark.createDataFrame(
        list(zip(ids, ids[1:])), "src string, dst string"
    )
    logger = "graph_rag_agent_spark.operators.connected_components"
    with caplog.at_level(logging.INFO, logger=logger):
        labels = connected_components(verts, edges, driver_threshold=0).collect()
    assert all(r.component == "v0000" for r in labels)
    assert len(labels) == n
    assert logged_loops(caplog, "connected components")[-1][1] <= 15


def test_local_subblocks_salt_hot_prefixes():
    from graph_rag_agent_spark.operators.canonicalize import _local_subblocks

    # 40 names sharing prefix 'test' → threshold 10 forces longer prefixes
    norms = [f"testmodule{i:03d}" for i in range(40)]
    subs = list(_local_subblocks(norms, threshold=10))
    assert all(len(s) <= 10 for s in subs)
    assert sorted(i for s in subs for i in s) == list(range(40))
    # identical names cannot split — yielded as one oversized block
    same = ["aaaa"] * 15
    subs2 = list(_local_subblocks(same, threshold=10))
    assert len(subs2) == 1 and len(subs2[0]) == 15


def test_assign_blocks_prefix(spark):
    df = assign_blocks(_emb_df(spark, ["DataLoader", "Data_Loader", "zz", ""]))
    got = {r.entity_id: r.block for r in df.collect()}
    assert got["DataLoader"] == got["Data_Loader"] == "data"
    assert got["zz"] == "zz" and got[""] == "∅"


def test_similar_edges_finds_near_duplicates(spark):
    names = ["DataLoader", "Data_Loader", "DataLoaders", "HttpClient", "zzz"]
    pairs = {(r.src, r.dst) for r in similar_edges(_emb_df(spark, names), cutoff=0.8).collect()}
    assert ("DataLoader", "Data_Loader") in pairs
    assert not any("HttpClient" in p or "zzz" in p for pair in pairs for p in pair)


def test_duplicate_groups_edit_distance(spark):
    labels = spark.createDataFrame(
        [("DataLoader", "w1"), ("Data_Loader", "w1"), ("Unrelated_thing", "w1"),
         ("HttpClient", "w2")],
        "entity_id string, component string",
    )
    groups = {r.entity_id: r.group_id for r in duplicate_groups(labels).collect()}
    # lev(lower) = 1 < 3 → same group, rep = min id ('DataLoader' < 'Data_Loader')
    assert groups["Data_Loader"] == "DataLoader"
    assert "Unrelated_thing" not in groups  # too far
    assert "HttpClient" not in groups       # alone in its wcc


def test_disambiguation_max_degree(spark):
    labels = spark.createDataFrame(
        [("A", "w"), ("B", "w"), ("C", "w")], "entity_id string, component string"
    )
    edges = spark.createDataFrame(
        [("B", "calls", "X"), ("B", "calls", "Y"), ("A", "calls", "X")],
        "subj string, pred string, obj string",
    )
    m = {r.entity_id: r.canonical_id for r in disambiguation_map(labels, edges).collect()}
    # B has degree 2 → canonical; A and C map to B
    assert m == {"A": "B", "C": "B"}


def test_apply_canonical_map_rewires_and_dedupes(spark):
    nodes = spark.createDataFrame(
        [("A", "class", "da"), ("B", "class", "db"), ("C", "class", "dc")],
        "entity_id string, entity_type string, description string",
    )
    edges = spark.createDataFrame(
        [("A", "calls", "C", "d1", 1.0, "c1"), ("B", "calls", "C", "d2", 0.5, "c2"),
         ("C", "refs", "A", "d3", 0.2, "c3")],
        "subj string, pred string, obj string, description string, weight double, chunk_id string",
    )
    mentions = spark.createDataFrame(
        [("c1", "A"), ("c2", "B")], "chunk_id string, entity_id string"
    )
    cmap = spark.createDataFrame([("B", "A")], "entity_id string, canonical_id string")
    n2, e2, m2 = apply_canonical_map(nodes, edges, mentions, cmap)
    assert {r.entity_id for r in n2.collect()} == {"A", "C"}
    triples = {(r.subj, r.pred, r.obj) for r in e2.collect()}
    # A→C and B→C collapse into one; support records the collapse
    assert triples == {("A", "calls", "C"), ("C", "refs", "A")}
    sup = {(r.subj, r.pred, r.obj): r.support for r in e2.collect()}
    assert sup[("A", "calls", "C")] == 2
    assert {(r.chunk_id, r.entity_id) for r in m2.collect()} == {("c1", "A"), ("c2", "A")}


def test_alignment_conflicts(spark):
    from graph_rag_agent_spark.operators.canonicalize import alignment_conflicts

    cmap = spark.createDataFrame(
        [("B", "A"), ("C", "A")], "entity_id string, canonical_id string"
    )
    edges = spark.createDataFrame(
        [("A", "calls", "X"), ("A", "imports", "Y"),
         ("B", "calls", "Z"),                      # B overlaps A on 'calls'
         ("C", "inherits", "W")],                  # C disjoint from A
        "subj string, pred string, obj string",
    )
    got = {(r.entity_a, r.entity_b): (r.jaccard, r.conflict)
           for r in alignment_conflicts(cmap, edges).collect()}
    assert got[("A", "B")][0] == 0.5 and got[("A", "B")][1] is False
    assert got[("A", "C")][0] == 0.0 and got[("A", "C")][1] is True
    assert got[("B", "C")][1] is True


def test_full_canonicalize_merges_variants(spark):
    nodes = spark.createDataFrame(
        [("DataLoader", "class", "class DataLoader"),
         ("Data_Loader", "class", "class Data_Loader"),
         ("HttpClient", "class", "class HttpClient")],
        "entity_id string, entity_type string, description string",
    )
    edges = spark.createDataFrame(
        [("DataLoader", "calls", "HttpClient", "d", 1.0, "c1"),
         ("Data_Loader", "calls", "HttpClient", "d", 1.0, "c2")],
        "subj string, pred string, obj string, description string, weight double, chunk_id string",
    )
    mentions = spark.createDataFrame(
        [("c1", "DataLoader"), ("c2", "Data_Loader")], "chunk_id string, entity_id string"
    )
    from graph_rag_agent_spark.operators.embeddings import embed_entities

    emb = embed_entities(nodes)
    res = canonicalize(nodes, edges, mentions, emb, cutoff=0.8)
    triples = {(r.subj, r.pred, r.obj) for r in res.edges.collect()}
    assert triples == {("DataLoader", "calls", "HttpClient")}
    ids = {r.entity_id for r in res.nodes.collect()}
    assert "Data_Loader" not in ids and "DataLoader" in ids
