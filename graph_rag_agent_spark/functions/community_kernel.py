"""Driver-side row functions for the community tail (G1, G5-G9, quality).

Pure functions over the canonical graph held as Python rows — the twins
of the distributed operators in operators/communities.py
(`weighted_projection`, `community_membership`, `community_hierarchy`,
`community_rank`, the info half of `summarize_communities`) and
operators/graph_metrics.graph_quality_report. The driver tail
(`communities.community_tail_on_driver`) builds every tail table from one
snapshot with them; detection and PageRank stay in leiden_kernel and
pagerank._driver_pagerank.

Each function keeps the Spark semantics of its twin, so both paths give
equal rows:
- ``concat_ws`` skips null parts;
- joins and semi-joins never match a null key, and keep multiplicity;
- ``count(*)`` over a ``distinct`` counts the null group;
- ``countDistinct`` ignores nulls;
- strings order by code point (Spark's binary UTF-8 order).

Rows: nodes (entity_id, entity_type), edges (subj, pred, obj), mentions
(chunk_id, entity_id), entity communities (entity_id, [cid per level]),
membership (community_id, level, member_id), rank (community_id, level,
rank).
"""

from __future__ import annotations

from collections import Counter, defaultdict
from typing import Dict, Iterable, List, Optional, Sequence, Tuple

from graph_rag_agent_spark.config import UNKNOWN_ENTITY_TYPE


def concat_ws(sep: str, *parts) -> str:
    """Spark's ``concat_ws``: null parts are skipped."""
    return sep.join(str(p) for p in parts if p is not None)


def _index(rows: Iterable[Sequence], key: int) -> Dict[object, List[Sequence]]:
    """key → its rows, in order; null keys dropped (an equi-join never
    matches them)."""
    out: Dict[object, List[Sequence]] = defaultdict(list)
    for r in rows:
        if r[key] is not None:
            out[r[key]].append(r)
    return out


def projection_rows(edges: Iterable[Sequence]) -> List[Tuple[str, str, float]]:
    """G1 (`weighted_projection`): undirected (s < d, weight = parallel
    edge count) pairs, self-loops and null endpoints dropped; sorted."""
    counts: Counter = Counter()
    for s, _, o in edges:
        if s is None or o is None or s == o:
            continue
        counts[(s, o) if s < o else (o, s)] += 1
    return sorted((s, d, float(w)) for (s, d), w in counts.items())


def membership_rows(entity_comms: Iterable[Sequence]) -> List[tuple]:
    """(`community_membership`) one (community_id '{level}-{cid}', level,
    member_id) row per entity and level."""
    return [
        (concat_ws("-", level, cid), level, entity)
        for entity, comms in entity_comms if comms is not None
        for level, cid in enumerate(comms)
    ]


def hierarchy_rows(entity_comms: Iterable[Sequence]) -> List[tuple]:
    """G5 (`community_hierarchy`): distinct (level, child '{level}-{cid}',
    parent '{level+1}-{cid}') containments, joined per entity id."""
    out = set()
    for rows in _index(entity_comms, 0).values():
        for _, child in rows:
            for _, parent in rows:
                if child is None or parent is None:
                    continue
                for level in range(min(len(child), len(parent) - 1)):
                    out.add((
                        level,
                        concat_ws("-", level, child[level]),
                        concat_ws("-", level + 1, parent[level + 1]),
                    ))
    return sorted(out)


def rank_rows(membership: Iterable[Sequence], mentions: Iterable[Sequence]) -> List[tuple]:
    """G6 (`community_rank`): (community_id, level, distinct mentioning
    chunks) for every community with a mentioned member."""
    chunks_of = _index(mentions, 1)
    groups: Dict[tuple, set] = {}
    for cid, level, member in membership:
        if member in chunks_of:
            seen = groups.setdefault((cid, level), set())
            seen.update(c for c, _ in chunks_of[member] if c is not None)
    return sorted((cid, level, len(seen)) for (cid, level), seen in groups.items())


def summary_rows(
    membership: Iterable[Sequence],
    nodes: Iterable[Sequence],
    edges: Iterable[Sequence],
    rank: Iterable[Sequence],
    top_n: int,
    fingerprint: str,
) -> List[tuple]:
    """G7-G9 template rows (the info half of `summarize_communities`):
    the top-`top_n` level-0 communities by (rank desc, id asc) →
    (community_id, level, rank, summary, full_content, summarizer_v)."""
    top = dict(sorted(
        ((cid, r) for cid, lv, r in rank if lv == 0),
        key=lambda t: (-t[1], t[0]),
    )[:top_n])
    members = [
        (cid, member) for cid, lv, member in membership
        if lv == 0 and cid in top
    ]
    nodes_of = _index(nodes, 0)
    node_descs: Dict[str, List[str]] = defaultdict(list)
    for cid, member in members:
        for _, etype in nodes_of.get(member, ()):
            node_descs[cid].append(concat_ws(":", member, etype))
    comms_of = _index([(m, c) for c, m in members], 0)
    edge_descs: Dict[str, List[str]] = defaultdict(list)
    for s, p, o in edges:
        if s is None or o is None or not s < o:
            continue
        for _, c1 in comms_of.get(s, ()):
            for _, c2 in comms_of.get(o, ()):
                if c1 == c2:
                    edge_descs[c1].append(concat_ws(" -> ", s, p, o))
    rows = []
    for cid, descs in node_descs.items():
        nd, ed = sorted(descs), sorted(edge_descs.get(cid, ()))
        rows.append((
            cid, 0, top[cid],
            f"Community {cid} with {len(nd)} entities and {len(ed)} relationships.",
            "Nodes are: " + "; ".join(nd) + " Relationships are: " + "; ".join(ed),
            fingerprint,
        ))
    return sorted(rows)


def _ratio(num: int, den: int) -> float:
    return num / den if den > 0 else 1.0  # empty input → 1.0


def quality_rows(
    nodes: Sequence[Sequence],
    edges: Sequence[Sequence],
    mentions: Sequence[Sequence],
    chunk_ids: Iterable[Optional[str]],
    membership: Iterable[Sequence],
) -> List[Tuple[str, float]]:
    """The five `graph_quality_report` metrics → (metric, value) rows."""
    node_ids = {e for e, _ in nodes if e is not None}
    mentioned = {e for _, e in mentions}  # distinct: the null group counts
    mention_covered = sum(1 for e in mentioned if e in node_ids)
    endpoints = {x for s, _, o in edges for x in (s, o) if x is not None}
    nodes_used = sum(1 for e, _ in nodes if e is not None and e in endpoints)
    nodes_known = sum(
        1 for _, t in nodes if t is not None and t != UNKNOWN_ENTITY_TYPE
    )
    chunks = set(chunk_ids)
    mentioning = {c for c, _ in mentions if c is not None}
    chunks_covered = sum(1 for c in chunks if c in mentioning)
    m0 = _index([(m, c) for c, lv, m in membership if lv == 0], 0)
    edges_intra = sum(
        1
        for s, _, o in edges
        for _, c1 in m0.get(s, ())
        for _, c2 in m0.get(o, ()) if c1 == c2
    )
    n_nodes, n_edges = len(nodes), len(edges)
    return [
        ("entity_coverage", _ratio(mention_covered, len(mentioned))),
        ("relationship_utilization", _ratio(nodes_used, n_nodes)),
        ("graph_coverage", _ratio(chunks_covered, len(chunks))),
        ("community_relevance", _ratio(edges_intra, n_edges)),
        ("subgraph_quality", 0.5 * _ratio(nodes_known, n_nodes)
         + 0.5 * _ratio(len(set(map(tuple, edges))), n_edges)),
    ]
