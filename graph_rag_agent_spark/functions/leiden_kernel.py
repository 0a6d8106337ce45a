"""Deterministic Leiden community detection (driver-side kernel).

Reference: community/detector/leiden.py:10-89 runs gds.leiden(gamma,
maxLevels, includeIntermediateCommunities) INSIDE the Neo4j JVM — i.e. the
reference itself is single-machine here. The Spark mapping mirrors the
repo's size-adaptive canonicalization: graphs under a threshold run this
exact kernel on the driver (operators/communities.detect_communities);
larger graphs fall back to the distributed weighted-LPA + contraction loop
(the documented approximation for the 100 TB path).

Proper Leiden (Traag et al., "From Louvain to Leiden", 2019):
1. local move   — greedy modularity sweeps (resolution gamma), nodes
                  visited in sorted order, ties → smallest community label;
2. refinement   — constrained local move from singletons, merges allowed
                  only WITHIN a community found in (1) — this is the step
                  Louvain lacks and what guarantees internally-connected
                  communities;
3. aggregation  — the refined partition becomes the next level's vertex
                  set; the aggregate starts from the *unrefined* partition.

Everything is deterministic: no randomized node order, no random tie
breaks, so the Spark pipeline and any re-run agree bit-for-bit.
"""

from __future__ import annotations

from collections import defaultdict
from typing import Dict, Iterable, List, Optional, Tuple

Edge = Tuple[str, str, float]


def _build_adj(edges: Iterable[Edge]):
    """→ (adj: node→{nbr: w}, selfw: node→self-loop weight, nodes set)."""
    adj: Dict[str, Dict[str, float]] = defaultdict(dict)
    selfw: Dict[str, float] = defaultdict(float)
    for u, v, w in edges:
        if u == v:
            selfw[u] += w
            adj.setdefault(u, {})
            continue
        adj[u][v] = adj[u].get(v, 0.0) + w
        adj[v][u] = adj[v].get(u, 0.0) + w
    return adj, selfw


def _local_move(
    order: List[str],
    adj: Dict[str, Dict[str, float]],
    k: Dict[str, float],
    m2: float,
    gamma: float,
    comm: Dict[str, int],
    tot: Dict[int, float],
    max_sweeps: int,
    group: Optional[Dict[str, int]] = None,
    comm_group: Optional[Dict[int, int]] = None,
) -> None:
    """Greedy modularity local move, in place. With `group` set, a node may
    only join communities of the same group (the Leiden refinement
    constraint). Gain of joining c: k_in(c) - gamma * k_v * tot(c) / m2."""
    for _ in range(max_sweeps):
        changed = False
        for v in order:
            cv = comm[v]
            nw: Dict[int, float] = defaultdict(float)
            for u, w in adj.get(v, {}).items():
                nw[comm[u]] += w
            tot[cv] -= k[v]
            best_c = cv
            best_gain = nw.get(cv, 0.0) - gamma * k[v] * tot[cv] / m2
            for c in sorted(nw):
                if c == cv:
                    continue
                if group is not None and comm_group.get(c) != group[v]:
                    continue
                gain = nw[c] - gamma * k[v] * tot[c] / m2
                if gain > best_gain + 1e-12 or (
                    abs(gain - best_gain) <= 1e-12 and c < best_c
                ):
                    best_c, best_gain = c, gain
            tot[best_c] += k[v]
            if best_c != cv:
                comm[v] = best_c
                changed = True
        if not changed:
            break


def _partition(
    nodes: List[str],
    adj,
    selfw,
    gamma: float,
    max_sweeps: int,
    group: Optional[Dict[str, int]] = None,
    init: Optional[Dict[str, int]] = None,
) -> Dict[str, int]:
    """One local-move phase → node→community (int labels). Starts from
    `init` when given (Leiden seeds each aggregate level with the previous
    unrefined partition so quality is monotone), else from singletons."""
    order = sorted(nodes)
    k = {
        v: sum(adj.get(v, {}).values()) + 2.0 * selfw.get(v, 0.0) for v in order
    }
    m2 = sum(k.values())
    if m2 <= 0:
        return {v: i for i, v in enumerate(order)}
    comm = dict(init) if init is not None else {v: i for i, v in enumerate(order)}
    tot: Dict[int, float] = defaultdict(float)
    for v in order:
        tot[comm[v]] += k[v]
    comm_group = (
        {comm[v]: group[v] for v in order} if group is not None else None
    )
    _local_move(order, adj, k, m2, gamma, comm, tot, max_sweeps, group, comm_group)
    return comm


def leiden_levels(
    nodes: Iterable[str],
    edges: Iterable[Edge],
    gamma: float = 1.0,
    max_levels: int = 2,
    max_sweeps: int = 10,
) -> List[Dict[str, int]]:
    """→ one {original_node: dense community id} per level, exactly
    `max_levels` entries (stable levels repeat — gds pads the same way when
    the hierarchy converges before maxLevels). Dense ids are 0-based ranks
    of communities ordered by min member id — deterministic."""
    base_nodes = sorted(set(nodes))
    adj, selfw = _build_adj(edges)
    cur_nodes = list(base_nodes)
    assign = {v: v for v in base_nodes}  # original node → current aggregate node
    levels: List[Dict[str, int]] = []
    agg_init: Optional[Dict[str, int]] = None

    for _ in range(max_levels):
        part = _partition(cur_nodes, adj, selfw, gamma, max_sweeps, init=agg_init)

        # record this level's assignment for the ORIGINAL nodes
        node_comm = {v: part[assign[v]] for v in base_nodes}
        members: Dict[int, List[str]] = defaultdict(list)
        for v, c in node_comm.items():
            members[c].append(v)
        dense = {
            c: i
            for i, c in enumerate(
                sorted(members, key=lambda c: min(members[c]))
            )
        }
        levels.append({v: dense[c] for v, c in node_comm.items()})

        n_comms = len(set(part.values()))
        if n_comms == len(cur_nodes):
            break  # all singletons — hierarchy converged

        # refinement: constrained local move from singletons within `part`
        refined = _partition(
            cur_nodes, adj, selfw, gamma, max_sweeps, group=part
        )

        # aggregate on the REFINED partition; representative = min member
        ref_members: Dict[int, List[str]] = defaultdict(list)
        for v in cur_nodes:
            ref_members[refined[v]].append(v)
        rep = {c: min(ms) for c, ms in ref_members.items()}
        new_adj: Dict[str, Dict[str, float]] = defaultdict(dict)
        new_selfw: Dict[str, float] = defaultdict(float)
        for u in cur_nodes:
            ru = rep[refined[u]]
            new_selfw[ru] += selfw.get(u, 0.0)
            for v, w in adj.get(u, {}).items():
                rv = rep[refined[v]]
                if ru == rv:
                    if u < v:
                        new_selfw[ru] += w
                else:
                    new_adj[ru][rv] = new_adj[ru].get(rv, 0.0) + w
        for v in base_nodes:
            assign[v] = rep[refined[assign[v]]]
        # the aggregate level starts from the UNREFINED partition (Traag
        # alg. 1 line 10): aggregate node (a refined community) inherits the
        # `part` community of its members
        agg_init = {rep[c]: part[ms[0]] for c, ms in ref_members.items()}
        cur_nodes = sorted(rep.values())
        adj, selfw = new_adj, new_selfw

    while len(levels) < max_levels:
        levels.append(dict(levels[-1]))
    return levels
