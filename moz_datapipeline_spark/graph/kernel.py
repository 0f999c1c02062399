"""Numpy Dijkstra routing kernel.

Replaces OSRM (contraction hierarchies, scripts/criticality/criticality.sh:6-11)
with a plain binary-heap Dijkstra over a CSR adjacency. The reference's
cost model (scripts/utils/moz.lua:64-83) makes travel cost proportional
to RUC × length, so edge weight = RUC · length_km and a route's cost is
its total RUC — matching the hand-computed fixture totals
(tests/README.md:24-38: routes 3.75 / 4.25 / 4.45).

Scale stance: a national road graph is ~10⁵ nodes (tiny); what explodes
is the scenario count (ways × upgrades × flood periods). So the graph is
broadcast once, immutable, and each scenario applies a boolean edge mask
— never a rebuild (the reference rebuilds OSRM per scenario, its main
cost driver, script-eaul/eaul.js:506-549).
"""

from __future__ import annotations

import heapq
from dataclasses import dataclass

import numpy as np
import pandas as pd

INF = float("inf")


@dataclass
class Graph:
    """Immutable edge-list graph; nodes are dense ints [0, n)."""

    n_nodes: int
    node_ids: list[str]  # dense index -> original node id
    # parallel edge arrays (undirected: one entry per way segment)
    src: np.ndarray  # int32
    dst: np.ndarray  # int32
    weight: np.ndarray  # float64
    way_id: np.ndarray  # object (str) — owning way per edge


def build_graph(edges: pd.DataFrame) -> Graph:
    """edges: columns (way_id, src, dst, weight) with string node ids."""
    nodes = pd.unique(pd.concat([edges["src"], edges["dst"]], ignore_index=True))
    idx = {n: i for i, n in enumerate(nodes)}
    return Graph(
        n_nodes=len(nodes),
        node_ids=list(nodes),
        src=edges["src"].map(idx).to_numpy(dtype=np.int32),
        dst=edges["dst"].map(idx).to_numpy(dtype=np.int32),
        weight=edges["weight"].to_numpy(dtype=np.float64),
        way_id=edges["way_id"].to_numpy(dtype=object),
    )


def _csr(
    g: Graph,
    edge_mask: np.ndarray | None,
    weight_override: np.ndarray | None,
    with_ways: bool = False,
):
    """Build a CSR adjacency (both directions) from masked edge arrays.

    With ``with_ways`` also returns the owning way id per CSR position
    (for shortest-path-tree edge attribution).
    """
    w = g.weight if weight_override is None else weight_override
    if edge_mask is not None:
        s, d, w = g.src[edge_mask], g.dst[edge_mask], w[edge_mask]
        ways = g.way_id[edge_mask]
    else:
        s, d, ways = g.src, g.dst, g.way_id
    # undirected: duplicate reversed
    all_src = np.concatenate([s, d])
    all_dst = np.concatenate([d, s])
    all_w = np.concatenate([w, w])
    order = np.argsort(all_src, kind="stable")
    all_src, all_dst, all_w = all_src[order], all_dst[order], all_w[order]
    indptr = np.zeros(g.n_nodes + 1, dtype=np.int64)
    np.add.at(indptr, all_src + 1, 1)
    np.cumsum(indptr, out=indptr)
    if with_ways:
        all_ways = np.concatenate([ways, ways])[order]
        return indptr, all_dst, all_w, all_ways
    return indptr, all_dst, all_w


def dijkstra(
    indptr: np.ndarray,
    indices: np.ndarray,
    weights: np.ndarray,
    source: int,
    n: int,
    targets: np.ndarray | None = None,
) -> np.ndarray:
    """Single-source shortest path; returns dist array (inf = unreachable).

    With ``targets``, stops as soon as every target is settled — for OD
    cost matrices only the OD columns are read, so the search can quit
    long before exhausting the graph (distances beyond the last target
    stay inf; callers must only read target entries in that mode).
    """
    dist = np.full(n, INF)
    dist[source] = 0.0
    heap = [(0.0, source)]
    is_target = None
    n_left = -1
    if targets is not None:
        # the source itself is popped first and decremented like any target
        is_target = np.zeros(n, dtype=bool)
        is_target[targets] = True
        n_left = int(is_target.sum())
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        if is_target is not None and is_target[u]:
            is_target[u] = False
            n_left -= 1
            if n_left == 0:
                break
        for k in range(indptr[u], indptr[u + 1]):
            v = indices[k]
            nd = d + weights[k]
            if nd < dist[v]:
                dist[v] = nd
                heapq.heappush(heap, (nd, v))
    return dist


def dijkstra_with_pred(
    indptr: np.ndarray, indices: np.ndarray, weights: np.ndarray, source: int, n: int
) -> tuple[np.ndarray, np.ndarray]:
    """Dijkstra that also returns the predecessor CSR edge position per
    node (-1 for the source/unreachable) — used to extract the edges of
    one shortest-path tree."""
    dist = np.full(n, INF)
    pred = np.full(n, -1, dtype=np.int64)
    dist[source] = 0.0
    heap = [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for k in range(indptr[u], indptr[u + 1]):
            v = indices[k]
            nd = d + weights[k]
            if nd < dist[v]:
                dist[v] = nd
                pred[v] = k
                heapq.heappush(heap, (nd, v))
    return dist, pred


def od_tree_ways(g: Graph, od_nodes: np.ndarray) -> list[set]:
    """Per OD source: the set of ways on its shortest paths to the other
    OD nodes (one computed tree per source).

    Removing a way OUTSIDE source i's set leaves all of source i's OD
    distances exactly at benchmark (the realizing paths survive; removal
    can only increase costs) — this holds under ties, because the
    computed tree's costs are what the benchmark recorded. These sets
    drive both scenario pruning and per-source incremental recompute.
    """
    indptr, indices, weights, csr_way = _csr(g, None, None, with_ways=True)
    out: list[set] = []
    for s in od_nodes:
        dist, pred = dijkstra_with_pred(
            indptr, indices, weights, int(s), g.n_nodes
        )
        ways: set = set()
        for t in od_nodes:
            t = int(t)
            if t == int(s) or np.isinf(dist[t]):
                continue
            v = t
            while pred[v] != -1:
                k = pred[v]
                ways.add(csr_way[k])
                # walk to the parent: the CSR stores (u -> v) at position k,
                # and u is recoverable from the indptr bucket of k
                u = int(np.searchsorted(indptr, k, side="right") - 1)
                v = u
        out.append(ways)
    return out


def multi_source_dists(
    g: Graph,
    sources: np.ndarray,
    edge_mask: np.ndarray | None = None,
    weight_override: np.ndarray | None = None,
    targets: np.ndarray | None = None,
) -> np.ndarray:
    """All-sources shortest distances, vectorized over sources.

    Bellman-Ford-style synchronous relaxation: per round, every node
    takes the min over incoming edges of (neighbor dist + weight),
    computed for ALL sources at once with one ``minimum.reduceat`` over
    edges sorted by destination. Rounds = shortest-path hop diameter;
    each round is O(n_sources × E) in pure numpy — beats n_sources
    Python-heapq Dijkstras once sources > a handful AND the hop diameter
    is modest. Fewer than 4 sources run per-source Dijkstra outright;
    long-diameter graphs (relaxation crawls) hit the round cap and fall
    back to it too, so the worst case is bounded.

    With ``targets``, callers promise to read only those columns, so
    the per-source searches may stop at their last target; ``None``
    gives full rows. Returns (n_sources, n_nodes); inf = unreachable.
    """
    n = g.n_nodes
    indptr, indices, weights = _csr(g, edge_mask, weight_override)
    out = np.empty((len(sources), n))

    def dijkstra_rows(first: int) -> np.ndarray:
        for i in range(first, len(sources)):
            out[i] = dijkstra(
                indptr, indices, weights, int(sources[i]), n, targets=targets
            )
        return out

    if len(sources) < 4:
        # too few sources to amortize the edge sort and relaxation rounds
        return dijkstra_rows(0)

    w = g.weight if weight_override is None else weight_override
    if edge_mask is not None:
        s, d, w = g.src[edge_mask], g.dst[edge_mask], w[edge_mask]
    else:
        s, d = g.src, g.dst
    # undirected → directed both ways; group edges by destination
    e_src = np.concatenate([s, d])
    e_dst = np.concatenate([d, s])
    e_w = np.concatenate([w, w]).astype(np.float64)
    order = np.argsort(e_dst, kind="stable")
    e_src, e_dst, e_w = e_src[order], e_dst[order], e_w[order]
    # reduceat segment starts: first edge index per present destination
    dst_unique, seg_starts = np.unique(e_dst, return_index=True)

    # probe: one Dijkstra with hop tracking estimates how many relaxation
    # rounds BF needs; its row is reused either way, so the probe is free
    d0 = np.full(n, INF)
    hops0 = np.zeros(n, dtype=np.int32)
    s0 = int(sources[0])
    d0[s0] = 0.0
    heap = [(0.0, s0)]
    while heap:
        dd, u = heapq.heappop(heap)
        if dd > d0[u]:
            continue
        for kk in range(indptr[u], indptr[u + 1]):
            v = indices[kk]
            nd = dd + weights[kk]
            if nd < d0[v]:
                d0[v] = nd
                hops0[v] = hops0[u] + 1
                heapq.heappush(heap, (nd, v))
    reachable = ~np.isinf(d0)
    hop_est = int(hops0[reachable].max()) if reachable.any() else 0
    max_rounds = min(150, 2 * hop_est + 8)
    out[0] = d0  # row 0 is full: it came from the probe

    if hop_est > 60:
        return dijkstra_rows(1)

    dist = np.full((len(sources), n), INF)
    dist[np.arange(len(sources)), sources] = 0.0
    dist[0] = d0
    for _ in range(max_rounds):
        cand = dist[:, e_src] + e_w  # (n_sources, 2E)
        best = np.minimum.reduceat(cand, seg_starts, axis=1)
        new = dist.copy()
        new[:, dst_unique] = np.minimum(new[:, dst_unique], best)
        if np.array_equal(new, dist):
            return dist
        dist = new
    # estimate was off: finish exactly with per-source Dijkstra
    return dijkstra_rows(1)


def pair_costs(
    g: Graph,
    od_nodes: np.ndarray,
    edge_mask: np.ndarray | None = None,
    weight_override: np.ndarray | None = None,
) -> np.ndarray:
    """Upper-triangle OD pair costs.

    Returns a dense (n_od, n_od) matrix of route costs; entry is inf when
    unroutable. Pair cost = max(ab, ba) per the reference
    (criticality.js:144-171) — symmetric here because the graph is
    undirected, kept for parity of semantics.
    """
    dist = multi_source_dists(
        g, od_nodes, edge_mask, weight_override, targets=od_nodes
    )
    mat = dist[:, od_nodes]
    return np.maximum(mat, mat.T)


def resolve_od(
    edges: pd.DataFrame,
    od_node_ids: list[str] | None,
    od_points_lonlat,
    node_coords: dict[str, tuple[float, float]] | None,
    snap: str,
    *,
    ids_name: str = "od_node_ids",
) -> tuple[pd.DataFrame, list[str]]:
    """The scenario engines' OD inputs → ``(edges, od_node_ids)``.

    Pre-snapped ``od_node_ids`` pass through.  Off-network
    ``od_points_lonlat`` (+ ``node_coords``) snap instead:
    ``snap="edge"`` projects each point onto its nearest edge and
    routes from the foot point — OSRM's osrm.table snap
    (criticality.js:132-177), see ``split_edges_at_points`` — and
    ``snap="node"`` is the cheap nearest-junction approximation.
    ``ids_name`` names the caller's id parameter in the error raised
    when neither input is given.
    """
    if od_points_lonlat is not None:
        if node_coords is None:
            raise ValueError("od_points_lonlat requires node_coords")
        if snap == "edge":
            edges, od_node_ids, _ = split_edges_at_points(
                edges, np.asarray(od_points_lonlat), node_coords
            )
        elif snap == "node":
            g0 = build_graph(edges)
            idxs = snap_to_nodes(g0, np.asarray(od_points_lonlat), node_coords)
            od_node_ids = [g0.node_ids[int(i)] for i in idxs]
        else:
            raise ValueError(f"snap must be 'edge' or 'node', got {snap!r}")
    if od_node_ids is None:
        raise ValueError(f"need {ids_name} or od_points_lonlat")
    return edges, od_node_ids


def snap_to_nodes(
    g: Graph, points_lonlat: np.ndarray, node_coords: dict[str, tuple[float, float]]
) -> np.ndarray:
    """Snap lon/lat points to the nearest graph node (planar argmin).

    The cheap stand-in for OSRM's snap-to-nearest-edge; adequate when
    OD points coincide with network nodes (true for the reference's
    fixtures and OD zone centroids).  For off-network points use
    ``snap_to_edges`` / ``split_edges_at_points`` — the OSRM-parity
    path (scripts/criticality/criticality.js:132-177 snaps each table
    coordinate to the nearest EDGE, not node).
    """
    coords = np.array([node_coords[n] for n in g.node_ids])  # (n, 2) lon/lat
    out = np.empty(len(points_lonlat), dtype=np.int32)
    for i, (lon, lat) in enumerate(points_lonlat):
        d2 = (coords[:, 0] - lon) ** 2 + (coords[:, 1] - lat) ** 2
        out[i] = int(np.argmin(d2))
    return out


def snap_to_edges(
    points_lonlat: np.ndarray,
    edges: pd.DataFrame,
    node_coords: dict[str, tuple[float, float]],
) -> tuple[np.ndarray, np.ndarray]:
    """Project each lon/lat point onto its nearest edge SEGMENT —
    OSRM's phantom-node snap (criticality.js:132-177 via osrm.table):
    the route from an off-network point starts at the foot of the
    perpendicular onto the closest road, not at the closest junction.

    Returns ``(edge_idx, t)``: the row index into ``edges`` of each
    point's nearest segment and the clamped projection parameter
    ``t ∈ [0, 1]`` along it (0 = src endpoint, 1 = dst endpoint).
    Planar argmin like ``snap_to_nodes`` (same small-extent
    assumption); ties break to the lowest edge row, deterministic.
    """
    a = np.array([node_coords[s] for s in edges["src"]], dtype=float)
    b = np.array([node_coords[d] for d in edges["dst"]], dtype=float)
    ab = b - a
    denom = (ab**2).sum(axis=1)
    denom_safe = np.where(denom > 0.0, denom, 1.0)
    pts = np.asarray(points_lonlat, dtype=float)
    out_e = np.empty(len(pts), dtype=np.int64)
    out_t = np.empty(len(pts), dtype=np.float64)
    for i, p in enumerate(pts):
        t = np.clip(((p - a) * ab).sum(axis=1) / denom_safe, 0.0, 1.0)
        foot = a + t[:, None] * ab
        d2 = ((p - foot) ** 2).sum(axis=1)
        e = int(np.argmin(d2))
        out_e[i] = e
        out_t[i] = float(t[e])
    return out_e, out_t


def split_edges_at_points(
    edges: pd.DataFrame,
    points_lonlat: np.ndarray,
    node_coords: dict[str, tuple[float, float]],
    prefix: str = "__od",
) -> tuple[pd.DataFrame, list[str], dict[str, tuple[float, float]]]:
    """Insert one phantom node per OD point at its nearest-edge foot
    point, splitting that edge into segments that keep the ORIGINAL
    way_id — so every downstream mechanism (per-way edge masks, per-way
    weight overrides, tree pruning) works on the augmented graph
    unchanged.  In particular, masking the way an OD point snapped to
    isolates its phantom node → every pair through it costs inf —
    exactly OSRM's null/unroutable semantics for "the closest segment
    to A or B is the one ignored" (criticality.js:148-165, the
    reference's issue #7 case).

    ``weight`` (and ``len_part`` when present) split proportionally to
    the projection parameter — the phantom sits ``t·w`` from src and
    ``(1−t)·w`` from dst, OSRM's partial-edge traversal cost.  A point
    projecting exactly onto an endpoint reuses that node (no
    zero-weight stub).  Multiple points on one edge chain-split it in
    ``t`` order.

    Returns ``(edges_aug, od_node_ids, node_coords_aug)`` ready for
    ``build_graph`` / ``criticality_scores`` / ``EaulContext``.
    """
    edge_idx, ts = snap_to_edges(points_lonlat, edges, node_coords)
    od_ids: list[str] = [""] * len(ts)
    cuts: dict[int, list[tuple[float, int]]] = {}
    src_vals = edges["src"].to_numpy(dtype=object)
    dst_vals = edges["dst"].to_numpy(dtype=object)
    for i, (e, t) in enumerate(zip(edge_idx, ts)):
        if t <= 0.0:
            od_ids[i] = src_vals[e]
        elif t >= 1.0:
            od_ids[i] = dst_vals[e]
        else:
            cuts.setdefault(int(e), []).append((float(t), i))
    if not cuts:
        return edges, od_ids, dict(node_coords)
    coords = dict(node_coords)
    scale_cols = [c for c in ("weight", "len_part") if c in edges.columns]
    out_rows: list[dict] = []
    for e, r in enumerate(edges.to_dict("records")):
        if e not in cuts:
            out_rows.append(r)
            continue
        ax, ay = coords[r["src"]]
        bx, by = coords[r["dst"]]
        prev_node, prev_t = r["src"], 0.0
        for t, i in sorted(cuts[e]):
            node = f"{prefix}{i}"
            od_ids[i] = node
            coords[node] = (ax + t * (bx - ax), ay + t * (by - ay))
            seg = dict(r)
            seg["src"], seg["dst"] = prev_node, node
            for c in scale_cols:
                seg[c] = r[c] * (t - prev_t)
            out_rows.append(seg)
            prev_node, prev_t = node, t
        seg = dict(r)
        seg["src"] = prev_node
        for c in scale_cols:
            seg[c] = r[c] * (1.0 - prev_t)
        out_rows.append(seg)
    return (
        pd.DataFrame(out_rows, columns=list(edges.columns)),
        od_ids,
        coords,
    )
