"""EAUL: expected annual user loss per road-upgrade scenario.

Reference: script-eaul/eaul.js. Per way × upgrade: rebuild the graph
with the upgraded RUC, compute 11 OD cost matrices (no-flood + 10 flood
return periods with impassable ways removed), then

    Ui   = ri · Σ_OD (RUC_flood,i − RUC_noflood) · t_OD      (eaul.js:565-575)
    EAUL = ½ Σ_i (1/Ti − 1/Ti+1)(Ui + Ui+1)                   (eaul.js:644-656)
    |EAUL| < 1 → 0                                            (eaul.js:727)

Impassability: (WLcc − WLd·Dc) > 0.5 with WLd = depth at the 20-year
design standard and Dc = 0.7 (1.0 for the upgraded way)
(eaul.js:359-371). Repair time ri = max over impassable ways of
flooded_km · hours[severity][surface] / 24 (eaul.js:387-415).

The unroutable-pair exclusion set is frozen from the BASELINE flood
runs and applied to every scenario (eaul.js:204-330) — modeled here as
an explicit two-phase plan: baseline kernel run → frozen set → scenario
fan-out. Pairs with zero traffic are excluded too (eaul.js:228-236).

Spark shape: scenarios = a local ways × upgrades DataFrame, fanned out
by one ``mapInPandas`` pass per partition — the local relation scans as
one partition per task slot, so there is one Python task per slot and no
shuffle before the kernel. The immutable graph and the
baseline phase's caches are broadcast; per-scenario work is pure numpy
masking (the reference rebuilds OSRM 11× per scenario — eaul.js:506-549
— which is exactly what we avoid).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from moz_datapipeline_spark.functions.arrays import RETURN_PERIODS
from moz_datapipeline_spark.graph.kernel import (
    Graph,
    _csr,
    build_graph,
    dijkstra,
    pair_costs,
    snap_to_nodes,
    split_edges_at_points,
)

#: road upgrades evaluated per way (script-eaul/eaul.js:164-202)
ROAD_UPGRADES: list[dict] = [
    {"id": "upgrade-rehab-asphalt", "ruc": 0.23, "drainage_capacity": 1.0, "surface": "paved"},
    {"id": "upgrade-rehab-gravel", "ruc": 0.27, "drainage_capacity": 1.0, "surface": "unpaved"},
    {"id": "rehab-earth", "ruc": 0.3, "drainage_capacity": 1.0, "surface": "unpaved"},
]

#: flood repair hours/km by severity × surface (script-eaul/eaul.js:115-158;
#: identical across road classes in the reference, so classes are collapsed)
FLOOD_REPAIR_HOURS: dict[str, dict[str, float]] = {
    "low": {"paved": 168.0, "unpaved": 1440.0},
    "medium": {"paved": 336.0, "unpaved": 2160.0},
    "high": {"paved": 1056.0, "unpaved": 4320.0},
}

#: design standard return period (script-eaul/eaul.js:161)
ROAD_DESIGN_STANDARD = 20
_DS_IDX = RETURN_PERIODS.index(ROAD_DESIGN_STANDARD)


def _severity(wlcc: float) -> str:
    # eaul.js:396-399 (note: differs from vulnerability.js banding)
    if wlcc > 1.5:
        return "high"
    if wlcc > 0.5:
        return "medium"
    return "low"


class EaulContext:
    """Immutable per-job data shipped (via closure broadcast) to tasks."""

    def __init__(
        self,
        edges: pd.DataFrame,
        way_props: pd.DataFrame,
        od_node_ids: list[str],
        traffic_yearly: dict[tuple[int, int], float],
    ):
        """
        edges: (way_id, src, dst, weight, len_part, ruc) — len_part is the
            km of way length carried by this edge (weight = ruc·len_part).
        way_props: (way_id, length_km, surface, depths list[10],
            lengths list[10]) — flood depth (m) and % flooded per period.
        od_node_ids: graph node id per OD point (pre-snapped).
        traffic_yearly: {(oIdx, dIdx): yearly trips} (i < j).
        """
        self.g: Graph = build_graph(edges)
        self.len_part = edges["len_part"].to_numpy(dtype=np.float64)
        self.edge_ruc = edges["ruc"].to_numpy(dtype=np.float64)
        node_index = {n: i for i, n in enumerate(self.g.node_ids)}
        self.od_nodes = np.array([node_index[n] for n in od_node_ids], dtype=np.int64)
        self.iu, self.ju = np.triu_indices(len(self.od_nodes), k=1)
        self.traffic = np.array(
            [traffic_yearly.get((int(i), int(j)), 0.0) for i, j in zip(self.iu, self.ju)]
        )
        wp = way_props.set_index("way_id")
        self.way_props = wp
        self.depths = {w: np.asarray(r["depths"], dtype=float) for w, r in wp.iterrows()}
        self.lengths = {w: np.asarray(r["lengths"], dtype=float) for w, r in wp.iterrows()}
        # single-edge ways qualify for the closed-form scenario fast path
        self._way_edge_count = pd.Series(self.g.way_id).value_counts().to_dict()
        self._dist_cache: dict[frozenset, np.ndarray] = {}
        self._csr_cache: dict[frozenset, tuple] = {}
        self._s_dist_cache: dict[tuple[frozenset, str], np.ndarray] = {}

    def _od_dists(self, removed: frozenset) -> np.ndarray:
        """(n_od, n_nodes) shortest-dist rows from each OD node on the
        graph with ``removed`` ways masked — cached per removal set.

        These full rows power the closed-form upgrade formula; there are
        at most 11 distinct removal sets (no-flood + 10 periods) per job,
        so total Dijkstra count is 11 × n_od regardless of scenario count.
        """
        if removed not in self._dist_cache:
            from moz_datapipeline_spark.graph.kernel import multi_source_dists

            mask = (
                ~np.isin(self.g.way_id, list(removed)) if removed else None
            )
            self._dist_cache[removed] = multi_source_dists(
                self.g, self.od_nodes, edge_mask=mask
            )
        return self._dist_cache[removed]

    def _masked_csr(self, removed: frozenset):
        if removed not in self._csr_cache:
            mask = ~np.isin(self.g.way_id, list(removed)) if removed else None
            self._csr_cache[removed] = _csr(self.g, mask, None)
        return self._csr_cache[removed]

    def _way_node_dists(
        self, graph_removed: frozenset, way: str, s_nodes: np.ndarray
    ) -> np.ndarray:
        """Pairwise shortest distances among the way's |S| endpoint nodes
        on the graph with ``graph_removed`` masked — |S| target-terminated
        Dijkstras, cached per (graph, way). With ≤11 distinct flood graphs
        per job and ways split to a handful of edges, this is O(ways × 11
        × |S|) small searches total, independent of scenario count."""
        key = (graph_removed, way)
        if key not in self._s_dist_cache:
            indptr, indices, weights = self._masked_csr(graph_removed)
            m = np.empty((len(s_nodes), len(s_nodes)))
            for i, s in enumerate(s_nodes):
                dist = dijkstra(
                    indptr, indices, weights, int(s), self.g.n_nodes,
                    targets=s_nodes,
                )
                m[i] = dist[s_nodes]
            self._s_dist_cache[key] = m
        return self._s_dist_cache[key]

    def impassable_ways(
        self, period_idx: int, upgrade_way: str | None, upgrade_dc: float
    ) -> set[str]:
        out = set()
        for w in self.way_props.index:
            wlcc = self.depths[w][period_idx]
            wld = self.depths[w][_DS_IDX]
            dc = upgrade_dc if w == upgrade_way else 0.7
            if (wlcc - wld * dc) > 0.5:
                out.add(w)
        return out

    def repair_time_days(
        self, period_idx: int, upgrade_way: str | None, upgrade_surface: str | None
    ) -> float:
        r = 0.0
        for w in self.impassable_ways(period_idx, None, 0.7):
            wlcc = self.depths[w][period_idx]
            surface = (
                upgrade_surface
                if (upgrade_way is not None and w == upgrade_way)
                else self.way_props.loc[w, "surface"]
            )
            len_flooded = (
                self.way_props.loc[w, "length_km"]
                * self.lengths[w][period_idx]
                / 100.0
            )
            hours = FLOOD_REPAIR_HOURS[_severity(wlcc)][surface]
            r = max(r, len_flooded * hours / 24.0)
        return r

    def scenario_pair_costs(
        self, upgrade_way: str | None, new_ruc: float | None, removed: set[str]
    ) -> np.ndarray:
        """Upper-triangle pair RUC vector for one (upgrade, flood) state.

        Fast path (single-edge upgraded way, the post-split normal form —
        the reference splits ways to 2-node OSM ways, preparation.sh:248
        ``--split-ways 1``): the scenario matrix follows in closed form
        from the period's cached baseline SSSP rows,

            new(x,y) = min(old(x,y), old(x,a)+c+old(b,y), old(x,b)+c+old(a,y))

        exact for an edge ADDITION at any weight (way flooded out in the
        baseline period, passable after the upgrade's drainage), and for
        a weight DECREASE (upgrades always lower RUC); so the scenario
        fan-out runs ZERO Dijkstras — the reference rebuilds + re-queries
        OSRM 11× per scenario here (eaul.js:506-549).
        """
        if upgrade_way is None or upgrade_way in removed:
            # no weight change in play: pure masked-graph matrix (cached)
            rows = self._od_dists(frozenset(removed))
            mat = rows[:, self.od_nodes]
            mat = np.maximum(mat, mat.T)
            return mat[self.iu, self.ju]

        if self._way_edge_count.get(upgrade_way, 0) == 1:
            e = int(np.where(self.g.way_id == upgrade_way)[0][0])
            a, b = int(self.g.src[e]), int(self.g.dst[e])
            c_new = float(new_ruc) * float(self.len_part[e])
            c_old = float(self.g.weight[e])
            alt_key = frozenset(set(removed) | {upgrade_way})
            if alt_key in self._dist_cache:
                # (A) way absent from the cached period graph → addition
                d = self._dist_cache[alt_key]
            elif c_new <= c_old:
                # (B) way present at old weight → decrease
                d = self._od_dists(frozenset(removed))
            else:
                d = None
            if d is not None:
                direct = d[:, self.od_nodes]
                via_ab = d[:, a][:, None] + c_new + d[:, b][None, :]
                via_ba = d[:, b][:, None] + c_new + d[:, a][None, :]
                mat = np.minimum(direct, np.minimum(via_ab, via_ba))
                mat = np.maximum(mat, mat.T)
                return mat[self.iu, self.ju]

        else:
            # multi-edge way: exact closed-form overlay. All changed edges
            # have endpoints in the way's node set S, so every new shortest
            # path alternates old-graph segments between S nodes and
            # changed edges; the min-plus closure B* of
            #     B(s,t) = min(old_d(s,t), new_edge_weight(s,t))
            # over S (Floyd–Warshall on a tiny |S|×|S| matrix) captures all
            # such alternations, and
            #     new(x,y) = min(old(x,y), min_{s,t} old(x,s)+B*(s,t)+old(t,y))
            # is exact for edge ADDITIONS and weight DECREASES — the only
            # cases upgrades produce. Replaces the previous full-Dijkstra
            # fallback (11 × n_od searches per scenario) with |S| cached
            # target-terminated searches per (way, flood graph).
            e_idx = np.where(self.g.way_id == upgrade_way)[0]
            c_new_e = float(new_ruc) * self.len_part[e_idx]
            alt_key = frozenset(set(removed) | {upgrade_way})
            if alt_key in self._dist_cache:
                # (A) way absent from the cached period graph → additions
                d = self._dist_cache[alt_key]
                graph_removed = alt_key
            elif np.all(c_new_e <= self.g.weight[e_idx]):
                # (B) way present at old weights → uniform decrease
                d = self._od_dists(frozenset(removed))
                graph_removed = frozenset(removed)
            else:
                d = None
            if d is not None:
                s_nodes = np.unique(
                    np.concatenate([self.g.src[e_idx], self.g.dst[e_idx]])
                ).astype(np.int64)
                pos = {int(n): i for i, n in enumerate(s_nodes)}
                B = self._way_node_dists(
                    graph_removed, upgrade_way, s_nodes
                ).copy()
                for e, c in zip(e_idx, c_new_e):
                    i, j = pos[int(self.g.src[e])], pos[int(self.g.dst[e])]
                    if c < B[i, j]:
                        B[i, j] = B[j, i] = c
                np.fill_diagonal(B, 0.0)
                for m in range(len(s_nodes)):
                    B = np.minimum(B, B[:, m][:, None] + B[m, :][None, :])
                d_S = d[:, s_nodes]  # (n_od, |S|)
                via_s = (d_S[:, :, None] + B[None, :, :]).min(axis=1)
                # old(t,y) = d(y,t) by symmetry of the undirected graph
                via = (via_s[:, None, :] + d_S[None, :, :]).min(axis=2)
                mat = np.minimum(d[:, self.od_nodes], via)
                mat = np.maximum(mat, mat.T)
                return mat[self.iu, self.ju]

        # fallback: full recompute (weight increase — upgrades never do)
        weight = self.g.weight.copy()
        sel = self.g.way_id == upgrade_way
        weight[sel] = new_ruc * self.len_part[sel]
        mask = None
        if removed:
            mask = ~np.isin(self.g.way_id, list(removed))
        mat = pair_costs(self.g, self.od_nodes, edge_mask=mask, weight_override=weight)
        return mat[self.iu, self.ju]

    def eaul(
        self,
        upgrade_way: str | None,
        new_ruc: float | None,
        upgrade_dc: float,
        upgrade_surface: str | None,
        excluded: np.ndarray | None,
    ) -> tuple[float, np.ndarray]:
        """EAUL for one scenario. Returns (eaul, unroutable_any_period mask).

        When ``excluded`` is None this IS the baseline phase: the mask of
        pairs unroutable in any flood period is returned to be frozen and
        broadcast to every upgrade scenario (eaul.js:204-330).
        """
        base = self.scenario_pair_costs(upgrade_way, new_ruc, set())
        flood_costs = []
        unroutable_any = np.zeros(len(self.iu), dtype=bool)
        for pi in range(len(RETURN_PERIODS)):
            removed = self.impassable_ways(pi, upgrade_way, upgrade_dc)
            fc = self.scenario_pair_costs(upgrade_way, new_ruc, removed)
            unroutable_any |= np.isinf(fc)
            flood_costs.append(fc)

        if excluded is None:
            excluded = unroutable_any | (self.traffic == 0)
        keep = ~(excluded | unroutable_any)  # newly-unroutable also dropped

        u = []
        for pi in range(len(RETURN_PERIODS)):
            r = self.repair_time_days(pi, upgrade_way, upgrade_surface)
            diff = (flood_costs[pi][keep] - base[keep]) * self.traffic[keep]
            u.append(r * float(np.sum(diff)))
        t = RETURN_PERIODS
        flood_sum = sum(
            (1.0 / t[i] - 1.0 / t[i + 1]) * (u[i] + u[i + 1])
            for i in range(len(t) - 1)
        )
        eaul = 0.5 * flood_sum
        if abs(eaul) < 1.0:
            eaul = 0.0
        return eaul, (excluded if excluded is not None else unroutable_any)


_EAUL_SCHEMA = "way_id string, upgrade_id string, eaul double"


def _eaul_batches(
    batches: Iterator[pd.DataFrame], ctx: EaulContext, excluded: np.ndarray
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel: one (way_id, upgrade_id, eaul) frame per
    non-empty scenario batch, each row from ``ctx.eaul``."""
    for pdf in batches:
        if not len(pdf):
            continue
        vals = [
            ctx.eaul(w, ruc, dc, surface, excluded)[0]
            for w, ruc, dc, surface in zip(
                pdf["way_id"], pdf["ruc"], pdf["dc"], pdf["surface"]
            )
        ]
        yield pd.DataFrame(
            {"way_id": pdf["way_id"], "upgrade_id": pdf["upgrade_id"], "eaul": vals}
        )


def eaul_scores(
    spark: SparkSession,
    edges: pd.DataFrame,
    way_props: pd.DataFrame,
    od_node_ids: list[str] | None = None,
    traffic_yearly: dict[tuple[int, int], float] | None = None,
    upgrades: list[dict] | None = None,
    checkpoint_dir: str | None = None,
    od_points_lonlat=None,
    node_coords: dict[str, tuple[float, float]] | None = None,
    snap: str = "edge",
) -> DataFrame:
    """Two-phase distributed EAUL.

    Phase 1 (driver, one kernel call): baseline EAUL + frozen exclusion
    set. Phase 2 (cluster): ways × upgrades scenario DataFrame through
    one ``mapInPandas`` pass per partition. Output rows: (way_id,
    upgrade_id, eaul) with a ('__baseline__', 'baseline') row first.

    Off-network OD points: pass ``od_points_lonlat`` (+ ``node_coords``)
    instead of ``od_node_ids``; ``snap="edge"`` (default) inserts OSRM
    phantom nodes on the nearest segments (split edges keep their
    way_id, so per-way floods/upgrades apply to both halves and a
    point whose nearest segment floods out becomes unroutable — the
    reference's osrm.table null case), ``snap="node"`` approximates
    with the nearest junction.

    ``checkpoint_dir`` enables cross-run resume (G8 parity with the
    reference's per-way S3 restart, script-eaul/README.md:63-97):
    scenario results append there and finished (way, upgrade) pairs are
    skipped on rerun — see ``graph.resume.resumable_apply``.  The
    baseline phase (benchmark-once) reruns; only the fan-out resumes.
    """
    if od_points_lonlat is not None:
        if node_coords is None:
            raise ValueError("od_points_lonlat requires node_coords")
        if snap == "edge":
            edges, od_node_ids, node_coords = split_edges_at_points(
                edges, np.asarray(od_points_lonlat), node_coords
            )
        elif snap == "node":
            g0 = build_graph(edges)
            idxs = snap_to_nodes(
                g0, np.asarray(od_points_lonlat), node_coords
            )
            od_node_ids = [g0.node_ids[int(i)] for i in idxs]
        else:
            raise ValueError(f"snap must be 'edge' or 'node', got {snap!r}")
    if od_node_ids is None:
        raise ValueError("need od_node_ids or od_points_lonlat")
    if traffic_yearly is None:
        raise ValueError("traffic_yearly is required")
    ups = upgrades or ROAD_UPGRADES
    ctx = EaulContext(edges, way_props, od_node_ids, traffic_yearly)
    baseline_eaul, excluded = ctx.eaul(None, None, 0.7, None, None)

    way_ids = sorted(way_props["way_id"])
    # a pandas frame becomes a JVM local relation scanned as
    # min(rows, defaultParallelism) slices: one kernel task per slot,
    # nothing shuffled before the kernel and no Python worker in the scan
    scenarios = spark.createDataFrame(
        pd.DataFrame(
            [(w, u["id"], u["ruc"], u["drainage_capacity"], u["surface"])
             for w in way_ids for u in ups],
            columns=["way_id", "upgrade_id", "ruc", "dc", "surface"],
        ),
        schema="way_id string, upgrade_id string, ruc double, dc double, surface string",
    )

    # explicit broadcast: the routing context (graph + the baseline
    # phase's populated SSSP caches) ships ONCE per executor instead of
    # being re-pickled into every task closure — the caches are exactly
    # what makes scenario tasks cheap, so shipping them efficiently
    # matters at national graph size
    ctx_bv = spark.sparkContext.broadcast((ctx, excluded))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _eaul_batches(batches, *ctx_bv.value)

    from moz_datapipeline_spark.graph.resume import resumable_apply

    result = resumable_apply(
        spark,
        scenarios,
        ("way_id", "upgrade_id"),
        lambda sc: sc.mapInPandas(kernel, _EAUL_SCHEMA),
        checkpoint_dir,
    )
    baseline_df = spark.createDataFrame(
        pd.DataFrame(
            {"way_id": ["__baseline__"], "upgrade_id": ["baseline"],
             "eaul": [float(baseline_eaul)]}
        ),
        schema=_EAUL_SCHEMA,
    )
    return baseline_df.unionByName(result)
