"""The reference road flow on a seeded synthetic network.

``generate`` builds the flow's raw inputs from the seed: a grid road
network whose ways each own 3 edges, with seeded edge-weight (RUC)
jitter, flood pattern, OD-zone placement, bridges, provinces and a
full OD traffic matrix.  ``build_pipeline`` wires preparation →
indicators → criticality → EAUL → merge as a ``plans.pipeline.Pipeline``
whose stages materialize Parquet checkpoints where the reference writes
files.  ``check`` verifies the flow's invariants on one finished run.
"""

from __future__ import annotations

import heapq
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moz_datapipeline_spark.graph.criticality import criticality_scores
from moz_datapipeline_spark.graph.eaul import ROAD_UPGRADES, eaul_scores
from moz_datapipeline_spark.graph.kernel import build_graph, od_tree_ways, pair_costs
from moz_datapipeline_spark.operators.indicators import merge_indicators
from moz_datapipeline_spark.operators.traffic import pair_reverse_fold, unpivot_matrix
from moz_datapipeline_spark.plans.moz_pipeline import indicators, merge_eaul, preparation
from moz_datapipeline_spark.plans.pipeline import Pipeline

#: grid side in nodes; 9 edges per row or column make 3 ways of 3 edges
SIDE = 10
#: OD zones (the reference runs 138; 40 keeps one flow within a few seconds)
N_OD = 40
UPGRADES = ROAD_UPGRADES[:1]
#: stages left lazy: preparation's traffic fold, read only by the EAUL call
LAZY = ("traffic",)
PROVINCES = [("Gaza", "MZ-G"), ("Inhambane", "MZ-I"), ("Maputo", "MZ-L"), ("Niassa", "MZ-A")]

@dataclass
class RoadInputs:
    ways: pd.DataFrame
    bridges: pd.DataFrame
    provinces: pd.DataFrame
    flood_stats: pd.DataFrame
    traffic_wide: pd.DataFrame
    od_nodes: list[str]

    def properties(self) -> dict:
        return {
            "grid_side": SIDE,
            "ways": len(self.ways),
            "edges": int(sum(len(n) - 1 for n in self.ways["nodes"])),
            "od_zones": len(self.od_nodes),
            "od_pairs": len(self.od_nodes) * (len(self.od_nodes) - 1) // 2,
            "bridges": len(self.bridges),
            "flooded_ways": int(self.flood_stats["way_id"].nunique()),
        }


def generate(seed: int) -> RoadInputs:
    """Raw flow inputs for ``seed``; the same seed gives the same inputs."""
    rng = np.random.default_rng(seed)
    lon = 32.0 + np.arange(SIDE)[None, :] * 0.05 + rng.uniform(-0.01, 0.01, (SIDE, SIDE))
    lat = -25.0 + np.arange(SIDE)[:, None] * 0.05 + rng.uniform(-0.01, 0.01, (SIDE, SIDE))
    # provinces: four quadrants whose split lines the seed places
    cut_r, cut_c = rng.integers(SIDE // 4, 3 * SIDE // 4, 2)

    chains = []  # (way name, road letter, road number, [(r, c), ...])
    for r in range(SIDE):
        for k in range(0, SIDE - 1, 3):
            chains.append((f"h{r}_{k // 3}", "H", r + 1,
                           [(r, c) for c in range(k, min(k + 3, SIDE - 1) + 1)]))
    for c in range(SIDE):
        for k in range(0, SIDE - 1, 3):
            chains.append((f"v{c}_{k // 3}", "V", c + 1,
                           [(r, c) for r in range(k, min(k + 3, SIDE - 1) + 1)]))

    n = len(chains)
    ruc = rng.uniform(0.75, 1.25, n)
    aadt = np.round(rng.lognormal(5.0, 1.0, n), 1)
    klass = rng.choice(["Primary", "Secondary", "Tertiary", "Vicinal"], n)
    surface = rng.choice(["Paved", "Unpaved"], n, p=[0.3, 0.7])
    ways = pd.DataFrame({
        "NAME": [w for w, *_ in chains],
        "ROAD_ID": [f"{a}{b}" for _, a, b, _ in chains],
        "ROAD_CLASS": klass,
        "SURF_TYPE": surface,
        "PROVINCE": [
            PROVINCES[2 * int(p[0][0] >= cut_r) + int(p[0][1] >= cut_c)][0]
            for *_, p in chains
        ],
        "AADT": aadt,
        "RUC": ruc,
        "coordinates": [
            [{"lon": float(lon[r, c]), "lat": float(lat[r, c])} for r, c in p]
            for *_, p in chains
        ],
        "nodes": [[f"n{r}_{c}" for r, c in p] for *_, p in chains],
    })

    # bridges: one in six ways carries one, near a segment midpoint
    on = rng.choice(n, n // 6, replace=False)
    brows = []
    for i, w in enumerate(sorted(on)):
        _, letter, num, p = chains[w]
        s = int(rng.integers(0, len(p) - 1))
        (r0, c0), (r1, c1) = p[s], p[s + 1]
        brows.append((
            i + 1,
            f"{letter}{num:04d}01:{i:04d}.0",
            "CULV" if rng.random() < 0.3 else "BRG",
            f"{rng.uniform(5.0, 120.0):.1f}" if rng.random() < 0.8 else "0",
            float((lon[r0, c0] + lon[r1, c1]) / 2 + rng.uniform(-1e-4, 1e-4)),
            float((lat[r0, c0] + lat[r1, c1]) / 2 + rng.uniform(-1e-4, 1e-4)),
        ))
    bridges = pd.DataFrame(
        brows, columns=["bridge_id", "Link_ID", "Des_Type", "Over_Length", "lon", "lat"]
    )

    # flood pattern: one way in nine floods at the two rarest periods, so
    # detours stay routable and EAUL stays finite
    frows = []
    for w in rng.choice(n, n // 9, replace=False):
        depth = float(rng.uniform(0.5, 20.0))
        for rp, pct in ((500, float(rng.uniform(10.0, 60.0))), (1000, 100.0)):
            frows.append((chains[w][0], rp, depth, pct))
    flood_stats = pd.DataFrame(
        frows, columns=["way_id", "return_period", "max_depth_m", "pct_flooded"]
    )

    cells = rng.choice(SIDE * SIDE, N_OD, replace=False)
    od_nodes = [f"n{c // SIDE}_{c % SIDE}" for c in cells]
    counts = rng.integers(0, 200, (N_OD, N_OD))
    np.fill_diagonal(counts, 0)
    traffic_wide = pd.DataFrame(counts, columns=[str(i + 1) for i in range(N_OD)])
    traffic_wide.insert(0, "from", np.arange(1, N_OD + 1))

    provinces = pd.DataFrame(PROVINCES, columns=["name", "iso"])
    return RoadInputs(ways, bridges, provinces, flood_stats, traffic_wide, od_nodes)


SOURCES = ("ways", "bridges_raw", "provinces", "flood_stats", "traffic_wide")


def write_sources(inputs: RoadInputs, in_dir: str) -> None:
    """Write the raw inputs as Parquet under ``in_dir``: the flow starts
    from files, as the reference's does."""
    frames = (inputs.ways, inputs.bridges, inputs.provinces, inputs.flood_stats, inputs.traffic_wide)
    os.makedirs(in_dir, exist_ok=True)
    for name, df in zip(SOURCES, frames):
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(in_dir, f"{name}.parquet"))


def read_sources(spark: SparkSession, in_dir: str) -> dict[str, DataFrame]:
    return {name: spark.read.parquet(os.path.join(in_dir, f"{name}.parquet")) for name in SOURCES}


def routing_edges(network: DataFrame) -> pd.DataFrame:
    """Prepared network → one routing edge per way segment.

    Edge cost is RUC × length (the reference's OSRM cost model); a way's
    length splits evenly over its segments."""
    rows = []
    for r in network.select("NAME", "nodes", "length", "RUC").collect():
        part = r["length"] / (len(r["nodes"]) - 1)
        for a, b in zip(r["nodes"], r["nodes"][1:]):
            rows.append((r["NAME"], a, b, r["RUC"] * part, part, r["RUC"]))
    return pd.DataFrame(rows, columns=["way_id", "src", "dst", "weight", "len_part", "ruc"])


def build_pipeline(
    spark: SparkSession,
    sources: dict[str, DataFrame],
    od_nodes: list[str],
    checkpoint_dir: str,
    wrap: Callable[[str, Callable], Callable] = lambda name, fn: fn,
) -> Pipeline:
    """The flow as named, materialized stages.  ``wrap(name, fn)`` lets the
    caller time or trace each stage's call."""

    def crit(network):
        return criticality_scores(spark, routing_edges(network), od_nodes)

    def eaul(network, traffic):
        edges = routing_edges(network)
        way_props = network.select(
            F.col("NAME").alias("way_id"),
            F.col("length").alias("length_km"),
            F.lower("SURF_TYPE").alias("surface"),
            F.col("flood_depths").alias("depths"),
            F.col("flood_lengths").alias("lengths"),
        ).toPandas()
        # ways without flood stats carry null arrays: dry at every period
        dry = [0.0] * 10
        for col in ("depths", "lengths"):
            way_props[col] = [dry if v is None else list(v) for v in way_props[col]]
        yearly = {
            (int(r["origin"]) - 1, int(r["destination"]) - 1):
                365.0 * (r["dailyODCount"] + r["reverseODCount"])
            for r in traffic.collect()
        }
        return eaul_scores(spark, edges, way_props, od_nodes, yearly, upgrades=UPGRADES)

    def merge(ind, crit_out, eaul_out):
        crit_ind = crit_out.select("way_id", "score", F.lit(None).cast("double").alias("value"))
        return merge_eaul(merge_indicators(ind, {"criticality": crit_ind}), eaul_out)

    raw = list(SOURCES)
    p = Pipeline(spark, checkpoint_dir)
    for name, df in sources.items():
        p.source(name, df)
    stages = [
        ("preparation", lambda *dfs: preparation(*dfs)["network"], raw),
        ("traffic", lambda tw: pair_reverse_fold(unpivot_matrix(tw)), ["traffic_wide"]),
        ("indicators", lambda net, fs: indicators(spark, net, fs), ["preparation", "flood_stats"]),
        ("criticality_scores", crit, ["preparation"]),
        ("eaul_scores", eaul, ["preparation", "traffic"]),
        ("merge", merge, ["indicators", "criticality_scores", "eaul_scores"]),
    ]
    for name, fn, ins in stages:
        p.stage(name, wrap(name, fn), ins, materialize=name not in LAZY)
    return p


def direct_pair_costs(network_edges: pd.DataFrame, od_nodes: list[str]):
    """(graph, OD indices, pair_costs matrix) on the routing graph."""
    g = build_graph(network_edges)
    index = {n: i for i, n in enumerate(g.node_ids)}
    od = np.array([index[n] for n in od_nodes], dtype=np.int64)
    return g, od, pair_costs(g, od)


def check(results: dict[str, DataFrame], inputs: RoadInputs) -> tuple[list[str], int]:
    """Flow invariants on one finished run.  Returns the broken ones and
    the number of active ways (on some OD shortest path: the criticality
    fan-out's width)."""
    bad = []
    n_ways = len(inputs.ways)
    merged = results["merge"]
    scores = [c for c in merged.columns if c.endswith("Score")]
    row = merged.agg(
        F.count("*").alias("n"),
        F.countDistinct("NAME").alias("d"),
        *[F.min(c).alias(f"lo_{c}") for c in scores],
        *[F.max(c).alias(f"hi_{c}") for c in scores],
    ).first()
    if row["n"] != n_ways or row["d"] != n_ways:
        bad.append(f"merge has {row['n']} rows / {row['d']} ways, expected {n_ways}")
    for col in scores:
        lo, hi = row[f"lo_{col}"], row[f"hi_{col}"]
        if lo is not None and (lo < 0.0 or hi > 100.0 + 1e-9):
            bad.append(f"{col} outside [0, 100]: [{lo}, {hi}]")
    # score = 40·time term + 60·unroutable term, each normalized to a
    # maximum of 1: the top way scores 40 when no single way strands an OD
    # pair (any grid), and at least 60 otherwise
    top, stranded = results["criticality_scores"].agg(
        F.max("score"), F.max("unroutable_pairs")
    ).first()
    if top is None or (abs(top - 40.0) > 1e-9 if not stranded else not 60.0 <= top <= 100.0):
        bad.append(f"max criticality score is {top} (max unroutable pairs {stranded})")
    n_eaul = results["eaul_scores"].count()
    if n_eaul != n_ways * len(UPGRADES) + 1:
        bad.append(f"eaul_scores has {n_eaul} rows, expected {n_ways * len(UPGRADES) + 1}")
    # pair_costs (the engine's multi-source relaxation) against a plain
    # Dijkstra per OD source written here
    g, od, mat = direct_pair_costs(routing_edges(results["preparation"]), inputs.od_nodes)
    ref = np.array([_dijkstra(g, int(s))[od] for s in od])
    if not np.allclose(mat, np.maximum(ref, ref.T), rtol=1e-9, atol=1e-12):
        bad.append("pair_costs disagrees with per-source Dijkstra")
    return bad, len(set().union(*od_tree_ways(g, od)))


def _dijkstra(g, source: int) -> np.ndarray:
    adj = [[] for _ in range(g.n_nodes)]
    for a, b, w in zip(g.src, g.dst, g.weight):
        adj[a].append((b, w))
        adj[b].append((a, w))
    dist = np.full(g.n_nodes, np.inf)
    dist[source] = 0.0
    heap = [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, w in adj[u]:
            if d + w < dist[v]:
                dist[v] = d + w
                heapq.heappush(heap, (d + w, v))
    return dist
