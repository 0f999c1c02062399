"""Criticality: leave-one-out time-penalty scenario engine.

Reference: scripts/criticality/criticality.js. For each way, remove it
from the network, recompute the OD cost table, diff against the
benchmark, and fold per-way stats (criticality.js:232-303); score =
(0.4·timeScore + 0.6·unroutableScore)·100 (criticality.js:96-110).

Spark shape: a local scenarios DataFrame (one row per active way) fanned
out by one ``mapInPandas`` pass per partition. The local relation scans
as one partition per task slot, so the kernel runs as one Python task
per slot with no shuffle in front of it. The graph +
benchmark are computed once and broadcast — the reference's per-way
osrm-contract (criticality.js:197-225) becomes a boolean edge mask. The
final scoring is relational: the two maxima come from one unpartitioned
window over the stats (cf. A2 criticality.js:96-99), so the kernel's
output is read once.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from moz_datapipeline_spark.graph.kernel import (
    Graph,
    _csr,
    build_graph,
    dijkstra,
    od_tree_ways,
    pair_costs,
    snap_to_nodes,
    split_edges_at_points,
)

_STATS_SCHEMA = (
    "way_id string, max_time double, avg_time double, avg_time_nonzero double, "
    "unroutable_pairs long, impacted_pairs long"
)
_STATS_COLUMNS = [c.split()[0] for c in _STATS_SCHEMA.split(", ")]


def _way_stats(
    way_ids: list[str],
    g: Graph,
    od_nodes: np.ndarray,
    benchmark: np.ndarray,
    iu: np.ndarray,
    ju: np.ndarray,
    tree_ways: list[set] | None = None,
) -> pd.DataFrame:
    """Per-way scenario fold, replicating criticality.js:232-303 exactly:

    - scenario pair unroutable → unroutablePairs++
    - else deltaT = time − benchmark; deltaT ≥ 0 enters timeDeltas;
      deltaT > 0 → impactedPairs++; deltaT < 0 → treated unroutable
      (reclassification, criticality.js:252-258).
    - avgTimeNonZero = sum(timeDeltas)/count(nonzero) (|| 0 guard).

    With ``tree_ways`` (per-source shortest-path way sets), each scenario
    reruns Dijkstra ONLY for sources whose tree contains the removed way;
    all other sources' rows are provably identical to the benchmark
    (see ``od_tree_ways``) and are copied. In practice a way sits on few
    sources' trees, cutting Dijkstra count ~|OD|-fold.
    """
    rows = []
    for w in way_ids:
        mask = g.way_id != w
        if tree_ways is None:
            mat = pair_costs(g, od_nodes, edge_mask=mask)
        else:
            affected = [i for i, tw in enumerate(tree_ways) if w in tw]
            mat = benchmark.copy()
            if len(affected) >= 4:
                from moz_datapipeline_spark.graph.kernel import multi_source_dists

                dists = multi_source_dists(
                    g, od_nodes[affected], edge_mask=mask, targets=od_nodes
                )
                mat[affected, :] = dists[:, od_nodes]
                mat = np.maximum(mat, mat.T)
            elif affected:
                indptr, indices, weights = _csr(g, mask, None)
                for i in affected:
                    # only OD columns read → early-exit at last target
                    dist = dijkstra(
                        indptr, indices, weights, int(od_nodes[i]),
                        g.n_nodes, targets=od_nodes,
                    )
                    mat[i, :] = dist[od_nodes]
                mat = np.maximum(mat, mat.T)
        sc = mat[iu, ju]
        bm = benchmark[iu, ju]
        unroutable = int(np.sum(np.isinf(sc)))
        routable = ~np.isinf(sc)
        delta = sc[routable] - bm[routable]
        neg = delta < 0
        unroutable += int(np.sum(neg))
        deltas = delta[~neg]  # deltaT >= 0 only
        impacted = int(np.sum(delta > 0))
        n_nonzero = int(np.sum(deltas != 0))
        total = float(np.sum(deltas)) if len(deltas) else 0.0
        rows.append(
            {
                "way_id": w,
                "max_time": float(np.max(deltas)) if len(deltas) else 0.0,
                "avg_time": total / len(deltas) if len(deltas) else 0.0,
                "avg_time_nonzero": (total / n_nonzero) if n_nonzero else 0.0,
                "unroutable_pairs": unroutable,
                "impacted_pairs": impacted,
            }
        )
    return pd.DataFrame(rows, columns=_STATS_COLUMNS)


def _stats_batches(
    batches: Iterator[pd.DataFrame], ctx: tuple
) -> Iterator[pd.DataFrame]:
    """``mapInPandas`` kernel: one stats frame per non-empty scenario
    batch; ``ctx`` is ``_way_stats``' routing context after ``way_ids``."""
    for pdf in batches:
        if len(pdf):
            yield _way_stats(list(pdf["way_id"]), *ctx)


def criticality_scores(
    spark: SparkSession,
    edges: pd.DataFrame,
    od_nodes_by_id: list[str] | None = None,
    checkpoint_dir: str | None = None,
    od_points_lonlat=None,
    node_coords: dict[str, tuple[float, float]] | None = None,
    snap: str = "edge",
) -> DataFrame:
    """Distributed criticality over all ways.

    ``edges``: pandas (way_id, src, dst, weight) — the full (small)
    graph, broadcast to every task. ``od_nodes_by_id``: node ids of the
    OD points (pre-snapped). Returns (way_id, score, max_time, ...,
    unroutable_pairs, impacted_pairs).

    Off-network OD points: pass ``od_points_lonlat`` (+ ``node_coords``)
    instead of ``od_nodes_by_id``.  ``snap="edge"`` (default) projects
    each point onto its nearest edge and routes from the foot point —
    OSRM's osrm.table snap (criticality.js:132-177), including the
    "nearest segment is the excluded way → unroutable" null semantics;
    ``snap="node"`` is the cheap nearest-junction approximation.

    ``checkpoint_dir`` enables cross-run resume of the per-way Dijkstra
    stats (the expensive fan-out): finished ways are skipped on rerun
    via ``graph.resume.resumable_apply``.  Pruned zero-rows and the
    scoring pass (cheap, need ALL stats) recompute every run.
    """
    if od_points_lonlat is not None:
        if node_coords is None:
            raise ValueError("od_points_lonlat requires node_coords")
        if snap == "edge":
            edges, od_nodes_by_id, node_coords = split_edges_at_points(
                edges, np.asarray(od_points_lonlat), node_coords
            )
        elif snap == "node":
            g0 = build_graph(edges)
            idxs = snap_to_nodes(
                g0, np.asarray(od_points_lonlat), node_coords
            )
            od_nodes_by_id = [g0.node_ids[int(i)] for i in idxs]
        else:
            raise ValueError(f"snap must be 'edge' or 'node', got {snap!r}")
    if od_nodes_by_id is None:
        raise ValueError("need od_nodes_by_id or od_points_lonlat")
    g = build_graph(edges)
    node_index = {n: i for i, n in enumerate(g.node_ids)}
    od_nodes = np.array([node_index[n] for n in od_nodes_by_id], dtype=np.int64)
    benchmark = pair_costs(g, od_nodes)
    n_od = len(od_nodes)
    iu, ju = np.triu_indices(n_od, k=1)

    # Prune: a way on no OD shortest path is a zero-delta scenario — its
    # stats are known without running Dijkstra. At national scale this
    # cuts the fan-out from |ways| to the spanning set of OD routes.
    # The same per-source tree sets drive incremental recompute inside
    # the kernel (only affected sources re-run).
    tree_ways = od_tree_ways(g, od_nodes)
    all_ways = sorted(set(edges["way_id"]))
    used = set().union(*tree_ways) if tree_ways else set()
    active = sorted(used)
    pruned = [w for w in all_ways if w not in used]
    base_unroutable = int(np.sum(np.isinf(benchmark[iu, ju])))

    # a pandas frame becomes a JVM local relation scanned as
    # min(rows, defaultParallelism) slices: one kernel task per slot,
    # nothing shuffled before the kernel and no Python worker in the scan
    scenarios = spark.createDataFrame(
        pd.DataFrame({"way_id": active}, dtype=object), schema="way_id string"
    )

    # explicit broadcast: the graph + benchmark context ships ONCE per
    # executor (torrent broadcast), not inside every task's pickled
    # closure — at national graph sizes closure shipping re-serializes
    # megabytes per task
    ctx_bv = spark.sparkContext.broadcast(
        (g, od_nodes, benchmark, iu, ju, tree_ways)
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _stats_batches(batches, ctx_bv.value)

    from moz_datapipeline_spark.graph.resume import resumable_apply

    stats = resumable_apply(
        spark,
        scenarios,
        ("way_id",),
        lambda sc: sc.mapInPandas(kernel, _STATS_SCHEMA),
        checkpoint_dir,
    )
    if pruned:
        zero_rows = spark.createDataFrame(
            pd.DataFrame(
                [(w, 0.0, 0.0, 0.0, base_unroutable, 0) for w in pruned],
                columns=_STATS_COLUMNS,
            ),
            schema=_STATS_SCHEMA,
        )
        stats = stats.unionByName(zero_rows)

    # scoring: the two maxima (A2) over one unpartitioned window — an
    # agg cross-joined back onto ``stats`` would plan the kernel twice
    everything = Window.partitionBy()
    scored = stats.select(
        "*",
        F.max(
            (F.col("unroutable_pairs") + F.col("impacted_pairs"))
            * F.col("avg_time_nonzero")
        ).over(everything).alias("_avg_max_time"),
        F.max("unroutable_pairs").over(everything).alias("_max_unroutable"),
    )
    time_score = F.when(
        F.col("_avg_max_time") > 0,
        (F.col("unroutable_pairs") + F.col("impacted_pairs"))
        * F.col("avg_time_nonzero")
        / F.col("_avg_max_time"),
    ).otherwise(0.0)
    unroutable_score = F.when(
        F.col("_max_unroutable") > 0,
        F.col("unroutable_pairs") / F.col("_max_unroutable"),
    ).otherwise(0.0)
    return scored.withColumn(
        "score", (time_score * 0.4 + unroutable_score * 0.6) * 100.0
    ).drop("_avg_max_time", "_max_unroutable")
