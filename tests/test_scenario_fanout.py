"""Edge cases of the scenario fan-out kernels: fan-outs with nothing or
one thing to do, kernels handed an empty batch, the small-source routing
rule on both sides of its threshold, and bad OD inputs."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pytest
from test_routing_fixture import OD_NODES, TRAFFIC, edges_pdf, way_props_pdf

from moz_datapipeline_spark.graph.criticality import (
    _STATS_COLUMNS,
    _stats_batches,
    _way_stats,
    criticality_scores,
)
from moz_datapipeline_spark.graph.eaul import (
    ROAD_UPGRADES,
    EaulContext,
    _eaul_batches,
    eaul_scores,
)
from moz_datapipeline_spark.graph.kernel import (
    _csr,
    build_graph,
    dijkstra,
    multi_source_dists,
    od_tree_ways,
    pair_costs,
)


def _crit_context():
    """``_way_stats``' routing context on the reference fixture."""
    g = build_graph(edges_pdf())
    index = {n: i for i, n in enumerate(g.node_ids)}
    od = np.array([index[n] for n in OD_NODES], dtype=np.int64)
    iu, ju = np.triu_indices(len(od), k=1)
    return (g, od, pair_costs(g, od), iu, ju, od_tree_ways(g, od))


def test_criticality_every_way_pruned(spark):
    # one OD zone: no pairs, so no way lies on an OD route and the
    # fan-out has no scenario to run
    out = criticality_scores(spark, edges_pdf(), OD_NODES[:1]).toPandas()
    assert sorted(out["way_id"]) == sorted(edges_pdf()["way_id"])
    assert (out["score"] == 0.0).all()
    assert (out["unroutable_pairs"] == 0).all()
    assert (out["impacted_pairs"] == 0).all()


def test_eaul_single_scenario(spark):
    way_props = way_props_pdf()
    way_props = way_props[way_props["way_id"] == "2"].reset_index(drop=True)
    up = ROAD_UPGRADES[0]
    out = eaul_scores(
        spark, edges_pdf(), way_props, OD_NODES, TRAFFIC, upgrades=[up]
    ).toPandas()
    assert sorted(zip(out["way_id"], out["upgrade_id"])) == [
        ("2", up["id"]), ("__baseline__", "baseline"),
    ]
    # the fanned-out row equals the kernel called on the driver
    ctx = EaulContext(edges_pdf(), way_props, OD_NODES, TRAFFIC)
    base, excluded = ctx.eaul(None, None, 0.7, None, None)
    want, _ = ctx.eaul("2", up["ruc"], up["drainage_capacity"], up["surface"], excluded)
    got = out.set_index("upgrade_id")["eaul"]
    assert got["baseline"] == pytest.approx(base)
    assert got[up["id"]] == pytest.approx(want)


def test_way_stats_of_no_ways_keeps_its_columns():
    out = _way_stats([], *_crit_context())
    assert len(out) == 0
    assert list(out.columns) == _STATS_COLUMNS


def test_kernels_yield_nothing_for_an_empty_batch():
    empty_ways = pd.DataFrame({"way_id": pd.Series([], dtype=object)})
    assert list(_stats_batches(iter([empty_ways]), _crit_context())) == []

    ctx = EaulContext(edges_pdf(), way_props_pdf(), OD_NODES, TRAFFIC)
    _, excluded = ctx.eaul(None, None, 0.7, None, None)
    empty_scenarios = pd.DataFrame(
        {c: pd.Series([], dtype=t) for c, t in (
            ("way_id", object), ("upgrade_id", object), ("ruc", float),
            ("dc", float), ("surface", object),
        )}
    )
    assert list(_eaul_batches(iter([empty_scenarios]), ctx, excluded)) == []


@pytest.mark.parametrize("removed_way", [None, "1"], ids=["unmasked", "masked"])
def test_small_source_rule_matches_per_source_dijkstra(removed_way):
    # every source count from 1 to all nodes, so both sides of the
    # per-source / vectorized threshold are crossed; removing way "1"
    # strands node "2" and puts inf entries in the rows
    g = build_graph(edges_pdf())
    mask = None if removed_way is None else g.way_id != removed_way
    indptr, indices, weights = _csr(g, mask, None)
    index = {n: i for i, n in enumerate(g.node_ids)}
    targets = np.array([index[n] for n in OD_NODES], dtype=np.int64)
    nodes = np.arange(g.n_nodes, dtype=np.int64)
    for k in range(1, g.n_nodes + 1):
        sources = nodes[:k]
        want = np.array(
            [dijkstra(indptr, indices, weights, int(s), g.n_nodes) for s in sources]
        )
        got = multi_source_dists(g, sources, edge_mask=mask, targets=targets)
        assert np.array_equal(got[:, targets], want[:, targets]), k
        pairs = want[:, sources]
        assert np.array_equal(
            pair_costs(g, sources, edge_mask=mask), np.maximum(pairs, pairs.T)
        ), k


_ENGINES = {
    "criticality_scores": (
        lambda **od: criticality_scores(None, edges_pdf(), **od),
        "od_nodes_by_id",
    ),
    "eaul_scores": (
        lambda **od: eaul_scores(
            None, edges_pdf(), way_props_pdf(), traffic_yearly=TRAFFIC, **od
        ),
        "od_node_ids",
    ),
}
_POINTS = [(0.0, 0.0)]
_COORDS = {n: (0.0, 0.0) for n in ("2", "3")}


@pytest.mark.parametrize("engine", sorted(_ENGINES))
@pytest.mark.parametrize(
    "od, message",
    [
        ({"od_points_lonlat": _POINTS}, "od_points_lonlat requires node_coords"),
        (
            {"od_points_lonlat": _POINTS, "node_coords": _COORDS, "snap": "osrm"},
            "snap must be 'edge' or 'node', got 'osrm'",
        ),
        ({}, "need {ids} or od_points_lonlat"),
    ],
    ids=["points-without-coords", "unknown-snap", "no-od-input"],
)
def test_bad_od_input_raises_before_any_spark_work(engine, od, message):
    # the session is None: each check must fire before Spark is touched
    call, ids = _ENGINES[engine]
    with pytest.raises(ValueError, match=re.escape(message.format(ids=ids))):
        call(**od)
