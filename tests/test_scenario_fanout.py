"""Edge cases of the scenario fan-out kernels: fan-outs with nothing or
one thing to do, and kernels handed an empty batch."""

from __future__ import annotations

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
from moz_datapipeline_spark.graph.kernel import build_graph, od_tree_ways, pair_costs


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
