"""End-to-end pipeline test on reference-shaped synthetic inputs
(FIXTURES.md schemas, fixture topology of tests/fixtures/)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

NODE_COORDS = {
    "2": (0.0, 0.0),
    "3": (0.008983158, 0.0),
    "5": (0.017966316, 0.0),
    "7": (0.026949474, 0.0),
    "9": (0.008983158, -0.008983158),
    "11": (0.026949474, -0.008983158),
    "14": (0.008983158, 0.008983158),
    "16": (0.026949474, 0.008983158),
    "19": (0.017966316, 0.004491579),
}

WAYS = [
    ("1", "2", "3", 1.25), ("2", "3", "5", 1.25), ("3", "5", "7", 1.25),
    ("4", "3", "9", 0.75), ("5", "9", "11", 0.75), ("6", "11", "7", 0.75),
    ("7", "3", "14", 0.8), ("8", "14", "16", 0.8), ("9", "16", "7", 0.8),
    ("10", "19", "5", 0.8),
]


def _ways_df(spark):
    rows = []
    for name, a, b, ruc in WAYS:
        coords = [
            {"lon": NODE_COORDS[a][0], "lat": NODE_COORDS[a][1]},
            {"lon": NODE_COORDS[b][0], "lat": NODE_COORDS[b][1]},
        ]
        rows.append((name, "R1", "Tertiary", "Unpaved", "Gaza", 70.0 + float(name), ruc, coords, [a, b]))
    return spark.createDataFrame(
        rows,
        "NAME string, ROAD_ID string, ROAD_CLASS string, SURF_TYPE string, "
        "PROVINCE string, AADT double, RUC double, "
        "coordinates array<struct<lon:double,lat:double>>, nodes array<string>",
    )


def _prep_inputs(spark):
    """``preparation``'s inputs besides the ways: bridges, provinces,
    flood stats and the wide traffic matrix."""
    bridges_raw = spark.createDataFrame(
        [(1, "R000101:0001.0", "BRG", "96.4", 0.004, 0.0001)],
        "bridge_id int, Link_ID string, Des_Type string, Over_Length string, lon double, lat double",
    )
    provinces = spark.createDataFrame(
        [("Gaza", "MZ-G")], "name string, iso string"
    )
    flood_stats = spark.createDataFrame(
        [("2", 500, 20.0, 50.0), ("2", 1000, 20.0, 100.0),
         ("3", 500, 20.0, 50.0), ("3", 1000, 20.0, 100.0),
         ("5", 1000, 20.0, 100.0)],
        "way_id string, return_period int, max_depth_m double, pct_flooded double",
    )
    traffic_wide = spark.createDataFrame(
        [(1, 0, 100, 100), (2, 100, 0, 100), (3, 100, 100, 0)],
        "`from` int, `1` int, `2` int, `3` int",
    )
    return bridges_raw, provinces, flood_stats, traffic_wide


def test_preparation_builds_without_future_warning(spark):
    """Segment endpoints index the vertex arrays by a column through the
    bracket form: ``getItem`` with a Column key is deprecated and warned
    on every ``preparation`` build."""
    import warnings

    from moz_datapipeline_spark.graph.build import build_edges
    from moz_datapipeline_spark.plans.moz_pipeline import preparation

    ways = _ways_df(spark)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        prep = preparation(ways, *_prep_inputs(spark))
        edges = build_edges(ways.withColumn("length", F.lit(2.0)))
    assert prep["bridges"].first()["roadSegmentID"] == "1"
    assert sorted((r["src"], r["dst"]) for r in edges.collect()) == sorted(
        (a, b) for _, a, b, _ in WAYS
    )


def test_preparation_and_indicators(spark):
    from moz_datapipeline_spark.plans.moz_pipeline import indicators, preparation

    ways = _ways_df(spark)
    bridges_raw, provinces, flood_stats, traffic_wide = _prep_inputs(spark)
    prep = preparation(ways, bridges_raw, provinces, flood_stats, traffic_wide)
    net = prep["network"].toPandas().set_index("NAME")

    # enrichment checks
    assert net.loc["1", "length"] == pytest.approx(1.0, rel=2e-3)
    assert net.loc["1", "provinceIso"] == "MZ-G"
    assert list(net.loc["2", "flood_depths"]) == [0] * 8 + [20.0, 20.0]
    # RUC rescaled 5.7762x - 0.0334 rounded to 2
    assert net.loc["1", "RUC"] == pytest.approx(round(5.7762 * 1.25 - 0.0334, 2))
    # bridge at mid-span of way 1 snaps there via ROAD_ID prefilter + argmin
    bridges = prep["bridges"].toPandas()
    assert bridges["roadSegmentID"].iloc[0] == "1"
    # traffic folded to 3 undirected pairs
    t = prep["traffic"].toPandas()
    assert len(t) == 3
    assert set(t["dailyODCount"]) == {100}

    merged = indicators(spark, prep["network"], flood_stats).toPandas().set_index("NAME")
    # AADT indicator: way 10 has max AADT (80) → score 100
    assert merged["aadtScore"].max() == pytest.approx(100.0)
    assert merged.loc["10", "aadtScore"] == pytest.approx(100.0)
    # flood EAD indicator: ways 2,3 flood at two return periods (EAD 187.5)
    # beating way 5's single-period 2 km (EAD 150 → score 80)
    flooded = merged[merged["floodEadScore"].notna()]
    assert set(flooded.index) == {"2", "3", "5"}
    assert merged.loc["2", "floodEadScore"] == pytest.approx(100.0)
    assert merged.loc["2", "floodEadValue"] == pytest.approx(187.5)
    assert merged.loc["5", "floodEadScore"] == pytest.approx(80.0)
    # ways without flood stats have null EAD scores (left-join semantics)
    assert merged.loc["1", "floodEadValue"] != merged.loc["1", "floodEadValue"] or \
        merged.loc["1", "floodEadValue"] is None
