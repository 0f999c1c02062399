"""Source/sink round-trip tests."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

REFERENCE_OSM = "/root/reference/tests/fixtures/roadnetwork.osm"


def test_read_osm_ways_reference_fixture(spark):
    from moz_datapipeline_spark.sources.readers import read_osm_ways

    if not os.path.exists(REFERENCE_OSM):
        pytest.skip("reference fixture not present")
    ways = read_osm_ways(spark, REFERENCE_OSM).toPandas().set_index("NAME")
    assert len(ways) == 10
    assert list(ways.loc["1", "nodes"]) == ["2", "3"]
    assert ways.loc["1", "RUC"] == 1.25
    assert ways.loc["8", "length"] == 2000.0
    assert ways.loc["10", "SURF_TYPE"] == "Unpaved"


def test_geojson_roundtrip(spark, tmp_path):
    from moz_datapipeline_spark.sources.readers import (
        linestring_coords,
        read_geojson_features,
    )
    from moz_datapipeline_spark.sources.writers import write_geojson

    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "geometry": {
                    "type": "LineString",
                    "coordinates": [[0.0, 0.0], [1.0, 1.0]],
                },
                "properties": {"NAME": "w1", "RUC": 1.5},
            }
        ],
    }
    src = tmp_path / "in.geojson"
    src.write_text(json.dumps(gj))
    feats = read_geojson_features(spark, str(src)).withColumn(
        "coordinates", linestring_coords("coordinates_json")
    )
    out = tmp_path / "out.geojson"
    write_geojson(feats.select("NAME", "RUC", "coordinates"), str(out))
    back = json.loads(out.read_text())
    assert back["features"][0]["properties"]["NAME"] == "w1"
    assert back["features"][0]["geometry"]["coordinates"] == [[0.0, 0.0], [1.0, 1.0]]


def test_indicator_csv_roundtrip(spark, tmp_path):
    from moz_datapipeline_spark.sources.readers import read_indicator_csv
    from moz_datapipeline_spark.sources.writers import write_indicator_csv

    df = spark.createDataFrame(
        [("w1", 50.0, 10.0), ("w2", 100.0, 20.0)],
        "way_id string, score double, value double",
    )
    path = str(tmp_path / "ind")
    write_indicator_csv(df, path)
    back = read_indicator_csv(spark, path).toPandas().set_index("way_id")
    assert back.loc["w2", "score"] == 100.0
    assert back.loc["w1", "value"] == 10.0


def test_merge_eaul_flatten(spark):
    from moz_datapipeline_spark.plans.moz_pipeline import merge_eaul

    network = spark.createDataFrame([("1",), ("2",), ("3",)], "NAME string")
    results = spark.createDataFrame(
        [
            ("__baseline__", "baseline", 100.0),
            ("1", "upgrade-rehab-asphalt", 50.0),
            ("1", "upgrade-rehab-gravel", 60.0),
            ("2", "upgrade-rehab-asphalt", 80.0),
        ],
        "way_id string, upgrade_id string, eaul double",
    )
    out = merge_eaul(network, results).toPandas().set_index("NAME")
    assert out.loc["1", "eaul-upgrade-rehab-asphalt"] == 50.0
    assert out.loc["1", "eaul-upgrade-rehab-gravel"] == 60.0
    assert out.loc["2", "eaul-upgrade-rehab-asphalt"] == 80.0
    # the global baseline flattens onto every way WITH results
    # (script-eaul stamps it into each result file; merge-eaul copies
    # every eaul.* key)
    assert out.loc["1", "eaul-baseline"] == 100.0
    assert out.loc["2", "eaul-baseline"] == 100.0
    # way 3 has no results → nulls on every eaul-* column
    assert out.loc["3", "eaul-upgrade-rehab-asphalt"] != out.loc["3", "eaul-upgrade-rehab-asphalt"]
    assert out.loc["3", "eaul-baseline"] != out.loc["3", "eaul-baseline"]


def test_merge_eaul_without_baseline_row(spark):
    from moz_datapipeline_spark.plans.moz_pipeline import merge_eaul

    network = spark.createDataFrame([("1",), ("2",)], "NAME string")
    results = spark.createDataFrame(
        [("1", "upgrade-rehab-asphalt", 50.0)],
        "way_id string, upgrade_id string, eaul double",
    )
    out = merge_eaul(network, results).toPandas().set_index("NAME")
    assert sorted(c for c in out.columns if c.startswith("eaul-")) == [
        "eaul-baseline", "eaul-upgrade-rehab-asphalt",
    ]
    assert out.loc["1", "eaul-upgrade-rehab-asphalt"] == 50.0
    # no baseline row: the baseline is null, also on ways with results
    assert out["eaul-baseline"].isna().all()
    assert out["eaul-upgrade-rehab-asphalt"].isna().tolist() == [False, True]


# shapefile scan coverage lives in tests/test_shapefile.py — the pure
# stdlib+numpy parser needs no geopandas gate


def test_read_json_quarantine_splits_good_and_bad(spark, tmp_path):
    import json as _json

    from pyspark.sql import types as T

    from moz_datapipeline_spark.sources.readers import read_json_quarantine

    p = tmp_path / "mixed.jsonl"
    lines = [
        _json.dumps({"id": 1, "name": "ok"}),
        "{this is not json",
        _json.dumps({"id": 2, "name": "fine"}),
        '{"id": "not-an-int-but-parseable", "name": 3}',
        "",
    ]
    p.write_text("\n".join(lines))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    good, bad = read_json_quarantine(spark, str(p), schema)
    good_rows = {r["id"] for r in good.collect()}
    bad_rows = [r["raw_record"] for r in bad.collect()]
    assert {1, 2} <= good_rows
    assert any("this is not json" in b for b in bad_rows)
    # quarantine keeps the raw text, so nothing is silently dropped
    assert good.count() + bad.count() >= 4

    import pytest as _pt

    with _pt.raises(ValueError):
        bad_schema = T.StructType(
            [T.StructField("_corrupt_record", T.StringType())]
        )
        read_json_quarantine(spark, str(p), bad_schema)
