"""The reference's three entry points as engine pipelines.

Maps the shell orchestration (SURVEY §3) onto operator compositions:

- ``preparation``  ← scripts/preparation.sh: bridge prep (P5-P7, J5),
  traffic unpivot+fold (U1, J12), percentile filter (A8), enrichment
  (additional-props: P9, P12, J6-J8).
- ``indicators``   ← scripts/indicators.sh: area indicators (J9+A5),
  property indicator (A1), criticality (G6), vulnerability EAD (A4+A6),
  merge (J3).
- ``eaul``         ← script-eaul/: the two-phase scenario engine
  (graph.eaul.eaul_scores).

Each function takes/returns DataFrames — the whole of ``preparation``
+ ``indicators`` is ONE lazy Catalyst DAG with a handful of actions at
the writes, where the reference round-trips every stage through files
(process boundaries per numbered step, preparation.sh:90-257).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moz_datapipeline_spark.operators.bridges import clean_bridges, snap_to_nearest_way
from moz_datapipeline_spark.operators.enrich import (
    add_bridges,
    add_flood_arrays,
    add_length,
    add_province_iso,
    rescale_ruc,
)
from moz_datapipeline_spark.operators.indicators import (
    indicator_from_prop,
    merge_indicators,
    percentile_filter,
)
from moz_datapipeline_spark.operators.traffic import pair_reverse_fold, unpivot_matrix
from moz_datapipeline_spark.operators.vulnerability import ead, flood_damage_long


def explode_way_segments(ways: DataFrame, coords_col: str = "coordinates") -> DataFrame:
    """ways with coordinate arrays → 2-vertex segment rows for snapping
    and spatial joins (the exploded form used by J5/J9)."""
    n = F.size(F.col(coords_col))
    idx = F.explode(F.sequence(F.lit(0), n - 2)).alias("_i")
    e = ways.select("NAME", "ROAD_ID", F.col(coords_col).alias("_c"), idx)
    return e.select(
        "NAME",
        "ROAD_ID",
        F.col("_c").getItem(F.col("_i")).getField("lon").alias("ax"),
        F.col("_c").getItem(F.col("_i")).getField("lat").alias("ay"),
        F.col("_c").getItem(F.col("_i") + 1).getField("lon").alias("bx"),
        F.col("_c").getItem(F.col("_i") + 1).getField("lat").alias("by"),
    )


def preparation(
    ways: DataFrame,
    bridges_raw: DataFrame,
    provinces: DataFrame,
    flood_stats: DataFrame,
    traffic_wide: DataFrame,
    agriculture: DataFrame | None = None,
    ag_percentile: float = 80.0,
) -> dict[str, DataFrame]:
    """preparation.sh as one DAG. Returns the prepared tables."""
    cleaned = clean_bridges(bridges_raw)
    segments = explode_way_segments(ways)
    snapped = snap_to_nearest_way(cleaned, segments)

    traffic = pair_reverse_fold(unpivot_matrix(traffic_wide))

    enriched = add_length(ways)
    enriched = add_province_iso(enriched, provinces)
    enriched = add_bridges(enriched, snapped)
    enriched = add_flood_arrays(enriched, flood_stats)
    enriched = rescale_ruc(enriched)

    out = {"network": enriched, "bridges": snapped, "traffic": traffic}
    if agriculture is not None:
        out["agriculture"] = percentile_filter(
            agriculture, "ag_value", ag_percentile
        )
    return out


def prepare_admin_areas(
    districts: DataFrame,
    province_key: str = "province_iso",
    district_key: str = "district_id",
) -> dict[str, DataFrame]:
    """Admin-boundary prep (preparation.sh:149-151, 193-195).

    The reference dissolves Maputo city into its province (mapshaper
    -dissolve2) and computes district centroids (geojson-polygon-
    center) as separate CLI passes; here both are lazy plans over the
    same district table: grouped edge-cancellation union into province
    polygons, and shoelace centroids per district.

    ``districts``: (district_key, province_key, rings_x, rings_y).
    """
    from moz_datapipeline_spark.functions.geo import (
        polygon_area,
        polygon_centroid,
    )
    from moz_datapipeline_spark.operators.geometry import dissolve

    provinces = dissolve(
        districts.select(province_key, "rings_x", "rings_y"), province_key
    )
    c = polygon_centroid("rings_x", "rings_y")
    centroids = districts.select(
        district_key,
        province_key,
        c["cx"].alias("cx"),
        c["cy"].alias("cy"),
        polygon_area("rings_x", "rings_y").alias("area"),
    )
    return {"provinces": provinces, "district_centroids": centroids}


def merge_eaul(network: DataFrame, eaul_results: DataFrame) -> DataFrame:
    """J4 + U3: EAUL results → per-upgrade columns joined onto the network.

    The reference reads one result JSON per way and flattens EVERY
    ``eaul.{key}`` into an ``eaul-<key>`` property
    (scripts/merge-eaul/eaul.js:50-73) — the keys being the global
    ``baseline`` (script-eaul/eaul.js:692 stamps the same baseline
    EAUL into every way's result file) plus one ``upgrade-*`` per
    road upgrade.  Here the long (way_id, upgrade_id, eaul) table
    pivots on the fixed upgrade list (bounded width) and left-joins
    on the way key; ways with no result rows stay null on EVERY
    ``eaul-*`` column — including ``eaul-baseline``, because a way
    without a result file gets no properties at all in the reference.
    """
    # one eager job: the upgrade ids and the baseline value together
    firsts = {
        r["upgrade_id"]: r["eaul"]
        for r in eaul_results.groupBy("upgrade_id")
        .agg(F.first("eaul").alias("eaul"))
        .collect()
    }
    baseline_val = firsts.pop("baseline", None)
    upgrade_ids = sorted(firsts)
    wide = (
        eaul_results.filter(F.col("upgrade_id") != "baseline")
        .groupBy("way_id")
        .pivot("upgrade_id", upgrade_ids)
        .agg(F.first("eaul"))
    )
    renamed = wide.select(
        F.col("way_id").alias("_w"),
        *[F.col(u).alias(f"eaul-{u}") for u in upgrade_ids],
    )
    joined = network.join(
        renamed, network["NAME"] == renamed["_w"], "left"
    )
    return joined.withColumn(
        "eaul-baseline",
        F.when(
            F.col("_w").isNotNull(),
            F.lit(baseline_val).cast("double"),
        ),
    ).drop("_w")


def indicators(
    spark: SparkSession,
    network: DataFrame,
    flood_stats: DataFrame,
    aadt_prop: str = "AADT",
) -> DataFrame:
    """indicators.sh core: per-indicator tables → merge onto the network.

    (Criticality/EAUL are separate engines — join their outputs the same
    way via ``merge_indicators``.)
    """
    aadt = indicator_from_prop(
        network.filter(F.col(aadt_prop).isNotNull()), aadt_prop
    )

    exposure = (
        flood_stats.join(
            network.select(
                F.col("NAME").alias("way_id"),
                F.col("length").alias("length_km"),
                F.lower(F.col("SURF_TYPE")).alias("surface"),
            ),
            "way_id",
        )
    )
    damage = flood_damage_long(exposure)
    flood_ead = ead(damage)
    flood_ind = flood_ead.select(
        "way_id",
        F.col("ead").alias("value"),
    )
    mx = flood_ind.agg(F.max("value").alias("_m"))
    flood_ind = flood_ind.crossJoin(F.broadcast(mx)).select(
        "way_id",
        "value",
        (F.col("value") / F.col("_m") * 100).alias("score"),
    )

    return merge_indicators(
        network,
        {"aadt": aadt, "floodEad": flood_ind},
        network_key="NAME",
    )
