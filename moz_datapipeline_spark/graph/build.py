"""Edge-list construction from the ways table.

Replaces the reference's GeoJSON → ogr2osm → osrm-extract chain
(scripts/preparation.sh:248, libs/ogr2osm/) with a columnar explode:
each way's node chain becomes (way_id, src, dst) segment rows; the
way's cost (RUC × length_km) is split evenly across its segments
(fixture ways are single-segment so the split is exact,
tests/fixtures/roadnetwork.osm).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_edges(
    ways: DataFrame,
    way_id: str = "NAME",
    nodes_col: str = "nodes",
    ruc_col: str = "RUC",
    length_col: str = "length",
) -> DataFrame:
    """ways(NAME, nodes array<string>, RUC, length km) → edge rows
    (way_id, src, dst, weight).

    Narrow transform (explode) — no shuffle; the edge list is small and
    is collected/broadcast into the routing kernel.
    """
    n_seg = F.size(F.col(nodes_col)) - 1
    seg_idx = F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("_i")
    exploded = ways.select(
        F.col(way_id).alias("way_id"),
        F.col(nodes_col).alias("_nodes"),
        (F.col(ruc_col) * F.col(length_col) / n_seg).alias("weight"),
        seg_idx,
    )
    return exploded.select(
        "way_id",
        F.col("_nodes")[F.col("_i")].alias("src"),
        F.col("_nodes")[F.col("_i") + 1].alias("dst"),
        "weight",
    )
