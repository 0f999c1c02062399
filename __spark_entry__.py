"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry demonstrates one operator family from
SURVEY.md §2 (reference citations in the operator modules under
``moz_datapipeline_spark/``) on the driver's TPC-H-ish tables; the
matching ``oracle_sql()`` entry is the DuckDB-checkable ground truth.
Non-SQL-expressible kernels (minhash/simhash LSH, routing) have no
oracle and get the driver's weaker rows-only check.
"""

from __future__ import annotations

import atexit
import os
import shutil
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# the query functions import moz_datapipeline_spark lazily; make sure the
# package resolves regardless of the caller's working directory
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# relational core (SURVEY §2.2–§2.6)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A4: fused multi-aggregate fold (criticality.js:232-303 shape)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.sum("l_extendedprice").alias("sum_base_price"),
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            F.avg("l_quantity").alias("avg_qty"),
            F.avg("l_extendedprice").alias("avg_price"),
            F.avg("l_discount").alias("avg_disc"),
            F.count("*").alias("count_order"),
            F.max("l_quantity").alias("max_qty"),
            F.count(F.when(F.col("l_discount") > 0.05, 1)).alias("n_high_disc"),
        )
    )


def q_proj_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P3: projection whitelist + predicate filters (pushed to scan)."""
    o = _t(spark, sf_dir, "orders")
    return o.select("o_orderkey", "o_custkey", "o_totalprice").filter(
        (F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 50000.0)
    )


def q_conditional_recode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4+P8: conditional UPDATE / categorical defaulting (utils.js:140-162)."""
    c = _t(spark, sf_dir, "customer")
    seg = F.lower(F.col("c_mktsegment"))
    recoded = (
        F.when(seg.isin("automobile", "machinery"), F.lit("industrial"))
        .when(seg == "building", F.lit("construction"))
        .otherwise(seg)
    )
    return (
        c.select(recoded.alias("segment_class"))
        .groupBy("segment_class")
        .agg(F.count("*").alias("n_customers"))
    )


def q_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5+P7: regex id extraction + numeric cleanup (prep-bridge.js:49-64)."""
    p = _t(spark, sf_dir, "part")
    brand_num = F.regexp_extract(F.col("p_brand"), r"Brand#(\d+)", 1).cast("int")
    return (
        p.select(
            F.col("p_partkey"),
            brand_num.alias("brand_num"),
            F.when(brand_num % 10 == 0, F.lit(7)).otherwise(brand_num % 10).alias(
                "brand_digit_defaulted"
            ),
        )
    )


def q_linear_rescale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9+P10: linear rescale + round (additional-props.js:89-91, utils.js:100-102)."""
    li = _t(spark, sf_dir, "lineitem")
    # explicit half-up rounding (floor(x*100+0.5)/100): bit-identical across
    # engines, unlike round(x, 2) whose half-way tie-breaking differs
    scaled = F.col("l_extendedprice") * 5.7762 - 0.0334
    return li.select(
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        (F.floor(scaled * 100 + 0.5) / 100).alias("ruc_scaled"),
    )


def q_global_max_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: indicator-from-prop normalization (indicator-from-prop.js:56-63)."""
    from moz_datapipeline_spark.operators.indicators import normalize_indicator

    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    return normalize_indicator(c, "c_acctbal", id_col="c_custkey").select(
        F.col("way_id").alias("c_custkey"), "value", "score"
    )


def q_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: exact nearest-rank percentile filter, top 20 % (filter-percentile.js:60-73)."""
    from moz_datapipeline_spark.operators.indicators import percentile_filter

    p = _t(spark, sf_dir, "part")
    return percentile_filter(p, "p_retailprice", 80.0).select(
        "p_partkey", "p_retailprice"
    )


def q_pair_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: upper-triangle distinct pair generation (criticality.js:144-155)."""
    n = _t(spark, sf_dir, "nation")
    a = n.select(
        F.col("n_nationkey").alias("o_idx"), F.col("n_regionkey").alias("o_region")
    )
    b = n.select(
        F.col("n_nationkey").alias("d_idx"), F.col("n_regionkey").alias("d_region")
    )
    return (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("o_idx") < F.col("d_idx"))
        .select("o_idx", "d_idx", "o_region", "d_region")
    )


def q_multiway_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/J2/J6: broadcast dimension joins (indicators.sh:39-55 shape)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("c_acctbal").alias("total_acctbal"),
        )
    )


def q_merge_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: loop of left joins of indicator tables onto the base entity
    (merge-indicators.js:94-125)."""
    from moz_datapipeline_spark.operators.indicators import (
        merge_indicators,
        normalize_indicator,
    )

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("spend"))
    cnt = o.groupBy("o_custkey").agg(F.count("*").cast("double").alias("cnt"))
    ind = {
        "spend": normalize_indicator(spend, "spend", id_col="o_custkey"),
        "orders": normalize_indicator(cnt, "cnt", id_col="o_custkey"),
    }
    merged = merge_indicators(c.select("c_custkey"), ind, network_key="c_custkey")
    return merged.select(
        "c_custkey",
        "spendScore",
        "spendValue",
        "ordersScore",
        "ordersValue",
    )


def q_merge_eaul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 + U3: EAUL result flattening — one long (way, upgrade, eaul)
    table pivots to eaul-<key> columns (the global baseline included,
    script-eaul/eaul.js:692) and left-joins onto the network on NAME;
    ways without results stay null on every eaul-* column
    (scripts/merge-eaul/eaul.js:50-73).

    The network stands in as the supplier table (NAME = s_name); the
    results frame is a deterministic arithmetic derivation over 2/3 of
    suppliers so the left join exercises both hit and miss paths.
    """
    from moz_datapipeline_spark.plans.moz_pipeline import merge_eaul

    s = _t(spark, sf_dir, "supplier")
    network = s.select(
        F.col("s_name").alias("NAME"),
        F.col("s_acctbal").cast("double").alias("acctbal"),
    )
    done = s.filter(F.col("s_suppkey") % 3 > 0)
    ups = F.array(
        F.struct(
            F.lit("upgrade-asphalt").alias("u"),
            (F.col("s_suppkey").cast("double") * F.lit(0.5)).alias("e"),
        ),
        F.struct(
            F.lit("upgrade-gravel").alias("u"),
            (F.col("s_suppkey").cast("double") * F.lit(0.25)).alias("e"),
        ),
    )
    results = (
        done.select(
            F.col("s_name").alias("way_id"), F.explode(ups).alias("x")
        )
        .select(
            "way_id",
            F.col("x.u").alias("upgrade_id"),
            F.col("x.e").alias("eaul"),
        )
        .union(
            spark.createDataFrame(
                [("__baseline__", "baseline", 1000.0)],
                "way_id string, upgrade_id string, eaul double",
            )
        )
    )
    out = merge_eaul(network, results)
    return out.select(
        "NAME",
        "acctbal",
        F.col("eaul-baseline").alias("eaul_baseline"),
        F.col("eaul-upgrade-asphalt").alias("eaul_asphalt"),
        F.col("eaul-upgrade-gravel").alias("eaul_gravel"),
    )


def q_argmin_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: grouped nearest-neighbor/argmin join (prep-bridge.js:86-112 shape).

    Only the argmin row is needed, so this is a single hash aggregation
    with map-side partials — min over a (price, linenumber) struct, the
    same (asc, asc) tiebreak a sort window would apply but without
    sorting every partition."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.min(F.struct("l_extendedprice", "l_linenumber")).alias("_m")
        )
        .select(
            "l_orderkey",
            F.col("_m.l_linenumber").alias("cheapest_line"),
            F.col("_m.l_extendedprice").alias("cheapest_price"),
        )
    )


def q_reverse_pair_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: directed→undirected pair fold with forward/reverse measures
    (process-traffic.js:83-94). Directed flows = supplier nation → customer
    nation line counts."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    directed = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("s_nationkey").alias("origin"),
            F.col("c_nationkey").alias("destination"),
        )
        .agg(F.count("*").alias("flow"))
    )
    oc, dc, fc = F.col("origin"), F.col("destination"), F.col("flow")
    canon = directed.filter(oc != dc).select(
        F.least(oc, dc).alias("nation_a"),
        F.greatest(oc, dc).alias("nation_b"),
        F.when(oc < dc, fc).otherwise(F.lit(0)).alias("_fwd"),
        F.when(oc > dc, fc).otherwise(F.lit(0)).alias("_rev"),
    )
    return canon.groupBy("nation_a", "nation_b").agg(
        F.sum("_fwd").alias("forward_flow"), F.sum("_rev").alias("reverse_flow")
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, filtered both sides, agg + exact top-10
    (deterministic tie-break so LIMIT hash-matches across engines)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    out = (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .filter(
            (F.col("o_orderdate") < "1995-03-15")
            & (F.col("l_shipdate") > "1995-03-15")
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )
    return out.orderBy(
        F.col("revenue").desc(), F.col("l_orderkey").asc()
    ).limit(10)


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join with a same-nation predicate; revenue
    per nation (join-reordering and broadcast exercise)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def q_conditional_agg_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + CASE-WHEN conditional counts per group
    (map-side partial agg of two conditional sums in one pass)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1994-01-01")
            & (F.col("l_shipdate") < "1995-01-01")
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def q_distinct_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT) per group after a join with an
    exclusion predicate — the two-shuffle distinct-agg plan."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    return (
        p.filter(F.col("p_size").isin(1, 4, 9, 14, 19, 23))
        .join(li, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_large_order_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped sum, semi-join back to the
    order/customer dimensions, deterministic top-20."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name", "o_orderkey", "o_totalprice",
            F.round("total_qty", 4).alias("total_qty"),
        )
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        )
        .limit(20)
    )


def q_anti_join_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13-ish: entities missing from a join (merge-indicators.js:110-125
    miss reporting) — customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: wide→long unpivot (process-traffic.js:70-82). Pivot lineitem to a
    wide per-returnflag matrix, then unpivot back; nulls (absent combos)
    dropped as the reference drops non-numeric keys."""
    li = _t(spark, sf_dir, "lineitem")
    wide = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum("l_quantity"))
    )
    long = wide.unpivot(
        ids=["l_returnflag"],
        values=["O", "F"],
        variableColumnName="l_linestatus",
        valueColumnName="total_qty",
    )
    return long.filter(F.col("total_qty").isNotNull())


def q_trapezoid_integration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: trapezoidal integration over an ordered series per group
    (vulnerability.js:140-146 / eaul.js:644-656). x = l_linenumber,
    y = l_quantity, per order with ≥2 lines."""
    li = _t(spark, sf_dir, "lineitem")
    # l_linenumber is not unique per order: collapse duplicates first so
    # the lead() series is deterministic in any engine.
    # One shuffle total: partition on the parent key up front — the
    # (key, x) agg is satisfied by the subset partitioning, and the
    # window + final agg reuse it. Map-side combine would buy nothing
    # here ((l_orderkey, l_linenumber) is nearly unique per row), so
    # pre-shuffling raw rows is strictly cheaper than two exchanges.
    series = li.repartition("l_orderkey").groupBy(
        "l_orderkey", F.col("l_linenumber").cast("double").alias("x")
    ).agg(F.sum("l_quantity").alias("y"))
    w = Window.partitionBy("l_orderkey").orderBy("x")
    stepped = series.withColumn("x_next", F.lead("x").over(w)).withColumn(
        "y_next", F.lead("y").over(w)
    )
    return (
        stepped.filter(F.col("x_next").isNotNull())
        .groupBy("l_orderkey")
        .agg(
            F.sum(
                (F.col("x_next") - F.col("x"))
                * (F.col("y") + F.col("y_next"))
                / 2.0
            ).alias("integral")
        )
    )


def q_severity_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 when-chain banding (vulnerability.js:209-221): quantity bands."""
    li = _t(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_quantity") < 10, F.lit("none"))
        .when(F.col("l_quantity") <= 25, F.lit("low"))
        .when(F.col("l_quantity") <= 40, F.lit("medium"))
        .otherwise(F.lit("high"))
    )
    return (
        li.select(band.alias("severity"))
        .groupBy("severity")
        .agg(F.count("*").alias("n_lines"))
    )


def q_weighted_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 aggregation shape: length-weighted average indicator
    (indicator-from-areas.js:91-127) — quantity-weighted avg discount per part."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            (
                F.sum(F.col("l_discount") * F.col("l_quantity"))
                / F.sum("l_quantity")
            ).alias("weighted_avg_discount")
        )
    )


def q_haversine_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12/geo: turf-style great-circle length (additional-props.js:57-60).
    Deterministic synthetic points derived from keys; distance customer→its
    nation anchor."""
    from moz_datapipeline_spark.functions.geo import haversine_km

    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        "c_custkey",
        "c_nationkey",
        ((F.col("c_custkey") % 360) - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("c_custkey") * 7 % 170) - 85 + 0.5).cast("double").alias("lat"),
        ((F.col("c_nationkey") * 14 % 360) - 180 + 0.5).cast("double").alias("nlon"),
        ((F.col("c_nationkey") * 6 % 170) - 85 + 0.5).cast("double").alias("nlat"),
    )
    return pts.select(
        "c_custkey",
        F.round(haversine_km("lon", "lat", "nlon", "nlat"), 6).alias("dist_km"),
    )


def q_spatial_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: bbox-prefilter spatial join (utils.js:83-98,
    indicator-from-areas.js:74-127) — synthetic points-in-cells range join,
    counting points per nation cell."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    pts = c.select(
        "c_custkey",
        (F.col("c_custkey") % 100 / 10.0).alias("px"),
        (F.col("c_custkey") * 3 % 100 / 10.0).alias("py"),
    )
    cells = n.select(
        "n_nationkey",
        (F.col("n_nationkey") % 5 * 2.0).alias("minx"),
        (F.col("n_nationkey") % 5 * 2.0 + 2.0).alias("maxx"),
        (F.floor(F.col("n_nationkey") / 5) * 2.0).alias("miny"),
        (F.floor(F.col("n_nationkey") / 5) * 2.0 + 2.0).alias("maxy"),
    )
    joined = pts.join(
        F.broadcast(cells),
        (F.col("px") >= F.col("minx"))
        & (F.col("px") < F.col("maxx"))
        & (F.col("py") >= F.col("miny"))
        & (F.col("py") < F.col("maxy")),
    )
    return joined.groupBy("n_nationkey").agg(F.count("*").alias("n_points"))


def q_polygon_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 for ARBITRARY polygons (indicator-from-areas.js:91-127):
    lineSplit + midpoint-membership weighting via the numpy mapInPandas
    kernel. Zones are diamonds (45°-rotated squares) so the oracle can
    derive the exact chord overlap of each horizontal way algebraically:
    at height y a diamond centered (cx,cy) radius r spans
    x ∈ [cx-(r-|y-cy|), cx+(r-|y-cy|)]."""
    from moz_datapipeline_spark.operators.areas import (
        indicator_from_polygon_areas,
    )

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    segs = c.select(
        F.col("c_custkey").alias("way_id"),
        (F.col("c_custkey") % 20).cast("double").alias("ax"),
        (F.col("c_custkey") * 3 % 19 + 0.5).cast("double").alias("ay"),
        (F.col("c_custkey") % 20 + 3 + F.col("c_custkey") % 5)
        .cast("double")
        .alias("bx"),
        (F.col("c_custkey") * 3 % 19 + 0.5).cast("double").alias("by"),
        (3 + F.col("c_custkey") % 5).cast("double").alias("way_len"),
    )
    cx = (F.col("n_nationkey") % 5 * 4 + 2).cast("double")
    cy = (F.floor(F.col("n_nationkey") / 5) * 4 + 2).cast("double")
    r = (2 + F.col("n_nationkey") % 3).cast("double")
    polys = n.select(
        F.col("n_nationkey").cast("string").alias("area_id"),
        F.array(F.array(cx - r, cx, cx + r, cx)).alias("rings_x"),
        F.array(F.array(cy, cy + r, cy, cy - r)).alias("rings_y"),
        (F.col("n_nationkey") + 1).cast("double").alias("indicator"),
    )
    out = indicator_from_polygon_areas(segs, polys)
    return out.select("way_id", F.round("value", 6).alias("value"))


def q_polygon_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shoelace centroid + area (preparation.sh:193-195 district
    centroids) over key-derived irregular quadrilaterals — pure column
    HOFs, no UDF. Oracle writes the 4-term shoelace explicitly."""
    from moz_datapipeline_spark.functions.geo import (
        polygon_area,
        polygon_centroid,
    )

    n = _t(spark, sf_dir, "nation")
    bx = (F.col("n_nationkey") % 5 * 10).cast("double")
    by = (F.floor(F.col("n_nationkey") / 5) * 10).cast("double")
    j2 = (F.col("n_nationkey") % 2).cast("double")
    j3 = (F.col("n_nationkey") % 3).cast("double")
    quads = n.select(
        F.col("n_nationkey").alias("area_id"),
        F.array(
            F.array(bx + j2, bx + 6, bx + 6 - j2, bx)
        ).alias("rings_x"),
        F.array(
            F.array(by, by + j3, by + 5, by + 4 + j2)
        ).alias("rings_y"),
    )
    c = polygon_centroid("rings_x", "rings_y")
    return quads.select(
        "area_id",
        F.round(c["cx"], 6).alias("cx"),
        F.round(c["cy"], 6).alias("cy"),
        F.round(polygon_area("rings_x", "rings_y"), 6).alias("area"),
    )


def q_dissolve_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped polygon union via edge cancellation + ring stitching
    (preparation.sh:149-151 dissolve2). Nations are unit grid cells,
    regions the dissolve groups; the oracle replays the cancellation in
    SQL and checks conservation laws the stitched rings must satisfy:
    edge count, perimeter, and signed shoelace area (= cell count)."""
    from moz_datapipeline_spark.functions.geo import (
        polygon_area,
        polygon_perimeter,
    )
    from moz_datapipeline_spark.operators.geometry import dissolve

    n = _t(spark, sf_dir, "nation")
    c = (F.col("n_nationkey") % 5).cast("double")
    r = F.floor(F.col("n_nationkey") / 5).cast("double")
    cells = n.select(
        F.col("n_regionkey").alias("region_key"),
        F.array(F.array(c, c + 1, c + 1, c)).alias("rings_x"),
        F.array(F.array(r, r, r + 1, r + 1)).alias("rings_y"),
    )
    d = dissolve(cells, "region_key")
    n_edges = F.aggregate(
        F.col("rings_x"), F.lit(0), lambda acc, ring: acc + F.size(ring)
    )
    return d.select(
        "region_key",
        n_edges.cast("long").alias("n_edges"),
        F.round(polygon_perimeter("rings_x", "rings_y"), 6).alias("perimeter"),
        F.round(polygon_area("rings_x", "rings_y"), 6).alias("area"),
    )


# ---------------------------------------------------------------------------
# events (batch form of the streaming operators)
# ---------------------------------------------------------------------------

def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet with ``ts`` normalized to LONG epoch-nanoseconds.

    The generator has shipped two physical layouts across rounds: int64
    nanos (read via the ``nanosAsLong`` legacy conf) and a standard
    parquet TIMESTAMP (µs, isAdjustedToUTC=false → TIMESTAMP_NTZ in
    Spark, naive TIMESTAMP in DuckDB). Downstream operators and every
    oracle (``epoch_ns(ts)``) do exact integer math in ns, so both
    layouts converge here. The NTZ→ns conversion uses ``timestampdiff``
    against an NTZ epoch literal — tz-independent, unlike
    ``unix_micros(cast(ts as timestamp))`` which shifts with the
    session timezone."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType.typeName()
    if ts_type.startswith("timestamp"):
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00',"
                " cast(ts as timestamp_ntz)) * 1000"
            ),
        )
    return df


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (streaming surface, batch-checkable)."""
    e = _events(spark, sf_dir)
    hour = (F.floor(F.col("ts") / F.lit(3_600_000_000_000)) * 3600).alias(
        "hour_epoch"
    )
    return e.groupBy(hour, "event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("value").alias("total_value"),
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min idle gap) per user via windows."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts")
    gaps = e.withColumn("_prev", F.lag("ts").over(w)).withColumn(
        "_new_session",
        F.when(
            F.col("_prev").isNull()
            | (F.col("ts") - F.col("_prev") > 1_800_000_000_000),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_id",
        F.sum("_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        sess.groupBy("user_id")
        .agg(
            F.max("session_id").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline operators (north-star extensions)
# ---------------------------------------------------------------------------

def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): each click event picks up the
    user's most recent error at-or-before it. The union-and-carry plan
    replaces the per-row lookup Spark lacks natively.

    Timestamps are canonicalized to MICROSECONDS before the join
    (integer ``DIV``, exact for ns epochs that overflow a double): the
    parquet column holds true ns precision, which DuckDB truncates to µs
    on read — joining in µs on both sides makes engine and oracle
    semantics identical instead of merely usually-agreeing."""
    from moz_datapipeline_spark.operators.temporal import asof_join

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.expr("ts DIV 1000").alias("ts_us"), "value"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.col("value").alias("err_value"),
    )
    out = asof_join(clicks, errors, key="user_id", ts="ts_us",
                    right_value_cols=["err_value"])
    return out.select(
        "event_id",
        "user_id",
        F.col("err_value_right").alias("last_err_value"),
        F.col("ts_us_right").alias("last_err_ts"),
    )


def q_range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join (big-big path, no broadcast): order totals
    classified into price bands derived from part keys."""
    from moz_datapipeline_spark.operators.ranges import bucketed_range_join

    o = _t(spark, sf_dir, "orders")
    bands = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 40).select(
        F.col("p_partkey").alias("band_id"),
        (F.col("p_partkey") * 12000.0).alias("lo"),
        (F.col("p_partkey") * 12000.0 + 12000.0).alias("hi"),
    )
    joined = bucketed_range_join(
        o.select("o_orderkey", "o_totalprice"),
        bands,
        point_col="o_totalprice",
        lo_col="lo",
        hi_col="hi",
        bucket_width=12000.0,
    )
    return joined.groupBy("band_id").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").alias("band_total"),
    )


def q_multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly AND daily rollups in
    one grouping-sets pass over the event stream."""
    e = _events(spark, sf_dir)
    bucketed = e.select(
        (F.floor(F.col("ts") / F.lit(3_600_000_000_000)) * 3600).alias("hour_epoch"),
        (F.floor(F.col("ts") / F.lit(86_400_000_000_000)) * 86400).alias("day_epoch"),
        "event_type",
        "value",
    )
    bucketed.createOrReplaceTempView("_mrr_events")
    return spark.sql(
        """
        SELECT hour_epoch, day_epoch, event_type,
               count(*) AS n_events, sum(value) AS total_value
        FROM _mrr_events
        GROUP BY GROUPING SETS ((hour_epoch, event_type), (day_epoch, event_type))
        """
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content-hash groupBy."""
    from moz_datapipeline_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    return exact_dedup(d)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup: candidates bucketed by 4-word prefix
    WITH a hot-bucket width cap (64 — boilerplate-heavy buckets are
    dropped before the self-join instead of going quadratic,
    operators/dedup.prefix_bucket_candidates), exact word-set Jaccard
    verification.  The oracle replays the same cap."""
    from moz_datapipeline_spark.operators.dedup import (
        prefix_bucket_candidates,
    )

    d = _t(spark, sf_dir, "documents")
    cands = prefix_bucket_candidates(d, max_bucket_width=64)
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    docs = d.select("doc_id", F.array_distinct(toks).alias("words"))
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("words").alias("_wa"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("words").alias("_wb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("_wa", "_wb"))
                / F.size(F.array_union("_wa", "_wb")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.3)
        .select("id_a", "id_b", "jaccard")
    )


def q_negative_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negatives: 4 md5-addressed other-row
    picks per anchor through the dense position index (two-phase prefix
    rank + one equi join — operators/corpus.negative_sample).  VALUE
    oracle: identical hash arithmetic over row_number positions."""
    from moz_datapipeline_spark.operators.corpus import negative_sample

    d = _t(spark, sf_dir, "documents")
    return negative_sample(d, k=4)


def q_batch_by_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching (dynamic-batching data prep): bucket by
    token-count bands, chunk each bucket into batch_size=32 batches in
    id order via the two-phase distributed prefix rank
    (operators/text.batch_by_length).  VALUE oracle: row_number per
    bucket in DuckDB."""
    from moz_datapipeline_spark.operators.text import batch_by_length

    d = _t(spark, sf_dir, "documents")
    out = batch_by_length(d, batch_size=32)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        "len_bucket",
        "batch_idx",
    )


def q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment: |sh(A)∩sh(B)|/|sh(A)| per side —
    the quote/excerpt detector Jaccard misses.  Candidates bucketed by
    4-word prefix with the hot-bucket width cap (64, same scheme as
    dedup_ngram_jaccard via operators/dedup.prefix_bucket_candidates),
    then operators/dedup.ngram_containment_pairs verifies exactly.
    VALUE oracle: identical shingling + containment + cap in DuckDB."""
    from moz_datapipeline_spark.operators.dedup import (
        ngram_containment_pairs,
        prefix_bucket_candidates,
    )

    d = _t(spark, sf_dir, "documents")
    cands = prefix_bucket_candidates(d, max_bucket_width=64)
    out = ngram_containment_pairs(d, cands, shingle_k=3, threshold=0.5)
    return out.select(
        "id_a",
        "id_b",
        F.round("containment_a", 6).alias("containment_a"),
        F.round("containment_b", 6).alias("containment_b"),
    )


def _portable_hash_mode() -> bool:
    """Hash family for the dedup headline queries.

    Default PORTABLE (md5) so the driver's DuckDB oracle replays bucket
    assignments bit-for-bit; ``bench.py`` exports
    ``SPARK_GRAFT_PORTABLE_HASH=0`` so benchmarks measure the xxhash64
    production fast path (the library default —
    ``operators/dedup._token_hash``). ``tests/test_dedup_fastpath.py``
    pins that both modes produce identical verified outputs on a
    planted corpus, so the benched plan and the oracle-checked plan
    differ only in hash CPU, not semantics."""
    return os.environ.get("SPARK_GRAFT_PORTABLE_HASH", "1") != "0"


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates (no SQL oracle: rows-only check)."""
    from moz_datapipeline_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )

    portable = _portable_hash_mode()
    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(d, num_hashes=32, portable_hash=portable)
    return minhash_lsh_candidates(sigs, bands=8, portable_hash=portable)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with Hamming ≤ 12 (rows-only check)."""
    from moz_datapipeline_spark.operators.dedup import simhash, simhash_candidates

    d = _t(spark, sf_dir, "documents")
    sigs = simhash(d, portable_hash=_portable_hash_mode())
    return simhash_candidates(sigs).filter(F.col("hamming") <= 12)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: n-gram Jaccard pairs → connected components →
    cluster sizes (large/small-star label propagation; rows-only check —
    iterative, not SQL-expressible)."""
    from moz_datapipeline_spark.operators.components import connected_components

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs)
    return (
        comp.groupBy("component")
        .agg(F.count("*").alias("cluster_size"))
        .orderBy("component")
    )


def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-3 neighbors for query vectors vec_id < 5."""
    from moz_datapipeline_spark.operators.similarity import cosine_topk_bruteforce

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 5), k=3)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (scale path; rows-only check)."""
    from moz_datapipeline_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, emb.filter(F.col("vec_id") < 5), n_centroids=16, nprobe=4, k=3)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k: score only pairs sharing a
    random-hyperplane bucket in either of 2 tables (one equi-join
    shuffle, never a cross join), exact rank within candidates."""
    from moz_datapipeline_spark.operators.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = lsh_bucket_topk(
        emb, emb.filter(F.col("vec_id") < 5),
        dim=64, k=3, n_planes=8, n_tables=2,
    )
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets.

    Threshold 0.3: the synthetic embeddings carry no true duplicates
    (max in-bucket cosine ≈ 0.47), so a production-style 0.9 threshold
    would make the check vacuous."""
    from moz_datapipeline_spark.operators.similarity import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup(emb, threshold=0.3, dim=64, n_planes=8, n_tables=2)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token count + char stats per document."""
    from moz_datapipeline_spark.operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        F.length("text").alias("n_chars_actual"),
    )


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over documents with deterministic planted PII.

    The synthetic corpus carries no real PII, so the query plants an
    email + IP per doc (derived from doc_id) before redacting — the
    oracle plants identically, making match counts and the redacted
    text non-vacuous."""
    from moz_datapipeline_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ),
    )
    out = redact_pii(d)
    return out.select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "redacted_text"
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window document chunking (training-sequence prep)."""
    from moz_datapipeline_spark.operators.text import chunk_documents

    d = _t(spark, sf_dir, "documents")
    return chunk_documents(d, max_tokens=32, stride=24).select(
        "doc_id", "chunk_idx", "n_tokens", "chunk_text"
    )


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut sample packing: document spans over token bins."""
    from moz_datapipeline_spark.operators.text import pack_documents

    d = _t(spark, sf_dir, "documents")
    return pack_documents(d, max_tokens=512)


def q_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization with dequantization fidelity."""
    from moz_datapipeline_spark.operators.similarity import quantize_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    out = quantize_embeddings(emb)
    return out.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.array_join(F.transform("quantized", lambda x: x.cast("string")), ",").alias(
            "codes"
        ),
        F.round("dequant_cosine", 6).alias("dequant_cosine"),
    )


def q_skew_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant two-phase salted aggregation — must equal a plain
    SUM (the salt only spreads the shuffle)."""
    from moz_datapipeline_spark.operators.skew import salted_sum

    li = _t(spark, sf_dir, "lineitem")
    out = salted_sum(li, ["l_returnflag"], "l_quantity", salt=16)
    return out.select(
        "l_returnflag", F.round("sum_l_quantity", 4).alias("total_qty")
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-style pre-tokenizer token counts (LLM token budgeting)."""
    from moz_datapipeline_spark.operators.text import bpe_ish_token_count

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id", bpe_ish_token_count("text").alias("n_bpe_tokens")
    )


def q_doc_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram window-min) document fingerprints."""
    from moz_datapipeline_spark.operators.text import winnow_fingerprints

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return winnow_fingerprints(d, k=3, w=4)


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality features aggregated per language."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    stop = F.size(
        F.filter(toks, lambda t: t.isin("the", "a", "of", "to", "and", "in", "is"))
    )
    feat = d.select(
        "lang",
        F.size(toks).cast("double").alias("_n"),
        (stop / F.size(toks)).alias("_stop_ratio"),
        F.length("text").cast("double").alias("_chars"),
    )
    return feat.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("_stop_ratio"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("_chars" ), 6).alias("avg_chars"),
        F.round(F.avg("_n"), 6).alias("avg_tokens"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: confusion counts vs labeled lang."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), " ")
    markers = {
        "en": ("the", "and", "of", "to", "a"),
        "es": ("el", "la", "de", "que", "y"),
        "de": ("der", "die", "und", "das", "ist"),
        "fr": ("le", "les", "des", "et", "une"),
        "zh": ("shi", "zai", "he", "wo", "ni"),
    }
    def _marker_filter(ms):
        return lambda t: t.isin(*ms)

    hit_structs = []
    for lang, ms in markers.items():
        cnt = F.size(F.filter(toks, _marker_filter(ms)))
        hit_structs.append(
            F.struct((-cnt).alias("neg"), F.lit(lang).alias("lang"))
        )
    pred = F.array_min(F.array(*hit_structs)).getField("lang")
    return (
        d.select("lang", pred.alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )


def q_stable_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10 % sample of documents by content-addressed hash —
    identical membership on any engine, partitioning, or rerun."""
    from moz_datapipeline_spark.operators.text import stable_sample

    d = _t(spark, sf_dir, "documents")
    return stable_sample(d, 0.1, "doc_id").select("doc_id", "lang", "n_chars")


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exact-5-per-language document sample
    (operators/text.group_sample): rank-by-content-hash window, small
    groups kept whole.  VALUE oracle: ROW_NUMBER over the identical
    md5 ordering in DuckDB."""
    from moz_datapipeline_spark.operators.text import group_sample

    d = _t(spark, sf_dir, "documents")
    return group_sample(d, "lang", 5, "doc_id").select(
        "doc_id", "lang", "n_chars"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic rebalance (downsample English to 20%,
    keep Chinese whole, 50% elsewhere) — one codegen filter on the
    scan, no join, no shuffle (operators/corpus.stratified_sample)."""
    from moz_datapipeline_spark.operators.corpus import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(
        d, "lang", {"en": 0.2, "zh": 1.0}, default=0.5
    ).select("doc_id", "lang", "n_chars")


#: one signature store per process, removed when it exits: two processes
#: running the query at once would otherwise rewrite each other's store
_INCR_STORE = os.path.join(
    tempfile.gettempdir(), f"spark_graft_incr_store_q_{os.getpid()}"
)
atexit.register(shutil.rmtree, _INCR_STORE, True)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingestion: even doc_ids bootstrap the signature
    store (a trusted prior corpus), odd doc_ids arrive as the new batch
    and are admitted through ``operators/incremental.incremental_dedup``
    (store-match drop + within-batch component grouping, MinHash
    Jaccard-estimate verification).  Returns the surviving new rows.

    VALUE oracle: the whole pipeline — md5 token hashes, rolling
    shingle combine, the 32-permutation universal hash family, band
    digests, bucket joins, the estimate threshold, and min-id component
    grouping (recursive CTE) — replays independently in DuckDB SQL over
    the same documents table (portable md5 mode end-to-end).
    """
    from moz_datapipeline_spark.operators.incremental import (
        bootstrap_signature_store,
        incremental_dedup,
    )

    shutil.rmtree(_INCR_STORE, ignore_errors=True)
    d = _t(spark, sf_dir, "documents")
    prior = d.filter(F.col("doc_id") % 2 == 0)
    batch = d.filter(F.col("doc_id") % 2 == 1)
    bootstrap_signature_store(
        spark, prior, _INCR_STORE, portable_hash=True
    )
    out = incremental_dedup(
        spark, batch, _INCR_STORE, threshold=0.7, portable_hash=True
    )
    return out.select("doc_id", "lang", "n_chars")


def q_dedup_stream_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL streaming first-wins dedup (streaming/stateful.
    dedup_stream, applyInPandasWithState keyed on source) driven through
    one micro-batch of the events table via a memory sink — the batch
    twin the oracle replays as SELECT DISTINCT.  Keys are event types,
    fingerprints a 500-bucket fold of user_id so duplicates actually
    occur within the batch.
    """
    import os
    import shutil
    import uuid

    from moz_datapipeline_spark.streaming.stateful import dedup_stream

    _events(spark, sf_dir)  # sets the nanos-ts conf for the raw read
    src_dir = "/tmp/spark_graft_dedup_tw_src"
    shutil.rmtree(src_dir, ignore_errors=True)
    os.makedirs(src_dir)
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        f"{src_dir}/events.parquet",
    )
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .parquet(src_dir)
        .filter(
            F.col("event_type").isNotNull() & F.col("user_id").isNotNull()
        )
        .select(
            F.col("event_type").alias("source"),
            (F.col("user_id") % 500).cast("long").alias("fingerprint"),
        )
    )
    name = f"dedup_tw_{uuid.uuid4().hex[:8]}"
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("key", "fingerprint", "n_new")


_INGEST_STORE = "/tmp/spark_graft_ingest_store_q"


def q_ingest_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of ``streaming/stateful.ingest_dedup_stream``'s admit
    step (the foreachBatch closure): quality-gate the micro-batch, then
    admit through ``incremental_dedup`` against a store bootstrapped
    from a trusted prior corpus.  Here prior = doc_id % 3 == 0 (no
    gate — the store is already curated), batch = the rest gated on
    n_chars >= 200, portable md5 hashing so DuckDB replays the whole
    MinHash pipeline.
    """
    import shutil

    from moz_datapipeline_spark.operators.incremental import (
        bootstrap_signature_store,
        incremental_dedup,
    )

    shutil.rmtree(_INGEST_STORE, ignore_errors=True)
    d = _t(spark, sf_dir, "documents")
    prior = d.filter(F.col("doc_id") % 3 == 0)
    batch = d.filter(F.col("doc_id") % 3 != 0)
    gated = batch.filter(F.col("n_chars") >= 200)  # the quality_gate
    bootstrap_signature_store(spark, prior, _INGEST_STORE, portable_hash=True)
    out = incremental_dedup(
        spark, gated, _INGEST_STORE, threshold=0.7, portable_hash=True
    )
    return out.select("doc_id", "lang", "n_chars")


def q_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U rank-sum test (operators/analytics.
    mann_whitney_u) between urgent and low-priority order totals —
    distinct-value rollup, two-phase prefix ranks, tie-corrected
    normal z.  Rank sums are exact in FP (integers and halves below
    2^53), so the DuckDB twin matches bit-for-bit.  VALUE oracle:
    identical rollup + window cumsum + A&S erf polynomial.
    """
    from moz_datapipeline_spark.operators.analytics import mann_whitney_u

    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT")
    b = o.filter(F.col("o_orderpriority") == "5-LOW")
    return mann_whitney_u(a, b, "o_totalprice")


def q_isotonic_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration map (operators/mleval.isotonic_fit): PAV
    over the 97-distinct-score rollup of a noisy increasing score→
    label relation.  VALUE oracle: the minimax identity fitted_k =
    max_{i<=k} min_{j>=k} mean(i..j) over the SAME windowed prefix
    sums the kernel uses (lag-based prefixes, so the FP values agree).
    """
    from moz_datapipeline_spark.operators.mleval import isotonic_fit

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        ((F.col("doc_id") % 97).cast("double") / F.lit(97.0)).alias(
            "score"
        ),
        F.when(
            (F.col("doc_id") % 89) < (F.col("doc_id") % 97), 1.0
        )
        .otherwise(0.0)
        .alias("label"),
    )
    return isotonic_fit(base, "score", "label")


def q_krippendorff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (operators/mleval.krippendorff_alpha) over
    the natural VARIABLE-panel annotation table fleiss_kappa can't
    accept: every order is an item, its 1-7 lineitems the raters,
    l_returnflag the category; singleton orders drop.  VALUE oracle:
    identical unit/category folds in DuckDB.
    """
    from moz_datapipeline_spark.operators.mleval import (
        krippendorff_alpha,
    )

    li = _t(spark, sf_dir, "lineitem")
    return krippendorff_alpha(
        li.select(
            F.col("l_orderkey").alias("item_id"),
            F.col("l_returnflag").alias("category"),
        )
    )


def q_bradley_terry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley–Terry preference fit (operators/mleval.bradley_terry):
    8 pseudo-players with PLANTED strengths θ_i = i+1 — player a beats
    b iff a deterministic mod draw lands under (a+1)/(a+b+2), exactly
    the BT win probability — fit with 3 MM rounds (Hunter 2004).
    VALUE oracle: pair rollup + all 3 MM rounds + mean-1 rescales
    unrolled as DuckDB CTEs.
    """
    from moz_datapipeline_spark.operators.mleval import bradley_terry

    li = _t(spark, sf_dir, "lineitem")
    a = (F.col("l_suppkey") % 8).cast("long")
    b = (F.col("l_partkey") % 8).cast("long")
    draw = F.pmod(
        F.col("l_orderkey") * 7 + F.col("l_linenumber"), a + b + 2
    )
    comp = li.filter(a != b).select(
        F.when(draw < a + 1, a).otherwise(b).alias("winner"),
        F.when(draw < a + 1, b).otherwise(a).alias("loser"),
    )
    return bradley_terry(comp, iterations=3)


def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa (operators/mleval.fleiss_kappa) over a natural
    fixed-panel annotation table: orders with exactly 4 lineitems are
    the items, the 4 lines their rater panel, l_returnflag the assigned
    category.  VALUE oracle: identical cell/panel folds in DuckDB.
    """
    from moz_datapipeline_spark.operators.mleval import fleiss_kappa

    li = _t(spark, sf_dir, "lineitem")
    return fleiss_kappa(
        li.select(
            F.col("l_orderkey").alias("item_id"),
            F.col("l_returnflag").alias("category"),
        ),
        raters_per_item=4,
    )


def q_embed_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched embedding generation (operators/embed.embed): the
    model-agnostic Arrow ``mapInPandas`` encoder kernel, driven here by
    the deterministic hashing-unigram featurizer (md5 word hash → 16
    count buckets → L2 normalize) so DuckDB can replay the exact
    vectors.  In production the same plumbing carries a real model fn;
    the plan (single pass, no shuffle, fixed encoder batch shape) is
    identical."""
    from moz_datapipeline_spark.operators.embed import (
        embed,
        hashing_ngram_encoder,
    )

    d = _t(spark, sf_dir, "documents")
    out = embed(
        d.select("doc_id", "text"),
        hashing_ngram_encoder(dim=16),
        batch_size=64,
    )
    # exploded (doc_id, pos, value) rows: the driver's value compare
    # sorts scalar columns, so vectors ship one component per row
    return out.select(
        "doc_id", F.posexplode("embedding").alias("pos", "value")
    ).withColumn("value", F.round("value", 6))


def q_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle + shard for training order
    (operators/corpus.shard_corpus): md5 shard assignment, independent
    md5 within-shard order, dense shard_rank via one per-shard window
    (never a global sort through one task).  VALUE oracle: identical
    hash arithmetic + row_number in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import shard_corpus

    d = _t(spark, sf_dir, "documents")
    out = shard_corpus(d.select("doc_id"), n_shards=8, seed="epoch0")
    return out.select("doc_id", "shard", "shard_rank")


def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-archive ingestion end-to-end (sources/warc.py): documents
    → distributed WARC sink (one CommonCrawl-layout ``.warc.gz`` per
    partition, per-record gzip members, HTTP response envelopes) →
    distributed WARC scan (per-file tasks, executor-side type filter,
    envelope strip in the same pass) → (doc_id, body_len, text_md5).
    The driver touches only file paths; payload bytes never leave the
    executors.  VALUE oracle: the archive stores exactly the UTF-8
    text, so DuckDB recomputes byte length + md5 from ``documents``."""
    import hashlib
    import shutil

    from moz_datapipeline_spark.sources.warc import read_warc, write_warc

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias(
            "uri"
        ),
        F.coalesce(F.col("text"), F.lit("")).alias("payload"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = f"/tmp/spark_graft_warc/{tag}"
    shutil.rmtree(out_dir, ignore_errors=True)  # drop stale part files
    write_warc(
        docs.repartition(8), out_dir, http_envelope=True, compress=True
    ).collect()  # manifest is 8 tiny rows; the action runs the sink
    recs = read_warc(
        spark,
        out_dir + "/*.warc.gz",
        record_types=("response",),
        strip_http=True,
    )
    return recs.select(
        F.regexp_extract("target_uri", r"urn:doc:(\d+)", 1)
        .cast("long")
        .alias("doc_id"),
        F.col("content_length").alias("body_len"),
        F.md5("payload").alias("text_md5"),
    )


def q_warc_cdx_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX index + random-access serving (sources/warc.cdx_index /
    fetch_warc_record): documents → per-record-gzip archive → byte-span
    index (one row per record with exact (path, offset, length)) →
    every record re-read by SEEKING to its span, never scanning the
    file — the CommonCrawl access pattern.  VALUE oracle: the fetched
    bodies must reproduce the documents table (byte length + md5),
    so the oracle recomputes both from ``documents``."""
    import hashlib
    import shutil

    from moz_datapipeline_spark.sources.warc import (
        cdx_index,
        fetch_warc_record,
        http_response_body,
        write_warc,
    )

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias(
            "uri"
        ),
        F.coalesce(F.col("text"), F.lit("")).alias("payload"),
    )
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    out_dir = f"/tmp/spark_graft_warc_cdx/{tag}"
    shutil.rmtree(out_dir, ignore_errors=True)
    write_warc(
        docs.repartition(8), out_dir, http_envelope=True, compress=True
    ).collect()
    idx = cdx_index(spark, out_dir + "/*.warc.gz")

    def fetch(batches):
        import hashlib as _h

        import pandas as pd

        for pdf in batches:
            rows = []
            for uri, p, off, ln in zip(
                pdf["target_uri"], pdf["path"], pdf["offset"], pdf["length"]
            ):
                _, payload = fetch_warc_record(p, int(off), int(ln))
                body = http_response_body(payload)
                rows.append(
                    {
                        "doc_id": int(str(uri).rsplit(":", 1)[1]),
                        "body_len": len(body),
                        "text_md5": _h.md5(body).hexdigest(),
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "body_len", "text_md5"]
            )

    return idx.mapInPandas(
        fetch, schema="doc_id long, body_len long, text_md5 string"
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-style disjunctive-predicate revenue: three
    (brand, size-range, quantity-range) OR-arms over lineitem ⨝ part.
    The optimizer exercise no other query covers: Catalyst must keep
    the cross-side OR intact while still pushing the part-side
    conjunction hull to the scan and broadcasting the dimension."""
    l = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    arm1 = (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#4")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 30)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#19")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 40)
    )
    return j.filter(arm1 | arm2 | arm3).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 6
        ).alias("disjunctive_revenue"),
        F.count("*").alias("n_lines"),
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-curation chain as ONE plan
    (plans/corpus_pipeline.curate_corpus): quality gate → exact dedup
    → benchmark decontamination → per-domain cap → deterministic
    shards, every stage an existing operator, composed through the
    named-stage Pipeline runner.  Four shuffles total, none corpus²,
    all selections content-addressed — so the WHOLE chain replays as
    one DuckDB CTE pipeline (the VALUE oracle below)."""
    from moz_datapipeline_spark.plans.corpus_pipeline import curate_corpus

    d = _t(spark, sf_dir, "documents")
    return curate_corpus(spark, d, max_per_domain=50, n_shards=4)


def q_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization (operators/urls.py): deterministic raw-URL
    variants synthesized per doc (scheme/host case, default ports,
    www, trailing slash, fragments, tracker params, param order, a
    schemeless passthrough) → canonical form + host, all pure JVM
    regex/array expressions.  VALUE oracle: the identical rule chain
    replayed step-by-step in DuckDB."""
    from moz_datapipeline_spark.operators.urls import (
        canonicalize_url,
        url_host,
    )

    d = _t(spark, sf_dir, "documents")
    i = F.col("doc_id").cast("string")
    c = F.col("doc_id") % 6
    raw = (
        F.when(c == 0, F.concat(F.lit("HTTP://Example.COM:80/path/"), i,
                                F.lit("?b=2&a=1&utm_source=x#frag")))
        .when(c == 1, F.concat(F.lit("https://WWW.Example.com:443/path/"),
                               i, F.lit("/")))
        .when(c == 2, F.concat(F.lit("http://example.com/p"), i,
                               F.lit("?utm_campaign=c&ref=home&z=1")))
        .when(c == 3, F.concat(F.lit("https://example.com/Path/"), i,
                               F.lit("?z=9&y=8")))
        .when(c == 4, F.concat(F.lit("http://sub.example.org:8080/"), i,
                               F.lit("?a=1&a=0")))
        .otherwise(F.concat(F.lit("no-scheme/"), i))
    )
    urls = d.select("doc_id", raw.alias("raw_url"))
    return urls.select(
        "doc_id",
        canonicalize_url("raw_url").alias("canonical_url"),
        url_host("raw_url").alias("host"),
    )


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination
    (operators/similarity.semantic_decontaminate): every candidate's
    max cosine against a broadcast eval slice (vec_id % 50 == 0),
    map-side-combined max fold, flag at 0.9.  VALUE oracle: the same
    cross-score + max in DuckDB (flag computed on the unrounded max)."""
    from moz_datapipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = semantic_decontaminate(
        emb, F.col("vec_id") % 50 == 0, threshold=0.9
    )
    return out.select(
        "vec_id",
        F.round("max_bench_cosine", 6).alias("max_bench_cosine"),
        "contaminated",
    )


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split
    (operators/corpus.split_corpus): md5 of (seed, id) reduced to a
    60-bit integer against integer thresholds — no float arithmetic on
    the data path, zero shuffles.  VALUE oracle: the identical hash +
    integer-threshold arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import split_corpus

    d = _t(spark, sf_dir, "documents")
    out = split_corpus(
        d.select("doc_id"),
        {"train": 0.8, "val": 0.1, "test": 0.1},
        seed="epoch0",
    )
    return out.select("doc_id", "split")


#: exact binary fractions summing to exactly 1.0 — normalization is a
#: no-op in BOTH engines, so the oracle can use the literals verbatim
_BUDGET_W = {
    "src0": 0.25, "src1": 0.25, "src2": 0.125, "src3": 0.125,
    "src4": 0.125, "src5": 0.0625, "src6": 0.03125, "src7": 0.03125,
}
_BUDGET = 40000.0


def q_budget_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget water-filling (operators/corpus.budget_resample):
    resample 8 weighted domains to a hard 40k-char budget — groups
    whose mass can't fill their share are kept whole, their surplus
    redistributes via the exact water level λ, the rest downsample to
    λ·w/T.  The solve is relational over the k-row group-stats table;
    membership is the md5-threshold family.  VALUE oracle: identical
    sorted-prefix λ solve + hash thresholds in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import budget_resample

    d = _t(spark, sf_dir, "documents")
    out = budget_resample(
        d.select("doc_id", "source", "n_chars"),
        "source",
        _BUDGET_W,
        _BUDGET,
        token_col="n_chars",
    )
    return out.select(
        "doc_id", "source", F.round("sample_rate", 6).alias("sample_rate")
    )


_BPE_ROUNDS = 6


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-cluster BPE tokenizer induction (operators/bpe.bpe_train):
    one corpus-wide hash-agg builds the weighted (word, freq, symbols)
    vocabulary, then each merge round is a bigram explode + map-side
    sum over THAT table plus a one-row driver argmax — corpus size
    never re-enters after round 0.  Ties break (count DESC, pair ASC)
    so the merge list is byte-stable.  VALUE oracle: all 6 rounds
    unrolled as DuckDB CTEs with the identical delimited-string
    replace semantics."""
    from moz_datapipeline_spark.operators.bpe import bpe_train

    d = _t(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=_BPE_ROUNDS)
    return spark.createDataFrame(
        [
            {
                "merge_rank": r,
                "left_sym": a,
                "right_sym": b,
                "pair_count": c,
            }
            for r, a, b, c in merges
        ],
        "merge_rank int, left_sym string, right_sym string, pair_count long",
    )


def _bpe_merges_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Unrolled-round replay of bpe_train: same vocabulary reduction,
    same weighted bigram counts, same (cnt DESC, a, b) argmax, and the
    same ``|A||B|`` → ``|AB|`` substring replace (plain left-to-right
    non-overlapping replace has identical semantics in both engines —
    that equivalence is the whole point of the delimited
    representation).  Every CTE is MATERIALIZED: b{r} is referenced
    four times by v{r+1}, and DuckDB's default CTE inlining re-expands
    the whole prior chain at every reference — exponential in rounds
    (measured: >5 min inlined vs 0.1 s materialized)."""
    parts = [
        """
        WITH v0 AS MATERIALIZED (
          SELECT word, CAST(count(*) AS BIGINT) AS freq,
                 regexp_replace(word, '(.)', '||\\1', 'g') || '||' AS sym
          FROM (
            SELECT unnest(list_filter(string_split(text, ' '),
                                      t -> t <> '')) AS word
            FROM documents
          )
          WHERE NOT contains(word, '|')
          GROUP BY word
        )"""
    ]
    for r in range(rounds):
        parts.append(
            f""", p{r} AS MATERIALIZED (
          SELECT pr.a AS a, pr.b AS b, CAST(sum(freq) AS BIGINT) AS cnt
          FROM (
            SELECT freq,
                   unnest(list_transform(
                     generate_series(1, len(toks) - 1),
                     i -> {{'a': toks[i], 'b': toks[i + 1]}})) AS pr
            FROM (
              SELECT freq,
                     list_filter(string_split(sym, '||'),
                                 t -> t <> '') AS toks
              FROM v{r}
            )
            WHERE len(toks) >= 2
          )
          GROUP BY pr.a, pr.b
        ), b{r} AS MATERIALIZED (
          SELECT a, b, cnt FROM p{r} WHERE cnt >= 2
          ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
        ), v{r + 1} AS MATERIALIZED (
          SELECT word, freq,
                 replace(sym,
                   '|' || (SELECT a FROM b{r}) || '||' ||
                          (SELECT b FROM b{r}) || '|',
                   '|' || (SELECT a FROM b{r}) ||
                          (SELECT b FROM b{r}) || '|') AS sym
          FROM v{r}
        )"""
        )
    union = "\n          UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS left_sym, b AS right_sym, "
        f"cnt AS pair_count FROM b{r}"
        for r in range(rounds)
    )
    parts.append(f"\n        SELECT * FROM ({union}) ORDER BY merge_rank")
    return "".join(parts)


def _bpe_segment_oracle(rounds: int = _BPE_ROUNDS) -> str:
    """Serving-path replay: re-derive the merges (the same round CTEs
    as _bpe_merges_oracle), collect the learned pairs into ONE row of
    pattern columns, then apply the replace chain to every word of
    every document inside a list_transform lambda (DuckDB lambdas may
    reference outer row columns — that is what makes the nested
    replace chain expressible)."""
    base = _bpe_merges_oracle(rounds)
    # keep only the WITH chain (drop the final merge-table SELECT)
    with_chain = base[: base.rindex("\n        SELECT * FROM (")]
    pat_cols = ", ".join(
        f"(SELECT a FROM b{r}) AS a{r}, (SELECT b FROM b{r}) AS c{r}"
        for r in range(rounds)
    )
    expr = "regexp_replace(w, '(.)', '||\\1', 'g') || '||'"
    for r in range(rounds):
        expr = (
            f"replace({expr}, '|' || a{r} || '||' || c{r} || '|', "
            f"'|' || a{r} || c{r} || '|')"
        )
    return (
        with_chain
        + f""", pats AS MATERIALIZED (SELECT {pat_cols})
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_bpe_tokens,
               md5(array_to_string(toks, chr(31))) AS tokens_md5
        FROM (
          SELECT d.doc_id,
                 flatten(list_transform(
                   list_filter(string_split(coalesce(d.text, ''), ' '),
                               t -> t <> ''),
                   w -> list_filter(string_split({expr}, '||'),
                                    t -> t <> ''))) AS toks
          FROM documents d CROSS JOIN pats
        )
    """
    )


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer SERVING oracle-pinned end-to-end: learn the 6 merges
    (operators/bpe.bpe_train), apply them to every document
    (bpe_segment — a chain of narrow JVM replaces, no shuffle), emit
    per-doc token count + md5 of the token stream.  VALUE oracle:
    DuckDB re-derives the merges AND replays the apply chain inside a
    list_transform lambda (_bpe_segment_oracle)."""
    from moz_datapipeline_spark.operators.bpe import bpe_segment, bpe_train

    d = _t(spark, sf_dir, "documents")
    merges = bpe_train(d, n_merges=_BPE_ROUNDS)
    seg = bpe_segment(
        d.select("doc_id", F.coalesce("text", F.lit("")).alias("text")),
        merges,
    )
    return seg.select(
        "doc_id",
        F.size("bpe_tokens").alias("n_bpe_tokens"),
        F.md5(F.concat_ws("\x1f", "bpe_tokens")).alias("tokens_md5"),
    )


def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-card summary (operators/corpus.corpus_report): the release
    headline numbers in one corpus scan + a tiny modal-language agg,
    emitted as tall (metric, value) rows — all integer or
    exactly-derived arithmetic.  VALUE oracle: the same aggregation +
    stack in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import corpus_report

    return corpus_report(_t(spark, sf_dir, "documents"))


_FUZZY_DF_CAP = 50


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance record linkage (operators/fuzzy.fuzzy_join):
    supplier names vs a perturbed registry (per-key one-char edits) —
    q-gram candidate equi join with a stop-gram df cap (the shared
    'supplier#00…' prefix grams die there, digit-tail grams
    discriminate), length pre-filter, JVM levenshtein verify.  VALUE
    oracle: identical gram/cap/filter/levenshtein chain in DuckDB."""
    from moz_datapipeline_spark.operators.fuzzy import fuzzy_join

    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    k = F.col("s_suppkey")
    nm = F.col("s_name")
    perturbed = s.select(
        (k + 100000).alias("r_key"),
        F.when(
            k % 3 == 0,
            F.concat(F.substring(nm, 1, 3), F.lit("x"),
                     F.substring(nm, 5, 100)),
        )
        .when(
            k % 3 == 1,
            F.concat(F.substring(nm, 1, 6), F.substring(nm, 8, 100)),
        )
        .otherwise(nm)
        .alias("r_name"),
    )
    out = fuzzy_join(
        s, perturbed, "s_name", "r_name", "s_suppkey", "r_key",
        max_distance=2, max_gram_df=_FUZZY_DF_CAP,
    )
    return out.select("left_id", "right_id", "left_val", "right_val",
                      "distance")


def _fuzzy_join_oracle() -> str:
    return f"""
        WITH l AS MATERIALIZED (
          SELECT s_suppkey AS id,
                 regexp_replace(lower(trim(s_name)), '\\s+', ' ', 'g') AS val
          FROM supplier
        ), r0 AS (
          SELECT s_suppkey + 100000 AS id,
                 CASE WHEN s_suppkey % 3 = 0
                      THEN substr(s_name, 1, 3) || 'x' || substr(s_name, 5, 100)
                      WHEN s_suppkey % 3 = 1
                      THEN substr(s_name, 1, 6) || substr(s_name, 8, 100)
                      ELSE s_name END AS name
          FROM supplier
        ), r AS MATERIALIZED (
          SELECT id,
                 regexp_replace(lower(trim(name)), '\\s+', ' ', 'g') AS val
          FROM r0
        ), lg AS MATERIALIZED (
          SELECT id, val, unnest(CASE WHEN len(val) >= 3
            THEN list_distinct(list_transform(
                   generate_series(1, len(val) - 2),
                   i -> substr(val, i, 3)))
            ELSE [val] END) AS g
          FROM l
        ), rg AS MATERIALIZED (
          SELECT id, val, unnest(CASE WHEN len(val) >= 3
            THEN list_distinct(list_transform(
                   generate_series(1, len(val) - 2),
                   i -> substr(val, i, 3)))
            ELSE [val] END) AS g
          FROM r
        ), stop AS MATERIALIZED (
          SELECT g FROM (
            SELECT g, count(*) AS df FROM (
              SELECT g FROM lg UNION ALL SELECT g FROM rg
            ) GROUP BY g
          ) WHERE df > {_FUZZY_DF_CAP}
        ), pairs AS (
          SELECT DISTINCT lg.id AS left_id, rg.id AS right_id,
                          lg.val AS left_val, rg.val AS right_val
          FROM (SELECT * FROM lg WHERE g NOT IN (SELECT g FROM stop)) lg
          JOIN (SELECT * FROM rg WHERE g NOT IN (SELECT g FROM stop)) rg
            ON lg.g = rg.g
          WHERE abs(len(lg.val) - len(rg.val)) <= 2
        )
        SELECT left_id, right_id, left_val, right_val,
               CAST(levenshtein(left_val, right_val) AS INTEGER) AS distance
        FROM pairs
        WHERE levenshtein(left_val, right_val) <= 2
    """


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff (operators/corpus.diff_corpus): the
    documents table against a synthetic next release (every 13th doc
    dropped, every 7th doc's text edited, 1-in-11 cloned under a new
    id) → (doc_id, added|removed|changed), formatting-only churn
    excluded by the normalized-content digest.  One full outer join on
    the id; only 16-byte digests cross the wire.  VALUE oracle: the
    same digest + full-outer-join CASE in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import diff_corpus

    old = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kept = old.filter(F.col("doc_id") % 13 != 0)
    edited = kept.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.coalesce("text", F.lit("")), F.lit(" [v2]")),
        ).otherwise(F.col("text")).alias("text"),
    )
    clones = old.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    new = edited.unionByName(clones)
    return diff_corpus(old, new)


_KCORE_K = 10
_KCORE_ROUNDS = 4


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-bounded k-core peel (graph/kcore.py) over the symmetric
    customer↔supplier trade graph (the PageRank graph): 4 peels at
    k=10 — each round a degree hash-agg plus two semi joins on the
    shrinking (checkpointed) edge set.  ``early_stop`` exits at the
    fixpoint; parity with the fixed-round oracle holds in every case:
    converged ≤ 4 rounds → the oracle's extra rounds are no-ops,
    not converged → both sides run exactly 4.  VALUE oracle: the same
    4 rounds unrolled as MATERIALIZED DuckDB CTEs."""
    from moz_datapipeline_spark.graph.kcore import kcore

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    fwd = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + 1000000).cast("long").alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return kcore(
        edges,
        k=_KCORE_K,
        rounds=_KCORE_ROUNDS,
        early_stop=True,
        # fwd is distinct and the reversal swaps disjoint id ranges
        # (custkey < 1e6 <= suppkey+1e6), so the union is distinct by
        # construction — skip the operator's dedup shuffle of the
        # largest frame
        assume_distinct=True,
    )


def _kcore_oracle(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    parts = [
        """
        WITH fwd AS MATERIALIZED (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                          CAST(l_suppkey + 1000000 AS BIGINT) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), e0 AS MATERIALIZED (
          SELECT src, dst FROM fwd
          UNION
          SELECT dst AS src, src AS dst FROM fwd
        )"""
    ]
    for r in range(rounds):
        parts.append(
            f""", n{r} AS MATERIALIZED (
          SELECT src FROM (
            SELECT src, count(*) AS c FROM e{r} GROUP BY src
          ) WHERE c >= {k}
        ), e{r + 1} AS MATERIALIZED (
          SELECT e.src, e.dst
          FROM e{r} e
          JOIN n{r} a ON e.src = a.src
          JOIN n{r} b ON e.dst = b.src
        )"""
        )
    parts.append(
        f"""
        SELECT src AS node, CAST(count(*) AS BIGINT) AS degree
        FROM e{rounds} GROUP BY src
    """
    )
    return "".join(parts)


_LPA_ROUNDS = 3


def q_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities (graph/lpa.py) over
    the symmetric customer↔supplier trade graph: 3 unrolled rounds,
    most-frequent neighbor label with smallest-label tie-break — one
    O(|E|) join + hash-agg per round, the PageRank cost envelope.
    VALUE oracle: the same 3 rounds unrolled as DuckDB CTEs (window
    max per node + min-label tie-break)."""
    from moz_datapipeline_spark.graph.lpa import label_propagation

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    fwd = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + 1000000).cast("long").alias("dst"),
        )
        .distinct()
    )
    return label_propagation(fwd, rounds=_LPA_ROUNDS)


def _lpa_oracle(rounds: int = _LPA_ROUNDS) -> str:
    parts = [
        """
        WITH fwd AS MATERIALIZED (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                          CAST(l_suppkey + 1000000 AS BIGINT) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), e AS MATERIALIZED (
          SELECT src, dst FROM fwd
          UNION
          SELECT dst AS src, src AS dst FROM fwd
        ), r0 AS MATERIALIZED (
          SELECT DISTINCT src AS node, src AS label FROM e
        )"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""", v{i} AS MATERIALIZED (
          SELECT e.dst AS node, r.label AS label, count(*) AS cnt
          FROM e JOIN r{i - 1} r ON e.src = r.node
          GROUP BY e.dst, r.label
        ), r{i} AS MATERIALIZED (
          SELECT node, min(label) AS label FROM (
            SELECT node, label, cnt,
                   max(cnt) OVER (PARTITION BY node) AS mx
            FROM v{i}
          ) WHERE cnt = mx GROUP BY node
        )"""
        )
    parts.append(f"""
        SELECT node, label FROM r{rounds}
    """)
    return "".join(parts)


_PROBE_W = [((j * 7) % 5 - 2.0) / 2.0 for j in range(16)]
_PROBE_B = -0.25


def q_quality_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-probe quality gate over generated embeddings: the full
    text → hashed-unigram embedding → sigmoid(w·v+b) path
    (operators/embed.embed + linear_probe_score), all JVM column
    expressions past the encoder kernel.  VALUE oracle: the embedding
    replay joined against a literal weight table in DuckDB."""
    from moz_datapipeline_spark.operators.embed import (
        embed,
        hashing_ngram_encoder,
        linear_probe_score,
    )

    d = _t(spark, sf_dir, "documents")
    emb = embed(
        d.select("doc_id", "text"),
        hashing_ngram_encoder(dim=16),
        batch_size=64,
    )
    out = linear_probe_score(emb, _PROBE_W, bias=_PROBE_B)
    return out.select(
        "doc_id",
        F.round("probe_score", 6).alias("probe_score"),
        (F.col("probe_score") >= 0.5).alias("keep"),
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint (md5 of normalized text)."""
    d = _t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return d.select("doc_id", F.md5(norm).alias("fingerprint"))


# ---------------------------------------------------------------------------
# corpus hygiene (repetition filters, domain caps, vocab, decontamination)
# ---------------------------------------------------------------------------

def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features: duplicate-token / top-token /
    duplicate-bigram fractions per document (boilerplate detection)."""
    from moz_datapipeline_spark.operators.corpus import repetition_stats

    d = _t(spark, sf_dir, "documents")
    return repetition_stats(d).select(
        "doc_id",
        "n_tokens",
        "n_distinct_tokens",
        "dup_token_frac",
        "top_token_frac",
        "dup_2gram_frac",
    )


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep ≤10 docs per source, selected by
    content-addressed hash so membership is engine- and rerun-stable."""
    from moz_datapipeline_spark.operators.corpus import cap_per_group

    d = _t(spark, sf_dir, "documents")
    return cap_per_group(d, "source", 10).select(
        "doc_id", "source", "sample_rank"
    )


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary heavy hitters: top-100 tokens by term frequency
    with document frequency (two-phase distinct aggregate, heap top-k)."""
    from moz_datapipeline_spark.operators.corpus import vocab_stats

    d = _t(spark, sf_dir, "documents")
    return vocab_stats(d, top_n=100)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 tf-idf terms per document; idf from the same single-scan
    (doc, token) aggregate, corpus size broadcast as a 1-row join."""
    from moz_datapipeline_spark.operators.corpus import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, k=5)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag candidate docs sharing ≥5 % of
    their distinct word 8-grams with the benchmark slice
    (doc_id % 97 == 0 stands in for the eval set)."""
    from moz_datapipeline_spark.operators.corpus import decontaminate

    d = _t(spark, sf_dir, "documents")
    return decontaminate(d, F.col("doc_id") % 97 == 0)


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate-line removal (CCNet-style): documents
    get a synthetic 3-line structure with a shared footer injected into
    every third doc; lines repeating across >= 10 distinct docs are
    stripped, original line order preserved."""
    from moz_datapipeline_spark.operators.corpus import (
        remove_boilerplate_lines,
    )

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.substring("text", 1, 60),
            F.when(
                F.col("doc_id") % 3 == 0, F.lit("FOLLOW US ON SOCIAL MEDIA")
            ).otherwise(F.substring("text", 61, 60)),
            F.substring("text", 121, 40),
        ).alias("text"),
    )
    return remove_boilerplate_lines(d, min_docs=10)


def q_quality_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative quality-filter survival counts (C4/Gopher-style chain)
    in one corpus scan; thresholds via integer cross-multiplication."""
    from moz_datapipeline_spark.operators.corpus import quality_filter_funnel

    return quality_filter_funnel(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# event analytics + embedding ML (funnel, cohort, sketches, k-means, JL)
# ---------------------------------------------------------------------------

def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase): per-stage user counts,
    each stage strictly after the user's earliest prior-stage arrival."""
    from moz_datapipeline_spark.operators.analytics import funnel_stages

    return funnel_stages(_events(spark, sf_dir))


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention grid: first-activity-day cohorts × day offsets,
    all in exact integer epoch-day space."""
    from moz_datapipeline_spark.operators.analytics import cohort_retention

    return cohort_retention(_events(spark, sf_dir))


def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs HLL distinct users per event type with a bounded-error
    certification flag (the sketch is the 100 TB path)."""
    from moz_datapipeline_spark.operators.analytics import (
        distinct_within_tolerance,
    )

    return distinct_within_tolerance(_events(spark, sf_dir))


def q_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact vs sketch p95 per return flag with a bounded-error
    certification flag (the fixed-memory sketch is the 100 TB path)."""
    from moz_datapipeline_spark.operators.analytics import (
        percentile_within_tolerance,
    )

    return percentile_within_tolerance(_t(spark, sf_dir, "lineitem"))


def q_view_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: latest same-user view within 15 min of
    each click (batch twin of the watermarked stream-stream join).

    Timestamps canonicalize to µs BEFORE the window math — DuckDB reads
    the ns parquet as µs TIMESTAMP, so ns-side comparisons would flip
    boundary pairs (same diagnosis as the round-1 asof_join red cell)."""
    from moz_datapipeline_spark.operators.analytics import attribute_clicks

    e = _events(spark, sf_dir).withColumn("ts", F.expr("ts div 1000"))
    return attribute_clicks(e, window_ns=900_000_000)


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JL random projection onto 8 deterministic LCG hyperplanes
    (shuffle-free JVM folds; long layout one row per vector×dim)."""
    from moz_datapipeline_spark.operators.similarity import random_projection

    return random_projection(_t(spark, sf_dir, "embeddings"), dim=64)


def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population covariance of the embedding column as (i, j, cov)
    rows: per-partition partial Gram matrices folded in one tiny
    aggregation — shuffle is O(partitions x d^2), row-count free."""
    from moz_datapipeline_spark.operators.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(_t(spark, sf_dir, "embeddings"))


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes (m=4 subspaces, k=16 codes,
    deterministic init, one Lloyd round + final re-assign so codes are
    consistent with the returned codebooks): each embedding compresses
    to 4 small codes — the m-bytes-per-vector layout of billion-scale
    ANN.  Codes join to a dash-joined string so the hash compare is
    array-representation-agnostic."""
    from moz_datapipeline_spark.operators.similarity import pq_encode

    codes, _ = pq_encode(
        _t(spark, sf_dir, "embeddings"),
        m=4, k=16, iterations=1, dim=64, init_stride=16,
    )
    return codes.select(
        "vec_id", F.array_join("codes", "-").alias("codes")
    )


def q_pq_codes_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Arrow-matmul trainer kernel under the SAME replay oracle as
    ``pq_codes``: codes are integers and the two kernels share the
    exact (distance, code) tie-break, so the hash must match the SQL
    path unless a genuine argmin tie flips — which the cross-kernel
    test (tests/test_similarity.py) pins never happens on this data."""
    from moz_datapipeline_spark.operators.similarity import pq_encode

    codes, _ = pq_encode(
        _t(spark, sf_dir, "embeddings"),
        m=4, k=16, iterations=1, dim=64, init_stride=16, kernel="pandas",
    )
    return codes.select(
        "vec_id", F.array_join("codes", "-").alias("codes")
    )


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance PQ search, fully oracle-replayed: encode
    (m=4, k=16, one deterministic Lloyd round + final re-assign), build
    per-query lookup tables against the trained codebooks, score the
    corpus by code lookups only, exact top-5 with id tiebreak."""
    from moz_datapipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    codes, books = pq_encode(
        emb, m=4, k=16, iterations=1, dim=64, init_stride=16
    )
    queries = emb.filter(F.col("vec_id") < 5)
    out = pq_topk(codes, books, queries, k=5, m=4, dim=64)
    return out.select(
        "query_id",
        "corpus_id",
        F.expr("floor(adc_dist * 1e6 + 0.5) / 1e6").alias("adc_dist"),
        "rank",
    )


def q_pq_adc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC search with the standard exact-rerank tail (IVFADC+rerank
    design): the top-50 ADC candidates per query — found entirely over
    m-int codes — are rescored against the EXACT embedding vectors and
    the exact-ranked top-5 is returned.  Turns PQ's lossy recall floor
    into ≈1 while still reading only ~50 full vectors per query."""
    from moz_datapipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    # same contract as the dedup hash switch: oracle mode replays the
    # SQL-arithmetic trainer; bench mode (PORTABLE_HASH=0) measures the
    # Arrow-matmul production kernel, pinned output-identical by
    # tests/test_similarity.py's cross-kernel checks
    kern = "sql" if _portable_hash_mode() else "pandas"
    emb = _t(spark, sf_dir, "embeddings")
    codes, books = pq_encode(
        emb, m=4, k=16, iterations=1, dim=64, init_stride=16, kernel=kern
    )
    queries = emb.filter(F.col("vec_id") < 5)
    out = pq_topk(
        codes, books, queries, k=5, m=4, dim=64, rerank=50, corpus=emb
    )
    return out.select(
        "query_id",
        "corpus_id",
        F.expr("floor(l2_dist * 1e6 + 0.5) / 1e6").alias("l2_dist"),
        "rank",
    )


def q_ivfadc_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN shape — IVF coarse lists + ADC over PQ
    codes in the nprobe probed lists + exact rerank of the top-50 —
    fully oracle-replayed: hash-sampled centroids, cosine list argmin,
    the PQ deterministic-replay chain, probed-list restriction, and the
    exact-L2 tail all recompute in DuckDB."""
    from moz_datapipeline_spark.operators.similarity import ivfadc_topk

    kern = "sql" if _portable_hash_mode() else "pandas"
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    out = ivfadc_topk(
        emb, queries, n_lists=16, nprobe=4, k=5, m=4, dim=64,
        pq_k=16, iterations=1, init_stride=16, rerank=50,
        encode_kernel=kern, assign_kernel=kern,
    )
    return out.select(
        "query_id",
        "corpus_id",
        F.expr("floor(l2_dist * 1e6 + 0.5) / 1e6").alias("l2_dist"),
        "rank",
    )


def q_ivf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against a PERSISTED index (build-once-probe-many):
    centroids + Hive-partitioned lists written to parquet, then the
    probe join dynamic-partition-prunes the scan to the probed lists
    (operators/similarity.build_ivf_index / ivf_topk_indexed).  Results
    are byte-identical to ivf_topk, so the oracle is the same replay."""
    import hashlib

    from moz_datapipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_indexed,
    )

    emb = _t(spark, sf_dir, "embeddings")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_ivf_index/{tag}"
    build_ivf_index(emb, path, n_centroids=16)
    out = ivf_topk_indexed(
        spark, path, emb.filter(F.col("vec_id") < 5), nprobe=4, k=3
    )
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: k-means-bucketed semantic near-dup removal — cluster
    embeddings (the exact kmeans_assign DAG), drop within-cluster
    vectors whose cosine to a lower-id member exceeds 0.2 (synthetic
    embeddings carry no true dups; a production 0.95 would be vacuous
    here).  Pair volume is bounded by cluster width, never corpus².
    VALUE oracle: the same two Lloyd rounds + drop rule in DuckDB."""
    from moz_datapipeline_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, threshold=0.2, k=8, iterations=2)


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two Lloyd iterations of k-means (k=8, deterministic init) as a
    fixed DAG: broadcast-centroid argmin + posexplode means per round."""
    from moz_datapipeline_spark.operators.similarity import kmeans_assign

    return kmeans_assign(_t(spark, sf_dir, "embeddings"), k=8, iterations=2)


_OD_SHAPEFILE = "/root/reference/source/od-pairs/OD_all_MZ_v1.shp"
_SHAPEFILE_TWIN = "/tmp/spark_graft_oracle_twins/shapefile_scan.parquet"
_shapefile_twin_ready = False


def _write_shapefile_twin() -> bool:
    """Driver-side, Spark-free parse of the OD shapefile into a parquet
    twin DuckDB can read, so ``shapefile_scan`` gets a VALUE oracle
    (DuckDB itself cannot open .shp offline).  The twin exercises the
    same pure parsers but through a completely separate single-process
    path — no mapInPandas, no JSON round-trip, pandas→parquet — so the
    hash compare pins the distributed scan against an independent
    evaluation, the same style as the deterministic-replay oracles.
    Returns False (oracle falls back to rows-only) if generation fails.
    """
    global _shapefile_twin_ready
    import os

    if _shapefile_twin_ready and os.path.exists(_SHAPEFILE_TWIN):
        return True
    try:
        import math

        import numpy as np
        import pandas as pd

        from moz_datapipeline_spark.sources import shapefile as shp

        stem = _OD_SHAPEFILE[:-4]
        shapes = shp.read_shp(open(_OD_SHAPEFILE, "rb").read())
        encoding = "latin-1"
        if os.path.exists(stem + ".cpg"):
            cpg = open(stem + ".cpg").read().strip()
            encoding = {"UTF-8": "utf-8", "UTF8": "utf-8"}.get(
                cpg.upper(), cpg or "latin-1"
            )
        attrs = shp.read_dbf(open(stem + ".dbf", "rb").read(), encoding)
        prj = (
            open(stem + ".prj").read()
            if os.path.exists(stem + ".prj")
            else None
        )
        transform = shp.make_transform(prj)

        def r6(x: float) -> float:
            return math.floor(x * 1e6 + 0.5) / 1e6

        rows = []
        for i, (kind, parts) in enumerate(shapes):
            parts = [
                np.column_stack(transform(p[:, 0], p[:, 1])) for p in parts
            ]
            geo = shp.shape_geojson(kind, parts)
            a = attrs[i] if i < len(attrs) else {}
            lon = float(geo["coordinates"][0])
            lat = float(geo["coordinates"][1])
            try:
                od_id = int(str(a.get("INDEX_OD", "")).strip())
            except ValueError:
                od_id = None
            try:
                match = bool(
                    abs(lon - float(a.get("LONGITUDE"))) < 1e-4
                    and abs(lat - float(a.get("LATITUDE"))) < 1e-4
                )
            except (TypeError, ValueError):
                match = None
            rows.append(
                {
                    "od_id": od_id,
                    "od_type": a.get("OD_type"),
                    "name": a.get("Name"),
                    "lon": r6(lon),
                    "lat": r6(lat),
                    "geom_matches_attrs": match,
                }
            )
        os.makedirs(os.path.dirname(_SHAPEFILE_TWIN), exist_ok=True)
        pd.DataFrame(rows).astype({"od_id": "int64"}).to_parquet(
            _SHAPEFILE_TWIN, index=False
        )
        _shapefile_twin_ready = True
        return True
    except Exception:
        return False


def q_shapefile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 end-to-end on the reference's real OD shapefile: the pure
    stdlib+numpy .shp/.dbf/.prj parser (sources/shapefile.py) run as a
    distributed mapInPandas scan, with the parsed POINT geometry
    cross-checked against the .dbf's own LATITUDE/LONGITUDE attribute
    columns — two independent sections of the binary file must agree.

    Value oracle: DuckDB cannot open .shp offline, so
    ``_write_shapefile_twin`` re-parses the file driver-side through a
    separate single-process path (no mapInPandas, no JSON round-trip)
    into a parquet twin the oracle reads back — a hash-checked compare
    of two independent evaluations, on top of the geometry↔attribute
    agreement below and tests/test_shapefile.py (synthetic round-trips,
    Snyder's published Albers example, .shx record-count checks).
    Lon/lat round half-up at 1e-6 on both sides for the hash.
    """
    from moz_datapipeline_spark.sources.readers import read_shapefile

    feats = read_shapefile(spark, _OD_SHAPEFILE)
    pt = F.from_json(
        F.col("geometry_json"), "struct<type:string,coordinates:array<double>>"
    )
    return (
        feats.select(
            F.col("properties")["INDEX_OD"].cast("bigint").alias("od_id"),
            F.col("properties")["OD_type"].alias("od_type"),
            F.col("properties")["Name"].alias("name"),
            (F.floor(pt["coordinates"][0] * 1e6 + 0.5) / 1e6).alias("lon"),
            (F.floor(pt["coordinates"][1] * 1e6 + 0.5) / 1e6).alias("lat"),
            (
                (
                    F.abs(
                        pt["coordinates"][0]
                        - F.col("properties")["LONGITUDE"].cast("double")
                    )
                    < 1e-4
                )
                & (
                    F.abs(
                        pt["coordinates"][1]
                        - F.col("properties")["LATITUDE"].cast("double")
                    )
                    < 1e-4
                )
            ).alias("geom_matches_attrs"),
        )
        .orderBy("od_id", "name")
    )


# ---------------------------------------------------------------------------
# additional relational shapes (TPC-H Q4/Q7/Q13/Q14/Q15/Q17/Q19/Q22)
# ---------------------------------------------------------------------------

def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS rewritten as a left-semi join with an
    inequality residual (shipdate > orderdate + 60 days)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    cond = (o["o_orderkey"] == li["l_orderkey"]) & (
        li["l_shipdate"] > o["o_orderdate"] + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: outer join preserved through a two-level aggregation —
    distribution of per-customer order counts, zero-order customers kept."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: conditional ratio aggregate over one shipdate month;
    the filter reaches the lineitem scan before the part join."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                6,
            ).alias("promo_revenue_pct")
        )
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated per-part average rewritten as a hash
    aggregate joined back (no window sort); quantities are integral so
    the 0.5·avg boundary is engine-exact."""
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13")
    li = _t(spark, sf_dir, "lineitem")
    joined = li.join(p, F.col("l_partkey") == F.col("p_partkey")).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    half_avg = joined.groupBy("l_partkey").agg(
        (F.lit(0.5) * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        joined.join(half_avg, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg((F.sum("l_extendedprice") / 7.0).alias("avg_yearly"))
    )


def q_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: OR-of-ANDs join residual; Catalyst derives the
    per-side disjunct envelopes (brand set, quantity range) and pushes
    them below the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, F.col("l_partkey") == F.col("p_partkey"))
    clause1 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    )
    clause2 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(10, 25)
        & F.col("l_quantity").between(5, 30)
    )
    return j.filter(clause1 | clause2).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


def q_inactive_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: scalar-subquery threshold (avg positive balance) as a
    broadcast 1-row join, then an anti join against orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_pos_bal")
    )
    rich = c.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("avg_pos_bal")
    )
    inactive = rich.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    return inactive.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        F.sum("c_acctbal").alias("totacctbal"),
    )


def q_bilateral_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: two-nation trade volume by ship year — the nation
    dimension broadcasts to both the supplier and the customer side."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    n1 = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        n.select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(n1, F.col("s_nationkey") == F.col("s_nkey"))
        .join(n2, F.col("c_nationkey") == F.col("c_nkey"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
    ).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume")
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: quarterly revenue view + scalar-max selection,
    expressed as a deterministic top-1 TakeOrdered (suppkey tiebreak)
    so no float-equality self-join is needed."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    top = rev.orderBy(F.desc("total_revenue"), "l_suppkey").limit(1)
    return top.join(s, F.col("l_suppkey") == F.col("s_suppkey")).select(
        "s_suppkey", "s_name", "total_revenue"
    )


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: scan-only conditional aggregate — every predicate
    (date range, discount band, quantity cap) pushes to the parquet
    scan; the agg is one map-side-combined sum, zero joins."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias(
                "forecast_revenue"
            ),
            F.count("*").alias("n_lines"),
        )
    )


def q_cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: correlated-min subquery rewritten as one hash aggregate
    with a struct-min argmin (price, then suppkey tiebreak) — no window
    sort, no float-equality self-join.  Region filter broadcasts down
    the supplier dimension chain."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    eu = (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name")
    )
    offers = (
        li.join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(p.filter(F.col("p_size") < 10)),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("l_partkey", "s_suppkey", "s_name")
        .agg(F.sum("l_extendedprice").alias("supply_value"))
    )
    best = offers.groupBy("l_partkey").agg(
        F.min(F.struct("supply_value", "s_suppkey", "s_name")).alias("_b")
    )
    return best.select(
        F.col("l_partkey").alias("p_partkey"),
        F.col("_b.s_suppkey").alias("s_suppkey"),
        F.col("_b.s_name").alias("s_name"),
        F.expr("floor(_b.supply_value * 100 + 0.5) / 100").alias("supply_value"),
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: two-level conditional ratio — a target nation's share
    of regional import revenue per order year; one scan, one agg, the
    share computed from two conditional sums in the same pass."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cust_region = (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("_snk"), F.col("n_name"))),
        F.col("s_nationkey") == F.col("_snk"),
    ).select("s_suppkey", F.col("n_name").alias("supp_nation"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust_region, F.col("o_custkey") == F.col("c_custkey"))
        .join(supp_nation, F.col("l_suppkey") == F.col("s_suppkey"))
    )
    return (
        j.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.expr(
                "floor(sum(CASE WHEN supp_nation = 'NATION_3' THEN "
                "l_extendedprice * (1 - l_discount) ELSE 0.0 END) / "
                "sum(l_extendedprice * (1 - l_discount)) * 1e6 + 0.5) / 1e6"
            ).alias("mkt_share"),
            F.sum(rev).alias("total_revenue"),
        )
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit by supplier nation x ship year for a part-name
    pattern; the LIKE filter prunes the part side before its broadcast
    join, and the wide fact join feeds a narrow two-key aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    p = _t(spark, sf_dir, "part")
    j = (
        li.join(
            F.broadcast(p.filter(F.col("p_name").like("%gear%"))),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("profit")
        )
    )


def q_returned_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-item revenue per customer over one quarter,
    wide group-by keys, deterministic top-20 (TakeOrderedAndProject)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-07-01")
    )
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    j = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount"))
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


def q_part_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: HAVING against a scalar fraction of the GLOBAL total —
    the one-row global aggregate broadcasts into the per-part filter
    instead of re-windowing the whole table through one task."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice") * F.col("l_quantity")).alias("value")
    )
    total = per_part.agg(F.sum("value").alias("_total"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("value") > F.col("_total") * 0.001)
        .select(
            "l_partkey",
            F.expr("floor(value * 100 + 0.5) / 100").alias("value"),
        )
    )


def q_excess_supply_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: nested semi-join chain — suppliers who shipped more
    than a threshold quantity of any part matching a name prefix; the
    grouped HAVING set drives a left-semi join into the supplier dim."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    s = _t(spark, sf_dir, "supplier")
    heavy = (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_suppkey")
        .distinct()
    )
    return (
        s.join(heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


def q_waiting_orders_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: EXISTS + NOT EXISTS over the same fact — suppliers
    whose returned lines sit in multi-supplier orders where NO other
    supplier returned; both subqueries become one equi-join each with an
    inequality residual (semi then anti), never a cartesian."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    ret = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_sup = li.select(
        F.col("l_orderkey").alias("_ok"), F.col("l_suppkey").alias("_sk")
    ).distinct()
    multi = ret.join(
        all_sup,
        (F.col("l_orderkey") == F.col("_ok"))
        & (F.col("l_suppkey") != F.col("_sk")),
        "left_semi",
    )
    other_ret = ret.select(
        F.col("l_orderkey").alias("_rok"), F.col("l_suppkey").alias("_rsk")
    )
    sole = multi.join(
        other_ret,
        (F.col("l_orderkey") == F.col("_rok"))
        & (F.col("l_suppkey") != F.col("_rsk")),
        "left_anti",
    )
    return (
        sole.groupBy("l_suppkey")
        .agg(F.count("*").alias("numwait"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(20)
    )


def q_bridge_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 full geometric form: point→segment distance argmin join
    (prep-bridge.js:86-112). Bridges = supplier-derived points; road
    segments = part-derived; equi-prefilter on a shared road key."""
    from moz_datapipeline_spark.functions.geo import point_to_segment_distance

    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    bridges = s.select(
        F.col("s_suppkey").alias("bridge_id"),
        (F.col("s_nationkey") % 10).alias("road_key"),
        (F.col("s_suppkey") % 100 / 10.0).alias("px"),
        (F.col("s_suppkey") * 3 % 100 / 10.0).alias("py"),
    )
    segments = p.filter(F.col("p_partkey") <= 200).select(
        F.col("p_partkey").alias("seg_id"),
        (F.col("p_partkey") % 10).alias("road_key"),
        (F.col("p_partkey") % 7 + 0.0).alias("ax"),
        (F.col("p_partkey") % 5 + 0.0).alias("ay"),
        (F.col("p_partkey") % 7 + 3.0).alias("bx"),
        (F.col("p_partkey") % 5 + 1.0).alias("by"),
    )
    joined = bridges.join(segments, "road_key").withColumn(
        "dist", point_to_segment_distance("px", "py", "ax", "ay", "bx", "by")
    )
    w = Window.partitionBy("bridge_id").orderBy(
        F.col("dist").asc(), F.col("seg_id").asc()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("bridge_id", "seg_id", F.round("dist", 6).alias("dist"))
    )


def q_flood_ead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+A6 end-to-end: severity banding → repair-cost lookup → flooded-km
    damage → trapezoidal EAD per way (vulnerability.js:140-260). Synthetic
    flood exposure derived from the nation table."""
    from moz_datapipeline_spark.operators.vulnerability import (
        ead,
        flood_damage_long,
    )

    n = _t(spark, sf_dir, "nation")
    periods = spark.createDataFrame(
        [(p,) for p in (5, 10, 20, 50, 75, 100, 200, 250, 500, 1000)],
        "return_period int",
    )
    ways = n.select(
        F.concat(F.lit("w"), F.col("n_nationkey")).alias("way_id"),
        (F.col("n_nationkey") % 5 + 1.0).alias("length_km"),
        F.when(F.col("n_nationkey") % 2 == 0, "paved").otherwise("unpaved").alias(
            "surface"
        ),
        F.col("n_nationkey").alias("_k"),
    )
    exposure = ways.crossJoin(F.broadcast(periods)).select(
        "way_id",
        "return_period",
        "length_km",
        "surface",
        (F.col("_k") % 4 * F.log10("return_period") / 2.0).alias("max_depth_m"),
        F.least(
            F.lit(100.0), F.col("_k") % 7 * F.log10("return_period") * 10.0
        ).alias("pct_flooded"),
    )
    dmg = flood_damage_long(exposure)
    return ead(dmg).select("way_id", F.round("ead", 6).alias("ead"))


def q_grouped_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/A10: grouped collect into a deterministic ordered aggregate
    (additional-props.js:68-76) — joined as a sorted string for
    engine-neutral comparison."""
    c = _t(spark, sf_dir, "customer")
    return (
        c.filter(F.col("c_custkey") <= 200)
        .groupBy("c_nationkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias(
                "customer_names"
            ),
            F.count("*").alias("n"),
        )
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2/map surface: JSON property-bag extraction (the reference's
    GeoJSON properties idiom, SURVEY §1.3) over the events props column."""
    e = _events(spark, sf_dir)
    k = F.get_json_object(F.col("props"), "$.k").cast("int")
    return (
        e.select(k.alias("k_bucket"))
        .groupBy((F.col("k_bucket") % 10).alias("k_mod"))
        .agg(F.count("*").alias("n_events"), F.sum("k_bucket").alias("k_sum"))
    )


def q_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: mapInPandas raster zonal-stats kernel (img-stats.py:76-105)
    with the deterministic stub backend (rows-only check)."""
    from moz_datapipeline_spark.operators.raster import zonal_flood_stats

    n = _t(spark, sf_dir, "nation")
    ways = n.select(F.concat(F.lit("w"), F.col("n_nationkey")).alias("NAME"))
    return zonal_flood_stats(ways)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column → feature vector via the
    Arrow-batched mapInPandas kernel (decode stubbed; rows-only check)."""
    from moz_datapipeline_spark.operators.multimodal import extract_image_features

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    media = d.select(
        "doc_id",
        F.struct(
            F.encode(F.substring("text", 1, 64), "utf-8").alias("payload"),
            F.lit("image/fake").alias("mime"),
            F.lit(8).alias("width"),
            F.lit(8).alias("height"),
            F.lit(None).cast("int").alias("sample_rate"),
            F.lit(None).cast("int").alias("channels"),
            F.lit(None).cast("long").alias("duration_ms"),
        ).alias("media"),
    )
    out = extract_image_features(media)
    return out.select(
        "doc_id",
        F.round(F.col("features").getItem(3), 6).alias("mean_byte"),
        F.col("features").getItem(0).alias("payload_len"),
    )


# ---------------------------------------------------------------------------
# real video + resize paths (training-data extension surface; value oracles
# via driver-side deterministic-replay parquet twins, same style as
# shapefile_scan — distributed mapInPandas vs single-process replay)
# ---------------------------------------------------------------------------

_VIDEO_TWIN = "/tmp/spark_graft_oracle_twins/video_frames.parquet"
_RESIZE_TWIN = "/tmp/spark_graft_oracle_twins/image_resize.parquet"
_VIDEO_DOCS = 24          # doc_id < 24 exists at every shipped sf
_VIDEO_EVERY_MS = 300
_RESIZE_DOCS = 40


def _video_n_frames(doc_id: int) -> int:
    return 2 + doc_id % 3  # 2..4 frames at 5 fps → 400..800 ms clips


def _r6(x: float) -> float:
    import math

    return math.floor(x * 1e6 + 0.5) / 1e6


def _write_video_twin() -> bool:
    """Single-process replay of q_video_frames: synthesize the same
    MJPEG-AVI payloads, decode with the same pure parsers, sample the
    same timestamps — but driver-side, no Spark, pandas→parquet.  The
    hash compare pins the distributed kernel against this independent
    evaluation.  Returns False → oracle falls back to rows-only."""
    import os

    try:
        import numpy as np
        import pandas as pd

        from moz_datapipeline_spark.sources.avi import (
            decode_avi,
            frame_at,
            synthetic_mjpeg,
        )
        from moz_datapipeline_spark.sources.jpeg import decode_jpeg
        from moz_datapipeline_spark.sources.media import image_features

        rows = []
        for doc_id in range(_VIDEO_DOCS):
            frames, meta = decode_avi(
                synthetic_mjpeg(doc_id, _video_n_frames(doc_id))
            )
            usec = int(meta["usec_per_frame"])
            dur_ms = max(1, (len(frames) * usec) // 1000)
            cache: dict = {}
            for ms in range(0, dur_ms, _VIDEO_EVERY_MS):
                fi = frame_at(frames, usec, ms)
                if fi not in cache:
                    cache[fi] = image_features(
                        np.atleast_3d(decode_jpeg(frames[fi]))
                    )
                f = cache[fi]
                rows.append(
                    {
                        "doc_id": doc_id,
                        "frame_ms": ms,
                        "px_mean": _r6(f[3]),
                        "luma_mean": _r6(f[7]),
                    }
                )
        os.makedirs(os.path.dirname(_VIDEO_TWIN), exist_ok=True)
        pd.DataFrame(rows).to_parquet(_VIDEO_TWIN, index=False)
        return True
    except Exception:
        return False


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real video decode end-to-end: deterministic MJPEG-AVI clips keyed
    by doc_id (synthesized executor-side — the container here stands in
    for a payload column read from parquet), frame-sampled every 300 ms
    through the pure RIFF walker + JPEG decoder
    (operators/multimodal.py extract_video_frames).  Value oracle: the
    driver-side replay twin (_write_video_twin)."""
    import pandas as pd

    from moz_datapipeline_spark.operators.multimodal import (
        extract_video_frames,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _VIDEO_DOCS)
        .select("doc_id")
        .distinct()
    )

    def synth(batches):
        from moz_datapipeline_spark.sources.avi import synthetic_mjpeg

        for pdf in batches:
            payloads = [
                {
                    "payload": synthetic_mjpeg(int(d), _video_n_frames(int(d))),
                    "mime": "video/x-msvideo",
                    "width": 24,
                    "height": 16,
                    "sample_rate": None,
                    "channels": None,
                    "duration_ms": None,
                }
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    from moz_datapipeline_spark.operators.multimodal import MEDIA_SCHEMA

    media = ids.mapInPandas(
        synth, schema=f"doc_id long, media struct<{MEDIA_SCHEMA}>"
    )
    out = extract_video_frames(media, every_ms=_VIDEO_EVERY_MS)
    r6 = lambda c: F.floor(c * 1e6 + F.lit(0.5)) / 1e6  # noqa: E731
    return out.select(
        "doc_id",
        "frame_ms",
        r6(F.col("features").getItem(3)).alias("px_mean"),
        r6(F.col("features").getItem(7)).alias("luma_mean"),
    )


def _write_resize_twin() -> bool:
    """Single-process replay of q_image_resize: same gradient JPEG →
    pure decode → bilinear resize → md5 of the raw RGB bytes."""
    import hashlib
    import os

    try:
        import numpy as np
        import pandas as pd

        from moz_datapipeline_spark.sources.avi import gradient_frame
        from moz_datapipeline_spark.sources.jpeg import (
            decode_jpeg,
            encode_jpeg_baseline,
        )
        from moz_datapipeline_spark.sources.media import resize_bilinear

        rows = []
        for doc_id in range(_RESIZE_DOCS):
            jpeg = encode_jpeg_baseline(
                gradient_frame(doc_id, 12, 18), quality=90
            )
            small = resize_bilinear(
                np.atleast_3d(decode_jpeg(jpeg)), 5, 3
            ).tobytes()
            rows.append(
                {
                    "doc_id": doc_id,
                    "rgb_md5": hashlib.md5(small).hexdigest(),
                    "out_w": 5,
                    "out_h": 3,
                    "n_bytes": len(small),
                }
            )
        os.makedirs(os.path.dirname(_RESIZE_TWIN), exist_ok=True)
        pd.DataFrame(rows).to_parquet(_RESIZE_TWIN, index=False)
        return True
    except Exception:
        return False


_DHASH_TWIN = "/tmp/spark_graft_oracle_twins/image_dhash_pairs.parquet"
_DHASH_DOCS = 32
_DHASH_MAXH = 6


def _dhash_jpeg(doc_id: int) -> bytes:
    """Deterministic JPEG for the dhash queries: 4 STRUCTURALLY
    distinct bases (identity / inverted / mirrored / half-rolled — a
    smooth gradient alone gives every image the same monotone dhash),
    with a per-id one-pixel tweak for ids >= 4: same base →
    near-identical 9×8 pooled hash (small Hamming), different base →
    far."""
    import numpy as np

    from moz_datapipeline_spark.sources.avi import gradient_frame
    from moz_datapipeline_spark.sources.jpeg import encode_jpeg_baseline

    frame = np.array(gradient_frame(0, 12, 18))
    b = doc_id % 4
    if b == 1:
        frame = 255 - frame
    elif b == 2:
        frame = frame[:, ::-1]
    elif b == 3:
        frame = np.roll(frame, 9, axis=1)
    frame = np.ascontiguousarray(frame)
    if doc_id >= 4:
        frame[doc_id % 12, doc_id % 18, 0] ^= 3
    return encode_jpeg_baseline(frame, quality=90)


def _write_dhash_twin() -> bool:
    """Single-process replay of q_image_near_dup: same JPEGs → pure
    decode → dhash64 → the same 16-bit-chunk bucketing + Hamming
    filter, enumerated directly."""
    import os

    try:
        import pandas as pd

        from moz_datapipeline_spark.operators.multimodal import (
            _decode_pixels,
            dhash64,
        )

        sigs = {
            d: dhash64(_decode_pixels(_dhash_jpeg(d)))
            for d in range(_DHASH_DOCS)
        }
        rows = []
        for a in range(_DHASH_DOCS):
            for b in range(a + 1, _DHASH_DOCS):
                xa, xb = sigs[a] & (2**64 - 1), sigs[b] & (2**64 - 1)
                shares = any(
                    (xa >> (16 * i)) & 0xFFFF == (xb >> (16 * i)) & 0xFFFF
                    for i in range(4)
                )
                ham = bin(xa ^ xb).count("1")
                if shares and ham <= _DHASH_MAXH:
                    rows.append(
                        {"id_a": a, "id_b": b, "hamming": ham}
                    )
        os.makedirs(os.path.dirname(_DHASH_TWIN), exist_ok=True)
        pd.DataFrame(
            rows, columns=["id_a", "id_b", "hamming"]
        ).to_parquet(_DHASH_TWIN, index=False)
        return True
    except Exception:
        return False


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup end-to-end: deterministic JPEGs (4 base
    gradients × one-pixel tweaks) → pure decode → dHash
    (operators/multimodal.dhash64) → the TEXT pipeline's
    simhash_candidates chunk-bucket join → Hamming ≤ 6 pairs.  One
    candidate machinery across modalities.  Value oracle: the
    driver-side replay twin (_write_dhash_twin)."""
    import pandas as pd

    from moz_datapipeline_spark.operators.multimodal import image_near_dup

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _DHASH_DOCS)
        .select("doc_id")
        .distinct()
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                rows.append(
                    {
                        "doc_id": int(d),
                        "media": {
                            "payload": _dhash_jpeg(int(d)),
                            "mime": "image/jpeg",
                            "width": 18,
                            "height": 12,
                            "sample_rate": None,
                            "channels": None,
                            "duration_ms": None,
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    from moz_datapipeline_spark.operators.multimodal import MEDIA_SCHEMA

    media = ids.mapInPandas(
        synth, schema=f"doc_id long, media struct<{MEDIA_SCHEMA}>"
    )
    return image_near_dup(media, max_hamming=_DHASH_MAXH)


_AHASH_TWIN = "/tmp/spark_graft_oracle_twins/audio_ahash_pairs.parquet"
_AHASH_DOCS = 32
_AHASH_MAXH = 6


def _ahash_wav(doc_id: int) -> bytes:
    """Deterministic WAV for the audio-hash queries: 4 envelope
    families (rising / falling / two-hump / three-hump) over a 440 Hz
    carrier, with per-id low-level noise for ids >= 4 — same family →
    near-identical energy envelope (small Hamming), different family
    → far."""
    import numpy as np

    from moz_datapipeline_spark.sources.media import encode_wav_pcm16

    t = np.arange(4000) / 8000.0
    u = t / t[-1]
    b = doc_id % 4
    if b == 0:
        env = u
    elif b == 1:
        env = 1.0 - u
    elif b == 2:
        env = np.abs(np.sin(2 * np.pi * u))
    else:
        env = np.abs(np.sin(3 * np.pi * u))
    sig = 0.8 * env * np.sin(2 * np.pi * 440.0 * t)
    if doc_id >= 4:
        rng = np.random.default_rng(doc_id)
        sig = sig + rng.normal(0.0, 1e-3, sig.shape)
    return encode_wav_pcm16(np.clip(sig, -1, 1)[:, None], 8000)


def _write_ahash_twin() -> bool:
    """Single-process replay of q_audio_near_dup: same WAVs → decode →
    ahash64 → the same chunk bucketing + Hamming filter."""
    import os

    try:
        import pandas as pd

        from moz_datapipeline_spark.operators.multimodal import ahash64
        from moz_datapipeline_spark.sources.media import decode_wav

        sigs = {}
        for d in range(_AHASH_DOCS):
            samples, _ = decode_wav(_ahash_wav(d))
            sigs[d] = ahash64(samples)
        rows = []
        for a in range(_AHASH_DOCS):
            for b in range(a + 1, _AHASH_DOCS):
                xa, xb = sigs[a] & (2**64 - 1), sigs[b] & (2**64 - 1)
                shares = any(
                    (xa >> (16 * i)) & 0xFFFF == (xb >> (16 * i)) & 0xFFFF
                    for i in range(4)
                )
                ham = bin(xa ^ xb).count("1")
                if shares and ham <= _AHASH_MAXH:
                    rows.append({"id_a": a, "id_b": b, "hamming": ham})
        os.makedirs(os.path.dirname(_AHASH_TWIN), exist_ok=True)
        pd.DataFrame(
            rows, columns=["id_a", "id_b", "hamming"]
        ).to_parquet(_AHASH_TWIN, index=False)
        return True
    except Exception:
        return False


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup end-to-end: deterministic WAVs (4 envelope
    families × low-level per-id noise) → pure RIFF decode → envelope
    hash (operators/multimodal.ahash64) → simhash_candidates chunk
    buckets → Hamming ≤ 6 pairs.  The third modality on the one
    candidate machinery.  Value oracle: driver-side replay twin."""
    import pandas as pd

    from moz_datapipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        audio_near_dup,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _AHASH_DOCS)
        .select("doc_id")
        .distinct()
    )

    def synth(batches):
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                rows.append(
                    {
                        "doc_id": int(d),
                        "media": {
                            "payload": _ahash_wav(int(d)),
                            "mime": "audio/wav",
                            "width": None,
                            "height": None,
                            "sample_rate": 8000,
                            "channels": 1,
                            "duration_ms": 500,
                        },
                    }
                )
            yield pd.DataFrame(rows, columns=["doc_id", "media"])

    from moz_datapipeline_spark.operators.multimodal import MEDIA_SCHEMA

    media = ids.mapInPandas(
        synth, schema=f"doc_id long, media struct<{MEDIA_SCHEMA}>"
    )
    return audio_near_dup(media, max_hamming=_AHASH_MAXH)


def q_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode→resize end-to-end: deterministic gradient JPEGs keyed
    by doc_id, decoded and bilinear-resized to 5×3 raw RGB by
    operators/multimodal.py resize_images; the md5 of the resized bytes
    (computed JVM-side) pins every pixel.  Value oracle: the driver-side
    replay twin (_write_resize_twin)."""
    import pandas as pd

    from moz_datapipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        resize_images,
    )

    ids = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _RESIZE_DOCS)
        .select("doc_id")
        .distinct()
    )

    def synth(batches):
        from moz_datapipeline_spark.sources.avi import gradient_frame
        from moz_datapipeline_spark.sources.jpeg import encode_jpeg_baseline

        for pdf in batches:
            payloads = [
                {
                    "payload": encode_jpeg_baseline(
                        gradient_frame(int(d), 12, 18), quality=90
                    ),
                    "mime": "image/jpeg",
                    "width": 18,
                    "height": 12,
                    "sample_rate": None,
                    "channels": None,
                    "duration_ms": None,
                }
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": payloads})

    media = ids.mapInPandas(
        synth, schema=f"doc_id long, media struct<{MEDIA_SCHEMA}>"
    )
    out = resize_images(media, out_w=5, out_h=3)
    return out.select(
        "doc_id",
        F.md5(F.col("media.payload")).alias("rgb_md5"),
        F.col("media.width").cast("long").alias("out_w"),
        F.col("media.height").cast("long").alias("out_h"),
        F.length(F.col("media.payload")).cast("long").alias("n_bytes"),
    )


# ---------------------------------------------------------------------------
# routing kernel (SURVEY §2.8 — non-SQL-expressible, rows-only checks)
# ---------------------------------------------------------------------------

def _nation_graph(spark: SparkSession, sf_dir: str):
    """Deterministic synthetic road graph over the nation table.

    Nodes = nation keys; a chain edge (i, i+1) per consecutive pair plus
    'highway' shortcuts (i, i+5). Weights derive from the keys, so the
    same graph appears at every scale factor.
    """
    import pandas as pd

    keys = sorted(
        r.n_nationkey
        for r in _t(spark, sf_dir, "nation").select("n_nationkey").collect()
    )
    rows = []
    for a, b in zip(keys, keys[1:]):
        rows.append((f"w{a}-{b}", str(a), str(b), 1.0 + (a % 5) / 10.0, 1.0))
    for a in keys:
        if a + 5 in keys and a % 3 == 0:
            rows.append((f"h{a}-{a+5}", str(a), str(a + 5), 4.5, 4.5))
    edges = pd.DataFrame(rows, columns=["way_id", "src", "dst", "weight", "len_part"])
    edges["ruc"] = edges["weight"] / edges["len_part"]
    od = [str(keys[0]), str(keys[len(keys) // 2]), str(keys[-1])]
    return edges, od


def q_criticality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G6: leave-one-out criticality scores over the synthetic graph
    (scripts/criticality/criticality.js:70-121)."""
    from moz_datapipeline_spark.graph.criticality import criticality_scores

    edges, od = _nation_graph(spark, sf_dir)
    out = criticality_scores(spark, edges, od)
    return out.select(
        "way_id",
        F.round("score", 6).alias("score"),
        "unroutable_pairs",
        "impacted_pairs",
    )


def q_eaul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7: EAUL per way×upgrade over the synthetic graph with
    deterministic flood exposure (script-eaul/eaul.js:665-739)."""
    import pandas as pd

    from moz_datapipeline_spark.graph.eaul import eaul_scores

    edges, od = _nation_graph(spark, sf_dir)
    way_ids = sorted(edges["way_id"])
    # flood a highway (on the best route, with a chain detour) plus one
    # chain edge: detours stay routable, so EAUL is nonzero instead of
    # everything becoming excluded as unroutable
    flooded = {"h6-11", "w3-4"}
    props = []
    for i, w in enumerate(way_ids):
        depths = [0.0] * 10
        lengths = [0.0] * 10
        if w in flooded:
            depths[8], depths[9] = 2.0, 20.0
            lengths[8], lengths[9] = 50.0, 100.0
        props.append((w, 1.0, "unpaved" if i % 2 else "paved", depths, lengths))
    way_props = pd.DataFrame(
        props, columns=["way_id", "length_km", "surface", "depths", "lengths"]
    )
    traffic = {(0, 1): 73000.0, (0, 2): 36500.0, (1, 2): 73000.0}
    out = eaul_scores(spark, edges, way_props, od, traffic)
    return out.select("way_id", "upgrade_id", F.round("eaul", 4).alias("eaul"))


# ---------------------------------------------------------------------------
# contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the customer↔supplier trade graph
    (symmetric edges from orders⨝lineitem, suppliers offset by 1M).
    Three unrolled power iterations, damping 0.85 — one lazy DAG, no
    driver actions inside the loop (graph/pagerank.py).  VALUE oracle:
    the same three iterations unrolled as DuckDB CTEs."""
    from moz_datapipeline_spark.graph.pagerank import pagerank

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    fwd = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(edges, iters=3, damping=0.85, handle_dangling=False)
    return pr.select(
        "node", F.round(F.col("rank") * 1000000.0, 6).alias("rank_ppm")
    )


def q_pagerank_personalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the same trade graph: teleport (uniform
    over the seed customers present in the graph) replaces 1/N, so rank
    measures proximity to the seeds (graph/pagerank.py seeds=).  VALUE
    oracle: the same three unrolled iterations with the seed-indicator
    teleport vector in DuckDB CTEs."""
    from moz_datapipeline_spark.graph.pagerank import pagerank

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    fwd = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank(
        edges, iters=3, damping=0.85, handle_dangling=False,
        seeds=[1, 2, 4, 7],
    )
    return pr.select(
        "node", F.round(F.col("rank") * 1000000.0, 6).alias("rank_ppm")
    )


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join: lineitem rows whose supplier sits
    in nations 0–3.  The Bloom stage (distributed bitmap build +
    vectorized membership below the exchange) is semantically
    invisible — the result is exactly the semi join, which is the
    oracle (operators/bloom.py)."""
    from moz_datapipeline_spark.operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    dim = _t(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 4)
    out = bloom_semi_join(
        li, dim, "l_suppkey", "s_suppkey", num_bits=1 << 16, num_hashes=5
    )
    return out.select("l_orderkey", "l_linenumber", "l_suppkey")


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality gate: train an add-0.1 bigram LM on the
    English slice in two hash aggregations, score EVERY document's
    cross-entropy/perplexity against it, band into head/middle/tail
    (operators/lm.py).  VALUE oracle: the full train+score pipeline
    replayed in DuckDB (same tokenisation, smoothing, thresholds)."""
    from moz_datapipeline_spark.operators.lm import lm_score, train_bigram_lm

    d = _t(spark, sf_dir, "documents")
    bi, ctx, vocab = train_bigram_lm(d.filter(F.col("lang") == "en"))
    return lm_score(d, bi, ctx, vocab, buckets=(3.38, 3.45))


def q_lm_trigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek–Mercer interpolated trigram LM (operators/lm.py
    lm_score_trigram): three hash-agg count tables trained on the
    English slice, scored with four broadcast left joins + one
    per-doc aggregation.  VALUE oracle: the full train+score replay
    in DuckDB (same tokenisation, same λ=0.6/0.3/0.1, add-0.1
    unigram floor)."""
    from moz_datapipeline_spark.operators.lm import (
        lm_score_trigram,
        train_trigram_lm,
    )

    d = _t(spark, sf_dir, "documents")
    tri, bi, uni, totals = train_trigram_lm(d.filter(F.col("lang") == "en"))
    return lm_score_trigram(d, tri, bi, uni, totals)


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trigram diversity (distinct/total ngram ratio) —
    the feed-level self-repetition metric
    (operators/corpus.ngram_diversity)."""
    from moz_datapipeline_spark.operators.corpus import ngram_diversity

    d = _t(spark, sf_dir, "documents")
    return ngram_diversity(d, n=3)


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining over adjacent word pairs
    (operators/corpus.pmi_collocations): two explode+hash-agg scans,
    min-count filter BEFORE the unigram-count joins, totals as
    broadcast 1-row frames.  VALUE oracle: the identical counts and
    ln-ratio replayed in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import pmi_collocations

    d = _t(spark, sf_dir, "documents")
    out = pmi_collocations(d, min_count=5)
    return out.select(
        "w1", "w2", "pair_count", F.round("pmi", 6).alias("pmi")
    )


_PSI_COLS = ["l_quantity", "l_extendedprice", "l_discount"]
_PSI_BINS = 10


def q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift between the pre-1998 lineitem
    slice (reference) and the rest (current), three numeric columns,
    10 reference-edged equal-width bins (operators/validation.
    psi_drift): two unpivoted scans + a tiny per-bin fold.  VALUE
    oracle: the identical binning and ln-fold replayed per column in
    DuckDB."""
    from moz_datapipeline_spark.operators.validation import psi_drift

    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_shipdate") < F.lit("1998-01-01"))
    cur = li.filter(F.col("l_shipdate") >= F.lit("1998-01-01"))
    out = psi_drift(ref, cur, _PSI_COLS, nbins=_PSI_BINS)
    return out.select("column", F.round("psi", 6).alias("psi"))


def _psi_oracle(cols=None, nbins: int = _PSI_BINS) -> str:
    cols = cols or _PSI_COLS
    parts = [
        """
        WITH ref AS MATERIALIZED (
          SELECT * FROM lineitem WHERE l_shipdate < DATE '1998-01-01'
        ), cur AS MATERIALIZED (
          SELECT * FROM lineitem WHERE l_shipdate >= DATE '1998-01-01'
        )"""
    ]
    sel = []
    for c in cols:
        parts.append(
            f""", b_{c} AS (
          SELECT min(CAST({c} AS DOUBLE)) AS lo,
                 max(CAST({c} AS DOUBLE)) AS hi
          FROM ref
        ), rn_{c} AS (
          SELECT bin, count(*) AS n FROM (
            SELECT CASE WHEN hi = lo THEN 0 ELSE
              greatest(least(CAST(floor((CAST({c} AS DOUBLE) - lo)
                / ((hi - lo) / {nbins})) AS INT), {nbins - 1}), 0)
            END AS bin
            FROM ref CROSS JOIN b_{c} WHERE {c} IS NOT NULL
          ) GROUP BY bin
        ), cn_{c} AS (
          SELECT bin, count(*) AS n FROM (
            SELECT CASE WHEN hi = lo THEN 0 ELSE
              greatest(least(CAST(floor((CAST({c} AS DOUBLE) - lo)
                / ((hi - lo) / {nbins})) AS INT), {nbins - 1}), 0)
            END AS bin
            FROM cur CROSS JOIN b_{c} WHERE {c} IS NOT NULL
          ) GROUP BY bin
        ), psi_{c} AS (
          SELECT '{c}' AS "column", round(sum(
            (pc - pr) * ln(pc / pr)
          ), 6) AS psi FROM (
            SELECT
              greatest(coalesce(r.n, 0) / tr.t, 1e-06) AS pr,
              greatest(coalesce(u.n, 0) / tc.t, 1e-06) AS pc
            FROM range(0, {nbins}) g(bin)
            LEFT JOIN rn_{c} r ON r.bin = g.bin
            LEFT JOIN cn_{c} u ON u.bin = g.bin
            CROSS JOIN (SELECT CAST(sum(n) AS DOUBLE) AS t
                        FROM rn_{c}) tr
            CROSS JOIN (SELECT CAST(sum(n) AS DOUBLE) AS t
                        FROM cn_{c}) tc
          )
        )"""
        )
        sel.append(f'SELECT "column", psi FROM psi_{c}')
    parts.append("\n" + "\nUNION ALL\n".join(sel))
    return "".join(parts)


def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division (operators/relational.relational_division):
    customers whose orders span EVERY order priority present in the
    table — count-matching form, 2 shuffles + 1 broadcast, no double
    anti-join.  VALUE oracle: GROUP BY + HAVING count(DISTINCT) =
    divisor count."""
    from moz_datapipeline_spark.operators.relational import (
        relational_division,
    )

    o = _t(spark, sf_dir, "orders")
    out = relational_division(
        o,
        ["o_custkey"],
        ["o_orderpriority"],
        o.select("o_orderpriority"),
    )
    return out.select(F.col("o_custkey").cast("long").alias("custkey"))


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median price per return flag
    (operators/indicators.weighted_median): RANGE-frame cumulative
    weight per group (tie-safe), min-filter aggregate — the weighted
    twin of the reference's length-weighted average.  VALUE oracle:
    identical RANGE windows in DuckDB."""
    from moz_datapipeline_spark.operators.indicators import (
        weighted_median,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = weighted_median(li, "l_returnflag", "l_extendedprice", "l_quantity")
    return out.select(
        "l_returnflag",
        F.round("weighted_median", 2).alias("wmedian_price"),
        F.round("total_weight", 2).alias("total_qty"),
    )


def q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-normalize every lineitem price onto the pre-1998
    slice's CDF (functions/scaling.quantile_normalize): one exact-
    percentile boundary row broadcast, pure array-HOF interpolation —
    no join on data, no window.  VALUE oracle: quantile_cont
    boundaries + the identical list_filter interpolation in DuckDB."""
    from moz_datapipeline_spark.operators.validation import (  # noqa: F401
        psi_drift,
    )
    from moz_datapipeline_spark.functions.scaling import (
        quantile_normalize,
    )

    li = _t(spark, sf_dir, "lineitem")
    ref = li.filter(F.col("l_shipdate") < F.lit("1998-01-01"))
    out = quantile_normalize(li, "l_extendedprice", reference=ref, q=100)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice_qnorm", 6).alias("qnorm"),
    )


def _qnorm_oracle(q: int = 100) -> str:
    probs = "[" + ", ".join(repr(i / q) for i in range(q + 1)) + "]"
    return f"""
        WITH b AS (
          SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE), {probs})
                 AS qb
          FROM lineitem WHERE l_shipdate < DATE '1998-01-01'
        ), m AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(l_extendedprice AS DOUBLE) AS x,
                 len(list_filter(qb, e -> e <= CAST(l_extendedprice
                     AS DOUBLE))) AS idx,
                 qb
          FROM lineitem CROSS JOIN b
        )
        SELECT l_orderkey, l_linenumber,
               round(CASE
                 WHEN x IS NULL THEN NULL
                 WHEN idx = 0 THEN 0.0
                 WHEN idx >= {q + 1} THEN 1.0
                 ELSE ((idx - 1) + CASE WHEN qb[CAST(idx AS INT) + 1]
                                             = qb[CAST(idx AS INT)]
                                        THEN 1.0
                                        ELSE (x - qb[CAST(idx AS INT)])
                                          / (qb[CAST(idx AS INT) + 1]
                                             - qb[CAST(idx AS INT)])
                                   END) / {q}
               END, 6) AS qnorm
        FROM m
    """


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared independence test between order priority and order
    status (operators/validation.chi_square_independence): one joint-
    count hash aggregate; absent grid cells folded in closed form
    (sum of expected = n).  VALUE oracle: the identical fold in
    DuckDB."""
    from moz_datapipeline_spark.operators.validation import (
        chi_square_independence,
    )

    o = _t(spark, sf_dir, "orders")
    out = chi_square_independence(o, "o_orderpriority", "o_orderstatus")
    return out.select(
        "x_col",
        "y_col",
        F.round("chi2", 6).alias("chi2"),
        "dof",
        "n_rows",
        F.round("cramers_v", 6).alias("cramers_v"),
    )


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit forensic audit of lineitem extended prices
    (operators/validation.benford_audit): double-string digit
    extraction (log10-free, engine-portable), one 9-group hash
    aggregate, chi-squared over the 9 cells.  VALUE oracle: identical
    extraction and fold in DuckDB."""
    from moz_datapipeline_spark.operators.validation import benford_audit

    li = _t(spark, sf_dir, "lineitem")
    out = benford_audit(li, "l_extendedprice")
    return out.select(
        "digit",
        "n",
        F.round("observed_p", 6).alias("observed_p"),
        F.round("expected_p", 6).alias("expected_p"),
        F.round("chi2", 6).alias("chi2"),
    )


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type autocorrelation at lags 1-3 over hourly rollups
    (operators/temporal.autocorrelation): one window pass building
    the lag columns, one |groups|-row corr aggregate.  VALUE oracle:
    SQL LAG + corr in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import autocorrelation

    ev = _events(spark, sf_dir)
    return autocorrelation(ev, max_lag=3)


def q_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood record-linkage candidates over supplier
    names (operators/fuzzy.sorted_neighborhood_pairs): exact two-phase
    global rank, then a rank→rank+delta equi join — exactly `window`
    candidates per row, linear under any key skew.  VALUE oracle:
    row_number self-join in DuckDB."""
    from moz_datapipeline_spark.operators.fuzzy import (
        sorted_neighborhood_pairs,
    )

    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("long").alias("id"), "s_name"
    )
    return sorted_neighborhood_pairs(s, "s_name", "id", window=3)


def q_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged-interval union length per supplier — days with at least
    one shipment in transit, [ship, ship+transit) intervals merged
    (operators/ranges.interval_coverage): per-group window prefix
    max + prefix sum, hash-partitioned on the supplier, never a
    global sort.  VALUE oracle: the identical two-window sweep in
    DuckDB (row_number-pinned tie order on both sides)."""
    from moz_datapipeline_spark.operators.ranges import interval_coverage

    li = _t(spark, sf_dir, "lineitem")
    epoch = F.to_date(F.lit("1970-01-01"))
    s_days = F.datediff(F.col("l_shipdate").cast("date"), epoch)
    # this generation of the synthetic lineitem has no receiptdate;
    # derive a deterministic transit window from the quantity
    transit = (F.col("l_quantity").cast("int") % 14) + 1
    iv = li.filter(
        F.col("l_shipdate").isNotNull() & F.col("l_quantity").isNotNull()
    ).select(
        F.col("l_suppkey").cast("long").alias("suppkey"),
        s_days.alias("s"),
        (s_days + transit).alias("e"),
    )
    out = interval_coverage(iv, "suppkey", "s", "e")
    return out.select(
        "suppkey",
        "n_intervals",
        "n_segments",
        F.col("covered").cast("long").alias("covered_days"),
    )


def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship merge per customer over their order history
    (operators/fuzzy.golden_record): latest status (newest non-null
    by order date, value tie-break), modal priority (count tie →
    smallest), earliest date, largest total — one hash aggregate plus
    one small count-table argmax join.  VALUE oracle: row_number /
    window-max replay in DuckDB."""
    from moz_datapipeline_spark.operators.fuzzy import golden_record

    o = _t(spark, sf_dir, "orders")
    out = golden_record(
        o,
        "o_custkey",
        ts_col="o_orderdate",
        latest=["o_orderstatus"],
        mode=["o_orderpriority"],
        min_of=["o_orderdate"],
        max_of=["o_totalprice"],
    )
    return out.select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_members",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("first_date"),
        F.round("o_totalprice", 2).alias("max_total"),
        F.col("o_orderstatus").alias("latest_status"),
        F.col("o_orderpriority").alias("modal_priority"),
    )


def q_lag_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe supervised-learning feature frame per event type
    (operators/temporal.lag_features): lag-1/2/3 plus a trailing
    6-row mean EXCLUDING the current row, all plain windows over the
    small hourly rollup.  VALUE oracle: SQL LAG/AVG windows."""
    from moz_datapipeline_spark.operators.temporal import lag_features

    ev = _events(spark, sf_dir)
    return lag_features(ev, lags=(1, 2, 3), rolling_window=6)


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned mutual information between lineitem quantity and
    extended price (operators/validation.mutual_information): one
    bounds aggregate + ONE joint-count pass, marginals derived from
    the nbins^2 joint table.  VALUE oracle: the identical grid and
    ln-fold in DuckDB."""
    from moz_datapipeline_spark.operators.validation import (
        mutual_information,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = mutual_information(li, "l_quantity", "l_extendedprice", nbins=10)
    return out.select(
        "x_col", "y_col", F.round("mi", 6).alias("mi"), "n_rows"
    )


def q_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 2-D Pareto frontier over parts, minimizing (retail
    price, size) — operators/ranges.pareto_frontier_2d: dominance
    factorized into two prefix tests over the distinct-x group table,
    two-phase strict prefix min instead of a global window or the
    quadratic self-join.  VALUE oracle: the textbook NOT EXISTS
    dominance query (fine at oracle scale)."""
    from moz_datapipeline_spark.operators.ranges import (
        pareto_frontier_2d,
    )

    p = _t(spark, sf_dir, "part")
    out = pareto_frontier_2d(p, "p_retailprice", "p_size")
    return out.select(
        F.col("p_partkey").cast("long").alias("partkey"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
        F.col("p_size").cast("int").alias("size"),
    )


def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition per event type over hourly
    rollups (operators/temporal.seasonal_decompose): centered ±12-row
    moving-average trend, zero-centred 24-phase seasonal means,
    residual — all JVM window/group means over the SMALL rollup.
    VALUE oracle: the identical windows replayed in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import (
        seasonal_decompose,
    )

    ev = _events(spark, sf_dir)
    return seasonal_decompose(ev, period=24, trend_window=12)


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided tabular CUSUM change statistics per event type over
    hourly rollups (operators/temporal.cusum_changepoints): the
    max(0, ·) recursion runs in a pandas kernel on the SMALL rollup
    (same legitimate-Python-kernel class as ewma_smooth).  VALUE
    oracle: DuckDB replays the recursion with a pair-carrying
    list_reduce over ordered prefixes."""
    from moz_datapipeline_spark.operators.temporal import (
        cusum_changepoints,
    )

    ev = _events(spark, sf_dir)
    out = cusum_changepoints(ev, k_sigmas=0.5, h_sigmas=4.0)
    return out.select(
        "event_type",
        F.col("bucket_epoch").alias("hour_epoch"),
        "metric",
        "s_pos",
        "s_neg",
        "is_change",
    )


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA baseline per event type over hourly rollups
    (operators/temporal.ewma_smooth): recursive scan via a pandas
    kernel on the SMALL rollup — one of the few legitimate
    Python-kernel operators (no window/HOF expresses a running fold).
    VALUE oracle: DuckDB replays the recursion with list_reduce over
    ordered prefixes."""
    from moz_datapipeline_spark.operators.temporal import ewma_smooth

    ev = _events(spark, sf_dir)
    out = ewma_smooth(ev, alpha=0.3)
    return out.select(
        "event_type",
        F.col("bucket_epoch").alias("hour_epoch"),
        "metric",
        "ewma",
    )


def q_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency per event type: each event holds a
    30-minute interval [ts, ts+30m); the global running sum of
    +1/−1 boundary events uses the two-phase distributed prefix scan
    (operators/ranges.peak_concurrency) — never a single-partition
    window."""
    from moz_datapipeline_spark.operators.ranges import peak_concurrency

    ev = _events(spark, sf_dir)
    iv = ev.select(
        "event_type",
        F.col("ts").alias("start"),
        (F.col("ts") + F.lit(1_800_000_000_000)).alias("end"),
    )
    return peak_concurrency(iv, group_cols=["event_type"])


def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 merge (operators/scd.scd2_apply): customers as the
    versioned dimension (one open row each), per-(customer, orderdate)
    totals as the CDC batch; open rows close at each key's first
    update, updates chain into effective-dated versions.  History is
    never rewritten — cost scales with batch + open rows."""
    from moz_datapipeline_spark.operators.scd import scd2_apply

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.lit(0).cast("long").alias("eff_start"),
        F.lit(None).cast("long").alias("eff_end"),
    )
    upd = (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("c_custkey"),
            F.expr(
                "timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00',"
                " cast(o_orderdate as timestamp_ntz))"
            ).cast("long").alias("ts"),
            "o_totalprice",
        )
        .groupBy("c_custkey", "ts")
        .agg(F.max("o_totalprice").alias("acctbal"))
    )
    return scd2_apply(cust, upd, "c_custkey", ["acctbal"])


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch per event type (k=64 — small
    enough that the (k−1)/h_k estimator path is exercised, not just
    the exact small-set mode).  Deterministic content-addressed
    hashes: the whole sketch replays exactly in DuckDB
    (operators/sketches.kmv_registers / kmv_distinct)."""
    from moz_datapipeline_spark.operators.sketches import (
        kmv_distinct,
        kmv_registers,
    )

    ev = _t(spark, sf_dir, "events")
    regs = kmv_registers(ev, "user_id", ["event_type"], k=64)
    return kmv_distinct(regs, ["event_type"], k=64)


def q_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 within-session event sequences (operators/analytics.
    top_event_paths): sessionize -> per-session sort_array collect ->
    path-count hash aggregate -> TakeOrderedAndProject."""
    from moz_datapipeline_spark.operators.analytics import top_event_paths

    ev = _events(spark, sf_dir)
    return top_event_paths(ev, k=20)


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining: top-20 co-purchased part pairs by
    lift (operators/analytics.copurchase_lift) — equi self-join on the
    basket key (fan-out bounded by basket width, never catalog²),
    broadcast marginals."""
    from moz_datapipeline_spark.operators.analytics import copurchase_lift

    li = _t(spark, sf_dir, "lineitem")
    return copurchase_lift(li, min_pair_count=2, k=20)


def q_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact global rank + percent-rank (CDF) of every lineitem by
    extended price — two-phase distributed prefix rank, never a
    single-partition global window (operators/ranges.global_rank)."""
    from moz_datapipeline_spark.operators.ranges import global_rank

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )
    out = global_rank(
        li, "l_extendedprice", ["l_orderkey", "l_linenumber"]
    )
    return out.select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "rank",
        "percent_rank",
    )


def q_grouped_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag OLS fit of extended price against quantity
    (operators/analytics.grouped_ols): the five power sums + count in
    ONE map-side-combined hash aggregate, closed-form slope/intercept/
    r2 with explicit degenerate-group guards.  VALUE oracle: the
    identical raw-sums fold in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import grouped_ols

    li = _t(spark, sf_dir, "lineitem")
    out = grouped_ols(
        li.withColumnRenamed("l_returnflag", "rflag"),
        ["rflag"],
        "l_quantity",
        "l_extendedprice",
    )
    return out.select("rflag", "n", "slope", "intercept", "r2")


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test between early
    (pre-1998) and late lineitem price distributions
    (operators/validation.ks_test): per-distinct-value side counts in
    one hash aggregate, the sup over CDF differences via the two-phase
    distributed prefix scan — never a single-partition window — and
    the asymptotic Kolmogorov p-value series.  VALUE oracle: identical
    cumulative fold + 100-term series in DuckDB."""
    from moz_datapipeline_spark.operators.validation import ks_test

    li = _t(spark, sf_dir, "lineitem")
    early = li.filter(F.col("l_shipdate") < F.lit("1998-01-01"))
    late = li.filter(F.col("l_shipdate") >= F.lit("1998-01-01"))
    return ks_test(early, late, "l_extendedprice")


def q_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-shingle-set Jaccard self-join over documents at t=0.7
    via AllPairs prefix filtering (operators/dedup.set_similarity_join):
    global-frequency-ordered shingle arrays, lossless prefix explode +
    equi join + size filter for candidates, array_intersect verify —
    never all-pairs, hot shingles sort out of every prefix.  VALUE
    oracle: an INDEPENDENT DuckDB ground truth via the shared-element
    join (a different, brute-er candidate scheme), so the prefix
    filter's losslessness is itself under test."""
    from moz_datapipeline_spark.operators.dedup import set_similarity_join

    docs = _t(spark, sf_dir, "documents")
    out = set_similarity_join(docs, 0.7, shingle_k=3)
    return out.select(
        "id_a", "id_b", "intersection", "union_size", "jaccard"
    )


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-prediction scores (common-neighbors / Jaccard /
    Adamic–Adar / preferential-attachment) over the part↔supplier
    bipartite graph, wedge centers capped at degree 30 — the hub-skew
    guard with degrees still exact from the full graph
    (graph/linkpred.link_prediction_scores).  Wedge pairs generated
    exchange-locally per center, never |V|² pairs.  VALUE oracle: the identical wedge
    fold in DuckDB."""
    from moz_datapipeline_spark.graph.linkpred import (
        link_prediction_scores,
    )

    li = _t(spark, sf_dir, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1000000).alias("dst"),
    )
    out = link_prediction_scores(e, max_wedge_degree=30)
    return out.select(
        "node_a",
        "node_b",
        "common_neighbors",
        "jaccard",
        "adamic_adar",
        "preferential_attachment",
    )


def q_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling: the 100 documents whose hashed-
    token profile best matches the English slice, Gumbel-top-k on the
    smoothed target/raw log-ratio (operators/corpus.
    importance_resample).  Two B-row bucket aggregates, one broadcast
    log-ratio join, TakeOrderedAndProject — deterministic md5 hash
    family end to end.  VALUE oracle: the identical bucket fold +
    Gumbel draw in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import (
        importance_resample,
    )

    docs = _t(spark, sf_dir, "documents")
    target = docs.filter(F.col("lang") == "en")
    return importance_resample(
        docs, target, k=100, n_buckets=256
    )


def q_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-base overlap between the pre-1997 and 1997+ order
    periods, estimated ENTIRELY from two k=128 KMV sketches
    (operators/sketches.kmv_set_ops): theta-sketch sample → union /
    intersection / Jaccard / containments with no second data pass.
    Deterministic md5 hashes — VALUE oracle replays sketch build and
    set-op arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.sketches import (
        kmv_registers,
        kmv_set_ops,
    )

    o = _t(spark, sf_dir, "orders")
    early = o.filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    late = o.filter(F.col("o_orderdate") >= F.lit("1997-01-01"))
    ra = kmv_registers(early, "o_custkey", k=128)
    rb = kmv_registers(late, "o_custkey", k=128)
    return kmv_set_ops(ra, rb, k=128)


def q_hits_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the DIRECTED customer→supplier
    trade graph, 2 full rounds, end-only L1 normalization — linear
    lazy plan, zero persists (graph/hits.hits).  Customers score as
    hubs, suppliers as authorities (bipartite direction).  VALUE
    oracle: the identical 2 rounds unrolled as DuckDB CTEs."""
    from moz_datapipeline_spark.graph.hits import hits

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
    )
    out = hits(e, iters=2)
    return out.select(
        "node",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def q_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotonic-trend test + Sen slope per event type
    over hourly rollups (operators/temporal.mann_kendall): within-
    group pair join over the SMALL rollup (never raw events), tie-
    corrected variance, continuity-corrected z.  VALUE oracle: the
    identical pair fold + quantile_cont median in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import (
        _bucket_epoch,
        mann_kendall,
    )

    ev = _events(spark, sf_dir)
    rollup = ev.groupBy(
        F.col("event_type").alias("grp"),
        _bucket_epoch(ev, "ts", "hour").alias("t"),
    ).agg(F.sum("value").cast("double").alias("v"))
    out = mann_kendall(rollup, "grp", "t", "v")
    return out.select(
        F.col("grp").alias("event_type"),
        "n",
        "s",
        "var_s",
        "z",
        "trend",
        "sen_slope",
    )


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairwise Pearson correlations of four lineitem numerics in
    ONE hash-aggregate pass (operators/validation.correlation_matrix):
    shared power sums, guarded closed form — no ANSI corr crash, no
    per-pair rescans.  VALUE oracle: the identical fold in DuckDB."""
    from moz_datapipeline_spark.operators.validation import (
        correlation_matrix,
    )

    li = _t(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of a BM25 ranking with a length-prior
    ranking for the query {spark, window, merge}
    (operators/retrieval.rrf_fuse): score-free 1/(60+rank) fold, one
    union + hash aggregate over two top-20 lists, top-10 cut.  VALUE
    oracle: both rankings and the fusion replayed in DuckDB."""
    from moz_datapipeline_spark.operators.dedup import _normalized
    from moz_datapipeline_spark.operators.retrieval import (
        bm25_topk,
        rrf_fuse,
    )

    d = _t(spark, sf_dir, "documents")
    terms = ["spark", "window", "merge"]
    bm = bm25_topk(d, terms, k=20)
    w1 = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    r1 = bm.select(
        "doc_id", F.row_number().over(w1).cast("long").alias("rank")
    )
    cand = (
        d.select(
            "doc_id",
            F.explode(
                F.split(_normalized(F.col("text")), " ")
            ).alias("_t"),
        )
        .filter(F.col("_t").isin(terms))
        .select("doc_id")
        .distinct()
    )
    w2 = Window.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    r2 = (
        d.join(cand, "doc_id")
        .select(
            "doc_id", F.row_number().over(w2).cast("long").alias("rank")
        )
        .filter(F.col("rank") <= 20)
    )
    return rrf_fuse([r1, r2], k=60, topk=10)


def q_harmonic_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled harmonic centrality from 3 customer pivots over the
    symmetric trade graph, 3 BFS hops (graph/centrality.
    harmonic_centrality): one frontier frame carries all sources,
    each hop is an equi join + anti join, hops materialize and
    superseded hops are released.  VALUE oracle: 3 unrolled BFS
    rounds as DuckDB CTEs."""
    from moz_datapipeline_spark.graph.centrality import (
        harmonic_centrality,
    )

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
    )
    out = harmonic_centrality(e, sources=[1, 2, 3], max_hops=3)
    return out


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-grid regularization of a SPARSE hourly rollup (high-value
    events only) with linear interpolation
    (operators/temporal.gap_fill): arithmetic sequence grid per group,
    one left join, two ignore-nulls window passes — all
    hash-partitioned on the group.  VALUE oracle: generate_series +
    IGNORE NULLS windows in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import (
        _bucket_epoch,
        gap_fill,
    )

    ev = _events(spark, sf_dir).filter(F.col("value") > 400)
    rollup = ev.groupBy(
        F.col("event_type").alias("grp"),
        _bucket_epoch(ev, "ts", "hour").alias("t"),
    ).agg(F.sum("value").cast("double").alias("v"))
    out = gap_fill(rollup, "grp", "t", "v", step=3600, method="linear")
    return out.select(
        F.col("grp").alias("event_type"), "t", "value", "is_filled"
    )


def q_ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted two-sample experiment readout over events
    (operators/analytics.ab_test): pooled theta from raw power sums,
    per-arm moments in one hash aggregate, Welch z + A-S erf
    polynomial p-value — a 2-row fold after one scan.  VALUE oracle:
    identical sums, var_samp, and polynomial in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import ab_test

    ev = _events(spark, sf_dir).withColumn(
        "x", (F.col("user_id") % 100).cast("double")
    )
    return ab_test(
        ev,
        "event_type",
        "value",
        control="view",
        treatment="click",
        covariate_col="x",
    )


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean extended price per return
    flag, 32 deterministic md5-seeded replicates: the replicate axis
    is exploded (one md5 funds two replicates) and ONE hash aggregate
    computes two plain codegen'd sums per (group, replicate)
    (operators/analytics.bootstrap_ci).  VALUE oracle: identical
    weight ladder, sums, and array-quantile interpolation in
    DuckDB."""
    from moz_datapipeline_spark.operators.analytics import bootstrap_ci

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "rid",
        F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ),
    )
    out = bootstrap_ci(
        li.withColumnRenamed("l_returnflag", "rflag"),
        "l_extendedprice",
        "rid",
        group_cols=["rflag"],
        replicates=32,
        portable=_portable_hash_mode(),
    )
    return out


def q_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser–Ney trigram perplexity gate: train on the
    English slice, score every document (operators/lm.
    train_kneser_ney / lm_score_kneser_ney).  All five continuation
    tables derive from ONE distinct-trigram aggregate; scoring is
    five broadcast left joins + one per-doc fold.  VALUE oracle: the
    full train + continuation-count + backoff-score replay in
    DuckDB."""
    from moz_datapipeline_spark.operators.lm import (
        lm_score_kneser_ney,
        train_kneser_ney,
    )

    docs = _t(spark, sf_dir, "documents")
    model = train_kneser_ney(docs.filter(F.col("lang") == "en"))
    return lm_score_kneser_ney(docs, model)


def q_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals over (returnflag, linestatus):
    per-combination revenue plus per-flag and grand totals in ONE
    pass — Catalyst's native GROUPING SETS expansion (map-side
    partials for every grouping simultaneously), no per-level
    rescans.  grouping() flags disambiguate NULL-as-total from
    NULL-as-value.  VALUE oracle: the identical ROLLUP in DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.sum(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    out = (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            # grouping() is only resolvable INSIDE the grouping-sets
            # aggregate, not in a later projection
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.round(rev, 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "g_flag",
            "g_status",
            "revenue",
            "n_rows",
        )
    )
    return out


def q_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement between two document 'judges' (a
    char-length rater vs a token-count rater) — Cohen's kappa from
    ONE contingency hash aggregate
    (operators/validation.cohen_kappa).  The LLM-judge-vs-heuristic
    QA readout.  VALUE oracle: identical table + fold in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import tokens
    from moz_datapipeline_spark.operators.validation import cohen_kappa

    d = _t(spark, sf_dir, "documents")
    rated = d.select(
        F.when(F.col("n_chars") > 300, F.lit("long"))
        .otherwise(F.lit("short"))
        .alias("rater_a"),
        F.when(F.size(tokens(F.col("text"))) > 50, F.lit("long"))
        .otherwise(F.lit("short"))
        .alias("rater_b"),
    )
    return cohen_kappa(rated, "rater_a", "rater_b")


def q_profile_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release-over-release profile drift between the pre-1997 and
    1997+ order snapshots (operators/validation.profile_diff): one
    profile aggregate per side, |columns|-row join, Welch mean-shift
    z and completeness/cardinality flags.  VALUE oracle: identical
    two-scan profile + flag fold in DuckDB."""
    from moz_datapipeline_spark.operators.validation import profile_diff

    o = _t(spark, sf_dir, "orders")
    before = o.filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    after = o.filter(F.col("o_orderdate") >= F.lit("1997-01-01"))
    return profile_diff(
        before, after, ["o_totalprice", "o_orderstatus", "o_custkey"]
    )


def q_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based nearest-pair mining between the even- and
    odd-label embedding sides (operators/similarity.
    margin_mine_pairs): Artetxe–Schwenk ratio margin — cosine over
    mean local k-NN density — with bounded partial-top-k passes and
    one argmax window.  VALUE oracle: both k-NN passes, densities,
    and the margin fold replayed with list_cosine_similarity in
    DuckDB."""
    from moz_datapipeline_spark.operators.similarity import (
        margin_mine_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("label") % 2 == 0)
    b = emb.filter(F.col("label") % 2 == 1)
    return margin_mine_pairs(a, b, k=4, threshold=1.0)


def q_margin_mining_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-fed margin mining — the 100 TB path for
    operators/similarity.margin_mine_pairs: candidate pairs come from
    lsh_candidate_pairs (2 tables × 4 random hyperplanes, one
    (table, bucket) equi-join shuffle, cross-table dedup) instead of
    the broadcast brute grid, and the SAME candidate-source-agnostic
    margin fold runs downstream (both k-NN density means, one argmax
    window).  VALUE oracle: DuckDB replays the deterministic planes,
    bucket assignment, candidate dedup, and margin fold exactly."""
    from moz_datapipeline_spark.operators.similarity import (
        lsh_candidate_pairs,
        margin_mine_pairs,
    )

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.filter(F.col("label") % 2 == 0)
    b = emb.filter(F.col("label") % 2 == 1)
    cand = lsh_candidate_pairs(a, b, dim=64, n_planes=4, n_tables=2)
    return margin_mine_pairs(a, b, k=4, threshold=1.0, candidates=cand)


def q_semantic_decontaminate_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-fed benchmark decontamination — semantic_decontaminate with
    an lsh_candidate_pairs candidate frame instead of broadcasting the
    eval slice: only bucket-sharing (candidate, benchmark) pairs are
    scored, the max fold LEFT-anchors on the full candidate set (no
    pair → 0.0, unflagged).  Recall is the LSH tables' — the 0.9-flag
    set may differ from the exact query's; the oracle replays the SAME
    candidate set, so the check is exact.  VALUE oracle: plane replay +
    left-anchored max fold in DuckDB."""
    from moz_datapipeline_spark.operators.similarity import (
        lsh_candidate_pairs,
        semantic_decontaminate,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    cand = lsh_candidate_pairs(
        emb.filter(~pred), emb.filter(pred), dim=64, n_planes=4, n_tables=2
    )
    out = semantic_decontaminate(emb, pred, threshold=0.9, candidates=cand)
    return out.select(
        "vec_id",
        F.round("max_bench_cosine", 6).alias("max_bench_cosine"),
        "contaminated",
    )


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analog (order-priority checking): orders from 1996Q1
    with AT LEAST ONE line item shipped more than 60 days after the
    order date, counted per priority — the EXISTS decorrelated to a
    LEFT SEMI join (this testdata carries no l_commitdate/
    l_receiptdate, so late SHIPMENT stands in for late delivery).
    The semi join short-circuits per order and ships no lineitem
    payload columns.  VALUE oracle: the literal EXISTS form in
    DuckDB."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (
            li["l_shipdate"]
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def q_supplier_part_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analog (parts/supplier relationship): distinct
    suppliers per (brand, size) for non-PROMO parts, EXCLUDING
    deadbeat suppliers (negative account balance) via a broadcast
    ANTI join — the NOT IN subquery decorrelated.  Both dimension
    sides broadcast; the only exchange is the final grouped
    count-distinct.  VALUE oracle: NOT IN + count(DISTINCT) in
    DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        ~F.col("p_type").like("PROMO%")
    )
    bad = _t(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(
            F.broadcast(bad),
            li["l_suppkey"] == bad["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(
            F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_size")
        )
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (operators/analytics.rfm_segments):
    quartile Recency/Frequency/Monetary scores via the two-phase
    distributed rank (never a global ntile window) + exact NTILE
    arithmetic on (rank, n).  VALUE oracle: row_number + the same
    integer tile formula in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import rfm_segments

    o = _t(spark, sf_dir, "orders")
    return rfm_segments(o, n_tiles=4)


def q_cume_dist_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report + cumulative distribution per nation: each
    supplier's revenue share of its nation and its exact CDF position
    among the nation's suppliers (cume_dist — ties share a value).
    Revenue floors to cents BEFORE the windows so tie semantics are
    engine-exact (the topk_with_ties convention); windows are
    nation-partitioned — never the global-sort trap.  VALUE oracle:
    identical windows in DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("s_suppkey").alias("suppkey"),
        )
        .agg(
            F.expr(
                "floor(sum(l_extendedprice * (1 - l_discount)) * 100"
                " + 0.5) / 100"
            ).alias("revenue")
        )
    )
    wsum = Window.partitionBy("nationkey")
    wcd = Window.partitionBy("nationkey").orderBy(F.col("revenue").asc())
    total = F.sum("revenue").over(wsum)
    return rev.select(
        "nationkey",
        "suppkey",
        "revenue",
        F.round(
            F.when(total > 0, F.col("revenue") / total), 6
        ).alias("nation_share"),
        F.round(F.cume_dist().over(wcd), 6).alias("cume_dist"),
    )


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type (operators/temporal.ohlc_bars):
    open/close as min/max-struct argmin folds in ONE map-side-combined
    hash aggregate — never a window sort over raw events.  VALUE
    oracle: first/last(value ORDER BY t, value) aggregates in
    DuckDB."""
    from moz_datapipeline_spark.operators.temporal import ohlc_bars

    e = _events(spark, sf_dir)
    out = ohlc_bars(
        e, "event_type", "ts", "value", step=3_600_000_000_000
    )
    return out.select(
        "event_type",
        "bucket_start",
        F.round("open", 6).alias("open"),
        F.round("high", 6).alias("high"),
        F.round("low", 6).alias("low"),
        F.round("close", 6).alias("close"),
        "n",
    )


def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly time-weighted average value per event type
    (operators/temporal.twap): each observation holds until the next
    one in its group (clipped at the bucket edge), ONE group-
    partitioned lead window + one hash aggregate.  VALUE oracle:
    identical lead/clip/fold in DuckDB over epoch-ns integers."""
    from moz_datapipeline_spark.operators.temporal import twap

    e = _events(spark, sf_dir)
    return twap(e, "event_type", "ts", "value", step=3_600_000_000_000)


def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive backtest over the hourly event-count series
    (operators/temporal.seasonal_naive_backtest): forecast(t) =
    count(t − 24 buckets), MAPE/sMAPE/bias per event type — the
    baseline every real forecast must beat.  VALUE oracle: identical
    rollup + lag(24) + folds in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import (
        seasonal_naive_backtest,
    )

    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type",
        F.expr("ts div 3600000000000").alias("hour_idx"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    return seasonal_naive_backtest(
        hourly, "event_type", "hour_idx", "n_events", season_lag=24
    )


def q_mad_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation + robust-z outlier counts per return
    flag (operators/analytics.mad_outliers): two exact-percentile
    passes + one conditional-sum pass, |groups|-row exchanges only —
    the 50%-breakdown alternative to anomaly_zscore's moment-based
    flags.  VALUE oracle: quantile_cont medians + the same conditional
    sum in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import mad_outliers

    li = _t(spark, sf_dir, "lineitem")
    return mad_outliers(
        li, "l_extendedprice", group_cols=["l_returnflag"], k=3.0
    ).orderBy("l_returnflag")


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per document
    (operators/text.readability_scores): whitespace words, [.!?]-run
    sentences, vowel-group syllables — pure JVM regex-split HOFs, one
    pass, no shuffle.  VALUE oracle: the same split/filter counting in
    DuckDB."""
    from moz_datapipeline_spark.operators.text import readability_scores

    d = _t(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    return readability_scores(d).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch"
    )


def q_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-10 for {spark, window,
    merge} (operators/retrieval.dirichlet_lm_topk) — the probabilistic
    twin of bm25_topk, same bounded plan shape (explode filtered to
    query terms, broadcast corpus stats, TakeOrderedAndProject).
    VALUE oracle: the full Zhai-Lafferty formula replayed in DuckDB."""
    from moz_datapipeline_spark.operators.retrieval import dirichlet_lm_topk

    d = _t(spark, sf_dir, "documents")
    return dirichlet_lm_topk(
        d, ["spark", "window", "merge"], k=10, mu=2000.0
    )


def q_embedding_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension z-score standardization of the embedding column
    (functions/scaling.standardize_embeddings): posexplode → per-dim
    hash aggregate (map-side combine folds each partition to ≤ dim
    rows) → 1-row broadcast of the mean/std arrays → pure JVM zip_with
    projection; no data-sized second shuffle.  VALUE oracle: the same
    per-ordinal stats + guarded z in DuckDB."""
    from moz_datapipeline_spark.functions.scaling import (
        standardize_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = standardize_embeddings(emb)
    # one row per (vector, dimension): the driver's value hash cannot
    # fold array cells, and per-cell rows get float-tolerant compare
    return out.select(
        "vec_id", F.posexplode("standardized").alias("dim", "z")
    )


def q_target_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean-target encoding of market segment against order
    value (operators/features.target_encode): empirical-Bayes
    shrinkage toward the global mean, one category aggregate + one
    1-row prior broadcast + one broadcast encode join; summarized per
    segment for the check.  VALUE oracle: identical shrinkage formula
    in DuckDB."""
    from moz_datapipeline_spark.operators.features import target_encode

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    base = o.join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    ).filter(F.col("o_totalprice").isNotNull())
    enc = target_encode(
        base, "c_mktsegment", "o_totalprice", smoothing=10.0
    )
    return (
        enc.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.max("c_mktsegment_te"), 6).alias("te"),
        )
        .orderBy("c_mktsegment")
    )


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization of documents into 32 signed buckets
    (operators/features.hashed_features): no vocabulary pass, fixed
    feature space, md5-portable bucket/sign hashes, one map-side-
    combined aggregate.  VALUE oracle: the same md5 bucket/sign
    arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.features import hashed_features

    d = _t(spark, sf_dir, "documents")
    return hashed_features(d, n_features=32, portable_hash=True)


def q_neighbor_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GNN-style 1-hop neighbor-feature aggregation over the
    supplier–part bipartite graph from lineitem
    (graph/aggregate.neighbor_feature_aggregate): per node, the
    count/mean/min/max of neighbor features (supplier account balance
    / part retail price) — one |E|-row equi join + one hash
    aggregate, Σ deg rows, never |V|².  VALUE oracle: identical
    symmetrized join + fold in DuckDB."""
    from moz_datapipeline_spark.graph.aggregate import (
        neighbor_feature_aggregate,
    )

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
    )
    # features in integer CENTS: sums of integer-valued doubles are
    # exact, so the neighbor mean is add-order-independent and the
    # 6-dp round never straddles an ulp between engines
    feats = s.select(
        F.col("s_suppkey").alias("node"),
        F.expr("floor(s_acctbal * 100 + 0.5)").alias("feature"),
    ).unionByName(
        p.select(
            (F.col("p_partkey") + F.lit(1_000_000)).alias("node"),
            F.expr("floor(p_retailprice * 100 + 0.5)").alias("feature"),
        )
    )
    out = neighbor_feature_aggregate(edges, feats, hops=1)
    return out.select(
        "node",
        "n_neighbors",
        F.round(F.col("mean_f") / 100, 6).alias("mean_f"),
        F.round(F.col("min_f") / 100, 6).alias("min_f"),
        F.round(F.col("max_f") / 100, 6).alias("max_f"),
    )


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE corpus keyphrases (operators/text.rake_keyphrases):
    punctuation+stopword-delimited candidate runs, degree/frequency
    word scores, top-20 phrases — two posexplodes, one running-sum
    window, vocabulary equi join, TakeOrderedAndProject.  VALUE
    oracle: the full segmentation + scoring replayed in DuckDB."""
    from moz_datapipeline_spark.operators.text import rake_keyphrases

    d = _t(spark, sf_dir, "documents")
    return rake_keyphrases(d, k=20)


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/analytics.markov_transitions): one user-
    partitioned lead window + matrix-sized folds; event_id tiebreak
    makes duplicate timestamps deterministic.  VALUE oracle:
    identical lead + row-normalization in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        markov_transitions,
    )

    e = _events(spark, sf_dir)
    return markov_transitions(e, tiebreak_col="event_id")


def q_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over user activity spans
    (operators/analytics.kaplan_meier): duration = days between a
    user's first and last event; users last seen within 3 days of the
    dataset edge are right-CENSORED (still active).  Product-limit
    estimate via exp∘Σln windows over the duration rollup.  VALUE
    oracle: identical risk-set and product windows in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import kaplan_meier

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    edge = e.agg(F.max(day).alias("_edge"))
    subj = spans.crossJoin(F.broadcast(edge)).select(
        (F.col("_last") - F.col("_first")).alias("duration"),
        (F.col("_last") < F.col("_edge") - 3).cast("int").alias("event"),
    )
    return kaplan_meier(subj, "duration", "event")


def q_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts for every foreign
    key in the star schema (child rows whose key has no parent) — four
    ANTI joins, parent sides broadcast where dimension-sized.  The
    pipeline gate that catches a bad incremental load before it
    poisons every downstream join.  VALUE oracle: NOT IN counts per
    relation in DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    c = _t(spark, sf_dir, "customer")

    def audit(child, key, parent, pkey, name):
        n = child.agg(F.count(F.lit(1)).alias("n_child"))
        orphans = child.join(
            parent.select(pkey).distinct(),
            child[key] == F.col(pkey),
            "left_anti",
        ).agg(F.count(F.lit(1)).alias("n_orphans"))
        return n.crossJoin(orphans).select(
            F.lit(name).alias("relation"), "n_child", "n_orphans"
        )

    return (
        audit(li, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionByName(
            audit(li, "l_partkey", p, "p_partkey", "lineitem->part")
        )
        .unionByName(
            audit(li, "l_suppkey", s, "s_suppkey", "lineitem->supplier")
        )
        .unionByName(
            audit(o, "o_custkey", c, "c_custkey", "orders->customer")
        )
    )


def q_period_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per market segment: monthly
    floor-cents rollup, one segment-partitioned lag window, guarded
    ratio — the period-over-period readout every dashboard needs.
    VALUE oracle: identical rollup + lag in DuckDB."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    monthly = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            (F.year("o_orderdate") * 100 + F.month("o_orderdate"))
            .cast("long")
            .alias("yearmonth"),
        )
        .agg(
            F.expr(
                "floor(sum(o_totalprice) * 100 + 0.5) / 100"
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("segment").orderBy(F.col("yearmonth").asc())
    prev = F.lag("revenue").over(w)
    growth = F.when(
        prev > 0, (F.col("revenue") - prev) / prev
    )
    return monthly.select(
        "segment",
        "yearmonth",
        "revenue",
        F.round(prev, 2).alias("prev_revenue"),
        F.round(growth, 6).alias("growth"),
    )


def q_ctfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-based TF-IDF: top-5 distinctive terms per SOURCE
    (operators/corpus.ctfidf_terms — the BERTopic c-TF-IDF form):
    one explode + (class, term) aggregate, term totals from the same
    aggregate, vocabulary-sized equi join, class-partitioned top-k.
    VALUE oracle: identical fold in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import ctfidf_terms

    d = _t(spark, sf_dir, "documents")
    return ctfidf_terms(d, class_col="source", k=5)


def q_bipartite_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier co-occurrence graph projected from the supplier–part
    bipartite edge list (graph/aggregate.bipartite_projection):
    supplier pairs sharing ≥ 2 distinct parts, shared count + Jaccard
    over exact left degrees; right-hub cap bounds the self-join at
    Σ deg(part)².  VALUE oracle: identical dedupe + self join + folds
    in DuckDB."""
    from moz_datapipeline_spark.graph.aggregate import (
        bipartite_projection,
    )

    li = _t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    return bipartite_projection(edges, min_weight=2)


def q_psi_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI between the pre-/post-1997 order snapshots over
    order priority (operators/validation.psi_categorical): category
    proportions, full outer union of categories, eps-floored ln fold —
    the categorical half of psi_drift.  VALUE oracle: identical fold
    in DuckDB."""
    from moz_datapipeline_spark.operators.validation import (
        psi_categorical,
    )

    o = _t(spark, sf_dir, "orders")
    ref = o.filter(F.col("o_orderdate") < "1997-01-01")
    cur = o.filter(F.col("o_orderdate") >= "1997-01-01")
    return psi_categorical(ref, cur, "o_orderpriority")


def q_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user view→purchase conversion latency
    (operators/analytics.time_to_convert): first view, first purchase
    strictly after it, one groupBy(user) + JVM HOF — the
    funnel_stages idiom reduced to two stages.  VALUE oracle: min
    folds + the same strict-after join in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import time_to_convert

    e = _events(spark, sf_dir)
    return time_to_convert(e, "view", "purchase")


def q_behavior_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix
    (operators/analytics.behavior_entropy): two stacked hash
    aggregates, entropy from the algebraic ln(n) − Σ c·ln(c)/n fold —
    no per-user lists.  VALUE oracle: identical fold in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        behavior_entropy,
    )

    e = _events(spark, sf_dir)
    return behavior_entropy(e)


def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing over the hourly event-count
    series (operators/temporal.holt_linear): level+trend recursion in
    a pandas kernel over the ROLLUP (never raw events), 3-step-ahead
    forecast.  VALUE oracle: per-prefix pair-carrying list_reduce in
    DuckDB (the cusum oracle idiom)."""
    from moz_datapipeline_spark.operators.temporal import holt_linear

    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        "event_type",
        F.expr("ts div 3600000000000").alias("hour_idx"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n_events"))
    return holt_linear(
        hourly, "event_type", "hour_idx", "n_events",
        alpha=0.3, beta=0.1, horizon=3,
    )


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers
    (operators/analytics.gini_concentration): rank formula over the
    two-phase distributed rank — never a global window sort.
    Per-customer revenue rounds to cents FIRST so every downstream sum
    is integer-exact across engines.  VALUE oracle: row_number + the
    identical rank formula in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        gini_concentration,
    )

    o = _t(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("customer")).agg(
        F.expr("floor(sum(o_totalprice) * 100 + 0.5) / 100").alias(
            "revenue"
        )
    )
    return gini_concentration(per, "customer", "revenue")


def q_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC (Mann–Whitney rank-sum with half-credit ties) of
    order value as a predictor of finished status
    (operators/analytics.roc_auc): per-distinct-score rollup + the
    two-phase distributed prefix scan — never a global window over the
    row-sized rollup.  VALUE oracle: identical rollup + prefix + fold
    in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import roc_auc

    o = _t(spark, sf_dir, "orders")
    scored = o.select(
        F.col("o_totalprice").alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return roc_auc(scored, "score", "label")


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains/lift table: orders ranked by value into deciles, finished
    status as the outcome (operators/analytics.decile_lift): two-phase
    distributed rank + exact NTILE arithmetic (the rfm idiom), per-tile
    capture and lift.  VALUE oracle: row_number + the same tile formula
    and folds in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import decile_lift

    o = _t(spark, sf_dir, "orders")
    scored = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return decile_lift(
        scored, "score", "label", tiebreak_cols=["o_orderkey"], n_tiles=10
    )


def q_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 suppliers per nation by revenue KEEPING TIES — rank()
    instead of row_number(), so equal-revenue suppliers all survive
    (the analytically-correct leaderboard cut).  Spark pushes the
    rank filter below the exchange as WindowGroupLimit: per-partition
    heaps bound the shuffle exactly as in the row_number case.
    Revenue rounds to cents BEFORE ranking so the tie semantics are
    engine-exact.  VALUE oracle: identical rank() cut in DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    rev = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("s_suppkey").alias("suppkey"),
        )
        .agg(
            F.expr(
                "floor(sum(l_extendedprice * (1 - l_discount)) * 100"
                " + 0.5) / 100"
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("nationkey").orderBy(F.col("revenue").desc())
    return (
        rev.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("nationkey", "suppkey", "revenue", "rnk")
    )


def q_fdr_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift battery + Benjamini–Hochberg step-up: per nation, a
    Welch z / A-S-polynomial p-value for the early-vs-late order
    value shift, then FDR correction over the 25-test battery
    (operators/validation.fdr_correct) — the honest multiple-testing
    end of the validation suite.  VALUE oracle: identical battery +
    BH fold in DuckDB."""
    from moz_datapipeline_spark.operators.validation import fdr_correct

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_nationkey").alias("nationkey"),
        F.col("o_totalprice").cast("double").alias("v"),
        (F.col("o_orderdate") < F.lit("1997-01-01")).alias("early"),
    )
    per = j.groupBy("nationkey").agg(
        F.count(F.when(F.col("early"), 1)).cast("double").alias("na"),
        F.avg(F.when(F.col("early"), F.col("v"))).alias("ma"),
        F.var_samp(F.when(F.col("early"), F.col("v"))).alias("va"),
        F.count(F.when(~F.col("early"), 1)).cast("double").alias("nb"),
        F.avg(F.when(~F.col("early"), F.col("v"))).alias("mb"),
        F.var_samp(F.when(~F.col("early"), F.col("v"))).alias("vb"),
    )
    se2 = F.col("va") / F.col("na") + F.col("vb") / F.col("nb")
    z = F.when(
        (F.col("na") >= 2) & (F.col("nb") >= 2) & (se2 > 0),
        (F.col("mb") - F.col("ma")) / F.sqrt(se2),
    )
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * (t ** 2)
        + F.lit(1.421413741) * (t ** 3)
        - F.lit(1.453152027) * (t ** 4)
        + F.lit(1.061405429) * (t ** 5)
    )
    p = F.when(z.isNotNull(), poly * F.exp(-az * az))
    battery = per.select(
        "nationkey", F.round(p, 9).alias("p")
    )
    out = fdr_correct(battery, "p", alpha=0.05, id_cols=["nationkey"])
    return out.select(
        "nationkey", "p", "rank", "bh_threshold", "discovery"
    )


def q_dataset_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent dataset fingerprint of a 3-column lineitem
    projection (operators/validation.dataset_fingerprint): 60-bit md5
    row hashes folded with XOR and decimal SUM — one hash aggregate,
    partitioning/row-order invariant by algebra.  VALUE oracle:
    identical rendering + bit_xor/sum fold in DuckDB."""
    from moz_datapipeline_spark.operators.validation import (
        dataset_fingerprint,
    )

    li = _t(spark, sf_dir, "lineitem")
    return dataset_fingerprint(
        li, ["l_orderkey", "l_linenumber", "l_suppkey"]
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: rebalance three sources to 50/25/25
    target weights, keeping the maximum corpus that matches the mixture
    without upsampling; membership is the content-addressed md5
    threshold so the selection is engine- and partitioning-stable
    (operators/corpus.mixture_resample)."""
    from moz_datapipeline_spark.operators.corpus import mixture_resample

    d = _t(spark, sf_dir, "documents")
    out = mixture_resample(
        d, "source", {"src0": 0.5, "src1": 0.25, "src2": 0.25}
    )
    return out.select("doc_id", "source", "lang")


def q_temperature_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language rebalance (α=0.5, the multilingual
    sampling exponent): shares follow n^α, the scarcest language under
    the exponent is kept whole, membership is the content-addressed md5
    threshold (operators/corpus.temperature_resample)."""
    from moz_datapipeline_spark.operators.corpus import temperature_resample

    d = _t(spark, sf_dir, "documents")
    out = temperature_resample(d, "lang", 0.5)
    return out.select("doc_id", "lang", "source")


def q_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact-substring dedup bounded to 10-token spans:
    any 10-token run shared by >=2 distinct documents is stripped from
    every occurrence; rebuild is one higher-order filter over the token
    array (operators/corpus.remove_duplicate_spans).  VALUE oracle: the
    same explode->heavy-hitter->position-mask pipeline in DuckDB, the
    literal token window as the join key (collision-free)."""
    from moz_datapipeline_spark.operators.corpus import remove_duplicate_spans

    d = _t(spark, sf_dir, "documents")
    return remove_duplicate_spans(
        d, window=10, min_docs=2, hash_keys=not _portable_hash_mode()
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over a deterministic tri-partite hub
    graph derived from customer keys (every customer closes a triangle
    with its two hash hubs; hubs interconnect).  Degree-ordered
    orientation bounds the wedge join (graph/triangles.py).  VALUE
    oracle: the same orient->wedge->close pipeline in DuckDB, all
    integer arithmetic."""
    from moz_datapipeline_spark.graph.triangles import triangle_counts

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    h1 = (F.col("c_custkey") % 97 + 2000000).alias("dst")
    h2 = (F.col("c_custkey") % 31 + 2200000).alias("dst")
    edges = (
        c.select(F.col("c_custkey").alias("src"), h1)
        .unionByName(c.select(F.col("c_custkey").alias("src"), h2))
        .unionByName(
            c.select(
                (F.col("c_custkey") % 97 + 2000000).alias("src"),
                (F.col("c_custkey") % 31 + 2200000).alias("dst"),
            )
        )
    )
    return triangle_counts(edges)


def q_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order curve values over the part table
    (sources/layout.zorder_value): interleaved-bit integer arithmetic,
    the write-path clustering primitive that makes parquet min/max
    pruning selective on every interleaved dimension — both the 2-D
    and the generalized 3-D curve.  VALUE oracle: the same
    bit-interleave folds in DuckDB."""
    from moz_datapipeline_spark.sources.layout import zorder_value

    p = _t(spark, sf_dir, "part").select(
        "p_partkey",
        (F.col("p_partkey") % 1024).alias("gx"),
        (F.col("p_partkey") * 7 % 1024).alias("gy"),
        (F.col("p_partkey") * 13 % 1024).alias("gz"),
    )
    return p.select(
        "p_partkey",
        "gx",
        "gy",
        zorder_value("gx", "gy", bits=10).alias("zvalue"),
        zorder_value("gx", "gy", "gz", bits=10).alias("zvalue3"),
    )


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over event users, certified
    against exact counts (operators/analytics.cms_heavy_hitters).
    Unlike the HLL/KLL certifications, the sketch ESTIMATES themselves
    are value-checked: the oracle rebuilds the 4x256 bucket table with
    the same md5 bucket hashes and replays the min-over-rows point
    queries."""
    from moz_datapipeline_spark.operators.analytics import cms_heavy_hitters

    ev = _t(spark, sf_dir, "events").select("user_id")
    return cms_heavy_hitters(
        ev, depth=4, width=256, k=10, portable=_portable_hash_mode()
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language weighted sample (k=10, probability proportional to
    n_chars): Efraimidis-Spirakis keys from the content-addressed hash,
    WindowGroupLimit-bounded rank (operators/corpus.weighted_sample)."""
    from moz_datapipeline_spark.operators.corpus import weighted_sample

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample(d, "n_chars", 10, group_col="lang")


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 for the query {spark, window, merge}
    (operators/retrieval.bm25_topk): tokens filtered to the query's
    terms BEFORE any shuffle, per-term df + 1-row corpus stats
    broadcast back, TakeOrderedAndProject top-k.  VALUE oracle: the
    full Robertson/Lucene formula replayed in DuckDB."""
    from moz_datapipeline_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, ["spark", "window", "merge"], k=10)


def q_conjunctive_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index conjunctive (AND) search: docs containing ALL of
    {spark, window, merge} (operators/retrieval.conjunctive_search) —
    explode filtered to the query terms, distinct-term count per doc,
    HAVING count = |terms|."""
    from moz_datapipeline_spark.operators.retrieval import conjunctive_search

    d = _t(spark, sf_dir, "documents")
    return conjunctive_search(d, ["spark", "window", "merge"])


def q_posting_store_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build-once-probe-many retrieval: persist the inverted index
    Hive-partitioned by term-hash bucket, then look up two terms with
    a partition-pruned scan (operators/retrieval.build_posting_store /
    search_posting_store).  VALUE oracle: posting rows recomputed
    directly from documents."""
    import hashlib

    from moz_datapipeline_spark.operators.retrieval import (
        build_posting_store,
        search_posting_store,
    )

    d = _t(spark, sf_dir, "documents")
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    path = f"/tmp/spark_graft_posting_store/{tag}"
    build_posting_store(d, path, num_buckets=16)
    return search_posting_store(spark, path, ["merge", "stream"], num_buckets=16)


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HyperLogLog distinct users per event type
    (operators/sketches.hll_distinct): register rows as DataFrame
    state, portable md5 bucket/rho pipeline, integer-exact harmonic
    sum.  VALUE oracle: the ESTIMATE itself replays bit-for-bit in
    DuckDB (not just a tolerance flag) — same register table, same
    linear-counting correction."""
    from moz_datapipeline_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    return hll_distinct(ev, "user_id", ["event_type"], p=10)


def q_validate_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative quality gate over orders: eight
    constraints (not_null / complete / unique / min / max /
    non_negative / matches / in_set) evaluated in ONE aggregate pass
    (operators/validation.validate)."""
    from moz_datapipeline_spark.operators.validation import Check, validate

    o = _t(spark, sf_dir, "orders")
    checks = [
        Check("not_null", "o_orderkey"),
        Check("unique", "o_orderkey"),
        Check("complete", "o_custkey", threshold=0.95),
        Check("min", "o_totalprice", threshold=0.0),
        Check("max", "o_totalprice", threshold=10_000_000.0),
        Check("non_negative", "o_totalprice"),
        Check("matches", "o_orderpriority", threshold=0.99, pattern=r"^[1-5]-"),
        Check("in_set", "o_orderstatus", allowed=("O", "F", "P")),
    ]
    return validate(o, checks)


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiler over documents (completeness, distinct
    count, min/max as strings, mean for numerics) — the discovery twin
    of the constraint gate (operators/validation.profile_columns)."""
    from moz_datapipeline_spark.operators.validation import profile_columns

    d = _t(spark, sf_dir, "documents")
    return profile_columns(d, ["doc_id", "text", "lang", "source", "n_chars"])


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 10-bin histogram of l_extendedprice: 1-row min/max
    broadcast back via cross join, pure-arithmetic bucketing, hash
    aggregate (operators/validation.equi_width_histogram)."""
    from moz_datapipeline_spark.operators.validation import (
        equi_width_histogram,
    )

    li = _t(spark, sf_dir, "lineitem")
    return equi_width_histogram(li, "l_extendedprice", nbins=10)


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document character Shannon entropy in bits, computed INSIDE
    each row with array higher-order functions — zero shuffle, zero
    UDF (operators/text.char_entropy).  Low entropy = mash/template
    residue, the Gopher-style quality screen's direct signal."""
    from moz_datapipeline_spark.operators.spread import (
        spread_small_scan,
    )
    from moz_datapipeline_spark.operators.text import char_entropy

    # the operator ITSELF is contractually zero-shuffle (a projection
    # — plan-asserted); parallelism for this single-file demo input is
    # the caller's choice, so the conditional spread lives here
    d = spread_small_scan(_t(spark, sf_dir, "documents"), "doc_id")
    return char_entropy(d)


def q_normalize_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode hygiene ahead of dedup/BPE: NFC-compose (Arrow pandas
    UDF — no JVM builtin), strip control chars, collapse space runs
    (operators/text.normalize_unicode).  Decomposed accents + a tab
    are INJECTED (the corpus is ASCII) so composition is exercised;
    output is md5 of the normalized text so the DuckDB oracle
    (nfc_normalize) compares byte-for-byte."""
    from moz_datapipeline_spark.operators.text import normalize_unicode

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" cafe\u0301\tx")
        ).alias("text"),
    )
    out = normalize_unicode(d)
    return out.select("doc_id", F.md5("text_norm").alias("norm_md5"))


def q_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-to-doc "more like this": tf-idf cosine top-5 for three query
    docs, candidates through the inverted-index term join
    (operators/retrieval.tfidf_cosine_topk).  Pair volume here is
    bounded by the 3-doc query side (|q|·avg_df), so the stopword df
    cap is lifted (max_df_ratio=1.0) — the synthetic corpus's 31-word
    vocabulary is ALL high-df, which would otherwise empty the index;
    production corpora keep the default 0.25 cap."""
    from moz_datapipeline_spark.operators.retrieval import tfidf_cosine_topk

    d = _t(spark, sf_dir, "documents")
    return tfidf_cosine_topk(d, [0, 1, 2], k=5, max_df_ratio=1.0)


def q_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-count (quantile) histogram of l_extendedprice, 8 bins:
    exact percentile boundaries (1-row aggregate, broadcast), then
    strictly-greater fold bucketing — no global sort of the data
    (operators/validation.equi_depth_histogram)."""
    from moz_datapipeline_spark.operators.validation import (
        equi_depth_histogram,
    )

    li = _t(spark, sf_dir, "lineitem")
    return equi_depth_histogram(li, "l_extendedprice", nbins=8)


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: distinct word-5-gram Jaccard
    for every source pair (operators/corpus.source_overlap_matrix) —
    gram-level equi join, pair fan-out bounded by |sources|² per gram,
    never a doc-level pair join."""
    from moz_datapipeline_spark.operators.corpus import source_overlap_matrix

    d = _t(spark, sf_dir, "documents")
    return source_overlap_matrix(d, n=5)


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorize l_extendedprice at the exact 1st/99th percentiles:
    1-row bounds aggregate broadcast back, pure-projection clip
    (operators/validation.winsorize)."""
    from moz_datapipeline_spark.operators.validation import winsorize

    li = _t(spark, sf_dir, "lineitem")
    out = winsorize(li, "l_extendedprice", 0.01, 0.99)
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_extendedprice_wins",
        "was_clipped",
    )


def q_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/IQR standardization of l_extendedprice per return flag
    (operators/validation.robust_scale): per-group exact percentiles
    broadcast back, projection-only scaling."""
    from moz_datapipeline_spark.operators.validation import robust_scale

    li = _t(spark, sf_dir, "lineitem")
    out = robust_scale(li, "l_extendedprice", group_col="l_returnflag")
    return out.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice_scaled",
    )


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags over hourly event-value rollups
    (operators/temporal.rolling_zscore_anomalies): the window sort
    runs on the SMALL rollup, never the raw events; z vs the trailing
    24 hours, |z| > 3 flags."""
    from moz_datapipeline_spark.operators.temporal import (
        rolling_zscore_anomalies,
    )

    ev = _events(spark, sf_dir)
    out = rolling_zscore_anomalies(ev, window=24, threshold=3.0)
    return out.select(
        "event_type",
        F.col("bucket_epoch").alias("hour_epoch"),
        "metric",
        "mean_prev",
        "std_prev",
        "zscore",
        "is_anomaly",
    )


# ---------------------------------------------------------------------------
# round 10: rank/association statistics, ML-eval, graph structure, zipf
# ---------------------------------------------------------------------------

def q_spearman_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs extended price over
    lineitem (operators/analytics.spearman_corr): per-column distinct
    rollup + two-phase distributed prefix ranks (never a global
    window), exact half-integer rank sums.  VALUE oracle: DuckDB
    average-rank windows + the same sums fold."""
    from moz_datapipeline_spark.operators.analytics import spearman_corr

    li = _t(spark, sf_dir, "lineitem")
    return spearman_corr(li, "l_quantity", "l_extendedprice")


def q_cramers_v_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V between return flag and line status
    (operators/analytics.cramers_v): one contingency hash aggregate,
    χ² = Σo²/e − n over observed cells only (zero cells contribute 0
    to that form — no grid materialization).  VALUE oracle: identical
    CTE arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import cramers_v

    li = _t(spark, sf_dir, "lineitem")
    return cramers_v(li, "l_returnflag", "l_linestatus")


def q_anova_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of order quantity across return flags
    (operators/analytics.anova_oneway): one per-group (n, Σx, Σx²)
    hash aggregate + a k-row fold — integer-valued quantities keep
    every sum exact across engines.  VALUE oracle: same fold in
    DuckDB."""
    from moz_datapipeline_spark.operators.analytics import anova_oneway

    li = _t(spark, sf_dir, "lineitem")
    return anova_oneway(li, "l_returnflag", "l_quantity")


def q_brown_forsythe_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe equal-variance test of quantity across return
    flags (operators/analytics.brown_forsythe): per-group exact
    medians via the distributed histogram selection
    (ranges.exact_quantiles_grouped), then the ANOVA fold over
    |x − median_g|.  VALUE oracle: DuckDB quantile_cont medians + the
    same fold."""
    from moz_datapipeline_spark.operators.analytics import brown_forsythe

    li = _t(spark, sf_dir, "lineitem")
    return brown_forsythe(li, "l_returnflag", "l_quantity")


def q_proportion_ztest_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: do URGENT orders finish at a different
    rate than LOW-priority ones?  (operators/analytics
    .proportion_ztest): one conditional-sum aggregate over the two
    arms, integer counts to the final division.  VALUE oracle: same
    pooled-z arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import proportion_ztest

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("arm"),
        (F.col("o_orderstatus") == "F").cast("int").alias("done"),
    )
    return proportion_ztest(o, "arm", "done", "1-URGENT", "5-LOW")


def q_classification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded confusion matrix + precision/recall/F1 for order
    value as a finished-status classifier (operators/mleval
    .classification_report): one conditional-sum hash aggregate.
    VALUE oracle: the same four integer cells in DuckDB."""
    from moz_datapipeline_spark.operators.mleval import (
        classification_report,
    )

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return classification_report(o, "score", "label", threshold=150000.0)


def q_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability curve + ECE/Brier over a deterministic synthetic
    score (operators/mleval.calibration_curve): dyadic scores
    (k/1024 — exactly representable, so cross-engine sums are exact),
    one ≤10-cell bin rollup, everything after bins-sized.  VALUE
    oracle: identical bin arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.mleval import calibration_curve

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") % 1024).cast("double") / 1024.0).alias(
            "score"
        ),
        (
            (F.col("o_orderkey") % 1024) + 120 * (F.col("o_orderkey") % 5)
            > 760
        )
        .cast("int")
        .alias("label"),
    )
    return calibration_curve(o, "score", "label", n_bins=10)


def q_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG/MRR/precision/recall@5 per query over a deterministic
    arithmetic run + graded qrels on documents (operators/mleval
    .retrieval_eval): left join on (query, doc), per-query windows —
    partitioned, never global.  VALUE oracle: the same rank windows
    and log2 gains in DuckDB."""
    from moz_datapipeline_spark.operators.mleval import retrieval_eval

    d = _t(spark, sf_dir, "documents").select("doc_id")
    run = d.select(
        (F.col("doc_id") % 20).alias("query_id"),
        F.col("doc_id").alias("doc_id"),
        ((F.col("doc_id") * 37) % 101).cast("double").alias("score"),
    )
    qrels = d.filter(F.col("doc_id") % 6 == 0).select(
        (F.col("doc_id") % 20).alias("query_id"),
        F.col("doc_id").alias("doc_id"),
        (1 + F.col("doc_id") % 3).cast("int").alias("rel"),
    )
    out = retrieval_eval(run, qrels, k=5)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        "n_rel",
        "n_retrieved",
        "precision_k",
        "recall_k",
        "mrr_k",
        "ndcg_k",
    )


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the tri-partite hub
    graph (graph/triangles.clustering_coefficient): degree-ordered
    orientation bounds the wedge join; coefficient = 2T/(d(d−1)),
    integer until the final division.  VALUE oracle: the orient→wedge→
    close pipeline + degree join in DuckDB."""
    from moz_datapipeline_spark.graph.triangles import (
        clustering_coefficient,
    )

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        c.select(
            F.col("c_custkey").alias("src"),
            (F.col("c_custkey") % 97 + 2000000).alias("dst"),
        )
        .unionByName(
            c.select(
                F.col("c_custkey").alias("src"),
                (F.col("c_custkey") % 31 + 2200000).alias("dst"),
            )
        )
        .unionByName(
            c.select(
                (F.col("c_custkey") % 97 + 2000000).alias("src"),
                (F.col("c_custkey") % 31 + 2200000).alias("dst"),
            )
        )
    )
    return clustering_coefficient(edges)


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman degree assortativity of the customer↔supplier trade
    graph (graph/structure.degree_assortativity): node-sized degree
    aggregate, two joins, one exact integer-sums fold.  VALUE oracle:
    identical symmetrized fold in DuckDB."""
    from moz_datapipeline_spark.graph.structure import degree_assortativity

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + 1000000).cast("long").alias("dst"),
        )
        .distinct()
    )
    return degree_assortativity(edges)


def q_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed-edge reciprocity over a deterministic follow graph
    derived from customer keys (graph/structure.reciprocity): distinct
    pass + swapped-key semi join, exact integer counts.  VALUE oracle:
    the same semi join in DuckDB."""
    from moz_datapipeline_spark.graph.structure import reciprocity

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    # follow graph: everyone follows (key*7) mod N and (key*3) mod N
    # over a 1..N ring — reverse edges exist exactly where the maps
    # collide, giving a non-trivial reciprocity in (0, 1)
    edges = c.select(
        F.col("c_custkey").alias("src"),
        ((F.col("c_custkey") * 7) % 1500 + 1).alias("dst"),
    ).unionByName(
        c.select(
            F.col("c_custkey").alias("src"),
            ((F.col("c_custkey") * 3) % 1500 + 1).alias("dst"),
        )
    )
    return reciprocity(edges)


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf exponent + fit quality over the documents corpus
    (operators/text.zipf_fit): one (term, count) hash aggregate, a
    distributed top-500 heap cut (TakeOrdered, never a global sort),
    log-log OLS over the 500-row frame.  VALUE oracle: the same
    row_number + regression sums in DuckDB."""
    from moz_datapipeline_spark.operators.text import zipf_fit

    d = _t(spark, sf_dir, "documents")
    return zipf_fit(d, "text", top_n=500)


def q_tukey_hsd_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey–Kramer pairwise contrasts of quantity across return flags
    (operators/analytics.tukey_hsd): one per-group hash aggregate +
    a k×k self-join of the K-ROW rollup, never the data.  VALUE
    oracle: the same MSW fold + pair join in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import tukey_hsd

    li = _t(spark, sf_dir, "lineitem")
    return tukey_hsd(li, "l_returnflag", "l_quantity")


def q_cohens_d_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d of quantity between open and finished line status
    (operators/analytics.cohens_d): one conditional-sum pass, pooled
    sample SD.  VALUE oracle: the same arm sums in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import cohens_d

    li = _t(spark, sf_dir, "lineitem")
    return cohens_d(li, "l_linestatus", "l_quantity", "O", "F")


def q_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population mean/std/skewness/kurtosis of quantity per return
    flag (operators/analytics.moments_profile): ONE hash aggregate
    carrying power sums to x⁴ — integer-valued quantities keep every
    sum exact.  Raw-sum formulas sidestep the engines' disagreeing
    sample-correction defaults.  VALUE oracle: the same power sums in
    DuckDB."""
    from moz_datapipeline_spark.operators.analytics import moments_profile

    li = _t(spark, sf_dir, "lineitem")
    return moments_profile(li, "l_returnflag", "l_quantity")


def q_pythagorean_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic/geometric/harmonic mean of quantity per return flag
    (operators/analytics.pythagorean_means): one aggregate with
    (Σx, Σln x, Σ1/x).  VALUE oracle: identical fold in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        pythagorean_means,
    )

    li = _t(spark, sf_dir, "lineitem")
    return pythagorean_means(li, "l_returnflag", "l_quantity")


def q_trimmed_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-trimmed mean of order value in EXACT CENTS
    (operators/analytics.trimmed_mean): cut points from the
    recursion-backed distributed exact quantiles inline as literals,
    the trim is one conditional-sum aggregate.  Cents (floor(x·100 +
    0.5)) keep the band sum exact across engines — the float-mean
    hash-match rule.  VALUE oracle: DuckDB quantile_cont cuts + the
    same closed-band mean."""
    from moz_datapipeline_spark.operators.analytics import trimmed_mean

    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents")
    )
    return trimmed_mean(o, "cents", trim=0.05)


def q_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary cross-entropy of a deterministic dyadic score
    (operators/mleval.log_loss): clipped ln terms, one aggregate.
    VALUE oracle: the same clip + fold in DuckDB."""
    from moz_datapipeline_spark.operators.mleval import log_loss

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") % 1024).cast("double") / 1024.0).alias(
            "score"
        ),
        (
            (F.col("o_orderkey") % 1024) + 120 * (F.col("o_orderkey") % 5)
            > 760
        )
        .cast("int")
        .alias("label"),
    )
    return log_loss(o, "score", "label")


def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSD / Hellinger / TVD between early and late ship-mode...
    return-flag mixes (operators/validation.distribution_distance):
    category rollups + full outer join keeps zero cells finite where
    PSI's log-ratio blows up.  VALUE oracle: identical folds in
    DuckDB."""
    from moz_datapipeline_spark.operators.validation import (
        distribution_distance,
    )

    li = _t(spark, sf_dir, "lineitem")
    early = li.filter(F.year("l_shipdate") <= 1997)
    late = li.filter(F.year("l_shipdate") >= 1998)
    return distribution_distance(early, late, "l_returnflag")


def q_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full precision-recall curve of order value vs finished status
    (operators/mleval.pr_curve): per-distinct-score rollup + the
    two-phase distributed DESC prefix sum (roc_auc idiom) — one row
    per operating point, never a global window.  VALUE oracle: the
    same rollup + cumulative window in DuckDB."""
    from moz_datapipeline_spark.operators.mleval import pr_curve

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("score"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )
    return pr_curve(o, "score", "label")


def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-bucket rolling feature block over the hourly event
    COUNT rollup (operators/temporal.rolling_features): one bounded
    ROWS window per group over the rollup, integer counts keep every
    windowed sum exact.  VALUE oracle: the same frame in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import (
        _bucket_epoch,
        rolling_features,
    )

    ev = _events(spark, sf_dir)
    rollup = ev.groupBy(
        F.col("event_type").alias("grp"),
        _bucket_epoch(ev, "ts", "hour").alias("t"),
    ).agg(F.count(F.lit(1)).cast("double").alias("v"))
    out = rolling_features(rollup, "grp", "t", "v", window=24)
    return out.select(
        F.col("grp").alias("event_type"),
        F.col("t").alias("hour_epoch"),
        F.col("v").alias("n_events"),
        "roll_mean",
        "roll_std",
        "roll_min",
        "roll_max",
        "roll_n",
    )


def q_pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide pivot: revenue cents by return flag × line status via the
    native ``groupBy().pivot(values=...)`` (explicit value list — no
    extra distinct pass; compiles to one hash aggregate with
    conditional sums).  VALUE oracle: conditional sums in DuckDB."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        + F.lit(0.5)
    )
    return (
        li.groupBy(F.col("l_returnflag"))
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(cents).cast("long"))
        .withColumnsRenamed({"O": "rev_open", "F": "rev_finished"})
    )


def q_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram + Hill power-law exponent of the trade graph
    (graph/structure.degree_distribution): node-sized aggregates after
    one canonical edge pass.  VALUE oracle: identical folds in
    DuckDB."""
    from moz_datapipeline_spark.graph.structure import degree_distribution

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + 1000000).cast("long").alias("dst"),
        )
        .distinct()
    )
    return degree_distribution(edges)


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier counts of order value (cents) per priority
    (operators/analytics.iqr_outliers): exact grouped quartiles from
    the recursion-backed distributed histogram selection inline as
    literals; the count is one conditional-sum aggregate.  VALUE
    oracle: quantile_cont quartiles + the same fences."""
    from moz_datapipeline_spark.operators.analytics import iqr_outliers

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents"),
    )
    return iqr_outliers(o, "cents", group_cols=["priority"])


def q_theil_u_assoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U(status | priority) over orders
    (operators/analytics.theil_u): one contingency rollup, algebraic
    entropy folds, integer counts until the ln.  VALUE oracle:
    identical folds in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import theil_u

    o = _t(spark, sf_dir, "orders")
    return theil_u(o, "o_orderstatus", "o_orderpriority")


def q_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative hazard over user activity spans — same
    subjects as the Kaplan–Meier query (operators/analytics
    .nelson_aalen): duration rollup + running Σ d/n window, additive
    hazard.  VALUE oracle: identical risk-set and running-sum windows
    in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import nelson_aalen

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    edge = e.agg(F.max(day).alias("_edge"))
    subj = spans.crossJoin(F.broadcast(edge)).select(
        (F.col("_last") - F.col("_first")).alias("duration"),
        (F.col("_last") < F.col("_edge") - 3).cast("int").alias("event"),
    )
    return nelson_aalen(subj, "duration", "event")


def q_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of order value in cents, 10 population tiles
    (operators/analytics.lorenz_curve): two-phase distributed rank +
    exact NTILE arithmetic, tile-rollup cumulative folds — never a
    global ntile window.  VALUE oracle: row_number + the same tile
    formula in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import lorenz_curve

    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents")
    )
    return lorenz_curve(o, "cents", n_points=10)


def q_heatmap_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20×20 joint-density grid of quantity × extended price
    (operators/analytics.heatmap_bins): one min/max row, one
    grid-sized hash aggregate.  VALUE oracle: identical bin
    arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import heatmap_bins

    li = _t(spark, sf_dir, "lineitem")
    return heatmap_bins(
        li, "l_quantity", "l_extendedprice", x_bins=20, y_bins=20
    )


_KTRUSS_ROUNDS = 3


def q_k_truss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the tri-partite hub graph (graph/truss.k_truss):
    3 bounded support-peel rounds, each a degree-ordered wedge join —
    never a naive 3-way self-join; early_stop exits at the fixpoint
    with oracle parity (extra oracle rounds are no-ops).  VALUE
    oracle: the same rounds unrolled as MATERIALIZED DuckDB CTEs."""
    from moz_datapipeline_spark.graph.truss import k_truss

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    edges = (
        c.select(
            F.col("c_custkey").alias("src"),
            (F.col("c_custkey") % 97 + 2000000).alias("dst"),
        )
        .unionByName(
            c.select(
                F.col("c_custkey").alias("src"),
                (F.col("c_custkey") % 31 + 2200000).alias("dst"),
            )
        )
        .unionByName(
            c.select(
                (F.col("c_custkey") % 97 + 2000000).alias("src"),
                (F.col("c_custkey") % 31 + 2200000).alias("dst"),
            )
        )
    )
    return k_truss(edges, k=4, rounds=_KTRUSS_ROUNDS)


def q_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score intervals for finish rate per order priority
    (operators/analytics.wilson_ci): one integer-count aggregate,
    closed-form interval.  VALUE oracle: identical arithmetic in
    DuckDB."""
    from moz_datapipeline_spark.operators.analytics import wilson_ci

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("o_orderstatus") == "F").cast("int").alias("done"),
    )
    return wilson_ci(o, "priority", "done")


def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP noisy segment sizes (operators/analytics.dp_noisy_counts):
    deterministic md5-seeded Laplace noise on per-segment counts —
    reproducible releases, replayable in the oracle.  VALUE oracle:
    the same md5 inverse-CDF draw in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import dp_noisy_counts

    c = _t(spark, sf_dir, "customer")
    return dp_noisy_counts(c, "c_mktsegment", epsilon=1.0)


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each click picks up the user's NEXT error
    at-or-after it (operators/temporal.asof_join_forward) — the
    union-and-carry plan reflected (first ignore-nulls over an
    unbounded-FOLLOWING frame), one shuffle on the user key.
    Timestamps canonicalize to µs so engine and oracle agree exactly
    (the asof_join convention).  VALUE oracle: DuckDB ASOF LEFT JOIN
    with the >= inequality."""
    from moz_datapipeline_spark.operators.temporal import asof_join_forward

    e = _events(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.expr("ts DIV 1000").alias("ts_us"), "value"
    )
    errors = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.expr("ts DIV 1000").alias("ts_us"),
        F.col("value").alias("err_value"),
    )
    out = asof_join_forward(
        clicks, errors, key="user_id", ts="ts_us",
        right_value_cols=["err_value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("err_value_right").alias("next_err_value"),
        F.col("ts_us_right").alias("next_err_ts"),
    )


def q_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue cents
    (operators/analytics.abc_analysis): per-key rollup + the two-phase
    distributed prefix share in (value DESC, key) order — never a
    global window over the catalog.  VALUE oracle: sequential
    cumulative window over the same rollup in DuckDB (exact integer
    cents make the grouped partial sums engine-identical)."""
    from moz_datapipeline_spark.operators.analytics import abc_analysis

    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_partkey").alias("part"),
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            + F.lit(0.5)
        ).alias("cents"),
    )
    return abc_analysis(base, "part", "cents")


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning user split per 30-day bucket — the product
    growth readout: a user is NEW in the bucket of their first event,
    RETURNING in any later bucket they appear in.  One per-user
    min-day aggregate + one per-(bucket, user) presence rollup +
    a broadcast join of the user-sized first-seen table; integral day
    buckets (ts div day_ns div 30) keep both engines exact.  VALUE
    oracle: identical folds in DuckDB."""
    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    present = (
        e.select(
            F.col("user_id"),
            F.expr("(ts div 86400000000000) div 30").alias("bucket"),
        )
        .distinct()
    )
    first = present.groupBy("user_id").agg(
        F.min("bucket").alias("_first")
    )
    staged = present.join(first, "user_id")
    return (
        staged.groupBy("bucket")
        .agg(
            F.sum(
                (F.col("bucket") == F.col("_first")).cast("long")
            ).alias("new_users"),
            F.sum(
                (F.col("bucket") > F.col("_first")).cast("long")
            ).alias("returning_users"),
        )
    )


def q_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per 30-day bucket: average daily distinct
    users over monthly distinct users — the engagement ratio.  Two
    distinct rollups (day-level, bucket-level) + exact integer folds;
    bucket = day div 30 on integral epoch days.  VALUE oracle:
    identical rollups in DuckDB."""
    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    daily = (
        e.select(F.col("user_id"), day.alias("day"))
        .distinct()
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("_dau"))
        .withColumn("bucket", F.expr("day div 30"))
    )
    dau = daily.groupBy("bucket").agg(
        F.sum("_dau").alias("_dau_sum"),
        F.count(F.lit(1)).alias("_days"),
    )
    mau = (
        e.select(
            F.col("user_id"), F.expr("(ts div 86400000000000) div 30").alias("bucket")
        )
        .distinct()
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("mau"))
    )
    out = dau.join(mau, "bucket")
    avg_dau = F.col("_dau_sum").cast("double") / F.col("_days").cast(
        "double"
    )
    return out.select(
        "bucket",
        F.round(avg_dau, 6).alias("avg_dau"),
        "mau",
        F.round(
            F.when(F.col("mau") > 0, avg_dau / F.col("mau").cast("double")),
            6,
        ).alias("stickiness"),
    )


def q_group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority modal quantity (operators/analytics.group_mode):
    two map-side-combined aggregates + a group-sized join, smallest-
    value tiebreak — never an engine-lottery mode().  VALUE oracle:
    the same peak + min fold in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import group_mode

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    j = o.join(li, o["o_orderkey"] == li["l_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        F.col("l_quantity").cast("int").alias("qty"),
    )
    return group_mode(j, "priority", "qty")


def q_log_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between even/odd user cohorts' activity-span
    survival (operators/analytics.log_rank_test): duration×group
    rollup + prefix risk sets + one fold — windows only over the
    duration rollup.  VALUE oracle: identical windows in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import log_rank_test

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    edge = e.agg(F.max(day).alias("_edge"))
    subj = spans.crossJoin(F.broadcast(edge)).select(
        (F.col("user_id") % 2).cast("int").alias("cohort"),
        (F.col("_last") - F.col("_first")).alias("duration"),
        (F.col("_last") < F.col("_edge") - 3).cast("int").alias("event"),
    )
    return log_rank_test(subj, "duration", "event", "cohort")


def q_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences of order value (cents): treated =
    odd customers, post = orders from 1997 on (operators/analytics
    .diff_in_diff): one conditional-sum aggregate over the 2×2.
    VALUE oracle: the same four cells in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import diff_in_diff

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 2).cast("int").alias("treated"),
        (F.year("o_orderdate") >= 1997).cast("int").alias("post"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).alias("cents"),
    )
    return diff_in_diff(o, "treated", "post", "cents")


def q_covariate_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized mean differences of quantity/linenumber between
    returned and kept line items (operators/analytics
    .covariate_balance): one stack unpivot + one conditional-sum
    aggregate per covariate; integer covariates keep every sum exact.
    VALUE oracle: identical folds in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        covariate_balance,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_returnflag") == "R").cast("int").alias("treated"),
        F.col("l_quantity"),
        F.col("l_linenumber").cast("double").alias("l_linenumber"),
    )
    return covariate_balance(li, "treated", ["l_quantity", "l_linenumber"])


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid drift between even- and odd-labelled embedding slices
    (operators/embed.embedding_drift): posexplode → dim-sized means →
    one fold; nothing row-sized after the first aggregate.  VALUE
    oracle: unnest + per-ordinal means in DuckDB."""
    from moz_datapipeline_spark.operators.embed import embedding_drift

    e = _t(spark, sf_dir, "embeddings")
    return embedding_drift(
        e.filter(F.col("label") % 2 == 0), e.filter(F.col("label") % 2 == 1)
    )


def q_hourly_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 event value per (type, hour) — the latency-band
    rollup every operational dashboard needs: exact percentile
    selection per bucket (deterministic across engines; buffers are
    bucket-sized, bounded by construction).  VALUE oracle:
    quantile_cont per bucket in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import _bucket_epoch

    ev = _events(spark, sf_dir)
    out = (
        ev.filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type"),
            _bucket_epoch(ev, "ts", "hour").alias("hour_epoch"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.expr(
                "percentile(value, array(0.5, 0.95, 0.99))"
            ).alias("_q"),
        )
    )
    return out.select(
        "event_type",
        "hour_epoch",
        "n",
        F.round(F.col("_q")[0], 6).alias("p50"),
        F.round(F.col("_q")[1], 6).alias("p95"),
        F.round(F.col("_q")[2], 6).alias("p99"),
    )


def q_rbo_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap between two deterministic arithmetic
    rankings per query (operators/mleval.rbo_overlap): per-query topk
    windows, max-rank prefix weights as exact literals.  VALUE
    oracle: the same windows + weight map in DuckDB."""
    from moz_datapipeline_spark.operators.mleval import rbo_overlap

    d = _t(spark, sf_dir, "documents").select("doc_id")
    run_a = d.select(
        (F.col("doc_id") % 20).alias("query_id"),
        F.col("doc_id").alias("doc_id"),
        ((F.col("doc_id") * 37) % 101).cast("double").alias("score"),
    )
    run_b = d.select(
        (F.col("doc_id") % 20).alias("query_id"),
        F.col("doc_id").alias("doc_id"),
        ((F.col("doc_id") * 53) % 97).cast("double").alias("score"),
    )
    out = rbo_overlap(run_a, run_b, k=10, p=0.9)
    return out.select(
        F.col("query_id").cast("long").alias("query_id"),
        "n_common",
        "rbo",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "pricing_summary": q_pricing_summary,
        "proj_filter": q_proj_filter,
        "conditional_recode": q_conditional_recode,
        "regex_extract": q_regex_extract,
        "linear_rescale": q_linear_rescale,
        "global_max_normalize": q_global_max_normalize,
        "percentile_filter": q_percentile_filter,
        "pair_generation": q_pair_generation,
        "multiway_join": q_multiway_join,
        "merge_indicators": q_merge_indicators,
        "argmin_join": q_argmin_join,
        "reverse_pair_fold": q_reverse_pair_fold,
        "shipping_priority": q_shipping_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "conditional_agg_priority": q_conditional_agg_priority,
        "distinct_supplier_variety": q_distinct_supplier_variety,
        "large_order_topk": q_large_order_topk,
        "anti_join_missing": q_anti_join_missing,
        "unpivot": q_unpivot,
        "trapezoid_integration": q_trapezoid_integration,
        "severity_banding": q_severity_banding,
        "weighted_average": q_weighted_average,
        "haversine_length": q_haversine_length,
        "spatial_bbox_join": q_spatial_bbox_join,
        "polygon_indicator": q_polygon_indicator,
        "polygon_centroid": q_polygon_centroid,
        "dissolve_regions": q_dissolve_regions,
        "events_hourly": q_events_hourly,
        "sessionization": q_sessionization,
        "asof_join": q_asof_join,
        "range_join_bucketed": q_range_join_bucketed,
        "multi_resolution_rollup": q_multi_resolution_rollup,
        "dedup_exact": q_dedup_exact,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "ngram_containment": q_ngram_containment,
        "batch_by_length": q_batch_by_length,
        "negative_sample": q_negative_sample,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        "similarity_topk": q_similarity_topk,
        "similarity_ivf": q_similarity_ivf,
        "embedding_near_dup": q_embedding_near_dup,
        "lsh_topk": q_lsh_topk,
        "token_count": q_token_count,
        "redact_pii": q_redact_pii,
        "doc_chunks": q_doc_chunks,
        "pack_documents": q_pack_documents,
        "quantize_embeddings": q_quantize_embeddings,
        "skew_salted_sum": q_skew_salted_sum,
        "bpe_token_count": q_bpe_token_count,
        "doc_winnowing": q_doc_winnowing,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "doc_fingerprint": q_doc_fingerprint,
        "stable_sample": q_stable_sample,
        "stratified_sample": q_stratified_sample,
        "incremental_dedup": q_incremental_dedup,
        "embed_documents": q_embed_documents,
        "quality_probe": q_quality_probe,
        "shard_assignment": q_shard_assignment,
        "warc_roundtrip": q_warc_roundtrip,
        "curation_pipeline": q_curation_pipeline,
        "url_canonical": q_url_canonical,
        "semantic_decontaminate": q_semantic_decontaminate,
        "bpe_merges": q_bpe_merges,
        "corpus_split": q_corpus_split,
        "repetition_stats": q_repetition_stats,
        "domain_cap": q_domain_cap,
        "vocab_stats": q_vocab_stats,
        "tfidf_terms": q_tfidf_terms,
        "decontaminate": q_decontaminate,
        "quality_funnel": q_quality_funnel,
        "boilerplate_lines": q_boilerplate_lines,
        "funnel_conversion": q_funnel_conversion,
        "cohort_retention": q_cohort_retention,
        "approx_distinct": q_approx_distinct,
        "approx_percentile": q_approx_percentile,
        "view_click_attribution": q_view_click_attribution,
        "random_projection": q_random_projection,
        "kmeans": q_kmeans,
        "semantic_dedup": q_semantic_dedup,
        "ivf_indexed": q_ivf_indexed,
        "embedding_covariance": q_embedding_covariance,
        "pq_codes": q_pq_codes,
        "pq_codes_fast": q_pq_codes_fast,
        "pq_adc": q_pq_adc,
        "pq_adc_rerank": q_pq_adc_rerank,
        "ivfadc_rerank": q_ivfadc_rerank,
        "shapefile_scan": q_shapefile_scan,
        "late_shipment_priority": q_late_shipment_priority,
        "customer_order_distribution": q_customer_order_distribution,
        "promo_revenue": q_promo_revenue,
        "small_qty_revenue": q_small_qty_revenue,
        "disjunctive_filter": q_disjunctive_filter,
        "inactive_customer_balance": q_inactive_customer_balance,
        "bilateral_volume": q_bilateral_volume,
        "forecast_revenue": q_forecast_revenue,
        "cheapest_supplier_per_part": q_cheapest_supplier_per_part,
        "market_share": q_market_share,
        "product_profit": q_product_profit,
        "returned_revenue_topk": q_returned_revenue_topk,
        "part_value_concentration": q_part_value_concentration,
        "excess_supply_candidates": q_excess_supply_candidates,
        "waiting_orders_suppliers": q_waiting_orders_suppliers,
        "top_supplier": q_top_supplier,
        "criticality": q_criticality,
        "eaul": q_eaul,
        "bridge_snap": q_bridge_snap,
        "flood_ead": q_flood_ead,
        "grouped_collect": q_grouped_collect,
        "json_props": q_json_props,
        "raster_stats": q_raster_stats,
        "multimodal_features": q_multimodal_features,
        "video_frames": q_video_frames,
        "image_resize": q_image_resize,
        "image_near_dup": q_image_near_dup,
        "warc_cdx_fetch": q_warc_cdx_fetch,
        "disjunctive_revenue": q_disjunctive_revenue,
        "audio_near_dup": q_audio_near_dup,
        "budget_resample": q_budget_resample,
        "bpe_segment": q_bpe_segment,
        "kcore": q_kcore,
        "lpa_communities": q_lpa_communities,
        "corpus_diff": q_corpus_diff,
        "fuzzy_join": q_fuzzy_join,
        "corpus_report": q_corpus_report,
        "pagerank": q_pagerank,
        "pagerank_personalized": q_pagerank_personalized,
        "bloom_semi_join": q_bloom_semi_join,
        "lm_score": q_lm_score,
        "mixture_resample": q_mixture_resample,
        "temperature_resample": q_temperature_resample,
        "duplicate_spans": q_duplicate_spans,
        "triangle_count": q_triangle_count,
        "zorder_curve": q_zorder_curve,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "weighted_sample": q_weighted_sample,
        "bm25_topk": q_bm25_topk,
        "conjunctive_search": q_conjunctive_search,
        "posting_store_search": q_posting_store_search,
        "hll_distinct": q_hll_distinct,
        "validate_constraints": q_validate_constraints,
        "profile_columns": q_profile_columns,
        "value_histogram": q_value_histogram,
        "char_entropy": q_char_entropy,
        "normalize_unicode": q_normalize_unicode,
        "anomaly_zscore": q_anomaly_zscore,
        "more_like_this": q_more_like_this,
        "depth_histogram": q_depth_histogram,
        "source_overlap": q_source_overlap,
        "winsorize": q_winsorize,
        "robust_scale": q_robust_scale,
        "lm_trigram": q_lm_trigram,
        "global_rank": q_global_rank,
        "ngram_diversity": q_ngram_diversity,
        "pmi_collocations": q_pmi_collocations,
        "psi_drift": q_psi_drift,
        "cusum_changepoints": q_cusum_changepoints,
        "relational_division": q_relational_division,
        "seasonal_decompose": q_seasonal_decompose,
        "group_sample": q_group_sample,
        "pareto_frontier": q_pareto_frontier,
        "lag_features": q_lag_features,
        "golden_record": q_golden_record,
        "interval_coverage": q_interval_coverage,
        "sorted_neighborhood": q_sorted_neighborhood,
        "benford_audit": q_benford_audit,
        "chi_square": q_chi_square,
        "quantile_normalize": q_quantile_normalize,
        "weighted_median": q_weighted_median,
        "autocorrelation": q_autocorrelation,
        "mutual_information": q_mutual_information,
        "ewma_smooth": q_ewma_smooth,
        "event_paths": q_event_paths,
        "copurchase_lift": q_copurchase_lift,
        "kmv_distinct": q_kmv_distinct,
        "scd2_merge": q_scd2_merge,
        "peak_concurrency": q_peak_concurrency,
        "grouped_ols": q_grouped_ols,
        "ks_drift": q_ks_drift,
        "set_similarity": q_set_similarity,
        "link_prediction": q_link_prediction,
        "importance_resample": q_importance_resample,
        "kmv_overlap": q_kmv_overlap,
        "hits_scores": q_hits_scores,
        "mann_kendall": q_mann_kendall,
        "correlation_matrix": q_correlation_matrix,
        "rrf_fusion": q_rrf_fusion,
        "harmonic_centrality": q_harmonic_centrality,
        "gap_fill": q_gap_fill,
        "ab_test_cuped": q_ab_test_cuped,
        "bootstrap_ci": q_bootstrap_ci,
        "kneser_ney": q_kneser_ney,
        "rollup_cube": q_rollup_cube,
        "cohen_kappa": q_cohen_kappa,
        "profile_diff": q_profile_diff,
        "margin_mining": q_margin_mining,
        "margin_mining_lsh": q_margin_mining_lsh,
        "semantic_decontaminate_lsh": q_semantic_decontaminate_lsh,
        "topk_with_ties": q_topk_with_ties,
        "fdr_battery": q_fdr_battery,
        "dataset_fingerprint": q_dataset_fingerprint,
        "order_priority_check": q_order_priority_check,
        "supplier_part_variety": q_supplier_part_variety,
        "rfm_segments": q_rfm_segments,
        "cume_dist_ratio": q_cume_dist_ratio,
        "ohlc_bars": q_ohlc_bars,
        "twap": q_twap,
        "forecast_backtest": q_forecast_backtest,
        "mad_robust": q_mad_robust,
        "readability": q_readability,
        "query_likelihood": q_query_likelihood,
        "embedding_standardize": q_embedding_standardize,
        "target_encode": q_target_encode,
        "feature_hashing": q_feature_hashing,
        "neighbor_features": q_neighbor_features,
        "rake_keyphrases": q_rake_keyphrases,
        "markov_transitions": q_markov_transitions,
        "kaplan_meier": q_kaplan_meier,
        "fk_integrity": q_fk_integrity,
        "period_growth": q_period_growth,
        "ctfidf_terms": q_ctfidf_terms,
        "bipartite_projection": q_bipartite_projection,
        "psi_categorical": q_psi_categorical,
        "time_to_convert": q_time_to_convert,
        "behavior_entropy": q_behavior_entropy,
        "holt_linear": q_holt_linear,
        "gini_concentration": q_gini_concentration,
        "roc_auc": q_roc_auc,
        "decile_lift": q_decile_lift,
        "spearman_correlation": q_spearman_correlation,
        "cramers_v_assoc": q_cramers_v_assoc,
        "anova_quantity": q_anova_quantity,
        "brown_forsythe_var": q_brown_forsythe_var,
        "proportion_ztest_arms": q_proportion_ztest_arms,
        "classification_report": q_classification_report,
        "calibration_curve": q_calibration_curve,
        "retrieval_metrics": q_retrieval_metrics,
        "clustering_coefficient": q_clustering_coefficient,
        "degree_assortativity": q_degree_assortativity,
        "reciprocity": q_reciprocity,
        "zipf_fit": q_zipf_fit,
        "tukey_hsd_pairs": q_tukey_hsd_pairs,
        "cohens_d_effect": q_cohens_d_effect,
        "moments_profile": q_moments_profile,
        "pythagorean_means": q_pythagorean_means,
        "trimmed_mean_price": q_trimmed_mean_price,
        "log_loss": q_log_loss,
        "distribution_drift": q_distribution_drift,
        "pr_curve": q_pr_curve,
        "rolling_features": q_rolling_features,
        "pivot_wide": q_pivot_wide,
        "degree_distribution": q_degree_distribution,
        "iqr_outliers": q_iqr_outliers,
        "theil_u_assoc": q_theil_u_assoc,
        "nelson_aalen": q_nelson_aalen,
        "lorenz_curve": q_lorenz_curve,
        "heatmap_bins": q_heatmap_bins,
        "k_truss": q_k_truss,
        "wilson_ci": q_wilson_ci,
        "dp_noisy_counts": q_dp_noisy_counts,
        "asof_forward": q_asof_forward,
        "abc_analysis": q_abc_analysis,
        "new_vs_returning": q_new_vs_returning,
        "dau_mau": q_dau_mau,
        "group_mode": q_group_mode,
        "log_rank": q_log_rank,
        "diff_in_diff": q_diff_in_diff,
        "covariate_balance": q_covariate_balance,
        "embedding_drift": q_embedding_drift,
        "hourly_percentiles": q_hourly_percentiles,
        "rbo_overlap": q_rbo_overlap,
        "merge_eaul": q_merge_eaul,
        "dedup_stream_batch": q_dedup_stream_batch,
        "ingest_dedup_batch": q_ingest_dedup_batch,
        "bradley_terry": q_bradley_terry,
        "fleiss_kappa": q_fleiss_kappa,
        "mann_whitney": q_mann_whitney,
        "isotonic_fit": q_isotonic_fit,
        "krippendorff": q_krippendorff,
        "sequence_ngrams": q_sequence_ngrams,
        "modularity": q_modularity,
        "rmst": q_rmst,
        "quantile_bin": q_quantile_bin,
        "grid_knn": q_grid_knn,
        "modularity_move": q_modularity_move,
        "ols_fit": q_ols_fit,
        "grid_density": q_grid_density,
        "ols_residuals": q_ols_residuals,
        "km_median": q_km_median,
        "interval_overlap": q_interval_overlap,
        "touch_attribution": q_touch_attribution,
        "collapse_rare": q_collapse_rare,
        "quantile_bin_grouped": q_quantile_bin_grouped,
        "touch_decay": q_touch_decay,
        "repetition_signals": q_repetition_signals,
        "eb_shrink": q_eb_shrink,
        "km_survival_at": q_km_survival_at,
        "dataset_diff": q_dataset_diff,
        "cohort_ltv": q_cohort_ltv,
        "state_durations": q_state_durations,
        "path_flows": q_path_flows,
        "local_peaks": q_local_peaks,
        "trajectory_stats": q_trajectory_stats,
        "prorate": q_prorate,
        "robust_zscore": q_robust_zscore,
        "expectations": q_expectations,
        "item_similarity": q_item_similarity,
        "weighted_quantiles": q_weighted_quantiles,
        "conversion_paths": q_conversion_paths,
        "lexical_diversity": q_lexical_diversity,
        "weibull_fit": q_weibull_fit,
        "inter_event_gaps": q_inter_event_gaps,
        "overdispersion": q_overdispersion,
        "adoption_curve": q_adoption_curve,
        "kruskal_wallis": q_kruskal_wallis,
        "g_test": q_g_test,
        "periodogram": q_periodogram,
        "croston": q_croston,
        "ridge_fit": q_ridge_fit,
        "friedman_test": q_friedman_test,
        "uplift_bins": q_uplift_bins,
        "brier_decomposition": q_brier_decomposition,
        "pettitt_changepoint": q_pettitt_changepoint,
        "hurst_exponent": q_hurst_exponent,
        "poisson_rate_test": q_poisson_rate_test,
        "mcnemar_test": q_mcnemar_test,
        "cochran_q": q_cochran_q,
        "inequality_indices": q_inequality_indices,
        "span_corruption": q_span_corruption,
        "runs_test": q_runs_test,
        "decomposition_strength": q_decomposition_strength,
        "page_trend": q_page_trend,
        "msprt_test": q_msprt_test,
        "quantile_treatment_effect": q_quantile_treatment_effect,
        "wasserstein_1d": q_wasserstein_1d,
        "js_divergence": q_js_divergence,
        "mahalanobis_outliers": q_mahalanobis_outliers,
        "windowed_topk": q_windowed_topk,
        "random_walks": q_random_walks,
        "holm_correct": q_holm_correct,
        "srm_check": q_srm_check,
        "skipgram_pairs": q_skipgram_pairs,
        "adstock_transform": q_adstock_transform,
        "price_index": q_price_index,
        "compaction_plan": q_compaction_plan,
        "frequent_itemsets": q_frequent_itemsets,
        "seasonal_mad_anomalies": q_seasonal_mad_anomalies,
        "calendar_features": q_calendar_features,
        "rolling_active_users": q_rolling_active_users,
        "mix_rate_decomposition": q_mix_rate_decomposition,
        "cdc_apply": q_cdc_apply,
        "k_anonymity": q_k_anonymity,
        "paired_ttest": q_paired_ttest,
        "cochran_armitage": q_cochran_armitage,
        "odds_ratio": q_odds_ratio,
        "quantile_ci": q_quantile_ci,
        "capture_recapture": q_capture_recapture,
        "mrr_bridge": q_mrr_bridge,
        "grid_dbscan": q_grid_dbscan,
        "zorder_layout": q_zorder_layout,
        "record_linkage": q_record_linkage,
        "cox_ph": q_cox_ph,
        "logit_fit": q_logit_fit,
        "psm_att": q_psm_att,
        "shapley_attribution": q_shapley_attribution,
        "markov_attribution": q_markov_attribution,
        "ipw_ate": q_ipw_ate,
        "cuped_adjust": q_cuped_adjust,
        "conformal_intervals": q_conformal_intervals,
        "regression_discontinuity": q_regression_discontinuity,
        "cumulative_incidence": q_cumulative_incidence,
        "poisson_fit": q_poisson_fit,
        "twfe_fit": q_twfe_fit,
        "rake_weights": q_rake_weights,
    }


def q_grid_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-level DBSCAN over four synthetic customer blobs
    (operators/geometry.grid_dbscan): eps=5 km / min_pts=4 with the
    grid-bounded neighbor join — core/border/noise with min-core-id
    cluster labels.  Positions are md5-scattered (the stable_sample
    convention) so the blobs are genuine 2-D point clouds whose
    density mixes core, border, and noise at the sf0.01 gate scale.  VALUE oracle:
    identical cell join, haversine, degree fold, recursive min-label
    reachability over core-core edges, and border min-cluster
    assignment in DuckDB."""
    from moz_datapipeline_spark.operators.geometry import grid_dbscan

    c = _t(spark, sf_dir, "customer")

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(tag), F.col("c_custkey").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    pts = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        (
            (F.col("c_custkey") % 4) * 30 - 60
            + (h("x:") % 2000) * 0.0005
        ).cast("double").alias("lon"),
        ((h("y:") % 2000) * 0.0005).cast("double").alias("lat"),
    )
    return grid_dbscan(pts, eps_km=5.0, min_pts=4)


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over lineitem's
    (l_partkey, l_suppkey) at 8 bits/dim with data-driven bounds
    (operators/layout.zorder_layout) — the OPTIMIZE ZORDER BY
    write-side layout op; rows close in BOTH dimensions share a
    key prefix so parquet min/max stats prune on both columns.
    VALUE oracle: identical min/max bounds, equal-width quantize,
    clamp, and shift-or bit interleave in DuckDB."""
    from moz_datapipeline_spark.operators.layout import zorder_layout

    li = _t(spark, sf_dir, "lineitem")
    laid = zorder_layout(
        li, ["l_partkey", "l_suppkey"], bits=8, num_partitions=32
    )
    return laid.select("l_orderkey", "l_linenumber", "zorder_key")



def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record linkage over nation-blocked customer
    pairs (operators/linkage.record_linkage_score): three field
    comparisons (market segment, last-2-digit name suffix, account
    balance within 100) scored with log2 likelihood-ratio weights
    and the two-threshold link/review/reject rule.  VALUE oracle:
    identical blocking join, agreement predicates, weight literals,
    and thresholds in DuckDB."""
    from moz_datapipeline_spark.operators.linkage import (
        record_linkage_score,
    )

    c = _t(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("id_a"),
        F.col("c_nationkey").alias("_nk"),
        F.col("c_mktsegment").alias("_seg_a"),
        F.substring("c_name", -2, 2).alias("_ph_a"),
        F.col("c_acctbal").alias("_bal_a"),
    )
    b = c.select(
        F.col("c_custkey").alias("id_b"),
        F.col("c_nationkey").alias("_nk"),
        F.col("c_mktsegment").alias("_seg_b"),
        F.substring("c_name", -2, 2).alias("_ph_b"),
        F.col("c_acctbal").alias("_bal_b"),
    )
    pairs = (
        a.join(b, "_nk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            (F.col("_seg_a") == F.col("_seg_b")).alias("seg_ok"),
            (F.col("_ph_a") == F.col("_ph_b")).alias("phone_ok"),
            (
                F.abs(F.col("_bal_a") - F.col("_bal_b")) < 100.0
            ).alias("bal_ok"),
        )
    )
    scored = record_linkage_score(
        pairs,
        {
            "seg_ok": (0.9, 0.2),
            "phone_ok": (0.85, 0.05),
            "bal_ok": (0.7, 0.02),
        },
        upper=4.0,
        lower=0.0,
    )
    return scored.select("id_a", "id_b", "score", "decision")



def q_cox_ph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cox proportional hazards (Breslow ties, fixed 8-round Newton)
    over a synthetic orders survival panel: binary covariate shifts
    survival by construction (operators/analytics.cox_ph).  VALUE
    oracle: the ENTIRE optimization unrolled in DuckDB — 8 iteration
    CTE chains of the same beta-weighted rollup + descending suffix
    sums + score/information fold, then the Wald readouts."""
    from moz_datapipeline_spark.operators.analytics import cox_ph

    o = _t(spark, sf_dir, "orders")
    surv = o.select(
        (
            (F.col("o_orderkey") % 30)
            + 1
            + 15 * (F.col("o_orderkey") % 2)
        ).cast("double").alias("t"),
        F.when(F.col("o_orderkey") % 5 != 0, 1).otherwise(0).alias("e"),
        (F.col("o_orderkey") % 2).cast("double").alias("x"),
    )
    return cox_ph(surv, "t", "e", "x")



def q_logit_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (IRLS Newton, intercept + slope) over a
    synthetic orders conversion panel with a planted monotone lift
    (operators/analytics.logit_fit).  VALUE oracle: all 8 Newton
    rounds unrolled as MATERIALIZED CTE chains (5-moment fold + 2x2
    Cramer per round), then the Wald readouts."""
    from moz_datapipeline_spark.operators.analytics import logit_fit

    o = _t(spark, sf_dir, "orders")
    panel = o.select(
        F.when(
            (F.col("o_orderkey") * 11) % 20
            < 4 + 2 * (F.col("o_orderkey") % 5),
            1.0,
        ).otherwise(0.0).alias("y"),
        (F.col("o_orderkey") % 5).cast("double").alias("x"),
    )
    return logit_fit(panel, "y", "x")



def q_psm_att(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Propensity-score-matched ATT over a synthetic customer
    observational panel (operators/analytics.psm_att): md5-scattered
    scores, ~30% treated, planted +5 lift, caliper 0.01 nearest-
    control matching with replacement.  VALUE oracle: identical
    bucket join, (distance, score, id) winner pick via row_number,
    and paired fold in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import psm_att

    c = _t(spark, sf_dir, "customer")

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(tag), F.col("c_custkey").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    score = (h("p:") % 1000000) / 1000000.0
    treated = (h("t:") % 10 < 3).cast("int")
    panel = c.select(
        F.col("c_custkey").cast("long").alias("uid"),
        score.alias("score"),
        treated.alias("treated"),
        (
            50.0
            + 20.0 * score
            + 5.0 * treated
            + (h("n:") % 100) / 10.0
        ).alias("y"),
    )
    return psm_att(
        panel, "score", "treated", "y", caliper=0.01, id_col="uid"
    )



def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley (carrier-game) channel attribution over the events
    table: each user's distinct non-purchase event-type set is the
    exposure coalition, conversion = the user purchased
    (operators/analytics.shapley_attribution).  VALUE oracle:
    identical per-user set build, equal-split credit explode, and
    exposure rollup in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        shapley_attribution,
    )

    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(
            F.array_distinct(
                F.collect_list(
                    F.when(
                        F.col("event_type") != "purchase",
                        F.col("event_type"),
                    )
                )
            )
        ).alias("chs"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("conv"),
    )
    return shapley_attribution(per_user, "chs", "conv")



def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution over per-user ordered event
    journeys (operators/analytics.markov_attribution): non-purchase
    event types form the path, purchase anywhere = conversion; fixed
    60 forward-propagation rounds so the DuckDB twin can unroll the
    SAME iteration count as chained GROUP BY CTEs (recursive CTEs
    cannot aggregate).  VALUE oracle: identical transition counts,
    probabilities, 60 propagation rounds, and credit scaling."""
    from moz_datapipeline_spark.operators.analytics import (
        markov_attribution,
    )

    ev = _events(spark, sf_dir)
    per_user = ev.groupBy("user_id").agg(
        F.filter(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", "event_type")
                )
            ).cast(
                "array<struct<ts:long,event_id:long,"
                "event_type:string>>"
            ),
            lambda e: e["event_type"] != "purchase",
        ).alias("_ordered"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("conv"),
    ).select(
        F.transform(
            F.col("_ordered"), lambda e: e["event_type"]
        ).alias("path"),
        "conv",
    )
    return markov_attribution(
        per_user, "path", "conv", iterations=60
    )



def q_ipw_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IPW (Hajek) average treatment effect on the md5-scattered
    customer panel with KNOWN +5 lift and confounded assignment
    (treatment probability rises with the score that also drives the
    outcome) (operators/analytics.ipw_ate).  VALUE oracle: identical
    trim predicate and six-sum fold in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import ipw_ate

    c = _t(spark, sf_dir, "customer")

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(tag), F.col("c_custkey").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    score = (h("p:") % 1000000) / 1000000.0
    # confounded assignment: P(treat) = 0.2 + 0.6*score, realized by
    # an independent uniform draw — and e is the TRUE propensity
    treated = (
        (h("u:") % 1000000) / 1000000.0 < 0.2 + 0.6 * score
    ).cast("int")
    panel = c.select(
        treated.alias("t"),
        (
            50.0
            + 20.0 * score
            + 5.0 * treated
            + (h("n:") % 100) / 10.0
        ).alias("y"),
        (0.2 + 0.6 * score).alias("e"),
    )
    return ipw_ate(panel, "t", "y", "e")



def q_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout on the md5 customer panel:
    pre-period covariate drives the outcome (r2 ~ .8), arm is an
    independent coin, planted +4 lift
    (operators/analytics.cuped_adjust).  VALUE oracle: identical
    16-sum moment fold and all downstream arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import cuped_adjust

    c = _t(spark, sf_dir, "customer")

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(tag), F.col("c_custkey").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    x = 100.0 + (h("x:") % 1000) / 10.0
    treat = (h("a:") % 2 == 0).cast("int")
    panel = c.select(
        F.when(treat == 1, "t").otherwise("c").alias("g"),
        (x + 4.0 * treat + (h("n:") % 100) / 20.0).alias("y"),
        x.alias("x"),
    )
    return cuped_adjust(panel, "g", "y", "x", "t", "c")



def q_conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction intervals: odd orderkeys
    calibrate a fixed linear price model, even orderkeys get
    intervals (operators/mleval.conformal_intervals) — the exact
    order-statistic radius via the distributed rank selection.
    VALUE oracle: identical residual build, ceil((n+1)(1-alpha))-th
    smallest via row_number, and the +/- attach in DuckDB."""
    from moz_datapipeline_spark.operators.mleval import (
        conformal_intervals,
    )

    o = _t(spark, sf_dir, "orders")
    yhat = 30000.0 + 2.5 * (F.col("o_orderkey") % 50000)
    cal = o.filter(F.col("o_orderkey") % 2 == 1).select(
        F.col("o_totalprice").cast("double").alias("y"),
        yhat.alias("yhat"),
    )
    pred = o.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").cast("long").alias("oid"),
        yhat.alias("yhat"),
    )
    return conformal_intervals(cal, pred, "y", "yhat", alpha=0.1)



def q_regression_discontinuity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharp RD at a planted threshold over the md5 customer panel:
    the outcome jumps +8 where the running score crosses 0.5
    (operators/analytics.regression_discontinuity), local linear fits
    within +/-0.3.  VALUE oracle: identical 10-moment conditional
    fold and closed-form per-side OLS in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        regression_discontinuity,
    )

    c = _t(spark, sf_dir, "customer")

    def h(tag: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(tag), F.col("c_custkey").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    score = (h("r:") % 1000000) / 1000000.0
    jump = (score >= 0.5).cast("double")
    panel = c.select(
        score.alias("x"),
        (
            10.0
            + 6.0 * score
            + 8.0 * jump
            + (h("n:") % 100) / 25.0
        ).alias("y"),
    )
    return regression_discontinuity(
        panel, "x", "y", cutoff=0.5, bandwidth=0.3
    )



def q_cumulative_incidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence over a two-cause orders
    survival panel (operators/analytics.cumulative_incidence):
    competing causes 'a' (2/7 of keys) and 'b' (1/7), the rest
    censored.  VALUE oracle: identical rollups, exclusive-prefix
    risk sets, sum-of-logs all-cause survival, and per-cause running
    CIF in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        cumulative_incidence,
    )

    o = _t(spark, sf_dir, "orders")
    panel = o.select(
        ((F.col("o_orderkey") % 25) + 1).cast("double").alias("t"),
        F.when(F.col("o_orderkey") % 7 < 2, "a")
        .when(F.col("o_orderkey") % 7 == 2, "b")
        .otherwise("0")
        .alias("e"),
    )
    return cumulative_incidence(panel, "t", "e")



def q_poisson_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson regression over a synthetic orders count panel with a
    planted log-linear rate (operators/analytics.poisson_fit).
    VALUE oracle: all 8 Newton rounds unrolled as MATERIALIZED CTE
    chains (5 mu-moment sums + 2x2 Cramer per round) plus the Wald
    readouts — the logit_fit oracle scheme with exp(eta) weights."""
    from moz_datapipeline_spark.operators.analytics import poisson_fit

    o = _t(spark, sf_dir, "orders")
    panel = o.select(
        ((F.col("o_orderkey") * 13) % 7).cast("double").alias("y"),
        ((F.col("o_orderkey") % 4)).cast("double").alias("x"),
    )
    return poisson_fit(panel, "y", "x")



def q_twfe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects within estimator over a balanced
    synthetic panel built from customers x 8 periods with planted
    unit/time effects and a +3 slope
    (operators/analytics.twfe_fit).  VALUE oracle: identical unit/
    time/grand means, double-demeaned moment fold, and Wald
    readouts in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import twfe_fit

    c = _t(spark, sf_dir, "customer")
    panel = c.select(
        F.col("c_custkey").alias("u"),
        F.explode(
            F.sequence(F.lit(0), F.lit(7))
        ).alias("t"),
    ).select(
        "u",
        "t",
        (
            ((F.col("u") * 7 + F.col("t") * 13) % 100) / 10.0
        ).alias("x"),
    ).select(
        "u",
        "t",
        "x",
        (
            3.0 * F.col("x")
            + (F.col("u") % 50).cast("double")  # unit FE
            + (F.col("t") * F.col("t")).cast("double")  # time FE
            + ((F.col("u") * 31 + F.col("t") * 17) % 20) / 10.0
        ).alias("y"),
    )
    return twfe_fit(panel, "u", "t", "x", "y")



def q_rake_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survey raking to uniform margins over the customer
    (mktsegment x nation-bucket) table
    (operators/analytics.rake_weights): 20 fixed IPF rounds so the
    DuckDB twin unrolls the SAME iteration count as MATERIALIZED
    GROUP BY CTE rounds.  VALUE oracle: identical cell rollup and
    all 20 alternating margin scalings."""
    from moz_datapipeline_spark.operators.analytics import rake_weights

    c = _t(spark, sf_dir, "customer")
    panel = c.select(
        F.col("c_mktsegment").alias("seg"),
        (F.col("c_nationkey") % 5).cast("string").alias("nb"),
    )
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
            "MACHINERY"]
    return rake_weights(
        panel,
        "seg",
        "nb",
        {k: 20.0 for k in segs},
        {str(i): 20.0 for i in range(5)},
    )



def _bootstrap_ci_oracle(B: int = 32, lo: float = 0.025, hi: float = 0.975) -> str:
    """Full DuckDB replay of q_bootstrap_ci: the md5-uniform draw,
    the constant Poisson(1) CDF ladder, all 2B weighted sums in one
    aggregate, and the sorted-array linear-interpolation quantiles —
    nothing read from the Spark side."""
    from moz_datapipeline_spark.operators.analytics import _POIS1_CDF

    def w_expr(b: int) -> str:
        off = 1 if b % 2 == 0 else 17
        u = (
            f"((CAST(('0x' || substr(md5('boot:{b // 2}:' || rid), "
            f"{off}, 15)) "
            "AS BIGINT) + 1.0) / 1152921504606846976.0)"
        )
        cas = "CASE "
        for k, c in enumerate(_POIS1_CDF):
            cas += f"WHEN {u} < {c!r} THEN {k} "
        cas += "ELSE 9 END"
        return cas

    sums = ",\n".join(
        f"sum(({w_expr(b)}) * y) AS wy{b}, "
        f"sum({w_expr(b)}) AS w{b}"
        for b in range(B)
    )
    mean_items = ", ".join(
        f"CASE WHEN w{b} > 0 THEN wy{b} / w{b} END" for b in range(B)
    )

    def quant(p: float) -> str:
        return (
            f"sm[CAST(floor(1 + (len(sm) - 1) * {p!r}) AS INT)]"
            f" + (sm[CAST(ceil(1 + (len(sm) - 1) * {p!r}) AS INT)]"
            f"    - sm[CAST(floor(1 + (len(sm) - 1) * {p!r}) AS INT)])"
            f"   * ((1 + (len(sm) - 1) * {p!r})"
            f"      - floor(1 + (len(sm) - 1) * {p!r}))"
        )

    return f"""
        WITH base AS (
          SELECT l_returnflag AS rflag,
                 CAST(l_extendedprice AS DOUBLE) AS y,
                 CAST(l_orderkey AS VARCHAR) || '-'
                   || CAST(l_linenumber AS VARCHAR) AS rid
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), agg AS (
          SELECT rflag,
                 CAST(count(*) AS BIGINT) AS n,
                 avg(y) AS mean,
                 {sums}
          FROM base GROUP BY 1
        ), arr AS (
          SELECT rflag, n, mean,
                 list_sort(list_filter([{mean_items}],
                                       x -> x IS NOT NULL)) AS sm
          FROM agg
        )
        SELECT rflag, n,
               round(mean, 6) AS mean,
               round(CASE WHEN len(sm) > 0 THEN {quant(lo)} END, 6)
                 AS ci_lo,
               round(CASE WHEN len(sm) > 0 THEN {quant(hi)} END, 6)
                 AS ci_hi,
               {B} AS n_replicates
        FROM arr
    """


def _incremental_dedup_oracle(
    batch_pred: str = "doc_id % 2 = 1",
    prior_pred: str = "doc_id % 2 = 0",
    gate: str = "TRUE",
) -> str:
    """Full independent DuckDB replay of q_incremental_dedup: token
    md5 hashes mod p, rolling 3-gram combine, the 32-permutation
    universal hash family (same (a, b) constants injected literally),
    8-band md5 digests, bucket-join candidates new↔store and new↔new,
    the ≥0.7 signature-agreement estimate, and min-id components via a
    recursive CTE.  Nothing is read from the Spark side — DuckDB
    recomputes every stage from the documents table.

    Parameterized so the ingest batch-twin (``q_ingest_dedup_batch``)
    replays with its own prior/batch split and quality ``gate`` (the
    gate applies to the BATCH side only — gated-out docs never compute
    signatures, never enter the store, never reach the sink)."""
    from moz_datapipeline_spark.operators.dedup import (
        _MERSENNE_P as P,
        _minhash_params,
    )

    new_pred = f"({batch_pred}) AND ({gate})"

    mins = ", ".join(
        f"list_min(list_transform(s, x -> (x*{a} + {b}) % {P}))"
        for a, b in _minhash_params(32)
    )
    return f"""
        WITH RECURSIVE
        newids AS (SELECT doc_id FROM documents WHERE {new_pred}),
        priorids AS (SELECT doc_id FROM documents WHERE {prior_pred}),
        base AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
          FROM documents
        ),
        th AS (
          SELECT doc_id,
                 list_transform(t, x -> CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % {P}) AS h
          FROM base
        ),
        sh AS (
          SELECT doc_id,
                 list_transform(generate_series(1, len(h) - 2),
                   i -> ((((h[i]*1000003 + h[i+1]) % {P}) * 1000003 + h[i+2]) % {P})) AS s
          FROM th WHERE len(h) >= 3
        ),
        sig AS (SELECT doc_id, [{mins}] AS sg FROM sh),
        banded AS (
          SELECT doc_id, bs.b AS band_idx,
                 md5(array_to_string(
                   list_transform(sg[bs.b*4+1 : bs.b*4+4], x -> CAST(x AS VARCHAR)),
                   ',')) AS bh
          FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS b) bs
        ),
        cand_store AS (
          SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
          FROM banded n JOIN banded o
            ON n.band_idx = o.band_idx AND n.bh = o.bh
          WHERE n.doc_id IN (SELECT doc_id FROM newids)
            AND o.doc_id IN (SELECT doc_id FROM priorids)
        ),
        drop_store AS (
          SELECT DISTINCT c.new_id
          FROM cand_store c
          JOIN sig sn ON sn.doc_id = c.new_id
          JOIN sig so ON so.doc_id = c.old_id
          WHERE CAST(list_sum(list_transform(generate_series(1, 32),
                  j -> CASE WHEN sn.sg[j] = so.sg[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 32
                >= 0.7
        ),
        cand_new AS (
          SELECT DISTINCT a.doc_id AS id_a, bb.doc_id AS id_b
          FROM banded a JOIN banded bb
            ON a.band_idx = bb.band_idx AND a.bh = bb.bh
          WHERE a.doc_id IN (SELECT doc_id FROM newids)
            AND bb.doc_id IN (SELECT doc_id FROM newids)
            AND a.doc_id < bb.doc_id
        ),
        vpairs AS (
          SELECT c.id_a, c.id_b
          FROM cand_new c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b
          WHERE CAST(list_sum(list_transform(generate_series(1, 32),
                  j -> CASE WHEN sa.sg[j] = sb.sg[j] THEN 1 ELSE 0 END)) AS DOUBLE) / 32
                >= 0.7
        ),
        edges AS (
          SELECT id_a AS u, id_b AS v FROM vpairs
          UNION SELECT id_b, id_a FROM vpairs
        ),
        reach AS (
          SELECT u AS id, u AS lab FROM (SELECT DISTINCT u FROM edges) x
          UNION
          SELECT e.v AS id, r.lab FROM reach r JOIN edges e ON e.u = r.id
        ),
        comp AS (SELECT id, min(lab) AS component FROM reach GROUP BY id),
        losers AS (SELECT id FROM comp WHERE id <> component)
        SELECT d.doc_id, d.lang, d.n_chars
        FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM newids)
          AND d.doc_id NOT IN (SELECT id FROM losers)
          AND d.doc_id NOT IN (SELECT new_id FROM drop_store)
    """


def _bradley_terry_oracle(iterations: int = 3) -> str:
    """DuckDB replay of q_bradley_terry: the planted-strength winner
    draw, the unordered-pair and win rollups, and every MM round
    (contribution join → symmetric denominator fold → wins/denominator
    update → mean-1 rescale) unrolled as CTEs."""
    rounds = []
    prev = "t0"
    for r in range(1, int(iterations) + 1):
        rounds.append(f"""
        c{r} AS (
          SELECT pa, pb, n / (ta.t + tb.t) AS c
          FROM pair
          JOIN {prev} ta ON ta.item = pair.pa
          JOIN {prev} tb ON tb.item = pair.pb
        ), d{r} AS (
          SELECT item, sum(c) AS d FROM (
            SELECT pa AS item, c FROM c{r}
            UNION ALL SELECT pb AS item, c FROM c{r}
          ) GROUP BY 1
        ), u{r} AS (
          SELECT i.item,
                 CASE WHEN d > 0 THEN i.wins / d ELSE 1.0 END AS t
          FROM items i LEFT JOIN d{r} USING (item)
        ), t{r} AS (
          SELECT item, t / (SELECT avg(t) FROM u{r}) AS t FROM u{r}
        )""")
        prev = f"t{r}"
    return f"""
        WITH src AS (
          SELECT CAST(l_suppkey % 8 AS BIGINT) AS a,
                 CAST(l_partkey % 8 AS BIGINT) AS b,
                 (l_orderkey * 7 + l_linenumber) % (CAST(l_suppkey % 8 AS BIGINT) + CAST(l_partkey % 8 AS BIGINT) + 2) AS draw
          FROM lineitem
          WHERE l_suppkey % 8 <> l_partkey % 8
        ), raw AS (
          SELECT CASE WHEN draw < a + 1 THEN a ELSE b END AS w,
                 CASE WHEN draw < a + 1 THEN b ELSE a END AS l
          FROM src
        ), pair AS (
          SELECT least(w, l) AS pa, greatest(w, l) AS pb,
                 CAST(count(*) AS BIGINT) AS n
          FROM raw GROUP BY 1, 2
        ), winrows AS (
          SELECT w AS item, CAST(count(*) AS BIGINT) AS wins
          FROM raw GROUP BY 1
        ), items AS (
          SELECT u.item, coalesce(winrows.wins, 0) AS wins
          FROM (SELECT DISTINCT w AS item FROM raw
                UNION SELECT DISTINCT l FROM raw) u
          LEFT JOIN winrows USING (item)
        ), ncomp AS (
          SELECT item, CAST(sum(n) AS BIGINT) AS n_comparisons FROM (
            SELECT pa AS item, n FROM pair
            UNION ALL SELECT pb AS item, n FROM pair
          ) GROUP BY 1
        ), t0 AS (
          SELECT item, CAST(1.0 AS DOUBLE) AS t FROM items
        ),{",".join(rounds)}
        SELECT i.item, round({prev}.t, 6) AS strength, i.wins,
               coalesce(ncomp.n_comparisons, 0) AS n_comparisons
        FROM items i
        JOIN {prev} USING (item)
        LEFT JOIN ncomp USING (item)
    """


def _redact_pii_oracle() -> str:
    """PII-scrub oracle: the exact engine patterns (RE2-portable by
    construction) are injected into sequential regexp_replace CTEs that
    mirror the engine's count-on-partially-redacted-text order."""
    from moz_datapipeline_spark.operators.text import PII_PATTERNS

    e = "'" + PII_PATTERNS["email"] + "'"
    p = "'" + PII_PATTERNS["phone"] + "'"
    i = "'" + PII_PATTERNS["ipv4"] + "'"
    return (
        """
        WITH aug AS (
          SELECT doc_id,
                 text || ' contact u' || CAST(doc_id AS VARCHAR)
                      || '@example.com or 10.0.'
                      || CAST(doc_id % 256 AS VARCHAR) || '.1' AS text
          FROM documents
        ), r1 AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(text, """ + e + """)) AS INTEGER) AS n_email,
                 regexp_replace(text, """ + e + """, '[EMAIL]', 'g') AS t1
          FROM aug
        ), r2 AS (
          SELECT doc_id, n_email,
                 CAST(len(regexp_extract_all(t1, """ + p + """)) AS INTEGER) AS n_phone,
                 regexp_replace(t1, """ + p + """, '[PHONE]', 'g') AS t2
          FROM r1
        )
        SELECT doc_id, n_email, n_phone,
               CAST(len(regexp_extract_all(t2, """ + i + """)) AS INTEGER) AS n_ipv4,
               regexp_replace(t2, """ + i + """, '[IP]', 'g') AS redacted_text
        FROM r2
        """
    )


def _lsh_topk_oracle() -> str:
    """lsh_bucket_topk oracle: the same deterministic hyperplanes (2
    tables × 8 planes, from the operator's own generator) inlined as
    literals; DuckDB replays per-table bucket assignment, the
    (table, bucket) candidate join with cross-table dedup, cosine
    scoring, and the (cosine DESC, corpus_id ASC) top-3 rank."""
    from moz_datapipeline_spark.operators.similarity import _plane_tables

    tables = _plane_tables(64, 8, 2)
    values = ", ".join(
        f"({t}, {p}, {list(plane)})"
        for t, planes in enumerate(tables)
        for p, plane in enumerate(planes)
    )
    return f"""
        WITH planes AS (
          SELECT * FROM (VALUES {values}) AS t(tbl, pidx, vec)
        ),
        v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
        ),
        signs AS (
          SELECT v.vec_id, p.tbl, p.pidx,
                 CASE WHEN list_dot_product(v.emb, p.vec) > 0
                      THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END AS bit
          FROM v CROSS JOIN planes p
        ),
        buckets AS (
          SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket
          FROM signs GROUP BY vec_id, tbl
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS corpus_id
          FROM buckets q JOIN buckets c
            ON q.tbl = c.tbl AND q.bucket = c.bucket
          WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
        ),
        scored AS (
          SELECT cand.query_id, cand.corpus_id,
                 list_cosine_similarity(vq.emb, vc.emb) AS cos_raw
          FROM cand
          JOIN v vq ON vq.vec_id = cand.query_id
          JOIN v vc ON vc.vec_id = cand.corpus_id
        )
        SELECT query_id, corpus_id, round(cos_raw, 6) AS cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_raw DESC, corpus_id ASC) AS INTEGER) AS rank
        FROM scored QUALIFY rank <= 3
    """


def _lsh_planes_values(dim: int, n_planes: int, n_tables: int) -> str:
    """The operator's own deterministic hyperplanes inlined as a DuckDB
    VALUES list ``(tbl, pidx, vec)`` — the shared plane-replay core of
    every LSH oracle."""
    from moz_datapipeline_spark.operators.similarity import _plane_tables

    tables = _plane_tables(dim, n_planes, n_tables)
    return ", ".join(
        f"({t}, {p}, {list(plane)})"
        for t, planes in enumerate(tables)
        for p, plane in enumerate(planes)
    )


def _margin_mining_lsh_oracle() -> str:
    """ANN-fed margin mining oracle: DuckDB replays the 2×4 hyperplane
    bucket assignment, the cross-table-deduped candidate join, and the
    margin fold (both per-side k-NN density means over the CANDIDATE
    set, argmax, threshold) — byte-identical to the Spark plan."""
    values = _lsh_planes_values(64, 4, 2)
    return f"""
        WITH planes AS (
          SELECT * FROM (VALUES {values}) AS t(tbl, pidx, vec)
        ),
        v AS (
          SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
        ),
        av AS (SELECT vec_id, emb FROM v WHERE label % 2 = 0),
        bv AS (SELECT vec_id, emb FROM v WHERE label % 2 = 1),
        abuckets AS (
          SELECT av.vec_id, p.tbl,
                 CAST(sum(CASE WHEN list_dot_product(av.emb, p.vec) > 0
                          THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM av CROSS JOIN planes p GROUP BY av.vec_id, p.tbl
        ),
        bbuckets AS (
          SELECT bv.vec_id, p.tbl,
                 CAST(sum(CASE WHEN list_dot_product(bv.emb, p.vec) > 0
                          THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM bv CROSS JOIN planes p GROUP BY bv.vec_id, p.tbl
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS ia, c.vec_id AS ib
          FROM abuckets q JOIN bbuckets c
            ON q.tbl = c.tbl AND q.bucket = c.bucket
        ),
        scored AS (
          SELECT ia, ib, list_cosine_similarity(va.emb, vb.emb) AS cos
          FROM cand
          JOIN av va ON va.vec_id = cand.ia
          JOIN bv vb ON vb.vec_id = cand.ib
        ),
        nn_ab AS (
          SELECT ia, ib, cos FROM scored
          QUALIFY row_number()
                  OVER (PARTITION BY ia ORDER BY cos DESC, ib) <= 4
        ),
        nn_ba AS (
          SELECT ia, ib, cos FROM scored
          QUALIFY row_number()
                  OVER (PARTITION BY ib ORDER BY cos DESC, ia) <= 4
        ),
        da AS (SELECT ia, avg(cos) AS d FROM nn_ab GROUP BY 1),
        db AS (SELECT ib, avg(cos) AS d FROM nn_ba GROUP BY 1),
        cand2 AS (
          SELECT nn_ab.ia, nn_ab.ib, nn_ab.cos,
                 CASE WHEN da.d + db.d > 0
                 THEN nn_ab.cos / ((da.d + db.d) / 2.0) END AS margin
          FROM nn_ab
          JOIN da ON da.ia = nn_ab.ia
          JOIN db ON db.ib = nn_ab.ib
        ),
        best AS (
          SELECT ia, ib, cos, margin FROM cand2
          QUALIFY row_number()
                  OVER (PARTITION BY ia
                        ORDER BY margin DESC NULLS LAST, ib) = 1
        )
        SELECT ia AS id_a, ib AS id_b,
               round(cos, 6) AS cosine,
               round(margin, 6) AS margin
        FROM best WHERE margin >= 1.0
    """


def _semantic_decontaminate_lsh_oracle() -> str:
    """ANN-fed decontamination oracle: plane replay → deduped
    (candidate, benchmark) bucket pairs → LEFT-anchored max-cosine fold
    (a candidate with no pair keeps its row at 0.0) → 0.9 flag on the
    unrounded max, matching the brute query's convention."""
    values = _lsh_planes_values(64, 4, 2)
    return f"""
        WITH planes AS (
          SELECT * FROM (VALUES {values}) AS t(tbl, pidx, vec)
        ),
        v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
        ),
        cv AS (SELECT vec_id, emb FROM v WHERE vec_id % 50 <> 0),
        bv AS (SELECT vec_id, emb FROM v WHERE vec_id % 50 = 0),
        cbuckets AS (
          SELECT cv.vec_id, p.tbl,
                 CAST(sum(CASE WHEN list_dot_product(cv.emb, p.vec) > 0
                          THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM cv CROSS JOIN planes p GROUP BY cv.vec_id, p.tbl
        ),
        bbuckets AS (
          SELECT bv.vec_id, p.tbl,
                 CAST(sum(CASE WHEN list_dot_product(bv.emb, p.vec) > 0
                          THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END)
                      AS BIGINT) AS bucket
          FROM bv CROSS JOIN planes p GROUP BY bv.vec_id, p.tbl
        ),
        cand AS (
          SELECT DISTINCT q.vec_id AS ia, c.vec_id AS ib
          FROM cbuckets q JOIN bbuckets c
            ON q.tbl = c.tbl AND q.bucket = c.bucket
        ),
        per AS (
          SELECT cv.vec_id,
                 coalesce(max(list_cosine_similarity(cv.emb, b.emb)), 0.0)
                   AS mbc
          FROM cv
          LEFT JOIN cand ON cand.ia = cv.vec_id
          LEFT JOIN bv b ON b.vec_id = cand.ib
          GROUP BY cv.vec_id
        )
        SELECT vec_id, round(mbc, 6) AS max_bench_cosine,
               mbc >= 0.9 AS contaminated
        FROM per
    """


def _embedding_near_dup_oracle() -> str:
    """LSH near-dup oracle: the deterministic hyperplanes (2 tables × 8
    planes) are computed here by the same code path as the Spark operator
    and inlined as literals, so DuckDB replays the identical per-table
    bucket assignment; candidates found by either table are deduplicated
    (DISTINCT) exactly as the engine does before scoring."""
    from moz_datapipeline_spark.operators.similarity import _plane_tables

    tables = _plane_tables(64, 8, 2)
    values = ", ".join(
        f"({t}, {p}, {list(plane)})"
        for t, planes in enumerate(tables)
        for p, plane in enumerate(planes)
    )
    return f"""
        WITH planes AS (
          SELECT * FROM (VALUES {values}) AS t(tbl, pidx, vec)
        ),
        v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
        ),
        signs AS (
          SELECT v.vec_id, p.tbl, p.pidx,
                 CASE WHEN list_dot_product(v.emb, p.vec) > 0
                      THEN CAST(1 AS BIGINT) << p.pidx ELSE 0 END AS bit
          FROM v CROSS JOIN planes p
        ),
        buckets AS (
          SELECT vec_id, tbl, CAST(sum(bit) AS BIGINT) AS bucket
          FROM signs GROUP BY vec_id, tbl
        ),
        joined AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM buckets a JOIN buckets b
            ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        )
        SELECT j.id_a, j.id_b,
               round(list_cosine_similarity(va.emb, vb.emb), 6) AS cosine
        FROM joined j
        JOIN v va ON va.vec_id = j.id_a
        JOIN v vb ON vb.vec_id = j.id_b
        WHERE list_cosine_similarity(va.emb, vb.emb) >= 0.3
    """


_NORM = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
_PHASH = "CAST(('0x' || substr(md5({v}), 1, 15)) AS BIGINT)"


def _minhash_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """MinHash+LSH oracle: identical portable hashing (md5-int), the same
    permutation constants (generated by the same Python code as the Spark
    operator), 3-gram polynomial combine, band md5 digests, bucket join."""
    from moz_datapipeline_spark.operators.dedup import _MERSENNE_P, _minhash_params

    p = _MERSENNE_P
    tok_hash = _PHASH.format(v="t")
    perms = ",\n                   ".join(
        f"list_min(list_transform(kg, h -> (h * {a} + {b}) % {p}))"
        for a, b in _minhash_params(num_hashes)
    )
    rows_per_band = num_hashes // bands
    return f"""
        WITH toks AS (
          SELECT doc_id, string_split({_NORM}, ' ') AS t FROM documents
        ), hashed AS (
          SELECT doc_id,
                 list_transform(t, t -> {tok_hash} % {p}) AS th
          FROM toks WHERE len(t) >= 3
        ), grams AS (
          SELECT doc_id,
                 list_transform(generate_series(1, len(th) - 2),
                   i -> ((th[i] * 1000003 + th[i+1]) % {p} * 1000003 + th[i+2]) % {p}
                 ) AS kg
          FROM hashed
        ), sigs AS (
          SELECT doc_id, [{perms}] AS sig FROM grams
        ), banded AS (
          SELECT doc_id, b AS band_idx,
                 md5(array_to_string(sig[b*{rows_per_band}+1 : (b+1)*{rows_per_band}], ',')) AS band_hash
          FROM sigs, unnest(generate_series(0, {bands - 1})) AS u(b)
        )
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id
    """


def _simhash_oracle(bits: int = 64, chunks: int = 4, max_hamming: int = 12) -> str:
    """SimHash oracle: portable token hash, 64 bit-vote sums, signature
    assembly, 16-bit chunk bucketing, Hamming filter — mirroring
    ``operators/dedup.simhash`` + ``simhash_candidates`` exactly.
    (Bits ≥ 60 never set with a 60-bit hash, identically in both engines.)"""
    tok_hash = _PHASH.format(v="t")
    votes = ",\n                 ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(60)  # 60-bit hash -> higher bits always clear
    )
    width = 64 // chunks
    mask = (1 << width) - 1
    return f"""
        WITH toks AS (
          SELECT doc_id,
                 list_distinct(string_split({_NORM}, ' ')) AS t
          FROM documents
        ), hashed AS (
          SELECT doc_id, unnest(list_transform(t, t -> {tok_hash})) AS h
          FROM toks
        ), votes AS (
          SELECT doc_id,
                 {votes}
          FROM hashed GROUP BY doc_id
        ), sigs AS (
          SELECT doc_id, {sig} AS simhash FROM votes
        ), chunked AS (
          SELECT doc_id, simhash, c AS chunk_idx,
                 (simhash >> (c * {width})) & {mask} AS chunk_val
          FROM sigs, unnest(generate_series(0, {chunks - 1})) AS u(c)
        ), pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 a.simhash AS sa, b.simhash AS sb
          FROM chunked a JOIN chunked b
            ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
           AND a.doc_id < b.doc_id
        )
        SELECT id_a, id_b,
               CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
        FROM pairs WHERE bit_count(xor(sa, sb)) <= {max_hamming}
    """


def _random_projection_oracle() -> str:
    """JL-projection oracle: the 8 LCG hyperplanes are generated by the
    same code path as the Spark operator and inlined as literals; both
    engines fold the 64-term dot product left-to-right in doubles."""
    from moz_datapipeline_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(64, 8, 7)
    values = ", ".join(f"({i}, {list(p)})" for i, p in enumerate(planes))
    return f"""
        WITH planes AS (
          SELECT * FROM (VALUES {values}) AS t(dim_idx, vec)
        ),
        v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
        )
        SELECT vec_id, dim_idx, round(list_dot_product(emb, p.vec), 6) AS proj
        FROM v CROSS JOIN planes p
    """


_IVF_TOPK_ORACLE = """
WITH cent AS (
  SELECT vec_id AS centroid_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ce
  FROM embeddings
  ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
  LIMIT 16
),
corpus AS (
  SELECT vec_id AS corpus_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
  FROM embeddings
),
assigned AS (
  SELECT corpus_id, cv, centroid_id AS list_id
  FROM corpus CROSS JOIN cent
  QUALIFY row_number() OVER (
    PARTITION BY corpus_id
    ORDER BY list_cosine_similarity(cv, ce) DESC, centroid_id ASC) = 1
),
queries AS (
  SELECT vec_id AS query_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
  FROM embeddings WHERE vec_id < 5
),
probed AS (
  SELECT query_id, qv, centroid_id AS list_id
  FROM queries CROSS JOIN cent
  QUALIFY row_number() OVER (
    PARTITION BY query_id
    ORDER BY list_cosine_similarity(qv, ce) DESC, centroid_id ASC) <= 4
),
scored AS (
  SELECT p.query_id, a.corpus_id,
         list_cosine_similarity(p.qv, a.cv) AS cos_raw
  FROM assigned a JOIN probed p USING (list_id)
  WHERE a.corpus_id <> p.query_id
)
SELECT query_id, corpus_id, round(cos_raw, 6) AS cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, corpus_id ASC) AS INTEGER) AS rank
FROM scored
QUALIFY rank <= 3

"""


_KMEANS_CTES = """
    WITH v AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      FROM embeddings
    ), c0 AS (
      SELECT CAST(vec_id // 64 AS INTEGER) AS cid, emb AS cvec
      FROM v WHERE vec_id % 64 = 0 AND vec_id < 512
    ), d1 AS (
      SELECT v.vec_id, c.cid, v.emb,
             list_dot_product(v.emb, v.emb)
               - 2 * list_dot_product(v.emb, c.cvec)
               + list_dot_product(c.cvec, c.cvec) AS dist
      FROM v CROSS JOIN c0 c
    ), a1 AS (
      SELECT vec_id, cid, emb FROM d1
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
    ), m1 AS (
      SELECT cid, i AS pos, avg(emb[i]) AS mu
      FROM a1 CROSS JOIN generate_series(1, 64) t(i)
      GROUP BY 1, 2
    ), c1 AS (
      SELECT cid, list(mu ORDER BY pos) AS cvec FROM m1 GROUP BY cid
    ), d2 AS (
      SELECT v.vec_id, c.cid,
             list_dot_product(v.emb, v.emb)
               - 2 * list_dot_product(v.emb, c.cvec)
               + list_dot_product(c.cvec, c.cvec) AS dist
      FROM v CROSS JOIN c1 c
    ), a2 AS (
      SELECT vec_id, cid FROM d2
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) = 1
    )
"""

_KMEANS_ORACLE = _KMEANS_CTES + """
    SELECT a1.vec_id, a1.cid AS cluster_r1, a2.cid AS cluster
    FROM a1 JOIN a2 ON a1.vec_id = a2.vec_id
"""

# SemDeDup replay: the identical two Lloyd rounds, then within-cluster
# cosine pairs and the lowest-id-survives drop rule
_SEMANTIC_DEDUP_ORACLE = _KMEANS_CTES + """
    , drops AS (
      SELECT DISTINCT b.vec_id AS drop_id
      FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
      WHERE list_cosine_similarity(va.emb, vb.emb) > 0.2
    )
    SELECT v.vec_id, a2.cid AS cluster
    FROM v JOIN a2 ON v.vec_id = a2.vec_id
    WHERE v.vec_id NOT IN (SELECT drop_id FROM drops)
"""


_PQ_ADC_REPLAY = """
            WITH v AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ), subs AS (
              SELECT vec_id, s.sub_id,
                     list_slice(e, s.sub_id*16+1, s.sub_id*16+16) AS sv
              FROM v, (SELECT unnest(range(4)) AS sub_id) s
            ), cents AS (
              SELECT sub_id, CAST(vec_id // 16 AS INT) AS cid, sv AS cv
              FROM subs WHERE vec_id % 16 = 0 AND vec_id < 256
            ), dists AS (
              SELECT subs.vec_id, subs.sub_id, cents.cid,
                     list_aggregate(
                       list_transform(list_zip(subs.sv, cents.cv),
                         p -> (p[1] - p[2]) * (p[1] - p[2])),
                       'sum') AS d
              FROM subs JOIN cents USING (sub_id)
            ), best AS (
              SELECT vec_id, sub_id, cid FROM (
                SELECT vec_id, sub_id, cid,
                       row_number() OVER (PARTITION BY vec_id, sub_id
                                          ORDER BY d, cid) AS rn
                FROM dists) WHERE rn = 1
            ), books_pos AS (
              SELECT sub_id, code, u.pos, avg(u.val) AS mu FROM (
                SELECT b.sub_id, b.cid AS code,
                       unnest(list_transform(s.sv,
                         (x, i) -> struct_pack(pos := i, val := x))) AS u
                FROM best b
                JOIN subs s ON b.vec_id = s.vec_id AND b.sub_id = s.sub_id
              ) GROUP BY 1, 2, 3
            ), spos AS (
              SELECT vec_id, sub_id, u.pos, u.val FROM (
                SELECT vec_id, sub_id,
                       unnest(list_transform(sv,
                         (x, i) -> struct_pack(pos := i, val := x))) AS u
                FROM subs)
            ), dists2 AS (
              SELECT spos.vec_id, spos.sub_id, bp.code AS cid,
                     sum((spos.val - bp.mu) * (spos.val - bp.mu)) AS d
              FROM spos JOIN books_pos bp
                ON bp.sub_id = spos.sub_id AND bp.pos = spos.pos
              GROUP BY 1, 2, 3
            ), best2 AS (
              SELECT vec_id, sub_id, cid FROM (
                SELECT vec_id, sub_id, cid,
                       row_number() OVER (PARTITION BY vec_id, sub_id
                                          ORDER BY d, cid) AS rn
                FROM dists2) WHERE rn = 1
            ), qq AS (
              SELECT vec_id AS query_id, sub_id, u.pos, u.val FROM (
                SELECT s.vec_id, s.sub_id,
                       unnest(list_transform(s.sv,
                         (x, i) -> struct_pack(pos := i, val := x))) AS u
                FROM subs s WHERE s.vec_id < 5
              )
            ), tbl AS (
              SELECT qq.query_id, qq.sub_id, bp.code,
                     sum((qq.val - bp.mu) * (qq.val - bp.mu)) AS pd
              FROM qq JOIN books_pos bp
                ON bp.sub_id = qq.sub_id AND bp.pos = qq.pos
              GROUP BY 1, 2, 3
            ), scores AS (
              SELECT t.query_id, b.vec_id AS corpus_id,
                     sum(t.pd) AS adc_dist
              FROM best2 b
              JOIN tbl t ON t.sub_id = b.sub_id AND t.code = b.cid
              GROUP BY 1, 2
            )
"""


def _hll_distinct_oracle() -> str:
    """Full DuckDB replay of q_hll_distinct: the portable md5 hash →
    bucket/ρ register pipeline, the integer-exact harmonic sum
    (Σ 2^(61−ρ) as HUGEINT), α_m bias constant, and the
    linear-counting small-range correction — the ESTIMATE itself is
    value-checked, not a tolerance flag."""
    from moz_datapipeline_spark.operators.sketches import _RHO_CAP, _alpha

    p = 10
    m = 1 << p
    cap = _RHO_CAP
    alpha = _alpha(m)

    def dbl(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    return f"""
        WITH h AS (
          SELECT event_type,
                 CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)), 1, 15))
                      AS BIGINT) AS hv
          FROM events
        ), br AS (
          SELECT event_type, CAST(hv % {m} AS INTEGER) AS bucket,
                 CASE WHEN hv // {m} = 0 THEN {cap}
                      ELSE length(bin(hv // {m}))
                           - length(rtrim(bin(hv // {m}), '0')) + 1
                 END AS rho
          FROM h
        ), reg AS (
          SELECT event_type, bucket, max(rho) AS max_rho
          FROM br GROUP BY 1, 2
        ), agg AS (
          SELECT event_type, CAST(count(*) AS BIGINT) AS n_filled,
                 sum(CAST(CAST(1 AS BIGINT) << ({cap} - max_rho) AS HUGEINT)) AS st
          FROM reg GROUP BY 1
        ), est AS (
          SELECT event_type, n_filled,
                 {dbl(alpha)} * {dbl(float(m * m))}
                   / (CAST(st AS DOUBLE) / {dbl(float(1 << cap))}
                      + ({m} - n_filled)) AS e_raw,
                 {m} - n_filled AS v
          FROM agg
        )
        SELECT event_type, n_filled,
               round(CASE WHEN e_raw <= {dbl(2.5 * m)} AND v > 0
                     THEN {dbl(float(m))}
                          * ln({dbl(float(m))} / CAST(v AS DOUBLE))
                     ELSE e_raw END, 3) AS est_distinct
        FROM est
    """


def oracle_sql() -> dict[str, str]:
    sql = {
        "random_projection": _random_projection_oracle(),
        "kmeans": _KMEANS_ORACLE,
        "semantic_dedup": _SEMANTIC_DEDUP_ORACLE,
        "quality_funnel": """
            WITH st AS (
              SELECT lang,
                     len(list_filter(string_split(text, ' '), t -> t <> '')) AS nt,
                     len(list_distinct(list_filter(string_split(text, ' '),
                                                   t -> t <> ''))) AS nd
              FROM documents
            ), agg AS (
              SELECT count(*) AS n_all,
                     CAST(sum(CASE WHEN nt >= 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
                     CAST(sum(CASE WHEN nt >= 30 AND nd * 20 >= nt * 7
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_rep,
                     CAST(sum(CASE WHEN nt >= 30 AND nd * 20 >= nt * 7
                                    AND lang = 'en'
                              THEN 1 ELSE 0 END) AS BIGINT) AS n_lng
              FROM st
            )
            SELECT 1 AS stage_idx, 'corpus' AS stage, n_all AS n_docs FROM agg
            UNION ALL SELECT 2, 'min_length', n_len FROM agg
            UNION ALL SELECT 3, 'distinct_ratio', n_rep FROM agg
            UNION ALL SELECT 4, 'lang_en', n_lng FROM agg
        """,
        "pq_codes": """
            WITH v AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
              FROM embeddings
            ), subs AS (
              SELECT vec_id, s.sub_id,
                     list_slice(e, s.sub_id*16+1, s.sub_id*16+16) AS sv
              FROM v, (SELECT unnest(range(4)) AS sub_id) s
            ), cents AS (
              SELECT sub_id, CAST(vec_id // 16 AS INT) AS cid, sv AS cv
              FROM subs WHERE vec_id % 16 = 0 AND vec_id < 256
            ), dists AS (
              SELECT subs.vec_id, subs.sub_id, cents.cid,
                     list_aggregate(
                       list_transform(list_zip(subs.sv, cents.cv),
                         p -> (p[1] - p[2]) * (p[1] - p[2])),
                       'sum') AS d
              FROM subs JOIN cents USING (sub_id)
            ), best AS (
              SELECT vec_id, sub_id, cid FROM (
                SELECT vec_id, sub_id, cid,
                       row_number() OVER (PARTITION BY vec_id, sub_id
                                          ORDER BY d, cid) AS rn
                FROM dists) WHERE rn = 1
            ), books_pos AS (
              SELECT sub_id, code, u.pos, avg(u.val) AS mu FROM (
                SELECT b.sub_id, b.cid AS code,
                       unnest(list_transform(s.sv,
                         (x, i) -> struct_pack(pos := i, val := x))) AS u
                FROM best b
                JOIN subs s ON b.vec_id = s.vec_id AND b.sub_id = s.sub_id
              ) GROUP BY 1, 2, 3
            ), spos AS (
              SELECT vec_id, sub_id, u.pos, u.val FROM (
                SELECT vec_id, sub_id,
                       unnest(list_transform(sv,
                         (x, i) -> struct_pack(pos := i, val := x))) AS u
                FROM subs)
            ), dists2 AS (
              SELECT spos.vec_id, spos.sub_id, bp.code AS cid,
                     sum((spos.val - bp.mu) * (spos.val - bp.mu)) AS d
              FROM spos JOIN books_pos bp
                ON bp.sub_id = spos.sub_id AND bp.pos = spos.pos
              GROUP BY 1, 2, 3
            ), best2 AS (
              SELECT vec_id, sub_id, cid FROM (
                SELECT vec_id, sub_id, cid,
                       row_number() OVER (PARTITION BY vec_id, sub_id
                                          ORDER BY d, cid) AS rn
                FROM dists2) WHERE rn = 1
            )
            SELECT vec_id,
                   array_to_string(list(cid ORDER BY sub_id), '-') AS codes
            FROM best2 GROUP BY vec_id
        """,
        "pq_adc": _PQ_ADC_REPLAY + """
            SELECT query_id, corpus_id,
                   floor(adc_dist * 1e6 + 0.5) / 1e6 AS adc_dist,
                   CAST(rank AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY adc_dist, corpus_id) AS rank
                  FROM scores)
            WHERE rank <= 5
        """,
        "ivfadc_rerank": _PQ_ADC_REPLAY + """
            , cent2 AS (
              SELECT vec_id AS centroid_id, e AS ce
              FROM v
              ORDER BY md5(CAST(vec_id AS VARCHAR)) ASC, vec_id ASC
              LIMIT 16
            ), assigned2 AS (
              SELECT c.vec_id AS corpus_id, centroid_id AS list_id
              FROM v c CROSS JOIN cent2
              QUALIFY row_number() OVER (
                PARTITION BY c.vec_id
                ORDER BY list_cosine_similarity(c.e, ce) DESC,
                         centroid_id ASC) = 1
            ), probed2 AS (
              SELECT q.vec_id AS query_id, centroid_id AS list_id
              FROM v q CROSS JOIN cent2
              WHERE q.vec_id < 5
              QUALIFY row_number() OVER (
                PARTITION BY q.vec_id
                ORDER BY list_cosine_similarity(q.e, ce) DESC,
                         centroid_id ASC) <= 4
            ), ivf_scores AS (
              SELECT s.query_id, s.corpus_id, s.adc_dist
              FROM scores s
              JOIN assigned2 a ON a.corpus_id = s.corpus_id
              JOIN probed2 p ON p.query_id = s.query_id
                            AND p.list_id = a.list_id
            ), cand2 AS (
              SELECT query_id, corpus_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY adc_dist, corpus_id) AS rn
                FROM ivf_scores)
              WHERE rn <= 50
            ), exact2 AS (
              SELECT c.query_id, c.corpus_id,
                     list_aggregate(
                       list_transform(list_zip(q.e, t.e),
                         p -> (p[1] - p[2]) * (p[1] - p[2])),
                       'sum') AS l2_dist
              FROM cand2 c
              JOIN v q ON q.vec_id = c.query_id
              JOIN v t ON t.vec_id = c.corpus_id
            )
            SELECT query_id, corpus_id,
                   floor(l2_dist * 1e6 + 0.5) / 1e6 AS l2_dist,
                   CAST(rank AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY l2_dist, corpus_id) AS rank
                  FROM exact2)
            WHERE rank <= 5
        """,
        "pq_adc_rerank": _PQ_ADC_REPLAY + """
            , cand AS (
              SELECT query_id, corpus_id FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY adc_dist, corpus_id) AS rn
                FROM scores)
              WHERE rn <= 50
            ), exact AS (
              SELECT c.query_id, c.corpus_id,
                     list_aggregate(
                       list_transform(list_zip(q.e, t.e),
                         p -> (p[1] - p[2]) * (p[1] - p[2])),
                       'sum') AS l2_dist
              FROM cand c
              JOIN v q ON q.vec_id = c.query_id
              JOIN v t ON t.vec_id = c.corpus_id
            )
            SELECT query_id, corpus_id,
                   floor(l2_dist * 1e6 + 0.5) / 1e6 AS l2_dist,
                   CAST(rank AS INTEGER) AS rank
            FROM (SELECT *, row_number() OVER (
                    PARTITION BY query_id
                    ORDER BY l2_dist, corpus_id) AS rank
                  FROM exact)
            WHERE rank <= 5
        """,
        
        "embedding_covariance": """
            WITH xi AS (
              SELECT vec_id, u.pos, u.val FROM (
                SELECT vec_id,
                       unnest(list_transform(
                         embedding,
                         (x, k) -> struct_pack(pos := k,
                                               val := CAST(x AS DOUBLE))))
                         AS u
                FROM embeddings)
            )
            SELECT a.pos - 1 AS i, b.pos - 1 AS j,
                   floor(covar_pop(a.val, b.val) * 1e6 + 0.5) / 1e6 AS cov
            FROM xi a JOIN xi b USING (vec_id)
            GROUP BY 1, 2
        """,
        "boilerplate_lines": """
            WITH docs AS (
              SELECT doc_id,
                     substr(text, 1, 60) || chr(10) ||
                     CASE WHEN doc_id % 3 = 0
                          THEN 'FOLLOW US ON SOCIAL MEDIA'
                          ELSE substr(text, 61, 60) END || chr(10) ||
                     substr(text, 121, 40) AS text
              FROM documents
            ), lines AS (
              SELECT doc_id, u.pos, u.line FROM (
                SELECT doc_id,
                       unnest(list_transform(
                         string_split(text, chr(10)),
                         (x, i) -> struct_pack(pos := i, line := x))) AS u
                FROM docs)
            ), boiler AS (
              SELECT line FROM lines
              GROUP BY line HAVING count(DISTINCT doc_id) >= 10
            ), kept AS (
              SELECT * FROM lines
              WHERE line NOT IN (SELECT line FROM boiler)
            ), rebuilt AS (
              SELECT doc_id,
                     string_agg(line, chr(10) ORDER BY pos) AS clean_text,
                     count(*)::BIGINT AS n_lines_kept
              FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id, coalesce(r.clean_text, '') AS clean_text,
                   coalesce(r.n_lines_kept, 0)::BIGINT AS n_lines_kept,
                   (3 - coalesce(r.n_lines_kept, 0))::BIGINT
                     AS n_lines_removed
            FROM docs d LEFT JOIN rebuilt r USING (doc_id)
        """,
        "funnel_conversion": """
            WITH s1 AS (
              SELECT user_id, min(epoch_ns(ts)) AS t FROM events
              WHERE event_type = 'view' GROUP BY user_id
            ), s2 AS (
              SELECT e.user_id, min(epoch_ns(e.ts)) AS t
              FROM events e JOIN s1 ON e.user_id = s1.user_id
              WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t
              GROUP BY e.user_id
            ), s3 AS (
              SELECT e.user_id, min(epoch_ns(e.ts)) AS t
              FROM events e JOIN s2 ON e.user_id = s2.user_id
              WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t
              GROUP BY e.user_id
            )
            SELECT 1 AS stage_idx, 'view' AS stage,
                   (SELECT count(*) FROM s1) AS n_users
            UNION ALL
            SELECT 2, 'click', (SELECT count(*) FROM s2)
            UNION ALL
            SELECT 3, 'purchase', (SELECT count(*) FROM s3)
        """,
        "cohort_retention": """
            WITH act AS (
              SELECT DISTINCT user_id,
                     epoch_ns(ts) // 86400000000000 AS activity_day
              FROM events
            ), cohort AS (
              SELECT user_id,
                     min(epoch_ns(ts) // 86400000000000) AS cohort_day
              FROM events GROUP BY user_id
            )
            SELECT cohort_day, activity_day - cohort_day AS day_offset,
                   count(DISTINCT user_id) AS n_users
            FROM act JOIN cohort USING (user_id)
            GROUP BY 1, 2
        """,
        "view_click_attribution": """
            WITH v AS (
              SELECT user_id AS vu, epoch_us(ts) AS view_ts
              FROM events WHERE event_type = 'view'
            ), c AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts
              FROM events WHERE event_type = 'click'
            )
            SELECT c.event_id, c.user_id,
                   max(v.view_ts) AS attributed_view_ts,
                   count(*) AS n_candidate_views
            FROM c JOIN v
              ON c.user_id = v.vu
             AND v.view_ts <= c.ts
             AND c.ts - v.view_ts <= 900000000
            GROUP BY c.event_id, c.user_id
        """,
        "approx_distinct": """
            SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
                   TRUE AS sketch_ok
            FROM events GROUP BY event_type
        """,
        "approx_percentile": """
            SELECT l_returnflag,
                   floor(quantile_cont(l_extendedprice, 0.95) * 100 + 0.5)
                     / 100 AS exact_p,
                   TRUE AS sketch_ok
            FROM lineitem GROUP BY l_returnflag
        """,
        "embedding_near_dup": _embedding_near_dup_oracle(),
        "lsh_topk": _lsh_topk_oracle(),
        "margin_mining_lsh": _margin_mining_lsh_oracle(),
        "semantic_decontaminate_lsh": _semantic_decontaminate_lsh_oracle(),
        "dedup_minhash_lsh": _minhash_oracle(),
        "dedup_simhash": _simhash_oracle(),
        "repetition_stats": """
            WITH tok AS (
              SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
              FROM documents
            ), tc AS (
              SELECT doc_id, tok, count(*) AS cnt
              FROM (SELECT doc_id, unnest(toks) AS tok FROM tok)
              GROUP BY doc_id, tok
            ), ts AS (
              SELECT doc_id,
                     CAST(sum(cnt) AS BIGINT) AS n_tokens,
                     count(*) AS n_distinct_tokens,
                     max(cnt) AS top_cnt
              FROM tc GROUP BY doc_id
            ), bg AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 2
                          THEN list_transform(generate_series(1, len(toks) - 1),
                                              i -> toks[i] || ' ' || toks[i + 1])
                          ELSE CAST([] AS VARCHAR[]) END AS bigrams
              FROM tok
            )
            SELECT ts.doc_id, ts.n_tokens, ts.n_distinct_tokens,
                   1.0 - ts.n_distinct_tokens / CAST(ts.n_tokens AS DOUBLE)
                       AS dup_token_frac,
                   ts.top_cnt / CAST(ts.n_tokens AS DOUBLE) AS top_token_frac,
                   CASE WHEN len(bg.bigrams) > 0
                        THEN 1.0 - len(list_distinct(bg.bigrams))
                                 / CAST(len(bg.bigrams) AS DOUBLE)
                        ELSE 0.0 END AS dup_2gram_frac
            FROM ts JOIN bg ON ts.doc_id = bg.doc_id
        """,
        "domain_cap": """
            SELECT doc_id, source, sample_rank FROM (
              SELECT doc_id, source,
                     CAST(row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                     ) AS INTEGER) AS sample_rank
              FROM documents
            ) WHERE sample_rank <= 10
        """,
        "vocab_stats": """
            SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
            FROM (
              SELECT doc_id,
                     unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
              FROM documents
            )
            GROUP BY token
            ORDER BY tf DESC, token
            LIMIT 100
        """,
        "tfidf_terms": """
            WITH tf AS (
              SELECT doc_id, token, count(*) AS tf
              FROM (
                SELECT doc_id,
                       unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
                FROM documents
              )
              GROUP BY doc_id, token
            ), dfreq AS (
              SELECT token, count(*) AS df FROM tf GROUP BY token
            ), nd AS (
              SELECT count(*) AS n_docs FROM documents
            )
            SELECT doc_id, token, tf, df,
                   round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf,
                   term_rank
            FROM (
              SELECT tf.doc_id, tf.token, tf.tf, dfreq.df, nd.n_docs,
                     CAST(row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * ln(CAST(nd.n_docs AS DOUBLE) / dfreq.df) DESC,
                                tf.token
                     ) AS INTEGER) AS term_rank
              FROM tf JOIN dfreq USING (token) CROSS JOIN nd
            )
            WHERE term_rank <= 5
        """,
        "decontaminate": """
            WITH tok AS (
              SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
              FROM documents
            ), ng AS (
              SELECT doc_id,
                     CASE WHEN len(toks) >= 8
                          THEN list_transform(generate_series(1, len(toks) - 7),
                                              i -> array_to_string(toks[i:i+7], ' '))
                          ELSE CAST([] AS VARCHAR[]) END AS ngrams
              FROM tok
            ), bench AS (
              SELECT DISTINCT g FROM (
                SELECT unnest(ngrams) AS g FROM ng WHERE doc_id % 97 = 0
              )
            ), cand AS (
              SELECT DISTINCT doc_id, g FROM (
                SELECT doc_id, unnest(ngrams) AS g FROM ng WHERE doc_id % 97 <> 0
              )
            ), per AS (
              SELECT c.doc_id, count(*) AS n_ngrams, count(b.g) AS n_contaminated
              FROM cand c LEFT JOIN bench b USING (g)
              GROUP BY c.doc_id
            )
            SELECT d.doc_id,
                   coalesce(per.n_ngrams, 0) AS n_ngrams,
                   coalesce(per.n_contaminated, 0) AS n_contaminated,
                   CASE WHEN coalesce(per.n_ngrams, 0) > 0
                        THEN per.n_contaminated / CAST(per.n_ngrams AS DOUBLE)
                        ELSE 0.0 END AS contam_frac,
                   (coalesce(per.n_contaminated, 0) * 20 >= coalesce(per.n_ngrams, 0)
                    AND coalesce(per.n_ngrams, 0) > 0) AS contaminated
            FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
            LEFT JOIN per ON d.doc_id = per.doc_id
        """,
        "late_shipment_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
              AND o.o_orderdate < TIMESTAMP '1996-04-01'
              AND EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
              )
            GROUP BY o_orderpriority
        """,
        "customer_order_distribution": """
            SELECT c_count, count(*) AS custdist FROM (
              SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c
              LEFT JOIN orders o
                ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey
            ) GROUP BY c_count
        """,
        "promo_revenue": """
            SELECT round(
                     100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 6
                   ) AS promo_revenue_pct
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate < TIMESTAMP '1996-02-01'
        """,
        "small_qty_revenue": """
            WITH j AS (
              SELECT l_partkey, l_quantity, l_extendedprice
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE p_brand = 'Brand#13'
            ), half AS (
              SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
              FROM j GROUP BY l_partkey
            )
            SELECT sum(j.l_extendedprice) / 7.0 AS avg_yearly
            FROM j JOIN half USING (l_partkey)
            WHERE j.l_quantity < half.half_avg
        """,
        "disjunctive_filter": """
            SELECT sum(l_extendedprice * (1 - l_discount)) AS revenue,
                   count(*) AS n_lineitems
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 1 AND 20)
               OR (p_brand = 'Brand#20' AND p_size BETWEEN 10 AND 25
                   AND l_quantity BETWEEN 5 AND 30)
        """,
        "inactive_customer_balance": """
            SELECT c_nationkey, count(*) AS numcust, sum(c_acctbal) AS totacctbal
            FROM customer c
            WHERE c.c_acctbal > (
                    SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0
                  )
              AND NOT EXISTS (
                    SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                  )
            GROUP BY c_nationkey
        """,
        "bilateral_volume": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   sum(l_extendedprice * (1 - l_discount)) AS volume
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
               OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
            GROUP BY 1, 2, 3
        """,
        "forecast_revenue": """
            SELECT sum(l_extendedprice * l_discount) AS forecast_revenue,
                   count(*)::BIGINT AS n_lines
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01'
              AND l_shipdate <  TIMESTAMP '1997-01-01'
              AND l_discount BETWEEN 0.02 AND 0.04
              AND l_quantity < 25
        """,
        "cheapest_supplier_per_part": """
            WITH offers AS (
              SELECT l_partkey, s_suppkey, s_name,
                     sum(l_extendedprice) AS supply_value
              FROM lineitem
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation   ON s_nationkey = n_nationkey
              JOIN region   ON n_regionkey = r_regionkey
              JOIN part     ON l_partkey = p_partkey
              WHERE r_name = 'EUROPE' AND p_size < 10
              GROUP BY 1, 2, 3
            ), ranked AS (
              SELECT *, row_number() OVER (
                PARTITION BY l_partkey
                ORDER BY supply_value, s_suppkey, s_name) AS rn
              FROM offers
            )
            SELECT l_partkey AS p_partkey, s_suppkey, s_name,
                   floor(supply_value * 100 + 0.5) / 100 AS supply_value
            FROM ranked WHERE rn = 1
        """,
        "market_share": """
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   floor(sum(CASE WHEN n1.n_name = 'NATION_3'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END)
                         / sum(l_extendedprice * (1 - l_discount))
                         * 1e6 + 0.5) / 1e6 AS mkt_share,
                   sum(l_extendedprice * (1 - l_discount)) AS total_revenue
            FROM lineitem
            JOIN orders    ON l_orderkey = o_orderkey
            JOIN customer  ON o_custkey = c_custkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            JOIN region    ON n2.n_regionkey = r_regionkey
            JOIN supplier  ON l_suppkey = s_suppkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            WHERE r_name = 'ASIA'
            GROUP BY 1
        """,
        "product_profit": """
            SELECT n_name AS nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   sum(l_extendedprice * (1 - l_discount)) AS profit
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%gear%'
            GROUP BY 1, 2
        """,
        "returned_revenue_topk": """
            SELECT c_custkey, c_name, c_acctbal, n_name,
                   sum(l_extendedprice * (1 - l_discount)) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1996-07-01'
            GROUP BY 1, 2, 3, 4
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "part_value_concentration": """
            WITH per_part AS (
              SELECT l_partkey, sum(l_extendedprice * l_quantity) AS value
              FROM lineitem GROUP BY l_partkey
            )
            SELECT l_partkey, floor(value * 100 + 0.5) / 100 AS value
            FROM per_part
            WHERE value > (SELECT sum(value) FROM per_part) * 0.001
        """,
        "excess_supply_candidates": """
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (
              SELECT l_suppkey FROM lineitem
              JOIN part ON l_partkey = p_partkey
              WHERE p_name LIKE 'small%'
              GROUP BY l_suppkey, l_partkey
              HAVING sum(l_quantity) > 300
            )
            ORDER BY s_suppkey
        """,
        "waiting_orders_suppliers": """
            WITH ret AS (
              SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
              WHERE l_returnflag = 'R'
            ), all_sup AS (
              SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
            )
            SELECT s_suppkey, s_name, numwait FROM (
              SELECT r.l_suppkey, count(*)::BIGINT AS numwait
              FROM ret r
              WHERE EXISTS (SELECT 1 FROM all_sup a
                            WHERE a.l_orderkey = r.l_orderkey
                              AND a.l_suppkey <> r.l_suppkey)
                AND NOT EXISTS (SELECT 1 FROM ret r2
                                WHERE r2.l_orderkey = r.l_orderkey
                                  AND r2.l_suppkey <> r.l_suppkey)
              GROUP BY r.l_suppkey
            )
            JOIN supplier ON l_suppkey = s_suppkey
            ORDER BY numwait DESC, s_suppkey ASC
            LIMIT 20
        """,
        "top_supplier": """
            SELECT s_suppkey, s_name, total_revenue FROM (
              SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS total_revenue
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                AND l_shipdate < TIMESTAMP '1996-04-01'
              GROUP BY l_suppkey
              ORDER BY total_revenue DESC, l_suppkey
              LIMIT 1
            ) JOIN supplier ON l_suppkey = s_suppkey
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   sum(l_extendedprice) AS sum_base_price,
                   sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
                   avg(l_quantity) AS avg_qty,
                   avg(l_extendedprice) AS avg_price,
                   avg(l_discount) AS avg_disc,
                   count(*) AS count_order,
                   max(l_quantity) AS max_qty,
                   count(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_high_disc
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "proj_filter": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders
            WHERE o_orderstatus = 'F' AND o_totalprice > 50000.0
        """,
        "conditional_recode": """
            SELECT CASE
                     WHEN lower(c_mktsegment) IN ('automobile','machinery') THEN 'industrial'
                     WHEN lower(c_mktsegment) = 'building' THEN 'construction'
                     ELSE lower(c_mktsegment)
                   END AS segment_class,
                   count(*) AS n_customers
            FROM customer GROUP BY 1
        """,
        "regex_extract": """
            SELECT p_partkey,
                   CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INTEGER) AS brand_num,
                   CASE WHEN CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INTEGER) % 10 = 0
                        THEN 7
                        ELSE CAST(regexp_extract(p_brand, 'Brand#(\\d+)', 1) AS INTEGER) % 10
                   END AS brand_digit_defaulted
            FROM part
        """,
        "linear_rescale": """
            SELECT l_orderkey, l_linenumber,
                   floor((l_extendedprice * 5.7762 - 0.0334) * 100 + 0.5) / 100 AS ruc_scaled
            FROM lineitem
        """,
        "global_max_normalize": """
            SELECT c_custkey, c_acctbal AS value,
                   c_acctbal / (SELECT max(c_acctbal) FROM customer WHERE c_acctbal > 0) * 100.0 AS score
            FROM customer WHERE c_acctbal > 0
        """,
        "percentile_filter": """
            WITH ranked AS (
              SELECT p_retailprice AS v,
                     row_number() OVER (ORDER BY p_retailprice) - 1 AS rn
              FROM part
            ), thr AS (
              SELECT v FROM ranked
              WHERE rn = CAST(round(0.8 * ((SELECT count(*) FROM part) - 1)) AS BIGINT)
            )
            SELECT p_partkey, p_retailprice
            FROM part WHERE p_retailprice >= (SELECT v FROM thr)
        """,
        "pair_generation": """
            SELECT a.n_nationkey AS o_idx, b.n_nationkey AS d_idx,
                   a.n_regionkey AS o_region, b.n_regionkey AS d_region
            FROM nation a, nation b
            WHERE a.n_nationkey < b.n_nationkey
        """,
        "multiway_join": """
            SELECT r_name AS region_name,
                   count(*) AS n_customers,
                   sum(c_acctbal) AS total_acctbal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name
        """,
        "merge_indicators": """
            WITH spend AS (
              SELECT o_custkey, sum(o_totalprice) AS v FROM orders GROUP BY o_custkey
            ), spend_n AS (
              SELECT o_custkey, v, v / (SELECT max(v) FROM spend) * 100.0 AS s FROM spend
            ), cnt AS (
              SELECT o_custkey, CAST(count(*) AS DOUBLE) AS v FROM orders GROUP BY o_custkey
            ), cnt_n AS (
              SELECT o_custkey, v, v / (SELECT max(v) FROM cnt) * 100.0 AS s FROM cnt
            )
            SELECT c_custkey,
                   spend_n.s AS spendScore, spend_n.v AS spendValue,
                   cnt_n.s   AS ordersScore, cnt_n.v  AS ordersValue
            FROM customer
            LEFT JOIN spend_n ON c_custkey = spend_n.o_custkey
            LEFT JOIN cnt_n   ON c_custkey = cnt_n.o_custkey
        """,
        "argmin_join": """
            SELECT l_orderkey,
                   l_linenumber AS cheapest_line,
                   l_extendedprice AS cheapest_price
            FROM lineitem
            QUALIFY row_number() OVER (
              PARTITION BY l_orderkey
              ORDER BY l_extendedprice ASC, l_linenumber ASC) = 1
        """,
        "reverse_pair_fold": """
            WITH directed AS (
              SELECT s_nationkey AS origin, c_nationkey AS destination,
                     count(*) AS flow
              FROM lineitem
              JOIN orders   ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN supplier ON l_suppkey = s_suppkey
              GROUP BY 1, 2
            )
            SELECT least(origin, destination) AS nation_a,
                   greatest(origin, destination) AS nation_b,
                   CAST(sum(CASE WHEN origin < destination THEN flow ELSE 0 END) AS BIGINT) AS forward_flow,
                   CAST(sum(CASE WHEN origin > destination THEN flow ELSE 0 END) AS BIGINT) AS reverse_flow
            FROM directed
            WHERE origin <> destination
            GROUP BY 1, 2
        """,
        "shipping_priority": """
            SELECT l_orderkey, o_orderdate,
                   sum(l_extendedprice * (1 - l_discount)) AS revenue
            FROM customer
            JOIN orders   ON c_custkey = o_custkey
            JOIN lineitem ON o_orderkey = l_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   sum(l_extendedprice * (1 - l_discount)) AS revenue,
                   count(*) AS n_lines
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE c_nationkey = s_nationkey
            GROUP BY n_name
        """,
        "conditional_agg_priority": """
            SELECT l_returnflag,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
                   sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END)::BIGINT AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1995-01-01 00:00:00'
            GROUP BY l_returnflag
        """,
        "distinct_supplier_variety": """
            SELECT p_brand, p_size,
                   count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
            FROM part JOIN lineitem ON p_partkey = l_partkey
            WHERE p_size IN (1, 4, 9, 14, 19, 23)
            GROUP BY p_brand, p_size
        """,
        "large_order_topk": """
            WITH big AS (
              SELECT l_orderkey, sum(l_quantity) AS total_qty
              FROM lineitem GROUP BY l_orderkey
              HAVING sum(l_quantity) > 150
            )
            SELECT c_name, o_orderkey, o_totalprice,
                   round(total_qty, 4) AS total_qty
            FROM big
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 20
        """,
        "anti_join_missing": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "unpivot": """
            SELECT l_returnflag, l_linestatus, sum(l_quantity) AS total_qty
            FROM lineitem
            WHERE l_linestatus IN ('O','F')
            GROUP BY l_returnflag, l_linestatus
        """,
        "trapezoid_integration": """
            WITH series AS (
              SELECT l_orderkey, CAST(l_linenumber AS DOUBLE) AS x,
                     sum(l_quantity) AS y
              FROM lineitem GROUP BY 1, 2
            ), stepped AS (
              SELECT l_orderkey, x, y,
                     lead(x) OVER w AS x_next,
                     lead(y) OVER w AS y_next
              FROM series
              WINDOW w AS (PARTITION BY l_orderkey ORDER BY x)
            )
            SELECT l_orderkey,
                   sum((x_next - x) * (y + y_next) / 2.0) AS integral
            FROM stepped WHERE x_next IS NOT NULL
            GROUP BY l_orderkey
        """,
        "severity_banding": """
            SELECT CASE WHEN l_quantity < 10 THEN 'none'
                        WHEN l_quantity <= 25 THEN 'low'
                        WHEN l_quantity <= 40 THEN 'medium'
                        ELSE 'high' END AS severity,
                   count(*) AS n_lines
            FROM lineitem GROUP BY 1
        """,
        "weighted_average": """
            SELECT l_partkey,
                   sum(l_discount * l_quantity) / sum(l_quantity) AS weighted_avg_discount
            FROM lineitem GROUP BY l_partkey
        """,
        "haversine_length": """
            WITH pts AS (
              SELECT c_custkey,
                     CAST((c_custkey % 360) - 180 + 0.5 AS DOUBLE) AS lon,
                     CAST((c_custkey * 7 % 170) - 85 + 0.5 AS DOUBLE) AS lat,
                     CAST((c_nationkey * 14 % 360) - 180 + 0.5 AS DOUBLE) AS nlon,
                     CAST((c_nationkey * 6 % 170) - 85 + 0.5 AS DOUBLE) AS nlat
              FROM customer
            )
            SELECT c_custkey,
                   round(2.0 * 6371.0088 * asin(sqrt(
                     pow(sin(radians(nlat - lat) / 2), 2)
                     + cos(radians(lat)) * cos(radians(nlat))
                       * pow(sin(radians(nlon - lon) / 2), 2)
                   )), 6) AS dist_km
            FROM pts
        """,
        "spatial_bbox_join": """
            WITH pts AS (
              SELECT c_custkey,
                     c_custkey % 100 / 10.0 AS px,
                     c_custkey * 3 % 100 / 10.0 AS py
              FROM customer
            ), cells AS (
              SELECT n_nationkey,
                     n_nationkey % 5 * 2.0 AS minx,
                     n_nationkey % 5 * 2.0 + 2.0 AS maxx,
                     floor(n_nationkey / 5) * 2.0 AS miny,
                     floor(n_nationkey / 5) * 2.0 + 2.0 AS maxy
              FROM nation
            )
            SELECT n_nationkey, count(*) AS n_points
            FROM pts JOIN cells
              ON px >= minx AND px < maxx AND py >= miny AND py < maxy
            GROUP BY n_nationkey
        """,
        "polygon_indicator": """
            WITH segs AS (
              SELECT c_custkey AS way_id,
                     CAST(c_custkey % 20 AS DOUBLE) AS ax,
                     CAST(c_custkey * 3 % 19 + 0.5 AS DOUBLE) AS y,
                     CAST(c_custkey % 20 + 3 + c_custkey % 5 AS DOUBLE) AS bx,
                     CAST(3 + c_custkey % 5 AS DOUBLE) AS way_len
              FROM customer
            ), polys AS (
              SELECT CAST(n_nationkey % 5 * 4 + 2 AS DOUBLE) AS cx,
                     CAST(floor(n_nationkey / 5) * 4 + 2 AS DOUBLE) AS cy,
                     CAST(2 + n_nationkey % 3 AS DOUBLE) AS r,
                     CAST(n_nationkey + 1 AS DOUBLE) AS ind
              FROM nation
            ), pairs AS (
              SELECT way_id, way_len, ind,
                     GREATEST(0.0,
                       LEAST(bx, cx + (r - ABS(y - cy)))
                       - GREATEST(ax, cx - (r - ABS(y - cy)))) AS overlap
              FROM segs JOIN polys ON ABS(y - cy) < r
            )
            SELECT way_id,
                   round(sum(overlap * ind) / way_len, 6) AS value
            FROM pairs WHERE overlap > 0
            GROUP BY way_id, way_len
        """,
        "polygon_centroid": """
            WITH q AS (
              SELECT n_nationkey,
                     CAST(n_nationkey % 5 * 10 + n_nationkey % 2 AS DOUBLE) AS x0,
                     CAST(floor(n_nationkey / 5) * 10 AS DOUBLE) AS y0,
                     CAST(n_nationkey % 5 * 10 + 6 AS DOUBLE) AS x1,
                     CAST(floor(n_nationkey / 5) * 10 + n_nationkey % 3 AS DOUBLE) AS y1,
                     CAST(n_nationkey % 5 * 10 + 6 - n_nationkey % 2 AS DOUBLE) AS x2,
                     CAST(floor(n_nationkey / 5) * 10 + 5 AS DOUBLE) AS y2,
                     CAST(n_nationkey % 5 * 10 AS DOUBLE) AS x3,
                     CAST(floor(n_nationkey / 5) * 10 + 4 + n_nationkey % 2 AS DOUBLE) AS y3
              FROM nation
            ), m AS (
              SELECT n_nationkey,
                     x0*y1 - x1*y0 AS c0, x1*y2 - x2*y1 AS c1,
                     x2*y3 - x3*y2 AS c2, x3*y0 - x0*y3 AS c3,
                     x0, x1, x2, x3, y0, y1, y2, y3
              FROM q
            )
            SELECT n_nationkey AS area_id,
                   round(((x0+x1)*c0 + (x1+x2)*c1 + (x2+x3)*c2 + (x3+x0)*c3)
                         / ((c0+c1+c2+c3) * 3.0), 6) AS cx,
                   round(((y0+y1)*c0 + (y1+y2)*c1 + (y2+y3)*c2 + (y3+y0)*c3)
                         / ((c0+c1+c2+c3) * 3.0), 6) AS cy,
                   round((c0+c1+c2+c3) / 2.0, 6) AS area
            FROM m
        """,
        "dissolve_regions": """
            WITH cells AS (
              SELECT n_regionkey AS rk,
                     CAST(n_nationkey % 5 AS DOUBLE) AS c,
                     CAST(floor(n_nationkey / 5) AS DOUBLE) AS r
              FROM nation
            ), edges AS (
              SELECT rk, c AS x1, r AS y1, c+1 AS x2, r AS y2 FROM cells
              UNION ALL SELECT rk, c+1, r, c+1, r+1 FROM cells
              UNION ALL SELECT rk, c+1, r+1, c, r+1 FROM cells
              UNION ALL SELECT rk, c, r+1, c, r FROM cells
            ), canon AS (
              SELECT rk,
                     CASE WHEN x1 < x2 OR (x1 = x2 AND y1 < y2)
                          THEN concat(x1, ',', y1, '|', x2, ',', y2)
                          ELSE concat(x2, ',', y2, '|', x1, ',', y1) END AS ekey
              FROM edges
            ), boundary AS (
              SELECT rk, ekey FROM canon GROUP BY rk, ekey HAVING count(*) = 1
            ), cell_counts AS (
              SELECT rk, count(*) AS n_cells FROM cells GROUP BY rk
            )
            SELECT b.rk AS region_key,
                   count(*)::BIGINT AS n_edges,
                   round(CAST(count(*) AS DOUBLE), 6) AS perimeter,
                   round(CAST(a.n_cells AS DOUBLE), 6) AS area
            FROM boundary b JOIN cell_counts a USING (rk)
            GROUP BY b.rk, a.n_cells
        """,
        "events_hourly": """
            SELECT epoch_ns(ts) // 3600000000000 * 3600 AS hour_epoch,
                   event_type,
                   count(*) AS n_events,
                   sum(value) AS total_value
            FROM events
            GROUP BY 1, 2
        """,
        "sessionization": """
            WITH gaps AS (
              SELECT user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
              FROM events
            ), flagged AS (
              SELECT user_id, ts,
                     CASE WHEN prev_ts IS NULL
                               OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
                          THEN 1 ELSE 0 END AS new_session
              FROM gaps
            ), sess AS (
              SELECT user_id,
                     sum(new_session) OVER (
                       PARTITION BY user_id ORDER BY ts
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flagged
            )
            SELECT user_id,
                   CAST(max(session_id) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM sess GROUP BY user_id
        """,
        "range_join_bucketed": """
            WITH bands AS (
              SELECT p_partkey AS band_id,
                     p_partkey * 12000.0 AS lo,
                     p_partkey * 12000.0 + 12000.0 AS hi
              FROM part WHERE p_partkey <= 40
            )
            SELECT band_id, count(*) AS n_orders,
                   sum(o_totalprice) AS band_total
            FROM orders JOIN bands
              ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY band_id
        """,
        "multi_resolution_rollup": """
            WITH b AS (
              SELECT epoch_ns(ts) // 3600000000000 * 3600 AS hour_epoch,
                     epoch_ns(ts) // 86400000000000 * 86400 AS day_epoch,
                     event_type, value
              FROM events
            )
            SELECT hour_epoch, day_epoch, event_type,
                   count(*) AS n_events, sum(value) AS total_value
            FROM b
            GROUP BY GROUPING SETS ((hour_epoch, event_type), (day_epoch, event_type))
        """,
        "asof_join": """
            WITH clicks AS (
              SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
              FROM events WHERE event_type = 'click'
            ), errors AS (
              SELECT user_id, epoch_us(ts) AS ts_us, value AS err_value
              FROM events WHERE event_type = 'error'
            )
            SELECT c.event_id, c.user_id,
                   e.err_value AS last_err_value,
                   e.ts_us AS last_err_ts
            FROM clicks c
            ASOF LEFT JOIN errors e
              ON c.user_id = e.user_id AND e.ts_us <= c.ts_us
        """,
        "dedup_exact": """
            SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
                   min(doc_id) AS keep_id,
                   count(*) AS n_dups
            FROM documents GROUP BY 1
        """,
        "dedup_ngram_jaccard": """
            WITH docs AS (
              SELECT doc_id,
                     list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS words,
                     array_to_string(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')[1:4], ' ') AS bucket
              FROM documents
            ),
            widths AS (
              SELECT bucket, count(*) AS bw FROM docs GROUP BY bucket
            ),
            kept AS (
              SELECT d.* FROM docs d
              JOIN widths w ON d.bucket = w.bucket AND w.bw <= 64
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
                         / len(list_distinct(list_concat(a.words, b.words))), 6) AS jaccard
            FROM kept a JOIN kept b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
            WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
                  / len(list_distinct(list_concat(a.words, b.words))) >= 0.3
        """,
        "negative_sample": """
            WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
            idx AS (
              SELECT doc_id,
                     CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS pos
              FROM documents
            ),
            slots AS (
              SELECT i.doc_id AS anchor_id, i.pos AS apos,
                     CAST(u.slot AS INTEGER) AS slot,
                     CAST(('0x' || substr(md5(
                       'neg:' || CAST(i.doc_id AS VARCHAR) || ':'
                              || CAST(u.slot AS VARCHAR)), 1, 15))
                       AS BIGINT) % nn.n AS h,
                     nn.n AS n
              FROM idx i CROSS JOIN nn
              CROSS JOIN unnest(generate_series(0, 3)) AS u(slot)
            ),
            targeted AS (
              SELECT anchor_id, slot,
                     CASE WHEN h = apos THEN (h + 1) % n ELSE h END AS tpos
              FROM slots
            )
            SELECT t.anchor_id, t.slot, i.doc_id AS negative_id
            FROM targeted t JOIN idx i ON i.pos = t.tpos
        """,
        "batch_by_length": """
            WITH t AS (
              SELECT doc_id,
                     CAST(CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS INTEGER) AS n_tokens
              FROM documents
            ),
            b AS (
              SELECT doc_id, n_tokens, CAST((n_tokens > 16) AS INT) + CAST((n_tokens > 32) AS INT) + CAST((n_tokens > 64) AS INT) + CAST((n_tokens > 128) AS INT) + CAST((n_tokens > 256) AS INT) + CAST((n_tokens > 512) AS INT) + CAST((n_tokens > 1024) AS INT) AS len_bucket FROM t
            ),
            r AS (
              SELECT doc_id, n_tokens, len_bucket,
                     row_number() OVER (PARTITION BY len_bucket ORDER BY doc_id) AS rk
              FROM b
            )
            SELECT doc_id, n_tokens, len_bucket,
                   CAST((rk - 1) // 32 AS BIGINT) AS batch_idx
            FROM r
        """,
        "ngram_containment": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
              FROM documents
            ),
            sh AS (
              SELECT doc_id,
                     array_to_string(t[1:4], ' ') AS bucket,
                     CASE WHEN len(t) >= 3 THEN
                       list_distinct(list_transform(
                         generate_series(1, len(t) - 2),
                         i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
                     ELSE [array_to_string(t, ' ')] END AS s
              FROM toks
            ),
            widths AS (
              SELECT bucket, count(*) AS bw FROM sh GROUP BY bucket
            ),
            kept AS (
              SELECT h.* FROM sh h
              JOIN widths w ON h.bucket = w.bucket AND w.bw <= 64
            ),
            scored AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / len(a.s) AS ca,
                     CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / len(b.s) AS cb
              FROM kept a JOIN kept b
                ON a.bucket = b.bucket AND a.doc_id < b.doc_id
            )
            SELECT id_a, id_b,
                   round(ca, 6) AS containment_a,
                   round(cb, 6) AS containment_b
            FROM scored
            WHERE ca >= 0.5 OR cb >= 0.5
        """,
        "similarity_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
                 scored AS (
                   SELECT q.query_id, c.vec_id AS corpus_id,
                          list_cosine_similarity(
                            list_transform(q.qv, x -> CAST(x AS DOUBLE)),
                            list_transform(c.embedding, x -> CAST(x AS DOUBLE))) AS cos_raw
                   FROM embeddings c, q
                   WHERE c.vec_id <> q.query_id
                 )
            SELECT query_id, corpus_id, round(cos_raw, 6) AS cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                                           ORDER BY cos_raw DESC, corpus_id ASC) AS INTEGER) AS rank
            FROM scored
            QUALIFY rank <= 3
        """,
        "token_count": """
            SELECT doc_id,
                   CAST(CASE WHEN trim(text) = '' THEN 0
                        ELSE len(string_split_regex(trim(text), '\\s+')) END AS INTEGER) AS n_tokens,
                   CAST(length(text) AS INTEGER) AS n_chars_actual
            FROM documents
        """,
        "redact_pii": _redact_pii_oracle(),
        "doc_chunks": """
            WITH toks AS (
              SELECT doc_id,
                     string_split_regex(regexp_replace(trim(text), '\\s+', ' ', 'g'), ' ') AS t
              FROM documents
              WHERE trim(text) <> ''
            ), starts AS (
              SELECT doc_id, t, unnest(range(0, len(t), 24)) AS st
              FROM toks
            )
            SELECT doc_id,
                   CAST(st // 24 AS INTEGER) AS chunk_idx,
                   CAST(len(t[st+1:st+32]) AS INTEGER) AS n_tokens,
                   array_to_string(t[st+1:st+32], ' ') AS chunk_text
            FROM starts
        """,
        "pack_documents": """
            WITH n AS (
              SELECT doc_id,
                     CASE WHEN trim(text) = '' THEN 0
                          ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
              FROM documents
            ), spans AS (
              SELECT doc_id, n_tokens,
                     CAST(sum(n_tokens) OVER (ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS e
              FROM n
            ), s2 AS (
              SELECT doc_id, n_tokens, e - n_tokens AS s, e
              FROM spans WHERE n_tokens > 0
            ), bins AS (
              SELECT doc_id, n_tokens, s, e,
                     unnest(range(s // 512, (e - 1) // 512 + 1)) AS bin
              FROM s2
            )
            SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, bin,
                   greatest(s, bin * 512) - s AS bin_start,
                   least(e, bin * 512 + 512) - s AS bin_end
            FROM bins
        """,
        "quantize_embeddings": """
            WITH v AS (
              SELECT vec_id,
                     list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
              FROM embeddings
            ), s AS (
              SELECT vec_id, emb,
                     list_max(list_transform(emb, x -> abs(x))) / 127.0 AS scale
              FROM v
            ), q AS (
              SELECT vec_id, emb, scale,
                     CASE WHEN scale > 0 THEN
                       list_transform(emb,
                         x -> CAST(sign(x) * floor(abs(x) / scale + 0.5) AS INTEGER))
                     ELSE list_transform(emb, x -> 0) END AS qc
              FROM s
            )
            SELECT vec_id, round(scale, 9) AS scale,
                   array_to_string(list_transform(qc, x -> CAST(x AS VARCHAR)), ',') AS codes,
                   round(CASE WHEN scale > 0 THEN
                     list_cosine_similarity(emb, list_transform(qc, y -> y * scale))
                   END, 6) AS dequant_cosine
            FROM q
        """,
        "skew_salted_sum": """
            SELECT l_returnflag, round(sum(l_quantity), 4) AS total_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "bpe_token_count": """
            SELECT doc_id,
                   CAST(len(regexp_extract_all(text,
                     '''s|''t|''re|''ve|''m|''ll|''d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+'
                   )) AS INTEGER) AS n_bpe_tokens
            FROM documents
        """,
        "doc_winnowing": """
            WITH toks AS (
              SELECT doc_id,
                     string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
              FROM documents WHERE doc_id < 100
            ), grams AS (
              SELECT doc_id, unnest(generate_series(1, greatest(len(t) - 2, 0))) AS pos, t
              FROM toks
            ), hashed AS (
              SELECT doc_id, pos,
                     md5(array_to_string(t[pos:pos+2], ' ')) AS fp,
                     greatest(len(t) - 2, 0) AS n_kg
              FROM grams
            ), mins AS (
              SELECT doc_id, pos, n_kg,
                     min(fp) OVER (PARTITION BY doc_id ORDER BY pos
                                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS win_min
              FROM hashed
            )
            SELECT DISTINCT doc_id, win_min AS fingerprint
            FROM mins WHERE pos <= n_kg - 3
        """,
        "quality_score": """
            WITH feat AS (
              SELECT lang,
                     CAST(len(toks) AS DOUBLE) AS n,
                     CAST(len(list_filter(toks, t -> t IN ('the','a','of','to','and','in','is'))) AS DOUBLE)
                       / len(toks) AS stop_ratio,
                     CAST(length(text) AS DOUBLE) AS chars
              FROM (
                SELECT lang, text,
                       string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS toks
                FROM documents)
            )
            SELECT lang, count(*) AS n_docs,
                   round(avg(stop_ratio), 6) AS avg_stopword_ratio,
                   round(avg(chars), 6) AS avg_chars,
                   round(avg(n), 6) AS avg_tokens
            FROM feat GROUP BY lang
        """,
        "lang_id": """
            WITH toks AS (
              SELECT lang,
                     string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
              FROM documents
            ), hits AS (
              SELECT lang,
                     [
                       {'neg': -len(list_filter(t, x -> x IN ('the','and','of','to','a'))), 'lang': 'en'},
                       {'neg': -len(list_filter(t, x -> x IN ('el','la','de','que','y'))), 'lang': 'es'},
                       {'neg': -len(list_filter(t, x -> x IN ('der','die','und','das','ist'))), 'lang': 'de'},
                       {'neg': -len(list_filter(t, x -> x IN ('le','les','des','et','une'))), 'lang': 'fr'},
                       {'neg': -len(list_filter(t, x -> x IN ('shi','zai','he','wo','ni'))), 'lang': 'zh'}
                     ] AS hs
              FROM toks
            )
            SELECT lang, list_min(hs)['lang'] AS lang_pred, count(*) AS n_docs
            FROM hits GROUP BY 1, 2
        """,
        "doc_fingerprint": """
            SELECT doc_id,
                   md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "stable_sample": f"""
            SELECT doc_id, lang, n_chars
            FROM documents
            WHERE CAST(('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  < {int(0.1 * (1 << 60))}
        """,
        "group_sample": """
            SELECT doc_id, lang, n_chars FROM (
              SELECT doc_id, lang, n_chars,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY CAST(('0x' || substr(md5('gsample:'
                         || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         ASC, doc_id ASC
                     ) AS rn
              FROM documents
            ) WHERE rn <= 5
        """,
        "stratified_sample": f"""
            SELECT doc_id, lang, n_chars
            FROM documents
            WHERE CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  < CAST(FLOOR(CAST(CASE lang WHEN 'en' THEN 0.2
                                              WHEN 'zh' THEN 1.0
                                              ELSE 0.5 END AS DOUBLE)
                               * {float(1 << 60)}) AS BIGINT)
        """,
        "bridge_snap": """
            WITH bridges AS (
              SELECT s_suppkey AS bridge_id, s_nationkey % 10 AS road_key,
                     s_suppkey % 100 / 10.0 AS px, s_suppkey * 3 % 100 / 10.0 AS py
              FROM supplier
            ), segments AS (
              SELECT p_partkey AS seg_id, p_partkey % 10 AS road_key,
                     p_partkey % 7 + 0.0 AS ax, p_partkey % 5 + 0.0 AS ay,
                     p_partkey % 7 + 3.0 AS bx, p_partkey % 5 + 1.0 AS by
              FROM part WHERE p_partkey <= 200
            ), joined AS (
              SELECT bridge_id, seg_id, px, py, ax, ay, bx, by,
                     bx - ax AS dx, by - ay AS dy
              FROM bridges JOIN segments USING (road_key)
            ), dist AS (
              SELECT bridge_id, seg_id,
                     sqrt(pow(px - (ax + t * dx), 2) + pow(py - (ay + t * dy), 2)) AS d
              FROM (
                SELECT *, least(greatest(
                         CASE WHEN dx*dx + dy*dy > 0
                              THEN ((px - ax) * dx + (py - ay) * dy) / (dx*dx + dy*dy)
                              ELSE 0.0 END, 0.0), 1.0) AS t
                FROM joined)
            )
            SELECT bridge_id, seg_id, round(d, 6) AS dist
            FROM dist
            QUALIFY row_number() OVER (PARTITION BY bridge_id ORDER BY d ASC, seg_id ASC) = 1
        """,
        "flood_ead": """
            WITH periods AS (
              SELECT unnest([5,10,20,50,75,100,200,250,500,1000]) AS return_period
            ), ways AS (
              SELECT 'w' || n_nationkey AS way_id,
                     n_nationkey % 5 + 1.0 AS length_km,
                     CASE WHEN n_nationkey % 2 = 0 THEN 'paved' ELSE 'unpaved' END AS surface,
                     n_nationkey AS k
              FROM nation
            ), exposure AS (
              SELECT way_id, return_period, length_km, surface,
                     k % 4 * log10(return_period) / 2.0 AS max_depth_m,
                     least(100.0, k % 7 * log10(return_period) * 10.0) AS pct_flooded
              FROM ways CROSS JOIN periods
            ), damage AS (
              SELECT way_id, return_period,
                     length_km * pct_flooded / 100.0 *
                     CASE
                       WHEN max_depth_m < 0.2 THEN 0.0
                       WHEN max_depth_m <= 0.5 THEN CASE WHEN surface='paved' THEN 50000.0 ELSE 20000.0 END
                       WHEN max_depth_m <= 1.5 THEN CASE WHEN surface='paved' THEN 150000.0 ELSE 60000.0 END
                       ELSE CASE WHEN surface='paved' THEN 400000.0 ELSE 150000.0 END
                     END AS damage
              FROM exposure
            ), stepped AS (
              SELECT way_id, return_period, damage,
                     lead(return_period) OVER w AS p_next,
                     lead(damage) OVER w AS d_next
              FROM damage
              WINDOW w AS (PARTITION BY way_id ORDER BY return_period)
            )
            SELECT way_id,
                   round(sum((1.0/return_period - 1.0/p_next) * 0.5 * (damage + d_next)), 6) AS ead
            FROM stepped WHERE p_next IS NOT NULL
            GROUP BY way_id
        """,
        "grouped_collect": """
            SELECT c_nationkey,
                   string_agg(c_name, ',' ORDER BY c_name) AS customer_names,
                   count(*) AS n
            FROM customer WHERE c_custkey <= 200
            GROUP BY c_nationkey
        """,
        "json_props": """
            SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS k_mod,
                   count(*) AS n_events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS k_sum
            FROM events
            GROUP BY 1
        """,
        # EAUL per way x upgrade, independently derived in pure SQL:
        # per-(scenario, flood-state) simple-path enumeration, the
        # reference's repair-time/increased-user-cost/trapezoid math
        # (eaul.js:387-415, 565-575, 644-656), and the baseline
        # unroutable-pair exclusion (eaul.js:204-330). Validates the
        # Spark scenario engine against a second implementation.
        "eaul": """
WITH RECURSIVE
keys AS (SELECT n_nationkey AS k FROM nation),
chain AS (
  SELECT 'w' || a.k || '-' || b.k AS way_id, a.k AS s, b.k AS d,
         CAST(1.0 + a.k % 5 / 10.0 AS DOUBLE) AS w, CAST(1.0 AS DOUBLE) AS len_part
  FROM keys a JOIN keys b ON b.k = a.k + 1
),
hwy AS (
  SELECT 'h' || k || '-' || (k+5) AS way_id, k AS s, k + 5 AS d,
         CAST(4.5 AS DOUBLE) AS w, CAST(4.5 AS DOUBLE) AS len_part
  FROM keys WHERE k % 3 = 0 AND k + 5 <= (SELECT max(k) FROM keys)
),
edges AS (SELECT * FROM chain UNION ALL SELECT * FROM hwy),
way_order AS (
  SELECT way_id, row_number() OVER (ORDER BY way_id) - 1 AS i FROM edges
),
way_surface AS (
  SELECT way_id, CASE WHEN i % 2 = 1 THEN 'unpaved' ELSE 'paved' END AS surface
  FROM way_order
),
flooded AS (SELECT unnest(['h6-11', 'w3-4']) AS way_id),
upgrades AS (
  SELECT * FROM (VALUES
    ('upgrade-rehab-asphalt', CAST(0.23 AS DOUBLE), 'paved'),
    ('upgrade-rehab-gravel', CAST(0.27 AS DOUBLE), 'unpaved'),
    ('rehab-earth', CAST(0.3 AS DOUBLE), 'unpaved')
  ) AS t(upgrade_id, ruc, up_surface)
),
scenarios AS (
  SELECT e.way_id AS up_way, u.upgrade_id, u.ruc, u.up_surface
  FROM edges e CROSS JOIN upgrades u
  UNION ALL
  SELECT NULL, 'baseline', NULL, NULL
),
states AS (
  SELECT coalesce(s.up_way, '') || '|' || s.upgrade_id || '|' || f.fl AS state_id,
         s.up_way, s.upgrade_id, s.ruc, s.up_surface, f.fl
  FROM scenarios s CROSS JOIN (SELECT unnest([0, 1]) AS fl) f
),
state_edges AS (
  SELECT st.state_id, e.s, e.d,
         CASE WHEN st.up_way = e.way_id THEN st.ruc * e.len_part ELSE e.w END AS w
  FROM states st JOIN edges e
    ON NOT (st.fl = 1 AND e.way_id IN (SELECT way_id FROM flooded))
),
state_edges_dir AS (
  SELECT state_id, s, d, w FROM state_edges
  UNION ALL SELECT state_id, d, s, w FROM state_edges
),
od AS (
  SELECT k FROM (SELECT min(k) AS k FROM keys
        UNION SELECT (SELECT k FROM keys ORDER BY k
                      LIMIT 1 OFFSET (SELECT count(*)//2 FROM keys))
        UNION SELECT max(k) FROM keys) t
),
od_idx AS (SELECT k, row_number() OVER (ORDER BY k) - 1 AS idx FROM od),
paths AS (
  SELECT st.state_id, o.k AS src, o.k AS node, CAST(0.0 AS DOUBLE) AS dist, [o.k] AS visited
  FROM (SELECT DISTINCT state_id FROM states) st, od o
  UNION ALL
  SELECT p.state_id, p.src, e.d, p.dist + e.w, list_append(p.visited, e.d)
  FROM paths p JOIN state_edges_dir e ON e.state_id = p.state_id AND e.s = p.node
  WHERE NOT list_contains(p.visited, e.d)
),
dists AS (
  SELECT state_id, src, node, min(dist) AS dist
  FROM paths WHERE node IN (SELECT k FROM od) GROUP BY 1,2,3
),
pairs AS (
  SELECT a.k AS x, a.idx AS xi, b.k AS y, b.idx AS yi
  FROM od_idx a JOIN od_idx b ON a.k < b.k
),
traffic AS (
  SELECT * FROM (VALUES (0, 1, CAST(73000.0 AS DOUBLE)),
                        (0, 2, CAST(36500.0 AS DOUBLE)),
                        (1, 2, CAST(73000.0 AS DOUBLE))) AS t(xi, yi, yearly)
),
pair_cost AS (
  SELECT st.state_id, p.xi, p.yi,
         CASE WHEN d1.dist IS NULL OR d2.dist IS NULL THEN NULL
              ELSE greatest(d1.dist, d2.dist) END AS cost
  FROM (SELECT DISTINCT state_id FROM states) st CROSS JOIN pairs p
  LEFT JOIN dists d1 ON d1.state_id = st.state_id AND d1.src = p.x AND d1.node = p.y
  LEFT JOIN dists d2 ON d2.state_id = st.state_id AND d2.src = p.y AND d2.node = p.x
),
excluded AS (
  SELECT pc.xi, pc.yi FROM pair_cost pc
  JOIN states st ON st.state_id = pc.state_id
  WHERE st.upgrade_id = 'baseline' AND st.fl = 1 AND pc.cost IS NULL
  UNION
  SELECT xi, yi FROM traffic WHERE yearly = 0
),
sums AS (
  SELECT st.up_way, st.upgrade_id,
         sum((fc.cost - nc.cost) * tr.yearly) AS s_diff
  FROM states st
  JOIN pair_cost fc ON fc.state_id = st.state_id AND st.fl = 1
  JOIN pair_cost nc ON nc.state_id = replace(st.state_id, '|1', '|0')
                    AND nc.xi = fc.xi AND nc.yi = fc.yi
  JOIN traffic tr ON tr.xi = fc.xi AND tr.yi = fc.yi
  WHERE NOT EXISTS (SELECT 1 FROM excluded ex WHERE ex.xi = fc.xi AND ex.yi = fc.yi)
    AND fc.cost IS NOT NULL
  GROUP BY 1, 2
),
repair AS (
  SELECT st.up_way, st.upgrade_id,
         max(CASE WHEN coalesce(st.up_way, '') = f.way_id THEN
               CASE WHEN st.up_surface = 'paved' THEN 1056.0 ELSE 4320.0 END
             ELSE CASE WHEN ws.surface = 'paved' THEN 1056.0 ELSE 4320.0 END
             END * 0.5 / 24.0) AS r8,
         max(CASE WHEN coalesce(st.up_way, '') = f.way_id THEN
               CASE WHEN st.up_surface = 'paved' THEN 1056.0 ELSE 4320.0 END
             ELSE CASE WHEN ws.surface = 'paved' THEN 1056.0 ELSE 4320.0 END
             END * 1.0 / 24.0) AS r9
  FROM states st
  CROSS JOIN flooded f
  JOIN way_surface ws ON ws.way_id = f.way_id
  WHERE st.fl = 1
  GROUP BY 1, 2
),
eaul_calc AS (
  SELECT coalesce(s.up_way, '__baseline__') AS way_id, s.upgrade_id,
         0.5 * ((1.0/250 - 1.0/500) * (r.r8 * s.s_diff)
              + (1.0/500 - 1.0/1000) * (r.r8 * s.s_diff + r.r9 * s.s_diff)) AS eaul_raw
  FROM sums s JOIN repair r
    ON coalesce(s.up_way,'') = coalesce(r.up_way,'') AND s.upgrade_id = r.upgrade_id
)
SELECT way_id, upgrade_id,
       round(CASE WHEN abs(eaul_raw) < 1.0 THEN 0.0 ELSE eaul_raw END, 4) AS eaul
FROM eaul_calc

        """,
        # IVF approximate top-k replicated exactly in SQL: same
        # deterministic md5-ordered centroid sample, assignment,
        # probing, ranking.
        "similarity_ivf": _IVF_TOPK_ORACLE,
        "ivf_indexed": _IVF_TOPK_ORACLE,
        "dedup_clusters": """
            WITH RECURSIVE docs AS (
              SELECT doc_id,
                     list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS words,
                     array_to_string(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')[1:4], ' ') AS bucket
              FROM documents
            ), cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM docs a JOIN docs b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
              WHERE CAST(len(list_intersect(a.words, b.words)) AS DOUBLE)
                    / len(list_distinct(list_concat(a.words, b.words))) >= 0.3
            ), undirected AS (
              SELECT id_a AS u, id_b AS v FROM cand
              UNION SELECT id_b, id_a FROM cand
            ), nodes AS (SELECT DISTINCT u AS id FROM undirected),
            reach AS (
              SELECT id, id AS r FROM nodes
              UNION
              SELECT reach.id, e.v FROM reach JOIN undirected e ON e.u = reach.r
            )
            SELECT comp AS component, count(*) AS cluster_size
            FROM (SELECT id, min(r) AS comp FROM reach GROUP BY id)
            GROUP BY comp ORDER BY comp
        """,
        "raster_stats": """
            WITH ways AS (
              SELECT 'w' || n_nationkey AS way_id FROM nation
            ), periods AS (
              SELECT unnest([5,10,20,50,75,100,200,250,500,1000]) AS return_period,
                     unnest([0,1,2,3,4,5,6,7,8,9]) AS rank
            ), h AS (
              SELECT way_id,
                     CAST(('0x' || substr(md5(way_id), 1, 8)) AS BIGINT) % 1000 / 1000.0 AS hv
              FROM ways
            )
            SELECT way_id, return_period,
                   hv * rank * 0.5 AS max_depth_m,
                   least(100.0, hv * rank * 12.5) AS pct_flooded
            FROM h CROSS JOIN periods
        """,
        "multimodal_features": """
            WITH d AS (
              SELECT doc_id, substr(text, 1, 64) AS payload FROM documents
              WHERE doc_id < 100
            ), chars AS (
              SELECT doc_id, payload,
                     unnest(generate_series(1, length(payload))) AS i
              FROM d
            )
            SELECT doc_id,
                   round(avg(ord(substr(payload, i, 1))), 6) AS mean_byte,
                   CAST(max(length(payload)) AS DOUBLE) AS payload_len
            FROM chars GROUP BY doc_id
        """,
        # Leave-one-out criticality, independently derived in pure SQL:
        # simple-path enumeration via a recursive CTE (tractable on the
        # synthetic graph), then the reference's stats fold and scoring
        # (criticality.js:96-110, 232-303). Validates the Spark routing
        # kernel end-to-end against a second implementation.
        "criticality": """
            WITH RECURSIVE
            keys AS (SELECT n_nationkey AS k FROM nation),
            chain AS (
              SELECT 'w' || a.k || '-' || b.k AS way_id, a.k AS s, b.k AS d,
                     CAST(1.0 + a.k % 5 / 10.0 AS DOUBLE) AS w
              FROM keys a JOIN keys b ON b.k = a.k + 1
            ),
            hwy AS (
              SELECT 'h' || k || '-' || (k+5) AS way_id, k AS s, k + 5 AS d,
                     CAST(4.5 AS DOUBLE) AS w
              FROM keys WHERE k % 3 = 0 AND k + 5 <= (SELECT max(k) FROM keys)
            ),
            edges AS (SELECT * FROM chain UNION ALL SELECT * FROM hwy),
            edges_dir AS (
              SELECT way_id, s, d, w FROM edges
              UNION ALL SELECT way_id, d, s, w FROM edges
            ),
            od AS (
              SELECT k FROM (SELECT min(k) AS k FROM keys
                    UNION SELECT (SELECT k FROM keys ORDER BY k
                                  LIMIT 1 OFFSET (SELECT count(*)//2 FROM keys))
                    UNION SELECT max(k) FROM keys) t
            ),
            scenarios AS (
              SELECT way_id AS removed FROM edges UNION ALL SELECT '__none__'
            ),
            paths AS (
              SELECT sc.removed, o.k AS src, o.k AS node,
                     CAST(0.0 AS DOUBLE) AS dist, [o.k] AS visited
              FROM scenarios sc, od o
              UNION ALL
              SELECT p.removed, p.src, e.d, p.dist + e.w,
                     list_append(p.visited, e.d)
              FROM paths p JOIN edges_dir e
                ON e.s = p.node AND e.way_id <> p.removed
              WHERE NOT list_contains(p.visited, e.d)
            ),
            dists AS (
              SELECT removed, src, node, min(dist) AS dist
              FROM paths WHERE node IN (SELECT k FROM od)
              GROUP BY 1,2,3
            ),
            pairs AS (SELECT a.k AS x, b.k AS y FROM od a JOIN od b ON a.k < b.k),
            pair_dist AS (
              SELECT sc.removed, p.x, p.y, d1.dist AS dxy, d2.dist AS dyx
              FROM scenarios sc CROSS JOIN pairs p
              LEFT JOIN dists d1 ON d1.removed = sc.removed AND d1.src = p.x AND d1.node = p.y
              LEFT JOIN dists d2 ON d2.removed = sc.removed AND d2.src = p.y AND d2.node = p.x
            ),
            scen AS (
              SELECT removed, x, y,
                     CASE WHEN dxy IS NULL OR dyx IS NULL THEN NULL
                          ELSE greatest(dxy, dyx) END AS cost
              FROM pair_dist
            ),
            bench AS (SELECT x, y, cost FROM scen WHERE removed = '__none__'),
            eval AS (
              SELECT s.removed, s.cost IS NULL AS unroutable_direct,
                     CASE WHEN s.cost IS NOT NULL THEN s.cost - b.cost END AS delta
              FROM scen s JOIN bench b USING (x, y) WHERE s.removed <> '__none__'
            ),
            stats AS (
              SELECT removed AS way_id,
                     CAST(sum(CASE WHEN unroutable_direct OR delta < 0 THEN 1 ELSE 0 END) AS BIGINT) AS unroutable_pairs,
                     CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS impacted_pairs,
                     coalesce(sum(CASE WHEN delta >= 0 THEN delta END)
                              / nullif(sum(CASE WHEN delta >= 0 AND delta <> 0 THEN 1 ELSE 0 END), 0), 0) AS avg_nz
              FROM eval GROUP BY 1
            ),
            maxima AS (
              SELECT max((unroutable_pairs + impacted_pairs) * avg_nz) AS avg_max_time,
                     max(unroutable_pairs) AS max_unroutable
              FROM stats
            )
            SELECT way_id,
                   round((CASE WHEN avg_max_time > 0
                               THEN (unroutable_pairs + impacted_pairs) * avg_nz / avg_max_time
                               ELSE 0 END * 0.4
                        + CASE WHEN max_unroutable > 0
                               THEN CAST(unroutable_pairs AS DOUBLE) / max_unroutable
                               ELSE 0 END * 0.6) * 100, 6) AS score,
                   unroutable_pairs, impacted_pairs
            FROM stats, maxima
        """,
        "pagerank": """
            WITH e AS (
              SELECT src, dst FROM (
                SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              )
              UNION
              SELECT dst AS src, src AS dst FROM (
                SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              )
            ),
            nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
            deg AS (
              SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src
            ),
            r0 AS (
              SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn
            ),
            c1 AS (
              SELECT e.dst AS node, sum(r0.rank / deg.deg) AS cin
              FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT nodes.node,
                     (1.0 - 0.85) / nn.n + 0.85 * coalesce(c1.cin, 0.0) AS rank
              FROM nodes LEFT JOIN c1 USING (node) CROSS JOIN nn
            ),
            c2 AS (
              SELECT e.dst AS node, sum(r1.rank / deg.deg) AS cin
              FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT nodes.node,
                     (1.0 - 0.85) / nn.n + 0.85 * coalesce(c2.cin, 0.0) AS rank
              FROM nodes LEFT JOIN c2 USING (node) CROSS JOIN nn
            ),
            c3 AS (
              SELECT e.dst AS node, sum(r2.rank / deg.deg) AS cin
              FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
              GROUP BY e.dst
            ),
            r3 AS (
              SELECT nodes.node,
                     (1.0 - 0.85) / nn.n + 0.85 * coalesce(c3.cin, 0.0) AS rank
              FROM nodes LEFT JOIN c3 USING (node) CROSS JOIN nn
            )
            SELECT node, round(rank * 1000000.0, 6) AS rank_ppm FROM r3
        """,
        "pagerank_personalized": """
            WITH e AS (
              SELECT src, dst FROM (
                SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              )
              UNION
              SELECT dst AS src, src AS dst FROM (
                SELECT DISTINCT o_custkey AS src, l_suppkey + 1000000 AS dst
                FROM orders JOIN lineitem ON o_orderkey = l_orderkey
              )
            ),
            nodes AS (
              SELECT src AS node FROM e UNION SELECT dst FROM e
            ),
            ns AS (
              SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
              WHERE node IN (1, 2, 4, 7)
            ),
            pv AS (
              SELECT node,
                     CASE WHEN node IN (1, 2, 4, 7)
                          THEN 1.0 / ns.n ELSE 0.0 END AS p
              FROM nodes CROSS JOIN ns
            ),
            deg AS (
              SELECT src, CAST(count(*) AS DOUBLE) AS deg FROM e GROUP BY src
            ),
            r0 AS (SELECT node, p AS rank FROM pv),
            c1 AS (
              SELECT e.dst AS node, sum(r0.rank / deg.deg) AS cin
              FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT pv.node,
                     (1.0 - 0.85) * pv.p + 0.85 * coalesce(c1.cin, 0.0) AS rank
              FROM pv LEFT JOIN c1 USING (node)
            ),
            c2 AS (
              SELECT e.dst AS node, sum(r1.rank / deg.deg) AS cin
              FROM e JOIN r1 ON e.src = r1.node JOIN deg ON e.src = deg.src
              GROUP BY e.dst
            ),
            r2 AS (
              SELECT pv.node,
                     (1.0 - 0.85) * pv.p + 0.85 * coalesce(c2.cin, 0.0) AS rank
              FROM pv LEFT JOIN c2 USING (node)
            ),
            c3 AS (
              SELECT e.dst AS node, sum(r2.rank / deg.deg) AS cin
              FROM e JOIN r2 ON e.src = r2.node JOIN deg ON e.src = deg.src
              GROUP BY e.dst
            ),
            r3 AS (
              SELECT pv.node,
                     (1.0 - 0.85) * pv.p + 0.85 * coalesce(c3.cin, 0.0) AS rank
              FROM pv LEFT JOIN c3 USING (node)
            )
            SELECT node, round(rank * 1000000.0, 6) AS rank_ppm FROM r3
        """,
        "bloom_semi_join": """
            SELECT l_orderkey, l_linenumber, l_suppkey
            FROM lineitem
            WHERE l_suppkey IN (
              SELECT s_suppkey FROM supplier WHERE s_nationkey < 4
            )
        """,
        "lm_score": """
            WITH ref AS (SELECT text FROM documents WHERE lang = 'en'),
            rt AS (
              SELECT list_filter(string_split(text, ' '), t -> t <> '') AS t
              FROM ref
            ),
            rbig AS (
              SELECT t[u.i] AS w1, t[u.i + 1] AS w2
              FROM rt, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
            ),
            bi AS (SELECT w1, w2, count(*) AS c_bi FROM rbig GROUP BY w1, w2),
            ctx AS (SELECT w1, sum(c_bi) AS c_ctx FROM bi GROUP BY w1),
            v AS (
              SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM (
                SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS w
                FROM ref
              )
            ),
            dt AS (
              SELECT doc_id,
                     list_filter(string_split(text, ' '), t -> t <> '') AS t
              FROM documents
            ),
            dbig AS (
              SELECT doc_id, t[u.i] AS w1, t[u.i + 1] AS w2
              FROM dt, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
            ),
            scored AS (
              SELECT doc_id, count(*) AS n_bigrams,
                     -avg(ln(
                       (coalesce(c_bi, 0) + CAST(0.1 AS DOUBLE))
                       / (coalesce(c_ctx, 0) + CAST(0.1 AS DOUBLE) * v.v)
                     )) AS h
              FROM dbig
              LEFT JOIN bi USING (w1, w2)
              LEFT JOIN ctx USING (w1)
              CROSS JOIN v
              GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(n_bigrams, 0) AS n_bigrams,
                   round(h, 6) AS cross_entropy,
                   round(exp(h), 6) AS perplexity,
                   CASE WHEN h IS NULL THEN NULL
                        WHEN h < CAST(3.38 AS DOUBLE) THEN 'head'
                        WHEN h < CAST(3.45 AS DOUBLE) THEN 'middle'
                        ELSE 'tail' END AS lm_bucket
            FROM documents d LEFT JOIN scored USING (doc_id)
        """,
        "mixture_resample": f"""
            WITH w AS (
              SELECT * FROM (VALUES
                ('src0', CAST(0.5 AS DOUBLE)),
                ('src1', CAST(0.25 AS DOUBLE)),
                ('src2', CAST(0.25 AS DOUBLE))
              ) AS t(source, wt)
            ),
            counts AS (
              SELECT source, count(*) AS n FROM documents GROUP BY source
            ),
            present AS (SELECT * FROM counts JOIN w USING (source)),
            tt AS (
              SELECT min(CAST(n AS DOUBLE) / wt) AS t FROM present
            ),
            rates AS (
              SELECT source,
                     least(CAST(1.0 AS DOUBLE),
                           wt * tt.t / CAST(n AS DOUBLE)) AS rate
              FROM present CROSS JOIN tt
            )
            SELECT doc_id, source, lang
            FROM documents JOIN rates USING (source)
            WHERE CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  < CAST(FLOOR(rate * {float(1 << 60)}) AS BIGINT)
        """,
        "temperature_resample": f"""
            WITH counts AS (
              SELECT lang, count(*) AS n FROM documents GROUP BY lang
            ),
            p AS (
              SELECT lang,
                     pow(CAST(n AS DOUBLE), CAST(0.5 AS DOUBLE)) AS p
              FROM counts
            ),
            m AS (SELECT min(p) AS mp FROM p),
            rates AS (
              SELECT lang, m.mp / p.p AS rate FROM p CROSS JOIN m
            )
            SELECT doc_id, lang, source
            FROM documents JOIN rates USING (lang)
            WHERE CAST(('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  < CAST(FLOOR(rate * {float(1 << 60)}) AS BIGINT)
        """,
        "duplicate_spans": """
            WITH toks AS (
              SELECT doc_id,
                     list_filter(string_split(coalesce(text, ''), ' '),
                                 t -> t <> '') AS t
              FROM documents
            ),
            wins AS (
              SELECT doc_id, u.i AS pos,
                     array_to_string(t[u.i:u.i+9], ' ') AS key
              FROM toks, UNNEST(generate_series(1, len(t) - 9)) AS u(i)
            ),
            dup AS (
              SELECT key FROM wins
              GROUP BY key HAVING count(DISTINCT doc_id) >= 2
            ),
            flagged AS (
              SELECT doc_id, list(pos) AS ss
              FROM wins JOIN dup USING (key) GROUP BY doc_id
            ),
            joined AS (
              SELECT toks.doc_id, t, coalesce(ss, []) AS ss
              FROM toks LEFT JOIN flagged USING (doc_id)
            ),
            kept AS (
              SELECT doc_id, t,
                     list_filter(t, (x, i) ->
                       len(list_filter(ss, s -> i >= s AND i < s + 10)) = 0
                     ) AS k
              FROM joined
            )
            SELECT doc_id,
                   len(t) AS n_tokens,
                   len(t) - len(k) AS n_removed,
                   coalesce(array_to_string(k, ' '), '') AS text_clean
            FROM kept
        """,
        "triangle_count": """
            WITH raw AS (
              SELECT c_custkey AS s, 2000000 + c_custkey % 97 AS t FROM customer
              UNION ALL
              SELECT c_custkey, 2200000 + c_custkey % 31 FROM customer
              UNION ALL
              SELECT 2000000 + c_custkey % 97, 2200000 + c_custkey % 31
              FROM customer
            ),
            und AS (
              SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
              FROM raw WHERE s <> t
            ),
            deg AS (
              SELECT n, count(*) AS d FROM (
                SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
              ) GROUP BY n
            ),
            keyed AS (SELECT n, d * 4294967296 + n AS k FROM deg),
            wk AS (
              SELECT a, b, ka.k AS ka, kb.k AS kb
              FROM und
              JOIN keyed ka ON ka.n = a
              JOIN keyed kb ON kb.n = b
            ),
            ori AS (
              SELECT CASE WHEN ka < kb THEN a ELSE b END AS u,
                     CASE WHEN ka < kb THEN b ELSE a END AS v,
                     greatest(ka, kb) AS kv
              FROM wk
            ),
            wedges AS (
              SELECT e1.u AS u, e1.v AS x, e2.v AS y
              FROM ori e1 JOIN ori e2 ON e1.u = e2.u
              WHERE e1.kv < e2.kv
            ),
            closed AS (
              SELECT w.u, w.x, w.y
              FROM wedges w JOIN ori o ON o.u = w.x AND o.v = w.y
            ),
            corners AS (
              SELECT u AS node FROM closed
              UNION ALL SELECT x FROM closed
              UNION ALL SELECT y FROM closed
            )
            SELECT node, count(*) AS triangles FROM corners GROUP BY node
        """,
        "zorder_curve": """
            WITH g AS (
              SELECT p_partkey,
                     p_partkey % 1024 AS gx,
                     p_partkey * 7 % 1024 AS gy,
                     p_partkey * 13 % 1024 AS gz
              FROM part
            )
            SELECT p_partkey, gx, gy,
                   list_sum(list_transform(range(0, 10), k ->
                     (((CAST(gx AS BIGINT) >> k) & 1) << (2*k))
                     + (((CAST(gy AS BIGINT) >> k) & 1) << (2*k+1))
                   ))::BIGINT AS zvalue,
                   list_sum(list_transform(range(0, 10), k ->
                     (((CAST(gx AS BIGINT) >> k) & 1) << (3*k))
                     + (((CAST(gy AS BIGINT) >> k) & 1) << (3*k+1))
                     + (((CAST(gz AS BIGINT) >> k) & 1) << (3*k+2))
                   ))::BIGINT AS zvalue3
            FROM g
        """,
        "cms_heavy_hitters": """
            WITH depths AS (SELECT unnest(generate_series(0, 3)) AS d),
            bc AS (
              SELECT depths.d AS d,
                     CAST(('0x' || substr(md5('cms' || depths.d || ':' || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 256 AS bucket,
                     count(*) AS c
              FROM events CROSS JOIN depths
              GROUP BY 1, 2
            ),
            exact AS (
              SELECT user_id, count(*) AS exact_count
              FROM events GROUP BY user_id
              ORDER BY exact_count DESC, user_id ASC LIMIT 10
            ),
            est AS (
              SELECT e.user_id, min(bc.c) AS cms_estimate
              FROM exact e CROSS JOIN depths
              JOIN bc ON bc.d = depths.d
                AND bc.bucket = CAST(('0x' || substr(md5('cms' || depths.d || ':' || CAST(e.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 256
              GROUP BY e.user_id
            )
            SELECT e.user_id, e.exact_count, est.cms_estimate,
                   est.cms_estimate >= e.exact_count AS never_underestimates
            FROM exact e JOIN est USING (user_id)
        """,
        "weighted_sample": f"""
            WITH keyed AS (
              SELECT doc_id, lang, n_chars,
                     ln((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                         + CAST(1.0 AS DOUBLE)) / {float(1 << 60)})
                       / CAST(n_chars AS DOUBLE) AS skey
              FROM documents
              WHERE n_chars IS NOT NULL AND n_chars > 0
            )
            SELECT doc_id, lang, n_chars, round(skey, 6) AS sample_key
            FROM keyed
            QUALIFY row_number() OVER (
              PARTITION BY lang ORDER BY skey DESC, doc_id ASC
            ) <= 10
        """,
    }
    # the fast-kernel trainer answers to the same deterministic replay
    sql["pq_codes_fast"] = sql["pq_codes"]
    sql["incremental_dedup"] = _incremental_dedup_oracle()
    sql["embed_documents"] = """
        WITH norm AS (
          SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
          FROM documents
        ),
        w AS (
          SELECT doc_id, unnest(string_split(nt, ' ')) AS w
          FROM norm WHERE nt <> ''
        ),
        bc AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 16 AS b,
                 CAST(count(*) AS DOUBLE) AS c
          FROM w GROUP BY doc_id, b
        ),
        nrm AS (
          SELECT doc_id, sqrt(sum(c * c)) AS l2 FROM bc GROUP BY doc_id
        ),
        grid AS (
          SELECT d.doc_id, gs.b
          FROM (SELECT DISTINCT doc_id FROM documents) d
          CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) gs
        ),
        vals AS (
          SELECT g.doc_id, g.b,
                 COALESCE(bc.c / nrm.l2, 0.0) AS v
          FROM grid g
          LEFT JOIN bc ON bc.doc_id = g.doc_id AND bc.b = g.b
          LEFT JOIN nrm ON nrm.doc_id = g.doc_id
        )
        SELECT doc_id, CAST(b AS INTEGER) AS pos, round(v, 6) AS value
        FROM vals
    """
    sql["shard_assignment"] = """
        WITH h AS (
          SELECT doc_id,
                 CAST(CAST(('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS INTEGER) AS shard,
                 md5('epoch0:order:' || CAST(doc_id AS VARCHAR)) AS ok
          FROM documents
        )
        SELECT doc_id, shard,
               CAST(row_number() OVER (PARTITION BY shard ORDER BY ok, doc_id) - 1 AS BIGINT) AS shard_rank
        FROM h
    """
    w_vals = ", ".join(f"('{g}', {w})" for g, w in _BUDGET_W.items())
    sql["budget_resample"] = f"""
        WITH w(source, wt) AS (VALUES {w_vals}),
        st AS MATERIALIZED (
          SELECT d.source, CAST(sum(d.n_chars) AS DOUBLE) AS T, any_value(w.wt) AS wt
          FROM documents d JOIN w ON d.source = w.source
          GROUP BY d.source
        ),
        r AS MATERIALIZED (
          SELECT source, T, wt,
                 row_number() OVER ord AS pos,
                 ({_BUDGET} - coalesce(sum(T) OVER (
                    ORDER BY T / wt, source
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0))
                 / (sum(wt) OVER (
                    ORDER BY T / wt, source
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) AS lam
          FROM st
          WINDOW ord AS (ORDER BY T / wt, source)
        ),
        ls AS MATERIALIZED (
          SELECT lam AS lam_star FROM r WHERE T > lam * wt
          ORDER BY pos LIMIT 1
        ),
        rates AS MATERIALIZED (
          SELECT source,
                 CASE WHEN (SELECT lam_star FROM ls) IS NULL
                        OR T <= (SELECT lam_star FROM ls) * wt
                      THEN 1.0
                      ELSE (SELECT lam_star FROM ls) * wt / T
                 END AS sample_rate
          FROM r
        )
        SELECT d.doc_id, d.source, round(rates.sample_rate, 6) AS sample_rate
        FROM documents d JOIN rates ON d.source = rates.source
        WHERE CAST(('0x' || substr(md5('budget:' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
              / 1152921504606846976.0 < rates.sample_rate
    """
    sql["corpus_split"] = """
        SELECT doc_id,
               CASE WHEN h < 922337203685477632 THEN 'train'
                    WHEN h < 1037629354146162304 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
          SELECT doc_id,
                 CAST(('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
          FROM documents
        )
    """
    sql["bpe_merges"] = _bpe_merges_oracle()
    sql["bpe_segment"] = _bpe_segment_oracle()
    sql["kcore"] = _kcore_oracle()
    sql["lpa_communities"] = _lpa_oracle()
    sql["psi_drift"] = _psi_oracle()
    sql["quantile_normalize"] = _qnorm_oracle()
    sql["fuzzy_join"] = _fuzzy_join_oracle()
    sql["corpus_report"] = """
        WITH base AS (
          SELECT lang,
                 CASE WHEN text IS NULL THEN 1 ELSE 0 END AS is_null,
                 CASE WHEN text IS NULL THEN 0
                      ELSE len(list_filter(string_split(text, ' '),
                                           t -> t <> '')) END AS nt,
                 CASE WHEN text IS NULL THEN 0 ELSE len(text) END AS nc
          FROM documents
        ), one AS (
          SELECT count(*) AS n_all,
                 CAST(sum(is_null) AS BIGINT) AS n_nulls,
                 CAST(sum(nt) AS BIGINT) AS toks,
                 CAST(sum(nc) AS BIGINT) AS chars,
                 count(DISTINCT lang) AS langs
          FROM base
        ), top AS (
          SELECT count(*) AS top_n FROM base
          GROUP BY lang ORDER BY count(*) DESC, lang ASC LIMIT 1
        )
        SELECT 'n_docs' AS metric, CAST(n_all AS DOUBLE) AS value FROM one
        UNION ALL SELECT 'n_null_text', CAST(n_nulls AS DOUBLE) FROM one
        UNION ALL SELECT 'total_tokens', CAST(toks AS DOUBLE) FROM one
        UNION ALL SELECT 'avg_tokens', round(toks / CAST(n_all AS DOUBLE), 6) FROM one
        UNION ALL SELECT 'total_chars', CAST(chars AS DOUBLE) FROM one
        UNION ALL SELECT 'distinct_langs', CAST(langs AS DOUBLE) FROM one
        UNION ALL SELECT 'top_lang_share', round((SELECT top_n FROM top) / CAST(n_all AS DOUBLE), 6) FROM one
    """
    sql["corpus_diff"] = r"""
        WITH o AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g')) AS ho
          FROM documents
        ), base AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 13 <> 0
        ), edited AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN coalesce(text, '') || ' [v2]'
                      ELSE text END AS text
          FROM base
        ), clones AS (
          SELECT doc_id + 1000000 AS doc_id, text
          FROM documents WHERE doc_id % 11 = 0
        ), n AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(coalesce(text, ''))), '\s+', ' ', 'g')) AS hn
          FROM (SELECT * FROM edited UNION ALL SELECT * FROM clones)
        )
        SELECT doc_id,
               CASE WHEN ho IS NULL THEN 'added'
                    WHEN hn IS NULL THEN 'removed'
                    WHEN ho <> hn THEN 'changed' END AS status
        FROM o FULL OUTER JOIN n USING (doc_id)
        WHERE CASE WHEN ho IS NULL THEN 'added'
                   WHEN hn IS NULL THEN 'removed'
                   WHEN ho <> hn THEN 'changed' END IS NOT NULL
    """
    sql["semantic_decontaminate"] = """
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings
        ), bench AS (
          SELECT emb FROM v WHERE vec_id % 50 = 0
        ), per AS (
          SELECT c.vec_id,
                 coalesce(max(list_cosine_similarity(c.emb, b.emb)), 0.0)
                   AS mx
          FROM (SELECT * FROM v WHERE vec_id % 50 <> 0) c
          LEFT JOIN bench b ON TRUE
          GROUP BY c.vec_id
        )
        SELECT vec_id, round(mx, 6) AS max_bench_cosine,
               mx >= 0.9 AS contaminated
        FROM per
    """
    sql["url_canonical"] = r"""
        WITH raw AS (
          SELECT doc_id,
            CASE CAST(doc_id % 6 AS INTEGER)
              WHEN 0 THEN 'HTTP://Example.COM:80/path/' || CAST(doc_id AS VARCHAR) || '?b=2&a=1&utm_source=x#frag'
              WHEN 1 THEN 'https://WWW.Example.com:443/path/' || CAST(doc_id AS VARCHAR) || '/'
              WHEN 2 THEN 'http://example.com/p' || CAST(doc_id AS VARCHAR) || '?utm_campaign=c&ref=home&z=1'
              WHEN 3 THEN 'https://example.com/Path/' || CAST(doc_id AS VARCHAR) || '?z=9&y=8'
              WHEN 4 THEN 'http://sub.example.org:8080/' || CAST(doc_id AS VARCHAR) || '?a=1&a=0'
              ELSE 'no-scheme/' || CAST(doc_id AS VARCHAR)
            END AS raw_url
          FROM documents
        ), s2 AS (
          SELECT doc_id, raw_url,
                 regexp_replace(trim(raw_url), '#.*$', '') AS u
          FROM raw
        ), s3 AS (
          SELECT *,
            lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
            regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest
          FROM s2
        ), s4 AS (
          SELECT *,
            regexp_replace(
              CASE WHEN scheme = 'http'
                   THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':80$', '')
                   WHEN scheme = 'https'
                   THEN regexp_replace(lower(regexp_extract(rest, '^([^/?]*)', 1)), ':443$', '')
                   ELSE lower(regexp_extract(rest, '^([^/?]*)', 1)) END,
              '^www\.', '') AS host,
            regexp_replace(rest, '^[^/?]*', '') AS pathq
          FROM s3
        ), s5 AS (
          SELECT *,
            CASE WHEN regexp_extract(pathq, '^([^?]*)', 1) = '' THEN '/'
                 ELSE regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '(.)/$', '\1')
            END AS path,
            list_sort(list_filter(
              string_split(regexp_extract(pathq, '\?(.*)$', 1), '&'),
              p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid|msclkid|ref|ref_src)=')
            )) AS params
          FROM s4
        )
        SELECT doc_id,
          CASE WHEN scheme = '' THEN trim(raw_url)
               ELSE scheme || '://' || host || path ||
                    CASE WHEN len(params) > 0
                         THEN '?' || array_to_string(params, '&')
                         ELSE '' END
          END AS canonical_url,
          CASE WHEN scheme = '' THEN ''
               ELSE regexp_replace(
                 lower(regexp_extract(rest, '^([^/?:]*)', 1)),
                 '^www\.', '')
          END AS host
        FROM s5
    """
    sql["curation_pipeline"] = """
        WITH tok AS (
          SELECT doc_id, source, lang, text,
                 list_filter(string_split(text, ' '), t -> t <> '') AS toks
          FROM documents
        ), q AS (
          SELECT * FROM tok
          WHERE len(toks) >= 30
            AND len(list_distinct(toks)) * 20 >= len(toks) * 7
            AND lang = 'en'
        ), ded AS (
          SELECT doc_id, source, toks FROM (
            SELECT *, min(doc_id) OVER (
              PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
            ) AS keep_id
            FROM q
          ) WHERE doc_id = keep_id
        ), ng AS (
          SELECT doc_id, source,
                 list_distinct(list_transform(
                   generate_series(1, len(toks) - 7),
                   i -> array_to_string(toks[i:i+7], ' '))) AS ngrams
          FROM ded
        ), bench AS (
          SELECT DISTINCT g FROM (
            SELECT unnest(ngrams) AS g FROM ng WHERE doc_id % 97 = 0
          )
        ), per AS (
          SELECT c.doc_id, max(c.n_ngrams) AS n_ngrams, count(b.g) AS n_cont
          FROM (
            SELECT doc_id, len(ngrams) AS n_ngrams, unnest(ngrams) AS g
            FROM ng WHERE doc_id % 97 <> 0
          ) c LEFT JOIN bench b USING (g)
          GROUP BY c.doc_id
        ), clean AS (
          SELECT ng.doc_id, ng.source
          FROM ng JOIN per ON ng.doc_id = per.doc_id
          WHERE NOT (per.n_cont * 20 >= per.n_ngrams AND per.n_ngrams > 0)
        ), capd AS (
          SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   row_number() OVER (
                     PARTITION BY source
                     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rnk
            FROM clean
          ) WHERE rnk <= 50
        )
        SELECT doc_id, source,
               CAST(CAST(('0x' || substr(md5('curate:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS INTEGER) AS shard,
               CAST(row_number() OVER (
                 PARTITION BY CAST(('0x' || substr(md5('curate:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4
                 ORDER BY md5('curate:order:' || CAST(doc_id AS VARCHAR)), doc_id
               ) - 1 AS BIGINT) AS shard_rank
        FROM capd
    """
    sql["disjunctive_revenue"] = """
        SELECT round(sum(l_extendedprice * (1 - l_discount)), 6)
                 AS disjunctive_revenue,
               count(*) AS n_lines
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 40)
    """
    sql["warc_cdx_fetch"] = """
        SELECT doc_id,
               CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
                 AS body_len,
               md5(coalesce(text, '')) AS text_md5
        FROM documents
    """
    sql["warc_roundtrip"] = """
        SELECT doc_id,
               CAST(octet_length(encode(coalesce(text, ''))) AS BIGINT)
                 AS body_len,
               md5(coalesce(text, '')) AS text_md5
        FROM documents
    """
    w_rows = ", ".join(
        f"({j}, {((j * 7) % 5 - 2.0) / 2.0})" for j in range(16)
    )
    sql["quality_probe"] = f"""
        WITH norm AS (
          SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS nt
          FROM documents
        ),
        w AS (
          SELECT doc_id, unnest(string_split(nt, ' ')) AS w
          FROM norm WHERE nt <> ''
        ),
        bc AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(w), 1, 15)) AS BIGINT) % 16 AS b,
                 CAST(count(*) AS DOUBLE) AS c
          FROM w GROUP BY doc_id, b
        ),
        nrm AS (
          SELECT doc_id, sqrt(sum(c * c)) AS l2 FROM bc GROUP BY doc_id
        ),
        grid AS (
          SELECT d.doc_id, gs.b
          FROM (SELECT DISTINCT doc_id FROM documents) d
          CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS b) gs
        ),
        vals AS (
          SELECT g.doc_id, g.b, COALESCE(bc.c / nrm.l2, 0.0) AS v
          FROM grid g
          LEFT JOIN bc ON bc.doc_id = g.doc_id AND bc.b = g.b
          LEFT JOIN nrm ON nrm.doc_id = g.doc_id
        ),
        wt(b, wt) AS (VALUES {w_rows}),
        dots AS (
          SELECT v.doc_id, sum(v.v * wt.wt) AS dot
          FROM vals v JOIN wt ON wt.b = v.b
          GROUP BY v.doc_id
        )
        SELECT doc_id,
               round(1.0 / (1.0 + exp(-(dot + (-0.25)))), 6) AS probe_score,
               (1.0 / (1.0 + exp(-(dot + (-0.25)))) >= 0.5) AS keep
        FROM dots
    """
    if _write_shapefile_twin():
        sql["shapefile_scan"] = (
            "SELECT od_id, od_type, name, lon, lat, geom_matches_attrs "
            f"FROM read_parquet('{_SHAPEFILE_TWIN}')"
        )
    if _write_video_twin():
        sql["video_frames"] = (
            "SELECT doc_id, frame_ms, px_mean, luma_mean "
            f"FROM read_parquet('{_VIDEO_TWIN}') "
            f"WHERE doc_id IN (SELECT doc_id FROM documents WHERE doc_id < {_VIDEO_DOCS})"
        )
    if _write_ahash_twin():
        sql["audio_near_dup"] = (
            "SELECT id_a, id_b, hamming "
            f"FROM read_parquet('{_AHASH_TWIN}') "
            f"WHERE id_a IN (SELECT doc_id FROM documents WHERE doc_id < {_AHASH_DOCS})"
        )
    if _write_dhash_twin():
        sql["image_near_dup"] = (
            "SELECT id_a, id_b, hamming "
            f"FROM read_parquet('{_DHASH_TWIN}') "
            f"WHERE id_a IN (SELECT doc_id FROM documents WHERE doc_id < {_DHASH_DOCS})"
        )
    if _write_resize_twin():
        sql["image_resize"] = (
            "SELECT doc_id, rgb_md5, out_w, out_h, n_bytes "
            f"FROM read_parquet('{_RESIZE_TWIN}') "
            f"WHERE doc_id IN (SELECT doc_id FROM documents WHERE doc_id < {_RESIZE_DOCS})"
        )

    sql["bm25_topk"] = """
        WITH docs AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '')) AS doc_len,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '') AS toks
          FROM documents
          WHERE text IS NOT NULL
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(doc_len) AS avgdl
          FROM docs
        ), tf AS (
          SELECT doc_id, doc_len, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, doc_len, unnest(toks) AS term FROM docs)
          WHERE term IN ('merge', 'spark', 'window')
          GROUP BY 1, 2, 3
        ), dfreq AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df_count FROM tf GROUP BY 1
        ), scored AS (
          SELECT tf.doc_id,
                 round(sum(
                   ln(CAST(1.0 AS DOUBLE)
                      + (s.n_docs - d.df_count + CAST(0.5 AS DOUBLE))
                        / (d.df_count + CAST(0.5 AS DOUBLE)))
                   * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                   / (tf.tf + CAST(1.2 AS DOUBLE)
                      * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * tf.doc_len / s.avgdl))
                 ), 6) AS score,
                 CAST(count(*) AS BIGINT) AS n_terms_matched
          FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
          GROUP BY tf.doc_id
        )
        SELECT doc_id, score, n_terms_matched
        FROM scored
        ORDER BY score DESC, doc_id ASC
        LIMIT 10
    """

    sql["conjunctive_search"] = """
        SELECT doc_id, CAST(count(DISTINCT term) AS BIGINT) AS n_matched
        FROM (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    t -> t <> '')) AS term
          FROM documents
        )
        WHERE term IN ('merge', 'spark', 'window')
        GROUP BY doc_id
        HAVING count(DISTINCT term) = 3
    """

    sql["posting_store_search"] = """
        WITH docs AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      t -> t <> '')) AS BIGINT) AS doc_len,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '') AS toks
          FROM documents
        )
        SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
               any_value(doc_len) AS doc_len
        FROM (SELECT doc_id, doc_len, unnest(toks) AS term FROM docs)
        WHERE term IN ('merge', 'stream')
        GROUP BY term, doc_id
    """

    sql["hll_distinct"] = _hll_distinct_oracle()

    sql["validate_constraints"] = """
        WITH a AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
            CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS m0,
            CAST(count(DISTINCT o_orderkey) AS DOUBLE) AS m1,
            CAST(sum(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS m2,
            CAST(min(o_totalprice) AS DOUBLE) AS m3,
            CAST(max(o_totalprice) AS DOUBLE) AS m4,
            CAST(sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS DOUBLE) AS m5,
            CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                          AND regexp_matches(o_orderpriority, '^[1-5]-')
                     THEN 1 ELSE 0 END) AS DOUBLE) AS m6,
            CAST(sum(CASE WHEN o_orderpriority IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS nn6,
            CAST(sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS DOUBLE) AS m7
          FROM orders
        )
        SELECT CAST(0 AS INTEGER) AS check_id, 'not_null' AS kind,
               'o_orderkey' AS "column", round(m0, 6) AS metric,
               CAST(NULL AS DOUBLE) AS threshold, m0 = 0 AS passed FROM a
        UNION ALL
        SELECT 1, 'unique', 'o_orderkey', round(m1 / n, 6),
               CAST(NULL AS DOUBLE), m1 / n = 1.0 FROM a
        UNION ALL
        SELECT 2, 'complete', 'o_custkey', round(m2 / n, 6),
               CAST(0.95 AS DOUBLE), m2 / n >= CAST(0.95 AS DOUBLE) FROM a
        UNION ALL
        SELECT 3, 'min', 'o_totalprice', round(m3, 6),
               CAST(0.0 AS DOUBLE), m3 >= CAST(0.0 AS DOUBLE) FROM a
        UNION ALL
        SELECT 4, 'max', 'o_totalprice', round(m4, 6),
               CAST(10000000.0 AS DOUBLE), m4 <= CAST(10000000.0 AS DOUBLE) FROM a
        UNION ALL
        SELECT 5, 'non_negative', 'o_totalprice', round(m5, 6),
               CAST(NULL AS DOUBLE), m5 = 0 FROM a
        UNION ALL
        SELECT 6, 'matches', 'o_orderpriority',
               round(CASE WHEN nn6 > 0 THEN m6 / nn6 ELSE 1.0 END, 6),
               CAST(0.99 AS DOUBLE),
               CASE WHEN nn6 > 0 THEN m6 / nn6 ELSE 1.0 END >= CAST(0.99 AS DOUBLE) FROM a
        UNION ALL
        SELECT 7, 'in_set', 'o_orderstatus', round(m7 / n, 6),
               CAST(NULL AS DOUBLE), m7 / n = 1.0 FROM a
    """

    sql["profile_columns"] = """
        WITH a AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_doc_id,
            CAST(count(DISTINCT doc_id) AS BIGINT) AS dist_doc_id,
            CAST(min(doc_id) AS VARCHAR) AS min_doc_id,
            CAST(max(doc_id) AS VARCHAR) AS max_doc_id,
            round(avg(CAST(doc_id AS DOUBLE)), 6) AS mean_doc_id,
            CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
            CAST(count(DISTINCT text) AS BIGINT) AS dist_text,
            min(text) AS min_text, max(text) AS max_text,
            CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_lang,
            CAST(count(DISTINCT lang) AS BIGINT) AS dist_lang,
            min(lang) AS min_lang, max(lang) AS max_lang,
            CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_source,
            CAST(count(DISTINCT source) AS BIGINT) AS dist_source,
            min(source) AS min_source, max(source) AS max_source,
            CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_n_chars,
            CAST(count(DISTINCT n_chars) AS BIGINT) AS dist_n_chars,
            CAST(min(n_chars) AS VARCHAR) AS min_n_chars,
            CAST(max(n_chars) AS VARCHAR) AS max_n_chars,
            round(avg(CAST(n_chars AS DOUBLE)), 6) AS mean_n_chars
          FROM documents
        )
        SELECT 'doc_id' AS "column", n AS n_rows, null_doc_id AS n_nulls,
               dist_doc_id AS n_distinct, min_doc_id AS min_val,
               max_doc_id AS max_val, mean_doc_id AS mean_val FROM a
        UNION ALL
        SELECT 'text', n, null_text, dist_text, min_text, max_text,
               CAST(NULL AS DOUBLE) FROM a
        UNION ALL
        SELECT 'lang', n, null_lang, dist_lang, min_lang, max_lang,
               CAST(NULL AS DOUBLE) FROM a
        UNION ALL
        SELECT 'source', n, null_source, dist_source, min_source,
               max_source, CAST(NULL AS DOUBLE) FROM a
        UNION ALL
        SELECT 'n_chars', n, null_n_chars, dist_n_chars, min_n_chars,
               max_n_chars, mean_n_chars FROM a
    """

    sql["value_histogram"] = """
        WITH b AS (
          SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo,
                 CAST(max(l_extendedprice) AS DOUBLE) AS hi
          FROM lineitem
        ), binned AS (
          SELECT CASE WHEN b.hi = b.lo THEN 0
                      ELSE least(CAST(floor((CAST(l_extendedprice AS DOUBLE) - b.lo)
                                            / ((b.hi - b.lo) / 10)) AS INTEGER), 9)
                 END AS bin_id,
                 b.lo AS blo, b.hi AS bhi
          FROM lineitem CROSS JOIN b
          WHERE l_extendedprice IS NOT NULL
        )
        SELECT bin_id,
               round(blo + bin_id * ((bhi - blo) / 10), 6) AS lo,
               round(blo + (bin_id + 1) * ((bhi - blo) / 10), 6) AS hi,
               CAST(count(*) AS BIGINT) AS n
        FROM binned
        GROUP BY 1, 2, 3
    """

    sql["char_entropy"] = """
        WITH c AS (
          SELECT doc_id, ch FROM (
            SELECT doc_id, unnest(string_split(text, '')) AS ch
            FROM documents
          ) WHERE ch <> ''
        ), g AS (
          SELECT doc_id, ch, count(*) AS n FROM c GROUP BY 1, 2
        ), a AS (
          SELECT doc_id, sum(n * log2(n)) AS t,
                 CAST(sum(n) AS BIGINT) AS L
          FROM g GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(a.L, 0) AS n_chars_total,
               coalesce(round(log2(a.L) - a.t / a.L, 6), CAST(0.0 AS DOUBLE))
                 AS char_entropy
        FROM documents d LEFT JOIN a USING (doc_id)
    """

    sql["normalize_unicode"] = """
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(
                 nfc_normalize(text || ' cafe' || chr(769) || chr(9) || 'x'),
                 '[\\x00-\\x08\\x0b-\\x1f\\x7f\\x80-\\x9f]', '', 'g'),
                 '[ \\t]+', ' ', 'g'))) AS norm_md5
        FROM documents
    """

    sql["depth_histogram"] = """
        WITH bs AS (
          SELECT quantile_cont(l_extendedprice,
                   [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS b
          FROM lineitem
        ), binned AS (
          SELECT len(list_filter(bs.b,
                   x -> CAST(l_extendedprice AS DOUBLE) > x)) AS bin_id,
                 CAST(l_extendedprice AS DOUBLE) AS x
          FROM lineitem CROSS JOIN bs
          WHERE l_extendedprice IS NOT NULL
        )
        SELECT CAST(bin_id AS INTEGER) AS bin_id,
               round(min(x), 6) AS bin_lo,
               round(max(x), 6) AS bin_hi,
               CAST(count(*) AS BIGINT) AS n
        FROM binned GROUP BY 1
    """

    sql["source_overlap"] = """
        WITH toks AS (
          SELECT source AS src,
                 list_filter(string_split(text, ' '), t -> t <> '') AS t
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT DISTINCT src,
                 array_to_string(t[i:i+4], ' ') AS gram
          FROM (
            SELECT src, t,
                   unnest(range(1, greatest(len(t) - 5 + 2, 1))) AS i
            FROM toks
          )
          WHERE len(t) >= 5
        ), sizes AS (
          SELECT src, CAST(count(*) AS BIGINT) AS n_grams
          FROM grams GROUP BY 1
        ), shared AS (
          SELECT a.src AS source_a, b.src AS source_b,
                 CAST(count(*) AS BIGINT) AS shared
          FROM grams a JOIN grams b USING (gram)
          WHERE a.src < b.src
          GROUP BY 1, 2
        )
        SELECT s.source_a, s.source_b,
               sa.n_grams AS grams_a, sb.n_grams AS grams_b, s.shared,
               round(s.shared / (sa.n_grams + sb.n_grams - s.shared), 6)
                 AS jaccard
        FROM shared s
        JOIN sizes sa ON sa.src = s.source_a
        JOIN sizes sb ON sb.src = s.source_b
    """

    sql["more_like_this"] = """
        WITH docs AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ), nn AS (
          SELECT CAST(count(*) AS BIGINT) AS c FROM docs
        ), tf AS (
          SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(toks) AS term FROM docs)
          GROUP BY 1, 2
        ), dfreq AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
        ), w AS (
          SELECT tf.doc_id, tf.term,
                 tf.tf * ln(CAST(nn.c AS DOUBLE) / dfreq.df) AS w
          FROM tf JOIN dfreq USING (term) CROSS JOIN nn
          WHERE dfreq.df <= nn.c
        ), norms AS (
          SELECT doc_id, sqrt(sum(w * w)) AS norm FROM w GROUP BY 1
        ), qw AS (
          SELECT doc_id AS query_id, term, w AS wq
          FROM w WHERE doc_id IN (0, 1, 2)
        ), dots AS (
          SELECT qw.query_id, w.doc_id AS corpus_id,
                 sum(qw.wq * w.w) AS dot
          FROM qw JOIN w USING (term)
          WHERE w.doc_id <> qw.query_id
          GROUP BY 1, 2
        ), scored AS (
          SELECT d.query_id, d.corpus_id,
                 round(d.dot / (qn.norm * cn.norm), 6) AS cosine
          FROM dots d
          JOIN norms qn ON qn.doc_id = d.query_id
          JOIN norms cn ON cn.doc_id = d.corpus_id
        )
        SELECT query_id, corpus_id, cosine, rank FROM (
          SELECT query_id, corpus_id, cosine,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, corpus_id ASC
                 ) AS INTEGER) AS rank
          FROM scored
        ) WHERE rank <= 5
    """

    sql["peak_concurrency"] = """
        WITH ev AS (
          SELECT event_type, epoch_ns(ts) AS t, 1 AS d FROM events
          UNION ALL
          SELECT event_type, epoch_ns(ts) + 1800000000000, -1 FROM events
        ), running AS (
          SELECT event_type, t, d,
                 sum(d) OVER (PARTITION BY event_type
                              ORDER BY t ASC, d ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS conc
          FROM ev
        ), starts AS (
          SELECT event_type, t, conc FROM running WHERE d = 1
        ), peaks AS (
          SELECT event_type, CAST(max(conc) AS BIGINT) AS peak_concurrency
          FROM starts GROUP BY 1
        )
        SELECT p.event_type, p.peak_concurrency,
               CAST(min(s.t) AS BIGINT) AS peak_at
        FROM peaks p
        JOIN starts s ON s.event_type = p.event_type
                     AND s.conc = p.peak_concurrency
        GROUP BY 1, 2
    """

    sql["scd2_merge"] = """
        WITH upd AS (
          SELECT o_custkey AS c_custkey,
                 CAST(epoch(o_orderdate) AS BIGINT) AS ts,
                 max(o_totalprice) AS acctbal
          FROM orders GROUP BY 1, 2
        ), chains AS (
          SELECT c_custkey, acctbal, ts AS eff_start,
                 lead(ts) OVER (PARTITION BY c_custkey ORDER BY ts)
                   AS eff_end
          FROM upd
        ), firsts AS (
          SELECT c_custkey, min(ts) AS fts FROM upd GROUP BY 1
        )
        SELECT c.c_custkey, c.c_acctbal AS acctbal,
               CAST(0 AS BIGINT) AS eff_start, f.fts AS eff_end
        FROM customer c JOIN firsts f USING (c_custkey)
        UNION ALL
        SELECT c.c_custkey, c.c_acctbal AS acctbal,
               CAST(0 AS BIGINT), CAST(NULL AS BIGINT)
        FROM customer c ANTI JOIN firsts f USING (c_custkey)
        UNION ALL
        SELECT c_custkey, acctbal, eff_start, eff_end FROM chains
    """

    sql["kmv_distinct"] = """
        WITH h AS (
          SELECT DISTINCT event_type,
                 CAST(CAST(('0x' || substr(md5('kmv:' || CAST(user_id AS VARCHAR)), 1, 15))
                           AS BIGINT) AS DOUBLE)
                   / CAST(1152921504606846976 AS DOUBLE) AS h
          FROM events
        ), rk AS (
          SELECT event_type, h,
                 row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
          FROM h
        ), reg AS (
          SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_retained,
                 max(CASE WHEN rn = 64 THEN h END) AS hk
          FROM rk WHERE rn <= 64 GROUP BY 1
        )
        SELECT event_type, CAST(n_retained AS INTEGER) AS n_retained,
               round(CASE WHEN n_retained < 64 THEN CAST(n_retained AS DOUBLE)
                     ELSE CAST(63 AS DOUBLE) / hk END, 3) AS est_distinct
        FROM reg
    """

    sql["event_paths"] = """
        WITH gaps AS (
          SELECT user_id, ts, event_id, event_type,
                 lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
          FROM events
        ), flagged AS (
          SELECT user_id, ts, event_id, event_type,
                 CASE WHEN prev_ts IS NULL
                           OR epoch_ns(ts) - epoch_ns(prev_ts) > 1800000000000
                      THEN 1 ELSE 0 END AS new_session
          FROM gaps
        ), sess AS (
          SELECT user_id, ts, event_id, event_type,
                 sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS session_id
          FROM flagged
        ), paths AS (
          SELECT string_agg(event_type, ' > ' ORDER BY ts, event_id)
                   AS path
          FROM sess GROUP BY user_id, session_id
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_sessions
        FROM paths GROUP BY 1
        ORDER BY n_sessions DESC, path ASC
        LIMIT 20
    """

    sql["copurchase_lift"] = """
        WITH baskets AS (
          SELECT DISTINCT l_orderkey AS oid, l_partkey AS item
          FROM lineitem
        ), n AS (
          SELECT CAST(count(DISTINCT oid) AS BIGINT) AS n_orders
          FROM baskets
        ), marg AS (
          SELECT item, CAST(count(*) AS BIGINT) AS n_item
          FROM baskets GROUP BY 1
        ), pairs AS (
          SELECT a.item AS item_a, b.item AS item_b,
                 CAST(count(*) AS BIGINT) AS n_pairs
          FROM baskets a JOIN baskets b USING (oid)
          WHERE a.item < b.item
          GROUP BY 1, 2
          HAVING count(*) >= 2
        )
        SELECT p.item_a, p.item_b, p.n_pairs,
               ma.n_item AS n_a, mb.n_item AS n_b,
               round(CAST(p.n_pairs AS DOUBLE) * CAST(n.n_orders AS DOUBLE)
                     / (CAST(ma.n_item AS DOUBLE) * CAST(mb.n_item AS DOUBLE)),
                     6) AS lift
        FROM pairs p
        JOIN marg ma ON ma.item = p.item_a
        JOIN marg mb ON mb.item = p.item_b
        CROSS JOIN n
        ORDER BY lift DESC, item_a ASC, item_b ASC
        LIMIT 20
    """

    sql["ewma_smooth"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 * 3600 AS hour_epoch,
                 sum(value) AS metric
          FROM events GROUP BY 1, 2
        ), g AS (
          SELECT grp,
                 list(CAST(metric AS DOUBLE) ORDER BY hour_epoch) AS xs,
                 list(hour_epoch ORDER BY hour_epoch) AS tss
          FROM rollup GROUP BY 1
        ), sm AS (
          SELECT grp, tss, xs,
                 list_transform(generate_series(1, len(xs)), i ->
                   list_reduce(xs[1:i], (acc, x) ->
                     acc * CAST(0.7 AS DOUBLE) + x * CAST(0.3 AS DOUBLE))
                 ) AS es
          FROM g
        )
        SELECT grp AS event_type,
               CAST(unnest(tss) AS BIGINT) AS hour_epoch,
               round(unnest(xs), 6) AS metric,
               round(unnest(es), 6) AS ewma
        FROM sm
    """

    sql["weighted_median"] = """
        WITH base AS (
          SELECT l_returnflag AS grp,
                 CAST(l_extendedprice AS DOUBLE) AS v,
                 CAST(l_quantity AS DOUBLE) AS w
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
            AND l_quantity IS NOT NULL AND l_quantity > 0
        ), marked AS (
          SELECT grp, v,
                 sum(w) OVER (
                   PARTITION BY grp ORDER BY v
                   RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS cw,
                 sum(w) OVER (PARTITION BY grp) AS tw
          FROM base
        )
        SELECT grp AS l_returnflag,
               round(min(v), 2) AS wmedian_price,
               round(min(tw), 2) AS total_qty
        FROM marked WHERE cw >= tw / 2.0 GROUP BY grp
    """

    sql["chi_square"] = """
        WITH joint AS (
          SELECT o_orderpriority AS x, o_orderstatus AS y,
                 CAST(count(*) AS BIGINT) AS n
          FROM orders
          WHERE o_orderpriority IS NOT NULL
            AND o_orderstatus IS NOT NULL
          GROUP BY 1, 2
        ), mx AS (
          SELECT x, CAST(sum(n) AS BIGINT) AS nx FROM joint GROUP BY 1
        ), my AS (
          SELECT y, CAST(sum(n) AS BIGINT) AS ny FROM joint GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n) AS DOUBLE) AS t,
                 CAST(count(DISTINCT x) AS BIGINT) AS r,
                 CAST(count(DISTINCT y) AS BIGINT) AS c
          FROM joint
        ), part AS (
          SELECT coalesce(sum(
                   power(n - nx * ny / tt.t, 2) / (nx * ny / tt.t)
                   - nx * ny / tt.t
                 ), 0.0) AS p
          FROM joint JOIN mx USING (x) JOIN my USING (y)
          CROSS JOIN tot tt
        )
        SELECT 'o_orderpriority' AS x_col,
               'o_orderstatus' AS y_col,
               round(CASE WHEN (r - 1) * (c - 1) > 0
                          THEN p + t ELSE 0.0 END, 6) AS chi2,
               CAST((r - 1) * (c - 1) AS BIGINT) AS dof,
               CAST(t AS BIGINT) AS n_rows,
               round(CASE WHEN (r - 1) * (c - 1) > 0
                          THEN sqrt((p + t) / (t * least(r - 1, c - 1)))
                     END, 6) AS cramers_v
        FROM part CROSS JOIN tot
    """

    sql["benford_audit"] = """
        WITH counted AS (
          SELECT CAST(d AS INT) AS digit, count(*) AS n FROM (
            SELECT regexp_extract(
              CAST(CAST(l_extendedprice AS DOUBLE) AS VARCHAR),
              '[1-9]', 0) AS d
            FROM lineitem WHERE l_extendedprice IS NOT NULL
          ) WHERE d <> '' GROUP BY 1
        ), expected AS (
          SELECT CAST(d AS INT) AS digit,
                 log10(1.0 + 1.0 / d) AS expected_p
          FROM (SELECT unnest(range(1, 10)) AS d)
        ), fullt AS (
          SELECT digit, expected_p,
                 CAST(coalesce(n, 0) AS BIGINT) AS n
          FROM expected LEFT JOIN counted USING (digit)
        ), tot AS (
          SELECT CAST(sum(n) AS DOUBLE) AS t FROM fullt
        )
        SELECT digit, n,
               round(n / t.t, 6) AS observed_p,
               round(expected_p, 6) AS expected_p,
               round(sum(power(n - expected_p * t.t, 2)
                         / (expected_p * t.t)) OVER (), 6) AS chi2
        FROM fullt CROSS JOIN tot t
    """

    sql["autocorrelation"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 * 3600 AS bucket_epoch,
                 CAST(sum(value) AS DOUBLE) AS metric
          FROM events GROUP BY 1, 2
        ), lagged AS (
          SELECT grp, metric,
                 lag(metric, 1) OVER w AS l1,
                 lag(metric, 2) OVER w AS l2,
                 lag(metric, 3) OVER w AS l3
          FROM rollup
          WINDOW w AS (PARTITION BY grp ORDER BY bucket_epoch)
        )
        SELECT grp AS event_type,
               CAST(count(*) AS BIGINT) AS n_buckets,
               round(corr(metric, l1), 6) AS acf_1,
               round(corr(metric, l2), 6) AS acf_2,
               round(corr(metric, l3), 6) AS acf_3
        FROM lagged GROUP BY grp
    """

    sql["sorted_neighborhood"] = """
        WITH ranked AS (
          SELECT CAST(s_suppkey AS BIGINT) AS id,
                 CAST(row_number() OVER (ORDER BY s_name, s_suppkey)
                      AS BIGINT) AS rank
          FROM supplier
        )
        SELECT a.id AS id_a, b.id AS id_b,
               a.rank AS rank_a, b.rank AS rank_b
        FROM ranked a
        JOIN ranked b ON b.rank > a.rank AND b.rank <= a.rank + 3
    """

    sql["interval_coverage"] = """
        WITH base AS (
          SELECT CAST(l_suppkey AS BIGINT) AS grp,
                 datediff('day', DATE '1970-01-01',
                          CAST(l_shipdate AS DATE)) AS s,
                 datediff('day', DATE '1970-01-01',
                          CAST(l_shipdate AS DATE))
                   + CAST(l_quantity AS INT) % 14 + 1 AS e,
                 row_number() OVER (
                   PARTITION BY l_suppkey
                   ORDER BY l_shipdate, CAST(l_quantity AS INT)
                 ) AS rid
          FROM lineitem
          WHERE l_shipdate IS NOT NULL AND l_quantity IS NOT NULL
        ), flagged AS (
          SELECT grp, s, e, rid,
                 CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END
                   AS nw
          FROM (
            SELECT grp, s, e, rid,
                   max(e) OVER (
                     PARTITION BY grp ORDER BY s, e, rid
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS pme
            FROM base
          )
        ), segged AS (
          SELECT grp, s, e,
                 sum(nw) OVER (
                   PARTITION BY grp ORDER BY s, e, rid
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS seg
          FROM flagged
        ), per_seg AS (
          SELECT grp, seg, count(*) AS n, min(s) AS lo, max(e) AS hi
          FROM segged GROUP BY 1, 2
        )
        SELECT grp AS suppkey,
               CAST(sum(n) AS BIGINT) AS n_intervals,
               CAST(count(*) AS BIGINT) AS n_segments,
               CAST(sum(greatest(hi - lo, 0)) AS BIGINT) AS covered_days
        FROM per_seg GROUP BY grp
    """

    sql["golden_record"] = """
        WITH agg AS (
          SELECT o_custkey AS cluster,
                 CAST(count(*) AS BIGINT) AS n_members,
                 strftime(min(o_orderdate), '%Y-%m-%d') AS first_date,
                 round(max(o_totalprice), 2) AS max_total
          FROM orders GROUP BY 1
        ), latest AS (
          SELECT cluster, o_orderstatus AS latest_status FROM (
            SELECT o_custkey AS cluster, o_orderstatus,
                   row_number() OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderstatus DESC
                   ) AS rn
            FROM orders WHERE o_orderstatus IS NOT NULL
          ) WHERE rn = 1
        ), m AS (
          SELECT o_custkey AS cluster, o_orderpriority,
                 count(*) AS c
          FROM orders WHERE o_orderpriority IS NOT NULL GROUP BY 1, 2
        ), mb AS (
          SELECT cluster, min(o_orderpriority) AS modal_priority
          FROM (
            SELECT cluster, o_orderpriority, c,
                   max(c) OVER (PARTITION BY cluster) AS mx
            FROM m
          ) WHERE c = mx GROUP BY cluster
        )
        SELECT CAST(agg.cluster AS BIGINT) AS cluster, n_members,
               first_date, max_total, latest_status, modal_priority
        FROM agg
        LEFT JOIN latest USING (cluster)
        LEFT JOIN mb USING (cluster)
    """

    sql["lag_features"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 * 3600 AS bucket_epoch,
                 sum(value) AS metric
          FROM events GROUP BY 1, 2
        )
        SELECT grp AS event_type,
               CAST(bucket_epoch AS BIGINT) AS bucket_epoch,
               round(CAST(metric AS DOUBLE), 6) AS metric,
               round(lag(CAST(metric AS DOUBLE), 1) OVER w, 6) AS lag_1,
               round(lag(CAST(metric AS DOUBLE), 2) OVER w, 6) AS lag_2,
               round(lag(CAST(metric AS DOUBLE), 3) OVER w, 6) AS lag_3,
               round(avg(CAST(metric AS DOUBLE)) OVER (
                 PARTITION BY grp ORDER BY bucket_epoch
                 ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING
               ), 6) AS rolling_mean,
               CAST(count(metric) OVER (
                 PARTITION BY grp ORDER BY bucket_epoch
                 ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING
               ) AS INT) AS rolling_n
        FROM rollup
        WINDOW w AS (PARTITION BY grp ORDER BY bucket_epoch)
    """

    sql["mutual_information"] = """
        WITH base AS (
          SELECT CAST(l_quantity AS DOUBLE) AS x,
                 CAST(l_extendedprice AS DOUBLE) AS y
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ), b AS (
          SELECT min(x) AS lx, max(x) AS hx,
                 min(y) AS ly, max(y) AS hy
          FROM base
        ), j AS (
          SELECT bx, by, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT
              CASE WHEN hx = lx THEN 0 ELSE
                least(CAST(floor((x - lx) / ((hx - lx) / 10)) AS INT), 9)
              END AS bx,
              CASE WHEN hy = ly THEN 0 ELSE
                least(CAST(floor((y - ly) / ((hy - ly) / 10)) AS INT), 9)
              END AS by
            FROM base CROSS JOIN b
          ) GROUP BY 1, 2
        ), mx AS (
          SELECT bx, CAST(sum(n) AS BIGINT) AS nx FROM j GROUP BY 1
        ), my AS (
          SELECT by, CAST(sum(n) AS BIGINT) AS ny FROM j GROUP BY 1
        ), t AS (
          SELECT CAST(sum(n) AS DOUBLE) AS t FROM j
        )
        SELECT 'l_quantity' AS x_col,
               'l_extendedprice' AS y_col,
               round(sum((n / t.t) * ln((n * t.t) / (nx * ny))), 6) AS mi,
               CAST(sum(n) AS BIGINT) AS n_rows
        FROM j JOIN mx USING (bx) JOIN my USING (by) CROSS JOIN t
        GROUP BY t.t
    """

    sql["pareto_frontier"] = """
        SELECT CAST(r.p_partkey AS BIGINT) AS partkey,
               CAST(r.p_retailprice AS DOUBLE) AS retailprice,
               CAST(r.p_size AS INT) AS size
        FROM part r
        WHERE r.p_retailprice IS NOT NULL AND r.p_size IS NOT NULL
          AND NOT EXISTS (
            SELECT 1 FROM part s
            WHERE s.p_retailprice <= r.p_retailprice
              AND s.p_size <= r.p_size
              AND (s.p_retailprice < r.p_retailprice
                   OR s.p_size < r.p_size)
          )
    """

    sql["seasonal_decompose"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 * 3600 AS bucket_epoch,
                 sum(value) AS metric
          FROM events GROUP BY 1, 2
        ), wt AS (
          SELECT grp, bucket_epoch,
                 CAST(metric AS DOUBLE) AS metric,
                 CAST((bucket_epoch // 3600) % 24 AS INT) AS phase,
                 avg(CAST(metric AS DOUBLE)) OVER (
                   PARTITION BY grp ORDER BY bucket_epoch
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING
                 ) AS trend
          FROM rollup
        ), pm AS (
          SELECT grp, phase, avg(metric - trend) AS s_raw
          FROM wt GROUP BY 1, 2
        ), gm AS (
          SELECT grp, avg(s_raw) AS s_bar FROM pm GROUP BY 1
        ), se AS (
          SELECT grp, phase, s_raw - s_bar AS seasonal
          FROM pm JOIN gm USING (grp)
        )
        SELECT wt.grp AS event_type,
               CAST(bucket_epoch AS BIGINT) AS bucket_epoch,
               wt.phase,
               round(metric, 6) AS metric,
               round(trend, 6) AS trend,
               round(seasonal, 6) AS seasonal,
               round(metric - trend - seasonal, 6) AS residual
        FROM wt JOIN se ON wt.grp = se.grp AND wt.phase = se.phase
    """

    sql["relational_division"] = """
        SELECT CAST(o_custkey AS BIGINT) AS custkey
        FROM (SELECT DISTINCT o_custkey, o_orderpriority FROM orders)
        GROUP BY o_custkey
        HAVING count(*) = (
          SELECT count(DISTINCT o_orderpriority) FROM orders
        )
    """

    sql["cusum_changepoints"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 * 3600 AS hour_epoch,
                 sum(value) AS metric
          FROM events GROUP BY 1, 2
        ), g AS (
          SELECT grp,
                 list(CAST(metric AS DOUBLE) ORDER BY hour_epoch) AS xs,
                 list(hour_epoch ORDER BY hour_epoch) AS tss
          FROM rollup GROUP BY 1
        ), stats AS (
          SELECT grp, avg(CAST(metric AS DOUBLE)) AS mu,
                 coalesce(stddev_samp(CAST(metric AS DOUBLE)), 0.0) AS sd
          FROM rollup GROUP BY 1
        ), cs AS (
          SELECT grp, tss, xs,
                 CASE WHEN sd > 0.0 THEN
                   list_transform(generate_series(1, len(xs)), i ->
                     list_reduce(
                       [[CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)]] ||
                       list_transform(xs[1:i], x ->
                         [x - mu - 0.5 * sd, mu - x - 0.5 * sd]),
                       (acc, e) -> [greatest(0.0, acc[1] + e[1]),
                                    greatest(0.0, acc[2] + e[2])]))
                 ELSE
                   list_transform(xs, x ->
                     [CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)])
                 END AS ss,
                 4.0 * sd AS h
          FROM g JOIN stats USING (grp)
        )
        SELECT grp AS event_type,
               CAST(unnest(tss) AS BIGINT) AS hour_epoch,
               round(unnest(xs), 6) AS metric,
               round(unnest(list_transform(ss, s -> s[1])), 6) AS s_pos,
               round(unnest(list_transform(ss, s -> s[2])), 6) AS s_neg,
               unnest(list_transform(ss,
                 s -> s[1] > h OR s[2] > h)) AS is_change
        FROM cs
    """

    sql["ngram_diversity"] = """
        WITH toks AS (
          SELECT source,
                 list_filter(string_split(text, ' '), t -> t <> '') AS t
          FROM documents WHERE text IS NOT NULL
        ), grams AS (
          SELECT source, array_to_string(t[i:i+2], ' ') AS gram
          FROM (SELECT source, t,
                       unnest(range(1, greatest(len(t) - 3 + 2, 1))) AS i
                FROM toks)
          WHERE len(t) >= 3
        ), counts AS (
          SELECT source, gram, count(*) AS c FROM grams GROUP BY 1, 2
        )
        SELECT source,
               CAST(sum(c) AS BIGINT) AS total_ngrams,
               CAST(count(*) AS BIGINT) AS distinct_ngrams,
               round(CAST(count(*) AS BIGINT) / CAST(sum(c) AS BIGINT), 6)
                 AS diversity
        FROM counts GROUP BY 1
    """

    sql["pmi_collocations"] = """
        WITH toks AS (
          SELECT list_filter(string_split(lower(text), ' '), t -> t <> '')
                 AS t
          FROM documents WHERE text IS NOT NULL
        ), uni AS (
          SELECT w, count(*) AS c
          FROM (SELECT unnest(t) AS w FROM toks) GROUP BY w
        ), nu AS (
          SELECT CAST(sum(c) AS DOUBLE) AS nu FROM uni
        ), pairs AS (
          SELECT t[i] AS w1, t[i+1] AS w2, count(*) AS pair_count
          FROM (SELECT t, unnest(range(1, len(t))) AS i
                FROM toks WHERE len(t) >= 2)
          GROUP BY 1, 2
        ), nb AS (
          SELECT CAST(sum(pair_count) AS DOUBLE) AS nb FROM pairs
        )
        SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count,
               round(ln((pair_count / nb.nb)
                        / ((u1.c / nu.nu) * (u2.c / nu.nu))), 6) AS pmi
        FROM pairs
        JOIN uni u1 ON pairs.w1 = u1.w
        JOIN uni u2 ON pairs.w2 = u2.w
        CROSS JOIN nb CROSS JOIN nu
        WHERE pair_count >= 5
    """

    sql["global_rank"] = """
        WITH ranked AS (
          SELECT l_orderkey, l_linenumber, l_extendedprice,
                 CAST(row_number() OVER (
                   ORDER BY l_extendedprice ASC, l_orderkey ASC,
                            l_linenumber ASC
                 ) AS BIGINT) AS rank,
                 CAST(count(*) OVER () AS BIGINT) AS n
          FROM lineitem
        )
        SELECT l_orderkey, l_linenumber, l_extendedprice, rank,
               CASE WHEN n > 1
                    THEN round(CAST(rank - 1 AS DOUBLE)
                               / CAST(n - 1 AS DOUBLE), 6)
                    ELSE CAST(0.0 AS DOUBLE) END AS percent_rank
        FROM ranked
    """

    sql["lm_trigram"] = """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS t
          FROM documents
        ), ref AS (
          SELECT t.t FROM toks t
          JOIN documents d USING (doc_id) WHERE d.lang = 'en'
        ), tri AS (
          SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3,
                 CAST(count(*) AS BIGINT) AS c3
          FROM (SELECT t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM ref)
          WHERE i + 2 <= len(t)
          GROUP BY 1, 2, 3
        ), bi AS (
          SELECT t[i] AS w1, t[i+1] AS w2,
                 CAST(count(*) AS BIGINT) AS c2
          FROM (SELECT t, unnest(range(1, greatest(len(t), 1))) AS i
                FROM ref)
          WHERE i + 1 <= len(t)
          GROUP BY 1, 2
        ), uni AS (
          SELECT w, CAST(count(*) AS BIGINT) AS c1
          FROM (SELECT unnest(t) AS w FROM ref) GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(c1) AS DOUBLE) AS n_tokens,
                 CAST(count(*) AS DOUBLE) AS v
          FROM uni
        ), ev AS (
          SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
          FROM (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks)
          WHERE i + 2 <= len(t)
        ), scored AS (
          SELECT ev.doc_id,
                 -ln(
                   CAST(0.6 AS DOUBLE)
                     * coalesce(CAST(tri.c3 AS DOUBLE) / b12.c2, CAST(0.0 AS DOUBLE))
                   + CAST(0.3 AS DOUBLE)
                     * coalesce(CAST(b23.c2 AS DOUBLE) / u2.c1, CAST(0.0 AS DOUBLE))
                   + CAST(0.1 AS DOUBLE)
                     * (coalesce(u3.c1, 0) + CAST(0.1 AS DOUBLE))
                     / (tot.n_tokens + CAST(0.1 AS DOUBLE) * tot.v)
                 ) AS nll
          FROM ev
          LEFT JOIN tri ON tri.w1 = ev.w1 AND tri.w2 = ev.w2 AND tri.w3 = ev.w3
          LEFT JOIN bi b12 ON b12.w1 = ev.w1 AND b12.w2 = ev.w2
          LEFT JOIN bi b23 ON b23.w1 = ev.w2 AND b23.w2 = ev.w3
          LEFT JOIN uni u2 ON u2.w = ev.w2
          LEFT JOIN uni u3 ON u3.w = ev.w3
          CROSS JOIN tot
        ), per_doc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                 avg(nll) AS h
          FROM scored GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(p.n_trigrams, 0) AS n_trigrams,
               round(p.h, 6) AS cross_entropy,
               round(exp(p.h), 6) AS perplexity
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """

    sql["winsorize"] = """
        WITH b AS (
          SELECT quantile_cont(l_extendedprice, 0.01) AS wlo,
                 quantile_cont(l_extendedprice, 0.99) AS whi
          FROM lineitem
        )
        SELECT l_orderkey, l_linenumber,
               round(least(greatest(CAST(l_extendedprice AS DOUBLE), b.wlo),
                           b.whi), 6) AS l_extendedprice_wins,
               l_extendedprice IS NOT NULL
                 AND (CAST(l_extendedprice AS DOUBLE) < b.wlo
                      OR CAST(l_extendedprice AS DOUBLE) > b.whi)
                 AS was_clipped
        FROM lineitem CROSS JOIN b
    """

    sql["robust_scale"] = """
        WITH s AS (
          SELECT l_returnflag,
                 quantile_cont(l_extendedprice, 0.5) AS med,
                 quantile_cont(l_extendedprice, 0.25) AS p25,
                 quantile_cont(l_extendedprice, 0.75) AS p75
          FROM lineitem GROUP BY 1
        )
        SELECT li.l_orderkey, li.l_linenumber, li.l_returnflag,
               round(CASE WHEN s.p75 - s.p25 > 0
                     THEN (CAST(li.l_extendedprice AS DOUBLE) - s.med)
                          / (s.p75 - s.p25)
                     ELSE CAST(0.0 AS DOUBLE) END, 6)
                 AS l_extendedprice_scaled
        FROM lineitem li JOIN s USING (l_returnflag)
    """

    sql["anomaly_zscore"] = """
        WITH rollup AS (
          SELECT event_type,
                 epoch_ns(ts) // 3600000000000 * 3600 AS hour_epoch,
                 sum(value) AS metric
          FROM events
          GROUP BY 1, 2
        ), w AS (
          SELECT event_type, hour_epoch, metric,
                 avg(metric) OVER tw AS mean_prev,
                 stddev_samp(metric) OVER tw AS std_prev,
                 count(metric) OVER tw AS n_prev
          FROM rollup
          WINDOW tw AS (PARTITION BY event_type ORDER BY hour_epoch
                        ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type,
               CAST(hour_epoch AS BIGINT) AS hour_epoch,
               round(metric, 6) AS metric,
               round(mean_prev, 6) AS mean_prev,
               round(std_prev, 6) AS std_prev,
               round(CASE WHEN n_prev >= 2 AND std_prev > 0
                     THEN (metric - mean_prev) / std_prev END, 6) AS zscore,
               coalesce(abs(CASE WHEN n_prev >= 2 AND std_prev > 0
                            THEN (metric - mean_prev) / std_prev END)
                        > CAST(3.0 AS DOUBLE), FALSE) AS is_anomaly
        FROM w
    """

    sql["grouped_ols"] = """
        WITH s AS (
          SELECT l_returnflag AS rflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 sum(CAST(l_quantity AS DOUBLE)) AS sx,
                 sum(CAST(l_extendedprice AS DOUBLE)) AS sy,
                 sum(CAST(l_quantity AS DOUBLE)
                     * CAST(l_quantity AS DOUBLE)) AS sxx,
                 sum(CAST(l_extendedprice AS DOUBLE)
                     * CAST(l_extendedprice AS DOUBLE)) AS syy,
                 sum(CAST(l_quantity AS DOUBLE)
                     * CAST(l_extendedprice AS DOUBLE)) AS sxy
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
          GROUP BY 1
        )
        SELECT rflag,
               CAST(n AS BIGINT) AS n,
               round(CASE WHEN n*sxx - sx*sx > 0
                     THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END,
                     6) AS slope,
               round(CASE WHEN n*sxx - sx*sx > 0
                     THEN (sy - ((n*sxy - sx*sy) / (n*sxx - sx*sx)) * sx)
                          / n END, 6) AS intercept,
               round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
                     THEN (n*sxy - sx*sy) * (n*sxy - sx*sy)
                          / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END,
                     6) AS r2
        FROM s
    """

    sql["set_similarity"] = r"""
        WITH base AS (
          SELECT doc_id,
                 string_split(regexp_replace(lower(trim(text)),
                                             '\s+', ' ', 'g'), ' ') AS t
          FROM documents
        ), sh AS (
          SELECT doc_id AS id,
                 CASE WHEN len(t) >= 3
                      THEN list_transform(
                             generate_series(1, len(t) - 2),
                             i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
                      ELSE [array_to_string(t, ' ')] END AS els
          FROM base
        ), toks AS (
          SELECT DISTINCT id, e AS tok
          FROM (SELECT id, unnest(els) AS e FROM sh) WHERE e <> ''
        ), sz AS (
          SELECT id, count(*) AS s FROM toks GROUP BY id
        ), pairs AS (
          SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
          FROM toks a JOIN toks b ON a.tok = b.tok AND a.id < b.id
          GROUP BY 1, 2
        ), j AS (
          SELECT id_a, id_b, inter, sa.s + sb.s - inter AS uni
          FROM pairs
          JOIN sz sa ON sa.id = pairs.id_a
          JOIN sz sb ON sb.id = pairs.id_b
        )
        SELECT id_a, id_b,
               CAST(inter AS BIGINT) AS intersection,
               CAST(uni AS BIGINT) AS union_size,
               round(CAST(inter AS DOUBLE) / uni, 6) AS jaccard
        FROM j
        WHERE CAST(inter AS DOUBLE) >= 0.7 * CAST(uni AS DOUBLE)
    """

    sql["link_prediction"] = """
        WITH e0 AS (
          SELECT DISTINCT l_partkey AS s, l_suppkey + 1000000 AS d
          FROM lineitem
        ), e AS (
          SELECT s, d FROM e0 UNION SELECT d, s FROM e0
        ), deg AS (
          SELECT s AS node, count(*) AS dg FROM e GROUP BY 1
        ), ctr AS (
          SELECT e.s AS z, e.d AS nbr, deg.dg AS dz
          FROM e JOIN deg ON deg.node = e.s
          WHERE deg.dg BETWEEN 2 AND 30
        ), w AS (
          SELECT a.nbr AS na, b.nbr AS nb,
                 count(*) AS cn,
                 sum(1.0 / ln(a.dz)) AS aa
          FROM ctr a JOIN ctr b ON a.z = b.z AND a.nbr < b.nbr
          GROUP BY 1, 2
        ), cand AS (
          SELECT w.na, w.nb, w.cn, w.aa
          FROM w LEFT JOIN (
            SELECT s AS na, d AS nb FROM e WHERE s < d
          ) adj ON w.na = adj.na AND w.nb = adj.nb
          WHERE adj.na IS NULL
        )
        SELECT cand.na AS node_a, cand.nb AS node_b,
               CAST(cn AS BIGINT) AS common_neighbors,
               round(CAST(cn AS DOUBLE) / (da.dg + db.dg - cn), 6)
                 AS jaccard,
               round(aa, 6) AS adamic_adar,
               CAST(da.dg * db.dg AS BIGINT) AS preferential_attachment
        FROM cand
        JOIN deg da ON da.node = cand.na
        JOIN deg db ON db.node = cand.nb
    """

    sql["importance_resample"] = r"""
        WITH rtok AS (
          SELECT doc_id,
                 unnest(string_split(regexp_replace(lower(trim(text)),
                                     '\s+', ' ', 'g'), ' ')) AS tok
          FROM documents
        ), rt AS (
          SELECT doc_id, tok,
                 CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)
                   % 256 AS b
          FROM rtok WHERE tok <> ''
        ), ttok AS (
          SELECT doc_id,
                 unnest(string_split(regexp_replace(lower(trim(text)),
                                     '\s+', ' ', 'g'), ' ')) AS tok
          FROM documents WHERE lang = 'en'
        ), tt AS (
          SELECT doc_id, tok,
                 CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT)
                   % 256 AS b
          FROM ttok WHERE tok <> ''
        ), grid AS (
          SELECT unnest(range(0, 256)) AS b
        ), counts AS (
          SELECT grid.b,
                 coalesce(rc.c, 0) AS cr,
                 coalesce(tc.c, 0) AS ct
          FROM grid
          LEFT JOIN (SELECT b, count(*) AS c FROM rt GROUP BY 1) rc
                 ON rc.b = grid.b
          LEFT JOIN (SELECT b, count(*) AS c FROM tt GROUP BY 1) tc
                 ON tc.b = grid.b
        ), tot AS (
          SELECT sum(cr) AS nr, sum(ct) AS nt FROM counts
        ), lr AS (
          SELECT b,
                 ln((ct + 1.0) / (nt + 256.0))
                 - ln((cr + 1.0) / (nr + 256.0)) AS lrv
          FROM counts CROSS JOIN tot
        ), w AS (
          SELECT rt.doc_id,
                 count(*)::BIGINT AS n_tokens,
                 sum(lr.lrv) AS lw
          FROM rt JOIN lr ON lr.b = rt.b
          GROUP BY 1
        ), scored AS (
          SELECT doc_id, n_tokens, lw,
                 lw - ln(-ln(
                   (CAST(('0x' || substr(md5('dsir:'
                        || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                    + 1.0) / 1152921504606846976.0
                 )) AS score
          FROM w
        )
        SELECT doc_id, n_tokens,
               round(lw, 6) AS log_weight,
               round(score, 6) AS score
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT 100
    """

    sql["kmv_overlap"] = """
        WITH ha0 AS (
          SELECT DISTINCT
                 CAST(CAST(('0x' || substr(md5('kmv:'
                      || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                      AS DOUBLE)
                   / CAST(1152921504606846976 AS DOUBLE) AS h
          FROM orders WHERE o_orderdate < DATE '1997-01-01'
        ), hb0 AS (
          SELECT DISTINCT
                 CAST(CAST(('0x' || substr(md5('kmv:'
                      || CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                      AS DOUBLE)
                   / CAST(1152921504606846976 AS DOUBLE) AS h
          FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        ), la AS (
          SELECT (list_sort(list(h)))[:128] AS ha FROM ha0
        ), lb AS (
          SELECT (list_sort(list(h)))[:128] AS hb FROM hb0
        ), m AS (
          SELECT ha, hb,
                 list_sort(list_distinct(list_concat(ha, hb))) AS mg
          FROM la CROSS JOIN lb
        ), calc AS (
          SELECT ha, hb,
                 len(mg) >= 128 AS isfull,
                 CASE WHEN len(mg) >= 128 THEN mg[128]
                      ELSE 1.0 END AS theta,
                 CASE WHEN len(mg) >= 128 THEN mg[:127]
                      ELSE mg END AS s
          FROM m
        ), c2 AS (
          SELECT len(s) AS ns,
                 len(list_intersect(s, list_intersect(ha, hb))) AS ni,
                 CASE WHEN isfull THEN 127.0 / theta
                      ELSE CAST(len(s) AS DOUBLE) END AS eu,
                 CASE WHEN len(ha) < 128 THEN CAST(len(ha) AS DOUBLE)
                      ELSE 127.0 / ha[128] END AS ea,
                 CASE WHEN len(hb) < 128 THEN CAST(len(hb) AS DOUBLE)
                      ELSE 127.0 / hb[128] END AS eb
          FROM calc
        ), c3 AS (
          SELECT ea, eb, eu,
                 CASE WHEN ns > 0
                      THEN CAST(ni AS DOUBLE) / ns ELSE 0.0 END AS jac
          FROM c2
        )
        SELECT round(ea, 3) AS est_a,
               round(eb, 3) AS est_b,
               round(eu, 3) AS est_union,
               round(jac * eu, 3) AS est_intersection,
               round(jac, 6) AS jaccard,
               round(CASE WHEN ea > 0 THEN jac * eu / ea END, 6)
                 AS containment_a,
               round(CASE WHEN eb > 0 THEN jac * eu / eb END, 6)
                 AS containment_b
        FROM c3
    """

    sql["hits_scores"] = """
        WITH e AS (
          SELECT DISTINCT o_custkey AS s, l_suppkey + 1000000 AS d
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), nodes AS (
          SELECT s AS node FROM e UNION SELECT d FROM e
        ), h0 AS (
          SELECT node, 1.0 AS sc FROM nodes
        ), a1 AS (
          SELECT e.d AS node, sum(h0.sc) AS sc
          FROM e JOIN h0 ON h0.node = e.s GROUP BY 1
        ), h1 AS (
          SELECT e.s AS node, sum(a1.sc) AS sc
          FROM e JOIN a1 ON a1.node = e.d GROUP BY 1
        ), a2 AS (
          SELECT e.d AS node, sum(h1.sc) AS sc
          FROM e JOIN h1 ON h1.node = e.s GROUP BY 1
        ), h2 AS (
          SELECT e.s AS node, sum(a2.sc) AS sc
          FROM e JOIN a2 ON a2.node = e.d GROUP BY 1
        ), hf AS (
          SELECT nodes.node, coalesce(h2.sc, 0.0) AS h
          FROM nodes LEFT JOIN h2 ON h2.node = nodes.node
        ), af AS (
          SELECT nodes.node, coalesce(a2.sc, 0.0) AS a
          FROM nodes LEFT JOIN a2 ON a2.node = nodes.node
        ), tot AS (
          SELECT (SELECT sum(h) FROM hf) AS th,
                 (SELECT sum(a) FROM af) AS ta
        )
        SELECT hf.node,
               round(CASE WHEN th > 0 THEN hf.h / th ELSE 0.0 END, 6)
                 AS hub,
               round(CASE WHEN ta > 0 THEN af.a / ta ELSE 0.0 END, 6)
                 AS authority
        FROM hf JOIN af ON af.node = hf.node CROSS JOIN tot
    """

    sql["mann_kendall"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 * 3600 AS t,
                 CAST(sum(value) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2
        ), pairs AS (
          SELECT a.grp,
                 sign(b.v - a.v) AS sg,
                 (b.v - a.v) / (b.t - a.t) AS slope
          FROM rollup a JOIN rollup b
            ON a.grp = b.grp AND a.t < b.t
        ), folded AS (
          SELECT grp, CAST(sum(sg) AS BIGINT) AS s,
                 quantile_cont(slope, 0.5) AS sen
          FROM pairs GROUP BY 1
        ), counts AS (
          SELECT grp, count(*) AS n FROM rollup GROUP BY 1
        ), ties AS (
          SELECT grp,
                 sum(tt * (tt - 1) * (2 * tt + 5)) AS tie
          FROM (SELECT grp, v, count(*) AS tt FROM rollup GROUP BY 1, 2)
          GROUP BY 1
        ), j AS (
          SELECT c.grp, c.n,
                 coalesce(f.s, 0) AS s, f.sen,
                 (CAST(c.n AS DOUBLE) * (c.n - 1) * (2 * c.n + 5)
                  - ties.tie) / 18.0 AS var_s
          FROM counts c
          LEFT JOIN folded f ON f.grp = c.grp
          JOIN ties ON ties.grp = c.grp
        ), z AS (
          SELECT grp, n, s, sen, var_s,
                 CASE WHEN var_s > 0 AND s > 0
                        THEN (s - 1) / sqrt(var_s)
                      WHEN var_s > 0 AND s < 0
                        THEN (s + 1) / sqrt(var_s)
                      WHEN var_s > 0 THEN 0.0 END AS zv
          FROM j
        )
        SELECT grp AS event_type,
               CAST(n AS BIGINT) AS n, s,
               round(var_s, 6) AS var_s,
               round(zv, 6) AS z,
               CASE WHEN zv IS NULL THEN 'no_trend'
                    WHEN zv > 1.96 THEN 'increasing'
                    WHEN zv < -1.96 THEN 'decreasing'
                    ELSE 'no_trend' END AS trend,
               round(sen, 6) AS sen_slope
        FROM z
    """

    sql["correlation_matrix"] = """
        WITH base AS (
          SELECT CAST(l_quantity AS DOUBLE) AS a,
                 CAST(l_extendedprice AS DOUBLE) AS b,
                 CAST(l_discount AS DOUBLE) AS c,
                 CAST(l_tax AS DOUBLE) AS d
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
            AND l_discount IS NOT NULL AND l_tax IS NOT NULL
        ), s AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 sum(a) AS sa, sum(b) AS sb, sum(c) AS sc_, sum(d) AS sd,
                 sum(a*a) AS qa, sum(b*b) AS qb, sum(c*c) AS qc,
                 sum(d*d) AS qd,
                 sum(a*b) AS xab, sum(a*c) AS xac, sum(a*d) AS xad,
                 sum(b*c) AS xbc, sum(b*d) AS xbd, sum(c*d) AS xcd
          FROM base
        ), pairs AS (
          SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
                 n*qa - sa*sa AS dx, n*qb - sb*sb AS dy,
                 n*xab - sa*sb AS cv, n FROM s
          UNION ALL
          SELECT 'l_quantity', 'l_discount',
                 n*qa - sa*sa, n*qc - sc_*sc_, n*xac - sa*sc_, n FROM s
          UNION ALL
          SELECT 'l_quantity', 'l_tax',
                 n*qa - sa*sa, n*qd - sd*sd, n*xad - sa*sd, n FROM s
          UNION ALL
          SELECT 'l_extendedprice', 'l_discount',
                 n*qb - sb*sb, n*qc - sc_*sc_, n*xbc - sb*sc_, n FROM s
          UNION ALL
          SELECT 'l_extendedprice', 'l_tax',
                 n*qb - sb*sb, n*qd - sd*sd, n*xbd - sb*sd, n FROM s
          UNION ALL
          SELECT 'l_discount', 'l_tax',
                 n*qc - sc_*sc_, n*qd - sd*sd, n*xcd - sc_*sd, n FROM s
        )
        SELECT col_x, col_y,
               round(CASE WHEN dx > 0 AND dy > 0
                     THEN cv / sqrt(dx * dy) END, 6) AS corr,
               CAST(n AS BIGINT) AS n_rows
        FROM pairs
    """

    sql["rrf_fusion"] = r"""
        WITH docs AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(lower(text), '\s+'),
                                 t -> t <> '')) AS doc_len,
                 list_filter(string_split_regex(lower(text), '\s+'),
                             t -> t <> '') AS toks
          FROM documents
          WHERE text IS NOT NULL
        ), stats AS (
          SELECT CAST(count(*) AS BIGINT) AS n_docs, avg(doc_len) AS avgdl
          FROM docs
        ), tf AS (
          SELECT doc_id, doc_len, term, CAST(count(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, doc_len, unnest(toks) AS term FROM docs)
          WHERE term IN ('merge', 'spark', 'window')
          GROUP BY 1, 2, 3
        ), dfreq AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df_count
          FROM tf GROUP BY 1
        ), scored AS (
          SELECT tf.doc_id,
                 round(sum(
                   ln(CAST(1.0 AS DOUBLE)
                      + (s.n_docs - d.df_count + CAST(0.5 AS DOUBLE))
                        / (d.df_count + CAST(0.5 AS DOUBLE)))
                   * (tf.tf * (CAST(1.2 AS DOUBLE) + CAST(1.0 AS DOUBLE)))
                   / (tf.tf + CAST(1.2 AS DOUBLE)
                      * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                         + CAST(0.75 AS DOUBLE) * tf.doc_len / s.avgdl))
                 ), 6) AS score
          FROM tf JOIN dfreq d USING (term) CROSS JOIN stats s
          GROUP BY tf.doc_id
        ), bm20 AS (
          SELECT doc_id, score,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM scored
          ORDER BY score DESC, doc_id LIMIT 20
        ), r1 AS (
          SELECT doc_id,
                 row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
          FROM bm20
        ), cand AS (
          SELECT DISTINCT doc_id FROM tf
        ), r2 AS (
          SELECT d.doc_id,
                 row_number() OVER (ORDER BY d.n_chars DESC, d.doc_id)
                   AS rnk
          FROM documents d JOIN cand USING (doc_id)
          QUALIFY rnk <= 20
        ), u AS (
          SELECT doc_id, rnk FROM r1
          UNION ALL
          SELECT doc_id, rnk FROM r2
        ), fused AS (
          SELECT doc_id,
                 round(sum(1.0 / (60 + rnk)), 6) AS rrf_score,
                 CAST(count(*) AS BIGINT) AS n_rankings
          FROM u GROUP BY 1
        )
        SELECT doc_id, rrf_score, n_rankings
        FROM fused
        QUALIFY row_number()
                OVER (ORDER BY rrf_score DESC, doc_id) <= 10
    """

    sql["harmonic_centrality"] = """
        WITH e0 AS (
          SELECT DISTINCT o_custkey AS s, l_suppkey + 1000000 AS d
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), e AS (
          SELECT s, d FROM e0 UNION SELECT d, s FROM e0
        ), src AS (
          SELECT unnest([1, 2, 3]) AS source
        ), v0 AS (
          SELECT source, CAST(source AS BIGINT) AS node, 0 AS dist
          FROM src
        ), n1 AS (
          SELECT source, node, 1 AS dist FROM (
            SELECT DISTINCT v0.source, e.d AS node
            FROM v0 JOIN e ON e.s = v0.node
            EXCEPT SELECT source, node FROM v0
          )
        ), v1 AS (
          SELECT * FROM v0 UNION ALL SELECT * FROM n1
        ), n2 AS (
          SELECT source, node, 2 AS dist FROM (
            SELECT DISTINCT n1.source, e.d AS node
            FROM n1 JOIN e ON e.s = n1.node
            EXCEPT SELECT source, node FROM v1
          )
        ), v2 AS (
          SELECT * FROM v1 UNION ALL SELECT * FROM n2
        ), n3 AS (
          SELECT source, node, 3 AS dist FROM (
            SELECT DISTINCT n2.source, e.d AS node
            FROM n2 JOIN e ON e.s = n2.node
            EXCEPT SELECT source, node FROM v2
          )
        ), v3 AS (
          SELECT * FROM v2 UNION ALL SELECT * FROM n3
        ), nodes AS (
          SELECT s AS node FROM e UNION SELECT d FROM e
        ), scores AS (
          SELECT node, sum(1.0 / dist) AS h,
                 CAST(count(*) AS BIGINT) AS r
          FROM v3 WHERE dist > 0 GROUP BY 1
        )
        SELECT nodes.node,
               round(coalesce(scores.h, 0.0), 6) AS harmonic,
               CAST(coalesce(scores.r, 0) AS BIGINT) AS n_reached
        FROM nodes LEFT JOIN scores ON scores.node = nodes.node
    """

    sql["gap_fill"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 * 3600 AS t,
                 CAST(sum(value) AS DOUBLE) AS v
          FROM events WHERE value > 400 GROUP BY 1, 2
        ), bounds AS (
          SELECT grp, min(t) AS lo, max(t) AS hi FROM rollup GROUP BY 1
        ), grid AS (
          SELECT grp, unnest(range(lo, hi + 3600, 3600)) AS t
          FROM bounds
        ), j AS (
          SELECT grid.grp, grid.t, rollup.v
          FROM grid LEFT JOIN rollup
            ON rollup.grp = grid.grp AND rollup.t = grid.t
        ), w AS (
          SELECT grp, t, v,
                 last_value(v IGNORE NULLS) OVER
                   (PARTITION BY grp ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS pv,
                 last_value(CASE WHEN v IS NOT NULL THEN t END
                            IGNORE NULLS) OVER
                   (PARTITION BY grp ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS pt,
                 first_value(v IGNORE NULLS) OVER
                   (PARTITION BY grp ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nv,
                 first_value(CASE WHEN v IS NOT NULL THEN t END
                             IGNORE NULLS) OVER
                   (PARTITION BY grp ORDER BY t
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS nt
          FROM j
        )
        SELECT grp AS event_type,
               CAST(t AS BIGINT) AS t,
               round(CASE WHEN v IS NOT NULL THEN v
                     WHEN pv IS NOT NULL AND nv IS NOT NULL
                     THEN pv + (nv - pv) * (t - pt)
                          / CAST(nt - pt AS DOUBLE) END, 6) AS value,
               (v IS NULL) AS is_filled
        FROM w
    """

    sql["ab_test_cuped"] = """
        WITH base AS (
          SELECT event_type AS v,
                 CAST(value AS DOUBLE) AS y,
                 CAST(user_id % 100 AS DOUBLE) AS x
          FROM events
          WHERE event_type IN ('view', 'click')
            AND value IS NOT NULL AND user_id IS NOT NULL
        ), pooled AS (
          SELECT CAST(count(*) AS DOUBLE) AS pn,
                 sum(x) AS sx, sum(x*x) AS sxx,
                 sum(y) AS sy, sum(x*y) AS sxy
          FROM base
        ), th AS (
          SELECT CASE WHEN pn*sxx - sx*sx > 0
                 THEN (pn*sxy - sx*sy) / (pn*sxx - sx*sx)
                 ELSE 0.0 END AS theta,
                 sx / pn AS xbar
          FROM pooled
        ), adj AS (
          SELECT v, y - theta * (x - xbar) AS ya, y, theta
          FROM base CROSS JOIN th
        ), per AS (
          SELECT v, CAST(count(*) AS DOUBLE) AS n,
                 avg(ya) AS m, var_samp(ya) AS va,
                 var_samp(y) AS vr, max(theta) AS th
          FROM adj GROUP BY 1
        ), a AS (SELECT * FROM per WHERE v = 'view'),
        b AS (SELECT * FROM per WHERE v = 'click'),
        j AS (
          SELECT a.n AS na, b.n AS nb, a.m AS ma, b.m AS mb,
                 a.va AS va, b.va AS vb, a.vr AS vra, b.vr AS vrb,
                 a.th AS theta,
                 a.va / a.n + b.va / b.n AS se2
          FROM a CROSS JOIN b
        ), zc AS (
          SELECT *,
                 CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0
                 THEN (mb - ma) / sqrt(se2) END AS z
          FROM j
        ), pc AS (
          SELECT *,
                 abs(z) / sqrt(2.0) AS az,
                 1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
          FROM zc
        )
        SELECT CAST(na AS BIGINT) AS n_control,
               CAST(nb AS BIGINT) AS n_treatment,
               round(ma, 6) AS mean_control,
               round(mb, 6) AS mean_treatment,
               round(mb - ma, 6) AS diff,
               round(z, 6) AS z,
               round(CASE WHEN z IS NOT NULL THEN
                 1.0 - (1.0 - (0.254829592*t - 0.284496736*t*t
                    + 1.421413741*t*t*t - 1.453152027*t*t*t*t
                    + 1.061405429*t*t*t*t*t) * exp(-az*az))
               END, 6) AS p_value,
               round(theta, 6) AS theta,
               round(CASE WHEN vra + vrb > 0
                     THEN 1.0 - (va + vb) / (vra + vrb) END, 6)
                 AS var_reduction
        FROM pc
    """

    sql["bootstrap_ci"] = _bootstrap_ci_oracle()

    sql["fdr_battery"] = """
        WITH j AS (
          SELECT c.c_nationkey AS nationkey,
                 CAST(o_totalprice AS DOUBLE) AS v,
                 o_orderdate < DATE '1997-01-01' AS early
          FROM orders JOIN customer c ON o_custkey = c.c_custkey
        ), per AS (
          SELECT nationkey,
                 CAST(count(*) FILTER (early) AS DOUBLE) AS na,
                 avg(v) FILTER (early) AS ma,
                 var_samp(v) FILTER (early) AS va,
                 CAST(count(*) FILTER (NOT early) AS DOUBLE) AS nb,
                 avg(v) FILTER (NOT early) AS mb,
                 var_samp(v) FILTER (NOT early) AS vb
          FROM j GROUP BY 1
        ), zc AS (
          SELECT nationkey,
                 CASE WHEN na >= 2 AND nb >= 2
                       AND va / na + vb / nb > 0
                 THEN (mb - ma) / sqrt(va / na + vb / nb) END AS z
          FROM per
        ), pc AS (
          SELECT nationkey, z,
                 abs(z) / sqrt(2.0) AS az,
                 1.0 / (1.0 + 0.3275911 * (abs(z) / sqrt(2.0))) AS t
          FROM zc
        ), battery AS (
          SELECT nationkey,
                 round(CASE WHEN z IS NOT NULL THEN
                   (0.254829592*t - 0.284496736*t*t
                    + 1.421413741*t*t*t - 1.453152027*t*t*t*t
                    + 1.061405429*t*t*t*t*t) * exp(-az*az)
                 END, 9) AS p
          FROM pc
        ), m AS (
          SELECT CAST(count(*) AS DOUBLE) AS m
          FROM battery WHERE p IS NOT NULL
        ), ranked AS (
          SELECT nationkey, p,
                 CAST(row_number() OVER (ORDER BY p, nationkey)
                      AS BIGINT) AS rank
          FROM battery WHERE p IS NOT NULL
        ), thr AS (
          SELECT nationkey, p, rank,
                 round(rank / m.m * 0.05, 9) AS bh_threshold
          FROM ranked CROSS JOIN m
        ), km AS (
          SELECT coalesce(max(CASE WHEN p <= bh_threshold
                           THEN rank END), 0) AS kmax
          FROM thr
        )
        SELECT thr.nationkey, thr.p, thr.rank, thr.bh_threshold,
               thr.rank <= km.kmax AS discovery
        FROM thr CROSS JOIN km
        UNION ALL
        SELECT nationkey, p,
               CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE), FALSE
        FROM battery WHERE p IS NULL
    """

    sql["dataset_fingerprint"] = """
        WITH h AS (
          SELECT CAST(('0x' || substr(md5(
                   coalesce(CAST(l_orderkey AS VARCHAR), '\\N')
                   || chr(31)
                   || coalesce(CAST(l_linenumber AS VARCHAR), '\\N')
                   || chr(31)
                   || coalesce(CAST(l_suppkey AS VARCHAR), '\\N')
                 ), 1, 15)) AS BIGINT) AS hv
          FROM lineitem
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(coalesce(bit_xor(hv), 0) AS BIGINT)
                 AS xor_fingerprint,
               CAST(coalesce(sum(CAST(hv AS HUGEINT)), 0)
                    % 1099511627776 AS BIGINT) AS sum_fingerprint
        FROM h
    """

    sql["topk_with_ties"] = """
        WITH rev AS (
          SELECT s.s_nationkey AS nationkey,
                 s.s_suppkey AS suppkey,
                 floor(sum(l_extendedprice * (1 - l_discount)) * 100
                       + 0.5) / 100 AS revenue
          FROM lineitem JOIN supplier s ON l_suppkey = s.s_suppkey
          GROUP BY 1, 2
        )
        SELECT nationkey, suppkey, revenue,
               CAST(rnk AS INT) AS rnk
        FROM (
          SELECT *,
                 rank() OVER (PARTITION BY nationkey
                              ORDER BY revenue DESC) AS rnk
          FROM rev
        ) WHERE rnk <= 3
    """

    sql["margin_mining"] = """
        WITH a AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings WHERE label % 2 = 0
        ), b AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings WHERE label % 2 = 1
        ), ab AS (
          SELECT a.vec_id AS qa, b.vec_id AS cb,
                 list_cosine_similarity(a.emb, b.emb) AS cos
          FROM a CROSS JOIN b WHERE a.vec_id <> b.vec_id
        ), ba AS (
          SELECT b.vec_id AS qb, a.vec_id AS ca,
                 list_cosine_similarity(b.emb, a.emb) AS cos
          FROM b CROSS JOIN a WHERE b.vec_id <> a.vec_id
        ), nn_ab AS (
          SELECT qa, cb, cos
          FROM ab
          QUALIFY row_number()
                  OVER (PARTITION BY qa ORDER BY cos DESC, cb) <= 4
        ), nn_ba AS (
          SELECT qb, ca, cos
          FROM ba
          QUALIFY row_number()
                  OVER (PARTITION BY qb ORDER BY cos DESC, ca) <= 4
        ), da AS (
          SELECT qa, avg(cos) AS d FROM nn_ab GROUP BY 1
        ), db AS (
          SELECT qb, avg(cos) AS d FROM nn_ba GROUP BY 1
        ), cand AS (
          SELECT nn_ab.qa, nn_ab.cb, nn_ab.cos,
                 CASE WHEN da.d + db.d > 0
                 THEN nn_ab.cos / ((da.d + db.d) / 2.0) END AS margin
          FROM nn_ab
          JOIN da ON da.qa = nn_ab.qa
          JOIN db ON db.qb = nn_ab.cb
        ), best AS (
          SELECT qa, cb, cos, margin
          FROM cand
          QUALIFY row_number()
                  OVER (PARTITION BY qa
                        ORDER BY margin DESC NULLS LAST, cb) = 1
        )
        SELECT qa AS id_a, cb AS id_b,
               round(cos, 6) AS cosine,
               round(margin, 6) AS margin
        FROM best WHERE margin >= 1.0
    """

    sql["order_priority_check"] = """
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          )
        GROUP BY 1 ORDER BY 1
    """

    sql["supplier_part_variety"] = """
        SELECT p_brand, p_size,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_type NOT LIKE 'PROMO%'
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
          )
        GROUP BY 1, 2
        ORDER BY supplier_cnt DESC, p_brand ASC, p_size ASC
    """

    sql["rfm_segments"] = """
        WITH per AS (
          SELECT o_custkey AS customer,
                 date_diff('day', CAST(max(o_orderdate) AS DATE),
                   (SELECT CAST(max(o_orderdate) AS DATE) FROM orders))
                   AS recency_days,
                 CAST(count(*) AS BIGINT) AS frequency,
                 floor(sum(CAST(o_totalprice AS DOUBLE)) * 100 + 0.5)
                   / 100 AS monetary
          FROM orders GROUP BY 1
        ), nn AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) // 4 AS BIGINT) AS base,
                 CAST(count(*) % 4 AS BIGINT) AS rem
          FROM per
        ), ranked AS (
          SELECT per.*,
                 row_number() OVER (ORDER BY recency_days ASC,
                                    customer ASC) AS kr,
                 row_number() OVER (ORDER BY frequency DESC,
                                    customer ASC) AS kf,
                 row_number() OVER (ORDER BY monetary DESC,
                                    customer ASC) AS km,
                 nn.base, nn.rem
          FROM per CROSS JOIN nn
        ), tiled AS (
          SELECT customer, recency_days, frequency, monetary,
                 CAST(5 - (CASE WHEN kr <= rem * (base + 1)
                   THEN CAST(floor((kr + base) / (base + 1.0)) AS BIGINT)
                   ELSE rem + CAST(floor((kr - rem * (base + 1) + base - 1)
                                         / (base * 1.0)) AS BIGINT)
                 END) AS INTEGER) AS r,
                 CAST(5 - (CASE WHEN kf <= rem * (base + 1)
                   THEN CAST(floor((kf + base) / (base + 1.0)) AS BIGINT)
                   ELSE rem + CAST(floor((kf - rem * (base + 1) + base - 1)
                                         / (base * 1.0)) AS BIGINT)
                 END) AS INTEGER) AS f,
                 CAST(5 - (CASE WHEN km <= rem * (base + 1)
                   THEN CAST(floor((km + base) / (base + 1.0)) AS BIGINT)
                   ELSE rem + CAST(floor((km - rem * (base + 1) + base - 1)
                                         / (base * 1.0)) AS BIGINT)
                 END) AS INTEGER) AS m
          FROM ranked
        )
        SELECT customer, recency_days, frequency, monetary, r, f, m,
               CAST(r AS VARCHAR) || CAST(f AS VARCHAR)
                 || CAST(m AS VARCHAR) AS segment
        FROM tiled
    """

    sql["cume_dist_ratio"] = """
        WITH rev AS (
          SELECT s_nationkey AS nationkey, s_suppkey AS suppkey,
                 floor(sum(l_extendedprice * (1 - l_discount)) * 100
                       + 0.5) / 100 AS revenue
          FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          GROUP BY 1, 2
        )
        SELECT nationkey, suppkey, revenue,
               round(CASE WHEN sum(revenue)
                            OVER (PARTITION BY nationkey) > 0
                     THEN revenue / sum(revenue)
                            OVER (PARTITION BY nationkey) END,
                     6) AS nation_share,
               round(cume_dist() OVER (PARTITION BY nationkey
                                       ORDER BY revenue ASC),
                     6) AS cume_dist
        FROM rev
    """

    sql["ohlc_bars"] = """
        WITH e AS (
          SELECT event_type, epoch_ns(ts) AS t, value AS v
          FROM events WHERE value IS NOT NULL
        )
        SELECT event_type,
               (t // 3600000000000) * 3600000000000 AS bucket_start,
               round(first(v ORDER BY t ASC, v ASC), 6) AS open,
               round(max(v), 6) AS high,
               round(min(v), 6) AS low,
               round(last(v ORDER BY t ASC, v ASC), 6) AS close,
               CAST(count(*) AS BIGINT) AS n
        FROM e GROUP BY 1, 2
    """

    sql["twap"] = """
        WITH e AS (
          SELECT event_type AS grp, epoch_ns(ts) AS t, value AS v
          FROM events WHERE value IS NOT NULL
        ), stepped AS (
          SELECT grp, t, v,
                 lead(t) OVER (PARTITION BY grp
                               ORDER BY t ASC, v ASC) AS tn,
                 (t // 3600000000000) * 3600000000000 AS bucket_start
          FROM e
        ), held AS (
          SELECT grp, bucket_start, v,
                 least(coalesce(tn, bucket_start + 3600000000000),
                       bucket_start + 3600000000000) - t AS hold
          FROM stepped
        )
        SELECT grp AS event_type, bucket_start,
               round(CASE WHEN sum(CAST(hold AS DOUBLE)) > 0
                     THEN sum(v * CAST(hold AS DOUBLE))
                          / sum(CAST(hold AS DOUBLE)) END, 6) AS twap,
               CAST(count(*) AS BIGINT) AS n
        FROM held GROUP BY 1, 2
    """

    sql["forecast_backtest"] = """
        WITH hourly AS (
          SELECT event_type, epoch_ns(ts) // 3600000000000 AS hour_idx,
                 CAST(count(*) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2
        ), lagged AS (
          SELECT event_type, v,
                 lag(v, 24) OVER (PARTITION BY event_type
                                  ORDER BY hour_idx ASC) AS f
          FROM hourly
        ), scored AS (
          SELECT event_type, v, f, v - f AS err FROM lagged
          WHERE f IS NOT NULL
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_scored,
               round(avg(CASE WHEN v <> 0
                         THEN abs(err) / abs(v) END), 6) AS mape,
               round(avg(CASE WHEN abs(v) + abs(f) > 0
                         THEN 2.0 * abs(err) / (abs(v) + abs(f))
                         ELSE 0.0 END), 6) AS smape,
               round(avg(err), 6) AS bias
        FROM scored GROUP BY 1
    """

    sql["mad_robust"] = """
        WITH base AS (
          SELECT l_returnflag AS g, CAST(l_extendedprice AS DOUBLE) AS x
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), med AS (
          SELECT g, quantile_cont(x, 0.5) AS m FROM base GROUP BY 1
        ), dev AS (
          SELECT base.g, x, m, abs(x - m) AS d
          FROM base JOIN med ON base.g = med.g
        ), folded AS (
          SELECT g, CAST(count(*) AS BIGINT) AS n,
                 max(m) AS median,
                 quantile_cont(d, 0.5) AS mad
          FROM dev GROUP BY 1
        )
        SELECT dev.g AS l_returnflag,
               max(folded.n) AS n,
               round(max(folded.median), 6) AS median,
               round(max(folded.mad), 6) AS mad,
               round(max(CASE WHEN folded.mad > 0
                         THEN 1.4826 * folded.mad END), 6)
                 AS robust_sigma,
               CAST(sum(CASE WHEN folded.mad > 0
                        AND dev.d / (1.4826 * folded.mad) > 3.0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM dev JOIN folded ON dev.g = folded.g
        GROUP BY 1 ORDER BY 1
    """

    sql["readability"] = """
        WITH t AS (
          SELECT doc_id, lower(text) AS lt FROM documents
          WHERE text IS NOT NULL
        ), counted AS (
          SELECT doc_id,
                 CAST(len(list_filter(string_split_regex(lt, '\\s+'),
                                      x -> x <> '')) AS BIGINT) AS n_words,
                 CAST(len(list_filter(string_split_regex(lt, '[.!?]+'),
                                      p -> regexp_matches(p, '[a-z0-9]')))
                      AS BIGINT) AS n_sentences,
                 CAST(len(list_filter(string_split_regex(lt, '[^aeiouy]+'),
                                      x -> x <> '')) AS BIGINT)
                   AS n_syllables
          FROM t
        )
        SELECT doc_id, n_words, n_sentences, n_syllables,
               CASE WHEN n_words > 0 AND n_sentences > 0 THEN
                 round(206.835
                       - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                       - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words),
                       6)
               END AS flesch
        FROM counted
    """

    sql["query_likelihood"] = """
        WITH docs AS (
          SELECT doc_id,
                 len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '')) AS doc_len,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> '') AS toks
          FROM documents WHERE text IS NOT NULL
        ), stats AS (
          SELECT CAST(sum(doc_len) AS DOUBLE) AS c_len FROM docs
        ), hits AS (
          SELECT doc_id, doc_len, term
          FROM (SELECT doc_id, doc_len, unnest(toks) AS term FROM docs)
          WHERE term IN ('merge', 'spark', 'window')
        ), tf AS (
          SELECT doc_id, doc_len, term,
                 CAST(count(*) AS BIGINT) AS tf
          FROM hits GROUP BY 1, 2, 3
        ), cf AS (
          SELECT term, CAST(count(*) AS DOUBLE) AS cf
          FROM hits GROUP BY 1
        ), qc AS (
          SELECT sum(ln(2000.0 * cf / c_len)) AS qc,
                 CAST(count(*) AS DOUBLE) AS nq
          FROM cf CROSS JOIN stats
        ), scored AS (
          SELECT tf.doc_id, tf.doc_len,
                 sum(ln(tf.tf + 2000.0 * cf.cf / s.c_len)
                     - ln(2000.0 * cf.cf / s.c_len)) AS g,
                 CAST(count(*) AS BIGINT) AS n_terms_matched
          FROM tf JOIN cf USING (term) CROSS JOIN stats s
          GROUP BY 1, 2
        )
        SELECT doc_id,
               round(g + qc.qc
                     - qc.nq * ln(CAST(doc_len AS DOUBLE) + 2000.0),
                     6) AS score,
               n_terms_matched
        FROM scored CROSS JOIN qc
        ORDER BY score DESC, doc_id ASC
        LIMIT 10
    """

    sql["embedding_standardize"] = """
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          FROM embeddings WHERE embedding IS NOT NULL
        ), flat AS (
          SELECT vec_id, i AS ord, emb[i] AS val
          FROM v CROSS JOIN generate_series(1, 64) AS t(i)
        ), stats AS (
          SELECT ord, avg(val) AS m, stddev_samp(val) AS s
          FROM flat GROUP BY 1
        )
        SELECT vec_id, CAST(ord - 1 AS INTEGER) AS dim,
               CASE WHEN s IS NOT NULL AND s > 0
                    THEN round((val - m) / s, 6)
                    ELSE 0.0 END AS z
        FROM flat JOIN stats USING (ord)
    """

    sql["target_encode"] = """
        WITH base AS (
          SELECT c_mktsegment AS seg, CAST(o_totalprice AS DOUBLE) AS y
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE o_totalprice IS NOT NULL
        ), per AS (
          SELECT seg, sum(y) AS sy, CAST(count(*) AS BIGINT) AS n
          FROM base GROUP BY 1
        ), g AS (
          SELECT avg(y) AS prior FROM base
        )
        SELECT seg AS c_mktsegment, n AS n_rows,
               round((sy + 10.0 * prior) / (n + 10.0), 6) AS te
        FROM per CROSS JOIN g ORDER BY 1
    """

    sql["feature_hashing"] = """
        WITH toks AS (
          SELECT doc_id,
                 unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                    t -> t <> '')) AS tok
          FROM documents WHERE text IS NOT NULL
        ), h AS (
          SELECT doc_id,
                 CAST(CAST(('0x' || substr(md5('fh:' || tok), 1, 15))
                           AS BIGINT) % 32 AS INTEGER) AS bucket,
                 CASE WHEN CAST(('0x' || substr(md5('fs:' || tok), 1, 15))
                           AS BIGINT) % 2 = 0
                      THEN 1 ELSE -1 END AS sign
          FROM toks
        )
        SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS weight
        FROM h GROUP BY 1, 2
        HAVING sum(sign) <> 0
    """

    sql["neighbor_features"] = """
        WITH raw AS (
          SELECT l_suppkey AS s, l_partkey + 1000000 AS d FROM lineitem
        ), e AS (
          SELECT DISTINCT s, d FROM (
            SELECT s, d FROM raw UNION ALL SELECT d AS s, s AS d FROM raw
          ) WHERE s <> d
        ), feats AS (
          SELECT s_suppkey AS node, floor(s_acctbal * 100 + 0.5) AS f
          FROM supplier
          UNION ALL
          SELECT p_partkey + 1000000 AS node,
                 floor(p_retailprice * 100 + 0.5) AS f
          FROM part
        )
        SELECT e.s AS node,
               CAST(count(*) AS BIGINT) AS n_neighbors,
               round(avg(f) / 100, 6) AS mean_f,
               round(min(f) / 100, 6) AS min_f,
               round(max(f) / 100, 6) AS max_f
        FROM e LEFT JOIN feats ON feats.node = e.d
        GROUP BY 1
    """

    sql["rake_keyphrases"] = """
        WITH docs AS (
          SELECT doc_id,
                 string_split_regex(lower(text), '[^a-z0-9\\s]+') AS segs
          FROM documents WHERE text IS NOT NULL
        ), segidx AS (
          SELECT doc_id, segs,
                 unnest(generate_series(1, len(segs))) AS seg
          FROM docs
        ), segrows AS (
          SELECT doc_id, seg,
                 list_filter(string_split_regex(segs[seg], '\\s+'),
                             t -> t <> '') AS ws
          FROM segidx
        ), wordidx AS (
          SELECT doc_id, seg, ws,
                 unnest(generate_series(1, len(ws))) AS pos
          FROM segrows
        ), wordrows AS (
          SELECT doc_id, seg, pos, ws[pos] AS w,
                 CASE WHEN ws[pos] IN ('the','a','an','and','or','of','to',
                   'in','on','for','with','is','are','was','were','be',
                   'by','at','as','it','this','that','from','but','not')
                 THEN 1 ELSE 0 END AS is_stop
          FROM wordidx
        ), runs AS (
          SELECT doc_id, seg, pos, w, is_stop,
                 sum(is_stop) OVER (PARTITION BY doc_id, seg
                                    ORDER BY pos
                                    ROWS UNBOUNDED PRECEDING) AS grp
          FROM wordrows
        ), pw AS (
          SELECT doc_id, seg, grp, pos, w,
                 count(*) OVER (PARTITION BY doc_id, seg, grp) AS plen
          FROM runs WHERE is_stop = 0
        ), stats AS (
          SELECT w, CAST(count(*) AS BIGINT) AS freq,
                 CAST(sum(plen) AS BIGINT) AS deg
          FROM pw GROUP BY 1
        ), phrases AS (
          SELECT pw.doc_id, pw.seg, pw.grp,
                 string_agg(pw.w, ' ' ORDER BY pw.pos) AS phrase,
                 sum(CAST(stats.deg AS DOUBLE) / stats.freq) AS pscore
          FROM pw JOIN stats USING (w)
          GROUP BY 1, 2, 3
        )
        SELECT phrase, CAST(count(*) AS BIGINT) AS n_occurrences,
               round(max(pscore), 6) AS score
        FROM phrases GROUP BY 1
        ORDER BY score DESC, phrase ASC
        LIMIT 20
    """

    sql["markov_transitions"] = """
        WITH seq AS (
          SELECT event_type AS from_type,
                 lead(event_type) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) ASC, event_id ASC
                 ) AS to_type
          FROM events
        ), pairs AS (
          SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT from_type, to_type, n,
               round(CAST(n AS DOUBLE)
                     / sum(n) OVER (PARTITION BY from_type), 6) AS p
        FROM pairs
    """

    sql["kaplan_meier"] = """
        WITH spans AS (
          SELECT user_id,
                 min(epoch_ns(ts) // 86400000000000) AS f,
                 max(epoch_ns(ts) // 86400000000000) AS l
          FROM events GROUP BY 1
        ), edge AS (
          SELECT max(epoch_ns(ts) // 86400000000000) AS e FROM events
        ), subj AS (
          SELECT CAST(l - f AS DOUBLE) AS t,
                 CASE WHEN l < e - 3 THEN 1 ELSE 0 END AS ev
          FROM spans CROSS JOIN edge
        ), per AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                 CAST(count(*) - sum(ev) AS BIGINT) AS c
          FROM subj GROUP BY 1
        ), staged AS (
          SELECT t, d, c,
                 CAST(sum(d + c) OVER () -
                      coalesce(sum(d + c) OVER (
                        ORDER BY t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n
          FROM per
        )
        SELECT t AS duration, n AS n_at_risk, d AS n_events,
               c AS n_censored,
               round(CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END)
                            OVER (ORDER BY t ASC
                                  ROWS UNBOUNDED PRECEDING) = 1
                     THEN 0.0
                     ELSE exp(sum(CASE WHEN d > 0 AND d < n
                               THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                               ELSE 0.0 END)
                              OVER (ORDER BY t ASC
                                    ROWS UNBOUNDED PRECEDING))
                     END, 6) AS survival
        FROM staged
    """

    sql["fk_integrity"] = """
        SELECT 'lineitem->orders' AS relation,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_child,
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                WHERE l_orderkey NOT IN
                      (SELECT o_orderkey FROM orders)) AS n_orphans
        UNION ALL
        SELECT 'lineitem->part',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
        UNION ALL
        SELECT 'lineitem->supplier',
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem),
               (SELECT CAST(count(*) AS BIGINT) FROM lineitem
                WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier))
        UNION ALL
        SELECT 'orders->customer',
               (SELECT CAST(count(*) AS BIGINT) FROM orders),
               (SELECT CAST(count(*) AS BIGINT) FROM orders
                WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
    """

    sql["period_growth"] = """
        WITH monthly AS (
          SELECT c_mktsegment AS segment,
                 CAST(year(o_orderdate) * 100 + month(o_orderdate)
                      AS BIGINT) AS yearmonth,
                 floor(sum(o_totalprice) * 100 + 0.5) / 100 AS revenue
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY 1, 2
        )
        SELECT segment, yearmonth, revenue,
               round(lag(revenue) OVER (PARTITION BY segment
                                        ORDER BY yearmonth ASC),
                     2) AS prev_revenue,
               round(CASE WHEN lag(revenue) OVER (PARTITION BY segment
                                                  ORDER BY yearmonth ASC)
                          > 0
                     THEN (revenue - lag(revenue) OVER (
                            PARTITION BY segment ORDER BY yearmonth ASC))
                          / lag(revenue) OVER (PARTITION BY segment
                                               ORDER BY yearmonth ASC)
                     END, 6) AS growth
        FROM monthly
    """

    sql["ctfidf_terms"] = """
        WITH tf AS (
          SELECT cls, term, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT source AS cls,
                   unnest(list_filter(
                     string_split_regex(lower(text), '\\s+'),
                     t -> t <> '')) AS term
            FROM documents WHERE text IS NOT NULL
          ) GROUP BY 1, 2
        ), totals AS (
          SELECT term, CAST(sum(tf) AS BIGINT) AS ft FROM tf GROUP BY 1
        ), a AS (
          SELECT avg(ctoks) AS A FROM (
            SELECT cls, sum(tf) AS ctoks FROM tf GROUP BY 1
          )
        ), scored AS (
          SELECT cls, tf.term, tf.tf,
                 CAST(tf.tf AS DOUBLE) * ln(1.0 + a.A / totals.ft)
                   AS score
          FROM tf JOIN totals USING (term) CROSS JOIN a
        )
        SELECT cls AS source, term, tf, round(score, 6) AS score,
               CAST(row_number() OVER (PARTITION BY cls
                    ORDER BY score DESC, term ASC) AS INTEGER) AS rank
        FROM scored QUALIFY rank <= 5
    """

    sql["bipartite_projection"] = """
        WITH e AS (
          SELECT DISTINCT l_suppkey AS l, l_partkey AS r FROM lineitem
        ), ldeg AS (
          SELECT l, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1
        ), rk AS (
          SELECT r FROM e GROUP BY r HAVING count(*) <= 1000
        ), pairs AS (
          SELECT a.l AS na, b.l AS nb, CAST(count(*) AS BIGINT) AS weight
          FROM e a JOIN e b ON a.r = b.r AND a.l < b.l
          WHERE a.r IN (SELECT r FROM rk)
          GROUP BY 1, 2 HAVING count(*) >= 2
        )
        SELECT na AS node_a, nb AS node_b, weight,
               round(CAST(weight AS DOUBLE)
                     / (da.deg + db.deg - weight), 6) AS jaccard
        FROM pairs
        JOIN ldeg da ON da.l = na
        JOIN ldeg db ON db.l = nb
    """

    sql["psi_categorical"] = """
        WITH r AS (
          SELECT o_orderpriority AS cat FROM orders
          WHERE o_orderdate < TIMESTAMP '1997-01-01'
        ), c AS (
          SELECT o_orderpriority AS cat FROM orders
          WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        ), rc AS (
          SELECT cat, CAST(count(*) AS BIGINT) AS cr FROM r GROUP BY 1
        ), cc AS (
          SELECT cat, CAST(count(*) AS BIGINT) AS cu FROM c GROUP BY 1
        ), tr AS (SELECT CAST(sum(cr) AS DOUBLE) AS t FROM rc),
           tc AS (SELECT CAST(sum(cu) AS DOUBLE) AS t FROM cc),
        j AS (
          SELECT coalesce(rc.cr, 0) AS cr, coalesce(cc.cu, 0) AS cu
          FROM rc FULL JOIN cc ON rc.cat IS NOT DISTINCT FROM cc.cat
        )
        SELECT 'o_orderpriority' AS "column",
               CAST(count(*) AS BIGINT) AS n_categories,
               round(sum(
                 (greatest(cu / tc.t, 1e-06) - greatest(cr / tr.t, 1e-06))
                 * ln(greatest(cu / tc.t, 1e-06)
                      / greatest(cr / tr.t, 1e-06))
               ), 6) AS psi
        FROM j CROSS JOIN tr CROSS JOIN tc
    """

    sql["time_to_convert"] = """
        WITH f AS (
          SELECT user_id, min(epoch_ns(ts)) AS tf FROM events
          WHERE event_type = 'view' GROUP BY 1
        ), t AS (
          SELECT e.user_id, min(epoch_ns(e.ts)) AS tt
          FROM events e JOIN f ON f.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > f.tf
          GROUP BY 1
        )
        SELECT f.user_id, f.tf AS t_from, t.tt AS t_to,
               (t.tt - f.tf) // 1000000000 AS delta_seconds
        FROM f JOIN t USING (user_id)
    """

    sql["behavior_entropy"] = """
        WITH pairs AS (
          SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
          FROM events GROUP BY 1, 2
        )
        SELECT user_id,
               CAST(sum(c) AS BIGINT) AS n_events,
               CAST(count(*) AS BIGINT) AS n_types,
               round(ln(CAST(sum(c) AS DOUBLE))
                     - sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE)))
                       / sum(c), 6) AS entropy
        FROM pairs GROUP BY 1
    """

    sql["holt_linear"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 AS t,
                 CAST(count(*) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2
        ), g AS (
          SELECT grp,
                 list(v ORDER BY t) AS xs,
                 list(t ORDER BY t) AS tss
          FROM rollup GROUP BY 1
        ), st AS (
          SELECT grp, tss, xs,
                 CASE WHEN len(xs) > 1 THEN xs[2] - xs[1]
                      ELSE 0.0 END AS b1,
                 list_transform(generate_series(1, len(xs)), i ->
                   CASE WHEN i = 1 THEN
                     [xs[1], CASE WHEN len(xs) > 1 THEN xs[2] - xs[1]
                             ELSE 0.0 END]
                   ELSE
                     list_reduce(
                       [[xs[1], CASE WHEN len(xs) > 1
                                THEN xs[2] - xs[1] ELSE 0.0 END]]
                       || list_transform(xs[2:i], x -> [x, 0.0]),
                       (acc, e) ->
                         [0.3 * e[1] + (1.0 - 0.3) * (acc[1] + acc[2]),
                          0.1 * ((0.3 * e[1]
                                  + (1.0 - 0.3) * (acc[1] + acc[2]))
                                 - acc[1])
                          + (1.0 - 0.1) * acc[2]])
                   END) AS lb
          FROM g
        )
        SELECT grp AS event_type,
               CAST(unnest(tss) AS BIGINT) AS hour_idx,
               round(unnest(xs), 6) AS n_events,
               round(unnest(list_transform(lb, s -> s[1])), 6) AS level,
               round(unnest(list_transform(lb, s -> s[2])), 6) AS trend,
               round(unnest(list_transform(lb, s -> s[1] + 3 * s[2])), 6)
                 AS forecast
        FROM st
    """

    sql["gini_concentration"] = """
        WITH per AS (
          SELECT o_custkey AS k,
                 floor(sum(o_totalprice) * 100 + 0.5) / 100 AS x
          FROM orders GROUP BY 1
        ), ranked AS (
          SELECT x, row_number() OVER (ORDER BY x ASC, k ASC) AS r
          FROM per
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               floor(sum(x) * 100 + 0.5) / 100 AS total,
               CASE WHEN min(x) >= 0 THEN
                 round(CASE WHEN count(*) > 0 AND sum(x) > 0
                       THEN 2.0 * sum(r * x) / (count(*) * sum(x))
                            - (count(*) + 1.0) / count(*) END, 6)
               END AS gini
        FROM ranked
    """

    sql["roc_auc"] = """
        WITH base AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS s,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders WHERE o_totalprice IS NOT NULL
        ), per AS (
          SELECT s, CAST(sum(y) AS BIGINT) AS np,
                 CAST(count(*) - sum(y) AS BIGINT) AS nn
          FROM base GROUP BY 1
        ), pre AS (
          SELECT np, nn,
                 coalesce(sum(nn) OVER (ORDER BY s ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS below
          FROM per
        )
        SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               round(CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
                 sum(CAST(np AS DOUBLE) * below
                     + CAST(np AS DOUBLE) * nn / 2.0)
                 / (CAST(sum(np) AS DOUBLE) * sum(nn)) END, 6) AS auc
        FROM pre
    """

    sql["decile_lift"] = """
        WITH base AS (
          SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS s,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders WHERE o_totalprice IS NOT NULL
        ), nn AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) // 10 AS BIGINT) AS base,
                 CAST(count(*) % 10 AS BIGINT) AS rem,
                 CAST(sum(y) AS BIGINT) AS post
          FROM base
        ), ranked AS (
          SELECT y,
                 row_number() OVER (ORDER BY s DESC, k ASC) AS rn,
                 nn.base, nn.rem, nn.n AS tot, nn.post
          FROM base CROSS JOIN nn
        ), tiled AS (
          SELECT y, post, tot,
                 CAST(CASE WHEN rn <= rem * (base + 1)
                   THEN CAST(floor((rn + base) / (base + 1.0)) AS BIGINT)
                   ELSE rem + CAST(floor((rn - rem * (base + 1) + base
                                          - 1) / (base * 1.0)) AS BIGINT)
                 END AS INTEGER) AS decile
          FROM ranked
        ), per AS (
          SELECT decile, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(y) AS BIGINT) AS n_pos,
                 max(post) AS post, max(tot) AS nt
          FROM tiled GROUP BY 1
        )
        SELECT decile, n, n_pos,
               round(CAST(n_pos AS DOUBLE) / n, 6) AS pos_rate,
               round(CASE WHEN post > 0
                     THEN CAST(n_pos AS DOUBLE) / post END, 6)
                 AS capture,
               round(CASE WHEN post > 0 THEN
                 CAST(sum(n_pos) OVER (ORDER BY decile ASC
                   ROWS UNBOUNDED PRECEDING) AS DOUBLE) / post END, 6)
                 AS cum_capture,
               round(CASE WHEN post > 0 THEN
                 (CAST(n_pos AS DOUBLE) / n)
                 / (CAST(post AS DOUBLE) / nt) END, 6) AS lift
        FROM per
    """

    sql["profile_diff"] = """
        WITH bsrc AS (
          SELECT * FROM orders WHERE o_orderdate < DATE '1997-01-01'
        ), asrc AS (
          SELECT * FROM orders WHERE o_orderdate >= DATE '1997-01-01'
        ), bp AS (
          SELECT col, n_before, nulls_before, distinct_before,
                 mean_before, var_before
          FROM (
            SELECT 'o_totalprice' AS col,
                   CAST(count(*) AS BIGINT) AS n_before,
                   CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1
                            ELSE 0 END) AS BIGINT) AS nulls_before,
                   CAST(count(DISTINCT o_totalprice) AS BIGINT)
                     AS distinct_before,
                   avg(CAST(o_totalprice AS DOUBLE)) AS mean_before,
                   var_samp(CAST(o_totalprice AS DOUBLE)) AS var_before
            FROM bsrc
            UNION ALL
            SELECT 'o_orderstatus',
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                   NULL, NULL
            FROM bsrc
            UNION ALL
            SELECT 'o_custkey',
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_custkey) AS BIGINT),
                   avg(CAST(o_custkey AS DOUBLE)),
                   var_samp(CAST(o_custkey AS DOUBLE))
            FROM bsrc
          )
        ), ap AS (
          SELECT col, n_after, nulls_after, distinct_after,
                 mean_after, var_after
          FROM (
            SELECT 'o_totalprice' AS col,
                   CAST(count(*) AS BIGINT) AS n_after,
                   CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1
                            ELSE 0 END) AS BIGINT) AS nulls_after,
                   CAST(count(DISTINCT o_totalprice) AS BIGINT)
                     AS distinct_after,
                   avg(CAST(o_totalprice AS DOUBLE)) AS mean_after,
                   var_samp(CAST(o_totalprice AS DOUBLE)) AS var_after
            FROM asrc
            UNION ALL
            SELECT 'o_orderstatus',
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_orderstatus) AS BIGINT),
                   NULL, NULL
            FROM asrc
            UNION ALL
            SELECT 'o_custkey',
                   CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN o_custkey IS NULL THEN 1
                            ELSE 0 END) AS BIGINT),
                   CAST(count(DISTINCT o_custkey) AS BIGINT),
                   avg(CAST(o_custkey AS DOUBLE)),
                   var_samp(CAST(o_custkey AS DOUBLE))
            FROM asrc
          )
        ), j AS (
          SELECT bp.col AS column_, n_before, n_after,
                 CASE WHEN n_before > 0
                   THEN CAST(nulls_before AS DOUBLE) / n_before END
                   AS nrb,
                 CASE WHEN n_after > 0
                   THEN CAST(nulls_after AS DOUBLE) / n_after END
                   AS nra,
                 distinct_before, distinct_after,
                 mean_before, mean_after,
                 var_before / n_before + var_after / n_after AS se2
          FROM bp JOIN ap ON ap.col = bp.col
        ), z AS (
          SELECT *,
                 CASE WHEN mean_before IS NOT NULL
                       AND mean_after IS NOT NULL AND se2 > 0
                 THEN (mean_after - mean_before) / sqrt(se2) END AS mz
          FROM j
        )
        SELECT column_ AS "column", n_before, n_after,
               round(nrb, 6) AS null_ratio_before,
               round(nra, 6) AS null_ratio_after,
               distinct_before, distinct_after,
               round(mean_before, 6) AS mean_before,
               round(mean_after, 6) AS mean_after,
               round(mz, 6) AS mean_z,
               concat_ws(',',
                 CASE WHEN abs(coalesce(nra, 0.0) - coalesce(nrb, 0.0))
                           > 0.05 THEN 'completeness' END,
                 CASE WHEN (CASE WHEN distinct_before > 0
                            THEN abs(CAST(distinct_after AS DOUBLE)
                                     - distinct_before)
                                 / distinct_before > 0.5
                            ELSE distinct_after > 0 END)
                      THEN 'cardinality' END,
                 CASE WHEN coalesce(abs(mz) > 3.0, FALSE)
                      THEN 'mean_shift' END) AS flags
        FROM z
    """

    sql["cohen_kappa"] = """
        WITH rated AS (
          SELECT CASE WHEN n_chars > 300 THEN 'long' ELSE 'short' END
                   AS a,
                 CASE WHEN len(list_filter(string_split(text, ' '),
                                           t -> t <> '')) > 50
                      THEN 'long' ELSE 'short' END AS b
          FROM documents
        ), joint AS (
          SELECT a, b, CAST(count(*) AS BIGINT) AS c
          FROM rated WHERE a IS NOT NULL AND b IS NOT NULL
          GROUP BY 1, 2
        ), tot AS (
          SELECT CAST(sum(c) AS DOUBLE) AS n FROM joint
        ), po AS (
          SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS ag
          FROM joint WHERE a = b
        ), pe AS (
          SELECT coalesce(sum(ma.ca * mb.cb / (tot.n * tot.n)), 0.0)
                   AS pe
          FROM (SELECT a, CAST(sum(c) AS DOUBLE) AS ca
                FROM joint GROUP BY 1) ma
          JOIN (SELECT b, CAST(sum(c) AS DOUBLE) AS cb
                FROM joint GROUP BY 1) mb ON ma.a = mb.b
          CROSS JOIN tot
        )
        SELECT CAST(n AS BIGINT) AS n,
               round(CASE WHEN n > 0 THEN ag / n END, 6)
                 AS observed_agreement,
               round(pe, 6) AS expected_agreement,
               round(CASE WHEN pe < 1.0 AND n > 0
                     THEN (ag / n - pe) / (1.0 - pe) END, 6) AS kappa
        FROM tot CROSS JOIN po CROSS JOIN pe
    """

    sql["rollup_cube"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(CASE WHEN GROUPING(l_returnflag) THEN 1 ELSE 0 END
                    AS INT) AS g_flag,
               CAST(CASE WHEN GROUPING(l_linestatus) THEN 1 ELSE 0 END
                    AS INT) AS g_status,
               round(sum(l_extendedprice * (1 - l_discount)), 2)
                 AS revenue,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """

    sql["kneser_ney"] = """
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), t -> t <> '') AS t
          FROM documents
        ), ref AS (
          SELECT t.t FROM toks t
          JOIN documents d USING (doc_id) WHERE d.lang = 'en'
        ), tri AS (
          SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3,
                 CAST(count(*) AS BIGINT) AS c3
          FROM (SELECT t, unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM ref)
          WHERE i + 2 <= len(t)
          GROUP BY 1, 2, 3
        ), ctx AS (
          SELECT w1, w2, sum(c3) AS c_ctx, count(*) AS t12
          FROM tri GROUP BY 1, 2
        ), cont23 AS (
          SELECT w2, w3, count(DISTINCT w1) AS n1p
          FROM tri GROUP BY 1, 2
        ), mid AS (
          SELECT w2, count(*) AS mid2, count(DISTINCT w3) AS t2
          FROM tri GROUP BY 1
        ), cont3 AS (
          SELECT w3, count(*) AS n1p3 FROM cont23 GROUP BY 1
        ), tot AS (
          SELECT (SELECT CAST(count(*) AS DOUBLE) FROM cont23) AS b,
                 (SELECT CAST(count(DISTINCT w) AS DOUBLE)
                  FROM (SELECT unnest(t) AS w FROM ref)) AS v
        ), ev AS (
          SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3
          FROM (SELECT doc_id, t,
                       unnest(range(1, greatest(len(t) - 1, 1))) AS i
                FROM toks)
          WHERE i + 2 <= len(t)
        ), scored AS (
          SELECT ev.doc_id,
                 -ln(
                   CASE WHEN ctx.c_ctx IS NOT NULL THEN
                     greatest(coalesce(tri.c3, 0) - 0.75, 0.0)
                       / ctx.c_ctx
                     + 0.75 * ctx.t12 / ctx.c_ctx *
                       (CASE WHEN mid.mid2 IS NOT NULL THEN
                          greatest(coalesce(cont23.n1p, 0) - 0.75, 0.0)
                            / mid.mid2
                          + 0.75 * mid.t2 / mid.mid2 *
                            ((coalesce(cont3.n1p3, 0) + 0.1)
                             / (tot.b + 0.1 * (tot.v + 1.0)))
                        ELSE (coalesce(cont3.n1p3, 0) + 0.1)
                             / (tot.b + 0.1 * (tot.v + 1.0)) END)
                   ELSE
                     CASE WHEN mid.mid2 IS NOT NULL THEN
                       greatest(coalesce(cont23.n1p, 0) - 0.75, 0.0)
                         / mid.mid2
                       + 0.75 * mid.t2 / mid.mid2 *
                         ((coalesce(cont3.n1p3, 0) + 0.1)
                          / (tot.b + 0.1 * (tot.v + 1.0)))
                     ELSE (coalesce(cont3.n1p3, 0) + 0.1)
                          / (tot.b + 0.1 * (tot.v + 1.0)) END
                   END
                 ) AS nll
          FROM ev
          LEFT JOIN tri ON tri.w1 = ev.w1 AND tri.w2 = ev.w2
                        AND tri.w3 = ev.w3
          LEFT JOIN ctx ON ctx.w1 = ev.w1 AND ctx.w2 = ev.w2
          LEFT JOIN cont23 ON cont23.w2 = ev.w2 AND cont23.w3 = ev.w3
          LEFT JOIN mid ON mid.w2 = ev.w2
          LEFT JOIN cont3 ON cont3.w3 = ev.w3
          CROSS JOIN tot
        ), per AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
                 avg(nll) AS h
          FROM scored GROUP BY 1
        )
        SELECT d.doc_id,
               coalesce(per.n_trigrams, 0) AS n_trigrams,
               round(per.h, 6) AS cross_entropy,
               round(exp(per.h), 6) AS perplexity
        FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
    """

    sql["ks_drift"] = """
        WITH a AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
          WHERE l_shipdate < DATE '1998-01-01'
                AND l_extendedprice IS NOT NULL
        ), b AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS v FROM lineitem
          WHERE l_shipdate >= DATE '1998-01-01'
                AND l_extendedprice IS NOT NULL
        ), perv AS (
          SELECT v, sum(ia)::BIGINT AS ca, sum(ib)::BIGINT AS cb FROM (
            SELECT v, 1 AS ia, 0 AS ib FROM a
            UNION ALL
            SELECT v, 0 AS ia, 1 AS ib FROM b
          ) GROUP BY v
        ), tot AS (
          SELECT (SELECT count(*) FROM a) AS na,
                 (SELECT count(*) FROM b) AS nb
        ), cum AS (
          SELECT sum(ca) OVER (ORDER BY v) AS fa,
                 sum(cb) OVER (ORDER BY v) AS fb
          FROM perv
        ), dd AS (
          SELECT max(abs(CAST(fa AS DOUBLE) / na
                         - CAST(fb AS DOUBLE) / nb)) AS d
          FROM cum CROSS JOIN tot
        ), lamt AS (
          SELECT d,
                 (sqrt(na * nb / CAST(na + nb AS DOUBLE)) + 0.12
                  + 0.11 / sqrt(na * nb / CAST(na + nb AS DOUBLE))) * d
                 AS lam,
                 na, nb
          FROM dd CROSS JOIN tot
        )
        SELECT round(d, 6) AS ks_stat,
               round(CASE WHEN lam < 1e-8 THEN 1.0
                     ELSE least(greatest(2.0 * list_sum(
                       list_transform(range(1, 101),
                         k -> CAST((-1.0) ** (k - 1)
                              * exp(-2.0 * k * k * lam * lam)
                              AS DOUBLE))), 0.0), 1.0)
                     END, 6) AS p_value,
               CAST(na AS BIGINT) AS n_a,
               CAST(nb AS BIGINT) AS n_b
        FROM lamt
    """
    sql["spearman_correlation"] = """
        WITH base AS (
          SELECT CAST(l_quantity AS DOUBLE) AS x,
                 CAST(l_extendedprice AS DOUBLE) AS y
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ), rk AS (
          SELECT rank() OVER (ORDER BY x)
                   + (count(*) OVER (PARTITION BY x) - 1) / 2.0 AS rx,
                 rank() OVER (ORDER BY y)
                   + (count(*) OVER (PARTITION BY y) - 1) / 2.0 AS ry
          FROM base
        ), f AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(rx) AS sx, sum(ry) AS sy,
                 sum(rx*rx) AS sxx, sum(ry*ry) AS syy,
                 sum(rx*ry) AS sxy
          FROM rk
        )
        SELECT n,
               round(CASE WHEN n > 1
                       AND (sxx - sx*sx/n) > 0 AND (syy - sy*sy/n) > 0
                 THEN (sxy - sx*sy/n)
                      / sqrt((sxx - sx*sx/n) * (syy - sy*sy/n)) END,
                 6) AS rho
        FROM f
    """

    sql["cramers_v_assoc"] = """
        WITH base AS (
          SELECT l_returnflag AS a, l_linestatus AS b FROM lineitem
          WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
        ), cells AS (
          SELECT a, b, count(*) AS o FROM base GROUP BY 1, 2
        ), rt AS (SELECT a, sum(o) AS ra FROM cells GROUP BY 1),
        ct AS (SELECT b, sum(o) AS cb FROM cells GROUP BY 1),
        tot AS (
          SELECT sum(o) AS n, count(DISTINCT a) AS la,
                 count(DISTINCT b) AS lb
          FROM cells
        ), f AS (
          SELECT max(n) AS n, max(la) AS la, max(lb) AS lb,
                 sum(CAST(o AS DOUBLE) * o
                     / (CAST(ra AS DOUBLE) * cb / n))
                   - max(CAST(n AS DOUBLE)) AS chi2
          FROM cells JOIN rt USING(a) JOIN ct USING(b) CROSS JOIN tot
        )
        SELECT CAST(n AS BIGINT) AS n,
               CAST(la AS INTEGER) AS levels_a,
               CAST(lb AS INTEGER) AS levels_b,
               round(chi2, 6) AS chi2,
               round(CASE WHEN n > 0 AND least(la, lb) > 1
                 THEN sqrt(chi2 / (CAST(n AS DOUBLE)
                                   * (least(la, lb) - 1))) END, 6) AS v
        FROM f
    """

    sql["anova_quantity"] = """
        WITH base AS (
          SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS x
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        ), per AS (
          SELECT g, count(*) AS n, sum(x) AS s, sum(x*x) AS ss
          FROM base GROUP BY 1
        ), f AS (
          SELECT count(*) AS k, sum(n) AS n, sum(s) AS ts,
                 sum(ss) AS tss, sum(s*s / n) AS sgs
          FROM per
        )
        SELECT CAST(k AS INTEGER) AS k, CAST(n AS BIGINT) AS n,
               round(sgs - ts*ts/n, 6) AS ss_between,
               round(tss - sgs, 6) AS ss_within,
               round(CASE WHEN k > 1 AND n > k AND (tss - sgs) > 0
                 THEN ((sgs - ts*ts/n) / (k - 1.0))
                      / ((tss - sgs) / (n - CAST(k AS DOUBLE))) END,
                 6) AS f_stat,
               round(CASE WHEN (sgs - ts*ts/n) + (tss - sgs) > 0
                 THEN (sgs - ts*ts/n)
                      / ((sgs - ts*ts/n) + (tss - sgs)) END, 6) AS eta_sq
        FROM f
    """

    sql["brown_forsythe_var"] = """
        WITH base AS (
          SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS x
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        ), med AS (
          SELECT g, quantile_cont(x, 0.5) AS m FROM base GROUP BY 1
        ), dev AS (
          SELECT base.g AS g, abs(x - m) AS d
          FROM base JOIN med USING(g)
        ), per AS (
          SELECT g, count(*) AS n, sum(d) AS s, sum(d*d) AS ss
          FROM dev GROUP BY 1
        ), f AS (
          SELECT count(*) AS k, sum(n) AS n, sum(s) AS ts,
                 sum(ss) AS tss, sum(s*s / n) AS sgs
          FROM per
        )
        SELECT CAST(k AS INTEGER) AS k, CAST(n AS BIGINT) AS n,
               round(CASE WHEN k > 1 AND n > k AND (tss - sgs) > 0
                 THEN ((sgs - ts*ts/n) / (k - 1.0))
                      / ((tss - sgs) / (n - CAST(k AS DOUBLE))) END,
                 6) AS f_stat
        FROM f
    """

    sql["proportion_ztest_arms"] = """
        WITH base AS (
          SELECT o_orderpriority AS arm,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders
          WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        ), f AS (
          SELECT CAST(sum(CASE WHEN arm = '1-URGENT' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN arm = '5-LOW' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN arm = '1-URGENT' THEN y ELSE 0 END)
                   AS BIGINT) AS conv_a,
                 CAST(sum(CASE WHEN arm = '5-LOW' THEN y ELSE 0 END)
                   AS BIGINT) AS conv_b
          FROM base
        ), g AS (
          SELECT *,
                 CASE WHEN n_a > 0 AND n_b > 0 THEN
                   (CAST(conv_a AS DOUBLE) / n_a
                    - CAST(conv_b AS DOUBLE) / n_b)
                   / sqrt((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
                          * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                                   / (n_a + n_b))
                          * (1.0 / n_a + 1.0 / n_b))
                 END AS zv
          FROM f
        )
        SELECT n_a, n_b, conv_a, conv_b,
               round(CASE WHEN n_a > 0
                 THEN CAST(conv_a AS DOUBLE) / n_a END, 6) AS rate_a,
               round(CASE WHEN n_b > 0
                 THEN CAST(conv_b AS DOUBLE) / n_b END, 6) AS rate_b,
               round(zv, 6) AS z,
               CASE WHEN zv IS NOT NULL
                 THEN CAST(abs(zv) > 1.96 AS INTEGER) END AS significant
        FROM g
    """

    sql["classification_report"] = """
        WITH base AS (
          SELECT CASE WHEN CAST(o_totalprice AS DOUBLE) >= 150000.0
                   THEN 1 ELSE 0 END AS p,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders
          WHERE o_totalprice IS NOT NULL AND o_orderstatus IS NOT NULL
        ), f AS (
          SELECT CAST(sum(p*y) AS BIGINT) AS tp,
                 CAST(sum(p*(1-y)) AS BIGINT) AS fp,
                 CAST(sum((1-p)*y) AS BIGINT) AS fn,
                 CAST(sum((1-p)*(1-y)) AS BIGINT) AS tn
          FROM base
        ), g AS (
          SELECT *,
                 CASE WHEN tp + fp > 0
                   THEN CAST(tp AS DOUBLE) / (tp + fp) END AS pr,
                 CASE WHEN tp + fn > 0
                   THEN CAST(tp AS DOUBLE) / (tp + fn) END AS rc
          FROM f
        )
        SELECT tp, fp, fn, tn,
               round(CASE WHEN tp + fp + fn + tn > 0
                 THEN CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
                 END, 6) AS accuracy,
               round(pr, 6) AS "precision",
               round(rc, 6) AS recall,
               round(CASE WHEN pr IS NOT NULL AND rc IS NOT NULL
                          AND pr + rc > 0
                 THEN 2.0 * pr * rc / (pr + rc) END, 6) AS f1,
               round(CASE WHEN rc IS NOT NULL AND tn + fp > 0
                 THEN (rc + CAST(tn AS DOUBLE) / (tn + fp)) / 2.0
                 END, 6) AS balanced_accuracy,
               round(CASE WHEN
                 sqrt((CAST(tp AS DOUBLE) + fp)
                      * (CAST(tp AS DOUBLE) + fn)
                      * (CAST(tn AS DOUBLE) + fp)
                      * (CAST(tn AS DOUBLE) + fn)) > 0
                 THEN (CAST(tp AS DOUBLE) * tn
                       - CAST(fp AS DOUBLE) * fn)
                      / sqrt((CAST(tp AS DOUBLE) + fp)
                             * (CAST(tp AS DOUBLE) + fn)
                             * (CAST(tn AS DOUBLE) + fp)
                             * (CAST(tn AS DOUBLE) + fn)) END, 6)
                 AS mcc
        FROM g
    """

    sql["calibration_curve"] = """
        WITH base AS (
          SELECT CAST(o_orderkey % 1024 AS DOUBLE) / 1024.0 AS s,
                 CASE WHEN (o_orderkey % 1024)
                           + 120 * (o_orderkey % 5) > 760
                   THEN 1 ELSE 0 END AS y
          FROM orders
        ), per AS (
          SELECT CAST(greatest(least(floor(s * 10), 9), 0) AS INTEGER)
                   AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(s) AS ssum,
                 CAST(sum(y) AS BIGINT) AS pos,
                 sum((s - y) * (s - y)) AS sqerr
          FROM base GROUP BY 1
        ), tot AS (SELECT sum(n) AS nt, sum(sqerr) AS sqt FROM per)
        SELECT bin, n,
               round(ssum / n, 6) AS mean_score,
               round(CAST(pos AS DOUBLE) / n, 6) AS pos_rate,
               round(abs(ssum / n - CAST(pos AS DOUBLE) / n), 6)
                 AS abs_gap,
               round(sum(abs(ssum / n - CAST(pos AS DOUBLE) / n) * n)
                       OVER () / CAST(nt AS DOUBLE), 6) AS ece,
               round(sqt / CAST(nt AS DOUBLE), 6) AS brier
        FROM per CROSS JOIN tot
    """

    sql["retrieval_metrics"] = """
        WITH run AS (
          SELECT doc_id % 20 AS q, doc_id AS doc,
                 CAST((doc_id * 37) % 101 AS DOUBLE) AS s
          FROM documents
        ), qr AS (
          SELECT doc_id % 20 AS q, doc_id AS doc,
                 CAST(1 + doc_id % 3 AS DOUBLE) AS rel
          FROM documents WHERE doc_id % 6 = 0
        ), j AS (
          SELECT run.q, run.doc, run.s, coalesce(qr.rel, 0.0) AS rel
          FROM run LEFT JOIN qr ON run.q = qr.q AND run.doc = qr.doc
        ), topk AS (
          SELECT *, row_number() OVER (
                      PARTITION BY q ORDER BY s DESC, doc ASC) AS rnk
          FROM j QUALIFY rnk <= 5
        ), per AS (
          SELECT q, CAST(count(*) AS BIGINT) AS n_retrieved,
                 CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS hits,
                 sum(rel / log2(rnk + 1.0)) AS dcg,
                 min(CASE WHEN rel > 0 THEN rnk END) AS first_rel
          FROM topk GROUP BY 1
        ), ideal AS (
          SELECT q, rel, row_number() OVER (
                   PARTITION BY q ORDER BY rel DESC, doc ASC) AS rnk
          FROM qr WHERE rel > 0
        ), ia AS (
          SELECT q, CAST(count(*) AS BIGINT) AS n_rel,
                 sum(CASE WHEN rnk <= 5
                       THEN rel / log2(rnk + 1.0) END) AS idcg
          FROM ideal GROUP BY 1
        )
        SELECT CAST(per.q AS BIGINT) AS query_id,
               coalesce(ia.n_rel, CAST(0 AS BIGINT)) AS n_rel,
               n_retrieved,
               round(CAST(hits AS DOUBLE) / 5.0, 6) AS precision_k,
               round(CASE WHEN ia.n_rel > 0
                 THEN CAST(hits AS DOUBLE) / ia.n_rel END, 6)
                 AS recall_k,
               round(coalesce(1.0 / first_rel, 0.0), 6) AS mrr_k,
               round(CASE WHEN idcg > 0 THEN dcg / idcg END, 6)
                 AS ndcg_k
        FROM per LEFT JOIN ia ON per.q = ia.q
    """

    sql["clustering_coefficient"] = """
        WITH raw AS (
          SELECT c_custkey AS s, 2000000 + c_custkey % 97 AS t
          FROM customer
          UNION ALL
          SELECT c_custkey, 2200000 + c_custkey % 31 FROM customer
          UNION ALL
          SELECT 2000000 + c_custkey % 97, 2200000 + c_custkey % 31
          FROM customer
        ),
        und AS (
          SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
          FROM raw WHERE s <> t
        ),
        deg AS (
          SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
          ) GROUP BY n
        ),
        keyed AS (SELECT n, d * 4294967296 + n AS k FROM deg),
        wk AS (
          SELECT a, b, ka.k AS ka, kb.k AS kb
          FROM und
          JOIN keyed ka ON ka.n = a
          JOIN keyed kb ON kb.n = b
        ),
        ori AS (
          SELECT CASE WHEN ka < kb THEN a ELSE b END AS u,
                 CASE WHEN ka < kb THEN b ELSE a END AS v,
                 greatest(ka, kb) AS kv
          FROM wk
        ),
        wedges AS (
          SELECT e1.u AS u, e1.v AS x, e2.v AS y
          FROM ori e1 JOIN ori e2 ON e1.u = e2.u
          WHERE e1.kv < e2.kv
        ),
        closed AS (
          SELECT w.u, w.x, w.y
          FROM wedges w JOIN ori o ON o.u = w.x AND o.v = w.y
        ),
        corners AS (
          SELECT u AS node FROM closed
          UNION ALL SELECT x FROM closed
          UNION ALL SELECT y FROM closed
        ),
        tri AS (SELECT node, count(*) AS tc FROM corners GROUP BY node)
        SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
               CAST(coalesce(tri.tc, 0) AS BIGINT) AS triangles,
               round(CASE WHEN deg.d > 1
                 THEN 2.0 * coalesce(tri.tc, 0)
                      / (CAST(deg.d AS DOUBLE) * (deg.d - 1.0)) END,
                 6) AS coefficient
        FROM deg LEFT JOIN tri ON tri.node = deg.n
    """

    sql["degree_assortativity"] = """
        WITH fwd AS (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS s,
                          CAST(l_suppkey + 1000000 AS BIGINT) AS t
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        und AS (
          SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
          FROM fwd WHERE s <> t
        ),
        deg AS (
          SELECT n, CAST(count(*) AS DOUBLE) AS d FROM (
            SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
          ) GROUP BY n
        ),
        sym AS (
          SELECT a, b FROM und
          UNION ALL SELECT b, a FROM und
        ),
        pairs AS (
          SELECT dx.d AS dx, dy.d AS dy
          FROM sym
          JOIN deg dx ON dx.n = a
          JOIN deg dy ON dy.n = b
        ),
        f AS (
          SELECT CAST(count(*) AS BIGINT) AS m2, sum(dx) AS sx,
                 sum(dx*dx) AS sxx, sum(dx*dy) AS sxy
          FROM pairs
        )
        SELECT CAST(m2 // 2 AS BIGINT) AS n_edges,
               round(CASE WHEN m2 > 0 AND (sxx - sx*sx/m2) > 0
                 THEN (sxy - sx*sx/m2) / (sxx - sx*sx/m2) END, 6)
                 AS assortativity
        FROM f
    """

    sql["reciprocity"] = """
        WITH e AS (
          SELECT DISTINCT src, dst FROM (
            SELECT c_custkey AS src,
                   (c_custkey * 7) % 1500 + 1 AS dst
            FROM customer
            UNION ALL
            SELECT c_custkey, (c_custkey * 3) % 1500 + 1 FROM customer
          ) WHERE src <> dst
        ),
        r AS (
          SELECT count(*) AS nr FROM e
          WHERE EXISTS (SELECT 1 FROM e e2
                        WHERE e2.src = e.dst AND e2.dst = e.src)
        ),
        t AS (SELECT count(*) AS ne FROM e)
        SELECT CAST(ne AS BIGINT) AS n_edges,
               CAST(nr AS BIGINT) AS n_reciprocated,
               round(CASE WHEN ne > 0
                 THEN CAST(nr AS DOUBLE) / ne END, 6) AS reciprocity
        FROM t CROSS JOIN r
    """

    sql["zipf_fit"] = """
        WITH toks AS (
          SELECT unnest(string_split(
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
                   ' ')) AS term
          FROM documents WHERE text IS NOT NULL
        ),
        terms AS (
          SELECT term, count(*) AS freq FROM toks
          WHERE term <> '' GROUP BY 1
        ),
        top AS (
          SELECT term, freq FROM terms
          ORDER BY freq DESC, term ASC LIMIT 500
        ),
        ranked AS (
          SELECT ln(CAST(row_number() OVER (
                   ORDER BY freq DESC, term ASC) AS DOUBLE)) AS lx,
                 ln(CAST(freq AS DOUBLE)) AS ly
          FROM top
        ),
        f AS (
          SELECT CAST(count(*) AS BIGINT) AS n_terms,
                 sum(lx) AS sx, sum(ly) AS sy, sum(lx*lx) AS sxx,
                 sum(ly*ly) AS syy, sum(lx*ly) AS sxy
          FROM ranked
        ),
        g AS (
          SELECT *,
                 CASE WHEN n_terms > 1 AND (sxx - sx*sx/n_terms) > 0
                   THEN (sxy - sx*sy/n_terms) / (sxx - sx*sx/n_terms)
                 END AS slope
          FROM f
        )
        SELECT n_terms,
               round(exp((sy - slope * sx) / n_terms), 6) AS c0,
               round(-slope, 6) AS exponent,
               round(CASE WHEN slope IS NOT NULL
                          AND (syy - sy*sy/n_terms) > 0
                 THEN (sxy - sx*sy/n_terms) * (sxy - sx*sy/n_terms)
                      / ((sxx - sx*sx/n_terms) * (syy - sy*sy/n_terms))
                 END, 6) AS r2
        FROM g
    """

    sql["tukey_hsd_pairs"] = """
        WITH base AS (
          SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS x
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        ), per AS (
          SELECT g, count(*) AS n, sum(x) AS s, sum(x*x) AS ss
          FROM base GROUP BY 1
        ), msw AS (
          SELECT sum(ss - s*s / n) / CAST(sum(n) - count(*) AS DOUBLE)
            AS m
          FROM per
        )
        SELECT a.g AS group_a, b.g AS group_b,
               CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
               round(a.s / a.n - b.s / b.n, 6) AS mean_diff,
               round(sqrt(m / 2.0 * (1.0 / a.n + 1.0 / b.n)), 6) AS se,
               round(CASE WHEN m > 0 THEN abs(a.s / a.n - b.s / b.n)
                 / sqrt(m / 2.0 * (1.0 / a.n + 1.0 / b.n)) END, 6)
                 AS q_stat
        FROM per a CROSS JOIN per b CROSS JOIN msw
        WHERE a.g < b.g
    """

    sql["cohens_d_effect"] = """
        WITH base AS (
          SELECT l_linestatus AS g, CAST(l_quantity AS DOUBLE) AS x
          FROM lineitem
          WHERE l_linestatus IN ('O', 'F') AND l_quantity IS NOT NULL
        ), f AS (
          SELECT sum(CASE WHEN g = 'O' THEN 1.0 ELSE 0.0 END) AS na,
                 sum(CASE WHEN g = 'F' THEN 1.0 ELSE 0.0 END) AS nb,
                 sum(CASE WHEN g = 'O' THEN x ELSE 0.0 END) AS sa,
                 sum(CASE WHEN g = 'F' THEN x ELSE 0.0 END) AS sb,
                 sum(CASE WHEN g = 'O' THEN x*x ELSE 0.0 END) AS ssa,
                 sum(CASE WHEN g = 'F' THEN x*x ELSE 0.0 END) AS ssb
          FROM base
        ), g AS (
          SELECT *,
                 CASE WHEN na > 0 AND nb > 0 AND na + nb > 2 THEN
                   sqrt(((ssa - sa*sa/na) + (ssb - sb*sb/nb))
                        / (na + nb - 2.0)) END AS pooled
          FROM f
        )
        SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
               round(CASE WHEN na > 0 THEN sa / na END, 6) AS mean_a,
               round(CASE WHEN nb > 0 THEN sb / nb END, 6) AS mean_b,
               round(pooled, 6) AS pooled_sd,
               round(CASE WHEN na > 0 AND nb > 0 AND pooled > 0
                 THEN (sa / na - sb / nb) / pooled END, 6) AS d
        FROM g
    """

    sql["moments_profile"] = """
        WITH base AS (
          SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS x
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        ), per AS (
          SELECT g, count(*) AS n, sum(x) AS s1,
                 sum(x*x) AS s2, sum(x*x*x) AS s3,
                 sum(x*x*x*x) AS s4
          FROM base GROUP BY 1
        ), m AS (
          SELECT g, n, s1 / n AS mu,
                 s2 / n - (s1/n)*(s1/n) AS m2,
                 s3 / n - 3.0*(s1/n)*s2/n + 2.0*(s1/n)*(s1/n)*(s1/n)
                   AS m3,
                 s4 / n - 4.0*(s1/n)*s3/n
                   + 6.0*(s1/n)*(s1/n)*s2/n
                   - 3.0*(s1/n)*(s1/n)*(s1/n)*(s1/n) AS m4
          FROM per
        )
        SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
               round(mu, 6) AS mean,
               round(CASE WHEN n > 1 AND m2 > 0 THEN sqrt(m2) END, 6)
                 AS stddev,
               round(CASE WHEN n > 1 AND m2 > 0
                 THEN m3 / (sqrt(m2)*sqrt(m2)*sqrt(m2)) END, 6)
                 AS skewness,
               round(CASE WHEN n > 1 AND m2 > 0
                 THEN m4 / (m2*m2) - 3.0 END, 6) AS kurtosis
        FROM m
    """

    sql["pythagorean_means"] = """
        WITH base AS (
          SELECT l_returnflag AS g, CAST(l_quantity AS DOUBLE) AS x
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_quantity > 0
                AND l_returnflag IS NOT NULL
        ), per AS (
          SELECT g, count(*) AS n, sum(x) AS s,
                 sum(ln(x)) AS sl, sum(1.0 / x) AS sr
          FROM base GROUP BY 1
        )
        SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
               round(s / n, 6) AS amean,
               round(exp(sl / n), 6) AS gmean,
               round(n / sr, 6) AS hmean
        FROM per
    """

    sql["trimmed_mean_price"] = """
        WITH base AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS DOUBLE)
            AS x
          FROM orders WHERE o_totalprice IS NOT NULL
        ), cuts AS (
          SELECT quantile_cont(x, 0.05) AS lo,
                 quantile_cont(x, 0.95) AS hi
          FROM base
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN x >= lo AND x <= hi THEN 1 ELSE 0
                 END) AS BIGINT) AS n_used,
               round(max(lo), 6) AS lo_cut,
               round(max(hi), 6) AS hi_cut,
               round(sum(CASE WHEN x >= lo AND x <= hi THEN x END)
                 / sum(CASE WHEN x >= lo AND x <= hi THEN 1 ELSE 0
                   END), 6) AS trimmed_mean
        FROM base CROSS JOIN cuts
    """

    sql["log_loss"] = """
        WITH base AS (
          SELECT CAST(o_orderkey % 1024 AS DOUBLE) / 1024.0 AS s,
                 CASE WHEN (o_orderkey % 1024)
                           + 120 * (o_orderkey % 5) > 760
                   THEN 1 ELSE 0 END AS y
          FROM orders
        ), c AS (
          SELECT least(greatest(s, 1e-15), 1.0 - 1e-15) AS p, y
          FROM base
        )
        SELECT CAST(count(*) AS BIGINT) AS n,
               round(-sum(y * ln(p) + (1.0 - y) * ln(1.0 - p))
                 / count(*), 6) AS log_loss
        FROM c
    """

    sql["distribution_drift"] = """
        WITH ca AS (
          SELECT l_returnflag AS c, count(*) AS na FROM lineitem
          WHERE year(l_shipdate) <= 1997
                AND l_returnflag IS NOT NULL
          GROUP BY 1
        ), cb AS (
          SELECT l_returnflag AS c, count(*) AS nb FROM lineitem
          WHERE year(l_shipdate) >= 1998
                AND l_returnflag IS NOT NULL
          GROUP BY 1
        ), cells AS (
          SELECT coalesce(ca.na, 0) AS na, coalesce(cb.nb, 0) AS nb
          FROM ca FULL OUTER JOIN cb ON ca.c = cb.c
        ), tot AS (
          SELECT sum(na) AS ta, sum(nb) AS tb FROM cells
        ), pq AS (
          SELECT CAST(na AS DOUBLE) / ta AS p,
                 CAST(nb AS DOUBLE) / tb AS q
          FROM cells CROSS JOIN tot
        )
        SELECT (SELECT CAST(ta AS BIGINT) FROM tot) AS n_a,
               (SELECT CAST(tb AS BIGINT) FROM tot) AS n_b,
               CAST(count(*) AS BIGINT) AS n_categories,
               round((sum(CASE WHEN p > 0
                        THEN p * log2(p / ((p + q) / 2.0))
                        ELSE 0.0 END)
                      + sum(CASE WHEN q > 0
                          THEN q * log2(q / ((p + q) / 2.0))
                          ELSE 0.0 END)) / 2.0, 6) AS jsd,
               round(sqrt(sum((sqrt(p) - sqrt(q)) * (sqrt(p) - sqrt(q)))
                 / 2.0), 6) AS hellinger,
               round(sum(abs(p - q)) / 2.0, 6) AS tvd
        FROM pq
    """

    sql["pr_curve"] = """
        WITH base AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS s,
                 CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
          FROM orders WHERE o_totalprice IS NOT NULL
        ), per AS (
          SELECT s AS score, sum(y) AS np,
                 count(*) - sum(y) AS nn
          FROM base GROUP BY 1
        ), cum AS (
          SELECT score,
                 CAST(sum(np) OVER (ORDER BY score DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                 CAST(sum(nn) OVER (ORDER BY score DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp,
                 CAST(sum(np) OVER () AS BIGINT) AS pos
          FROM per
        )
        SELECT score, tp, fp,
               round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS "precision",
               round(CASE WHEN pos > 0
                 THEN CAST(tp AS DOUBLE) / pos END, 6) AS recall,
               round(CASE WHEN pos > 0
                     AND (CAST(tp AS DOUBLE) / (tp + fp)
                          + CAST(tp AS DOUBLE) / pos) > 0
                 THEN 2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
                      * (CAST(tp AS DOUBLE) / pos)
                      / (CAST(tp AS DOUBLE) / (tp + fp)
                         + CAST(tp AS DOUBLE) / pos) END, 6) AS f1
        FROM cum
    """

    sql["rolling_features"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 (epoch_ns(ts) // 3600000000000) * 3600 AS t,
                 CAST(count(*) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2
        ), w AS (
          SELECT grp, t, v,
                 sum(v) OVER fr AS s1,
                 sum(v*v) OVER fr AS s2,
                 min(v) OVER fr AS mn,
                 max(v) OVER fr AS mx,
                 CAST(count(*) OVER fr AS DOUBLE) AS n
          FROM rollup
          WINDOW fr AS (PARTITION BY grp ORDER BY t ASC
                        ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
        )
        SELECT grp AS event_type, CAST(t AS BIGINT) AS hour_epoch,
               v AS n_events,
               round(s1 / n, 6) AS roll_mean,
               round(sqrt(greatest(s2 / n - (s1/n)*(s1/n), 0.0)), 6)
                 AS roll_std,
               round(mn, 6) AS roll_min,
               round(mx, 6) AS roll_max,
               CAST(n AS BIGINT) AS roll_n
        FROM w
    """

    sql["pivot_wide"] = """
        SELECT l_returnflag,
               CAST(sum(CASE WHEN l_linestatus = 'O' THEN
                 CAST(floor(l_extendedprice * (1 - l_discount) * 100
                            + 0.5) AS BIGINT) END) AS BIGINT)
                 AS rev_open,
               CAST(sum(CASE WHEN l_linestatus = 'F' THEN
                 CAST(floor(l_extendedprice * (1 - l_discount) * 100
                            + 0.5) AS BIGINT) END) AS BIGINT)
                 AS rev_finished
        FROM lineitem GROUP BY 1
    """

    sql["degree_distribution"] = """
        WITH fwd AS (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS s,
                          CAST(l_suppkey + 1000000 AS BIGINT) AS t
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ),
        und AS (
          SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
          FROM fwd WHERE s <> t
        ),
        deg AS (
          SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM und UNION ALL SELECT b AS n FROM und
          ) GROUP BY n
        ),
        hist AS (
          SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
          FROM deg GROUP BY 1
        ),
        f AS (
          SELECT count(*) AS nn, sum(ln(CAST(d AS DOUBLE))) AS sl
          FROM deg
        )
        SELECT CAST(degree AS BIGINT) AS degree, n_nodes,
               round(CASE WHEN sl > 0
                 THEN 1.0 + CAST(nn AS DOUBLE) / sl END, 6) AS alpha
        FROM hist CROSS JOIN f
    """

    sql["iqr_outliers"] = """
        WITH base AS (
          SELECT o_orderpriority AS priority,
                 CAST(floor(o_totalprice * 100 + 0.5) AS DOUBLE) AS x
          FROM orders WHERE o_totalprice IS NOT NULL
        ), q AS (
          SELECT priority, quantile_cont(x, 0.25) AS q1,
                 quantile_cont(x, 0.75) AS q3
          FROM base GROUP BY 1
        )
        SELECT base.priority AS priority,
               CAST(count(*) AS BIGINT) AS n,
               round(max(q1), 6) AS q1,
               round(max(q3), 6) AS q3,
               round(max(q3 - q1), 6) AS iqr,
               round(max(q1 - 1.5 * (q3 - q1)), 6) AS lo_fence,
               round(max(q3 + 1.5 * (q3 - q1)), 6) AS hi_fence,
               CAST(sum(CASE WHEN x < q1 - 1.5 * (q3 - q1)
                          OR x > q3 + 1.5 * (q3 - q1)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM base JOIN q ON base.priority = q.priority
        GROUP BY 1
    """

    sql["theil_u_assoc"] = """
        WITH base AS (
          SELECT o_orderstatus AS a, o_orderpriority AS b
          FROM orders
          WHERE o_orderstatus IS NOT NULL
                AND o_orderpriority IS NOT NULL
        ), cells AS (
          SELECT a, b, count(*) AS c FROM base GROUP BY 1, 2
        ), cb AS (SELECT b, sum(c) AS tb FROM cells GROUP BY 1),
        ca AS (SELECT a, sum(c) AS ra FROM cells GROUP BY 1),
        f AS (
          SELECT (SELECT sum(c) FROM cells) AS n,
                 (SELECT sum(CAST(ra AS DOUBLE)
                             * ln(CAST(ra AS DOUBLE))) FROM ca) AS sa,
                 (SELECT sum(CAST(c AS DOUBLE)
                             * ln(CAST(c AS DOUBLE) / tb))
                  FROM cells JOIN cb USING(b)) AS sab
        )
        SELECT CAST(n AS BIGINT) AS n,
               round(ln(CAST(n AS DOUBLE)) - sa / n, 6) AS h_a,
               round(-sab / n, 6) AS h_a_given_b,
               round(CASE WHEN ln(CAST(n AS DOUBLE)) - sa / n > 0
                 THEN ((ln(CAST(n AS DOUBLE)) - sa / n) - (-sab / n))
                      / (ln(CAST(n AS DOUBLE)) - sa / n) END, 6) AS u
        FROM f
    """

    sql["nelson_aalen"] = """
        WITH spans AS (
          SELECT user_id,
                 min(epoch_ns(ts) // 86400000000000) AS f,
                 max(epoch_ns(ts) // 86400000000000) AS l
          FROM events GROUP BY 1
        ), edge AS (
          SELECT max(epoch_ns(ts) // 86400000000000) AS e FROM events
        ), subj AS (
          SELECT CAST(l - f AS DOUBLE) AS t,
                 CASE WHEN l < e - 3 THEN 1 ELSE 0 END AS ev
          FROM spans CROSS JOIN edge
        ), per AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                 CAST(count(*) - sum(ev) AS BIGINT) AS c
          FROM subj GROUP BY 1
        ), staged AS (
          SELECT t, d,
                 CAST(sum(d + c) OVER () -
                      coalesce(sum(d + c) OVER (
                        ORDER BY t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n
          FROM per
        )
        SELECT t AS duration, n AS n_at_risk, d AS n_events,
               round(sum(CAST(d AS DOUBLE) / n) OVER (
                 ORDER BY t ASC ROWS UNBOUNDED PRECEDING), 6)
                 AS cum_hazard
        FROM staged
    """

    sql["lorenz_curve"] = """
        WITH base AS (
          SELECT CAST(floor(o_totalprice * 100 + 0.5) AS DOUBLE) AS x
          FROM orders WHERE o_totalprice IS NOT NULL
        ), nn AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) // 10 AS BIGINT) AS base,
                 CAST(count(*) % 10 AS BIGINT) AS rem,
                 sum(x) AS tot
          FROM base
        ), ranked AS (
          SELECT x, row_number() OVER (ORDER BY x ASC) AS rn,
                 nn.base, nn.rem, nn.n, nn.tot
          FROM base CROSS JOIN nn
        ), tiled AS (
          SELECT x, n, tot,
                 CAST(CASE WHEN rn <= rem * (base + 1)
                   THEN CAST(floor((rn + base) / (base + 1.0)) AS BIGINT)
                   ELSE rem + CAST(floor((rn - rem * (base + 1) + base
                                          - 1) / (base * 1.0)) AS BIGINT)
                 END AS INTEGER) AS tile
          FROM ranked
        ), per AS (
          SELECT tile, count(*) AS cnt, sum(x) AS s,
                 max(n) AS nt, max(tot) AS tt
          FROM tiled GROUP BY 1
        )
        SELECT tile,
               round(CAST(sum(cnt) OVER (ORDER BY tile ASC
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE) / nt, 6)
                 AS cum_pop_share,
               round(CASE WHEN tt > 0 THEN
                 sum(s) OVER (ORDER BY tile ASC
                   ROWS UNBOUNDED PRECEDING) / tt END, 6)
                 AS cum_value_share
        FROM per
    """

    sql["heatmap_bins"] = """
        WITH base AS (
          SELECT CAST(l_quantity AS DOUBLE) AS x,
                 CAST(l_extendedprice AS DOUBLE) AS y
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        ), mm AS (
          SELECT min(x) AS xlo, max(x) AS xhi,
                 min(y) AS ylo, max(y) AS yhi
          FROM base
        )
        SELECT CAST(CASE WHEN (xhi - xlo) / 20 > 0 THEN
                 least(floor((x - xlo) / ((xhi - xlo) / 20)), 19)
                 ELSE 0 END AS INTEGER) AS x_bin,
               CAST(CASE WHEN (yhi - ylo) / 20 > 0 THEN
                 least(floor((y - ylo) / ((yhi - ylo) / 20)), 19)
                 ELSE 0 END AS INTEGER) AS y_bin,
               CAST(count(*) AS BIGINT) AS n
        FROM base CROSS JOIN mm
        GROUP BY 1, 2
    """

    def _ktruss_sql(k: int = 4, rounds: int = _KTRUSS_ROUNDS) -> str:
        need = k - 2
        parts = [
            """
        WITH raw AS (
          SELECT c_custkey AS s, 2000000 + c_custkey % 97 AS t FROM customer
          UNION ALL
          SELECT c_custkey, 2200000 + c_custkey % 31 FROM customer
          UNION ALL
          SELECT 2000000 + c_custkey % 97, 2200000 + c_custkey % 31
          FROM customer
        ), e0 AS MATERIALIZED (
          SELECT DISTINCT least(s, t) AS a, greatest(s, t) AS b
          FROM raw WHERE s <> t
        )"""
        ]
        for r in range(1, rounds + 1):
            p = r - 1
            parts.append(f"""
        , deg{r} AS MATERIALIZED (
          SELECT n, count(*) AS d FROM (
            SELECT a AS n FROM e{p} UNION ALL SELECT b FROM e{p}
          ) GROUP BY n
        ), keyed{r} AS (
          SELECT n, d * 4294967296 + n AS kk FROM deg{r}
        ), ori{r} AS MATERIALIZED (
          SELECT CASE WHEN ka.kk < kb.kk THEN e.a ELSE e.b END AS u,
                 CASE WHEN ka.kk < kb.kk THEN e.b ELSE e.a END AS v,
                 greatest(ka.kk, kb.kk) AS kv
          FROM e{p} e
          JOIN keyed{r} ka ON ka.n = e.a
          JOIN keyed{r} kb ON kb.n = e.b
        ), closed{r} AS MATERIALIZED (
          SELECT w.u, w.x, w.y FROM (
            SELECT e1.u AS u, e1.v AS x, e2.v AS y
            FROM ori{r} e1 JOIN ori{r} e2 ON e1.u = e2.u
            WHERE e1.kv < e2.kv
          ) w JOIN ori{r} o ON o.u = w.x AND o.v = w.y
        ), sup{r} AS MATERIALIZED (
          SELECT a, b, count(*) AS support FROM (
            SELECT least(u, x) AS a, greatest(u, x) AS b FROM closed{r}
            UNION ALL
            SELECT least(u, y), greatest(u, y) FROM closed{r}
            UNION ALL
            SELECT least(x, y), greatest(x, y) FROM closed{r}
          ) s GROUP BY 1, 2
        ), e{r} AS MATERIALIZED (
          SELECT a, b FROM sup{r} WHERE support >= {need}
        )""")
        parts.append(f"""
        SELECT a, b, CAST(support AS BIGINT) AS support
        FROM sup{rounds} WHERE support >= {need}
        """)
        return "".join(parts)

    sql["k_truss"] = _ktruss_sql()

    sql["wilson_ci"] = """
        WITH per AS (
          SELECT o_orderpriority AS priority,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0
                   END) AS BIGINT) AS conversions
          FROM orders WHERE o_orderpriority IS NOT NULL
          GROUP BY 1
        ), g AS (
          SELECT *, CAST(conversions AS DOUBLE) / n AS p,
                 1.0 + 3.8416 / n AS denom
          FROM per
        )
        SELECT priority, n, conversions,
               round(p, 6) AS rate,
               round((p + 3.8416 / (2.0 * n)) / denom
                     - 1.96 / denom
                       * sqrt(p * (1.0 - p) / n
                              + 3.8416 / (4.0 * CAST(n AS DOUBLE) * n)),
                 6) AS ci_lo,
               round((p + 3.8416 / (2.0 * n)) / denom
                     + 1.96 / denom
                       * sqrt(p * (1.0 - p) / n
                              + 3.8416 / (4.0 * CAST(n AS DOUBLE) * n)),
                 6) AS ci_hi
        FROM g
    """

    sql["dp_noisy_counts"] = """
        WITH per AS (
          SELECT c_mktsegment AS seg, count(*) AS c
          FROM customer WHERE c_mktsegment IS NOT NULL
          GROUP BY 1
        ), g AS (
          SELECT seg, c,
                 (CAST(('0x' || substr(md5('dp:' || seg), 1, 15))
                    AS BIGINT) + 0.5) / 1152921504606846976.0 AS u
          FROM per
        )
        SELECT seg AS c_mktsegment,
               round(CAST(c AS DOUBLE)
                     - sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)),
                 6) AS noisy_count
        FROM g
    """

    sql["asof_forward"] = """
        WITH clicks AS (
          SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
          FROM events WHERE event_type = 'click'
        ), errors AS (
          SELECT user_id, epoch_us(ts) AS ts_us, value AS err_value
          FROM events WHERE event_type = 'error'
        )
        SELECT c.event_id, c.user_id,
               e.err_value AS next_err_value,
               e.ts_us AS next_err_ts
        FROM clicks c
        ASOF LEFT JOIN errors e
          ON c.user_id = e.user_id AND e.ts_us >= c.ts_us
    """

    sql["abc_analysis"] = """
        WITH per AS (
          SELECT l_partkey AS part,
                 sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                * 100 + 0.5) AS BIGINT)) AS v
          FROM lineitem GROUP BY 1
        ), tot AS (SELECT sum(v) AS t FROM per),
        c AS (
          SELECT part, CAST(v AS DOUBLE) AS value,
                 CASE WHEN t > 0 THEN
                   CAST(sum(v) OVER (ORDER BY v DESC, part ASC
                     ROWS UNBOUNDED PRECEDING) AS DOUBLE) / t END
                   AS share
          FROM per CROSS JOIN tot
        )
        SELECT part, round(value, 6) AS value,
               round(share, 6) AS cum_share,
               CASE WHEN share <= 0.8 THEN 'A'
                    WHEN share <= 0.95 THEN 'B'
                    ELSE 'C' END AS abc_class
        FROM c
    """

    sql["new_vs_returning"] = """
        WITH present AS (
          SELECT DISTINCT user_id,
                 (epoch_ns(ts) // 86400000000000) // 30 AS bucket
          FROM events
        ), first AS (
          SELECT user_id, min(bucket) AS f FROM present GROUP BY 1
        )
        SELECT p.bucket AS bucket,
               CAST(sum(CASE WHEN p.bucket = f THEN 1 ELSE 0 END)
                 AS BIGINT) AS new_users,
               CAST(sum(CASE WHEN p.bucket > f THEN 1 ELSE 0 END)
                 AS BIGINT) AS returning_users
        FROM present p JOIN first USING (user_id)
        GROUP BY 1
    """

    sql["dau_mau"] = """
        WITH daily AS (
          SELECT day, count(*) AS dau, day // 30 AS bucket FROM (
            SELECT DISTINCT user_id,
                   epoch_ns(ts) // 86400000000000 AS day
            FROM events
          ) GROUP BY day
        ), d AS (
          SELECT bucket, sum(dau) AS ds, count(*) AS nd
          FROM daily GROUP BY 1
        ), m AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS mau FROM (
            SELECT DISTINCT user_id,
                   (epoch_ns(ts) // 86400000000000) // 30 AS bucket
            FROM events
          ) GROUP BY bucket
        )
        SELECT d.bucket AS bucket,
               round(CAST(ds AS DOUBLE) / nd, 6) AS avg_dau,
               mau,
               round(CASE WHEN mau > 0 THEN
                 (CAST(ds AS DOUBLE) / nd) / mau END, 6) AS stickiness
        FROM d JOIN m ON d.bucket = m.bucket
    """

    sql["group_mode"] = """
        WITH per AS (
          SELECT o_orderpriority AS priority,
                 CAST(l_quantity AS INTEGER) AS qty,
                 count(*) AS c
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          WHERE o_orderpriority IS NOT NULL AND l_quantity IS NOT NULL
          GROUP BY 1, 2
        ), peak AS (
          SELECT priority, max(c) AS p,
                 CAST(count(*) AS BIGINT) AS n_distinct
          FROM per GROUP BY 1
        )
        SELECT per.priority AS priority,
               min(qty) AS mode,
               CAST(max(p) AS BIGINT) AS mode_count,
               max(n_distinct) AS n_distinct
        FROM per JOIN peak ON per.priority = peak.priority
                          AND per.c = peak.p
        GROUP BY 1
    """

    sql["log_rank"] = """
        WITH spans AS (
          SELECT user_id,
                 min(epoch_ns(ts) // 86400000000000) AS f,
                 max(epoch_ns(ts) // 86400000000000) AS l
          FROM events GROUP BY 1
        ), edge AS (
          SELECT max(epoch_ns(ts) // 86400000000000) AS e FROM events
        ), subj AS (
          SELECT CAST(user_id % 2 AS INTEGER) AS cohort,
                 CAST(l - f AS DOUBLE) AS t,
                 CASE WHEN l < e - 3 THEN 1 ELSE 0 END AS ev
          FROM spans CROSS JOIN edge
        ), per AS (
          SELECT t, sum(ev) AS d, count(*) AS r,
                 sum(CASE WHEN cohort = 0 THEN ev ELSE 0 END) AS da,
                 sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS ra
          FROM subj GROUP BY 1
        ), staged AS (
          SELECT t, d, da, ra, r,
                 CAST(sum(r) OVER () - coalesce(sum(r) OVER (
                   ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS DOUBLE) AS n_t,
                 CAST(sum(ra) OVER () - coalesce(sum(ra) OVER (
                   ORDER BY t ASC ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS DOUBLE) AS na_t
          FROM per
        ), f AS (
          SELECT CAST(sum(ra) AS BIGINT) AS n_a,
                 CAST(sum(r) - sum(ra) AS BIGINT) AS n_b,
                 sum(CAST(da AS DOUBLE)) AS soa,
                 sum(CASE WHEN n_t > 0
                   THEN CAST(d AS DOUBLE) * na_t / n_t
                   ELSE 0.0 END) AS sea,
                 sum(CASE WHEN n_t > 1
                   THEN CAST(d AS DOUBLE) * (n_t - d) * na_t
                        * (n_t - na_t) / (n_t * n_t * (n_t - 1.0))
                   ELSE 0.0 END) AS sv
          FROM staged
        )
        SELECT n_a, n_b,
               CAST(soa AS BIGINT) AS observed_a,
               round(sea, 6) AS expected_a,
               round(CASE WHEN sv > 0
                 THEN (soa - sea) * (soa - sea) / sv END, 6) AS chi2,
               CASE WHEN sv > 0 THEN
                 CAST((soa - sea) * (soa - sea) / sv > 3.841
                   AS INTEGER) END AS significant
        FROM f
    """

    sql["diff_in_diff"] = """
        WITH base AS (
          SELECT CAST(o_custkey % 2 AS INTEGER) AS t,
                 CASE WHEN year(o_orderdate) >= 1997 THEN 1 ELSE 0
                   END AS p,
                 CAST(floor(o_totalprice * 100 + 0.5) AS DOUBLE) AS y
          FROM orders
          WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
                AND o_totalprice IS NOT NULL
        ), f AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(CASE WHEN t=0 AND p=0 THEN y ELSE 0 END) AS s00,
                 sum(CASE WHEN t=0 AND p=0 THEN 1.0 ELSE 0 END) AS n00,
                 sum(CASE WHEN t=0 AND p=1 THEN y ELSE 0 END) AS s01,
                 sum(CASE WHEN t=0 AND p=1 THEN 1.0 ELSE 0 END) AS n01,
                 sum(CASE WHEN t=1 AND p=0 THEN y ELSE 0 END) AS s10,
                 sum(CASE WHEN t=1 AND p=0 THEN 1.0 ELSE 0 END) AS n10,
                 sum(CASE WHEN t=1 AND p=1 THEN y ELSE 0 END) AS s11,
                 sum(CASE WHEN t=1 AND p=1 THEN 1.0 ELSE 0 END) AS n11
          FROM base
        )
        SELECT n,
               round(CASE WHEN n00 > 0 THEN s00 / n00 END, 6)
                 AS mean_c_pre,
               round(CASE WHEN n01 > 0 THEN s01 / n01 END, 6)
                 AS mean_c_post,
               round(CASE WHEN n10 > 0 THEN s10 / n10 END, 6)
                 AS mean_t_pre,
               round(CASE WHEN n11 > 0 THEN s11 / n11 END, 6)
                 AS mean_t_post,
               round((CASE WHEN n11 > 0 THEN s11 / n11 END
                      - CASE WHEN n10 > 0 THEN s10 / n10 END)
                     - (CASE WHEN n01 > 0 THEN s01 / n01 END
                        - CASE WHEN n00 > 0 THEN s00 / n00 END), 6)
                 AS did
        FROM f
    """

    sql["covariate_balance"] = """
        WITH long AS (
          SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS t,
                 cov.covariate AS covariate, cov.x AS x
          FROM lineitem, LATERAL (
            SELECT * FROM (VALUES
              ('l_quantity', CAST(l_quantity AS DOUBLE)),
              ('l_linenumber', CAST(l_linenumber AS DOUBLE))
            ) AS v(covariate, x)
          ) cov
          WHERE cov.x IS NOT NULL AND l_returnflag IS NOT NULL
        ), per AS (
          SELECT covariate,
                 sum(CASE WHEN t=1 THEN 1.0 ELSE 0 END) AS nt,
                 sum(CASE WHEN t=0 THEN 1.0 ELSE 0 END) AS nc,
                 sum(CASE WHEN t=1 THEN x ELSE 0 END) AS st,
                 sum(CASE WHEN t=0 THEN x ELSE 0 END) AS sc,
                 sum(CASE WHEN t=1 THEN x*x ELSE 0 END) AS sst,
                 sum(CASE WHEN t=0 THEN x*x ELSE 0 END) AS ssc
          FROM long GROUP BY 1
        ), g AS (
          SELECT *,
                 CASE WHEN nt > 0 THEN st / nt END AS mt,
                 CASE WHEN nc > 0 THEN sc / nc END AS mc,
                 CASE WHEN nt > 1
                   THEN (sst - st*st/nt) / (nt - 1.0) END AS vt,
                 CASE WHEN nc > 1
                   THEN (ssc - sc*sc/nc) / (nc - 1.0) END AS vc
          FROM per
        )
        SELECT covariate,
               CAST(nt AS BIGINT) AS n_treated,
               CAST(nc AS BIGINT) AS n_control,
               round(mt, 6) AS mean_t,
               round(mc, 6) AS mean_c,
               round(CASE WHEN sqrt((vt + vc) / 2.0) > 0
                 THEN (mt - mc) / sqrt((vt + vc) / 2.0) END, 6) AS smd
        FROM g
    """

    sql["embedding_drift"] = """
        WITH a AS (
          SELECT u.x AS v, u.dim AS dim FROM (
            SELECT unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS dim
            FROM embeddings WHERE label % 2 = 0
                  AND embedding IS NOT NULL
          ) u
        ), b AS (
          SELECT u.x AS v, u.dim AS dim FROM (
            SELECT unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) - 1 AS dim
            FROM embeddings WHERE label % 2 = 1
                  AND embedding IS NOT NULL
          ) u
        ), na AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
          WHERE label % 2 = 0 AND embedding IS NOT NULL
        ), nb AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings
          WHERE label % 2 = 1 AND embedding IS NOT NULL
        ), ma AS (
          SELECT dim, sum(CAST(v AS DOUBLE)) / count(*) AS m
          FROM a GROUP BY 1
        ), mb AS (
          SELECT dim, sum(CAST(v AS DOUBLE)) / count(*) AS m
          FROM b GROUP BY 1
        ), j AS (
          SELECT coalesce(ma.m, 0.0) AS x, coalesce(mb.m, 0.0) AS y
          FROM ma FULL OUTER JOIN mb ON ma.dim = mb.dim
        ), f AS (
          SELECT sum(x*y) AS dot, sum(x*x) AS aa, sum(y*y) AS bb,
                 sum((x-y)*(x-y)) AS d2
          FROM j
        )
        SELECT (SELECT n FROM na) AS n_a,
               (SELECT n FROM nb) AS n_b,
               round(CASE WHEN aa > 0 AND bb > 0
                 THEN dot / (sqrt(aa) * sqrt(bb)) END, 6)
                 AS centroid_cosine,
               round(sqrt(d2), 6) AS centroid_l2
        FROM f
    """

    sql["hourly_percentiles"] = """
        WITH base AS (
          SELECT event_type,
                 (epoch_ns(ts) // 3600000000000) * 3600 AS hour_epoch,
                 CAST(value AS DOUBLE) AS v
          FROM events WHERE value IS NOT NULL
        )
        SELECT event_type, CAST(hour_epoch AS BIGINT) AS hour_epoch,
               CAST(count(*) AS BIGINT) AS n,
               round(quantile_cont(v, 0.5), 6) AS p50,
               round(quantile_cont(v, 0.95), 6) AS p95,
               round(quantile_cont(v, 0.99), 6) AS p99
        FROM base GROUP BY 1, 2
    """

    sql["rbo_overlap"] = """
        WITH run_a AS (
          SELECT doc_id % 20 AS q, doc_id AS doc,
                 CAST((doc_id * 37) % 101 AS DOUBLE) AS s
          FROM documents
        ), run_b AS (
          SELECT doc_id % 20 AS q, doc_id AS doc,
                 CAST((doc_id * 53) % 97 AS DOUBLE) AS s
          FROM documents
        ), ta AS (
          SELECT q, doc, row_number() OVER (
                   PARTITION BY q ORDER BY s DESC, doc ASC) AS ra
          FROM run_a QUALIFY ra <= 10
        ), tb AS (
          SELECT q, doc, row_number() OVER (
                   PARTITION BY q ORDER BY s DESC, doc ASC) AS rb
          FROM run_b QUALIFY rb <= 10
        ), common AS (
          SELECT ta.q AS q, greatest(ra, rb) AS fd
          FROM ta JOIN tb ON ta.q = tb.q AND ta.doc = tb.doc
        ), scored AS (
          SELECT q, CAST(count(*) AS BIGINT) AS n_common,
                 sum(CASE fd WHEN 1 THEN 0.23541639942571427 WHEN 2 THEN 0.13541639942571423 WHEN 3 THEN 0.09041639942571428 WHEN 4 THEN 0.06341639942571428 WHEN 5 THEN 0.04519139942571428 WHEN 6 THEN 0.03206939942571428 WHEN 7 THEN 0.022227899425714282 WHEN 8 THEN 0.01463588514 WHEN 9 THEN 0.00865717389 WHEN 10 THEN 0.00387420489 END) AS rbo
          FROM common GROUP BY q
        ), queries AS (
          SELECT DISTINCT q FROM ta
          UNION SELECT DISTINCT q FROM tb
        )
        SELECT CAST(queries.q AS BIGINT) AS query_id,
               coalesce(n_common, CAST(0 AS BIGINT)) AS n_common,
               round(coalesce(rbo, 0.0), 6) AS rbo
        FROM queries LEFT JOIN scored ON queries.q = scored.q
    """

    sql["merge_eaul"] = """
        WITH res AS (
          SELECT s_name AS way_id,
                 CAST(s_suppkey AS DOUBLE) * CAST(0.5 AS DOUBLE)
                   AS asphalt,
                 CAST(s_suppkey AS DOUBLE) * CAST(0.25 AS DOUBLE)
                   AS gravel
          FROM supplier WHERE s_suppkey % 3 > 0
        )
        SELECT s.s_name AS NAME,
               CAST(s.s_acctbal AS DOUBLE) AS acctbal,
               CASE WHEN r.way_id IS NOT NULL
                 THEN CAST(1000.0 AS DOUBLE) END AS eaul_baseline,
               r.asphalt AS eaul_asphalt,
               r.gravel AS eaul_gravel
        FROM supplier s LEFT JOIN res r ON s.s_name = r.way_id
    """

    sql["dedup_stream_batch"] = """
        SELECT DISTINCT event_type AS key,
               CAST(user_id % 500 AS BIGINT) AS fingerprint,
               CAST(1 AS BIGINT) AS n_new
        FROM events
        WHERE event_type IS NOT NULL AND user_id IS NOT NULL
    """

    sql["ingest_dedup_batch"] = _incremental_dedup_oracle(
        batch_pred="doc_id % 3 <> 0",
        prior_pred="doc_id % 3 = 0",
        gate="n_chars >= 200",
    )

    sql["bradley_terry"] = _bradley_terry_oracle(iterations=3)

    sql["krippendorff"] = """
        WITH cells AS (
          SELECT l_orderkey AS i, l_returnflag AS c,
                 CAST(count(*) AS BIGINT) AS nuc
          FROM lineitem GROUP BY 1, 2
        ), per_unit AS (
          SELECT i, sum(nuc) AS m, sum(nuc * nuc) AS sq
          FROM cells GROUP BY 1
        ), kept AS (SELECT * FROM per_unit WHERE m >= 2),
        do_row AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 CAST(coalesce(sum(m), 0) AS BIGINT) AS n_ratings,
                 sum((CAST(m AS DOUBLE) * CAST(m AS DOUBLE)
                      - CAST(sq AS DOUBLE))
                     / (CAST(m AS DOUBLE) - 1.0)) AS do_num
          FROM kept
        ), masses AS (
          SELECT sum(CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE)) AS sq_nc
          FROM (
            SELECT cells.c, sum(cells.nuc) AS nc
            FROM cells JOIN kept ON cells.i = kept.i
            GROUP BY 1
          )
        )
        SELECT n_items, n_ratings,
               CASE WHEN n_ratings >= 2
                 THEN round(do_num / CAST(n_ratings AS DOUBLE), 6)
               END AS d_o,
               CASE WHEN n_ratings >= 2
                 THEN round((CAST(n_ratings AS DOUBLE)
                             * CAST(n_ratings AS DOUBLE) - sq_nc)
                            / (CAST(n_ratings AS DOUBLE)
                               * (CAST(n_ratings AS DOUBLE) - 1.0)), 6)
               END AS d_e,
               CASE WHEN n_ratings >= 2 AND
                 (CAST(n_ratings AS DOUBLE) * CAST(n_ratings AS DOUBLE)
                  - sq_nc)
                 / (CAST(n_ratings AS DOUBLE)
                    * (CAST(n_ratings AS DOUBLE) - 1.0)) > 0
                 THEN round(1.0 - (do_num / CAST(n_ratings AS DOUBLE))
                      / ((CAST(n_ratings AS DOUBLE)
                          * CAST(n_ratings AS DOUBLE) - sq_nc)
                         / (CAST(n_ratings AS DOUBLE)
                            * (CAST(n_ratings AS DOUBLE) - 1.0))), 6)
               END AS alpha
        FROM do_row CROSS JOIN masses
    """

    sql["mann_whitney"] = """
        WITH va AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v, 1 AS ia, 0 AS ib
          FROM orders WHERE o_orderpriority = '1-URGENT'
            AND o_totalprice IS NOT NULL
        ), vb AS (
          SELECT CAST(o_totalprice AS DOUBLE) AS v, 0 AS ia, 1 AS ib
          FROM orders WHERE o_orderpriority = '5-LOW'
            AND o_totalprice IS NOT NULL
        ), per_v AS (
          SELECT v, CAST(sum(ia) AS BIGINT) AS ca,
                 CAST(sum(ib) AS BIGINT) AS cb
          FROM (SELECT * FROM va UNION ALL SELECT * FROM vb)
          GROUP BY v
        ), ranked AS (
          SELECT ca, cb, CAST(ca + cb AS DOUBLE) AS t,
                 CAST(sum(ca + cb) OVER (ORDER BY v) AS DOUBLE)
                   - CAST(ca + cb AS DOUBLE) AS before
          FROM per_v
        ), folded AS (
          SELECT CAST(sum(ca) AS BIGINT) AS n_a,
                 CAST(sum(cb) AS BIGINT) AS n_b,
                 sum(CAST(ca AS DOUBLE)
                     * (before + (t + 1.0) / 2.0)) AS ra,
                 sum(t * t * t - t) AS ties
          FROM ranked
        ), stat AS (
          SELECT n_a, n_b,
                 ra - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1.0)
                      / 2.0 AS ua,
                 CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) AS nab,
                 CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) AS nn,
                 ties
          FROM folded
        ), zrow AS (
          SELECT n_a, n_b, ua, nab - ua AS ub,
                 CASE WHEN n_a > 0 AND n_b > 0 AND
                   nab / 12.0 * ((nn + 1.0) - ties / (nn * (nn - 1.0))) > 0
                 THEN (ua - nab / 2.0)
                      / sqrt(nab / 12.0
                             * ((nn + 1.0) - ties / (nn * (nn - 1.0))))
                 END AS z
          FROM stat
        )
        SELECT n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0 THEN round(ua, 6) END AS u_a,
               CASE WHEN n_a > 0 AND n_b > 0 THEN round(ub, 6) END AS u_b,
               round(z, 6) AS z,
               round((0.254829592 * (1.0/(1.0 + 0.3275911 * (abs(z)/sqrt(2.0))))
                    - 0.284496736 * pow(1.0/(1.0 + 0.3275911 * (abs(z)/sqrt(2.0))), 2)
                    + 1.421413741 * pow(1.0/(1.0 + 0.3275911 * (abs(z)/sqrt(2.0))), 3)
                    - 1.453152027 * pow(1.0/(1.0 + 0.3275911 * (abs(z)/sqrt(2.0))), 4)
                    + 1.061405429 * pow(1.0/(1.0 + 0.3275911 * (abs(z)/sqrt(2.0))), 5))
                    * exp(-(abs(z)/sqrt(2.0)) * (abs(z)/sqrt(2.0))), 6)
                 AS p_value,
               CASE WHEN z IS NOT NULL THEN abs(z) > 1.959964 END
                 AS significant
        FROM zrow
    """

    sql["isotonic_fit"] = """
        WITH base AS (
          SELECT CAST(doc_id % 97 AS DOUBLE) / 97.0 AS score,
                 CASE WHEN (doc_id % 89) < (doc_id % 97)
                   THEN 1.0 ELSE 0.0 END AS y
          FROM documents
        ), rollup AS (
          SELECT score, CAST(count(*) AS BIGINT) AS n, sum(y) AS sum_y
          FROM base GROUP BY 1
        ), ord AS (
          SELECT score, n, sum_y,
                 row_number() OVER (ORDER BY score) AS k,
                 CAST(sum(n) OVER (ORDER BY score) AS DOUBLE) AS wk,
                 sum(sum_y) OVER (ORDER BY score) AS sk
          FROM rollup
        ), pref AS (
          SELECT *,
                 coalesce(lag(wk) OVER (ORDER BY k), 0.0) AS wprev,
                 coalesce(lag(sk) OVER (ORDER BY k), 0.0) AS sprev
          FROM ord
        ), mm AS (
          SELECT i.k AS i, j.k AS j,
                 (j.sk - i.sprev) / (j.wk - i.wprev) AS m
          FROM pref i JOIN pref j ON j.k >= i.k
        ), cand AS (
          SELECT ks.k AS k, mm.i AS i, min(mm.m) AS inner_min
          FROM pref ks JOIN mm ON mm.i <= ks.k AND mm.j >= ks.k
          GROUP BY 1, 2
        ), fit AS (
          SELECT k, max(inner_min) AS fitted FROM cand GROUP BY 1
        )
        SELECT o.score, o.n, round(f.fitted, 6) AS fitted
        FROM pref o JOIN fit f USING (k)
    """

    sql["fleiss_kappa"] = """
        WITH keep AS (
          SELECT l_orderkey AS i FROM lineitem
          GROUP BY 1 HAVING count(*) = 4
        ), cells AS (
          SELECT l_orderkey AS i, l_returnflag AS c,
                 CAST(count(*) AS BIGINT) AS nic
          FROM lineitem
          WHERE l_orderkey IN (SELECT i FROM keep)
          GROUP BY 1, 2
        ), itemfold AS (
          SELECT i, sum(nic * nic) AS sq FROM cells GROUP BY 1
        ), pbar AS (
          SELECT CAST(count(*) AS BIGINT) AS items,
                 avg((sq - 4) / CAST(12 AS DOUBLE)) AS pb
          FROM itemfold
        ), pe AS (
          SELECT sum(pc * pc) AS pe FROM (
            SELECT CAST(sum(nic) AS DOUBLE)
                   / ((SELECT items FROM pbar) * CAST(4 AS DOUBLE)) AS pc
            FROM cells GROUP BY c
          )
        )
        SELECT items AS n_items,
               CAST(4 AS INTEGER) AS n_raters,
               round(pb, 6) AS p_bar,
               round(pe, 6) AS p_e,
               CASE WHEN 1.0 - pe > 0
                 THEN round((pb - pe) / (1.0 - pe), 6) END AS kappa
        FROM pbar CROSS JOIN pe
    """

    sql["sequence_ngrams"] = """
        WITH seq AS (
          SELECT user_id AS u,
                 event_type AS t0,
                 lead(event_type, 1) OVER w AS t1,
                 lead(event_type, 2) OVER w AS t2
          FROM events
          WINDOW w AS (PARTITION BY user_id
                       ORDER BY epoch_ns(ts) ASC, event_id ASC)
        ), grams AS (
          SELECT u, t0 || '>' || t1 || '>' || t2 AS gram
          FROM seq WHERE t2 IS NOT NULL
        ), tot AS (
          SELECT CAST(count(DISTINCT u) AS DOUBLE) AS nu FROM grams
        )
        SELECT gram,
               CAST(count(*) AS BIGINT) AS occurrences,
               CAST(count(DISTINCT u) AS BIGINT) AS n_users,
               round(count(DISTINCT u) / (SELECT nu FROM tot), 6)
                 AS user_share
        FROM grams GROUP BY gram
        HAVING count(DISTINCT u) >= 2
    """

    sql["modularity"] = """
        WITH fwd AS MATERIALIZED (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                          CAST(l_suppkey + 1000000 AS BIGINT) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), e AS MATERIALIZED (
          SELECT src, dst FROM fwd
          UNION ALL
          SELECT dst, src FROM fwd
        ), lab AS MATERIALIZED (
          SELECT CAST(c_custkey AS BIGINT) AS n,
                 CAST(c_nationkey AS BIGINT) AS c
          FROM customer
          UNION ALL
          SELECT CAST(s_suppkey + 1000000 AS BIGINT),
                 CAST(s_nationkey AS BIGINT)
          FROM supplier
        ), tagged AS MATERIALIZED (
          SELECT e.src AS s, ls.c AS cs, ld.c AS cd
          FROM e JOIN lab ls ON e.src = ls.n
                 JOIN lab ld ON e.dst = ld.n
        ), deg AS (
          SELECT s, cs, count(*) AS deg FROM tagged GROUP BY 1, 2
        ), per AS (
          SELECT cs AS community,
                 CAST(count(*) AS BIGINT) AS n_nodes,
                 CAST(sum(deg) AS BIGINT) AS degree_sum
          FROM deg GROUP BY 1
        ), internal AS (
          SELECT cs AS community,
                 CAST(count(*) // 2 AS BIGINT) AS internal_edges
          FROM tagged WHERE cs = cd GROUP BY 1
        ), tot AS (SELECT CAST(count(*) AS DOUBLE) AS two_m FROM e)
        SELECT p.community, p.n_nodes,
               CAST(coalesce(i.internal_edges, 0) AS BIGINT)
                 AS internal_edges,
               p.degree_sum,
               round(coalesce(i.internal_edges, 0) / (two_m / 2.0)
                     - (p.degree_sum / two_m) * (p.degree_sum / two_m),
                     6) AS contribution
        FROM per p LEFT JOIN internal i USING (community)
        CROSS JOIN tot
    """

    sql["rmst"] = """
        WITH spans AS (
          SELECT user_id,
                 min(epoch_ns(ts) // 86400000000000) AS f,
                 max(epoch_ns(ts) // 86400000000000) AS l
          FROM events GROUP BY 1
        ), edge AS (
          SELECT max(epoch_ns(ts) // 86400000000000) AS e FROM events
        ), subj AS (
          SELECT CAST(l - f AS DOUBLE) AS t,
                 CASE WHEN l < e - 3 THEN 1 ELSE 0 END AS ev
          FROM spans CROSS JOIN edge
        ), per AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                 CAST(count(*) - sum(ev) AS BIGINT) AS c
          FROM subj GROUP BY 1
        ), staged AS (
          SELECT t, d, c,
                 CAST(sum(d + c) OVER () -
                      coalesce(sum(d + c) OVER (
                        ORDER BY t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n
          FROM per
        ), km AS (
          SELECT t,
                 round(CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END)
                              OVER (ORDER BY t ASC
                                    ROWS UNBOUNDED PRECEDING) = 1
                       THEN 0.0
                       ELSE exp(sum(CASE WHEN d > 0 AND d < n
                                 THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                                 ELSE 0.0 END)
                                OVER (ORDER BY t ASC
                                      ROWS UNBOUNDED PRECEDING))
                       END, 6) AS survival
          FROM staged
        ), seg AS (
          SELECT t, survival,
                 least(greatest(coalesce(
                   lead(t) OVER (ORDER BY t ASC), 14.0), t), 14.0)
                   AS nxt
          FROM km
        )
        SELECT CAST(14.0 AS DOUBLE) AS tau,
               round((SELECT least(min(t), 14.0) FROM seg)
                     + sum(CASE WHEN t < 14.0
                           THEN survival * (nxt - t)
                           ELSE 0.0 END), 6) AS rmst
        FROM seg
    """

    sql["quantile_bin"] = """
        WITH b AS (
          SELECT list_distinct(
                   quantile_cont(CAST(l_extendedprice AS DOUBLE),
                     [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])
                 ) AS qs
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
        ), binned AS (
          SELECT CAST(len(list_filter(b.qs,
                   q -> CAST(l_extendedprice AS DOUBLE) > q))
                 AS INTEGER) AS bin,
                 CAST(l_extendedprice AS DOUBLE) AS v
          FROM lineitem CROSS JOIN b
          WHERE l_extendedprice IS NOT NULL
        )
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               round(min(v), 2) AS min_v,
               round(max(v), 2) AS max_v
        FROM binned GROUP BY bin
    """

    sql["grid_knn"] = """
        WITH corpus AS (
          SELECT CAST(c_custkey AS BIGINT) AS corpus_id,
                 CAST((c_custkey % 360) - 180 + 0.5 AS DOUBLE) AS clon,
                 CAST((c_custkey * 7 % 170) - 85 + 0.5 AS DOUBLE) AS clat
          FROM customer
        ), ckeyed AS (
          SELECT corpus_id, clon, clat,
                 floor((clon + 180.0) / 30.0) AS cx,
                 floor((clat + 90.0) / 30.0) AS cy
          FROM corpus
        ), qpts AS (
          SELECT CAST(s_suppkey AS BIGINT) AS query_id,
                 CAST((s_suppkey * 13 % 360) - 180 + 0.5 AS DOUBLE)
                   AS qlon,
                 CAST((s_suppkey * 11 % 170) - 85 + 0.5 AS DOUBLE)
                   AS qlat
          FROM supplier
        ), qcells AS (
          SELECT query_id, qlon, qlat,
                 floor((qlon + 180.0) / 30.0) + off.dx AS cx,
                 floor((qlat + 90.0) / 30.0) + off.dy AS cy
          FROM qpts CROSS JOIN (
            VALUES (-1, -1), (-1, 0), (-1, 1),
                   (0, -1), (0, 0), (0, 1),
                   (1, -1), (1, 0), (1, 1)
          ) AS off(dx, dy)
        ), cand AS (
          SELECT q.query_id, c.corpus_id,
                 2.0 * 6371.0088 * asin(sqrt(
                   pow(sin(radians(c.clat - q.qlat) / 2), 2)
                   + cos(radians(q.qlat)) * cos(radians(c.clat))
                     * pow(sin(radians(c.clon - q.qlon) / 2), 2)
                 )) AS d
          FROM qcells q JOIN ckeyed c
            ON q.cx = c.cx AND q.cy = c.cy
        )
        SELECT query_id, corpus_id, round(d, 6) AS dist_km,
               CAST(rk AS BIGINT) AS rank
        FROM (
          SELECT query_id, corpus_id, d,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY d ASC, corpus_id ASC)
                   AS rk
          FROM cand
        ) WHERE rk <= 3
    """

    sql["modularity_move"] = """
        WITH fwd AS MATERIALIZED (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS src,
                          CAST(l_suppkey + 1000000 AS BIGINT) AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), e AS MATERIALIZED (
          SELECT src, dst FROM fwd
          UNION ALL
          SELECT dst, src FROM fwd
        ), lab AS MATERIALIZED (
          SELECT CAST(c_custkey AS BIGINT) AS n,
                 CAST(c_nationkey AS BIGINT) AS c
          FROM customer
          UNION ALL
          SELECT CAST(s_suppkey + 1000000 AS BIGINT),
                 CAST(s_nationkey AS BIGINT)
          FROM supplier
        ), tagged AS MATERIALIZED (
          SELECT e.src AS s, ls.c AS cs, ld.c AS cd
          FROM e JOIN lab ls ON e.src = ls.n
                 JOIN lab ld ON e.dst = ld.n
        ), k AS MATERIALIZED (
          SELECT s AS u, cs AS a, CAST(count(*) AS BIGINT) AS ku
          FROM tagged GROUP BY 1, 2
        ), links AS MATERIALIZED (
          SELECT s AS u, cd AS cand, CAST(count(*) AS BIGINT) AS kuc
          FROM tagged GROUP BY 1, 2
        ), tot AS MATERIALIZED (
          SELECT a AS tc, CAST(sum(ku) AS BIGINT) AS tot FROM k
          GROUP BY 1
        ), tm AS (SELECT CAST(count(*) AS DOUBLE) AS two_m FROM e),
        cand AS (
          SELECT u, cand, kuc FROM links
          UNION ALL
          SELECT k.u, k.a, CAST(0 AS BIGINT)
          FROM k LEFT JOIN links l ON k.u = l.u AND k.a = l.cand
          WHERE l.u IS NULL
        ), scored AS (
          SELECT c.u, k.a, c.cand, c.kuc, k.ku, t.tot, tm.two_m,
                 CAST(c.kuc AS DOUBLE) / (tm.two_m / 2.0)
                 - CAST(k.ku AS DOUBLE)
                   * (CAST(t.tot AS DOUBLE)
                      - CASE WHEN c.cand = k.a
                             THEN CAST(k.ku AS DOUBLE)
                             ELSE 0.0 END)
                   / (2.0 * (tm.two_m / 2.0) * (tm.two_m / 2.0))
                   AS gain
          FROM cand c
          JOIN k ON c.u = k.u
          JOIN tot t ON c.cand = t.tc
          CROSS JOIN tm
        )
        SELECT u AS node, a AS old_community, cand AS new_community,
               round(gain, 6) AS gain
        FROM (
          SELECT u, a, cand, gain,
                 row_number() OVER (PARTITION BY u
                                    ORDER BY gain DESC, cand ASC)
                   AS rk
          FROM scored
        ) WHERE rk = 1
    """

    sql["ols_fit"] = """
        WITH base AS (
          SELECT l_returnflag,
                 CAST(l_extendedprice AS DOUBLE) AS y,
                 CAST(l_quantity AS DOUBLE) AS x1,
                 CAST(l_discount AS DOUBLE) AS x2
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
            AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
        ), m AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 sum(y) AS sy, sum(y * y) AS syy,
                 sum(x1) AS s1, sum(x1 * y) AS s1y,
                 sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
                 sum(x2) AS s2, sum(x2 * y) AS s2y,
                 sum(x2 * x2) AS s22
          FROM base GROUP BY 1
        ), solved AS (
          SELECT l_returnflag, n, sy, syy, s1y, s2y,
                 n * (s11 * s22 - s12 * s12)
                 - s1 * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s12 - s11 * s2) AS det,
                 sy * (s11 * s22 - s12 * s12)
                 - s1 * (s1y * s22 - s12 * s2y)
                 + s2 * (s1y * s12 - s11 * s2y) AS det0,
                 n * (s1y * s22 - s12 * s2y)
                 - sy * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s2y - s1y * s2) AS det1,
                 n * (s11 * s2y - s1y * s12)
                 - s1 * (s1 * s2y - s1y * s2)
                 + sy * (s1 * s12 - s11 * s2) AS det2,
                 syy - sy * sy / n AS sst
          FROM m
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               round(CASE WHEN abs(det) > 1e-9
                     THEN det0 / det END, 6) AS b0,
               round(CASE WHEN abs(det) > 1e-9
                     THEN det1 / det END, 6) AS b_l_quantity,
               round(CASE WHEN abs(det) > 1e-9
                     THEN det2 / det END, 6) AS b_l_discount,
               round(CASE WHEN sst > 1e-12 THEN
                 1.0 - (syy - (CASE WHEN abs(det) > 1e-9
                                    THEN det0 / det END) * sy
                            - (CASE WHEN abs(det) > 1e-9
                                    THEN det1 / det END) * s1y
                            - (CASE WHEN abs(det) > 1e-9
                                    THEN det2 / det END) * s2y) / sst
               END, 6) AS r2
        FROM solved
    """

    sql["grid_density"] = """
        WITH RECURSIVE pts AS (
          SELECT CAST(c_custkey AS BIGINT) AS id,
                 floor((CAST((c_custkey % 360) - 180 + 0.5 AS DOUBLE)
                        + 180.0) / 30.0) AS cx,
                 floor((CAST((c_custkey * 7 % 170) - 85 + 0.5 AS DOUBLE)
                        + 90.0) / 30.0) AS cy
          FROM customer
        ), pts2 AS (
          SELECT id, CAST(cx * 10000000 + cy AS BIGINT) AS cell
          FROM pts
        ), cellxy AS (
          SELECT CAST(cx * 10000000 + cy AS BIGINT) AS cell,
                 cx, cy, count(*) AS n
          FROM pts GROUP BY 1, 2, 3
        ), core AS (
          SELECT * FROM cellxy WHERE n >= 3
        ), probe AS (
          SELECT a.cell AS ca,
                 CAST((a.cx + off.dx) * 10000000 + (a.cy + off.dy)
                      AS BIGINT) AS cb
          FROM core a CROSS JOIN (
            VALUES (-1, -1), (-1, 0), (-1, 1),
                   (0, -1), (0, 0), (0, 1),
                   (1, -1), (1, 0), (1, 1)
          ) AS off(dx, dy)
        ), edges AS (
          SELECT p.ca AS u, p.cb AS v
          FROM probe p JOIN core c ON p.cb = c.cell
        ), nodes AS (SELECT DISTINCT u AS id FROM edges),
        reach AS (
          SELECT id, id AS r FROM nodes
          UNION
          SELECT reach.id, e.v FROM reach JOIN edges e
            ON e.u = reach.r
        ), comp AS (
          SELECT id AS cell, min(r) AS cluster FROM reach GROUP BY id
        )
        SELECT pts2.id, comp.cluster
        FROM pts2 LEFT JOIN comp ON pts2.cell = comp.cell
    """

    sql["ols_residuals"] = """
        WITH base AS (
          SELECT l_returnflag,
                 CAST(l_extendedprice AS DOUBLE) AS y,
                 CAST(l_quantity AS DOUBLE) AS x1,
                 CAST(l_discount AS DOUBLE) AS x2
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
            AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
        ), m AS (
          SELECT l_returnflag AS g,
                 CAST(count(*) AS DOUBLE) AS n,
                 sum(y) AS sy,
                 sum(x1) AS s1, sum(x1 * y) AS s1y,
                 sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
                 sum(x2) AS s2, sum(x2 * y) AS s2y,
                 sum(x2 * x2) AS s22
          FROM base GROUP BY 1
        ), solved AS (
          SELECT g,
                 round((sy * (s11 * s22 - s12 * s12)
                        - s1 * (s1y * s22 - s12 * s2y)
                        + s2 * (s1y * s12 - s11 * s2y))
                       / (n * (s11 * s22 - s12 * s12)
                          - s1 * (s1 * s22 - s12 * s2)
                          + s2 * (s1 * s12 - s11 * s2)), 6) AS b0,
                 round((n * (s1y * s22 - s12 * s2y)
                        - sy * (s1 * s22 - s12 * s2)
                        + s2 * (s1 * s2y - s1y * s2))
                       / (n * (s11 * s22 - s12 * s12)
                          - s1 * (s1 * s22 - s12 * s2)
                          + s2 * (s1 * s12 - s11 * s2)), 6) AS b1,
                 round((n * (s11 * s2y - s1y * s12)
                        - s1 * (s1 * s2y - s1y * s2)
                        + sy * (s1 * s12 - s11 * s2))
                       / (n * (s11 * s22 - s12 * s12)
                          - s1 * (s1 * s22 - s12 * s2)
                          + s2 * (s1 * s12 - s11 * s2)), 6) AS b2
          FROM m
        ), scored AS (
          SELECT b.l_returnflag,
                 round(b.y - round(s.b0 + s.b1 * b.x1 + s.b2 * b.x2,
                                   6), 6) AS residual
          FROM base b JOIN solved s ON b.l_returnflag = s.g
        )
        SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
               round(avg(abs(residual)), 4) AS mae,
               round(max(abs(residual)), 4) AS max_abs_residual
        FROM scored GROUP BY 1
    """

    sql["km_median"] = """
        WITH spans AS (
          SELECT user_id,
                 min(epoch_ns(ts) // 86400000000000) AS f,
                 max(epoch_ns(ts) // 86400000000000) AS l
          FROM events GROUP BY 1
        ), edge AS (
          SELECT max(epoch_ns(ts) // 86400000000000) AS e FROM events
        ), subj AS (
          SELECT CAST(l - f AS DOUBLE) AS t,
                 CASE WHEN l < e - 3 THEN 1 ELSE 0 END AS ev
          FROM spans CROSS JOIN edge
        ), per AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                 CAST(count(*) - sum(ev) AS BIGINT) AS c
          FROM subj GROUP BY 1
        ), staged AS (
          SELECT t, d, c,
                 CAST(sum(d + c) OVER () -
                      coalesce(sum(d + c) OVER (
                        ORDER BY t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n
          FROM per
        ), km AS (
          SELECT t,
                 round(CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END)
                              OVER (ORDER BY t ASC
                                    ROWS UNBOUNDED PRECEDING) = 1
                       THEN 0.0
                       ELSE exp(sum(CASE WHEN d > 0 AND d < n
                                 THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                                 ELSE 0.0 END)
                                OVER (ORDER BY t ASC
                                      ROWS UNBOUNDED PRECEDING))
                       END, 6) AS survival
          FROM staged
        )
        SELECT min(t) AS median_duration FROM km WHERE survival <= 0.5
    """

    sql["interval_overlap"] = """
        WITH spans AS (
          SELECT user_id AS id,
                 CAST(min(epoch_ns(ts) // 86400000000000) AS DOUBLE)
                   AS s,
                 CAST(max(epoch_ns(ts) // 86400000000000) AS DOUBLE)
                   AS e
          FROM events GROUP BY 1
        ), weeks AS (
          SELECT DISTINCT
                 (epoch_ns(ts) // 86400000000000) // 7 AS wk
          FROM events
        )
        SELECT CAST(wk * 7 AS BIGINT) AS week_start,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(least(e, wk * 7 + 6) - greatest(s, wk * 7) + 1)
                    AS BIGINT) AS total_overlap_days
        FROM spans JOIN weeks
          ON s <= wk * 7 + 6 AND wk * 7 <= e
        GROUP BY 1
    """

    sql["touch_attribution"] = """
        WITH base AS (
          SELECT user_id AS u, epoch_ns(ts) AS ts, event_id AS tb,
                 event_type AS t,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS isc
          FROM events
        ), staged AS (
          SELECT *,
                 coalesce(sum(isc) OVER (
                   PARTITION BY u ORDER BY ts ASC, tb ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS gid
          FROM base
        ), ctot AS (
          SELECT CAST(count(*) AS BIGINT) AS nc FROM staged
          WHERE isc = 1
        ), touches AS (
          SELECT * FROM staged s
          WHERE isc = 0 AND EXISTS (
            SELECT 1 FROM staged c
            WHERE c.isc = 1 AND c.u = s.u AND c.gid = s.gid
          )
        ), weighted AS (
          SELECT t,
                 1.0 / count(*) OVER (PARTITION BY u, gid) AS credit
          FROM touches
        )
        SELECT t AS event_type,
               round(sum(credit), 6) AS credit,
               CAST(count(*) AS BIGINT) AS n_touches,
               (SELECT nc FROM ctot) AS n_conversions
        FROM weighted GROUP BY t
    """

    sql["collapse_rare"] = """
        WITH keep AS (
          SELECT source AS cat FROM documents
          WHERE source IS NOT NULL
          GROUP BY 1 HAVING count(*) >= 40
        )
        SELECT CASE WHEN d.source IS NULL THEN NULL
                    WHEN k.cat IS NOT NULL THEN d.source
                    ELSE '__other__' END AS source_c,
               CAST(count(*) AS BIGINT) AS n
        FROM documents d LEFT JOIN keep k ON d.source = k.cat
        GROUP BY 1
    """

    sql["quantile_bin_grouped"] = """
        WITH b AS (
          SELECT l_returnflag AS g,
                 list_distinct(
                   quantile_cont(CAST(l_quantity AS DOUBLE),
                                 [0.25, 0.5, 0.75])
                 ) AS qs
          FROM lineitem
          WHERE l_quantity IS NOT NULL
          GROUP BY 1
        ), binned AS (
          SELECT l_returnflag,
                 CAST(len(list_filter(b.qs,
                   q -> CAST(l_quantity AS DOUBLE) > q))
                 AS INTEGER) AS bin,
                 CAST(l_quantity AS DOUBLE) AS v
          FROM lineitem JOIN b ON l_returnflag = b.g
          WHERE l_quantity IS NOT NULL
        )
        SELECT l_returnflag, bin, CAST(count(*) AS BIGINT) AS n,
               round(min(v), 2) AS min_v,
               round(max(v), 2) AS max_v
        FROM binned GROUP BY 1, 2
    """

    sql["touch_decay"] = """
        WITH base AS (
          SELECT user_id AS u, epoch_ns(ts) AS ts, event_id AS tb,
                 event_type AS t,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                   AS isc
          FROM events
        ), staged AS (
          SELECT *,
                 coalesce(sum(isc) OVER (
                   PARTITION BY u ORDER BY ts ASC, tb ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS gid
          FROM base
        ), ctot AS (
          SELECT CAST(count(*) AS BIGINT) AS nc FROM staged
          WHERE isc = 1
        ), touches AS (
          SELECT s.u, s.ts, s.t, s.gid, c.ts AS cts
          FROM staged s JOIN staged c
            ON s.u = c.u AND s.gid = c.gid AND c.isc = 1
          WHERE s.isc = 0
        ), weighted AS (
          SELECT t,
                 pow(0.5, CAST(cts - ts AS DOUBLE) / 86400000000000.0)
                 / sum(pow(0.5,
                       CAST(cts - ts AS DOUBLE) / 86400000000000.0))
                   OVER (PARTITION BY u, gid) AS credit
          FROM touches
        )
        SELECT t AS event_type,
               round(sum(credit), 6) AS credit,
               CAST(count(*) AS BIGINT) AS n_touches,
               (SELECT nc FROM ctot) AS n_conversions
        FROM weighted GROUP BY t
    """

    sql["repetition_signals"] = """
        WITH base AS (
          SELECT doc_id AS id, text FROM documents
        ), tok AS (
          SELECT id,
                 CASE WHEN trim(text) = '' THEN
                   CAST([] AS VARCHAR[])
                 ELSE string_split_regex(lower(trim(text)), '\\s+')
                 END AS l
          FROM base
        ), lines AS (
          SELECT b.id, trim(t.l) AS ln
          FROM base b, unnest(string_split(b.text, chr(10))) AS t(l)
          WHERE trim(t.l) <> ''
        ), ls AS (
          SELECT id, CAST(count(*) AS BIGINT) AS nl,
                 CAST(count(DISTINCT ln) AS BIGINT) AS dl
          FROM lines GROUP BY id
        ), bgl AS (
          SELECT id,
                 list_transform(range(1, greatest(len(l), 1)),
                                i -> l[i] || ' ' || l[i + 1]) AS bg
          FROM tok
        ), bgx AS (
          SELECT b.id, t.b AS gram
          FROM bgl b, unnest(b.bg) AS t(b)
        ), bgc AS (
          SELECT id, gram, count(*) AS c FROM bgx GROUP BY 1, 2
        ), bs AS (
          SELECT id, CAST(sum(c) AS BIGINT) AS tb,
                 CAST(max(c) AS BIGINT) AS mb
          FROM bgc GROUP BY id
        )
        SELECT t.id,
               CAST(len(t.l) AS BIGINT) AS n_tokens,
               coalesce(ls.nl, 0) AS n_lines,
               round(CASE WHEN coalesce(ls.nl, 0) > 0
                     THEN 1.0 - CAST(ls.dl AS DOUBLE) / ls.nl
                     ELSE 0.0 END, 6) AS dup_line_frac,
               round(CASE WHEN coalesce(bs.tb, 0) > 0
                     THEN CAST(bs.mb AS DOUBLE) / bs.tb
                     ELSE 0.0 END, 6) AS top_bigram_frac
        FROM tok t
        LEFT JOIN ls ON t.id = ls.id
        LEFT JOIN bs ON t.id = bs.id
    """

    sql["eb_shrink"] = """
        WITH per AS (
          SELECT o_custkey AS grp,
                 CAST(sum(CASE WHEN o_orderstatus = 'F'
                          THEN 1 ELSE 0 END) AS DOUBLE) AS s,
                 CAST(count(*) AS DOUBLE) AS n
          FROM orders GROUP BY 1
        ), staged AS (
          SELECT grp, s, n, s / n AS r FROM per WHERE n > 0
        ), mom AS (
          SELECT avg(r) AS mu,
                 avg(r * r) - avg(r) * avg(r) AS v
          FROM staged
        )
        SELECT grp,
               CAST(s AS BIGINT) AS successes,
               CAST(n AS BIGINT) AS trials,
               round(r, 6) AS raw_rate,
               round(CASE WHEN v > 1e-12 AND v < mu * (1.0 - mu)
                     THEN (mu * (mu * (1.0 - mu) / v - 1.0) + s)
                          / (mu * (mu * (1.0 - mu) / v - 1.0)
                             + (1.0 - mu) * (mu * (1.0 - mu) / v - 1.0)
                             + n)
                     ELSE r END, 6) AS shrunk_rate,
               round(CASE WHEN v > 1e-12 AND v < mu * (1.0 - mu)
                     THEN mu * (mu * (1.0 - mu) / v - 1.0) END, 6)
                 AS alpha,
               round(CASE WHEN v > 1e-12 AND v < mu * (1.0 - mu)
                     THEN (1.0 - mu) * (mu * (1.0 - mu) / v - 1.0) END,
                     6) AS beta
        FROM staged CROSS JOIN mom
    """

    sql["km_survival_at"] = """
        WITH spans AS (
          SELECT user_id,
                 min(epoch_ns(ts) // 86400000000000) AS f,
                 max(epoch_ns(ts) // 86400000000000) AS l
          FROM events GROUP BY 1
        ), edge AS (
          SELECT max(epoch_ns(ts) // 86400000000000) AS e FROM events
        ), subj AS (
          SELECT CAST(l - f AS DOUBLE) AS t,
                 CASE WHEN l < e - 3 THEN 1 ELSE 0 END AS ev
          FROM spans CROSS JOIN edge
        ), per AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                 CAST(count(*) - sum(ev) AS BIGINT) AS c
          FROM subj GROUP BY 1
        ), staged AS (
          SELECT t, d, c,
                 CAST(sum(d + c) OVER () -
                      coalesce(sum(d + c) OVER (
                        ORDER BY t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n
          FROM per
        ), km AS (
          SELECT t,
                 round(CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END)
                              OVER (ORDER BY t ASC
                                    ROWS UNBOUNDED PRECEDING) = 1
                       THEN 0.0
                       ELSE exp(sum(CASE WHEN d > 0 AND d < n
                                 THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                                 ELSE 0.0 END)
                                OVER (ORDER BY t ASC
                                      ROWS UNBOUNDED PRECEDING))
                       END, 6) AS survival
          FROM staged
        ), horizons AS (
          SELECT unnest([3.0, 7.0, 14.0]) AS horizon
        )
        SELECT h.horizon,
               coalesce((SELECT survival FROM km
                         WHERE t <= h.horizon
                         ORDER BY t DESC LIMIT 1), 1.0) AS survival
        FROM horizons h
    """

    sql["dataset_diff"] = """
        WITH old AS (
          SELECT o_orderkey AS k, o_totalprice AS p, o_orderstatus AS st
          FROM orders
        ), kept AS (
          SELECT o_orderkey AS k,
                 CASE WHEN o_orderkey % 7 = 0
                      THEN o_totalprice + 10.0
                      ELSE o_totalprice END AS p,
                 o_orderstatus AS st
          FROM orders WHERE o_orderkey % 13 <> 0
        ), added AS (
          SELECT o_orderkey + 1000000000 AS k, o_totalprice AS p,
                 o_orderstatus AS st
          FROM orders WHERE o_orderkey % 11 = 0
        ), neww AS (
          SELECT * FROM kept UNION ALL SELECT * FROM added
        ), j AS (
          SELECT o.k AS ok, n.k AS nk,
                 (o.p IS DISTINCT FROM n.p) AS chp,
                 (o.st IS DISTINCT FROM n.st) AS chs
          FROM old o FULL OUTER JOIN neww n ON o.k = n.k
        )
        SELECT 'added' AS metric,
               CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n FROM j
        UNION ALL
        SELECT 'removed',
               CAST(sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) FROM j
        UNION ALL
        SELECT 'changed',
               CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                             AND (chp OR chs) THEN 1 ELSE 0 END)
                    AS BIGINT) FROM j
        UNION ALL
        SELECT 'unchanged',
               CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                             AND NOT (chp OR chs) THEN 1 ELSE 0 END)
                    AS BIGINT) FROM j
        UNION ALL
        SELECT 'col_changed:o_totalprice',
               CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                             AND chp THEN 1 ELSE 0 END) AS BIGINT)
        FROM j
        UNION ALL
        SELECT 'col_changed:o_orderstatus',
               CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                             AND chs THEN 1 ELSE 0 END) AS BIGINT)
        FROM j
    """

    sql["cohort_ltv"] = """
        WITH ev AS (
          SELECT user_id,
                 epoch_ns(ts) // 86400000000000 AS d,
                 CASE WHEN event_type = 'purchase'
                      AND value IS NOT NULL
                      THEN CAST(value AS DOUBLE) ELSE 0.0 END AS v
          FROM events
        ), first AS (
          SELECT user_id, min(d) AS cohort_day FROM ev GROUP BY 1
        ), sizes AS (
          SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
          FROM first GROUP BY 1
        ), per AS (
          SELECT f.cohort_day, e.d - f.cohort_day AS day_offset,
                 sum(e.v) AS pr
          FROM ev e JOIN first f ON e.user_id = f.user_id
          GROUP BY 1, 2
        )
        SELECT p.cohort_day, p.day_offset, s.cohort_size,
               floor(p.pr * 100 + 0.5) / 100 AS period_revenue,
               round(sum(p.pr) OVER (
                       PARTITION BY p.cohort_day
                       ORDER BY p.day_offset ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ) / s.cohort_size, 6) AS cum_revenue_per_user
        FROM per p JOIN sizes s ON p.cohort_day = s.cohort_day
    """

    sql["state_durations"] = """
        WITH base AS (
          SELECT user_id AS entity, epoch_ns(ts) AS ts,
                 event_id AS tb, event_type AS state
          FROM events
        ), staged AS (
          SELECT *,
                 row_number() OVER (PARTITION BY entity
                                    ORDER BY ts ASC, tb ASC)
                 - row_number() OVER (PARTITION BY entity, state
                                      ORDER BY ts ASC, tb ASC)
                   AS isl
          FROM base
        )
        SELECT entity, state,
               min(ts) AS run_start, max(ts) AS run_end,
               CAST(count(*) AS BIGINT) AS n_events,
               max(ts) - min(ts) AS duration
        FROM staged GROUP BY entity, state, isl
    """

    sql["path_flows"] = """
        WITH base AS (
          SELECT user_id AS u, epoch_ns(ts) AS ts, event_id AS tb,
                 event_type AS ft
          FROM events
        ), staged AS (
          SELECT u, ft,
                 row_number() OVER w AS step,
                 lead(ft) OVER w AS tt
          FROM base
          WINDOW w AS (PARTITION BY u ORDER BY ts ASC, tb ASC)
        )
        SELECT CAST(step AS BIGINT) AS step, ft AS from_type,
               tt AS to_type, CAST(count(*) AS BIGINT) AS n_users
        FROM staged
        WHERE step <= 5 AND tt IS NOT NULL
        GROUP BY 1, 2, 3
    """

    sql["local_peaks"] = """
        WITH hourly AS (
          SELECT event_type AS g,
                 epoch_ns(ts) // 3600000000000 AS h,
                 CAST(count(*) AS DOUBLE) AS v
          FROM events GROUP BY 1, 2
        ), st AS (
          SELECT g, h, v,
                 max(v) OVER (PARTITION BY g ORDER BY h ASC
                              ROWS BETWEEN 2 PRECEDING
                              AND 1 PRECEDING) AS mb,
                 max(v) OVER (PARTITION BY g ORDER BY h ASC
                              ROWS BETWEEN 1 FOLLOWING
                              AND 2 FOLLOWING) AS ma,
                 count(*) OVER (PARTITION BY g ORDER BY h ASC
                                ROWS BETWEEN 2 PRECEDING
                                AND 1 PRECEDING) AS nb,
                 count(*) OVER (PARTITION BY g ORDER BY h ASC
                                ROWS BETWEEN 1 FOLLOWING
                                AND 2 FOLLOWING) AS na
          FROM hourly
        )
        SELECT g AS "group", h AS ts, v AS value,
               round(v - greatest(mb, ma), 6) AS prominence
        FROM st
        WHERE nb = 2 AND na = 2
          AND v > greatest(mb, ma)
          AND v - greatest(mb, ma) >= 1.0
    """

    sql["trajectory_stats"] = """
        WITH pts AS (
          SELECT user_id AS entity, epoch_ns(ts) AS ts,
                 event_id AS tb,
                 CAST((event_id * 37 % 360) - 180 + 0.5 AS DOUBLE)
                   AS lon,
                 CAST((event_id * 17 % 170) - 85 + 0.5 AS DOUBLE)
                   AS lat
          FROM events
        ), st AS (
          SELECT *,
                 lag(lon) OVER w AS plon,
                 lag(lat) OVER w AS plat
          FROM pts
          WINDOW w AS (PARTITION BY entity ORDER BY ts ASC, tb ASC)
        ), seg AS (
          SELECT entity, ts, tb, lon, lat,
                 CASE WHEN plon IS NULL THEN NULL
                 ELSE 2.0 * 6371.0088 * asin(sqrt(
                   pow(sin(radians(lat - plat) / 2), 2)
                   + cos(radians(plat)) * cos(radians(lat))
                     * pow(sin(radians(lon - plon) / 2), 2)
                 )) END AS s
          FROM st
        ), agg AS (
          SELECT entity, CAST(count(*) AS BIGINT) AS n_points,
                 coalesce(sum(s), 0.0) AS total,
                 coalesce(max(s), 0.0) AS maxseg,
                 min({'ts': ts, 'tb': tb, 'lon': lon, 'lat': lat})
                   AS f,
                 max({'ts': ts, 'tb': tb, 'lon': lon, 'lat': lat})
                   AS l
          FROM seg GROUP BY 1
        )
        SELECT entity, n_points,
               round(total, 6) AS total_km,
               round(maxseg, 6) AS max_segment_km,
               round(2.0 * 6371.0088 * asin(sqrt(
                 pow(sin(radians(l.lat - f.lat) / 2), 2)
                 + cos(radians(f.lat)) * cos(radians(l.lat))
                   * pow(sin(radians(l.lon - f.lon) / 2), 2)
               )), 6) AS net_km,
               round(CASE WHEN total > 0 THEN
                 2.0 * 6371.0088 * asin(sqrt(
                   pow(sin(radians(l.lat - f.lat) / 2), 2)
                   + cos(radians(f.lat)) * cos(radians(l.lat))
                     * pow(sin(radians(l.lon - f.lon) / 2), 2)
                 )) / total END, 6) AS straightness
        FROM agg
    """

    sql["prorate"] = """
        WITH iv AS (
          SELECT o_orderkey AS id,
                 CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                      AS DOUBLE) AS s,
                 CAST(date_diff('day', DATE '1970-01-01', o_orderdate)
                      + o_orderkey % 30 AS DOUBLE) AS e,
                 CAST(o_totalprice AS DOUBLE) AS a
          FROM orders
          WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
        ), marked AS (
          SELECT id, s, e, a,
                 CAST(floor(s / 30.0) AS BIGINT) AS lo,
                 CASE WHEN e > s
                      AND e = CAST(floor(e / 30.0) AS BIGINT) * 30.0
                      THEN CAST(floor(e / 30.0) AS BIGINT) - 1
                      ELSE CAST(floor(e / 30.0) AS BIGINT) END AS hi
          FROM iv WHERE e >= s
        ), exploded AS (
          SELECT m.id, m.s, m.e, m.a, t.b
          FROM marked m,
               unnest(range(m.lo, greatest(m.hi, m.lo) + 1)) AS t(b)
        ), alloc AS (
          SELECT id, CAST(b AS DOUBLE) * 30.0 AS bucket_start,
                 round(CASE WHEN e - s > 0
                       THEN a * ((least(e, CAST(b AS DOUBLE) * 30.0
                                           + 30.0)
                                  - greatest(s, CAST(b AS DOUBLE)
                                                * 30.0))
                                 / (e - s))
                       ELSE a END, 6) AS al
          FROM exploded
        )
        SELECT bucket_start,
               CAST(count(*) AS BIGINT) AS n_slices,
               floor(sum(al) * 100 + 0.5) / 100 AS revenue
        FROM alloc GROUP BY 1
    """

    sql["robust_zscore"] = """
        WITH base AS (
          SELECT l_returnflag AS g,
                 CAST(l_extendedprice AS DOUBLE) AS x
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), med AS (
          SELECT g, quantile_cont(x, 0.5) AS m FROM base GROUP BY 1
        ), mad AS (
          SELECT b.g, quantile_cont(abs(b.x - med.m), 0.5) AS d
          FROM base b JOIN med ON b.g = med.g
          GROUP BY b.g
        ), z AS (
          SELECT b.g,
                 CASE WHEN mad.d > 0
                 THEN round((b.x - med.m) / (1.4826 * mad.d), 6) END
                   AS rz
          FROM base b
          JOIN med ON b.g = med.g
          JOIN mad ON b.g = mad.g
        )
        SELECT g AS l_returnflag,
               CAST(floor(rz) AS INTEGER) AS z_band,
               CAST(count(*) AS BIGINT) AS n
        FROM z GROUP BY 1, 2
    """

    sql["expectations"] = """
        WITH wide AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN NOT coalesce(
                   l_orderkey IS NOT NULL, FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS v0,
                 CAST(sum(CASE WHEN NOT coalesce(
                   CAST(l_quantity AS DOUBLE) > 0, FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS v1,
                 CAST(sum(CASE WHEN NOT coalesce(
                   CAST(l_discount AS DOUBLE) >= 0.0
                   AND CAST(l_discount AS DOUBLE) <= 0.1, FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS v2,
                 CAST(sum(CASE WHEN NOT coalesce(
                   l_returnflag IN ('A', 'N', 'R'), FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS v3,
                 CAST(sum(CASE WHEN NOT coalesce(
                   CAST(l_extendedprice AS DOUBLE) >= 900.0
                   AND CAST(l_extendedprice AS DOUBLE) <= 200000.0,
                   FALSE)
                   THEN 1 ELSE 0 END) AS BIGINT) AS v4
          FROM lineitem
        )
        SELECT r.rule, r.col AS "column", w.n AS n_rows,
               CASE r.i WHEN 0 THEN w.v0 WHEN 1 THEN w.v1
                        WHEN 2 THEN w.v2 WHEN 3 THEN w.v3
                        ELSE w.v4 END AS n_violations,
               round(1.0 - CAST(CASE r.i WHEN 0 THEN w.v0
                                WHEN 1 THEN w.v1 WHEN 2 THEN w.v2
                                WHEN 3 THEN w.v3 ELSE w.v4 END
                           AS DOUBLE) / greatest(w.n, 1), 6)
                 AS pass_rate
        FROM wide w CROSS JOIN (
          VALUES (0, 'not_null', 'l_orderkey'),
                 (1, 'positive', 'l_quantity'),
                 (2, 'in_range', 'l_discount'),
                 (3, 'in_set', 'l_returnflag'),
                 (4, 'in_range', 'l_extendedprice')
        ) AS r(i, rule, col)
    """

    sql["item_similarity"] = """
        WITH e AS (
          SELECT DISTINCT CAST(o_custkey AS BIGINT) AS u,
                          CAST(l_partkey % 200 AS BIGINT) AS i
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), deg AS (
          SELECT i, CAST(count(*) AS BIGINT) AS d FROM e GROUP BY 1
        ), pairs AS (
          SELECT a.i AS ia, b.i AS ib,
                 CAST(count(*) AS BIGINT) AS w
          FROM e a JOIN e b ON a.u = b.u AND a.i < b.i
          GROUP BY 1, 2
        ), sym AS (
          SELECT ia AS item, ib AS neighbor, w FROM pairs
          UNION ALL
          SELECT ib, ia, w FROM pairs
        ), scored AS (
          SELECT s.item, s.neighbor, s.w,
                 CAST(s.w AS DOUBLE)
                 / sqrt(CAST(da.d AS DOUBLE) * CAST(db.d AS DOUBLE))
                   AS c
          FROM sym s
          JOIN deg da ON s.item = da.i
          JOIN deg db ON s.neighbor = db.i
        )
        SELECT item, neighbor, w AS weight,
               round(c, 6) AS cosine,
               CAST(rk AS BIGINT) AS rank
        FROM (
          SELECT item, neighbor, w, c,
                 row_number() OVER (PARTITION BY item
                                    ORDER BY c DESC, neighbor ASC)
                   AS rk
          FROM scored
        ) WHERE rk <= 5
    """

    sql["weighted_quantiles"] = """
        WITH base AS (
          SELECT l_returnflag AS g,
                 CAST(l_extendedprice AS DOUBLE) AS v,
                 CAST(l_quantity AS DOUBLE) AS w
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
            AND l_quantity IS NOT NULL AND l_quantity > 0
        ), marked AS (
          SELECT g, v,
                 sum(w) OVER (PARTITION BY g ORDER BY v
                              RANGE BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cw,
                 sum(w) OVER (PARTITION BY g) AS tw
          FROM base
        ), probs AS (
          SELECT unnest([0.25, 0.5, 0.75, 0.9]) AS prob
        )
        SELECT m.g AS l_returnflag, p.prob,
               min(m.v) AS value,
               round(min(m.tw), 2) AS total_weight
        FROM marked m CROSS JOIN probs p
        WHERE m.cw >= p.prob * m.tw
        GROUP BY 1, 2
    """

    sql["conversion_paths"] = """
        WITH base AS (
          SELECT user_id AS u, epoch_ns(ts) AS ts, event_id AS tb,
                 event_type AS t
          FROM events
        ), conv AS (
          SELECT u, min({'ts': ts, 'tb': tb}) AS cf
          FROM base WHERE t = 'purchase' GROUP BY 1
        ), pref AS (
          SELECT b.u, b.ts, b.tb, b.t,
                 row_number() OVER (PARTITION BY b.u
                                    ORDER BY b.ts ASC, b.tb ASC)
                   AS rn
          FROM base b JOIN conv c ON b.u = c.u
          WHERE {'ts': b.ts, 'tb': b.tb} <= c.cf
        ), per AS (
          SELECT u,
                 string_agg(t, '>' ORDER BY ts ASC, tb ASC) AS path
          FROM pref WHERE rn <= 5 GROUP BY u
        )
        SELECT path, CAST(count(*) AS BIGINT) AS n_users
        FROM per GROUP BY path
    """

    sql["lexical_diversity"] = """
        WITH tok AS (
          SELECT doc_id AS id,
                 CASE WHEN trim(text) = '' THEN
                   CAST([] AS VARCHAR[])
                 ELSE string_split_regex(lower(trim(text)), '\\s+')
                 END AS l
          FROM documents
        ), hap AS (
          SELECT id,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS h
          FROM (
            SELECT t.id, u.w, count(*) AS c
            FROM tok t, unnest(t.l) AS u(w)
            GROUP BY 1, 2
          ) GROUP BY id
        )
        SELECT t.id,
               CAST(len(t.l) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(t.l)) AS BIGINT) AS n_types,
               round(CASE WHEN len(t.l) > 0
                     THEN CAST(len(list_distinct(t.l)) AS DOUBLE)
                          / len(t.l) END, 6) AS type_token_ratio,
               round(CASE WHEN len(list_distinct(t.l)) > 0
                     THEN CAST(coalesce(hap.h, 0) AS DOUBLE)
                          / len(list_distinct(t.l)) END, 6)
                 AS hapax_frac
        FROM tok t LEFT JOIN hap ON t.id = hap.id
    """

    sql["weibull_fit"] = """
        WITH spans AS (
          SELECT user_id,
                 min(epoch_ns(ts) // 86400000000000) AS f,
                 max(epoch_ns(ts) // 86400000000000) AS l
          FROM events GROUP BY 1
        ), edge AS (
          SELECT max(epoch_ns(ts) // 86400000000000) AS e FROM events
        ), subj AS (
          SELECT CAST(l - f AS DOUBLE) AS t,
                 CASE WHEN l < e - 3 THEN 1 ELSE 0 END AS ev
          FROM spans CROSS JOIN edge
        ), per AS (
          SELECT t, CAST(sum(ev) AS BIGINT) AS d,
                 CAST(count(*) - sum(ev) AS BIGINT) AS c
          FROM subj GROUP BY 1
        ), staged AS (
          SELECT t, d, c,
                 CAST(sum(d + c) OVER () -
                      coalesce(sum(d + c) OVER (
                        ORDER BY t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) AS BIGINT) AS n
          FROM per
        ), km AS (
          SELECT t,
                 round(CASE WHEN max(CASE WHEN d = n THEN 1 ELSE 0 END)
                              OVER (ORDER BY t ASC
                                    ROWS UNBOUNDED PRECEDING) = 1
                       THEN 0.0
                       ELSE exp(sum(CASE WHEN d > 0 AND d < n
                                 THEN ln(1.0 - CAST(d AS DOUBLE) / n)
                                 ELSE 0.0 END)
                                OVER (ORDER BY t ASC
                                      ROWS UNBOUNDED PRECEDING))
                       END, 6) AS survival
          FROM staged
        ), pts AS (
          SELECT ln(t) AS x, ln(-ln(survival)) AS y
          FROM km WHERE survival > 0 AND survival < 1 AND t > 0
        ), m AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 sum(y) AS sy, sum(y * y) AS syy,
                 sum(x) AS s1, sum(x * y) AS s1y,
                 sum(x * x) AS s11
          FROM pts
        ), solved AS (
          SELECT n, sy, syy, s1y,
                 CASE WHEN abs(n * s11 - s1 * s1) > 1e-9
                 THEN (sy * s11 - s1 * s1y)
                      / (n * s11 - s1 * s1) END AS b0r,
                 CASE WHEN abs(n * s11 - s1 * s1) > 1e-9
                 THEN (n * s1y - s1 * sy)
                      / (n * s11 - s1 * s1) END AS b1r,
                 syy - sy * sy / n AS sst
          FROM m
        )
        SELECT round(round(b1r, 6), 6) AS shape,
               round(CASE WHEN round(b1r, 6) IS NOT NULL
                          AND round(b1r, 6) <> 0
                     THEN exp(-round(b0r, 6) / round(b1r, 6)) END, 6)
                 AS scale,
               CAST(n AS BIGINT) AS n_points,
               round(CASE WHEN sst > 1e-12 THEN
                 1.0 - (syy - b0r * sy - b1r * s1y) / sst
               END, 6) AS r2
        FROM solved
    """

    sql["inter_event_gaps"] = """
        WITH st AS (
          SELECT epoch_ns(ts) AS t,
                 lag(epoch_ns(ts)) OVER (
                   PARTITION BY user_id
                   ORDER BY epoch_ns(ts) ASC, event_id ASC
                 ) AS p
          FROM events
        ), gaps AS (
          SELECT CAST(t - p AS DOUBLE) AS gap FROM st
          WHERE p IS NOT NULL
        ), q AS (
          SELECT quantile_cont(gap, [0.5, 0.9, 0.99]) AS qs,
                 CAST(count(*) AS BIGINT) AS ng
          FROM gaps
        )
        SELECT unnest([0.5, 0.9, 0.99]) AS prob,
               unnest(qs) AS gap,
               ng AS n_gaps
        FROM q
    """

    sql["overdispersion"] = """
        WITH daily AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 86400000000000 AS d,
                 CAST(count(*) AS DOUBLE) AS cnt
          FROM events GROUP BY 1, 2
        ), per AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n,
                 sum(cnt) AS s, sum(cnt * cnt) AS s2
          FROM daily GROUP BY 1
        )
        SELECT grp, n,
               round(s / n, 6) AS mean,
               round(CASE WHEN n > 1
                     THEN (s2 - s * s / n) / (n - 1.0) END, 6)
                 AS variance,
               round(CASE WHEN n > 1 AND s / n > 0
                     THEN ((s2 - s * s / n) / (n - 1.0)) / (s / n)
                     END, 6) AS dispersion,
               CASE WHEN n > 1 AND s / n > 0
                    THEN ((s2 - s * s / n) / (n - 1.0)) / (s / n)
                         > 1.5 END AS overdispersed
        FROM per
    """

    sql["adoption_curve"] = """
        WITH first AS (
          SELECT user_id,
                 min(epoch_ns(ts) // 86400000000000) AS day
          FROM events GROUP BY 1
        ), daily AS (
          SELECT day, CAST(count(*) AS BIGINT) AS new_users
          FROM first GROUP BY 1
        )
        SELECT day, new_users,
               CAST(sum(new_users) OVER (
                 ORDER BY day ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum_users
        FROM daily
    """

    sql["kruskal_wallis"] = """
        WITH base AS (
          SELECT l_returnflag AS grp, CAST(l_quantity AS DOUBLE) AS v
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        ), per_gv AS (
          SELECT grp, v, CAST(count(*) AS BIGINT) AS ng
          FROM base GROUP BY 1, 2
        ), per_v AS (
          SELECT v, CAST(sum(ng) AS BIGINT) AS nv FROM per_gv GROUP BY 1
        ), ranks AS (
          SELECT v,
                 CAST(sum(nv) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) - nv + (nv + 1) / 2.0 AS r,
                 CAST(nv AS DOUBLE) * nv * nv - nv AS tie
          FROM per_v
        ), rg AS (
          SELECT g.grp, sum(g.ng * r.r) AS rsum,
                 CAST(sum(g.ng) AS DOUBLE) AS n
          FROM per_gv g JOIN ranks r USING (v) GROUP BY 1
        ), t AS (
          SELECT coalesce(sum(tie), 0.0) AS ties FROM ranks
        ), f AS (
          SELECT CAST(count(*) AS BIGINT) AS k_groups,
                 sum(n) AS nn, sum(rsum * rsum / n) AS s
          FROM rg
        ), h AS (
          SELECT k_groups, nn, s, ties,
                 k_groups - 1 AS dof,
                 CASE WHEN k_groups > 1 AND nn > 1
                      AND 1.0 - ties / (nn * nn * nn - nn) > 0
                 THEN (12.0 / (nn * (nn + 1.0)) * s - 3.0 * (nn + 1.0))
                      / (1.0 - ties / (nn * nn * nn - nn)) END AS hc
          FROM f CROSS JOIN t
        ), z AS (
          SELECT k_groups, nn, dof, hc,
                 CASE WHEN hc IS NOT NULL AND hc >= 0 THEN
                   (pow(hc / dof, 1.0 / 3.0)
                    - (1.0 - 2.0 / (9.0 * dof)))
                   / sqrt(2.0 / (9.0 * dof)) END AS zz
          FROM h
        ), pp AS (
          SELECT k_groups, nn, dof, hc, zz,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0))) AS erfc
          FROM z
        )
        SELECT k_groups,
               CAST(nn AS BIGINT) AS n_rows,
               round(hc, 6) AS h_stat,
               CAST(dof AS BIGINT) AS dof,
               round(CASE WHEN zz IS NULL THEN NULL
                     WHEN zz >= 0 THEN erfc / 2.0
                     ELSE 1.0 - erfc / 2.0 END, 6) AS p_value,
               CASE WHEN zz IS NOT NULL THEN
                 (CASE WHEN zz >= 0 THEN erfc / 2.0
                       ELSE 1.0 - erfc / 2.0 END) < 0.05 END
                 AS significant
        FROM pp
    """

    sql["g_test"] = """
        WITH joint AS (
          SELECT l_returnflag AS x, l_linestatus AS y,
                 CAST(count(*) AS BIGINT) AS n
          FROM lineitem
          WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
          GROUP BY 1, 2
        ), mx AS (
          SELECT x, CAST(sum(n) AS DOUBLE) AS nx FROM joint GROUP BY 1
        ), my AS (
          SELECT y, CAST(sum(n) AS DOUBLE) AS ny FROM joint GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n) AS DOUBLE) AS t,
                 CAST(count(DISTINCT x) AS BIGINT) AS r,
                 CAST(count(DISTINCT y) AS BIGINT) AS c
          FROM joint
        ), g2 AS (
          SELECT coalesce(sum(CAST(j.n AS DOUBLE)
                   * ln(CAST(j.n AS DOUBLE) * tot.t / (mx.nx * my.ny))),
                 0.0) AS gp
          FROM joint j JOIN mx USING (x) JOIN my USING (y)
          CROSS JOIN tot
        ), h AS (
          SELECT (r - 1) * (c - 1) AS dof, t,
                 CASE WHEN (r - 1) * (c - 1) > 0 THEN 2.0 * gp
                 ELSE 0.0 END AS g
          FROM g2 CROSS JOIN tot
        ), z AS (
          SELECT dof, t, g,
                 CASE WHEN dof > 0 AND g >= 0 THEN
                   (pow(g / dof, 1.0 / 3.0)
                    - (1.0 - 2.0 / (9.0 * dof)))
                   / sqrt(2.0 / (9.0 * dof)) END AS zz
          FROM h
        ), pp AS (
          SELECT dof, t, g, zz,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0))) AS erfc
          FROM z
        )
        SELECT 'l_returnflag' AS x_col, 'l_linestatus' AS y_col,
               round(g, 6) AS g_stat,
               CAST(dof AS BIGINT) AS dof,
               CAST(t AS BIGINT) AS n_rows,
               round(CASE WHEN zz IS NULL THEN NULL
                     WHEN zz >= 0 THEN erfc / 2.0
                     ELSE 1.0 - erfc / 2.0 END, 6) AS p_value,
               CASE WHEN zz IS NOT NULL THEN
                 (CASE WHEN zz >= 0 THEN erfc / 2.0
                       ELSE 1.0 - erfc / 2.0 END) < 0.05 END
                 AS significant
        FROM pp
    """

    sql["periodogram"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 (epoch_ns(ts) // 3600000000000) * 3600 AS b,
                 CAST(count(*) AS DOUBLE) AS x
          FROM events GROUP BY 1, 2
        ), span AS (
          SELECT grp, min(b) AS b0,
                 CAST((max(b) - min(b)) / 3600 + 1 AS BIGINT)
                   AS n_buckets
          FROM rollup GROUP BY 1
        ), e AS (
          SELECT r.grp, s.n_buckets, k.k,
                 CAST((r.b - s.b0) / 3600 AS BIGINT) AS t, r.x
          FROM rollup r
          JOIN span s USING (grp)
          CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS k) k
          WHERE k.k < s.n_buckets
        ), agg AS (
          SELECT grp, k, n_buckets,
                 sum(x * cos(2 * pi() * k * t / n_buckets)) AS c,
                 sum(x * sin(2 * pi() * k * t / n_buckets)) AS s
          FROM e GROUP BY 1, 2, 3
        )
        SELECT grp, CAST(k AS INTEGER) AS k, n_buckets,
               round(CAST(n_buckets AS DOUBLE) / k, 6) AS period_buckets,
               round(2.0 / n_buckets * (c * c + s * s), 6) AS power
        FROM agg
    """

    sql["croston"] = """
        WITH rollup AS (
          SELECT user_id AS grp,
                 (epoch_ns(ts) // 86400000000000) * 86400 AS b,
                 sum(CAST(value AS DOUBLE)) AS z
          FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL
          GROUP BY 1, 2
          HAVING sum(CAST(value AS DOUBLE)) <> 0
        ), seq AS (
          SELECT grp, z,
                 row_number() OVER (PARTITION BY grp ORDER BY b) AS j,
                 count(*) OVER (PARTITION BY grp) AS m,
                 CAST((b - lag(b) OVER (PARTITION BY grp ORDER BY b))
                   / 86400 AS DOUBLE) AS q
          FROM rollup
        ), folded AS (
          SELECT grp,
                 CAST(max(m) AS BIGINT) AS n_periods,
                 sum(CASE WHEN j = 1 THEN pow(0.8, m - 1)
                     ELSE 0.2 * pow(0.8, m - j) END * z) AS s,
                 sum(CASE WHEN j = 2 THEN pow(0.8, m - 2)
                     WHEN j > 2 THEN 0.2 * pow(0.8, m - j) END * q)
                   AS i
          FROM seq GROUP BY 1
        )
        SELECT grp AS user_id, n_periods,
               round(s, 6) AS demand_smooth,
               CASE WHEN n_periods >= 2 THEN round(i, 6) END
                 AS interval_smooth,
               CASE WHEN n_periods >= 2 AND i > 0
                 THEN round(s / i, 6) END AS croston_forecast
        FROM folded
    """

    sql["ridge_fit"] = """
        WITH base AS (
          SELECT l_returnflag,
                 CAST(l_extendedprice AS DOUBLE) AS y,
                 CAST(l_quantity AS DOUBLE) AS x1,
                 CAST(l_discount AS DOUBLE) AS x2
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
            AND l_quantity IS NOT NULL AND l_discount IS NOT NULL
        ), m AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 sum(y) AS sy, sum(y * y) AS syy,
                 sum(x1) AS s1, sum(x1 * y) AS s1y,
                 sum(x1 * x1) AS s11u, sum(x1 * x2) AS s12,
                 sum(x2) AS s2, sum(x2 * y) AS s2y,
                 sum(x2 * x2) AS s22u
          FROM base GROUP BY 1
        ), pen AS (
          SELECT *, s11u + 1000000.0 AS s11, s22u + 1000000.0 AS s22
          FROM m
        ), solved AS (
          SELECT l_returnflag, n, sy, syy, s1, s2, s1y, s2y, s12,
                 s11u, s22u,
                 n * (s11 * s22 - s12 * s12)
                 - s1 * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s12 - s11 * s2) AS det,
                 sy * (s11 * s22 - s12 * s12)
                 - s1 * (s1y * s22 - s12 * s2y)
                 + s2 * (s1y * s12 - s11 * s2y) AS det0,
                 n * (s1y * s22 - s12 * s2y)
                 - sy * (s1 * s22 - s12 * s2)
                 + s2 * (s1 * s2y - s1y * s2) AS det1,
                 n * (s11 * s2y - s1y * s12)
                 - s1 * (s1 * s2y - s1y * s2)
                 + sy * (s1 * s12 - s11 * s2) AS det2,
                 syy - sy * sy / n AS sst
          FROM pen
        ), coefs AS (
          SELECT l_returnflag, n, syy, sy, s1, s2, s1y, s2y, s12,
                 s11u, s22u, sst,
                 CASE WHEN abs(det) > 1e-9 THEN det0 / det END AS b0,
                 CASE WHEN abs(det) > 1e-9 THEN det1 / det END AS b1,
                 CASE WHEN abs(det) > 1e-9 THEN det2 / det END AS b2
          FROM solved
        )
        SELECT l_returnflag, CAST(n AS BIGINT) AS n,
               round(b0, 6) AS b0,
               round(b1, 6) AS b_l_quantity,
               round(b2, 6) AS b_l_discount,
               round(CASE WHEN sst > 1e-12 THEN
                 1.0 - (syy - 2.0 * (b0 * sy + b1 * s1y + b2 * s2y)
                        + b0 * b0 * n + b1 * b1 * s11u
                        + b2 * b2 * s22u
                        + 2.0 * (b0 * b1 * s1 + b0 * b2 * s2
                                 + b1 * b2 * s12)) / sst END, 6)
                 AS r2
        FROM coefs
    """

    sql["friedman_test"] = """
        WITH cells AS (
          SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate)
                   AS VARCHAR) AS blk,
                 l_returnflag AS trt,
                 CAST(sum(l_quantity) AS DOUBLE) AS v
          FROM lineitem
          GROUP BY 1, 2
        ), k AS (
          SELECT count(DISTINCT trt) AS k_tot FROM cells
        ), sizes AS (
          SELECT blk, count(*) AS kk FROM cells GROUP BY 1
        ), complete AS (
          SELECT c.* FROM cells c
          JOIN sizes s ON c.blk = s.blk
          CROSS JOIN k
          WHERE s.kk = k.k_tot
        ), ranked AS (
          SELECT blk, trt,
                 CAST(rank() OVER (PARTITION BY blk ORDER BY v)
                   AS DOUBLE)
                 + (CAST(count(*) OVER (PARTITION BY blk, v)
                     AS DOUBLE) - 1.0) / 2.0 AS r
          FROM complete
        ), per_t AS (
          SELECT trt, sum(r) AS rsum,
                 CAST(count(*) AS DOUBLE) AS nb
          FROM ranked GROUP BY 1
        ), sq AS (
          SELECT coalesce(sum(r * r), 0.0) AS rr FROM ranked
        ), folded AS (
          SELECT CAST(count(*) AS BIGINT) AS k_treatments,
                 max(nb) AS n, sum(rsum * rsum) AS ss,
                 sum(rsum) AS rt
          FROM per_t
        ), dropped AS (
          SELECT CAST(count(*) AS BIGINT) AS n_dropped
          FROM sizes CROSS JOIN k WHERE sizes.kk <> k.k_tot
        ), h AS (
          SELECT k_treatments, n, n_dropped,
                 k_treatments - 1 AS dof,
                 CASE WHEN k_treatments > 1 AND n > 0
                      AND abs(rr - n * k_treatments
                              * (k_treatments + 1.0)
                              * (k_treatments + 1.0) / 4.0) > 1e-12
                 THEN (k_treatments - 1.0)
                      * (ss - 2.0 * (n * (k_treatments + 1.0) / 2.0)
                           * rt
                         + k_treatments
                           * (n * (k_treatments + 1.0) / 2.0)
                           * (n * (k_treatments + 1.0) / 2.0))
                      / (rr - n * k_treatments * (k_treatments + 1.0)
                           * (k_treatments + 1.0) / 4.0) END AS chi2
          FROM folded CROSS JOIN sq CROSS JOIN dropped
        ), z AS (
          SELECT k_treatments, n, n_dropped, dof, chi2,
                 CASE WHEN chi2 IS NOT NULL AND chi2 >= 0 THEN
                   (pow(chi2 / dof, 1.0 / 3.0)
                    - (1.0 - 2.0 / (9.0 * dof)))
                   / sqrt(2.0 / (9.0 * dof)) END AS zz
          FROM h
        ), pp AS (
          SELECT k_treatments, n, n_dropped, dof, chi2, zz,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0))) AS erfc
          FROM z
        )
        SELECT k_treatments,
               CAST(coalesce(n, 0) AS BIGINT) AS n_blocks,
               n_dropped AS n_blocks_dropped,
               round(chi2, 6) AS chi2,
               CAST(dof AS BIGINT) AS dof,
               round(CASE WHEN zz IS NULL THEN NULL
                     WHEN zz >= 0 THEN erfc / 2.0
                     ELSE 1.0 - erfc / 2.0 END, 6) AS p_value,
               CASE WHEN zz IS NOT NULL THEN
                 (CASE WHEN zz >= 0 THEN erfc / 2.0
                       ELSE 1.0 - erfc / 2.0 END) < 0.05 END
                 AS significant
        FROM pp
    """

    sql["uplift_bins"] = """
        WITH base AS (
          SELECT (o_orderkey % 1024) / 1024.0 AS v,
                 CAST(o_orderkey % 2 AS INTEGER) AS t,
                 CAST(CASE WHEN (o_orderkey % 1024)
                        + 300 * (o_orderkey % 2)
                          * (CASE WHEN o_orderkey % 3 = 0
                             THEN 1 ELSE 0 END) > 900
                      THEN 1 ELSE 0 END AS INTEGER) AS o
          FROM orders
        ), per_v AS (
          SELECT v, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(t) AS BIGINT) AS nt,
                 CAST(sum(t * o) AS BIGINT) AS ct,
                 CAST(sum((1 - t) * o) AS BIGINT) AS cc
          FROM base GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(n) AS BIGINT) AS total FROM per_v
        ), binned AS (
          SELECT CAST(least(
                   ((sum(n) OVER (ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                      ROW) - n) * 10) // tot.total,
                   9) AS INTEGER) AS bin,
                 n, nt, ct, cc
          FROM per_v CROSS JOIN tot
        ), agg AS (
          SELECT bin,
                 CAST(sum(nt) AS BIGINT) AS n_treat,
                 CAST(sum(n) - sum(nt) AS BIGINT) AS n_ctrl,
                 CAST(sum(ct) AS BIGINT) AS conv_treat,
                 CAST(sum(cc) AS BIGINT) AS conv_ctrl
          FROM binned GROUP BY 1
        )
        SELECT bin, n_treat, n_ctrl, conv_treat, conv_ctrl,
               round(CASE WHEN n_treat > 0
                 THEN CAST(conv_treat AS DOUBLE) / n_treat END, 6)
                 AS rate_treat,
               round(CASE WHEN n_ctrl > 0
                 THEN CAST(conv_ctrl AS DOUBLE) / n_ctrl END, 6)
                 AS rate_ctrl,
               round(CASE WHEN n_treat > 0
                 THEN CAST(conv_treat AS DOUBLE) / n_treat END
                 - CASE WHEN n_ctrl > 0
                 THEN CAST(conv_ctrl AS DOUBLE) / n_ctrl END, 6)
                 AS uplift
        FROM agg
    """

    sql["brier_decomposition"] = """
        WITH base AS (
          SELECT (o_orderkey % 1024) / 1024.0 AS s,
                 CAST(CASE WHEN (o_orderkey % 1024)
                        + 120 * (o_orderkey % 5) > 760
                      THEN 1 ELSE 0 END AS DOUBLE) AS y
          FROM orders
        ), per_s AS (
          SELECT s, CAST(count(*) AS DOUBLE) AS nk, sum(y) AS yk
          FROM base GROUP BY 1
        ), folded AS (
          SELECT sum(nk) AS n,
                 CAST(count(*) AS BIGINT) AS n_forecast_values,
                 sum(yk) AS ysum,
                 sum(nk * (s - yk / nk) * (s - yk / nk)) AS rel_raw,
                 sum(yk * yk / nk) AS res_raw
          FROM per_s
        )
        SELECT CAST(n AS BIGINT) AS n,
               n_forecast_values,
               round(rel_raw / n
                     - (res_raw / n - (ysum / n) * (ysum / n))
                     + (ysum / n) * (1.0 - ysum / n), 6) AS brier,
               round(rel_raw / n, 6) AS reliability,
               round(res_raw / n - (ysum / n) * (ysum / n), 6)
                 AS resolution,
               round((ysum / n) * (1.0 - ysum / n), 6) AS uncertainty
        FROM folded
    """

    sql["pettitt_changepoint"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 (epoch_ns(ts) // 3600000000000) * 3600
                   AS bucket_epoch,
                 sum(CAST(value AS DOUBLE)) AS x
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), ranked AS (
          SELECT grp, bucket_epoch,
                 CAST(rank() OVER (PARTITION BY grp ORDER BY x)
                   AS DOUBLE)
                 + (CAST(count(*) OVER (PARTITION BY grp, x)
                     AS DOUBLE) - 1.0) / 2.0 AS r,
                 CAST(count(*) OVER (PARTITION BY grp) AS DOUBLE)
                   AS n
          FROM rollup
        ), u AS (
          SELECT grp, bucket_epoch, n,
                 2.0 * sum(r) OVER (PARTITION BY grp
                   ORDER BY bucket_epoch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - CAST(row_number() OVER (PARTITION BY grp
                     ORDER BY bucket_epoch) AS DOUBLE) * (n + 1.0)
                   AS uu
          FROM ranked
        ), best AS (
          SELECT grp, bucket_epoch, n, abs(uu) AS k
          FROM u
          QUALIFY row_number() OVER (PARTITION BY grp
            ORDER BY abs(uu) DESC, bucket_epoch ASC) = 1
        )
        SELECT grp,
               CAST(n AS BIGINT) AS n_buckets,
               CASE WHEN n >= 2 THEN bucket_epoch END
                 AS change_bucket,
               CASE WHEN n >= 2 THEN round(k, 6) END AS k_stat,
               round(CASE WHEN n >= 2 THEN least(1.0,
                 2.0 * exp(-6.0 * k * k / (n*n*n + n*n))) END, 6)
                 AS p_value,
               CASE WHEN n >= 2 THEN least(1.0,
                 2.0 * exp(-6.0 * k * k / (n*n*n + n*n))) < 0.05 END
                 AS significant
        FROM best
    """

    sql["hurst_exponent"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 (epoch_ns(ts) // 3600000000000) * 3600 AS b,
                 sum(CAST(value AS DOUBLE)) AS x
          FROM events WHERE value IS NOT NULL
          GROUP BY 1, 2
        ), seq AS (
          SELECT grp, x, b,
                 row_number() OVER (PARTITION BY grp ORDER BY b) - 1
                   AS j,
                 count(*) OVER (PARTITION BY grp) AS np
          FROM rollup
        ), expl AS (
          SELECT s.grp, s.x, s.b, s.np, sc.s,
                 s.j // sc.s AS blk
          FROM seq s
          CROSS JOIN (SELECT unnest([8, 16, 32, 64]) AS s) sc
        ), full_blocks AS (
          SELECT * FROM (
            SELECT *, count(*) OVER (PARTITION BY grp, s, blk)
              AS bn FROM expl
          ) WHERE bn = s
        ), marked AS (
          SELECT grp, s, blk, np,
                 sum(x) OVER (PARTITION BY grp, s, blk ORDER BY b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - CAST(row_number() OVER (PARTITION BY grp, s, blk
                     ORDER BY b) AS DOUBLE)
                   * avg(x) OVER (PARTITION BY grp, s, blk) AS cd,
                 avg(x * x) OVER (PARTITION BY grp, s, blk)
                 - avg(x) OVER (PARTITION BY grp, s, blk)
                   * avg(x) OVER (PARTITION BY grp, s, blk) AS var
          FROM full_blocks
        ), per_blk AS (
          SELECT grp, s, blk, np,
                 max(cd) - min(cd) AS rng, first(var) AS v
          FROM marked GROUP BY 1, 2, 3, 4
        ), rs AS (
          SELECT grp, s, np, avg(rng / sqrt(v)) AS ars
          FROM per_blk WHERE v > 0 GROUP BY 1, 2, 3
          HAVING avg(rng / sqrt(v)) > 0
        ), pts AS (
          SELECT grp, np, ln(CAST(s AS DOUBLE)) AS lx, ln(ars) AS ly
          FROM rs
        ), mom AS (
          SELECT grp,
                 CAST(count(*) AS DOUBLE) AS k,
                 sum(lx) AS sx, sum(ly) AS sy,
                 sum(lx * lx) AS sxx, sum(lx * ly) AS sxy
          FROM pts GROUP BY 1
        ), universe AS (
          SELECT grp, CAST(count(*) AS BIGINT) AS n_points
          FROM rollup GROUP BY 1
        )
        SELECT u.grp, u.n_points,
               CAST(coalesce(k, 0.0) AS BIGINT) AS n_scales,
               round(CASE WHEN k >= 2
                     AND abs(k * sxx - sx * sx) > 1e-12
                 THEN (k * sxy - sx * sy) / (k * sxx - sx * sx) END,
                 6) AS hurst
        FROM universe u LEFT JOIN mom m ON u.grp = m.grp
    """

    sql["poisson_rate_test"] = """
        WITH fa AS (
          SELECT CAST(count(*) AS BIGINT) AS n_a,
                 (CAST(max(epoch_ns(ts)) AS DOUBLE)
                  - CAST(min(epoch_ns(ts)) AS DOUBLE)) / 1e9
                   AS exposure_a
          FROM events WHERE event_type = 'purchase'
            AND ts IS NOT NULL
        ), fb AS (
          SELECT CAST(count(*) AS BIGINT) AS n_b,
                 (CAST(max(epoch_ns(ts)) AS DOUBLE)
                  - CAST(min(epoch_ns(ts)) AS DOUBLE)) / 1e9
                   AS exposure_b
          FROM events WHERE event_type = 'click'
            AND ts IS NOT NULL
        ), j AS (
          SELECT * FROM fa CROSS JOIN fb
        ), z AS (
          SELECT *,
                 CASE WHEN n_a + n_b > 0 AND exposure_a > 0
                      AND exposure_b > 0
                      AND (n_a + n_b)
                        * (exposure_a / (exposure_a + exposure_b))
                        * (1.0 - exposure_a
                           / (exposure_a + exposure_b)) > 0
                 THEN (n_a - (n_a + n_b)
                        * (exposure_a / (exposure_a + exposure_b)))
                      / sqrt((n_a + n_b)
                        * (exposure_a / (exposure_a + exposure_b))
                        * (1.0 - exposure_a
                           / (exposure_a + exposure_b))) END AS zz
          FROM j
        ), pp AS (
          SELECT *,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0)))
                   AS p
          FROM z
        )
        SELECT n_a, n_b,
               round(exposure_a, 6) AS exposure_a,
               round(exposure_b, 6) AS exposure_b,
               round(CASE WHEN exposure_a > 0
                 THEN n_a / exposure_a END, 6) AS rate_a,
               round(CASE WHEN exposure_b > 0
                 THEN n_b / exposure_b END, 6) AS rate_b,
               round(CASE WHEN exposure_b > 0 AND exposure_a > 0
                      AND n_b / exposure_b > 0
                 THEN (n_a / exposure_a) / (n_b / exposure_b) END, 6)
                 AS rate_ratio,
               round(zz, 6) AS z,
               round(CASE WHEN zz IS NOT NULL THEN p END, 6)
                 AS p_value,
               CASE WHEN zz IS NOT NULL THEN p < 0.05 END
                 AS significant
        FROM pp
    """

    sql["mcnemar_test"] = """
        WITH base AS (
          SELECT CASE WHEN o_orderkey % 7 < 4 THEN 1 ELSE 0 END AS a,
                 CASE WHEN o_orderkey % 5 < 3 THEN 1 ELSE 0 END AS b
          FROM orders
        ), folded AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS b01,
                 CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS b10
          FROM base
        ), h AS (
          SELECT n, b01, b10, b01 + b10 AS nd,
                 CASE WHEN b01 + b10 > 0
                 THEN pow(abs(CAST(b01 AS DOUBLE) - b10) - 1.0, 2)
                      / (b01 + b10) END AS chi2
          FROM folded
        ), pp AS (
          SELECT *,
                 sqrt(chi2 / 2.0) AS az
          FROM h
        ), qq AS (
          SELECT *,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * az))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * az), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * az), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * az), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * az), 5))
                 * exp(-az * az) AS p
          FROM pp
        )
        SELECT n, CAST(nd AS BIGINT) AS n_discordant, b01, b10,
               round(chi2, 6) AS chi2,
               round(CASE WHEN chi2 IS NOT NULL THEN p END, 6)
                 AS p_value,
               CASE WHEN chi2 IS NOT NULL THEN p < 0.05 END
                 AS significant
        FROM qq
    """

    sql["cochran_q"] = """
        WITH qty AS (
          SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate)
                   AS VARCHAR) AS blk,
                 l_returnflag AS trt,
                 sum(l_quantity) AS q
          FROM lineitem GROUP BY 1, 2
        ), cells AS (
          SELECT blk, trt,
                 CASE WHEN q > avg(q) OVER (PARTITION BY blk)
                 THEN 1 ELSE 0 END AS o
          FROM qty
        ), k AS (
          SELECT count(DISTINCT trt) AS k_tot FROM cells
        ), sizes AS (
          SELECT blk, count(*) AS kk FROM cells GROUP BY 1
        ), complete AS (
          SELECT c.* FROM cells c
          JOIN sizes s ON c.blk = s.blk CROSS JOIN k
          WHERE s.kk = k.k_tot
        ), per_b AS (
          SELECT blk, CAST(sum(o) AS DOUBLE) AS r
          FROM complete GROUP BY 1
        ), per_t AS (
          SELECT trt, CAST(sum(o) AS DOUBLE) AS c
          FROM complete GROUP BY 1
        ), fb AS (
          SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                 coalesce(sum(r), 0.0) AS t,
                 coalesce(sum(r * r), 0.0) AS rr
          FROM per_b
        ), ft AS (
          SELECT CAST(count(*) AS BIGINT) AS k_treatments,
                 coalesce(sum(c * c), 0.0) AS cc
          FROM per_t
        ), dropped AS (
          SELECT CAST(count(*) AS BIGINT) AS n_dropped
          FROM sizes CROSS JOIN k WHERE sizes.kk <> k.k_tot
        ), h AS (
          SELECT k_treatments, n_blocks, n_dropped,
                 k_treatments - 1 AS dof,
                 CASE WHEN k_treatments > 1 AND n_blocks > 0
                      AND abs(k_treatments * t - rr) > 1e-12
                 THEN (k_treatments - 1.0)
                      * (k_treatments * cc - t * t)
                      / (k_treatments * t - rr) END AS q
          FROM fb CROSS JOIN ft CROSS JOIN dropped
        ), z AS (
          SELECT *,
                 CASE WHEN q IS NOT NULL AND q >= 0 THEN
                   (pow(q / dof, 1.0 / 3.0)
                    - (1.0 - 2.0 / (9.0 * dof)))
                   / sqrt(2.0 / (9.0 * dof)) END AS zz
          FROM h
        ), pp AS (
          SELECT *,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0)))
                   AS erfc
          FROM z
        )
        SELECT k_treatments, n_blocks,
               n_dropped AS n_blocks_dropped,
               round(q, 6) AS q_stat,
               CAST(dof AS BIGINT) AS dof,
               round(CASE WHEN zz IS NULL THEN NULL
                     WHEN zz >= 0 THEN erfc / 2.0
                     ELSE 1.0 - erfc / 2.0 END, 6) AS p_value,
               CASE WHEN zz IS NOT NULL THEN
                 (CASE WHEN zz >= 0 THEN erfc / 2.0
                       ELSE 1.0 - erfc / 2.0 END) < 0.05 END
                 AS significant
        FROM pp
    """

    sql["inequality_indices"] = """
        WITH base AS (
          SELECT c_mktsegment AS grp,
                 CAST(c_acctbal AS DOUBLE) AS x
          FROM customer
          WHERE c_acctbal IS NOT NULL AND c_acctbal > 0
        ), mom AS (
          SELECT grp,
                 CAST(count(*) AS BIGINT) AS n,
                 sum(x) AS sx, sum(ln(x)) AS slx,
                 sum(x * ln(x)) AS sxlx, sum(sqrt(x)) AS srx
          FROM base GROUP BY 1
        )
        SELECT grp, n,
               round(sx / n, 6) AS mean,
               round(sxlx / sx - ln(sx / n), 6) AS theil_t,
               round(ln(sx / n) - slx / n, 6) AS theil_l,
               round(1.0 - pow(srx / n, 2) / (sx / n), 6)
                 AS atkinson_05
        FROM mom
    """

    sql["span_corruption"] = """
        WITH base AS (
          SELECT doc_id,
                 CASE WHEN trim(text) = '' THEN 0
                 ELSE len(string_split_regex(trim(text), '\\s+')) END
                   AS n_tokens
          FROM documents
        ), planned AS (
          SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                 least(CAST(floor(n_tokens * 0.15 / 3.0) AS BIGINT),
                       n_tokens // 3) AS n_spans
          FROM base
        ), spans AS (
          SELECT doc_id, n_tokens, n_spans,
                 unnest(generate_series(0, n_spans - 1)) AS span_id
          FROM planned WHERE n_spans >= 1
        ), placed AS (
          SELECT doc_id, span_id, n_tokens, n_spans,
                 n_tokens // n_spans AS seg,
                 CAST(('0x' || substr(md5('span:' || CAST(doc_id
                     AS VARCHAR) || ':' || CAST(span_id AS VARCHAR)),
                   1, 15)) AS BIGINT)
                 % (n_tokens // n_spans - 3 + 1) AS off
          FROM spans
        )
        SELECT doc_id,
               CAST(span_id AS INTEGER) AS span_id,
               CAST(span_id * seg + off AS BIGINT) AS start_token,
               CAST(3 AS INTEGER) AS span_len,
               n_tokens,
               CAST(n_spans AS INTEGER) AS n_spans
        FROM placed
    """

    sql["runs_test"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 (epoch_ns(ts) // 3600000000000) * 3600 AS b,
                 sum(CAST(value AS DOUBLE)) AS x
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), marked AS (
          SELECT grp,
                 CASE WHEN x > avg(x) OVER (PARTITION BY grp)
                 THEN 1 ELSE 0 END AS a,
                 b
          FROM rollup
        ), runs AS (
          SELECT grp, a,
                 CASE WHEN lag(a) OVER (PARTITION BY grp ORDER BY b)
                        IS NULL
                      OR a <> lag(a) OVER (PARTITION BY grp
                        ORDER BY b)
                 THEN 1 ELSE 0 END AS nr
          FROM marked
        ), folded AS (
          SELECT grp,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 CAST(sum(a) AS BIGINT) AS n_above,
                 CAST(count(*) - sum(a) AS BIGINT) AS n_below,
                 CAST(sum(nr) AS BIGINT) AS n_runs
          FROM runs GROUP BY 1
        ), z AS (
          SELECT *,
                 CASE WHEN n_above > 0 AND n_below > 0
                      AND n_buckets > 1
                      AND 2.0 * n_above * n_below
                        * (2.0 * n_above * n_below - n_buckets)
                        / (CAST(n_buckets AS DOUBLE) * n_buckets
                           * (n_buckets - 1.0)) > 0
                 THEN (n_runs - (2.0 * n_above * n_below
                         / n_buckets + 1.0))
                      / sqrt(2.0 * n_above * n_below
                        * (2.0 * n_above * n_below - n_buckets)
                        / (CAST(n_buckets AS DOUBLE) * n_buckets
                           * (n_buckets - 1.0))) END AS zz
          FROM folded
        ), pp AS (
          SELECT *,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0)))
                   AS p
          FROM z
        )
        SELECT grp, n_buckets, n_above, n_below, n_runs,
               round(zz, 6) AS z,
               round(CASE WHEN zz IS NOT NULL THEN p END, 6)
                 AS p_value,
               CASE WHEN zz IS NOT NULL THEN p < 0.05 END
                 AS significant
        FROM pp
    """

    sql["decomposition_strength"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 epoch_ns(ts) // 3600000000000 * 3600 AS bucket_epoch,
                 sum(value) AS metric
          FROM events GROUP BY 1, 2
        ), wt AS (
          SELECT grp, bucket_epoch,
                 CAST(metric AS DOUBLE) AS metric,
                 CAST((bucket_epoch // 3600) % 24 AS INT) AS phase,
                 avg(CAST(metric AS DOUBLE)) OVER (
                   PARTITION BY grp ORDER BY bucket_epoch
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING
                 ) AS trend
          FROM rollup
        ), pm AS (
          SELECT grp, phase, avg(metric - trend) AS s_raw
          FROM wt GROUP BY 1, 2
        ), gm AS (
          SELECT grp, avg(s_raw) AS s_bar FROM pm GROUP BY 1
        ), se AS (
          SELECT grp, phase, s_raw - s_bar AS seasonal
          FROM pm JOIN gm USING (grp)
        ), comp AS (
          -- the decomposition output ROUNDS each component to 6
          -- decimals; the strength fold must see the same values
          SELECT wt.grp,
                 round(wt.metric - wt.trend - se.seasonal, 6) AS r,
                 round(wt.trend, 6)
                   + round(wt.metric - wt.trend - se.seasonal, 6)
                   AS tr,
                 round(se.seasonal, 6)
                   + round(wt.metric - wt.trend - se.seasonal, 6)
                   AS sea
          FROM wt JOIN se ON wt.grp = se.grp AND wt.phase = se.phase
        ), mom AS (
          SELECT grp,
                 CAST(count(*) AS BIGINT) AS n_buckets,
                 avg(r * r) - avg(r) * avg(r) AS vr,
                 avg(tr * tr) - avg(tr) * avg(tr) AS vt,
                 avg(sea * sea) - avg(sea) * avg(sea) AS vs
          FROM comp GROUP BY 1
        )
        SELECT grp, n_buckets,
               round(CASE WHEN vt > 0
                 THEN greatest(0.0, 1.0 - vr / vt) END, 6)
                 AS trend_strength,
               round(CASE WHEN vs > 0
                 THEN greatest(0.0, 1.0 - vr / vs) END, 6)
                 AS seasonal_strength
        FROM mom
    """

    sql["page_trend"] = """
        WITH cells AS (
          SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate)
                   AS VARCHAR) AS blk,
                 l_returnflag AS trt,
                 CAST(sum(l_quantity) AS DOUBLE) AS v
          FROM lineitem GROUP BY 1, 2
        ), k AS (
          SELECT count(DISTINCT trt) AS k_tot FROM cells
        ), sizes AS (
          SELECT blk, count(*) AS kk FROM cells GROUP BY 1
        ), complete AS (
          SELECT c.* FROM cells c
          JOIN sizes s ON c.blk = s.blk CROSS JOIN k
          WHERE s.kk = k.k_tot
        ), ranked AS (
          SELECT trt,
                 CAST(rank() OVER (PARTITION BY blk ORDER BY v)
                   AS DOUBLE)
                 + (CAST(count(*) OVER (PARTITION BY blk, v)
                     AS DOUBLE) - 1.0) / 2.0 AS r
          FROM complete
        ), per_t AS (
          SELECT trt, sum(r) AS rsum,
                 CAST(count(*) AS DOUBLE) AS nb
          FROM ranked GROUP BY 1
        ), ordered AS (
          SELECT *, CAST(row_number() OVER (ORDER BY trt) AS DOUBLE)
                   AS j
          FROM per_t
        ), folded AS (
          SELECT CAST(count(*) AS BIGINT) AS k_treatments,
                 max(nb) AS n, sum(j * rsum) AS l
          FROM ordered
        ), dropped AS (
          SELECT CAST(count(*) AS BIGINT) AS n_dropped
          FROM sizes CROSS JOIN k WHERE sizes.kk <> k.k_tot
        ), z AS (
          SELECT k_treatments, n, n_dropped, l,
                 CASE WHEN k_treatments > 1 AND n > 0
                      AND n * k_treatments * k_treatments
                        * (k_treatments + 1.0)
                        * (k_treatments * k_treatments - 1.0)
                        / 144.0 > 0
                 THEN (l - n * k_treatments * (k_treatments + 1.0)
                         * (k_treatments + 1.0) / 4.0)
                      / sqrt(n * k_treatments * k_treatments
                        * (k_treatments + 1.0)
                        * (k_treatments * k_treatments - 1.0)
                        / 144.0) END AS zz
          FROM folded CROSS JOIN dropped
        ), pp AS (
          SELECT *,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0)))
                   AS erfc
          FROM z
        )
        SELECT k_treatments,
               CAST(coalesce(n, 0) AS BIGINT) AS n_blocks,
               n_dropped AS n_blocks_dropped,
               round(l, 6) AS l_stat,
               round(zz, 6) AS z,
               round(CASE WHEN zz IS NULL THEN NULL
                     WHEN zz >= 0 THEN erfc / 2.0
                     ELSE 1.0 - erfc / 2.0 END, 6) AS p_value,
               CASE WHEN zz IS NOT NULL THEN
                 (CASE WHEN zz >= 0 THEN erfc / 2.0
                       ELSE 1.0 - erfc / 2.0 END) < 0.05 END
                 AS significant
        FROM pp
    """

    sql["msprt_test"] = """
        WITH fa AS (
          SELECT CAST(count(*) AS BIGINT) AS n_a,
                 sum(CAST(value AS DOUBLE)) AS s,
                 sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE))
                   AS ss
          FROM events
          WHERE event_type = 'purchase' AND value IS NOT NULL
        ), fb AS (
          SELECT CAST(count(*) AS BIGINT) AS n_b,
                 sum(CAST(value AS DOUBLE)) AS s,
                 sum(CAST(value AS DOUBLE) * CAST(value AS DOUBLE))
                   AS ss
          FROM events
          WHERE event_type = 'click' AND value IS NOT NULL
        ), m AS (
          SELECT n_a, n_b,
                 fa.s / n_a AS ma, fb.s / n_b AS mb,
                 (fa.ss - n_a * (fa.s / n_a) * (fa.s / n_a))
                   / (n_a - 1.0) AS va,
                 (fb.ss - n_b * (fb.s / n_b) * (fb.s / n_b))
                   / (n_b - 1.0) AS vb
          FROM fa CROSS JOIN fb
        ), lam AS (
          SELECT n_a, n_b, ma, mb, ma - mb AS delta,
                 va / n_a + vb / n_b AS se2,
                 CASE WHEN n_a >= 2 AND n_b >= 2
                      AND va / n_a + vb / n_b > 0
                 THEN sqrt((va / n_a + vb / n_b)
                        / (va / n_a + vb / n_b + 1.0))
                      * exp(1.0 * (ma - mb) * (ma - mb)
                        / (2.0 * (va / n_a + vb / n_b)
                           * (va / n_a + vb / n_b + 1.0))) END AS l
          FROM m
        )
        SELECT n_a, n_b,
               round(ma, 6) AS mean_a,
               round(mb, 6) AS mean_b,
               round(delta, 6) AS delta,
               round(l, 6) AS lambda_stat,
               round(CASE WHEN l IS NOT NULL
                 THEN least(1.0, 1.0 / l) END, 6) AS p_always_valid,
               CASE WHEN l IS NOT NULL
                 THEN least(1.0, 1.0 / l) < 0.05 END AS significant
        FROM lam
    """

    sql["quantile_treatment_effect"] = """
        WITH j AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS x,
                 p_type LIKE 'PROMO%' AS promo
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), q AS (
          SELECT CAST(0.1 AS DOUBLE) AS prob,
                 quantile_cont(x, 0.1) FILTER (promo) AS qt,
                 quantile_cont(x, 0.1) FILTER (NOT promo) AS qc
          FROM j
          UNION ALL
          SELECT CAST(0.25 AS DOUBLE) AS prob,
                 quantile_cont(x, 0.25) FILTER (promo) AS qt,
                 quantile_cont(x, 0.25) FILTER (NOT promo) AS qc
          FROM j
          UNION ALL
          SELECT CAST(0.5 AS DOUBLE) AS prob,
                 quantile_cont(x, 0.5) FILTER (promo) AS qt,
                 quantile_cont(x, 0.5) FILTER (NOT promo) AS qc
          FROM j
          UNION ALL
          SELECT CAST(0.75 AS DOUBLE) AS prob,
                 quantile_cont(x, 0.75) FILTER (promo) AS qt,
                 quantile_cont(x, 0.75) FILTER (NOT promo) AS qc
          FROM j
          UNION ALL
          SELECT CAST(0.9 AS DOUBLE) AS prob,
                 quantile_cont(x, 0.9) FILTER (promo) AS qt,
                 quantile_cont(x, 0.9) FILTER (NOT promo) AS qc
          FROM j
        )
        SELECT prob,
               round(qt, 6) AS q_treat,
               round(qc, 6) AS q_ctrl,
               round(qt - qc, 6) AS qte
        FROM q
    """

    sql["wasserstein_1d"] = """
        WITH j AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS v,
                 p_type LIKE 'PROMO%' AS promo
          FROM lineitem JOIN part ON l_partkey = p_partkey
          WHERE l_extendedprice IS NOT NULL
        ), per_v AS (
          SELECT v,
                 CAST(sum(CASE WHEN promo THEN 1 ELSE 0 END)
                   AS BIGINT) AS ca,
                 CAST(sum(CASE WHEN promo THEN 0 ELSE 1 END)
                   AS BIGINT) AS cb
          FROM j GROUP BY 1
        ), tot AS (
          SELECT CAST(sum(ca) AS DOUBLE) AS na,
                 CAST(sum(cb) AS DOUBLE) AS nb
          FROM per_v
        ), cdf AS (
          SELECT v,
                 sum(ca) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS la,
                 sum(cb) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS lb,
                 lead(v) OVER (ORDER BY v) AS nv
          FROM per_v
        ), terms AS (
          SELECT CASE WHEN nv IS NOT NULL
                 THEN abs(la / tot.na - lb / tot.nb) * (nv - v)
                 ELSE 0.0 END AS t
          FROM cdf CROSS JOIN tot
        )
        SELECT CAST(tot.na AS BIGINT) AS n_a,
               CAST(tot.nb AS BIGINT) AS n_b,
               CASE WHEN tot.na > 0 AND tot.nb > 0 THEN
                 round((SELECT coalesce(sum(t), 0.0) FROM terms), 6)
               END AS wasserstein
        FROM tot
    """

    sql["js_divergence"] = """
        WITH tagged AS (
          SELECT lang AS c,
                 CASE WHEN source <= 'src4' THEN 1 ELSE 0 END AS ia,
                 CASE WHEN source <= 'src4' THEN 0 ELSE 1 END AS ib
          FROM documents WHERE lang IS NOT NULL
        ), per_c AS (
          SELECT c, CAST(sum(ia) AS DOUBLE) AS pa,
                 CAST(sum(ib) AS DOUBLE) AS pb
          FROM tagged GROUP BY 1
        ), tot AS (
          SELECT sum(pa) AS na, sum(pb) AS nb FROM per_c
        ), folded AS (
          SELECT max(tot.na) AS fa, max(tot.nb) AS fb,
                 CAST(count(*) AS BIGINT) AS n_categories,
                 sum(
                   CASE WHEN pa / tot.na > 0
                   THEN pa / tot.na * ln((pa / tot.na)
                     / ((pa / tot.na + pb / tot.nb) / 2.0))
                   ELSE 0.0 END
                   + CASE WHEN pb / tot.nb > 0
                   THEN pb / tot.nb * ln((pb / tot.nb)
                     / ((pa / tot.na + pb / tot.nb) / 2.0))
                   ELSE 0.0 END
                 ) / 2.0 AS jsd
          FROM per_c CROSS JOIN tot
        )
        SELECT CAST(fa AS BIGINT) AS n_a,
               CAST(fb AS BIGINT) AS n_b,
               n_categories,
               round(CASE WHEN fa > 0 AND fb > 0
                 THEN greatest(0.0, jsd) END, 6) AS jsd,
               round(CASE WHEN fa > 0 AND fb > 0
                 THEN greatest(0.0, jsd) END
                 / 0.6931471805599453, 6) AS jsd_bits
        FROM folded
    """

    sql["mahalanobis_outliers"] = """
        WITH base AS (
          SELECT l_returnflag,
                 CAST(l_quantity AS DOUBLE) AS x,
                 CAST(l_extendedprice AS DOUBLE) AS y
          FROM lineitem
          WHERE l_quantity IS NOT NULL
            AND l_extendedprice IS NOT NULL
        ), mom AS (
          SELECT CAST(count(*) AS DOUBLE) AS n,
                 avg(x) AS mx, avg(y) AS my,
                 avg(x * x) AS mxx, avg(y * y) AS myy,
                 avg(x * y) AS mxy
          FROM base
        ), d AS (
          SELECT l_returnflag,
                 CASE WHEN n >= 2
                      AND (mxx - mx * mx) * (myy - my * my)
                        - (mxy - mx * my) * (mxy - mx * my) > 0
                 THEN round((
                   (myy - my * my) * (x - mx) * (x - mx)
                   - 2.0 * (mxy - mx * my) * (x - mx) * (y - my)
                   + (mxx - mx * mx) * (y - my) * (y - my)
                 ) / ((mxx - mx * mx) * (myy - my * my)
                      - (mxy - mx * my) * (mxy - mx * my)), 6)
                 END AS d2
          FROM base CROSS JOIN mom
        )
        SELECT l_returnflag,
               CASE WHEN d2 IS NOT NULL THEN d2 > 13.8155 END
                 AS is_outlier,
               CAST(count(*) AS BIGINT) AS n,
               floor(sum(d2) * 1000 + 0.5) / 1000.0 AS d2_sum
        FROM d GROUP BY 1, 2
    """

    sql["windowed_topk"] = """
        WITH counts AS (
          SELECT (epoch_ns(ts) // 3600000000000) * 3600
                   AS window_start,
                 event_type AS key,
                 user_id AS "user",
                 CAST(count(*) AS BIGINT) AS n_events
          FROM events GROUP BY 1, 2, 3
        )
        SELECT window_start, key, "user", n_events,
               CAST(rank AS INTEGER) AS rank
        FROM (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY window_start, key
                   ORDER BY n_events DESC, "user" ASC
                 ) AS rank
          FROM counts
        )
        WHERE rank <= 3
    """

    sql["random_walks"] = """
        WITH fwd AS (
          SELECT DISTINCT o_custkey AS src,
                 l_suppkey + 1000000 AS dst
          FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        ), edges AS (
          SELECT src, dst FROM fwd
          UNION ALL
          SELECT dst AS src, src AS dst FROM fwd
        ), idx AS (
          SELECT src,
                 row_number() OVER (PARTITION BY src ORDER BY dst)
                   - 1 AS idx,
                 dst,
                 count(*) OVER (PARTITION BY src) AS degree
          FROM (SELECT DISTINCT src, dst FROM edges)
        ), starts AS (
          SELECT CAST(src AS VARCHAR) || '#0' AS walk_id,
                 src AS start, src AS node
          FROM (SELECT DISTINCT src FROM idx)
        ), hop1 AS (
          SELECT s.walk_id, s.start, i.dst AS node
          FROM starts s JOIN idx i ON s.node = i.src
          WHERE i.idx = CAST(('0x' || substr(md5(
                  'walk:' || s.walk_id || ':1'), 1, 15)) AS BIGINT)
                % i.degree
        ), hop2 AS (
          SELECT s.walk_id, s.start, i.dst AS node
          FROM hop1 s JOIN idx i ON s.node = i.src
          WHERE i.idx = CAST(('0x' || substr(md5(
                  'walk:' || s.walk_id || ':2'), 1, 15)) AS BIGINT)
                % i.degree
        ), hop3 AS (
          SELECT s.walk_id, s.start, i.dst AS node
          FROM hop2 s JOIN idx i ON s.node = i.src
          WHERE i.idx = CAST(('0x' || substr(md5(
                  'walk:' || s.walk_id || ':3'), 1, 15)) AS BIGINT)
                % i.degree
        )
        SELECT walk_id, start, 0 AS step, node FROM starts
        UNION ALL
        SELECT walk_id, start, 1 AS step, node FROM hop1
        UNION ALL
        SELECT walk_id, start, 2 AS step, node FROM hop2
        UNION ALL
        SELECT walk_id, start, 3 AS step, node FROM hop3
    """

    sql["holm_correct"] = """
        WITH battery AS (
          SELECT o_orderpriority,
                 (min(o_orderkey) % 997) / 997.0 AS p_value
          FROM orders GROUP BY 1
        ), ranked AS (
          SELECT o_orderpriority, p_value,
                 CAST(row_number() OVER (
                   ORDER BY p_value ASC, o_orderpriority ASC
                 ) AS BIGINT) AS rank,
                 CAST(count(*) OVER () AS DOUBLE) AS m
          FROM battery
        ), th AS (
          SELECT o_orderpriority, p_value, rank,
                 round(0.05 / (m - rank + 1.0), 9) AS holm_threshold
          FROM ranked
        ), fail AS (
          SELECT *,
                 min(CASE WHEN p_value > holm_threshold
                     THEN rank END) OVER (
                   ORDER BY rank ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS kfail
          FROM th
        )
        SELECT o_orderpriority,
               round(p_value, 6) AS p_value,
               rank, holm_threshold,
               (kfail IS NULL OR rank < kfail) AS reject
        FROM fail
    """

    sql["srm_check"] = """
        WITH obs AS (
          SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'control'
                 ELSE 'treatment' END AS arm,
                 CAST(count(*) AS DOUBLE) AS o
          FROM orders GROUP BY 1
        ), exp AS (
          SELECT unnest(['control', 'treatment']) AS arm,
                 unnest([0.5, 0.5]) AS ratio
        ), j AS (
          SELECT e.arm, e.ratio, coalesce(obs.o, 0.0) AS o
          FROM exp e LEFT JOIN obs ON e.arm = obs.arm
        ), tot AS (
          SELECT sum(o) AS n FROM j
        ), folded AS (
          SELECT CAST(count(*) AS BIGINT) AS k_arms,
                 max(tot.n) AS n,
                 sum(pow(o - ratio * tot.n, 2) / (ratio * tot.n))
                   AS chi2
          FROM j CROSS JOIN tot
        ), z AS (
          SELECT k_arms, n, chi2, k_arms - 1 AS dof,
                 CASE WHEN k_arms > 1 AND n > 0 AND chi2 >= 0 THEN
                   (pow(chi2 / (k_arms - 1), 1.0 / 3.0)
                    - (1.0 - 2.0 / (9.0 * (k_arms - 1))))
                   / sqrt(2.0 / (9.0 * (k_arms - 1))) END AS zz
          FROM folded
        ), pp AS (
          SELECT *,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0)))
                   AS erfc
          FROM z
        )
        SELECT k_arms, CAST(n AS BIGINT) AS n,
               round(chi2, 6) AS chi2,
               CAST(dof AS BIGINT) AS dof,
               round(CASE WHEN zz IS NULL THEN NULL
                     WHEN zz >= 0 THEN erfc / 2.0
                     ELSE 1.0 - erfc / 2.0 END, 6) AS p_value,
               CASE WHEN zz IS NOT NULL THEN
                 (CASE WHEN zz >= 0 THEN erfc / 2.0
                       ELSE 1.0 - erfc / 2.0 END) < 0.001 END
                 AS srm_detected
        FROM pp
    """

    sql["skipgram_pairs"] = """
        WITH seq AS (
          SELECT user_id,
                 CAST(row_number() OVER (
                   PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
                 ) AS BIGINT) AS pos,
                 event_type
          FROM events
        ), pairs AS (
          SELECT a.event_type AS center,
                 b.event_type AS context,
                 CAST(d.d AS INTEGER) AS distance
          FROM seq a
          CROSS JOIN (SELECT unnest([-2, -1, 1, 2]) AS d) d
          JOIN seq b
            ON a.user_id = b.user_id AND b.pos = a.pos + d.d
        )
        SELECT center, context, distance,
               CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs GROUP BY 1, 2, 3
    """

    sql["adstock_transform"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 (epoch_ns(ts) // 86400000000000) * 86400 AS b,
                 sum(CAST(value AS DOUBLE)) AS raw
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), contrib AS (
          SELECT grp,
                 b + j.j * 86400 AS bucket_epoch,
                 pow(0.6, j.j) * raw AS c,
                 CASE WHEN j.j = 0 THEN raw ELSE 0.0 END AS r
          FROM rollup
          CROSS JOIN (SELECT unnest(generate_series(0, 8)) AS j) j
        )
        SELECT grp, bucket_epoch,
               floor(sum(r) * 1e6 + 0.5) / 1e6 AS raw,
               floor(sum(c) * 1e6 + 0.5) / 1e6 AS adstock
        FROM contrib GROUP BY 1, 2
    """

    sql["price_index"] = """
        WITH b AS (
          SELECT l_partkey AS item,
                 sum(l_extendedprice) / sum(l_quantity) AS p,
                 CAST(sum(l_quantity) AS DOUBLE) AS q
          FROM lineitem WHERE year(l_shipdate) = 1995
          GROUP BY 1
        ), c AS (
          SELECT l_partkey AS item,
                 sum(l_extendedprice) / sum(l_quantity) AS p,
                 CAST(sum(l_quantity) AS DOUBLE) AS q
          FROM lineitem WHERE year(l_shipdate) = 1997
          GROUP BY 1
        ), m AS (
          SELECT b.p AS pb, b.q AS qb, c.p AS pc, c.q AS qc
          FROM b JOIN c USING (item)
        ), f AS (
          SELECT CAST(count(*) AS BIGINT) AS n_items,
                 sum(pc * qb) AS cb, sum(pb * qb) AS bb,
                 sum(pc * qc) AS cc, sum(pb * qc) AS bc
          FROM m
        )
        SELECT n_items,
               round(CASE WHEN bb > 0 THEN cb / bb END, 6)
                 AS laspeyres,
               round(CASE WHEN bc > 0 THEN cc / bc END, 6)
                 AS paasche,
               round(CASE WHEN bb > 0 AND bc > 0
                      AND (cb / bb) * (cc / bc) >= 0
                 THEN sqrt((cb / bb) * (cc / bc)) END, 6) AS fisher
        FROM f
    """

    sql["compaction_plan"] = """
        WITH listing AS (
          SELECT 'part-' || CAST(o_orderkey AS VARCHAR) AS path,
                 CAST(o_orderkey % 9973 * 1024 AS BIGINT) AS bytes
          FROM orders
        ), cum AS (
          SELECT path, bytes,
                 sum(bytes) OVER (
                   ORDER BY bytes DESC, path ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) - bytes AS before
          FROM listing
        ), binned AS (
          SELECT path, bytes,
                 CAST(before // 67108864 AS BIGINT) AS bin
          FROM cum
        ), per_bin AS (
          SELECT bin, CAST(sum(bytes) AS BIGINT) AS bin_bytes,
                 CAST(count(*) AS BIGINT) AS n_files_in_bin
          FROM binned GROUP BY 1
        )
        SELECT b.bin, p.bin_bytes, p.n_files_in_bin,
               CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(b.bytes) AS BIGINT) AS sum_bytes
        FROM binned b JOIN per_bin p USING (bin)
        GROUP BY 1, 2, 3
    """

    sql["frequent_itemsets"] = """
        WITH base AS (
          SELECT DISTINCT l_orderkey AS b, p_brand AS i
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), l1 AS (
          SELECT i, CAST(count(*) AS BIGINT) AS support
          FROM base GROUP BY 1 HAVING count(*) >= 40
        ), kept AS (
          SELECT base.b, base.i FROM base JOIN l1 USING (i)
        ), l2 AS (
          SELECT a.i AS x, c.i AS y,
                 CAST(count(*) AS BIGINT) AS support
          FROM kept a JOIN kept c ON a.b = c.b AND a.i < c.i
          GROUP BY 1, 2 HAVING count(*) >= 40
        ), cand AS (
          SELECT ab.x AS t1, ab.y AS t2, ac.y AS t3
          FROM l2 ab JOIN l2 ac ON ab.x = ac.x AND ab.y < ac.y
          JOIN l2 bc ON bc.x = ab.y AND bc.y = ac.y
        ), l3 AS (
          SELECT cand.t1, cand.t2, cand.t3,
                 CAST(count(*) AS BIGINT) AS support
          FROM cand
          JOIN kept k1 ON k1.i = cand.t1
          JOIN kept k2 ON k2.b = k1.b AND k2.i = cand.t2
          JOIN kept k3 ON k3.b = k1.b AND k3.i = cand.t3
          GROUP BY 1, 2, 3 HAVING count(*) >= 40
        )
        SELECT i AS itemset, 1 AS size, support FROM l1
        UNION ALL
        SELECT x || '|' || y AS itemset, 2 AS size, support FROM l2
        UNION ALL
        SELECT t1 || '|' || t2 || '|' || t3 AS itemset,
               3 AS size, support
        FROM l3
    """

    sql["seasonal_mad_anomalies"] = """
        WITH rollup AS (
          SELECT event_type AS grp,
                 (epoch_ns(ts) // 3600000000000) * 3600
                   AS bucket_epoch,
                 sum(CAST(value AS DOUBLE)) AS metric
          FROM events WHERE value IS NOT NULL GROUP BY 1, 2
        ), ph AS (
          SELECT grp, bucket_epoch, metric,
                 CAST((bucket_epoch // 3600) % 24 AS INTEGER)
                   AS phase
          FROM rollup
        ), med AS (
          SELECT grp, phase, quantile_cont(metric, 0.5) AS m
          FROM ph GROUP BY 1, 2
        ), mad AS (
          SELECT ph.grp, ph.phase,
                 quantile_cont(abs(ph.metric - med.m), 0.5) AS d
          FROM ph JOIN med ON ph.grp = med.grp
            AND ph.phase = med.phase
          GROUP BY 1, 2
        ), scored AS (
          SELECT ph.grp, ph.phase,
                 CASE WHEN mad.d > 0
                 THEN (ph.metric - med.m) / (1.4826 * mad.d) END AS z
          FROM ph
          JOIN med ON ph.grp = med.grp AND ph.phase = med.phase
          JOIN mad ON ph.grp = mad.grp AND ph.phase = mad.phase
        )
        SELECT grp, phase,
               CASE WHEN z IS NOT NULL THEN abs(z) > 3.5 END
                 AS is_anomaly,
               CAST(count(*) AS BIGINT) AS n
        FROM scored GROUP BY 1, 2, 3
    """

    sql["calendar_features"] = """
        WITH f AS (
          SELECT epoch_ns(ts) // 86400000000000 AS eday,
                 CAST((epoch_ns(ts) // 3600000000000) % 24
                   AS INTEGER) AS hour_of_day
          FROM events
        ), g AS (
          SELECT CAST((eday + 3) % 7 AS INTEGER) AS day_of_week,
                 hour_of_day
          FROM f
        )
        SELECT day_of_week,
               day_of_week >= 5 AS is_weekend,
               hour_of_day,
               round(sin(day_of_week * 2 * pi() / 7.0), 6) AS dow_sin,
               round(cos(day_of_week * 2 * pi() / 7.0), 6) AS dow_cos,
               round(sin(hour_of_day * 2 * pi() / 24.0), 6)
                 AS hour_sin,
               round(cos(hour_of_day * 2 * pi() / 24.0), 6)
                 AS hour_cos,
               CAST(count(*) AS BIGINT) AS n
        FROM g GROUP BY 1, 2, 3, 4, 5, 6, 7
    """

    sql["rolling_active_users"] = """
        WITH per_ud AS (
          SELECT DISTINCT user_id AS u,
                 epoch_ns(ts) // 86400000000000 AS d
          FROM events WHERE user_id IS NOT NULL
        ), covered AS (
          SELECT u, unnest(generate_series(d, d + 6)) AS day
          FROM per_ud
        )
        SELECT CAST(day AS BIGINT) AS day,
               CAST(count(DISTINCT u) AS BIGINT) AS active_users
        FROM covered GROUP BY 1
    """

    sql["mix_rate_decomposition"] = """
        WITH pb AS (
          SELECT l_returnflag AS seg,
                 CAST(sum(l_quantity) AS DOUBLE) AS w,
                 avg(l_extendedprice) AS r
          FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1
        ), pc AS (
          SELECT l_returnflag AS seg,
                 CAST(sum(l_quantity) AS DOUBLE) AS w,
                 avg(l_extendedprice) AS r
          FROM lineitem WHERE year(l_shipdate) = 1997 GROUP BY 1
        ), sb AS (
          SELECT seg, w / (SELECT sum(w) FROM pb) AS s, r FROM pb
        ), sc AS (
          SELECT seg, w / (SELECT sum(w) FROM pc) AS s, r FROM pc
        ), j AS (
          SELECT coalesce(sb.seg, sc.seg) AS segment,
                 coalesce(sb.s, 0.0) AS w_base,
                 coalesce(sc.s, 0.0) AS w_cur,
                 sb.r AS r_base, sc.r AS r_cur
          FROM sb FULL OUTER JOIN sc ON sb.seg = sc.seg
        )
        SELECT segment,
               round(w_base, 6) AS w_base,
               round(w_cur, 6) AS w_cur,
               round(r_base, 6) AS r_base,
               round(r_cur, 6) AS r_cur,
               round((w_cur - w_base) * coalesce(r_base, r_cur), 6)
                 AS mix_effect,
               round(w_cur * (coalesce(r_cur, 0.0)
                 - coalesce(r_base, r_cur, 0.0)), 6) AS rate_effect
        FROM j
    """

    sql["cdc_apply"] = """
        WITH snap AS (
          SELECT c_custkey, c_name, c_acctbal FROM customer
        ), oplog AS (
          SELECT c_custkey, c_name,
                 c_acctbal + 100 AS c_acctbal, 'U' AS op, 1 AS seq
          FROM snap WHERE c_custkey % 7 = 1
          UNION ALL
          SELECT c_custkey, c_name,
                 c_acctbal + 500, 'U', 2
          FROM snap WHERE c_custkey % 7 = 1
          UNION ALL
          SELECT c_custkey, c_name, c_acctbal, 'D', 3
          FROM snap WHERE c_custkey % 11 = 2
          UNION ALL
          SELECT c_custkey + 10000000, 'new-' || c_name, 0.0, 'I', 1
          FROM snap WHERE (c_custkey + 10000000) % 13 = 3
        ), winner AS (
          SELECT c_custkey,
                 arg_max(op, seq) AS op,
                 arg_max(c_name, seq) AS c_name,
                 arg_max(c_acctbal, seq) AS c_acctbal
          FROM oplog GROUP BY 1
        ), kept AS (
          SELECT s.* FROM snap s
          LEFT JOIN winner w ON s.c_custkey = w.c_custkey
          WHERE w.c_custkey IS NULL
        ), final AS (
          SELECT c_custkey, c_name, c_acctbal FROM kept
          UNION ALL
          SELECT c_custkey, c_name, c_acctbal
          FROM winner WHERE op <> 'D'
        )
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               CAST(sum(c_custkey) AS BIGINT) AS key_sum,
               floor(sum(c_acctbal) * 100 + 0.5) / 100.0 AS bal_sum,
               CAST(sum(CASE WHEN c_name LIKE 'new-%' THEN 1
                        ELSE 0 END) AS BIGINT) AS n_inserted
        FROM final
    """

    sql["k_anonymity"] = """
        WITH base AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band
          FROM customer
        ), groups AS (
          SELECT c_nationkey, c_mktsegment,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(count(DISTINCT bal_band) AS BIGINT) AS l
          FROM base GROUP BY 1, 2
        )
        SELECT CAST(sum(n) AS BIGINT) AS n_rows,
               CAST(count(*) AS BIGINT) AS n_groups,
               CAST(min(n) AS BIGINT) AS min_group_size,
               CAST(sum(CASE WHEN n < 5 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_violating_groups,
               CAST(sum(CASE WHEN n < 5 THEN n ELSE 0 END)
                 AS BIGINT) AS n_rows_at_risk,
               sum(CASE WHEN n < 5 THEN 1 ELSE 0 END) = 0
                 AS k_anonymous,
               CAST(min(l) AS BIGINT) AS min_l_diversity,
               min(l) >= 2 AS l_diverse
        FROM groups
    """

    sql["paired_ttest"] = """
        WITH d AS (
          SELECT CAST(l_extendedprice AS DOUBLE)
                 - CAST(l_extendedprice AS DOUBLE)
                   * (1 - CAST(l_discount AS DOUBLE)) AS diff
          FROM lineitem
          WHERE l_extendedprice IS NOT NULL
            AND l_discount IS NOT NULL
        ), f AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(diff) AS s, sum(diff * diff) AS ss
          FROM d
        ), m AS (
          SELECT n, s / n AS mean,
                 (ss - n * (s / n) * (s / n)) / (n - 1.0) AS var
          FROM f
        ), t AS (
          SELECT n, mean,
                 CASE WHEN n >= 2 AND var > 0
                 THEN sqrt(var / n) END AS se
          FROM m
        ), z AS (
          SELECT n, mean, se,
                 CASE WHEN se IS NOT NULL THEN mean / se END AS tt
          FROM t
        ), pp AS (
          SELECT *,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(tt) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(tt) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(tt) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(tt) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(tt) / sqrt(2.0)), 5))
                 * exp(-abs(tt) / sqrt(2.0) * (abs(tt) / sqrt(2.0)))
                   AS p
          FROM z
        )
        SELECT n,
               round(CASE WHEN n > 0 THEN mean END, 6) AS mean_diff,
               round(se, 6) AS se,
               round(tt, 6) AS t_stat,
               round(CASE WHEN tt IS NOT NULL THEN p END, 6)
                 AS p_value,
               CASE WHEN tt IS NOT NULL THEN p < 0.05 END
                 AS significant
        FROM pp
    """

    sql["cochran_armitage"] = """
        WITH base AS (
          SELECT CAST(floor(CAST(l_quantity AS DOUBLE) / 10)
                   AS DOUBLE) AS s,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS o
          FROM lineitem
          WHERE l_quantity IS NOT NULL AND l_returnflag IS NOT NULL
        ), per AS (
          SELECT s, CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(o) AS DOUBLE) AS x
          FROM base GROUP BY 1
        ), f AS (
          SELECT CAST(count(*) AS BIGINT) AS k_levels,
                 sum(n) AS nn, sum(x) AS xx,
                 sum(s * x) AS sx, sum(s * n) AS sn,
                 sum(s * s * n) AS ssn
          FROM per
        ), z AS (
          SELECT k_levels, nn,
                 CASE WHEN k_levels > 1
                      AND (xx / nn) * (1.0 - xx / nn)
                        * (ssn - sn * sn / nn) > 0
                 THEN (sx - (xx / nn) * sn)
                      / sqrt((xx / nn) * (1.0 - xx / nn)
                        * (ssn - sn * sn / nn)) END AS zz
          FROM f
        ), pp AS (
          SELECT *,
                 (0.254829592 * (1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)))
                  - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 2)
                  + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 3)
                  - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 4)
                  + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs(zz) / sqrt(2.0)), 5))
                 * exp(-abs(zz) / sqrt(2.0) * (abs(zz) / sqrt(2.0)))
                   AS p
          FROM z
        )
        SELECT k_levels, CAST(nn AS BIGINT) AS n,
               round(zz, 6) AS z,
               round(CASE WHEN zz IS NOT NULL THEN p END, 6)
                 AS p_value,
               CASE WHEN zz IS NOT NULL THEN p < 0.05 END
                 AS significant
        FROM pp
    """

    sql["odds_ratio"] = """
        WITH j AS (
          SELECT CASE WHEN p_type LIKE 'PROMO%' THEN 1 ELSE 0 END
                   AS e,
                 CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS o
          FROM lineitem JOIN part ON l_partkey = p_partkey
        ), f AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS a,
                 CAST(sum(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS b,
                 CAST(sum(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS c,
                 CAST(sum(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END)
                   AS BIGINT) AS d
          FROM j
        ), h AS (
          SELECT *,
                 CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0
                 THEN 0.5 ELSE 0.0 END AS hh
          FROM f
        ), m AS (
          SELECT n, a, b, c, d,
                 ((a + hh) * (d + hh)) / ((b + hh) * (c + hh))
                   AS orr,
                 sqrt(1.0 / (a + hh) + 1.0 / (b + hh)
                      + 1.0 / (c + hh) + 1.0 / (d + hh)) AS se
          FROM h
        )
        SELECT n, a, b, c, d,
               round(CASE WHEN n > 0 THEN orr END, 6) AS odds_ratio,
               round(CASE WHEN n > 0 THEN se END, 6) AS log_or_se,
               round(CASE WHEN n > 0
                 THEN exp(ln(orr) - 1.959964 * se) END, 6) AS ci_low,
               round(CASE WHEN n > 0
                 THEN exp(ln(orr) + 1.959964 * se) END, 6) AS ci_high,
               CASE WHEN n > 0 THEN
                 exp(ln(orr) - 1.959964 * se) > 1
                 OR exp(ln(orr) + 1.959964 * se) < 1 END
                 AS significant
        FROM m
    """

    sql["quantile_ci"] = """
        WITH vals AS (
          SELECT CAST(l_extendedprice AS DOUBLE) AS v
          FROM lineitem WHERE l_extendedprice IS NOT NULL
        ), nn AS (
          SELECT CAST(count(*) AS BIGINT) AS n FROM vals
        ), zc AS (
          -- A&S 26.2.23 inverse normal at 0.975 (alpha/2 = 0.025)
          SELECT n,
                 sqrt(-2.0 * ln(0.025)) AS t
          FROM nn
        ), zz AS (
          SELECT n,
                 t - (2.30753 + 0.27061 * t)
                     / (1.0 + 0.99229 * t + 0.04481 * t * t) AS z
          FROM zc
        ), ranks AS (
          SELECT n, z,
                 greatest(1, least(n, CAST(floor(n * 0.5
                   - z * sqrt(n * 0.25)) AS BIGINT))) AS r_lo,
                 greatest(1, least(n, CAST(ceil(n * 0.5
                   + z * sqrt(n * 0.25)) AS BIGINT))) AS r_hi,
                 greatest(1, least(n, CAST(floor(0.5 * (n - 1)
                   + 0.5) AS BIGINT) + 1)) AS r_pt
          FROM zz
        ), ordered AS (
          SELECT v, row_number() OVER (ORDER BY v) AS rn FROM vals
        )
        SELECT r.n,
               CAST(0.5 AS DOUBLE) AS prob,
               round((SELECT v FROM ordered WHERE rn = r.r_pt), 6)
                 AS estimate,
               round((SELECT v FROM ordered WHERE rn = r.r_lo), 6)
                 AS ci_low,
               round((SELECT v FROM ordered WHERE rn = r.r_hi), 6)
                 AS ci_high,
               r.r_lo AS rank_low,
               r.r_hi AS rank_high
        FROM ranks r
    """

    sql["capture_recapture"] = """
        WITH ia AS (
          SELECT DISTINCT o_orderkey AS id FROM orders
          WHERE o_orderkey % 3 = 0
        ), ib AS (
          SELECT DISTINCT o_orderkey AS id FROM orders
          WHERE o_orderkey % 5 = 0
        ), f AS (
          SELECT (SELECT CAST(count(*) AS BIGINT) FROM ia) AS n_a,
                 (SELECT CAST(count(*) AS BIGINT) FROM ib) AS n_b,
                 (SELECT CAST(count(*) AS BIGINT)
                  FROM ia JOIN ib USING (id)) AS n_overlap
        ), m AS (
          SELECT n_a, n_b, n_overlap,
                 (n_a + 1.0) * (n_b + 1.0) / (n_overlap + 1.0) - 1.0
                   AS est,
                 sqrt(greatest(0.0,
                   (n_a + 1.0) * (n_b + 1.0)
                   * (n_a - CAST(n_overlap AS DOUBLE))
                   * (n_b - CAST(n_overlap AS DOUBLE))
                   / ((n_overlap + 1.0) * (n_overlap + 1.0)
                      * (n_overlap + 2.0)))) AS se,
                 greatest(CAST(n_a AS DOUBLE), n_b) AS fl
          FROM f
        )
        SELECT n_a, n_b, n_overlap,
               round(CASE WHEN n_a > 0 AND n_b > 0
                 THEN greatest(est, fl) END, 6) AS estimate,
               round(CASE WHEN n_a > 0 AND n_b > 0 THEN se END, 6)
                 AS se,
               round(CASE WHEN n_a > 0 AND n_b > 0
                 THEN greatest(est - 1.959964 * se, fl) END, 6)
                 AS ci_low,
               round(CASE WHEN n_a > 0 AND n_b > 0
                 THEN greatest(est + 1.959964 * se, fl) END, 6)
                 AS ci_high
        FROM m
    """

    sql["mrr_bridge"] = """
        WITH pb AS (
          SELECT CAST(o_custkey AS VARCHAR) AS id,
                 sum(o_totalprice) AS a
          FROM orders WHERE year(o_orderdate) = 1995
          GROUP BY 1 HAVING sum(o_totalprice) > 0
        ), pc AS (
          SELECT CAST(o_custkey AS VARCHAR) AS id,
                 sum(o_totalprice) AS a
          FROM orders WHERE year(o_orderdate) = 1996
          GROUP BY 1 HAVING sum(o_totalprice) > 0
        ), j AS (
          SELECT coalesce(pb.a, 0.0) AS b, coalesce(pc.a, 0.0) AS c
          FROM pb FULL OUTER JOIN pc ON pb.id = pc.id
        ), t AS (
          SELECT least(b, c) AS retained,
                 CASE WHEN b = 0 THEN c ELSE 0.0 END AS new,
                 CASE WHEN b > 0 AND c > b THEN c - b
                 ELSE 0.0 END AS expansion,
                 CASE WHEN c > 0 AND b > c THEN b - c
                 ELSE 0.0 END AS contraction,
                 CASE WHEN c = 0 THEN b ELSE 0.0 END AS churned
          FROM j
        )
        SELECT 'retained' AS movement,
               CAST(sum(CASE WHEN retained > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_accounts,
               round(coalesce(sum(retained), 0.0), 6) AS amount
        FROM t
        UNION ALL
        SELECT 'new',
               CAST(sum(CASE WHEN new > 0 THEN 1 ELSE 0 END)
                 AS BIGINT),
               round(coalesce(sum(new), 0.0), 6) FROM t
        UNION ALL
        SELECT 'expansion',
               CAST(sum(CASE WHEN expansion > 0 THEN 1 ELSE 0 END)
                 AS BIGINT),
               round(coalesce(sum(expansion), 0.0), 6) FROM t
        UNION ALL
        SELECT 'contraction',
               CAST(sum(CASE WHEN contraction > 0 THEN 1 ELSE 0 END)
                 AS BIGINT),
               round(coalesce(sum(contraction), 0.0), 6) FROM t
        UNION ALL
        SELECT 'churned',
               CAST(sum(CASE WHEN churned > 0 THEN 1 ELSE 0 END)
                 AS BIGINT),
               round(coalesce(sum(churned), 0.0), 6) FROM t
    """

    sql["grid_dbscan"] = """
        WITH RECURSIVE pts AS (
          SELECT CAST(c_custkey AS BIGINT) AS id,
                 CAST((c_custkey % 4) * 30 - 60
                      + (CAST(('0x' || substr(md5('x:' ||
                          CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                         % 2000) * 0.0005 AS DOUBLE) AS lon,
                 CAST((CAST(('0x' || substr(md5('y:' ||
                          CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                       % 2000) * 0.0005 AS DOUBLE) AS lat
          FROM customer
        ), keyed AS (
          SELECT id, lon, lat,
                 floor((lon + 180.0) / (5.0 / 110.0)) AS cx,
                 floor((lat + 90.0) / (5.0 / 110.0)) AS cy
          FROM pts
        ), nbrs AS (
          SELECT a.id AS ida, b.id AS idb
          FROM keyed a JOIN keyed b
            ON b.cx BETWEEN a.cx - 1 AND a.cx + 1
           AND b.cy BETWEEN a.cy - 1 AND a.cy + 1
           AND a.id <> b.id
          WHERE 2.0 * 6371.0088 * asin(sqrt(
                  pow(sin(radians(b.lat - a.lat) / 2), 2)
                  + cos(radians(a.lat)) * cos(radians(b.lat))
                    * pow(sin(radians(b.lon - a.lon) / 2), 2)
                )) <= 5.0
        ), deg AS (
          SELECT ida AS id, count(*) AS nn FROM nbrs GROUP BY 1
        ), flagged AS (
          SELECT k.id, coalesce(d.nn, 0) + 1 >= 4 AS is_core
          FROM keyed k LEFT JOIN deg d ON k.id = d.id
        ), core_edges AS (
          SELECT n.ida AS u, n.idb AS v FROM nbrs n
          JOIN flagged fa ON fa.id = n.ida AND fa.is_core
          JOIN flagged fb ON fb.id = n.idb AND fb.is_core
        ), nodes AS (SELECT DISTINCT u AS id FROM core_edges),
        reach AS (
          SELECT id, id AS r FROM nodes
          UNION
          SELECT reach.id, e.v FROM reach JOIN core_edges e
            ON e.u = reach.r
        ), comp AS (
          SELECT id, min(r) AS component FROM reach GROUP BY id
        ), core_label AS (
          SELECT f.id, coalesce(c.component, f.id) AS cluster
          FROM flagged f LEFT JOIN comp c ON f.id = c.id
          WHERE f.is_core
        ), border_label AS (
          SELECT n.ida AS id, min(cl.cluster) AS cluster
          FROM nbrs n
          JOIN core_label cl ON cl.id = n.idb
          JOIN flagged f ON f.id = n.ida AND NOT f.is_core
          GROUP BY 1
        )
        SELECT f.id, l.cluster, f.is_core
        FROM flagged f LEFT JOIN (
          SELECT * FROM core_label
          UNION ALL SELECT * FROM border_label
        ) l ON f.id = l.id
    """

    sql["zorder_layout"] = """
        WITH b AS (
          SELECT min(CAST(l_partkey AS DOUBLE)) AS lo1,
                 max(CAST(l_partkey AS DOUBLE)) AS hi1,
                 min(CAST(l_suppkey AS DOUBLE)) AS lo2,
                 max(CAST(l_suppkey AS DOUBLE)) AS hi2
          FROM lineitem
        ), q AS (
          SELECT l_orderkey, l_linenumber,
                 least(greatest(CAST(floor(
                   (CAST(l_partkey AS DOUBLE) - b.lo1)
                   / (b.hi1 - b.lo1) * 256.0) AS BIGINT), 0), 255)
                   AS q1,
                 least(greatest(CAST(floor(
                   (CAST(l_suppkey AS DOUBLE) - b.lo2)
                   / (b.hi2 - b.lo2) * 256.0) AS BIGINT), 0), 255)
                   AS q2
          FROM lineitem CROSS JOIN b
        )
        SELECT l_orderkey, l_linenumber,
               (((q1 >> 0) & 1) << 0)
               | (((q1 >> 1) & 1) << 2)
               | (((q1 >> 2) & 1) << 4)
               | (((q1 >> 3) & 1) << 6)
               | (((q1 >> 4) & 1) << 8)
               | (((q1 >> 5) & 1) << 10)
               | (((q1 >> 6) & 1) << 12)
               | (((q1 >> 7) & 1) << 14)
               | (((q2 >> 0) & 1) << 1)
               | (((q2 >> 1) & 1) << 3)
               | (((q2 >> 2) & 1) << 5)
               | (((q2 >> 3) & 1) << 7)
               | (((q2 >> 4) & 1) << 9)
               | (((q2 >> 5) & 1) << 11)
               | (((q2 >> 6) & 1) << 13)
               | (((q2 >> 7) & 1) << 15)
                 AS zorder_key
        FROM q
    """

    sql["record_linkage"] = """
        WITH pairs AS (
          SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
                 a.c_mktsegment = b.c_mktsegment AS seg_ok,
                 substr(a.c_name, length(a.c_name) - 1, 2)
                   = substr(b.c_name, length(b.c_name) - 1, 2)
                   AS phone_ok,
                 abs(a.c_acctbal - b.c_acctbal) < 100.0 AS bal_ok
          FROM customer a JOIN customer b
            ON a.c_nationkey = b.c_nationkey
           AND a.c_custkey < b.c_custkey
        ), scored AS (
          SELECT id_a, id_b,
                 round(
                   (CASE WHEN seg_ok IS NULL THEN 0.0
                         WHEN seg_ok THEN 2.169925001442312
                         ELSE -3.0000000000000004 END)
                   + (CASE WHEN phone_ok IS NULL THEN 0.0
                           WHEN phone_ok THEN 4.087462841250339
                           ELSE -2.662965012722429 END)
                   + (CASE WHEN bal_ok IS NULL THEN 0.0
                           WHEN bal_ok THEN 5.129283016944966
                           ELSE -1.7078192485066894 END), 6) AS score
          FROM pairs
        )
        SELECT id_a, id_b, score,
               CASE WHEN score >= 4.0 THEN 'match'
                    WHEN score < 0.0 THEN 'non_match'
                    ELSE 'possible' END AS decision
        FROM scored
    """

    sql["cox_ph"] = """
        WITH base AS MATERIALIZED (
          SELECT CAST((o_orderkey % 30) + 1
                      + 15 * (o_orderkey % 2) AS DOUBLE) AS t,
                 CASE WHEN o_orderkey % 5 <> 0 THEN 1 ELSE 0 END AS e,
                 CAST(o_orderkey % 2 AS DOUBLE) AS x
          FROM orders
        ),
        it0 AS MATERIALIZED (SELECT 0.0 AS beta),
        r1 AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it0) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it0) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it0) * x)) AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), s1 AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM r1
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), f1 AS MATERIALIZED (
          SELECT sum(n) AS n, CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN dx - d * s1v / s0 END) AS u,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM s1
        ), it1 AS MATERIALIZED (
          SELECT (SELECT beta FROM it0)
                 + (SELECT u FROM f1) / (SELECT i FROM f1) AS beta
        ),
        r2 AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it1) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it1) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it1) * x)) AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), s2 AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM r2
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), f2 AS MATERIALIZED (
          SELECT sum(n) AS n, CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN dx - d * s1v / s0 END) AS u,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM s2
        ), it2 AS MATERIALIZED (
          SELECT (SELECT beta FROM it1)
                 + (SELECT u FROM f2) / (SELECT i FROM f2) AS beta
        ),
        r3 AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it2) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it2) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it2) * x)) AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), s3 AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM r3
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), f3 AS MATERIALIZED (
          SELECT sum(n) AS n, CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN dx - d * s1v / s0 END) AS u,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM s3
        ), it3 AS MATERIALIZED (
          SELECT (SELECT beta FROM it2)
                 + (SELECT u FROM f3) / (SELECT i FROM f3) AS beta
        ),
        r4 AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it3) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it3) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it3) * x)) AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), s4 AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM r4
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), f4 AS MATERIALIZED (
          SELECT sum(n) AS n, CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN dx - d * s1v / s0 END) AS u,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM s4
        ), it4 AS MATERIALIZED (
          SELECT (SELECT beta FROM it3)
                 + (SELECT u FROM f4) / (SELECT i FROM f4) AS beta
        ),
        r5 AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it4) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it4) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it4) * x)) AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), s5 AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM r5
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), f5 AS MATERIALIZED (
          SELECT sum(n) AS n, CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN dx - d * s1v / s0 END) AS u,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM s5
        ), it5 AS MATERIALIZED (
          SELECT (SELECT beta FROM it4)
                 + (SELECT u FROM f5) / (SELECT i FROM f5) AS beta
        ),
        r6 AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it5) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it5) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it5) * x)) AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), s6 AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM r6
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), f6 AS MATERIALIZED (
          SELECT sum(n) AS n, CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN dx - d * s1v / s0 END) AS u,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM s6
        ), it6 AS MATERIALIZED (
          SELECT (SELECT beta FROM it5)
                 + (SELECT u FROM f6) / (SELECT i FROM f6) AS beta
        ),
        r7 AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it6) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it6) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it6) * x)) AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), s7 AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM r7
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), f7 AS MATERIALIZED (
          SELECT sum(n) AS n, CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN dx - d * s1v / s0 END) AS u,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM s7
        ), it7 AS MATERIALIZED (
          SELECT (SELECT beta FROM it6)
                 + (SELECT u FROM f7) / (SELECT i FROM f7) AS beta
        ),
        r8 AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it7) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it7) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it7) * x)) AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), s8 AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM r8
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), f8 AS MATERIALIZED (
          SELECT sum(n) AS n, CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN dx - d * s1v / s0 END) AS u,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM s8
        ), it8 AS MATERIALIZED (
          SELECT (SELECT beta FROM it7)
                 + (SELECT u FROM f8) / (SELECT i FROM f8) AS beta
        ),
        rf AS MATERIALIZED (
          SELECT t,
                 sum(exp((SELECT beta FROM it8) * x)) AS w,
                 sum(x * exp((SELECT beta FROM it8) * x)) AS xw,
                 sum(x * x * exp((SELECT beta FROM it8) * x))
                   AS x2w,
                 sum(e) AS d, sum(e * x) AS dx, count(*) AS n
          FROM base GROUP BY t
        ), sf AS MATERIALIZED (
          SELECT d, dx, n,
                 sum(w) OVER win AS s0,
                 sum(xw) OVER win AS s1v,
                 sum(x2w) OVER win AS s2v
          FROM rf
          WINDOW win AS (ORDER BY t DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), ff AS MATERIALIZED (
          SELECT CAST(sum(n) AS BIGINT) AS n,
                 CAST(sum(d) AS BIGINT) AS d,
                 sum(CASE WHEN d > 0
                     THEN d * (s2v / s0 - (s1v / s0) * (s1v / s0))
                     END) AS i
          FROM sf
        )
        SELECT n, d AS n_events,
               round((SELECT beta FROM it8), 6) AS beta,
               round(exp((SELECT beta FROM it8)), 6)
                 AS hazard_ratio,
               round(1.0 / sqrt(i), 6) AS se,
               round((SELECT beta FROM it8) * sqrt(i), 6) AS z,
               round((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                      + 1.421413741 * pow(tt, 3)
                      - 1.453152027 * pow(tt, 4)
                      + 1.061405429 * pow(tt, 5)) * exp(-az * az), 6)
                 AS p_value,
               ((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                 + 1.421413741 * pow(tt, 3)
                 - 1.453152027 * pow(tt, 4)
                 + 1.061405429 * pow(tt, 5)) * exp(-az * az)) < 0.05
                 AS significant
        FROM ff, (
          SELECT az, 1.0 / (1.0 + 0.3275911 * az) AS tt
          FROM (
            SELECT abs((SELECT beta FROM it8)
                       * sqrt((SELECT i FROM ff))) / sqrt(2.0) AS az
          )
        )
    """

    sql["logit_fit"] = """
        WITH base AS MATERIALIZED (
          SELECT CASE WHEN (o_orderkey * 11) % 20
                          < 4 + 2 * (o_orderkey % 5)
                 THEN 1.0 ELSE 0.0 END AS y,
                 CAST(o_orderkey % 5 AS DOUBLE) AS x
          FROM orders
        ),
        it0 AS MATERIALIZED (SELECT 0.0 AS b0, 0.0 AS b1),
        f1 AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x))))) AS h11
          FROM base
        ),
        it1 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it0)
                 + ((SELECT h11 FROM f1) * (SELECT g0 FROM f1)
                    - (SELECT h01 FROM f1) * (SELECT g1 FROM f1))
                   / ((SELECT h00 FROM f1) * (SELECT h11 FROM f1)
                      - (SELECT h01 FROM f1) * (SELECT h01 FROM f1))
                   AS b0,
                 (SELECT b1 FROM it0)
                 + ((SELECT h00 FROM f1) * (SELECT g1 FROM f1)
                    - (SELECT h01 FROM f1) * (SELECT g0 FROM f1))
                   / ((SELECT h00 FROM f1) * (SELECT h11 FROM f1)
                      - (SELECT h01 FROM f1) * (SELECT h01 FROM f1))
                   AS b1
        ),
        f2 AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x))))) AS h11
          FROM base
        ),
        it2 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it1)
                 + ((SELECT h11 FROM f2) * (SELECT g0 FROM f2)
                    - (SELECT h01 FROM f2) * (SELECT g1 FROM f2))
                   / ((SELECT h00 FROM f2) * (SELECT h11 FROM f2)
                      - (SELECT h01 FROM f2) * (SELECT h01 FROM f2))
                   AS b0,
                 (SELECT b1 FROM it1)
                 + ((SELECT h00 FROM f2) * (SELECT g1 FROM f2)
                    - (SELECT h01 FROM f2) * (SELECT g0 FROM f2))
                   / ((SELECT h00 FROM f2) * (SELECT h11 FROM f2)
                      - (SELECT h01 FROM f2) * (SELECT h01 FROM f2))
                   AS b1
        ),
        f3 AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x))))) AS h11
          FROM base
        ),
        it3 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it2)
                 + ((SELECT h11 FROM f3) * (SELECT g0 FROM f3)
                    - (SELECT h01 FROM f3) * (SELECT g1 FROM f3))
                   / ((SELECT h00 FROM f3) * (SELECT h11 FROM f3)
                      - (SELECT h01 FROM f3) * (SELECT h01 FROM f3))
                   AS b0,
                 (SELECT b1 FROM it2)
                 + ((SELECT h00 FROM f3) * (SELECT g1 FROM f3)
                    - (SELECT h01 FROM f3) * (SELECT g0 FROM f3))
                   / ((SELECT h00 FROM f3) * (SELECT h11 FROM f3)
                      - (SELECT h01 FROM f3) * (SELECT h01 FROM f3))
                   AS b1
        ),
        f4 AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x))))) AS h11
          FROM base
        ),
        it4 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it3)
                 + ((SELECT h11 FROM f4) * (SELECT g0 FROM f4)
                    - (SELECT h01 FROM f4) * (SELECT g1 FROM f4))
                   / ((SELECT h00 FROM f4) * (SELECT h11 FROM f4)
                      - (SELECT h01 FROM f4) * (SELECT h01 FROM f4))
                   AS b0,
                 (SELECT b1 FROM it3)
                 + ((SELECT h00 FROM f4) * (SELECT g1 FROM f4)
                    - (SELECT h01 FROM f4) * (SELECT g0 FROM f4))
                   / ((SELECT h00 FROM f4) * (SELECT h11 FROM f4)
                      - (SELECT h01 FROM f4) * (SELECT h01 FROM f4))
                   AS b1
        ),
        f5 AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x))))) AS h11
          FROM base
        ),
        it5 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it4)
                 + ((SELECT h11 FROM f5) * (SELECT g0 FROM f5)
                    - (SELECT h01 FROM f5) * (SELECT g1 FROM f5))
                   / ((SELECT h00 FROM f5) * (SELECT h11 FROM f5)
                      - (SELECT h01 FROM f5) * (SELECT h01 FROM f5))
                   AS b0,
                 (SELECT b1 FROM it4)
                 + ((SELECT h00 FROM f5) * (SELECT g1 FROM f5)
                    - (SELECT h01 FROM f5) * (SELECT g0 FROM f5))
                   / ((SELECT h00 FROM f5) * (SELECT h11 FROM f5)
                      - (SELECT h01 FROM f5) * (SELECT h01 FROM f5))
                   AS b1
        ),
        f6 AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x))))) AS h11
          FROM base
        ),
        it6 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it5)
                 + ((SELECT h11 FROM f6) * (SELECT g0 FROM f6)
                    - (SELECT h01 FROM f6) * (SELECT g1 FROM f6))
                   / ((SELECT h00 FROM f6) * (SELECT h11 FROM f6)
                      - (SELECT h01 FROM f6) * (SELECT h01 FROM f6))
                   AS b0,
                 (SELECT b1 FROM it5)
                 + ((SELECT h00 FROM f6) * (SELECT g1 FROM f6)
                    - (SELECT h01 FROM f6) * (SELECT g0 FROM f6))
                   / ((SELECT h00 FROM f6) * (SELECT h11 FROM f6)
                      - (SELECT h01 FROM f6) * (SELECT h01 FROM f6))
                   AS b1
        ),
        f7 AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x))))) AS h11
          FROM base
        ),
        it7 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it6)
                 + ((SELECT h11 FROM f7) * (SELECT g0 FROM f7)
                    - (SELECT h01 FROM f7) * (SELECT g1 FROM f7))
                   / ((SELECT h00 FROM f7) * (SELECT h11 FROM f7)
                      - (SELECT h01 FROM f7) * (SELECT h01 FROM f7))
                   AS b0,
                 (SELECT b1 FROM it6)
                 + ((SELECT h00 FROM f7) * (SELECT g1 FROM f7)
                    - (SELECT h01 FROM f7) * (SELECT g0 FROM f7))
                   / ((SELECT h00 FROM f7) * (SELECT h11 FROM f7)
                      - (SELECT h01 FROM f7) * (SELECT h01 FROM f7))
                   AS b1
        ),
        f8 AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x))))) AS h11
          FROM base
        ),
        it8 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it7)
                 + ((SELECT h11 FROM f8) * (SELECT g0 FROM f8)
                    - (SELECT h01 FROM f8) * (SELECT g1 FROM f8))
                   / ((SELECT h00 FROM f8) * (SELECT h11 FROM f8)
                      - (SELECT h01 FROM f8) * (SELECT h01 FROM f8))
                   AS b0,
                 (SELECT b1 FROM it7)
                 + ((SELECT h00 FROM f8) * (SELECT g1 FROM f8)
                    - (SELECT h01 FROM f8) * (SELECT g0 FROM f8))
                   / ((SELECT h00 FROM f8) * (SELECT h11 FROM f8)
                      - (SELECT h01 FROM f8) * (SELECT h01 FROM f8))
                   AS b1
        ),
        ff AS MATERIALIZED (
          SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos,
                 sum(y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x)))) AS g0,
                 sum(x * (y - 1.0 / (1.0 + exp(-((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x))))) AS g1,
                 sum((1.0 / (1.0 + exp(-((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x))))) AS h00,
                 sum(x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x))))) AS h01,
                 sum(x * x * (1.0 / (1.0 + exp(-((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x))))
                     * (1.0 - 1.0 / (1.0 + exp(-((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x))))) AS h11
          FROM base
        ),
        fin AS MATERIALIZED (
          SELECT n, npos,
                 (SELECT b0 FROM it8) AS b0,
                 (SELECT b1 FROM it8) AS b1,
                 h00 * h11 - h01 * h01 AS det, h00, h11
          FROM ff
        )
        SELECT n, npos AS n_pos,
               round(b0, 6) AS intercept,
               round(b1, 6) AS beta,
               round(exp(b1), 6) AS odds_ratio,
               round(sqrt(h11 / det), 6) AS se_intercept,
               round(sqrt(h00 / det), 6) AS se_beta,
               round(b1 / sqrt(h00 / det), 6) AS z,
               round((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                      + 1.421413741 * pow(tt, 3)
                      - 1.453152027 * pow(tt, 4)
                      + 1.061405429 * pow(tt, 5)) * exp(-az * az), 6)
                 AS p_value,
               ((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                 + 1.421413741 * pow(tt, 3)
                 - 1.453152027 * pow(tt, 4)
                 + 1.061405429 * pow(tt, 5)) * exp(-az * az)) < 0.05
                 AS significant
        FROM fin, (
          SELECT az, 1.0 / (1.0 + 0.3275911 * az) AS tt
          FROM (
            SELECT abs((SELECT b1 FROM it8)
                       / sqrt((SELECT h00 FROM ff)
                              / ((SELECT h00 FROM ff)
                                 * (SELECT h11 FROM ff)
                                 - (SELECT h01 FROM ff)
                                 * (SELECT h01 FROM ff))))
                   / sqrt(2.0) AS az
          )
        )
    """

    sql["psm_att"] = """
        WITH panel AS (
          SELECT CAST(c_custkey AS BIGINT) AS uid,
                 (CAST(('0x' || substr(md5('p:' ||
                    CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 1000000) / 1000000.0 AS score,
                 CASE WHEN CAST(('0x' || substr(md5('t:' ||
                    CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 10 < 3 THEN 1 ELSE 0 END AS treated,
                 CAST(('0x' || substr(md5('n:' ||
                    CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                    % 100 AS noise
          FROM customer
        ), full_panel AS (
          SELECT uid, score, treated,
                 50.0 + 20.0 * score + 5.0 * treated + noise / 10.0
                   AS y
          FROM panel
        ), ctl AS (
          SELECT CAST(floor(score / 0.01) AS BIGINT) AS b,
                 score AS cs, y AS cy, uid AS cid
          FROM full_panel WHERE treated = 0
        ), trt AS (
          SELECT uid AS tid, score AS ts, y AS ty,
                 CAST(floor(score / 0.01) AS BIGINT) AS b0
          FROM full_panel WHERE treated = 1
        ), cand AS (
          SELECT t.tid, t.ts, t.ty, c.cs, c.cy, c.cid,
                 abs(t.ts - c.cs) AS d
          FROM trt t
          CROSS JOIN (VALUES (-1), (0), (1)) AS off(dx)
          JOIN ctl c ON c.b = t.b0 + off.dx
          WHERE abs(t.ts - c.cs) <= 0.01
        ), best AS (
          SELECT tid, ty, cy FROM (
            SELECT tid, ty, cy,
                   row_number() OVER (PARTITION BY tid
                     ORDER BY d, cs, cid) AS rn
            FROM cand
          ) WHERE rn = 1
        ), counts AS (
          SELECT CAST(sum(treated) AS BIGINT) AS n_treated,
                 CAST(sum(1 - treated) AS BIGINT) AS n_control
          FROM full_panel
        ), fold AS (
          SELECT CAST(count(*) AS BIGINT) AS n_matched,
                 avg(ty - cy) AS att,
                 stddev_samp(ty - cy) AS sd
          FROM best
        )
        SELECT n_treated, n_control, n_matched,
               n_treated - n_matched AS n_unmatched,
               round(att, 6) AS att,
               round(CASE WHEN n_matched > 1
                     THEN sd / sqrt(n_matched) END, 6) AS se_att
        FROM counts, fold
    """

    sql["shapley_attribution"] = """
        WITH per_user AS (
          SELECT user_id,
                 list_sort(list_distinct(list_filter(
                   list(event_type), t -> t <> 'purchase'))) AS chs,
                 max(CASE WHEN event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY user_id
        ), base AS (
          SELECT chs, conv FROM per_user
          WHERE chs IS NOT NULL AND len(chs) > 0
        ), coal AS (
          SELECT chs, CAST(sum(conv) AS BIGINT) AS conv
          FROM base GROUP BY chs
        ), credits AS (
          SELECT channel,
                 round(sum(credit), 6) AS shapley_credit,
                 CAST(count(*) AS BIGINT) AS n_coalitions
          FROM (
            SELECT unnest(chs) AS channel,
                   CAST(conv AS DOUBLE) / len(chs) AS credit
            FROM coal WHERE conv > 0
          ) GROUP BY channel
        ), exposed AS (
          SELECT unnest(chs) AS channel
          FROM base
        ), exp_cnt AS (
          SELECT channel, CAST(count(*) AS BIGINT) AS n_exposed
          FROM exposed GROUP BY channel
        )
        SELECT e.channel,
               coalesce(c.shapley_credit, 0.0) AS shapley_credit,
               CAST(coalesce(c.n_coalitions, 0) AS BIGINT)
                 AS n_coalitions,
               e.n_exposed
        FROM exp_cnt e LEFT JOIN credits c ON e.channel = c.channel
    """

    sql["markov_attribution"] = """
        WITH per_user AS MATERIALIZED (
          SELECT user_id,
                 list_filter(
                   list(event_type ORDER BY epoch_ns(ts), event_id),
                   t -> t <> 'purchase') AS path,
                 max(CASE WHEN event_type = 'purchase'
                     THEN 1 ELSE 0 END) AS conv
          FROM events GROUP BY user_id
        ), base AS MATERIALIZED (
          SELECT path, conv FROM per_user
          WHERE path IS NOT NULL AND len(path) > 0
        ), totals AS MATERIALIZED (
          SELECT CAST(sum(conv) AS BIGINT) AS tc FROM base
        ), seqs AS MATERIALIZED (
          SELECT ['START'] || path
                 || [CASE WHEN conv = 1 THEN 'CONV'
                     ELSE 'LOSS' END] AS s
          FROM base
        ), trans AS MATERIALIZED (
          SELECT src, dst, count(*) AS n FROM (
            SELECT s[i] AS src, s[i + 1] AS dst
            FROM seqs, unnest(generate_series(1, len(s) - 1))
              AS u(i)
          ) WHERE src <> dst
          GROUP BY src, dst
        ), probs AS MATERIALIZED (
          SELECT src, dst,
                 CAST(n AS DOUBLE)
                 / sum(n) OVER (PARTITION BY src) AS p
          FROM trans
        ), channels AS MATERIALIZED (
          SELECT DISTINCT c AS channel FROM (
            SELECT src AS c FROM trans
            UNION SELECT dst FROM trans
          ) WHERE c NOT IN ('START', 'CONV', 'LOSS')
        ), variants AS MATERIALIZED (
          SELECT '##NONE##' AS rm
          UNION ALL SELECT channel FROM channels
        ), m0 AS MATERIALIZED (
          SELECT rm, 'START' AS state, 1.0 AS mass FROM variants
        ),
        m1 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m0 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m0 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m2 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m1 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m1 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m3 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m2 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m2 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m4 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m3 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m3 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m5 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m4 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m4 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m6 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m5 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m5 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m7 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m6 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m6 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m8 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m7 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m7 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m9 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m8 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m8 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m10 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m9 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m9 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m11 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m10 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m10 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m12 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m11 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m11 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m13 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m12 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m12 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m14 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m13 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m13 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m15 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m14 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m14 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m16 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m15 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m15 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m17 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m16 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m16 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m18 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m17 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m17 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m19 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m18 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m18 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m20 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m19 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m19 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m21 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m20 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m20 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m22 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m21 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m21 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m23 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m22 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m22 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m24 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m23 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m23 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m25 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m24 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m24 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m26 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m25 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m25 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m27 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m26 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m26 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m28 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m27 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m27 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m29 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m28 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m28 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m30 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m29 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m29 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m31 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m30 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m30 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m32 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m31 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m31 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m33 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m32 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m32 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m34 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m33 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m33 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m35 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m34 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m34 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m36 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m35 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m35 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m37 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m36 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m36 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m38 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m37 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m37 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m39 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m38 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m38 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m40 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m39 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m39 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m41 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m40 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m40 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m42 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m41 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m41 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m43 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m42 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m42 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m44 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m43 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m43 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m45 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m44 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m44 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m46 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m45 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m45 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m47 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m46 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m46 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m48 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m47 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m47 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m49 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m48 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m48 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m50 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m49 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m49 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m51 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m50 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m50 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m52 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m51 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m51 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m53 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m52 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m52 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m54 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m53 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m53 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m55 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m54 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m54 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m56 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m55 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m55 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m57 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m56 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m56 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m58 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m57 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m57 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m59 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m58 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m58 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        m60 AS MATERIALIZED (
          SELECT rm, state, sum(mass) AS mass FROM (
            SELECT j.rm, t.dst AS state, j.mass * t.p AS mass
            FROM m59 j JOIN probs t ON t.src = j.state
            WHERE t.dst <> j.rm AND t.dst <> 'LOSS'
            UNION ALL
            SELECT rm, state, mass FROM m59 WHERE state = 'CONV'
          ) GROUP BY rm, state
        ),
        pconv AS MATERIALIZED (
          SELECT v.rm,
                 coalesce((SELECT mass FROM m60 m
                           WHERE m.rm = v.rm AND m.state = 'CONV'),
                          0.0) AS p
          FROM variants v
        ), readout AS MATERIALIZED (
          SELECT c.channel,
                 (SELECT p FROM pconv WHERE rm = '##NONE##')
                   AS p_base,
                 (SELECT p FROM pconv WHERE rm = c.channel)
                   AS p_removed
          FROM channels c
        ), effects AS MATERIALIZED (
          SELECT channel, p_base, p_removed,
                 greatest(0.0, 1.0 - p_removed / p_base) AS eff
          FROM readout
        )
        SELECT channel,
               round(p_base, 6) AS p_base,
               round(p_removed, 6) AS p_removed,
               round(eff, 6) AS removal_effect,
               round((SELECT tc FROM totals) * eff
                     / sum(eff) OVER (), 6)
                 AS attributed_conversions
        FROM effects
    """

    sql["ipw_ate"] = """
        WITH panel AS (
          SELECT
            CASE WHEN (CAST(('0x' || substr(md5('u:' ||
                 CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 1000000) / 1000000.0
                 < 0.2 + 0.6 * ((CAST(('0x' || substr(md5('p:' ||
                 CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 1000000) / 1000000.0)
            THEN 1 ELSE 0 END AS t,
            (CAST(('0x' || substr(md5('p:' ||
               CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000000) / 1000000.0 AS score,
            CAST(('0x' || substr(md5('n:' ||
               CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS noise
          FROM customer
        ), full_panel AS (
          SELECT CAST(t AS DOUBLE) AS t,
                 50.0 + 20.0 * score + 5.0 * t + noise / 10.0 AS y,
                 0.2 + 0.6 * score AS e
          FROM panel
        ), agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN e >= 0.01 AND e <= 0.99
                     THEN t ELSE 0.0 END) AS BIGINT) AS n_treated,
                 CAST(sum(CASE WHEN e >= 0.01 AND e <= 0.99
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_trimmed,
                 sum(CASE WHEN e >= 0.01 AND e <= 0.99
                     THEN t * y / e END) AS s1y,
                 sum(CASE WHEN e >= 0.01 AND e <= 0.99
                     THEN t / e END) AS s1,
                 sum(CASE WHEN e >= 0.01 AND e <= 0.99
                     THEN (1.0 - t) * y / (1.0 - e) END) AS s0y,
                 sum(CASE WHEN e >= 0.01 AND e <= 0.99
                     THEN (1.0 - t) / (1.0 - e) END) AS s0
          FROM full_panel
        )
        SELECT n, n_treated, n_trimmed,
               round(CASE WHEN s1 > 0 THEN s1y / s1 END
                     - CASE WHEN s0 > 0 THEN s0y / s0 END, 6)
                 AS ate_ipw,
               round(CASE WHEN s1 > 0 THEN s1y / s1 END, 6)
                 AS mu_treated,
               round(CASE WHEN s0 > 0 THEN s0y / s0 END, 6)
                 AS mu_control
        FROM agg
    """

    sql["cuped_adjust"] = """
        WITH panel AS (
          SELECT
            CASE WHEN CAST(('0x' || substr(md5('a:' ||
                 CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 2 = 0 THEN 1 ELSE 0 END AS tr,
            100.0 + (CAST(('0x' || substr(md5('x:' ||
                 CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 1000) / 10.0 AS x,
            CAST(('0x' || substr(md5('n:' ||
                 CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 100 AS noise
          FROM customer
        ), fp AS (
          SELECT CAST(tr AS DOUBLE) AS isa,
                 CAST(1 - tr AS DOUBLE) AS isb,
                 x + 4.0 * tr + noise / 20.0 AS y, x
          FROM panel
        ), m AS (
          SELECT CAST(sum(isa) AS BIGINT) AS na,
                 CAST(sum(isb) AS BIGINT) AS nb,
                 sum(y) AS sy, sum(x) AS sx, sum(y * x) AS sxy,
                 sum(x * x) AS sxx,
                 sum(isa * y) AS say, sum(isb * y) AS sby,
                 sum(isa * x) AS sax, sum(isb * x) AS sbx,
                 sum(isa * y * y) AS sayy, sum(isb * y * y) AS sbyy,
                 sum(isa * x * x) AS saxx, sum(isb * x * x) AS sbxx,
                 sum(isa * y * x) AS saxy, sum(isb * y * x) AS sbxy
          FROM fp
        ), d AS (
          SELECT *,
                 na + nb AS n,
                 sx / (na + nb) AS xbar,
                 sxx / (na + nb) - pow(sx / (na + nb), 2) AS varx,
                 sxy / (na + nb)
                   - (sy / (na + nb)) * (sx / (na + nb)) AS covxy
          FROM m
        ), t AS (
          SELECT *,
                 CASE WHEN varx <= 0.0 THEN 0.0
                      ELSE covxy / varx END AS theta
          FROM d
        ), e AS (
          SELECT *,
                 say / na AS mya, sby / nb AS myb,
                 sax / na AS mxa, sbx / nb AS mxb,
                 greatest(sayy / na - pow(say / na, 2)
                   - 2.0 * theta * (saxy / na
                     - (say / na) * (sax / na))
                   + theta * theta
                     * (saxx / na - pow(sax / na, 2)), 0.0)
                   * na / (na - 1) AS va,
                 greatest(sbyy / nb - pow(sby / nb, 2)
                   - 2.0 * theta * (sbxy / nb
                     - (sby / nb) * (sbx / nb))
                   + theta * theta
                     * (sbxx / nb - pow(sbx / nb, 2)), 0.0)
                   * nb / (nb - 1) AS vb,
                 (sayy / na - pow(say / na, 2)) * na / (na - 1)
                   AS vya,
                 (sbyy / nb - pow(sby / nb, 2)) * nb / (nb - 1)
                   AS vyb
          FROM t
        ), f AS (
          SELECT *,
                 mya - myb AS diff_raw,
                 (mya - theta * (mxa - xbar))
                   - (myb - theta * (mxb - xbar)) AS diff_cuped,
                 va / na + vb / nb AS se2,
                 vya / na + vyb / nb AS raw_se2
          FROM e
        ), g AS (
          SELECT *,
                 sqrt(se2) AS se,
                 diff_cuped / sqrt(se2) AS z,
                 abs(diff_cuped / sqrt(se2)) / sqrt(2.0) AS az
          FROM f
        )
        SELECT na AS n_a, nb AS n_b,
               round(theta, 6) AS theta,
               round(diff_raw, 6) AS diff_raw,
               round(diff_cuped, 6) AS diff_cuped,
               round(greatest(0.0, 1.0 - se2 / raw_se2), 6)
                 AS var_reduction,
               round(se, 6) AS se_cuped,
               round(z, 6) AS z,
               round((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                      + 1.421413741 * pow(tt, 3)
                      - 1.453152027 * pow(tt, 4)
                      + 1.061405429 * pow(tt, 5)) * exp(-az * az), 6)
                 AS p_value,
               ((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                 + 1.421413741 * pow(tt, 3)
                 - 1.453152027 * pow(tt, 4)
                 + 1.061405429 * pow(tt, 5)) * exp(-az * az)) < 0.05
                 AS significant
        FROM g, (SELECT 1.0 / (1.0 + 0.3275911 * gg.az) AS tt
                 FROM g gg)
    """

    sql["conformal_intervals"] = """
        WITH cal AS (
          SELECT abs(CAST(o_totalprice AS DOUBLE)
                     - (30000.0 + 2.5 * (o_orderkey % 50000))) AS r
          FROM orders WHERE o_orderkey % 2 = 1
        ), ranked AS (
          SELECT r, row_number() OVER (ORDER BY r) AS rn,
                 count(*) OVER () AS n
          FROM cal WHERE r IS NOT NULL
        ), q AS (
          SELECT r AS qhat FROM ranked
          WHERE rn = CAST(ceil((n + 1) * 0.9) AS BIGINT)
        )
        SELECT CAST(o_orderkey AS BIGINT) AS oid,
               30000.0 + 2.5 * (o_orderkey % 50000) AS yhat,
               round(30000.0 + 2.5 * (o_orderkey % 50000)
                     - (SELECT qhat FROM q), 6) AS conformal_lo,
               round(30000.0 + 2.5 * (o_orderkey % 50000)
                     + (SELECT qhat FROM q), 6) AS conformal_hi
        FROM orders WHERE o_orderkey % 2 = 0
    """

    sql["regression_discontinuity"] = """
        WITH panel AS (
          SELECT
            (CAST(('0x' || substr(md5('r:' ||
               CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 1000000) / 1000000.0 AS score,
            CAST(('0x' || substr(md5('n:' ||
               CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)
               % 100 AS noise
          FROM customer
        ), base AS (
          SELECT score - 0.5 AS x,
                 10.0 + 6.0 * score
                 + 8.0 * (CASE WHEN score >= 0.5
                          THEN 1.0 ELSE 0.0 END)
                 + noise / 25.0 AS y
          FROM panel
          WHERE abs(score - 0.5) <= 0.3
        ), m AS (
          SELECT
            CAST(sum(CASE WHEN x < 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS nl,
            sum(CASE WHEN x < 0 THEN x END) AS sxl,
            sum(CASE WHEN x < 0 THEN x * x END) AS sxxl,
            sum(CASE WHEN x < 0 THEN y END) AS syl,
            sum(CASE WHEN x < 0 THEN x * y END) AS sxyl,
            sum(CASE WHEN x < 0 THEN y * y END) AS syyl,
            CAST(sum(CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS nr,
            sum(CASE WHEN x >= 0 THEN x END) AS sxr,
            sum(CASE WHEN x >= 0 THEN x * x END) AS sxxr,
            sum(CASE WHEN x >= 0 THEN y END) AS syr,
            sum(CASE WHEN x >= 0 THEN x * y END) AS sxyr,
            sum(CASE WHEN x >= 0 THEN y * y END) AS syyr
          FROM base
        ), f AS (
          SELECT nl, nr,
                 (sxyl - sxl * syl / nl)
                   / (sxxl - sxl * sxl / nl) AS bl,
                 (sxyr - sxr * syr / nr)
                   / (sxxr - sxr * sxr / nr) AS br,
                 sxl, sxxl, syl, sxyl, syyl,
                 sxr, sxxr, syr, sxyr, syyr,
                 sxxl - sxl * sxl / nl AS sxxcl,
                 sxxr - sxr * sxr / nr AS sxxcr
          FROM m
        ), g AS (
          SELECT *,
                 (syl - bl * sxl) / nl AS al,
                 (syr - br * sxr) / nr AS ar
          FROM f
        ), h AS (
          SELECT *,
                 greatest(syyl - al * syl - bl * sxyl, 0.0)
                   / (nl - 2) AS s2l,
                 greatest(syyr - ar * syr - br * sxyr, 0.0)
                   / (nr - 2) AS s2r
          FROM g
        ), k AS (
          SELECT *,
                 sqrt(s2l * (1.0 / nl + pow(sxl / nl, 2) / sxxcl)
                      + s2r * (1.0 / nr + pow(sxr / nr, 2) / sxxcr))
                   AS se,
                 ar - al AS effect
          FROM h
        ), z AS (
          SELECT *,
                 effect / se AS zz,
                 abs(effect / se) / sqrt(2.0) AS az
          FROM k
        )
        SELECT nl AS n_left, nr AS n_right,
               round(effect, 6) AS effect,
               round(al, 6) AS intercept_left,
               round(ar, 6) AS intercept_right,
               round(bl, 6) AS slope_left,
               round(br, 6) AS slope_right,
               round(se, 6) AS se,
               round(zz, 6) AS z,
               round((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                      + 1.421413741 * pow(tt, 3)
                      - 1.453152027 * pow(tt, 4)
                      + 1.061405429 * pow(tt, 5)) * exp(-az * az), 6)
                 AS p_value,
               ((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                 + 1.421413741 * pow(tt, 3)
                 - 1.453152027 * pow(tt, 4)
                 + 1.061405429 * pow(tt, 5)) * exp(-az * az)) < 0.05
                 AS significant
        FROM z, (SELECT 1.0 / (1.0 + 0.3275911 * zz2.az) AS tt
                 FROM z zz2)
    """

    sql["cumulative_incidence"] = """
        WITH base AS (
          SELECT CAST((o_orderkey % 25) + 1 AS DOUBLE) AS t,
                 CASE WHEN o_orderkey % 7 < 2 THEN 'a'
                      WHEN o_orderkey % 7 = 2 THEN 'b'
                      ELSE '0' END AS e
          FROM orders
        ), per_tc AS (
          SELECT t, e, CAST(count(*) AS BIGINT) AS n
          FROM base GROUP BY t, e
        ), per_t AS (
          SELECT t,
                 CAST(sum(CASE WHEN e <> '0' THEN n ELSE 0 END)
                   AS BIGINT) AS d,
                 CAST(sum(n) AS BIGINT) AS total
          FROM per_tc GROUP BY t
        ), staged AS (
          SELECT t, d,
                 sum(total) OVER ()
                   - coalesce(sum(total) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS n_risk
          FROM per_t
        ), surv AS (
          SELECT t, d, n_risk,
                 CASE WHEN coalesce(max(CASE WHEN d = n_risk
                        THEN 1 ELSE 0 END) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0) = 1
                 THEN 0.0
                 ELSE exp(coalesce(sum(CASE WHEN d > 0 AND d < n_risk
                        THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                        ELSE 0.0 END) OVER (ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND 1 PRECEDING), 0.0))
                 END AS s_minus
          FROM staged
        ), inc AS (
          SELECT c.t, c.e, s.n_risk, c.n,
                 s.s_minus * CAST(c.n AS DOUBLE) / s.n_risk AS i
          FROM per_tc c JOIN surv s ON c.t = s.t
          WHERE c.e <> '0'
        )
        SELECT t AS duration, e AS event_type,
               CAST(n_risk AS BIGINT) AS n_at_risk, n AS n_events,
               round(sum(i) OVER (PARTITION BY e ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 6) AS cif
        FROM inc
    """

    sql["poisson_fit"] = """
        WITH base AS MATERIALIZED (
          SELECT CAST((o_orderkey * 13) % 7 AS DOUBLE) AS y,
                 CAST(o_orderkey % 4 AS DOUBLE) AS x
          FROM orders
        ),
        it0 AS MATERIALIZED (SELECT 0.0 AS b0, 0.0 AS b1),
        f1 AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it0)
                     + (SELECT b1 FROM it0) * x)) AS h11
          FROM base
        ),
        it1 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it0)
                 + ((SELECT h11 FROM f1) * (SELECT g0 FROM f1)
                    - (SELECT h01 FROM f1) * (SELECT g1 FROM f1))
                   / ((SELECT h00 FROM f1) * (SELECT h11 FROM f1)
                      - (SELECT h01 FROM f1) * (SELECT h01 FROM f1))
                   AS b0,
                 (SELECT b1 FROM it0)
                 + ((SELECT h00 FROM f1) * (SELECT g1 FROM f1)
                    - (SELECT h01 FROM f1) * (SELECT g0 FROM f1))
                   / ((SELECT h00 FROM f1) * (SELECT h11 FROM f1)
                      - (SELECT h01 FROM f1) * (SELECT h01 FROM f1))
                   AS b1
        ),
        f2 AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it1)
                     + (SELECT b1 FROM it1) * x)) AS h11
          FROM base
        ),
        it2 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it1)
                 + ((SELECT h11 FROM f2) * (SELECT g0 FROM f2)
                    - (SELECT h01 FROM f2) * (SELECT g1 FROM f2))
                   / ((SELECT h00 FROM f2) * (SELECT h11 FROM f2)
                      - (SELECT h01 FROM f2) * (SELECT h01 FROM f2))
                   AS b0,
                 (SELECT b1 FROM it1)
                 + ((SELECT h00 FROM f2) * (SELECT g1 FROM f2)
                    - (SELECT h01 FROM f2) * (SELECT g0 FROM f2))
                   / ((SELECT h00 FROM f2) * (SELECT h11 FROM f2)
                      - (SELECT h01 FROM f2) * (SELECT h01 FROM f2))
                   AS b1
        ),
        f3 AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it2)
                     + (SELECT b1 FROM it2) * x)) AS h11
          FROM base
        ),
        it3 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it2)
                 + ((SELECT h11 FROM f3) * (SELECT g0 FROM f3)
                    - (SELECT h01 FROM f3) * (SELECT g1 FROM f3))
                   / ((SELECT h00 FROM f3) * (SELECT h11 FROM f3)
                      - (SELECT h01 FROM f3) * (SELECT h01 FROM f3))
                   AS b0,
                 (SELECT b1 FROM it2)
                 + ((SELECT h00 FROM f3) * (SELECT g1 FROM f3)
                    - (SELECT h01 FROM f3) * (SELECT g0 FROM f3))
                   / ((SELECT h00 FROM f3) * (SELECT h11 FROM f3)
                      - (SELECT h01 FROM f3) * (SELECT h01 FROM f3))
                   AS b1
        ),
        f4 AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it3)
                     + (SELECT b1 FROM it3) * x)) AS h11
          FROM base
        ),
        it4 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it3)
                 + ((SELECT h11 FROM f4) * (SELECT g0 FROM f4)
                    - (SELECT h01 FROM f4) * (SELECT g1 FROM f4))
                   / ((SELECT h00 FROM f4) * (SELECT h11 FROM f4)
                      - (SELECT h01 FROM f4) * (SELECT h01 FROM f4))
                   AS b0,
                 (SELECT b1 FROM it3)
                 + ((SELECT h00 FROM f4) * (SELECT g1 FROM f4)
                    - (SELECT h01 FROM f4) * (SELECT g0 FROM f4))
                   / ((SELECT h00 FROM f4) * (SELECT h11 FROM f4)
                      - (SELECT h01 FROM f4) * (SELECT h01 FROM f4))
                   AS b1
        ),
        f5 AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it4)
                     + (SELECT b1 FROM it4) * x)) AS h11
          FROM base
        ),
        it5 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it4)
                 + ((SELECT h11 FROM f5) * (SELECT g0 FROM f5)
                    - (SELECT h01 FROM f5) * (SELECT g1 FROM f5))
                   / ((SELECT h00 FROM f5) * (SELECT h11 FROM f5)
                      - (SELECT h01 FROM f5) * (SELECT h01 FROM f5))
                   AS b0,
                 (SELECT b1 FROM it4)
                 + ((SELECT h00 FROM f5) * (SELECT g1 FROM f5)
                    - (SELECT h01 FROM f5) * (SELECT g0 FROM f5))
                   / ((SELECT h00 FROM f5) * (SELECT h11 FROM f5)
                      - (SELECT h01 FROM f5) * (SELECT h01 FROM f5))
                   AS b1
        ),
        f6 AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it5)
                     + (SELECT b1 FROM it5) * x)) AS h11
          FROM base
        ),
        it6 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it5)
                 + ((SELECT h11 FROM f6) * (SELECT g0 FROM f6)
                    - (SELECT h01 FROM f6) * (SELECT g1 FROM f6))
                   / ((SELECT h00 FROM f6) * (SELECT h11 FROM f6)
                      - (SELECT h01 FROM f6) * (SELECT h01 FROM f6))
                   AS b0,
                 (SELECT b1 FROM it5)
                 + ((SELECT h00 FROM f6) * (SELECT g1 FROM f6)
                    - (SELECT h01 FROM f6) * (SELECT g0 FROM f6))
                   / ((SELECT h00 FROM f6) * (SELECT h11 FROM f6)
                      - (SELECT h01 FROM f6) * (SELECT h01 FROM f6))
                   AS b1
        ),
        f7 AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it6)
                     + (SELECT b1 FROM it6) * x)) AS h11
          FROM base
        ),
        it7 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it6)
                 + ((SELECT h11 FROM f7) * (SELECT g0 FROM f7)
                    - (SELECT h01 FROM f7) * (SELECT g1 FROM f7))
                   / ((SELECT h00 FROM f7) * (SELECT h11 FROM f7)
                      - (SELECT h01 FROM f7) * (SELECT h01 FROM f7))
                   AS b0,
                 (SELECT b1 FROM it6)
                 + ((SELECT h00 FROM f7) * (SELECT g1 FROM f7)
                    - (SELECT h01 FROM f7) * (SELECT g0 FROM f7))
                   / ((SELECT h00 FROM f7) * (SELECT h11 FROM f7)
                      - (SELECT h01 FROM f7) * (SELECT h01 FROM f7))
                   AS b1
        ),
        f8 AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it7)
                     + (SELECT b1 FROM it7) * x)) AS h11
          FROM base
        ),
        it8 AS MATERIALIZED (
          SELECT (SELECT b0 FROM it7)
                 + ((SELECT h11 FROM f8) * (SELECT g0 FROM f8)
                    - (SELECT h01 FROM f8) * (SELECT g1 FROM f8))
                   / ((SELECT h00 FROM f8) * (SELECT h11 FROM f8)
                      - (SELECT h01 FROM f8) * (SELECT h01 FROM f8))
                   AS b0,
                 (SELECT b1 FROM it7)
                 + ((SELECT h00 FROM f8) * (SELECT g1 FROM f8)
                    - (SELECT h01 FROM f8) * (SELECT g0 FROM f8))
                   / ((SELECT h00 FROM f8) * (SELECT h11 FROM f8)
                      - (SELECT h01 FROM f8) * (SELECT h01 FROM f8))
                   AS b1
        ),
        ff AS MATERIALIZED (
          SELECT count(*) AS n, sum(y) AS ty,
                 sum(y - exp((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x)) AS g0,
                 sum(x * (y - exp((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x))) AS g1,
                 sum(exp((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x)) AS h00,
                 sum(x * exp((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x)) AS h01,
                 sum(x * x * exp((SELECT b0 FROM it8)
                     + (SELECT b1 FROM it8) * x)) AS h11
          FROM base
        ),
        fin AS MATERIALIZED (
          SELECT n, ty,
                 (SELECT b0 FROM it8) AS b0,
                 (SELECT b1 FROM it8) AS b1,
                 h00 * h11 - h01 * h01 AS det, h00, h11
          FROM ff
        )
        SELECT n, CAST(ty AS BIGINT) AS total_events,
               round(b0, 6) AS intercept,
               round(b1, 6) AS beta,
               round(exp(b1), 6) AS rate_ratio,
               round(sqrt(h11 / det), 6) AS se_intercept,
               round(sqrt(h00 / det), 6) AS se_beta,
               round(b1 / sqrt(h00 / det), 6) AS z,
               round((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                      + 1.421413741 * pow(tt, 3)
                      - 1.453152027 * pow(tt, 4)
                      + 1.061405429 * pow(tt, 5)) * exp(-az * az), 6)
                 AS p_value,
               ((0.254829592 * tt - 0.284496736 * pow(tt, 2)
                 + 1.421413741 * pow(tt, 3)
                 - 1.453152027 * pow(tt, 4)
                 + 1.061405429 * pow(tt, 5)) * exp(-az * az)) < 0.05
                 AS significant
        FROM fin, (
          SELECT az, 1.0 / (1.0 + 0.3275911 * az) AS tt
          FROM (
            SELECT abs((SELECT b1 FROM it8)
                       / sqrt((SELECT h00 FROM ff)
                              / ((SELECT h00 FROM ff)
                                 * (SELECT h11 FROM ff)
                                 - (SELECT h01 FROM ff)
                                 * (SELECT h01 FROM ff))))
                   / sqrt(2.0) AS az
          )
        )
    """

    sql["twfe_fit"] = """
        WITH panel AS (
          SELECT c_custkey AS u, t,
                 ((c_custkey * 7 + t * 13) % 100) / 10.0 AS x
          FROM customer,
               unnest(generate_series(0, 7)) AS g(t)
        ), fp AS (
          SELECT CAST(u AS VARCHAR) AS u, CAST(t AS VARCHAR) AS tt,
                 x,
                 3.0 * x + CAST(u % 50 AS DOUBLE)
                 + CAST(t * t AS DOUBLE)
                 + ((u * 31 + t * 17) % 20) / 10.0 AS y
          FROM panel
        ), gm AS (
          SELECT CAST(count(*) AS BIGINT) AS n,
                 avg(x) AS mx, avg(y) AS my,
                 CAST(count(DISTINCT u) AS BIGINT) AS nu,
                 CAST(count(DISTINCT tt) AS BIGINT) AS nt
          FROM fp
        ), um AS (
          SELECT u, avg(x) AS ux, avg(y) AS uy FROM fp GROUP BY u
        ), tm AS (
          SELECT tt, avg(x) AS tx, avg(y) AS ty FROM fp GROUP BY tt
        ), m AS (
          SELECT sum((f.x - um.ux - tm.tx + gm.mx)
                     * (f.y - um.uy - tm.ty + gm.my)) AS sxy,
                 sum(pow(f.x - um.ux - tm.tx + gm.mx, 2)) AS sxx,
                 sum(pow(f.y - um.uy - tm.ty + gm.my, 2)) AS syy
          FROM fp f
          JOIN um ON f.u = um.u
          JOIN tm ON f.tt = tm.tt
          CROSS JOIN gm
        ), fit AS (
          SELECT gm.n, gm.nu, gm.nt,
                 m.sxy / m.sxx AS beta,
                 sqrt(greatest(m.syy - (m.sxy / m.sxx) * m.sxy, 0.0)
                      / (gm.n - gm.nu - gm.nt) / m.sxx) AS se
          FROM m CROSS JOIN gm
        ), z AS (
          SELECT *, beta / se AS zz,
                 abs(beta / se) / sqrt(2.0) AS az
          FROM fit
        )
        SELECT n, nu AS n_units, nt AS n_times,
               round(beta, 6) AS beta,
               round(se, 6) AS se,
               round(zz, 6) AS z,
               round((0.254829592 * tt2 - 0.284496736 * pow(tt2, 2)
                      + 1.421413741 * pow(tt2, 3)
                      - 1.453152027 * pow(tt2, 4)
                      + 1.061405429 * pow(tt2, 5)) * exp(-az * az), 6)
                 AS p_value,
               ((0.254829592 * tt2 - 0.284496736 * pow(tt2, 2)
                 + 1.421413741 * pow(tt2, 3)
                 - 1.453152027 * pow(tt2, 4)
                 + 1.061405429 * pow(tt2, 5)) * exp(-az * az)) < 0.05
                 AS significant
        FROM z, (SELECT 1.0 / (1.0 + 0.3275911 * z2.az) AS tt2
                 FROM z z2)
    """

    sql["rake_weights"] = """
        WITH cells AS MATERIALIZED (
          SELECT c_mktsegment AS seg,
                 CAST(c_nationkey % 5 AS VARCHAR) AS nb,
                 CAST(count(*) AS BIGINT) AS n
          FROM customer GROUP BY 1, 2
        ),
        w0 AS MATERIALIZED (
          SELECT seg, nb, n, 1.0 AS w FROM cells
        ),
        rs1 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w0 GROUP BY seg
        ), wr1 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w0 a JOIN rs1 r ON a.seg = r.seg
        ), cs1 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr1 GROUP BY nb
        ), w1 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr1 a JOIN cs1 c ON a.nb = c.nb
        ),
        rs2 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w1 GROUP BY seg
        ), wr2 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w1 a JOIN rs2 r ON a.seg = r.seg
        ), cs2 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr2 GROUP BY nb
        ), w2 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr2 a JOIN cs2 c ON a.nb = c.nb
        ),
        rs3 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w2 GROUP BY seg
        ), wr3 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w2 a JOIN rs3 r ON a.seg = r.seg
        ), cs3 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr3 GROUP BY nb
        ), w3 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr3 a JOIN cs3 c ON a.nb = c.nb
        ),
        rs4 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w3 GROUP BY seg
        ), wr4 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w3 a JOIN rs4 r ON a.seg = r.seg
        ), cs4 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr4 GROUP BY nb
        ), w4 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr4 a JOIN cs4 c ON a.nb = c.nb
        ),
        rs5 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w4 GROUP BY seg
        ), wr5 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w4 a JOIN rs5 r ON a.seg = r.seg
        ), cs5 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr5 GROUP BY nb
        ), w5 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr5 a JOIN cs5 c ON a.nb = c.nb
        ),
        rs6 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w5 GROUP BY seg
        ), wr6 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w5 a JOIN rs6 r ON a.seg = r.seg
        ), cs6 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr6 GROUP BY nb
        ), w6 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr6 a JOIN cs6 c ON a.nb = c.nb
        ),
        rs7 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w6 GROUP BY seg
        ), wr7 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w6 a JOIN rs7 r ON a.seg = r.seg
        ), cs7 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr7 GROUP BY nb
        ), w7 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr7 a JOIN cs7 c ON a.nb = c.nb
        ),
        rs8 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w7 GROUP BY seg
        ), wr8 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w7 a JOIN rs8 r ON a.seg = r.seg
        ), cs8 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr8 GROUP BY nb
        ), w8 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr8 a JOIN cs8 c ON a.nb = c.nb
        ),
        rs9 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w8 GROUP BY seg
        ), wr9 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w8 a JOIN rs9 r ON a.seg = r.seg
        ), cs9 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr9 GROUP BY nb
        ), w9 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr9 a JOIN cs9 c ON a.nb = c.nb
        ),
        rs10 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w9 GROUP BY seg
        ), wr10 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w9 a JOIN rs10 r ON a.seg = r.seg
        ), cs10 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr10 GROUP BY nb
        ), w10 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr10 a JOIN cs10 c ON a.nb = c.nb
        ),
        rs11 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w10 GROUP BY seg
        ), wr11 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w10 a JOIN rs11 r ON a.seg = r.seg
        ), cs11 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr11 GROUP BY nb
        ), w11 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr11 a JOIN cs11 c ON a.nb = c.nb
        ),
        rs12 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w11 GROUP BY seg
        ), wr12 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w11 a JOIN rs12 r ON a.seg = r.seg
        ), cs12 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr12 GROUP BY nb
        ), w12 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr12 a JOIN cs12 c ON a.nb = c.nb
        ),
        rs13 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w12 GROUP BY seg
        ), wr13 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w12 a JOIN rs13 r ON a.seg = r.seg
        ), cs13 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr13 GROUP BY nb
        ), w13 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr13 a JOIN cs13 c ON a.nb = c.nb
        ),
        rs14 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w13 GROUP BY seg
        ), wr14 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w13 a JOIN rs14 r ON a.seg = r.seg
        ), cs14 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr14 GROUP BY nb
        ), w14 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr14 a JOIN cs14 c ON a.nb = c.nb
        ),
        rs15 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w14 GROUP BY seg
        ), wr15 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w14 a JOIN rs15 r ON a.seg = r.seg
        ), cs15 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr15 GROUP BY nb
        ), w15 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr15 a JOIN cs15 c ON a.nb = c.nb
        ),
        rs16 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w15 GROUP BY seg
        ), wr16 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w15 a JOIN rs16 r ON a.seg = r.seg
        ), cs16 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr16 GROUP BY nb
        ), w16 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr16 a JOIN cs16 c ON a.nb = c.nb
        ),
        rs17 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w16 GROUP BY seg
        ), wr17 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w16 a JOIN rs17 r ON a.seg = r.seg
        ), cs17 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr17 GROUP BY nb
        ), w17 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr17 a JOIN cs17 c ON a.nb = c.nb
        ),
        rs18 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w17 GROUP BY seg
        ), wr18 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w17 a JOIN rs18 r ON a.seg = r.seg
        ), cs18 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr18 GROUP BY nb
        ), w18 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr18 a JOIN cs18 c ON a.nb = c.nb
        ),
        rs19 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w18 GROUP BY seg
        ), wr19 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w18 a JOIN rs19 r ON a.seg = r.seg
        ), cs19 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr19 GROUP BY nb
        ), w19 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr19 a JOIN cs19 c ON a.nb = c.nb
        ),
        rs20 AS MATERIALIZED (
          SELECT seg, sum(n * w) AS s FROM w19 GROUP BY seg
        ), wr20 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / r.s AS w
          FROM w19 a JOIN rs20 r ON a.seg = r.seg
        ), cs20 AS MATERIALIZED (
          SELECT nb, sum(n * w) AS s FROM wr20 GROUP BY nb
        ), w20 AS MATERIALIZED (
          SELECT a.seg, a.nb, a.n,
                 a.w * 20.0 / c.s AS w
          FROM wr20 a JOIN cs20 c ON a.nb = c.nb
        )
        SELECT seg AS row_cat, nb AS col_cat, n,
               round(w, 6) AS weight
        FROM w20
    """

    return sql










# ---------------------------------------------------------------------------
# round 11 batch 2: sequences, partition quality, survival effect size,
# featurization binning, grid spatial KNN
# ---------------------------------------------------------------------------

def q_sequence_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event-type trigrams over per-user sequences
    (operators/analytics.sequence_ngrams): one user-partitioned lead
    window, gram-sized rollup, distinct-user support with a broadcast
    share denominator.  VALUE oracle: identical double-lead + distinct
    counts in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import sequence_ngrams

    e = _events(spark, sf_dir)
    return sequence_ngrams(e, n=3, tiebreak_col="event_id", min_users=2)


def q_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the nation partition over the symmetric
    customer↔supplier trade graph (graph/structure.modularity): two
    node-keyed label joins + community-sized folds; the acceptance
    gate for LPA output.  VALUE oracle: identical tagging + arithmetic
    in DuckDB."""
    from moz_datapipeline_spark.graph.structure import modularity

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    fwd = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + 1000000).cast("long").alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = c.select(
        F.col("c_custkey").cast("long").alias("node"),
        F.col("c_nationkey").cast("long").alias("community"),
    ).unionByName(
        s.select(
            (F.col("s_suppkey") + 1000000).cast("long").alias("node"),
            F.col("s_nationkey").cast("long").alias("community"),
        )
    )
    return modularity(edges, labels)


def q_rmst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Restricted mean survival time at a 14-day horizon over the
    q_kaplan_meier subjects (operators/analytics.rmst): the KM rollup
    plus one lead window and one sum fold — the model-free "expected
    active days in the first 14" effect size.  VALUE oracle: the KM
    replay extended with the same step integration in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import rmst

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    edge = e.agg(F.max(day).alias("_edge"))
    subj = spans.crossJoin(F.broadcast(edge)).select(
        (F.col("_last") - F.col("_first")).alias("duration"),
        (F.col("_last") < F.col("_edge") - 3).cast("int").alias("event"),
    )
    return rmst(subj, "duration", "event", tau=14.0)


def q_quantile_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency 8-bin discretization of l_extendedprice
    (operators/features.quantile_bin): distributed interpolated
    breakpoints (ranges.exact_quantiles — histogram passes, never a
    single-task percentile buffer), then a pure codegen Σ[v > bᵢ]
    assignment; readout is the per-bin profile.  VALUE oracle:
    quantile_cont breakpoints + list_filter binning in DuckDB."""
    from moz_datapipeline_spark.operators.features import quantile_bin

    li = _t(spark, sf_dir, "lineitem")
    binned = quantile_bin(li, "l_extendedprice", k=8)
    v = F.col("l_extendedprice").cast("double")
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(v), 2).alias("min_v"),
        F.round(F.max(v), 2).alias("max_v"),
    )


def q_grid_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial 3-NN join: supplier points snap to their
    nearest customer points among the 3x3 neighboring 30-degree cells
    (operators/geometry.grid_knn_join) — the scalable form of J5's
    nearest-facility snap (prep-bridge.js:27-47) with the candidate
    set bounded by the grid, never |corpus|.  VALUE oracle: identical
    cell assignment, 9-offset expansion, haversine, and row_number
    in DuckDB."""
    from moz_datapipeline_spark.operators.geometry import grid_knn_join

    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    corpus = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        ((F.col("c_custkey") % 360) - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("c_custkey") * 7 % 170) - 85 + 0.5).cast("double").alias("lat"),
    )
    queries_df = s.select(
        F.col("s_suppkey").cast("long").alias("id"),
        ((F.col("s_suppkey") * 13 % 360) - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("s_suppkey") * 11 % 170) - 85 + 0.5).cast("double").alias("lat"),
    )
    return grid_knn_join(corpus, queries_df, k=3, cell_deg=30.0)


def q_modularity_move(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One synchronous greedy modularity-ascent round (Louvain local
    move, graph/structure.greedy_modularity_move) over the trade graph
    seeded with the nation partition: every node simultaneously picks
    the neighbor community (or stays) with the best standard local-move
    gain, ties to the smaller community id.  VALUE oracle: identical
    candidate set + gain arithmetic + row_number in DuckDB."""
    from moz_datapipeline_spark.graph.structure import greedy_modularity_move

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    fwd = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("src"),
            (F.col("l_suppkey") + 1000000).cast("long").alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = c.select(
        F.col("c_custkey").cast("long").alias("node"),
        F.col("c_nationkey").cast("long").alias("community"),
    ).unionByName(
        s.select(
            (F.col("s_suppkey") + 1000000).cast("long").alias("node"),
            F.col("s_nationkey").cast("long").alias("community"),
        )
    )
    return greedy_modularity_move(edges, labels)


def q_ols_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS per return flag: l_extendedprice on
    (l_quantity, l_discount) via the distributed moment aggregate +
    closed-form Cramer solve (operators/analytics.ols_fit) — one
    data-sized exchange carrying the moment partials, the solve on the
    group rollup.  VALUE oracle: identical moment sums + determinant
    arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import ols_fit

    li = _t(spark, sf_dir, "lineitem")
    return ols_fit(
        li,
        "l_extendedprice",
        ["l_quantity", "l_discount"],
        group_cols=["l_returnflag"],
    )


def q_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-density clustering (cell DBSCAN) of the synthetic customer
    points at 30-degree cells, min_pts 3
    (operators/geometry.grid_density_clusters): cell rollup → dense-
    cell 8-neighborhood components (min-cell-key label) → point join;
    sparse-cell points are NULL-cluster noise.  VALUE oracle: the
    same cells + a recursive-CTE closure in DuckDB."""
    from moz_datapipeline_spark.operators.geometry import (
        grid_density_clusters,
    )

    c = _t(spark, sf_dir, "customer")
    pts = c.select(
        F.col("c_custkey").cast("long").alias("id"),
        ((F.col("c_custkey") % 360) - 180 + 0.5).cast("double").alias("lon"),
        ((F.col("c_custkey") * 7 % 170) - 85 + 0.5).cast("double").alias("lat"),
    )
    return grid_density_clusters(pts, cell_deg=30.0, min_pts=3)


def q_ols_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/serve round trip: fit per-flag OLS then score lineitem
    with the PUBLISHED rounded coefficients
    (operators/analytics.ols_predict — broadcast model join + codegen
    dot product, no added shuffle) and profile the residuals per
    group.  VALUE oracle: the ols_fit replay + identical rounded
    scoring in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import ols_fit, ols_predict

    li = _t(spark, sf_dir, "lineitem")
    model = ols_fit(
        li,
        "l_extendedprice",
        ["l_quantity", "l_discount"],
        group_cols=["l_returnflag"],
    )
    scored = ols_predict(
        li,
        model,
        ["l_quantity", "l_discount"],
        y_col="l_extendedprice",
        group_cols=["l_returnflag"],
    )
    return scored.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(F.abs(F.col("residual"))), 4).alias("mae"),
        F.round(F.max(F.abs(F.col("residual"))), 4).alias("max_abs_residual"),
    )


def q_km_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median survival time over the q_kaplan_meier subjects
    (operators/analytics.km_median): first duration where the
    published KM curve is <= 0.5, NULL if never reached — one filter
    + min fold on the rollup.  VALUE oracle: the KM replay + the same
    min fold in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import km_median

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    edge = e.agg(F.max(day).alias("_edge"))
    subj = spans.crossJoin(F.broadcast(edge)).select(
        (F.col("_last") - F.col("_first")).alias("duration"),
        (F.col("_last") < F.col("_edge") - 3).cast("int").alias("event"),
    )
    return km_median(subj, "duration", "event")


def q_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join (operators/ranges.
    interval_overlap_join): per-user activity spans vs calendar-week
    windows, paired through a 7-day bucket grid (first-shared-bucket
    identity — one emit per pair, no distinct pass), rolled up to
    users + overlap days per week.  VALUE oracle: a plain overlap
    join in DuckDB (same RESULT, simpler mechanism)."""
    from moz_datapipeline_spark.operators.ranges import interval_overlap_join

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    spans = e.groupBy(F.col("user_id").alias("id")).agg(
        F.min(day).alias("start"), F.max(day).alias("end")
    )
    weeks = (
        e.select((day / 7).cast("long").alias("id")).distinct()
        .select(
            "id",
            (F.col("id") * 7).cast("double").alias("start"),
            (F.col("id") * 7 + 6).cast("double").alias("end"),
        )
    )
    pairs = interval_overlap_join(spans, weeks, bucket_width=7.0)
    return pairs.groupBy(F.col("right_id").alias("week")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.col("overlap") + 1).cast("long").alias("total_overlap_days"),
    ).select(
        (F.col("week") * 7).alias("week_start"),
        "n_users",
        "total_overlap_days",
    )


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution of purchase conversions over
    per-user event sequences (operators/analytics.touch_attribution):
    running-count windows assign touches to conversion windows, a
    window-granular semi join keeps converted windows, per-window
    equal split, touch-type-sized credit fold.  VALUE oracle:
    identical windows + IN-subquery semi join in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import touch_attribution

    e = _events(spark, sf_dir)
    return touch_attribution(
        e, conversion_type="purchase", model="linear",
        tiebreak_col="event_id",
    )


def q_collapse_rare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-label collapse of the documents source column (operators/
    features.collapse_rare): category rollup → broadcast keep-list →
    codegen recode, profiled as collapsed-category counts.  VALUE
    oracle: identical threshold + recode in DuckDB."""
    from moz_datapipeline_spark.operators.features import collapse_rare

    d = _t(spark, sf_dir, "documents")
    out = collapse_rare(d, "source", min_count=40, out_col="source_c")
    return out.groupBy("source_c").agg(F.count(F.lit(1)).alias("n"))


def q_quantile_bin_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group equal-frequency binning: l_quantity quartiles WITHIN
    each return flag (operators/features.quantile_bin_grouped — the
    grouped histogram-pass breakpoints, broadcast cut lists, HOF
    assignment), profiled per (flag, bin).  VALUE oracle: per-group
    quantile_cont + list_filter in DuckDB."""
    from moz_datapipeline_spark.operators.features import (
        quantile_bin_grouped,
    )

    li = _t(spark, sf_dir, "lineitem")
    binned = quantile_bin_grouped(li, "l_returnflag", "l_quantity", k=4)
    v = F.col("l_quantity").cast("double")
    return binned.groupBy("l_returnflag", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(v), 2).alias("min_v"),
        F.round(F.max(v), 2).alias("max_v"),
    )


def q_touch_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-decay multi-touch attribution (1-day half-life in event
    nanoseconds): recent touches earn exponentially more of each
    conversion's credit (operators/analytics.touch_attribution,
    model=time_decay).  VALUE oracle: identical windows + decay
    normalization in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import touch_attribution

    e = _events(spark, sf_dir)
    return touch_attribution(
        e,
        conversion_type="purchase",
        model="time_decay",
        tiebreak_col="event_id",
        half_life=86400000000000.0,
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality gates over documents
    (operators/text.repetition_signals): duplicate-line fraction and
    top-bigram concentration — JVM array builds, one explode each for
    the line/bigram rollups, doc-keyed exchanges only.  VALUE oracle:
    identical tokenization + rollups in DuckDB."""
    from moz_datapipeline_spark.operators.text import repetition_signals

    d = _t(spark, sf_dir, "documents")
    return repetition_signals(d)


def q_eb_shrink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-customer fulfilled-order
    rates (operators/analytics.eb_shrink_rates): Beta-Binomial
    method-of-moments prior from one rollup-sized fold, posterior
    means broadcast back — the leaderboard-noise fix.  VALUE oracle:
    identical moments + posterior arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import eb_shrink_rates

    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_custkey",
        (F.col("o_orderstatus") == "F").cast("int").alias("succ"),
        F.lit(1).alias("trial"),
    )
    return eb_shrink_rates(base, "o_custkey", "succ", "trial")


def q_km_survival_at(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Censoring-correct day-3/7/14 retention: S(h) read off the KM
    curve at fixed horizons (operators/analytics.km_survival_at) —
    the naive day-k ratio counts the young cohort as churned; this
    doesn't.  VALUE oracle: KM replay + correlated last-step lookup
    in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import km_survival_at

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    edge = e.agg(F.max(day).alias("_edge"))
    subj = spans.crossJoin(F.broadcast(edge)).select(
        (F.col("_last") - F.col("_first")).alias("duration"),
        (F.col("_last") < F.col("_edge") - 3).cast("int").alias("event"),
    )
    return km_survival_at(subj, "duration", "event", horizons=[3.0, 7.0, 14.0])


def q_dataset_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Release reconciliation: orders vs a deterministically perturbed
    rebuild — %13 keys dropped, %7 prices bumped, %11 keys re-added
    under a new id (operators/validation.dataset_diff: one full-outer
    key join + one conditional-sum fold; NULL-safe column compare).
    VALUE oracle: identical perturbation + FULL OUTER reconciliation
    in DuckDB."""
    from moz_datapipeline_spark.operators.validation import dataset_diff

    o = _t(spark, sf_dir, "orders")
    old = o.select("o_orderkey", "o_totalprice", "o_orderstatus")
    kept = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 10.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    added = o.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        "o_totalprice",
        "o_orderstatus",
    )
    new = kept.unionByName(added)
    return dataset_diff(old, new, ["o_orderkey"])


def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curve over purchase revenue
    (operators/analytics.cohort_ltv): per-user cohort fold + one
    user-keyed join + (cohort, offset) rollup + a cohort-partitioned
    cumulative window — divides by FULL cohort size so curves
    compare.  VALUE oracle: identical grid + running sum in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import cohort_ltv

    e = _events(spark, sf_dir)
    return cohort_ltv(e, value_type="purchase")


def q_state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands run collapse of per-user event-type streaks
    (operators/temporal.state_durations): the two-row_number island
    identity + one (entity, state, island) rollup, all partitioned by
    user.  VALUE oracle: identical windows in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import state_durations

    e = _events(spark, sf_dir)
    out = state_durations(e, tiebreak_col="event_id")
    return out.drop("_isl") if "_isl" in out.columns else out


def q_path_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-indexed journey flows for the first 5 steps
    (operators/analytics.path_flows): one user-ordered
    row_number+lead window, step-capped rollup — the Sankey input
    markov_transitions can't produce (it forgets position).  VALUE
    oracle: identical windows in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import path_flows

    e = _events(spark, sf_dir)
    return path_flows(e, max_steps=5, tiebreak_col="event_id")


def q_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prominence-gated local maxima over hourly per-type event
    counts (operators/temporal.local_peaks): one group-partitioned
    two-sided neighbor-max window on the BUCKET rollup, full-window
    interior points only.  VALUE oracle: identical row-frame windows
    in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import local_peaks

    e = _events(spark, sf_dir)
    hourly = e.groupBy(
        F.col("event_type").alias("etype"),
        F.expr("ts div 3600000000000").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    return local_peaks(
        hourly, "etype", "hour", "n", neighborhood=2, min_prominence=1.0
    )


def q_trajectory_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trajectory rollup over synthetic event-derived GPS
    points (operators/geometry.trajectory_stats): one lag window for
    segment haversines + one fold carrying first/last via
    lexicographic struct min/max — total path, worst hop, net
    displacement, straightness.  VALUE oracle: identical windows +
    struct folds in DuckDB."""
    from moz_datapipeline_spark.operators.geometry import trajectory_stats

    e = _events(spark, sf_dir)
    pts = e.select(
        "user_id",
        "ts",
        "event_id",
        ((F.col("event_id") * 37 % 360) - 180 + 0.5)
        .cast("double")
        .alias("lon"),
        ((F.col("event_id") * 17 % 170) - 85 + 0.5)
        .cast("double")
        .alias("lat"),
    )
    return trajectory_stats(
        pts,
        entity_col="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
    )


def q_prorate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue calendarization: order amounts spread over 30-day
    buckets proportional to each order's service interval
    (operators/ranges.prorate_intervals — map-side sequence explode +
    scalar arithmetic, zero shuffles before the caller's rollup),
    rolled up per bucket.  VALUE oracle: identical half-open
    proration in DuckDB."""
    from moz_datapipeline_spark.operators.ranges import prorate_intervals

    o = _t(spark, sf_dir, "orders")
    iv = o.select(
        F.col("o_orderkey").alias("id"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("double")
        .alias("start"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            + F.col("o_orderkey") % 30
        )
        .cast("double")
        .alias("end"),
        F.col("o_totalprice").alias("amount"),
    )
    out = prorate_intervals(iv, "start", "end", "amount", bucket_width=30.0)
    return out.groupBy("bucket_start").agg(
        F.count(F.lit(1)).alias("n_slices"),
        (F.floor(F.sum("allocated") * 100 + F.lit(0.5)) / 100.0).alias(
            "revenue"
        ),
    )


def q_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust z-score feature for l_extendedprice per return flag
    (operators/features.robust_scale): grouped median/MAD via the
    distributed histogram passes, constants inlined as literals, the
    feature a pure codegen expression — profiled per (flag, z-band).
    VALUE oracle: quantile_disc-free replay with quantile_cont
    medians + the same banding in DuckDB."""
    from moz_datapipeline_spark.operators.features import robust_scale

    li = _t(spark, sf_dir, "lineitem")
    out = robust_scale(li, "l_extendedprice", group_col="l_returnflag")
    band = F.floor(F.col("robust_z"))
    return out.groupBy(
        "l_returnflag", band.cast("int").alias("z_band")
    ).agg(F.count(F.lit(1)).alias("n"))


def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate over lineitem: five expectations
    folded into ONE conditional-sum pass
    (operators/validation.expectations_report).  VALUE oracle:
    identical predicates as CASE sums in DuckDB."""
    from moz_datapipeline_spark.operators.validation import (
        expect_in_range,
        expect_in_set,
        expect_not_null,
        expect_positive,
        expectations_report,
    )

    li = _t(spark, sf_dir, "lineitem")
    return expectations_report(
        li,
        [
            expect_not_null("l_orderkey"),
            expect_positive("l_quantity"),
            expect_in_range("l_discount", 0.0, 0.1),
            expect_in_set("l_returnflag", ["A", "N", "R"]),
            expect_in_range("l_extendedprice", 900.0, 200000.0),
        ],
    )


def q_item_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Customers who bought X also bought": top-5 cosine item
    neighbors per part over customer↔part purchase edges
    (graph/aggregate.item_similarity — the projection's in-task pair
    plan + broadcast degree join + WindowGroupLimit; cap disabled
    here so the oracle replays exactly).  VALUE oracle: self-join
    pair counts + identical cosine + row_number in DuckDB."""
    from moz_datapipeline_spark.graph.aggregate import item_similarity

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").cast("long").alias("user"),
            (F.col("l_partkey") % 200).cast("long").alias("item"),
        )
    )
    return item_similarity(edges, k=5, max_user_degree=None)


def q_weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price quartiles per return flag
    (operators/indicators.weighted_quantiles): one tie-safe RANGE-
    frame cumulative-weight window + |probs| explode on the marked
    frame — the weighted_median generalization.  VALUE oracle:
    identical cumulative windows in DuckDB."""
    from moz_datapipeline_spark.operators.indicators import weighted_quantiles

    li = _t(spark, sf_dir, "lineitem")
    out = weighted_quantiles(
        li, "l_returnflag", "l_extendedprice", "l_quantity",
        probs=[0.25, 0.5, 0.75, 0.9],
    )
    return out.select(
        "l_returnflag",
        "prob",
        "value",
        F.round("total_weight", 2).alias("total_weight"),
    )


def q_conversion_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top journeys into first purchase, 5 steps
    (operators/analytics.conversion_paths): conditional min-struct
    first-conversion fold + prefix filter + per-user JVM
    sort/slice/concat, path-sized rollup.  VALUE oracle: identical
    prefix + ordered string_agg in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import conversion_paths

    e = _events(spark, sf_dir)
    return conversion_paths(
        e, conversion_type="purchase", max_steps=5,
        tiebreak_col="event_id",
    )


def q_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-token ratio + hapax fraction per document
    (operators/text.lexical_diversity): one split, JVM array folds,
    one doc-keyed explode for the hapax rollup.  VALUE oracle:
    identical tokenization + list folds in DuckDB."""
    from moz_datapipeline_spark.operators.text import lexical_diversity

    d = _t(spark, sf_dir, "documents")
    return lexical_diversity(d)


def q_weibull_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull shape/scale from the KM curve's log-log linearization
    (operators/analytics.weibull_fit): the KM rollup feeding the OLS
    moment fold — wear-out vs burn-in in two numbers.  VALUE oracle:
    KM replay + identical d=1 Cramer arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import weibull_fit

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    spans = e.groupBy("user_id").agg(
        F.min(day).alias("_first"), F.max(day).alias("_last")
    )
    edge = e.agg(F.max(day).alias("_edge"))
    subj = spans.crossJoin(F.broadcast(edge)).select(
        (F.col("_last") - F.col("_first")).alias("duration"),
        (F.col("_last") < F.col("_edge") - 3).cast("int").alias("event"),
    )
    return weibull_fit(subj, "duration", "event")


def q_inter_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-distribution readout for sessionization tuning
    (operators/temporal.inter_event_gaps): one user-lag window +
    the distributed exact-quantile histogram passes.  VALUE oracle:
    identical lag + quantile_cont in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import inter_event_gaps

    e = _events(spark, sf_dir)
    return inter_event_gaps(e, tiebreak_col="event_id",
                            probs=[0.5, 0.9, 0.99])


def q_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poissonness QC of daily event counts per type
    (operators/analytics.overdispersion_check): one (type, day)
    rollup then one moment fold — variance/mean per type with the
    overdispersion verdict.  VALUE oracle: identical moments in
    DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        overdispersion_check,
    )

    e = _events(spark, sf_dir)
    day = F.expr("ts div 86400000000000")
    daily = e.groupBy(
        F.col("event_type"), day.alias("_d")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return overdispersion_check(daily, "event_type", "cnt")


def q_adoption_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adoption S-curve (operators/analytics.adoption_curve):
    first-activity fold → day rollup → one rollup-sized cumulative
    window.  VALUE oracle: identical folds + running sum in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import adoption_curve

    e = _events(spark, sf_dir)
    return adoption_curve(e)


def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H over l_quantity by return flag
    (operators/analytics.kruskal_wallis): rank ANOVA on rollups with
    tie correction — l_quantity is small-integer-valued, so the tie
    term is the whole game.  VALUE oracle: identical rank/H/
    Wilson–Hilferty arithmetic replayed over DuckDB window sums."""
    from moz_datapipeline_spark.operators.analytics import kruskal_wallis

    li = _t(spark, sf_dir, "lineitem")
    return kruskal_wallis(li, "l_quantity", "l_returnflag")


def q_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of returnflag × linestatus
    independence (operators/validation.g_test_independence): one
    joint-count aggregate, present-cells-only fold.  VALUE oracle:
    same O·ln(O/E) fold + Wilson–Hilferty p in DuckDB."""
    from moz_datapipeline_spark.operators.validation import (
        g_test_independence,
    )

    li = _t(spark, sf_dir, "lineitem")
    return g_test_independence(li, "l_returnflag", "l_linestatus")


def q_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DFT periodogram of hourly event counts per type
    (operators/temporal.periodogram): rollup → explode harmonics →
    one (grp, k) aggregate; no windows, no sorts.  VALUE oracle:
    identical cos/sin sums over generate_series in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import periodogram

    e = _events(spark, sf_dir)
    return periodogram(
        e, group_col="event_type", bucket="hour", max_harmonic=8
    )


def q_croston(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston intermittent-demand forecast per user over daily
    purchase values (operators/temporal.croston): closed-form SES on
    demand sizes and inter-demand intervals — the sparse-series
    forecaster.  Filtered to users with ≥ 2 demand days so the
    forecast column is live.  VALUE oracle: same power-weight closed
    form via DuckDB windows."""
    from moz_datapipeline_spark.operators.temporal import croston

    e = _events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    out = croston(
        e, group_col="user_id", value_col="value", bucket="day", alpha=0.2
    )
    return out.select(
        F.col("grp").alias("user_id"),
        "n_periods",
        "demand_smooth",
        "interval_smooth",
        "croston_forecast",
    )


def q_ridge_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression of extendedprice on (quantity, discount) per
    return flag, λ = 1e6 (operators/analytics.ridge_fit): ols_fit's
    one-pass moment rollup with the penalized diagonal — shrinkage
    visible at the 6th decimal vs the ols_fit key.  VALUE oracle:
    identical Cramer arithmetic with the +λ diagonal in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import ridge_fit

    li = _t(spark, sf_dir, "lineitem")
    return ridge_fit(
        li,
        "l_extendedprice",
        ["l_quantity", "l_discount"],
        lam=1_000_000.0,
        group_cols=["l_returnflag"],
    )


def q_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test: do the return-flag classes differ in monthly
    shipped quantity, blocking on month
    (operators/analytics.friedman_test)?  Cells are SUM(l_quantity)
    per (month, flag) — integer-exact, so within-block ranks replay
    bit-identically; months missing a flag are dropped (TPC-H ships
    R/A only in the early months — the drop path is live).  VALUE
    oracle: identical cell fold + rank windows + χ²_F arithmetic."""
    from moz_datapipeline_spark.operators.analytics import friedman_test

    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias(
            "month_idx"
        ),
        "l_returnflag",
    ).agg(F.sum("l_quantity").alias("qty"))
    return friedman_test(cells, "month_idx", "l_returnflag", "qty")


def q_uplift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uplift-by-score-decile over a deterministic synthetic
    experiment on orders (operators/mleval.uplift_bins): dyadic
    scores (k/1024), treatment = orderkey parity, outcome lifted for
    treated high-scorers — rank-based integer bin cuts, no float
    boundaries.  VALUE oracle: identical rollup + window cumsum +
    integer bin arithmetic in DuckDB."""
    from moz_datapipeline_spark.operators.mleval import uplift_bins

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") % 1024).cast("double") / 1024.0).alias(
            "score"
        ),
        (F.col("o_orderkey") % 2).cast("int").alias("treat"),
        (
            (
                (F.col("o_orderkey") % 1024)
                + 300
                * (F.col("o_orderkey") % 2)
                * ((F.col("o_orderkey") % 3) == 0).cast("long")
            )
            > 900
        )
        .cast("int")
        .alias("converted"),
    )
    return uplift_bins(o, "score", "treat", "converted", n_bins=10)


def q_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Murphy decomposition of the Brier score over the
    calibration query's dyadic synthetic forecasts
    (operators/mleval.brier_decomposition): conditioning on distinct
    forecast values makes rel − res + unc = brier an identity.
    VALUE oracle: identical per-value rollup + 1-row fold."""
    from moz_datapipeline_spark.operators.mleval import (
        brier_decomposition,
    )

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") % 1024).cast("double") / 1024.0).alias(
            "score"
        ),
        (
            (F.col("o_orderkey") % 1024) + 120 * (F.col("o_orderkey") % 5)
            > 760
        )
        .cast("int")
        .alias("label"),
    )
    return brier_decomposition(o, "score", "label")


def q_pettitt_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pettitt rank changepoint over hourly per-type value rollups
    (operators/temporal.pettitt_changepoint): tie-averaged ranks +
    U_t running sum as group-partitioned rollup windows; earliest-
    bucket tie-break.  VALUE oracle: identical rank identity +
    QUALIFY argmax in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import (
        pettitt_changepoint,
    )

    e = _events(spark, sf_dir)
    return pettitt_changepoint(e, bucket="hour")


def q_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by R/S analysis over hourly per-type rollups
    (operators/temporal.hurst_exponent): complete 8/16/32/64-blocks,
    block-bounded windows, closed-form log-log slope.  VALUE oracle:
    identical block windows + Cramer d=1 fold in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import hurst_exponent

    e = _events(spark, sf_dir)
    return hurst_exponent(e, bucket="hour")


def q_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exposure-weighted Poisson rate comparison: purchases vs clicks
    (operators/analytics.poisson_rate_test) — two 1-row folds,
    conditional-binomial z.  VALUE oracle: identical integer-exact
    arithmetic."""
    from moz_datapipeline_spark.operators.analytics import (
        poisson_rate_test,
    )

    e = _events(spark, sf_dir)
    return poisson_rate_test(
        e.filter(F.col("event_type") == "purchase"),
        e.filter(F.col("event_type") == "click"),
    )


def q_mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar paired-binary test over two deterministic synthetic
    'model grades' on orders (operators/analytics.mcnemar_test): one
    conditional-sum aggregate, Edwards continuity correction, exact
    df=1 erfc tail.  VALUE oracle: identical arithmetic."""
    from moz_datapipeline_spark.operators.analytics import mcnemar_test

    o = _t(spark, sf_dir, "orders").select(
        ((F.col("o_orderkey") % 7) < 4).cast("int").alias("model_a"),
        ((F.col("o_orderkey") % 5) < 3).cast("int").alias("model_b"),
    )
    return mcnemar_test(o, "model_a", "model_b")


def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q: do return-flag classes differ in the rate of
    above-month-average volume (cell = month×flag, outcome = shipped
    quantity above the month's cross-flag mean — scale-free, live at
    every sf), blocking on month
    (operators/analytics.cochran_q)?  Incomplete months (late TPC-H
    months ship only 'N') are dropped with the count reported.
    VALUE oracle: identical cell folds + Q arithmetic."""
    from moz_datapipeline_spark.operators.analytics import cochran_q

    li = _t(spark, sf_dir, "lineitem")
    qty = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias(
            "month_idx"
        ),
        "l_returnflag",
    ).agg(F.sum("l_quantity").alias("qty"))
    mw = Window.partitionBy("month_idx")
    cells = qty.select(
        "month_idx",
        "l_returnflag",
        (F.col("qty") > F.avg("qty").over(mw)).cast("int").alias(
            "high"
        ),
    )
    return cochran_q(cells, "month_idx", "l_returnflag", "high")


def q_inequality_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T/Theil-L/Atkinson(0.5) of positive account balances per
    market segment (operators/analytics.inequality_indices): ONE
    4-moment hash aggregate — the sort-free complement to the Gini/
    Lorenz pair.  VALUE oracle: identical moment folds."""
    from moz_datapipeline_spark.operators.analytics import (
        inequality_indices,
    )

    c = _t(spark, sf_dir, "customer")
    return inequality_indices(c, "c_acctbal", group_col="c_mktsegment")


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask plan over documents
    (operators/corpus.span_corruption): md5-addressed, segment-
    spread, non-overlapping spans — zero shuffles, zero UDFs.
    VALUE oracle: identical md5/integer arithmetic over
    generate_series in DuckDB."""
    from moz_datapipeline_spark.operators.corpus import span_corruption

    d = _t(spark, sf_dir, "documents")
    return span_corruption(d).select(
        F.col("id").alias("doc_id"),
        "span_id",
        "start_token",
        "span_len",
        "n_tokens",
        "n_spans",
    )


def q_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test over hourly per-type value rollups
    (operators/temporal.runs_test): dichotomize against the group
    mean, count run starts via one lag window — all rollup-sized.
    VALUE oracle: identical windows + normal-approx arithmetic."""
    from moz_datapipeline_spark.operators.temporal import runs_test

    e = _events(spark, sf_dir)
    return runs_test(e, bucket="hour")


def q_decomposition_strength(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hyndman trend/seasonal strength per type off the
    seasonal_decompose components (operators/temporal
    .decomposition_strength): one |groups|-row moment fold over the
    rollup-sized decomposition.  VALUE oracle: the full
    decomposition replay + identical variance folds."""
    from moz_datapipeline_spark.operators.temporal import (
        decomposition_strength,
    )

    e = _events(spark, sf_dir)
    return decomposition_strength(e, bucket="hour", period=24)


def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L ordered-alternative test: does monthly shipped
    quantity increase across return-flag classes in label order
    (A < N < R), blocking on month
    (operators/analytics.page_trend)?  VALUE oracle: identical rank
    windows + L arithmetic."""
    from moz_datapipeline_spark.operators.analytics import page_trend

    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias(
            "month_idx"
        ),
        "l_returnflag",
    ).agg(F.sum("l_quantity").alias("qty"))
    return page_trend(cells, "month_idx", "l_returnflag", "qty")


def q_msprt_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid mSPRT over purchase-vs-click event values
    (operators/analytics.msprt_test): two 3-moment folds, Ville
    p = min(1, 1/Λ).  VALUE oracle: identical Welch/mixture
    arithmetic."""
    from moz_datapipeline_spark.operators.analytics import msprt_test

    e = _events(spark, sf_dir)
    return msprt_test(
        e.filter(F.col("event_type") == "purchase"),
        e.filter(F.col("event_type") == "click"),
        "value",
        tau=1.0,
    )


def q_quantile_treatment_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile treatment effects of promo vs non-promo parts on
    extended price (operators/analytics.quantile_treatment_effect):
    exact per-arm quantiles via the distributed histogram passes.
    VALUE oracle: quantile_cont per arm (the builtin-identical
    interpolation exact_quantiles pins)."""
    from moz_datapipeline_spark.operators.analytics import (
        quantile_treatment_effect,
    )

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_extendedprice",
        F.col("p_type").startswith("PROMO").alias("_is_promo"),
    )
    return quantile_treatment_effect(
        j.filter(F.col("_is_promo")),
        j.filter(~F.col("_is_promo")),
        "l_extendedprice",
    )


def q_wasserstein_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D earth-mover distance between promo and non-promo
    extended prices (operators/analytics.wasserstein_1d): CDF gaps ×
    value gaps over the distinct-value rollup, two-phase prefix scan
    + broadcast boundary table.  VALUE oracle: identical windows in
    DuckDB."""
    from moz_datapipeline_spark.operators.analytics import wasserstein_1d

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_extendedprice",
        F.col("p_type").startswith("PROMO").alias("_is_promo"),
    )
    return wasserstein_1d(
        j.filter(F.col("_is_promo")),
        j.filter(~F.col("_is_promo")),
        "l_extendedprice",
    )


def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of the language mix between two
    document source groups (operators/analytics.js_divergence): one
    category rollup + 1-row fold, absent-category-safe (the PSI
    failure mode).  VALUE oracle: identical mixture fold."""
    from moz_datapipeline_spark.operators.analytics import js_divergence

    d = _t(spark, sf_dir, "documents")
    return js_divergence(
        d.filter(F.col("source") <= "src4"),
        d.filter(F.col("source") > "src4"),
        "lang",
    )


def q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate Mahalanobis outliers over (quantity, extendedprice)
    (operators/analytics.mahalanobis_outliers): closed-form 2×2
    inverse as column expressions, one moment broadcast + pure
    projection.  Profiled per (flag, outlier) so the oracle compare
    is count-stable.  VALUE oracle: identical moments + distance."""
    from moz_datapipeline_spark.operators.analytics import (
        mahalanobis_outliers,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = mahalanobis_outliers(
        li.select("l_returnflag", "l_quantity", "l_extendedprice"),
        "l_quantity",
        "l_extendedprice",
    )
    return out.groupBy("l_returnflag", "is_outlier").agg(
        F.count(F.lit(1)).alias("n"),
        (F.floor(F.sum("maha_d2") * 1000 + F.lit(0.5)) / 1000.0).alias(
            "d2_sum"
        ),
    )


def q_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-3 users per (hour, event type)
    (streaming/events.windowed_topk_batch — the batch twin of the
    append-mode streaming counts + closed-window rank stage): one
    hash aggregate + per-(window, key) WindowGroupLimit.  VALUE
    oracle: identical counts + row_number tie-break in DuckDB."""
    from moz_datapipeline_spark.streaming.events import (
        windowed_topk_batch,
    )

    e = _events(spark, sf_dir)
    return windowed_topk_batch(e, k=3)


def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-hop random-walk corpus over the customer↔
    supplier trade graph (graph/walks.random_walks): hash-addressed
    neighbor picks, one equi join per hop — the DeepWalk input
    generator.  VALUE oracle: identical md5 picks over 3 unrolled
    hop CTEs in DuckDB."""
    from moz_datapipeline_spark.graph.walks import random_walks

    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    fwd = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_suppkey") + 1000000).alias("dst"),
        )
        .distinct()
    )
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return random_walks(edges, walk_len=3, walks_per_node=1)


def q_holm_correct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm step-down over a 5-test battery (deterministic integer-
    ratio p-values per order priority)
    (operators/validation.holm_correct): prefix-min rejection set
    over the tiny ranked frame.  VALUE oracle: identical thresholds
    + step-down windows."""
    from moz_datapipeline_spark.operators.validation import holm_correct

    o = _t(spark, sf_dir, "orders")
    battery = o.groupBy("o_orderpriority").agg(
        ((F.min("o_orderkey") % 997) / 997.0).alias("p_value")
    )
    out = holm_correct(battery, "p_value", alpha=0.05,
                       id_cols=["o_orderpriority"])
    return out.select(
        "o_orderpriority",
        F.round("p_value", 6).alias("p_value"),
        "rank",
        "holm_threshold",
        "reject",
    )


def q_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail over a deterministic 50/50
    orderkey-parity assignment (operators/validation.srm_check): one
    count aggregate vs the designed split, χ² GOF, p < 0.001 alarm.
    VALUE oracle: identical fold."""
    from moz_datapipeline_spark.operators.validation import srm_check

    o = _t(spark, sf_dir, "orders").select(
        F.when(F.col("o_orderkey") % 2 == 0, "control")
        .otherwise("treatment")
        .alias("arm")
    )
    return srm_check(o, "arm", {"control": 0.5, "treatment": 0.5})


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram (center, context) pairs over per-user event-type
    sequences, window 2 (operators/text.skipgram_pairs): explode ±d
    + one equi join on (user, pos+d) — linear, never a range join.
    Profiled per (center, context, distance) so the compare is
    count-stable.  VALUE oracle: identical row_number sequencing +
    offset join."""
    from moz_datapipeline_spark.operators.text import skipgram_pairs

    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        F.row_number().over(w).alias("pos"),
        "event_type",
    )
    pairs = skipgram_pairs(seq, "user_id", "pos", "event_type", window=2)
    return pairs.groupBy("center", "context", "distance").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def q_adstock_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric adstock over daily purchase values per event type
    (operators/temporal.adstock_transform): explode(0..L) + self
    equi join on the regular grid — gaps decay through, no windows.
    VALUE oracle: identical contribution join in DuckDB."""
    from moz_datapipeline_spark.operators.temporal import (
        adstock_transform,
    )

    e = _events(spark, sf_dir)
    # decay 0.6, NOT 0.5: a dyadic decay over 2-decimal spends makes
    # every 6th-decimal readout an EXACT half-tie, where 1-ulp
    # engine noise flips the snap — non-dyadic decays leave tie hits
    # measure-zero (the repo-wide float-readout convention)
    return adstock_transform(
        e, bucket="day", decay=0.6, max_lag=8
    )


def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laspeyres/Paasche/Fisher price indices, 1995 vs 1997 shipped
    lineitems per part (operators/analytics.price_index):
    matched-model join of per-period (item, avg price, total qty)
    cells, one 1-row fold.  VALUE oracle: identical folds."""
    from moz_datapipeline_spark.operators.analytics import price_index

    li = _t(spark, sf_dir, "lineitem")

    def period(year: int):
        return (
            li.filter(F.year("l_shipdate") == year)
            .groupBy("l_partkey")
            .agg(
                (F.sum("l_extendedprice") / F.sum("l_quantity")).alias(
                    "price"
                ),
                F.sum("l_quantity").alias("qty"),
            )
        )

    return price_index(
        period(1995), period(1997), "l_partkey", "price", "qty"
    )


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan over a deterministic synthetic
    listing derived from orders (operators/relational
    .compaction_plan): cumulative-quotient packing via the two-phase
    prefix scan.  Profiled per bin so the compare is count-stable.
    VALUE oracle: identical global cumsum + integer bin cut."""
    from moz_datapipeline_spark.operators.relational import (
        compaction_plan,
    )

    o = _t(spark, sf_dir, "orders")
    listing = o.select(
        F.concat(F.lit("part-"), F.col("o_orderkey").cast("string"))
        .alias("path"),
        (F.col("o_orderkey") % 9973 * 1024).cast("long").alias("bytes"),
    )
    plan = compaction_plan(listing, target_bytes=64 * 1024 * 1024)
    return plan.groupBy("bin", "bin_bytes", "n_files_in_bin").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("bytes").alias("sum_bytes"),
    )


def q_frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apriori itemsets (≤ size 3) over order baskets of part BRANDS
    (operators/relational.frequent_itemsets): L1 broadcast semi-join,
    downward-closed triple candidates before any basket scan.  VALUE
    oracle: identical level-wise joins in DuckDB."""
    from moz_datapipeline_spark.operators.relational import (
        frequent_itemsets,
    )

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    baskets = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("l_orderkey").alias("basket"),
        F.col("p_brand").alias("item"),
    )
    return frequent_itemsets(
        baskets, "basket", "item", min_support=40, max_size=3
    )


def q_seasonal_mad_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Phase-conditioned robust anomalies over hourly per-type value
    rollups (operators/temporal.seasonal_mad_anomalies): per-(group,
    hour-of-day) median/MAD windows, 3.5σ-equivalent flags.
    Profiled per (grp, phase, is_anomaly) so the compare is
    count-stable.  VALUE oracle: identical phase medians + flags."""
    from moz_datapipeline_spark.operators.temporal import (
        seasonal_mad_anomalies,
    )

    e = _events(spark, sf_dir)
    out = seasonal_mad_anomalies(e, bucket="hour", period=24)
    return out.groupBy("grp", "phase", "is_anomaly").agg(
        F.count(F.lit(1)).alias("n")
    )


def q_calendar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timezone-free calendar features over events
    (operators/features.calendar_features): integer-exact epoch-day
    arithmetic (dow via (day+3) mod 7), cyclic sin/cos encoders —
    pure projection.  Profiled per (day_of_week, hour_of_day) with
    encoder checksums.  VALUE oracle: identical integer arithmetic."""
    from moz_datapipeline_spark.operators.features import (
        calendar_features,
    )

    e = _events(spark, sf_dir)
    out = calendar_features(e)
    return out.groupBy(
        "day_of_week", "is_weekend", "hour_of_day",
        "dow_sin", "dow_cos", "hour_sin", "hour_cos",
    ).agg(F.count(F.lit(1)).alias("n"))


def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users
    (operators/analytics.rolling_active_users): (user, day) dedup →
    7× rollup explode → per-day distinct.  VALUE oracle: identical
    explode + distinct in DuckDB."""
    from moz_datapipeline_spark.operators.analytics import (
        rolling_active_users,
    )

    e = _events(spark, sf_dir)
    return rolling_active_users(e, window_days=7)


def q_mix_rate_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mix-vs-rate bridge of average extended price by return flag,
    1995 vs 1997 (operators/analytics.mix_rate_decomposition): one
    full-outer segment join — 1997 ships only 'N', so the
    missing-segment paths are live.  VALUE oracle: identical shares
    + effects."""
    from moz_datapipeline_spark.operators.analytics import (
        mix_rate_decomposition,
    )

    li = _t(spark, sf_dir, "lineitem")

    def period(year: int):
        return (
            li.filter(F.year("l_shipdate") == year)
            .groupBy("l_returnflag")
            .agg(
                F.sum("l_quantity").alias("qty"),
                F.avg("l_extendedprice").alias("avg_price"),
            )
        )

    return mix_rate_decomposition(
        period(1995), period(1997), "l_returnflag", "qty", "avg_price"
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC oplog application against the customer snapshot
    (operators/scd.cdc_apply): deterministic synthetic log (updates
    balances of keys ≡1 mod 7 twice — seq ordering decides — deletes
    keys ≡2 mod 11, inserts new keys), last-writer-wins via one
    max_by fold + anti join + union.  Profiled as a checksum so the
    compare is count-stable.  VALUE oracle: identical winner fold in
    DuckDB."""
    from moz_datapipeline_spark.operators.scd import cdc_apply

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    upd1 = c.filter(F.col("c_custkey") % 7 == 1).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 100).alias("c_acctbal"),
        F.lit("U").alias("op"),
        F.lit(1).alias("seq"),
    )
    upd2 = c.filter(F.col("c_custkey") % 7 == 1).select(
        "c_custkey",
        "c_name",
        (F.col("c_acctbal") + 500).alias("c_acctbal"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    dels = c.filter(F.col("c_custkey") % 11 == 2).select(
        "c_custkey",
        "c_name",
        "c_acctbal",
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    ins = c.select(
        (F.col("c_custkey") + 10_000_000).alias("c_custkey"),
        F.concat(F.lit("new-"), F.col("c_name")).alias("c_name"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    ).filter(F.col("c_custkey") % 13 == 3)
    oplog = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
    out = cdc_apply(c, oplog, ["c_custkey"], "seq")
    return out.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("c_custkey").alias("key_sum"),
        (F.floor(F.sum("c_acctbal") * 100 + F.lit(0.5)) / 100.0).alias(
            "bal_sum"
        ),
        F.count(F.when(F.col("c_name").startswith("new-"), 1)).alias(
            "n_inserted"
        ),
    )


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity + l-diversity report over customer quasi-
    identifiers (nation, mktsegment; balance band as sensitive)
    (operators/validation.k_anonymity_report): one QI aggregate +
    1-row fold.  VALUE oracle: identical folds."""
    from moz_datapipeline_spark.operators.validation import (
        k_anonymity_report,
    )

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        (F.floor(F.col("c_acctbal") / 1000)).alias("bal_band"),
    )
    return k_anonymity_report(
        c,
        ["c_nationkey", "c_mktsegment"],
        k=5,
        sensitive_col="bal_band",
    )


def q_paired_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired test of discounted vs full extended price per lineitem
    (operators/analytics.paired_ttest): one 3-moment fold over the
    per-row diffs.  VALUE oracle: identical arithmetic."""
    from moz_datapipeline_spark.operators.analytics import paired_ttest

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("full_price"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "discounted"
        ),
    )
    return paired_ttest(li, "full_price", "discounted")


def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend: does the return rate move with the
    quantity tier (operators/analytics.cochran_armitage)?  Scores =
    floor(quantity/10), outcome = returned flag.  VALUE oracle:
    identical level fold + trend arithmetic."""
    from moz_datapipeline_spark.operators.analytics import (
        cochran_armitage,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity") / 10).alias("tier"),
        (F.col("l_returnflag") == "R").cast("int").alias("returned"),
    )
    return cochran_armitage(li, "tier", "returned")


def q_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio of return given promo part, Woolf CI
    (operators/analytics.odds_ratio): one conditional-sum fold.
    VALUE oracle: identical 2×2 arithmetic."""
    from moz_datapipeline_spark.operators.analytics import odds_ratio

    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        F.col("p_type").startswith("PROMO").cast("int").alias("promo"),
        (F.col("l_returnflag") == "R").cast("int").alias("returned"),
    )
    return odds_ratio(j, "promo", "returned")


def q_quantile_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-statistic CI for the median extended price
    (operators/analytics.quantile_ci): binomial rank bounds + three
    bounded rank selections — the assumption-free quantile CI.
    VALUE oracle: identical A&S inverse-normal z, identical ranks,
    row_number order statistics."""
    from moz_datapipeline_spark.operators.analytics import quantile_ci

    li = _t(spark, sf_dir, "lineitem")
    return quantile_ci(li, "l_extendedprice", prob=0.5,
                       confidence=0.95)


def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture–recapture estimate over two deterministic
    'detector' passes on orders (keys ≡0 mod 3 vs mod 5)
    (operators/analytics.capture_recapture): two distinct folds +
    one overlap join.  VALUE oracle: identical Chapman arithmetic."""
    from moz_datapipeline_spark.operators.analytics import (
        capture_recapture,
    )

    o = _t(spark, sf_dir, "orders")
    return capture_recapture(
        o.filter(F.col("o_orderkey") % 3 == 0).select("o_orderkey"),
        o.filter(F.col("o_orderkey") % 5 == 0).select("o_orderkey"),
        "o_orderkey",
    )


def q_mrr_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue movement bridge: per-customer order spend, 1995 vs
    1996 (operators/analytics.mrr_bridge) — retained/new/expansion/
    contraction/churned with the account-exact sum identity.  VALUE
    oracle: identical full-outer join + conditional folds."""
    from moz_datapipeline_spark.operators.analytics import mrr_bridge

    o = _t(spark, sf_dir, "orders")

    def period(year: int):
        return (
            o.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(F.sum("o_totalprice").alias("spend"))
        )

    return mrr_bridge(period(1995), period(1996), "o_custkey", "spend")
