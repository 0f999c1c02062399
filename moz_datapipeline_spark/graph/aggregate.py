"""GNN-style neighborhood feature aggregation over an edge list.

The message-passing primitive every graph-ML pipeline needs before any
model sees the data: for each node, statistics of its neighbors'
features (and, composed once more, of its neighbors' neighborhoods).
One hop is one equi join + one hash aggregate — Σ deg(v) rows through
the exchange, never |V|²; two hops compose the FIRST hop's |V|-row
output, so the second hop costs the same join again, not a fan-out.

Reference parity: extension surface; the join idiom follows
``graph/linkpred.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def neighbor_feature_aggregate(
    edges: DataFrame,
    features: DataFrame,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    feature_col: str = "feature",
    hops: int = 1,
    symmetrize: bool = True,
) -> DataFrame:
    """Per-node neighbor-feature statistics: ``(node, n_neighbors,
    mean_f, min_f, max_f)`` — at ``hops=2`` the feature aggregated is
    the neighbor's OWN 1-hop mean (mean-of-means, the standard 2-layer
    mean-aggregator composition), recomputed over the 1-hop output so
    the cost stays one |E|-row join per hop.

    Self-loops drop; duplicate edges collapse (a neighbor counts
    once); nodes with no feature row still aggregate for their
    neighbors as NULLs (excluded from mean/min/max, the SQL
    convention) and ``n_neighbors`` counts edges, not feature
    presence.  Nodes with no neighbors do not appear (aggregate over
    an empty set — left-join the node table downstream if every node
    needs a row).
    """
    if hops not in (1, 2):
        raise ValueError("neighbor_feature_aggregate: hops must be 1 or 2")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if symmetrize:
        e = e.unionByName(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
    e = e.filter(F.col("_s") != F.col("_d")).distinct()

    def one_hop(feats: DataFrame, fcol: str) -> DataFrame:
        f = feats.select(
            F.col(node_col).alias("_d"),
            F.col(fcol).cast("double").alias("_f"),
        )
        return (
            e.join(f, "_d", "left")
            .groupBy(F.col("_s").alias(node_col))
            .agg(
                F.count(F.lit(1)).alias("n_neighbors"),
                F.avg("_f").alias("mean_f"),
                F.min("_f").alias("min_f"),
                F.max("_f").alias("max_f"),
            )
        )

    first = one_hop(features, feature_col)
    if hops == 1:
        return first
    return one_hop(first, "mean_f")


def _projection(
    edges: DataFrame,
    src: str,
    dst: str,
    max_right_degree: int | None,
    min_weight: int,
    stats: dict | None = None,
) -> DataFrame:
    """``bipartite_projection``'s pair plan before its readout: one row
    per left pair ``(_a < _b, weight, _da, _db)`` with both exact left
    degrees, so the jaccard and cosine readouts share one plan.

    ONE exchange groups edges by right key into sorted neighbor sets
    (collect_set dedupes duplicate edges map-side, so no separate
    distinct pass); the cap is a set-size filter; ordered pairs
    generate IN-TASK from each set via a two-stage posexplode
    (Σ min(deg, cap)² primitive rows that partial-aggregate before the
    pair exchange); left degrees fold from the exploded sets.  This
    replaces the earlier dedupe → self-equi-join plan, whose join
    merely re-materialized rows the exchange had already co-located
    and then re-shuffled all Σ deg² of them un-reduced (measured 2.1×
    slower end-to-end at sf0.1: 4.7 → 2.2 s pair stage).
    """
    e = edges.select(F.col(src).alias("_l"), F.col(dst).alias("_r"))
    grouped = e.groupBy("_r").agg(
        F.sort_array(F.collect_set("_l")).alias("_ls")
    )
    # left degrees over the FULL (uncapped) deduped edge set — the cap
    # bounds pair volume, it must not shrink jaccard denominators
    ldeg = (
        grouped.select(F.explode("_ls").alias("_node"))
        .groupBy("_node")
        .agg(F.count(F.lit(1)).alias("_deg"))
    )
    if max_right_degree is not None:
        if stats is not None:
            stats["dropped_right_nodes"] = grouped.filter(
                F.size("_ls") > int(max_right_degree)
            ).count()
        grouped = grouped.filter(F.size("_ls") <= int(max_right_degree))
    # ordered pairs from each sorted set: two-stage posexplode —
    # element i against the tail slice after it, a < b for free.
    # Emitting PRIMITIVES through generator explodes keeps the whole
    # pair stream in codegen; the one-shot flatten-of-struct-arrays
    # alternative allocates a struct per pair and measured 2× slower
    pairs = (
        grouped.select("_ls", F.posexplode("_ls").alias("_i", "_a"))
        .select(
            "_a",
            F.explode(
                F.slice(
                    F.col("_ls"),
                    F.col("_i") + F.lit(2),
                    F.greatest(
                        F.size("_ls") - F.col("_i") - F.lit(1), F.lit(0)
                    ),
                )
            ).alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("weight"))
        .filter(F.col("weight") >= int(min_weight))
    )
    return pairs.join(
        ldeg.select(F.col("_node").alias("_a"), F.col("_deg").alias("_da")),
        "_a",
    ).join(
        ldeg.select(F.col("_node").alias("_b"), F.col("_deg").alias("_db")),
        "_b",
    )


def bipartite_projection(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_right_degree: int | None = 1000,
    min_weight: int = 1,
    stats: dict | None = None,
) -> DataFrame:
    """Project a bipartite edge list onto its LEFT side: one row per
    left-node pair sharing ≥ ``min_weight`` right neighbors —
    ``(node_a < node_b, weight, jaccard)`` with ``weight`` the shared-
    neighbor count and ``jaccard`` over the two left degrees.  The
    standard graph-construction step before community detection /
    similarity over co-occurrence (users sharing items, suppliers
    sharing parts, docs sharing shingles).

    Same quadratic hazard and same remedy as ``linkpred``: a right
    node of degree d emits d² pairs, so ``max_right_degree`` DEFAULTS
    to 1000 (drop mega-hubs, surface the count via ``stats`` — one
    tiny aggregate, only when a dict is passed); left degrees stay
    exact, so ``jaccard`` denominators are unaffected by the cap.
    Duplicate edges collapse first.  Plan: ``_projection``.
    """
    return _projection(
        edges, src, dst, max_right_degree, min_weight, stats
    ).select(
        F.col("_a").alias("node_a"),
        F.col("_b").alias("node_b"),
        "weight",
        F.round(
            F.col("weight").cast("double")
            / (F.col("_da") + F.col("_db") - F.col("weight")).cast("double"),
            6,
        ).alias("jaccard"),
    )


def item_similarity(
    edges: DataFrame,
    user_col: str = "user",
    item_col: str = "item",
    k: int = 10,
    max_user_degree: int | None = 1000,
    min_weight: int = 1,
) -> DataFrame:
    """Item-item collaborative-filtering neighbors: ``(item, neighbor,
    weight, cosine, rank)`` — the top-``k`` most co-consumed items per
    item, cosine = shared_users / √(deg_a·deg_b) over the deduped
    user-item edge set.  The "customers who bought X also bought"
    readout, built on ``bipartite_projection``'s in-task pair
    generation (never an all-pairs join; ``max_user_degree`` drops
    mega-hub users exactly like the projection's right-degree cap —
    a user who bought everything says nothing about any pair).

    Plan: the projection's plan, whose item degrees are the exact,
    uncapped ones the cosine needs; cosine per undirected pair
    (``da·db`` commutes, so both directions get the same bits); one
    generator mirrors each pair into its two directed rows (a union of
    the pairs with their mirror would plan the projection twice); then
    a per-item WindowGroupLimit top-k (ties break on the neighbor id).
    """
    if k < 1:
        raise ValueError("item_similarity: k must be >= 1")
    proj = _projection(edges, item_col, user_col, max_user_degree, min_weight)
    cos = F.col("weight").cast("double") / F.sqrt(
        F.col("_da").cast("double") * F.col("_db").cast("double")
    )
    j = proj.withColumn("_cos", cos).select(
        F.inline(
            F.array(
                F.struct(
                    F.col("_a").alias("node_a"),
                    F.col("_b").alias("node_b"),
                    "weight",
                    "_cos",
                ),
                F.struct(
                    F.col("_b").alias("node_a"),
                    F.col("_a").alias("node_b"),
                    "weight",
                    "_cos",
                ),
            )
        )
    )
    w = Window.partitionBy("node_a").orderBy(
        F.col("_cos").desc(), F.col("node_b").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("node_a").alias("item"),
            F.col("node_b").alias("neighbor"),
            "weight",
            F.round("_cos", 6).alias("cosine"),
            "rank",
        )
    )
