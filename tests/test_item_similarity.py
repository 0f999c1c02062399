"""``item_similarity`` and ``bipartite_projection`` against a plain
reference: dedupe the edges, self-join them per user, take item degrees
from the distinct edges, then score each pair (cosine or jaccard) and
rank with ``row_number`` over (cosine desc, neighbor asc).

The edge set has duplicate edges, a null user (one user, as in a
GROUP BY), a null item (never paired), and users whose items tie on
cosine, so the neighbor-id tiebreak decides ranks.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from moz_datapipeline_spark.graph.aggregate import (
    bipartite_projection,
    item_similarity,
)


def _edges(spark):
    rng = random.Random(1307)
    rows = [(rng.randrange(30), rng.randrange(12)) for _ in range(150)]
    rows += rows[:20]  # duplicate edges
    rows += [(None, 3), (None, 5), (None, 7), (4, None), (None, None)]
    # items 100..102 share the same two users: cos(100,101) ==
    # cos(100,102) == 1.0, so k=1 keeps the lower neighbor id
    rows += [(u, i) for u in (200, 201) for i in (100, 101, 102)]
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "user long, item long")


def _reference_pairs(edges, cap, min_weight):
    """(a < b, weight, da, db) from the deduped edges by self-join."""
    e = edges.select(F.col("item").alias("i"), F.col("user").alias("u"))
    live = e.filter(F.col("i").isNotNull()).distinct()
    deg = live.groupBy("i").agg(F.count(F.lit(1)).alias("d"))
    paired = live
    if cap is not None:
        keep = (
            live.groupBy("u")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= cap)
            .select(F.col("u").alias("ku"))
        )
        paired = live.join(
            keep, live["u"].eqNullSafe(keep["ku"]), "left_semi"
        )
    a, b = paired.alias("a"), paired.alias("b")
    pairs = (
        a.join(b, F.col("a.u").eqNullSafe(F.col("b.u")) & (F.col("a.i") < F.col("b.i")))
        .groupBy(F.col("a.i").alias("a"), F.col("b.i").alias("b"))
        .agg(F.count(F.lit(1)).alias("weight"))
        .filter(F.col("weight") >= min_weight)
    )
    return pairs.join(
        deg.select(F.col("i").alias("a"), F.col("d").alias("da")), "a"
    ).join(deg.select(F.col("i").alias("b"), F.col("d").alias("db")), "b")


def _reference_item_similarity(edges, k, cap, min_weight):
    p = _reference_pairs(edges, cap, min_weight)
    both = p.select(
        F.col("a").alias("item"), F.col("b").alias("neighbor"), "weight",
        F.col("da").alias("di"), F.col("db").alias("dn"),
    ).unionByName(
        p.select(
            F.col("b").alias("item"), F.col("a").alias("neighbor"), "weight",
            F.col("db").alias("di"), F.col("da").alias("dn"),
        )
    )
    cos = F.col("weight").cast("double") / F.sqrt(
        F.col("di").cast("double") * F.col("dn").cast("double")
    )
    w = Window.partitionBy("item").orderBy(
        F.col("_cos").desc(), F.col("neighbor").asc()
    )
    return (
        both.withColumn("_cos", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "item", "neighbor", "weight",
            F.round("_cos", 6).alias("cosine"), "rank",
        )
    )


def _reference_projection(edges, cap, min_weight):
    p = _reference_pairs(edges, cap, min_weight)
    return p.select(
        F.col("a").alias("node_a"),
        F.col("b").alias("node_b"),
        "weight",
        F.round(
            F.col("weight").cast("double")
            / (F.col("da") + F.col("db") - F.col("weight")).cast("double"),
            6,
        ).alias("jaccard"),
    )


CASES = [
    # (k, max_user_degree, min_weight)
    (3, None, 1),
    (1, None, 1),  # ties at rank 1 break on the neighbor id
    (2, 2, 1),  # active cap: most users hold more than 2 items
    (3, 4, 1),
    (5, None, 2),
    (1000, None, 1),  # k >= item count keeps every pair
    (1000, 4, 2),
]


@pytest.mark.parametrize("k,cap,min_weight", CASES)
def test_item_similarity_matches_reference(spark, k, cap, min_weight):
    edges = _edges(spark)
    got = item_similarity(edges, k=k, max_user_degree=cap, min_weight=min_weight)
    want = _reference_item_similarity(edges, k, cap, min_weight)
    assert got.columns == want.columns
    got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
    assert want_rows, "case should produce rows"
    assert got_rows == want_rows


@pytest.mark.parametrize("cap,min_weight", [(None, 1), (2, 1), (4, 1), (None, 2), (4, 2)])
def test_bipartite_projection_matches_reference(spark, cap, min_weight):
    edges = _edges(spark)
    got = bipartite_projection(
        edges, src="item", dst="user", max_right_degree=cap, min_weight=min_weight
    )
    want = _reference_projection(edges, cap, min_weight)
    assert got.columns == want.columns
    got_rows, want_rows = sorted(got.collect()), sorted(want.collect())
    assert want_rows, "case should produce rows"
    assert got_rows == want_rows


def test_cap_and_ties_are_exercised(spark):
    """The edge set really has a binding cap and a rank-1 cosine tie."""
    edges = _edges(spark)
    full = _reference_pairs(edges, None, 1).count()
    assert _reference_pairs(edges, 2, 1).count() < _reference_pairs(edges, 4, 1).count() < full
    top = {
        r.neighbor
        for r in item_similarity(edges, k=1, max_user_degree=None).collect()
        if r.item == 100
    }
    assert top == {101}
