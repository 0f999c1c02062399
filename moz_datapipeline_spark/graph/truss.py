"""k-truss decomposition: the edge-level cohesion peel.

A k-truss is the maximal subgraph in which EVERY edge participates in
at least k−2 triangles.  One notch stronger than the k-core (vertex
degrees can be faked by star spam; triangle support cannot), it is the
standard community-backbone / spam-edge filter on web and social
graphs.

Same bounded-round discipline as ``graph.kcore``: each round counts
per-edge triangle support with the degree-ordered wedge join
(``graph.triangles``' O(|E|^1.5) bound — never a naive 3-way
self-join) and drops under-supported edges; the edge set only shrinks.
``rounds`` bounds the work for SLA-bound callers, ``early_stop``
exits at the fixpoint; a converged run is parity-identical to the
fixed-round unrolled oracle (extra rounds are no-ops).

Reference parity: extension operator (the reference's graph stage
routes; it does not mine structure).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import advance, owned

_ID_SPACE = 1 << 32


def _edge_support(und: DataFrame) -> DataFrame:
    """Per canonical edge (a < b): the number of triangles containing
    it — degree-ordered orientation, wedge equi-join, closure join,
    then each closed triangle credits its three edges."""
    deg = (
        und.select(F.col("a").alias("n"))
        .unionByName(und.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    key = (F.col("d") * F.lit(_ID_SPACE) + F.col("n")).alias("k")
    keyed = deg.select("n", key)
    with_keys = (
        und.join(keyed.withColumnsRenamed({"n": "a", "k": "ka"}), "a")
        .join(keyed.withColumnsRenamed({"n": "b", "k": "kb"}), "b")
    )
    ori = with_keys.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a"))
        .otherwise(F.col("b"))
        .alias("u"),
        F.when(F.col("ka") < F.col("kb"), F.col("b"))
        .otherwise(F.col("a"))
        .alias("v"),
        F.greatest("ka", "kb").alias("kv"),
    )
    e1 = ori.select("u", F.col("v").alias("x"), F.col("kv").alias("kx"))
    e2 = ori.select("u", F.col("v").alias("y"), F.col("kv").alias("ky"))
    wedges = e1.join(e2, "u").filter(F.col("kx") < F.col("ky"))
    closed = wedges.join(
        ori.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
    )
    sides = (
        closed.select(
            F.least("u", "x").alias("a"), F.greatest("u", "x").alias("b")
        )
        .unionByName(
            closed.select(
                F.least("u", "y").alias("a"),
                F.greatest("u", "y").alias("b"),
            )
        )
        .unionByName(
            closed.select(
                F.least("x", "y").alias("a"),
                F.greatest("x", "y").alias("b"),
            )
        )
    )
    return sides.groupBy("a", "b").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    )


def k_truss(
    edges: DataFrame,
    k: int,
    rounds: int = 3,
    early_stop: bool = True,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Edges of the k-truss after ``rounds`` support-peel rounds:
    ``(a, b, support)`` with canonical ``a < b`` and ``support`` the
    LAST round's triangle count (≥ k−2 for every surviving edge; a
    converged run returns the exact k-truss).

    Each round: one support computation (wedge-join bounded by degree
    orientation) + one semi-join filter; the surviving edge set
    replaces the last round's (``iterate.advance``) so lineage stays
    one round deep (the ``kcore`` discipline — an unbounded iterative
    lineage is a planner stack overflow at scale).  Self loops and
    duplicate/reverse edges collapse on entry.  Node ids must be
    non-negative and < 2^32.
    """
    if k < 3:
        # the 2-truss is the input graph itself (support >= 0 keeps
        # triangle-free edges, which the support fold never sees)
        raise ValueError("k_truss: need k >= 3")
    if rounds < 1:
        # rounds=0 would return the empty seed frame below — an empty
        # "truss" that looks like a real result to a dynamic caller
        raise ValueError("k_truss: need rounds >= 1")
    a, b = F.col(src), F.col(dst)
    cur = (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
        .localCheckpoint()
    )
    need = int(k) - 2
    kept = cur.withColumn("support", F.lit(0).cast("long")).limit(0)
    # the entering edge count rides on the driver: only round 1 counts
    n_cur = cur.count() if early_stop else None
    for _ in range(int(rounds)):
        # severed: the support wedge-join reads the edge set twice
        # (iterate.py).  Spent: the seed (round 1), the previous round
        kept = advance(
            _edge_support(cur).filter(F.col("support") >= need), cur, kept
        )
        n_next = kept.count()
        cur = kept.select("a", "b")
        if early_stop and n_next == n_cur:
            break
        n_cur = n_next
    # support column = the LAST round's count, measured on that
    # round's entering edge set (the unrolled-oracle convention)
    return owned(kept.select("a", "b", "support"), kept)
