"""Sampled harmonic (closeness-family) centrality via multi-source BFS.

Exact closeness needs all-pairs shortest paths — off the table at any
real graph size.  The standard estimator (Eppstein–Wang) runs BFS from
``k`` pivot sources and scores every node by the distances observed:

    harmonic(v) = Σ_{s ∈ S, d(s,v) > 0} 1 / d(s,v)

Harmonic (not classic closeness) because it is defined on disconnected
graphs — unreached pairs contribute 0 instead of poisoning the mean
with ∞.  In a corpus pipeline this ranks "how central is this domain
in the link graph" with cost k·O(|E|) instead of |V|·O(|E|).

Execution shape: ONE frontier frame carries all k sources at once
(``(source, node)`` pairs), so each hop is a single equi join on the
node id plus an anti join against the visited set — k never multiplies
the number of Spark jobs, only the row count.  BFS is inherently
iterative with the visited set consumed three times per hop (join,
anti, union), so the operator SEVERS each hop
(``iterate.checkpoint_sever``): a lazy or merely-persisted lineage
grows ~3x per hop and Catalyst re-analysis of the exponential plan
dominates the wall clock.  The returned frame is persisted; callers
unpersist it when done (pinned by ``tests/test_cache_contract``).

Reference parity: extension surface; the frontier/visited idiom
matches ``graph/kcore.py``'s peel rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def harmonic_centrality(
    edges: DataFrame,
    sources: list,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    symmetrize: bool = True,
) -> DataFrame:
    """Return ``(node, harmonic, n_reached)`` — the harmonic-sum score
    over the ``sources`` pivots within ``max_hops`` (a documented
    truncation: contributions beyond the cap are ≤ 1/(max_hops+1)
    each and BFS cost is bounded by hop·|E|).  Source nodes score
    their OWN other-source distances like any node (d(s,s)=0 is
    excluded by the d>0 rule).  Every node of the graph appears,
    including never-reached ones (harmonic 0, n_reached 0).
    """
    if not sources:
        raise ValueError("harmonic_centrality: need at least one source")
    if max_hops < 1:
        raise ValueError("harmonic_centrality: max_hops must be >= 1")
    e = edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
    if symmetrize:
        e = e.unionByName(
            e.select(F.col("_d").alias("_s"), F.col("_s").alias("_d"))
        )
    from moz_datapipeline_spark.iterate import (
        checkpoint_sever,
        sever_release,
        sever_result,
    )

    # sever, don't persist: every hop references the edge set, and the
    # result plan reads it too — a plain persist() could never be
    # released by the operator (strict bench leak assert); severed
    # localCheckpoint blocks are the sanctioned exemption
    e = checkpoint_sever(
        e.filter(F.col("_s") != F.col("_d")).distinct()
    )

    spark = edges.sparkSession
    init = spark.createDataFrame(
        [(s, s, 0) for s in sources], ["source", "node", "dist"]
    )
    visited = init
    # hop-1 termination must see only NEWLY discovered nodes, so the
    # baseline is the init row count (known driver-side, no job)
    n_prev = len(sources)
    frontier = visited
    for h in range(1, max_hops + 1):
        nxt = (
            frontier.join(e, frontier["node"] == e["_s"])
            .select("source", F.col("_d").alias("node"))
            .distinct()
            .join(visited, ["source", "node"], "anti")
            .withColumn("dist", F.lit(h))
        )
        # SEVER, don't just persist: each hop references `visited`
        # three times (frontier filter, anti join, union), so a lazy
        # or merely-persisted lineage grows ~3x per hop and Catalyst
        # re-analysis of the exponentially growing plan dominates the
        # wall clock (measured: the hop-4 result plan was an 8,400-
        # operator tree; with severing it is one ExistingRDD scan).
        # The termination count then scans the severed blocks (cheap),
        # with the previous size tracked driver-side.  Each superseded
        # hop's blocks are released as soon as the new hop is
        # materialized (sever_release), honouring the operator's
        # nothing-stays-cached contract.
        visited_new = checkpoint_sever(visited.unionByName(nxt))
        n_now = visited_new.count()
        n_new = n_now - n_prev
        n_prev = n_now
        sever_release(visited)
        frontier = visited_new.filter(F.col("dist") == h)
        visited = visited_new
        if n_new == 0:
            break
    nodes = (
        e.select(F.col("_s").alias("node"))
        .unionByName(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    scores = (
        visited.filter(F.col("dist") > 0)
        .groupBy("node")
        .agg(
            F.sum(F.lit(1.0) / F.col("dist").cast("double")).alias("_h"),
            F.count(F.lit(1)).cast("long").alias("_r"),
        )
    )
    result = (
        nodes.join(scores, "node", "left")
        .select(
            "node",
            F.round(F.coalesce(F.col("_h"), F.lit(0.0)), 6).alias(
                "harmonic"
            ),
            F.coalesce(F.col("_r"), F.lit(0)).cast("long").alias(
                "n_reached"
            ),
        )
    )
    # materialize via sever (NOT persist: the caller never unpersists a
    # returned frame in the bench; one that does releases the blocks),
    # then release the loop inputs
    result = sever_result(result)
    sever_release(visited)
    sever_release(e)
    return result
