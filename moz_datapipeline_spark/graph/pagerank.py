"""Fixed-iteration (optionally personalized) PageRank over a directed
edge list.

Web-graph centrality is a standard quality prior in training-data
pipelines (rank a page's domain before deciding how much of it to keep),
and the reference's criticality stage is the same idea on a road graph —
score every node by global graph structure, then feed the score into a
downstream keep/weight decision (reference: scripts/criticality/
criticality.sh, index.js — per-node disruption scores folded into the
prioritisation indicator set).

Design (Spark-first, fixed DAG):

- The iteration count is a PARAMETER, not a convergence loop: ``iters``
  join+aggregate rounds.  Node count and dangling mass are never
  collected to the driver: they ride along as 1-row frames cross-joined
  in (broadcast nested loop of a single row).
- The call is eager: the loop invariants (deduped edges, the node list
  with out-degree and teleport term pre-attached) and each iteration's
  ranks are materialized at call time through ``checkpoint_sever``,
  because the next iteration reads them more than once — without that
  the lineage re-evaluates multiplicatively with the iteration count.
  Each superseded iteration and, at the end, the invariants are
  released, so at most one severed frame (the result) outlives the
  call.
- An iteration is exactly: edges ⨝ ranks (equi join on ``src``),
  contribution sum on ``dst`` (hash aggregate with map-side partials),
  and a left join back to the node list so zero-in-degree nodes keep
  the teleport term.  Work per iteration is O(|E|), AQE-skew-safe.
- ``handle_dangling=True`` adds the textbook stochastic-matrix
  completion (rank on out-degree-0 nodes redistributes uniformly — to
  the seed set when personalized) for one extra 1-row aggregate per
  iteration; graphs known to have no dangling nodes (e.g. symmetrised
  edges) can skip it.
- ``seeds`` switches to personalized PageRank: the teleport vector
  concentrates on the seed nodes (uniform over the seeds present in
  the graph) instead of 1/N, so rank measures proximity to the seeds.
- ``eager=True`` adds one check that needs its own job: personalized
  runs raise when none of the seeds is in the graph.

Scale: |E| dominates; the only shuffles are the per-iteration join on
``src`` and aggregation on ``dst``.  Pre-partitioning ``edges`` by
``src`` lets every iteration reuse the same exchange.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import checkpoint_sever, sever_release


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    handle_dangling: bool = True,
    seeds: Sequence | None = None,
    eager: bool = False,
) -> DataFrame:
    """Return ``(node, rank)`` after ``iters`` power iterations.

    ``rank`` sums to 1.0 over all nodes (up to leaked dangling mass
    when ``handle_dangling=False`` on a graph that has some).
    Duplicate edges are collapsed first — parallel edges would
    double-count contributions.

    ``seeds``: personalize — teleport (and dangling redistribution)
    goes uniformly to the listed nodes instead of all nodes; seeds not
    present in the graph are ignored (the vector renormalizes over the
    ones that are).  If NO seed is present, the teleport vector is
    undefined: ``eager=True`` checks the seed count and raises; without
    it, detection would cost a dedicated job, so callers own seed
    validity — the one-row check is
    ``nodes.filter(node.isin(seeds)).limit(1).count()``.
    """
    if iters < 0:
        raise ValueError("pagerank: iters must be >= 0")
    if seeds is not None and len(seeds) == 0:
        raise ValueError("pagerank: seeds must be non-empty when given")
    d = float(damping)
    # sever, don't persist: every iteration and the result plan read
    # the deduped edge list — a persist() could never be released by
    # the operator (strict bench leak assert); severed localCheckpoint
    # blocks are the sanctioned exemption.  Severing also keeps each
    # iteration's plan flat (the harmonic_centrality finding).
    e = checkpoint_sever(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_df = nodes.agg(F.count(F.lit(1)).cast("double").alias("_n"))
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("_deg")
    )
    # Static per-node frame: out-degree (NULL = dangling) and the
    # teleport vector, built once and reused by every iteration.
    base = nodes.join(out_deg, "node", "left").crossJoin(F.broadcast(n_df))
    if seeds is not None:
        seed_list = list(seeds)
        ns_df = (
            nodes.filter(F.col("node").isin(seed_list))
            .agg(F.count(F.lit(1)).cast("double").alias("_ns"))
        )
        base = base.crossJoin(F.broadcast(ns_df)).withColumn(
            "_p",
            F.when(
                F.col("node").isin(seed_list), F.lit(1.0) / F.col("_ns")
            ).otherwise(F.lit(0.0)),
        )
        if eager:
            # the no-seed-in-graph failure (all-zero / NaN ranks) is
            # caught loudly here instead of silently downstream
            if ns_df.head()["_ns"] == 0.0:
                raise ValueError(
                    "pagerank: none of the given seeds exist in the "
                    "graph; the personalized teleport vector is "
                    "undefined — check the seed ids"
                )
    base = checkpoint_sever(base)
    carry = ["node", "_deg", "_n"] + (["_p"] if seeds is not None else [])

    init_rank = (
        F.col("_p") if seeds is not None else F.lit(1.0) / F.col("_n")
    )
    ranks = base.select(*carry, init_rank.alias("rank"))
    prev_cached: DataFrame | None = None
    for i in range(iters):
        contribs = (
            e.join(
                ranks.filter(F.col("_deg").isNotNull()),
                e["src"] == ranks["node"],
            )
            .select("dst", (F.col("rank") / F.col("_deg")).alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        nxt = base.join(contribs, base["node"] == contribs["dst"], "left")
        if handle_dangling:
            dangling = ranks.agg(
                F.coalesce(
                    F.sum(F.when(F.col("_deg").isNull(), F.col("rank"))),
                    F.lit(0.0),
                ).alias("_dangle")
            )
            nxt = nxt.crossJoin(F.broadcast(dangling))
            if seeds is not None:
                new_rank = (1.0 - d) * F.col("_p") + d * (
                    F.coalesce(F.col("_in"), F.lit(0.0))
                    + F.col("_dangle") * F.col("_p")
                )
            else:
                new_rank = (1.0 - d) / F.col("_n") + d * (
                    F.coalesce(F.col("_in"), F.lit(0.0))
                    + F.col("_dangle") / F.col("_n")
                )
        elif seeds is not None:
            new_rank = (1.0 - d) * F.col("_p") + d * F.coalesce(
                F.col("_in"), F.lit(0.0)
            )
        else:
            new_rank = (1.0 - d) / F.col("_n") + d * F.coalesce(
                F.col("_in"), F.lit(0.0)
            )
        # the next iteration reads ranks up to twice (dangling mass +
        # contributions) and the plan would otherwise double per
        # iteration: SEVER each iteration (materialize + cut lineage,
        # the harmonic_centrality idiom) and release the superseded
        # one immediately — nothing stays cached past the call except
        # exempt localCheckpoint blocks
        ranks = checkpoint_sever(nxt.select(*carry, new_rank.alias("rank")))
        if prev_cached is not None:
            sever_release(prev_cached)
        prev_cached = ranks
    if iters > 0:
        # the final iteration is materialized; the statics no longer
        # serve any plan — release them so at most ONE severed frame
        # (the result) outlives the call
        sever_release(e)
        sever_release(base)
    else:
        # ranks is a lazy projection of base — base must stay; the
        # edge list only fed base's (materialized) build
        sever_release(e)
    return ranks.select("node", "rank")
