"""Synchronous label-propagation community detection (LPA) over an
undirected edge list.

Community structure is a standard corpus-curation signal: pages/domains
cluster into link communities, and a training-data pipeline caps or
reweights whole communities rather than individual pages (the same
"score by global graph structure, then gate" shape as the reference's
criticality stage — scripts/criticality/index.js — and this package's
``graph/pagerank.py``).  LPA is the cheap workhorse: near-linear per
round, no objective function, no parameters beyond the round count.

Semantics (deterministic — reproducibility beats the textbook's random
tie-breaks for pipeline use):

- labels initialize to the node id;
- one synchronous round relabels EVERY node to the most frequent label
  among its neighbors, breaking count ties by the SMALLEST label;
- ``rounds`` is a fixed parameter, not a convergence loop — like
  ``pagerank``, the rounds unroll into one lazy plan with no driver
  action inside the loop.  (Synchronous LPA can oscillate on bipartite
  structures; a fixed round count makes that a documented property
  instead of a hang.)

Plan per round — all hash-partitioned on the node id, AQE-skew-safe:

1. edges ⨝ labels on ``src`` (the label of each neighbor),
2. hash-aggregate count per (dst, label) — map-side partials collapse
   the duplicate-neighbor fan-in before the exchange,
3. per-node argmax: a window max over ``node`` (reuses the exchange
   the aggregate just produced) + min-label filter.

Work per round is O(|E|) rows through one join and one aggregate —
the identical cost envelope as a PageRank iteration, so the measured
PageRank rehearsals (3 M edges / 22 s per iteration block in
``scale_check.py``) transfer.  The result is materialized and owns
its blocks (``iterate.owned``): one severed frame survives the call.

Reference parity: extension surface (the reference has no community
stage); the iteration idiom mirrors graph/pagerank.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import advance, checkpoint_sever, owned


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    symmetrize: bool = True,
) -> DataFrame:
    """Return ``(node, label)`` after ``rounds`` synchronous LPA rounds.

    ``symmetrize=True`` (default) unions the reversed edges so the
    propagation is undirected regardless of the input's orientation;
    pass ``False`` when the edge list is already symmetric to skip the
    union.  Self-loops are dropped (a node voting for its own label
    just dampens convergence).  Duplicate edges collapse to one vote —
    multigraph multiplicity is not a semantics this operator carries.

    Isolated nodes cannot appear (the node set derives from the edge
    list); callers tracking singletons should union them back with
    ``label = node`` afterwards.

    Cache contract: the rounds consume the previous labels frame
    exactly ONCE (vote-less nodes are a static precomputed set), so
    the per-round frames are never pinned; only the two STATIC frames
    — the deduped edge list and the vote-less set, each referenced
    every round — are materialized via ``checkpoint_sever``
    (re-deriving an expensive edge build once per round per
    appearance measured ~9× slower).  ``iterate.advance`` materializes
    the result and then releases both statics; the returned frame owns
    its blocks (``iterate.owned``): at most ONE severed frame survives
    the call, and ``unpersist()`` releases it.
    """
    if rounds < 0:
        raise ValueError("label_propagation: rounds must be >= 0")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if symmetrize:
        e = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    # every round reads the deduped edge list: severed once
    e = checkpoint_sever(
        e.filter(F.col("src") != F.col("dst")).distinct()
    )

    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # Vote-less nodes are a STATIC set — a node with no in-edge never
    # receives a vote in any round, so its label stays its init value
    # (= node id) forever.  Computing that set once lets each round
    # consume the previous labels frame exactly ONCE (winners cover
    # precisely the distinct-dst set), keeping the plan linear in
    # ``rounds`` with no per-round pinning.
    voteless = checkpoint_sever(
        nodes.join(
            e.select(F.col("dst").alias("node")).distinct(),
            "node",
            "anti",
        ).withColumn("label", F.col("node"))
    )

    labels = nodes.withColumn("label", F.col("node"))
    for _ in range(rounds):
        votes = (
            e.join(labels, e["src"] == labels["node"])
            .groupBy(F.col("dst").alias("node"), F.col("label"))
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        # argmax by (count desc, label asc) as ONE hash aggregate:
        # min over struct(-count, label) orders lexicographically —
        # the negated COUNT (always ≥ 1, no overflow edge) gives
        # count-descending, the raw label breaks ties ascending.
        # Saves the window sort + second aggregate per round.
        winners = votes.groupBy("node").agg(
            F.min(
                F.struct(
                    (-F.col("_cnt")).alias("nc"),
                    F.col("label").alias("l"),
                )
            ).alias("_w")
        ).select("node", F.col("_w.l").alias("label"))
        labels = winners.unionByName(voteless)
    return owned(advance(labels.select("node", "label"), e, voteless))
