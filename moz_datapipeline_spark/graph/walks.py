"""Deterministic random-walk sampling over an edge list.

The walk-corpus generator for graph-embedding pipelines (DeepWalk /
node2vec p=q=1): emit fixed-length walks whose next hop at each step
is a HASH-ADDRESSED choice among the current node's neighbors — no
RNG state, so the walk corpus is reproducible across runs, partitions,
and engines (the ``stable_sample`` md5 convention), and every step is
a plain equi join Catalyst can plan (no Python in the loop).

Reference parity: the reference pipeline (developmentseed/
moz-datapipeline) stops at routing-graph analytics; this extends the
engine for the embedding-prep lifecycle the way ``operators.embed``
does.

Scale posture: the adjacency index is ONE hash aggregate
(``collect_set`` → sorted array, map-side combined, a single shuffle
of the edge list) producing |V| rows, materialized once via
``checkpoint_sever`` — the invariant-relation convention of the
package's iterative operators (components, truss, Bradley–Terry).
Each hop is then a 1:1 equi join of the walk frontier against those
|V| rows (``element_at(nbrs, pick+1)`` resolves the next node from
the carried array), so every step emits exactly 1 row per live walk
and moves walk-sized + node-sized frames — never the edge list.  AQE
broadcasts the index when |V| is small enough; otherwise both sides
hash-exchange on the node key.

SUPER-NODE HAZARD: a hub's adjacency row is degree×8 bytes (a 10M-
degree hub ⇒ an 80 MB row).  ``max_degree`` caps it loudly — walks
over hubs past the cap raise instead of OOM-ing an executor; raise
the cap deliberately if your graph's hubs genuinely fit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import checkpoint_sever, owned


def _adjacency(edges: DataFrame) -> DataFrame:
    """(src, nbrs): each node's DISTINCT neighbors as a sorted array —
    one map-side-combined hash aggregate over the edge list
    (``collect_set`` dedupes in-agg; no separate ``distinct`` pass)."""
    return (
        edges.select("src", "dst")
        .groupBy("src")
        .agg(F.sort_array(F.collect_set("dst")).alias("nbrs"))
    )


def _pick(seed: str, t: int, degree):
    """Hash-addressed neighbor choice: md5(seed:walk_id:t) mod degree
    (first 15 hex digits — exact in a long)."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed),
                        F.lit(":"),
                        F.col("walk_id"),
                        F.lit(":"),
                        F.lit(str(t)),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        degree,
    )


def random_walks(
    edges: DataFrame,
    walk_len: int = 4,
    walks_per_node: int = 2,
    seed: str = "walk",
    max_degree: int = 1_000_000,
) -> DataFrame:
    """Emit ``(walk_id, start, step, node)`` rows: ``walks_per_node``
    hash-addressed walks of up to ``walk_len`` hops from every source
    node.  Step 0 is the start node; step t picks neighbor
    ``md5(seed:walk_id:t) mod degree`` of the step-t−1 node —
    deterministic, engine-portable, and uniform over the node's
    DISTINCT neighbors in ascending order.  Dead-end nodes (no
    outgoing edges) end their walk early (the emitted prefix stays).

    The walk corpus is the standard skip-gram input for DeepWalk-style
    node embeddings; pair it with ``operators/embed`` downstream.

    The returned frame reads the materialized adjacency index (a
    ``checkpoint_sever`` block, MEMORY_AND_DISK) and owns it
    (``iterate.owned``): the caller's ``unpersist`` releases it.
    Nodes above ``max_degree`` raise loudly (see module docstring).
    """
    if walk_len < 1:
        raise ValueError("random_walks: walk_len must be >= 1")
    if walks_per_node < 1:
        raise ValueError("random_walks: walks_per_node must be >= 1")
    # materialize the invariant index once: every hop joins against
    # these blocks instead of re-running the edge scan + aggregate
    nbrs = checkpoint_sever(_adjacency(edges))
    over = nbrs.filter(F.size("nbrs") > int(max_degree)).limit(1)
    hub = over.collect()
    if hub:
        raise ValueError(
            f"random_walks: node {hub[0]['src']!r} has degree "
            f"{len(hub[0]['nbrs'])} > max_degree={max_degree} — a hub "
            "row this large risks executor OOM; raise max_degree "
            "deliberately or pre-sample the hub's edges"
        )
    starts = nbrs.select("src").withColumn(
        "_w",
        F.explode(
            F.sequence(F.lit(0), F.lit(int(walks_per_node) - 1))
        ),
    ).select(
        F.concat(
            F.col("src").cast("string"),
            F.lit("#"),
            F.col("_w").cast("string"),
        ).alias("walk_id"),
        F.col("src").alias("start"),
        F.col("src").alias("node"),
    )
    out = starts.select(
        "walk_id", "start", F.lit(0).alias("step"), "node"
    )
    frontier = starts
    for t in range(1, int(walk_len) + 1):
        # fresh attribute ids per hop: the index joins against its
        # own lineage (frontier came from it), so re-alias to keep
        # the self-join unambiguous.  1:1 join — one output row per
        # live walk; walks at dead ends (node absent from the index)
        # simply drop out.
        it = nbrs.select(
            F.col("src").alias("_hs"), F.col("nbrs").alias("_hn")
        )
        hopped = (
            frontier.join(it, frontier["node"] == it["_hs"])
            .select(
                "walk_id",
                "start",
                F.element_at(
                    "_hn",
                    (_pick(seed, t, F.size("_hn")) + 1).cast("int"),
                ).alias("node"),
            )
        )
        out = out.unionByName(
            hopped.select(
                "walk_id", "start", F.lit(t).alias("step"), "node"
            )
        )
        frontier = hopped
    return owned(out, nbrs)
