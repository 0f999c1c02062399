"""Connected components over candidate-pair edges — dedup clustering.

Near-dup detection yields pairs (exact/minhash/simhash/embedding); to
drop duplicates you need clusters: each component keeps one
representative. Algorithm: min-label propagation with a per-round
pointer-doubling shortcut (label ← label-of-label), the same
contract-and-hook idea as the star algorithms of Kiveris et al.
("Connected Components in MapReduce and Beyond", SoCC'14): each round
the reach of the minimum label more than doubles, so convergence is
O(log diameter) rounds rather than O(diameter) for plain propagation.
State is a (node, label) mapping updated by joins + aggregations — no
driver-side union-find, so it scales to billions of edges. Exhausting
``max_iterations`` without a fixed point raises instead of silently
returning split components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import advance, owned, sever_release
from moz_datapipeline_spark.localresult import literal_frame


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_iterations: int = 30,
    stats: dict | None = None,
    driver_cap: int = 0,
) -> DataFrame:
    """(id_a, id_b) pair edges → (id, component) with component = min id.

    Per round: (1) propagate — each node takes the min of its own and
    its neighbors' labels; (2) shortcut — each node re-reads the label
    OF its current label (pointer doubling). Reach of the component
    minimum grows ≥2× per round, so a chain of diameter d converges in
    O(log d) rounds; the default 30 covers any graph that fits in
    storage (2^30 diameter). The fixed-point check is a cheap count of
    changed labels.

    Raises RuntimeError if ``max_iterations`` rounds still left moving
    labels — never silently returns split components.

    Each round replaces the last (``iterate.advance``); the result owns
    the final round's blocks (``iterate.owned``).

    ``stats``: pass a dict to receive ``{"rounds": n}`` — the number of
    propagate+shortcut rounds actually executed (the O(log d) claim is
    rehearsed against this in ``scale_check.py``).

    ``driver_cap`` > 0 enables the small-graph fast path (the
    ``bradley_terry`` solver-cap convention): when the DISTINCT edge
    count is ≤ the cap, collect and union-find on the driver — one
    job instead of O(log d) iterative rounds, each of which carries
    ~1 s of fixed scheduling/checkpoint cost that dwarfs tiny graphs.
    Callers that CONTRACT a big graph first (``grid_dbscan``'s cell
    graph) should pass a cap; the default 0 never collects.  Above
    the cap the distributed loop runs unchanged — same labels either
    way (min id per component).
    """
    if driver_cap and driver_cap > 0:
        small = (
            pairs.select(
                F.col(a_col).alias("u"), F.col(b_col).alias("v")
            )
            .distinct()
            .limit(int(driver_cap) + 1)
            .collect()
        )
        if len(small) <= driver_cap:
            if stats is not None:
                stats["rounds"] = 0
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for row in small:
                u, v = row["u"], row["v"]
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union by MIN root so the label convention holds
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
            out = [(n, find(n)) for n in parent]
            spark = pairs.sparkSession
            field = pairs.schema[a_col].dataType.simpleString()
            return literal_frame(spark, 
                out, f"id {field}, component {field}"
            )
    # MATERIALIZE the loop inputs once (eager localCheckpoint, not
    # cache): a lazily-cached edges frame gets its distinct lineage
    # re-planned inside every round's join tree — measured 9 s/round
    # of pure overhead on a 394k-edge rehearsal vs 0.6-1.2 s/round
    # checkpointed (the loop below re-references these frames 2-3×
    # per round, so truncated lineage pays off immediately)
    edges = (
        pairs.select(
            F.col(a_col).alias("u"), F.col(b_col).alias("v")
        )
        .union(pairs.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # initial label: own id
    labels = (
        edges.select(F.col("u").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint(eager=True)
    )

    # FRONTIER propagation: only labels that changed last round can
    # lower a neighbor this round, so the edges⨝labels join (the |E|
    # cost that dominates every round) runs against the changed set
    # only.  A near-dup graph is mostly tiny components — after round
    # 1 the frontier collapses to almost nothing and later rounds are
    # frontier-sized, not graph-sized.  Correctness: labels only
    # decrease, and every decrease (propagate OR shortcut) enrolls the
    # node in the next frontier, so each change event is offered to
    # its neighbors exactly once — same fixed point, same O(log d)
    # round bound on chains (the shortcut still runs on all labels).
    frontier = updated = labels
    converged = False
    rounds = 0
    for _ in range(max_iterations):
        rounds += 1
        # propagate: each node adopts min(own, CHANGED neighbors' labels)
        neighbor_min = (
            edges.join(
                frontier.select(
                    F.col("id").alias("v"), F.col("component")
                ),
                "v",
            )
            .groupBy(F.col("u").alias("id"))
            .agg(F.min("component").alias("_nmin"))
        )
        new_label = F.least(
            F.col("component"), F.coalesce(F.col("_nmin"), F.col("component"))
        )
        prop = labels.join(neighbor_min, "id", "left").select(
            "id",
            new_label.alias("component"),
            F.col("component").alias("_old"),
        )
        # shortcut (pointer doubling): component ← label(component). Every
        # label value is itself a node id, so the self-join always hits;
        # labels are monotone nonincreasing, so this preserves correctness
        # while collapsing label chains geometrically.
        lab2 = prop.select(
            F.col("id").alias("_cid"), F.col("component").alias("_c2")
        )
        # materialize the new labels, severed: each round joins TWO
        # derivatives of the labels frame (propagate left-join, shortcut
        # self-join; see iterate.py).  Spent: last labels and frontier
        updated = advance(
            prop.join(lab2, prop["component"] == lab2["_cid"], "left")
            .select(
                "id",
                F.coalesce("_c2", "component").alias("component"),
                (F.coalesce("_c2", "component") != F.col("_old")).alias(
                    "_changed"
                ),
            ),
            updated,
            frontier,
        )
        changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if changed == 0:
            converged = True
            break
        frontier = advance(updated.filter(F.col("_changed")).drop("_changed"))
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components: no fixed point after {max_iterations} "
            "rounds — raise max_iterations (each round doubles label reach)"
        )
    # the last round is materialized: the edge list serves no plan
    sever_release(edges)
    return owned(labels, updated)


def dedup_keep_representatives(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    components: DataFrame | None = None,
) -> DataFrame:
    """Filter ``df`` to one representative (min id) per duplicate cluster.

    Rows not in any pair are kept as-is (they are their own cluster).
    Pass ``components`` (a prior ``connected_components(pairs)`` result)
    to reuse it — otherwise the iterative clustering runs again here,
    and the result owns it (``iterate.owned``).
    """
    comp = (
        components
        if components is not None
        else connected_components(pairs)
    )
    keep = comp.filter(F.col("id") == F.col("component")).select(
        F.col("id").alias(id_col)
    )
    in_pairs = comp.select(F.col("id").alias(id_col))
    untouched = df.join(in_pairs, id_col, "left_anti")
    # no broadcast hint: cluster count is data-dependent; AQE picks the
    # strategy from runtime sizes
    survivors = df.join(keep, id_col, "inner")
    own = (comp,) if components is None else ()
    return owned(untouched.unionByName(survivors), *own)
