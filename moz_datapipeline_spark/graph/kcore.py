"""k-core decomposition by bounded-round peeling.

The k-core is the maximal subgraph where every node keeps degree ≥ k —
the standard graph-density filter (community pruning, spam-farm
detection, feature engineering on interaction graphs).  The classic
algorithm peels nodes below the threshold until a fixpoint; peel depth
is data-dependent, so this engine exposes the ROUND-BOUNDED form,
which is what makes the operator exactly SQL-replayable (the ``kcore``
query's oracle unrolls the same rounds as DuckDB CTEs).

Execution is NOT lazy: each round's surviving edge set replaces the
last (``iterate.advance``) because every round consumes the previous
edge set TWICE (degree aggregation + semi join) — left lazy (or merely
cached), the LOGICAL plan still doubles per round and Catalyst
re-analysis turns exponential (measured: 27 s of pure planning by
round 6 on a 200k-edge graph; 1.3 s with the checkpoint).

Convergence contract: a graph whose peel cascade is deeper than
``rounds`` returns the partially-peeled SUPERGRAPH of the true k-core
(never too little — peeling only removes).  ``early_stop=True`` exits
at the fixpoint using the per-round counts the loop already pays for.

Scale: each round is one map-side-combined degree aggregation plus two
semi joins on node id — all narrow-key shuffles, cost proportional to
the SURVIVING edge set, which only shrinks.

Reference parity: extension operator; sibling of
``graph/triangles.py`` (same symmetric-edge-list input convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["kcore"]


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 8,
    early_stop: bool = False,
    stats: dict | None = None,
    assume_distinct: bool = False,
) -> DataFrame:
    """(node, degree) of the ``rounds``-bounded k-core of a SYMMETRIC
    (src, dst) edge list (pass both directions, as for
    ``graph/pagerank``).  Duplicate edges are collapsed first —
    multiplicity is not degree; pass ``assume_distinct=True`` when the
    input is distinct BY CONSTRUCTION (e.g. a distinct forward edge
    set unioned with its reversal over disjoint id ranges) to skip
    that full shuffle of the largest frame in the operator.  Runs
    Spark jobs at CALL time (one checkpoint + count per round, see
    module docstring); the returned aggregation reads the final
    checkpointed edge set and owns it (``iterate.owned``)."""
    from moz_datapipeline_spark.iterate import (
        advance,
        checkpoint_sever,
        owned,
    )

    if k < 1:
        raise ValueError("kcore: k must be >= 1")
    if rounds < 1:
        raise ValueError("kcore: rounds must be >= 1")
    e = edges.select("src", "dst")
    if not assume_distinct:
        e = e.distinct()
    e = checkpoint_sever(e)
    n_edges = e.count()
    executed = 0
    n_next = n_edges
    for _ in range(rounds):
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
        keep = deg.filter(F.col("_deg") >= k).select("src")
        e = advance(
            e.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi"),
            e,
        )
        n_next = e.count()
        executed += 1
        if early_stop and n_next == n_edges:
            break
        n_edges = n_next
    if stats is not None:
        stats["rounds_executed"] = executed
        stats["surviving_edges"] = n_next
    return owned(
        e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).alias("degree")
        ),
        e,
    )
