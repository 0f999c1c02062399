"""Label-propagation community detection (graph/lpa.py)."""

from __future__ import annotations

import collections

import pytest

from moz_datapipeline_spark.graph.lpa import label_propagation


def _ref_lpa(edges, rounds):
    adj = collections.defaultdict(set)
    for a, b in edges:
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    lab = {v: v for v in adj}
    for _ in range(rounds):
        new = {}
        for v in adj:
            cnt = collections.Counter(lab[u] for u in adj[v])
            mx = max(cnt.values())
            new[v] = min(l for l, c in cnt.items() if c == mx)
        lab = new
    return lab


# two triangles with a bridge, plus a self-loop and a duplicate edge
# (both must be ignored)
_EDGES = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]


def test_lpa_matches_synchronous_reference(spark):
    e = spark.createDataFrame(
        _EDGES + [(1, 1), (0, 1)], "src long, dst long"
    )
    for rounds in (0, 1, 2, 3):
        got = {
            r.node: r.label
            for r in label_propagation(e, rounds=rounds).collect()
        }
        if rounds == 0:
            assert got == {v: v for v in range(6)}
        else:
            assert got == _ref_lpa(_EDGES, rounds)


def test_lpa_eager_equals_lazy_and_converges(spark):
    e = spark.createDataFrame(_EDGES, "src long, dst long")
    out = label_propagation(e, 4)
    before = {r.node: r.label for r in out.collect()}
    # the result never depends on a persisted cache
    spark.catalog.clearCache()
    after = {r.node: r.label for r in out.collect()}
    assert before == after
    # converged: the bridge keeps the triangles one community here
    # (label 0 invades through node 3); what matters is stability
    assert before == _ref_lpa(_EDGES, 4) == _ref_lpa(_EDGES, 6)


def test_lpa_directed_source_keeps_label(spark):
    d = spark.createDataFrame([(10, 11), (11, 12)], "src long, dst long")
    got = {
        r.node: r.label
        for r in label_propagation(d, 2, symmetrize=False).collect()
    }
    # node 10 receives no votes in a directed chain; it must survive
    # with its own label, and its label floods downstream
    assert got == {10: 10, 11: 10, 12: 10}


def test_lpa_rejects_negative_rounds(spark):
    e = spark.createDataFrame([(0, 1)], "src long, dst long")
    with pytest.raises(ValueError, match="rounds"):
        label_propagation(e, -1)
