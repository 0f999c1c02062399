"""Round-11 fixes: chained-cell cap bound in the exact-quantile
terminal collect, anomaly_stream NULL policy, k_truss rounds guard,
group_mode broadcast rollup join, calibration_curve bin clamping."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_exact_quantiles_terminal_collect_cap_bounded(spark, monkeypatch):
    """Post-recursion cells must carry their CHAIN predicate into the
    executor-side terminal filter: a (g, b)-only filter pulls the whole
    root bucket to the driver (here 60k rows under a cap of 500 — the
    exact skew the recursion exists to handle)."""
    from pyspark.sql.classic.dataframe import DataFrame

    from moz_datapipeline_spark.operators.ranges import exact_quantiles

    n = 60_000
    # 60k values crammed into [0, 1e-6] plus one outlier at 1000.0:
    # the value range makes bucket 0 hold every needed rank, forcing
    # recursion (count 60k >> cap 500) with chain depth >= 1
    df = (
        spark.range(n)
        .select((F.col("id").cast("double") / n * 1e-6).alias("v"))
        .union(spark.range(1).select(F.lit(1000.0).alias("v")))
    )

    sizes: list[int] = []
    orig = DataFrame.collect

    def counted(self):
        out = orig(self)
        sizes.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", counted)
    got = exact_quantiles(
        df, "v", [0.5], bucket_count=64, candidate_cap=500
    )
    # exactness first: rank 0.5*(60001-1) = 30000 -> id 30000's value
    assert got == [30000.0 / n * 1e-6]
    # boundedness: no single driver collect may exceed the candidate
    # cap (histogram passes are <= bucket-count-sized, well under it)
    assert sizes, "expected instrumented collects"
    assert max(sizes) <= 500


def test_anomaly_stream_null_values_do_not_poison_state(spark, tmp_path):
    """A NULL value used to arrive as NaN and permanently poison the
    Welford (mean, M2) state — every later z-score NULL, detection
    silently dead.  NULL ts/value rows must be dropped pre-fold."""
    import json

    from moz_datapipeline_spark.streaming.stateful import anomaly_stream

    src = tmp_path / "anom_null_in"
    src.mkdir()
    chk = str(tmp_path / "anom_null_chk")
    rows = (
        [{"event_type": "g", "ts": i, "value": 10.0 + (i % 3)} for i in range(12)]
        + [
            {"event_type": "g", "ts": 50, "value": None},
            {"event_type": "g", "ts": None, "value": 11.0},
            {"event_type": "g", "ts": 100, "value": 500.0},
        ]
    )
    with open(src / "b1.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema(
        "event_type string, ts long, value double"
    ).json(str(src))
    q = (
        anomaly_stream(stream, min_n=10)
        .writeStream.format("memory")
        .queryName("anom_null_out")
        .outputMode("append")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.ts: r for r in spark.table("anom_null_out").collect()}
    # the NULL-value and NULL-ts rows are dropped, not folded
    assert set(got) == set(range(12)) | {100}
    # the wild value still flags: state was never NaN-poisoned
    assert got[100].is_anomaly is True
    assert got[100].zscore is not None


def test_k_truss_rejects_rounds_below_one(spark):
    from moz_datapipeline_spark.graph.truss import k_truss

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3)], "src long, dst long"
    )
    with pytest.raises(ValueError, match="rounds"):
        k_truss(edges, k=3, rounds=0)


def test_group_mode_broadcasts_peak_rollup(spark):
    """The group-sized peak rollup must broadcast back onto the
    (group x value) rollup — a plain shuffle join re-exchanges the
    larger rollup for nothing."""
    from moz_datapipeline_spark.operators.analytics import group_mode

    rows = [("g%d" % (i % 7), i % 3) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, v int")
    plan = _plan(group_mode(df, "g", "v"))
    assert "BroadcastHashJoin" in plan
    # correctness unchanged by the hint
    got = {r.g: r for r in group_mode(df, "g", "v").collect()}
    assert len(got) == 7


def test_connected_components_frontier_chain_and_stars(spark):
    """Frontier propagation (only changed labels offered to neighbors)
    must reach the same fixed point as full propagation: a 512-link
    chain (worst case for propagation depth, needs the pointer-doubling
    shortcut) plus disjoint stars (the common near-dup shape that the
    frontier optimizes) all collapse to their min ids."""
    from moz_datapipeline_spark.operators.components import (
        connected_components,
        dedup_keep_representatives,
    )

    chain = [(i, i + 1) for i in range(1000, 1512)]
    stars = [(c, c + j) for c in range(0, 900, 100) for j in range(1, 5)]
    pairs = spark.createDataFrame(
        chain + stars, "id_a long, id_b long"
    )
    st: dict = {}
    comp = connected_components(pairs, stats=st)
    got = {r.id: r.component for r in comp.collect()}
    assert all(got[i] == 1000 for i in range(1000, 1513))
    for c in range(0, 900, 100):
        assert all(got[c + j] == c for j in range(0, 5))
    # O(log d): a 512-diameter chain needs ~9-11 doubling rounds, far
    # fewer than the 512 plain propagation would take
    assert st["rounds"] <= 14

    # reuse path: passing the computed components skips the re-run
    docs = spark.range(2000).select(F.col("id").alias("doc_id"))
    kept = dedup_keep_representatives(
        docs, pairs, id_col="doc_id", components=comp
    )
    kept_ids = {r.doc_id for r in kept.collect()}
    assert 1000 in kept_ids and 1001 not in kept_ids
    assert 0 in kept_ids and 101 not in kept_ids
    assert 999 in kept_ids  # untouched by any pair


def test_bradley_terry_planted_strengths(spark):
    """Comparisons drawn from a true BT model (theta 1:2:4) must
    recover the strength ORDER and approximately the planted ratios;
    the mean-1 normalization pins the scale."""
    import itertools

    from moz_datapipeline_spark.operators.mleval import bradley_terry

    theta = {0: 1.0, 1: 2.0, 2: 4.0}
    rows = []
    # deterministic "draws": round-robin each pair 60 times, a wins in
    # the first round(60 * P(a)) meetings — the MLE then sits exactly
    # at the planted probabilities
    for a, b in itertools.combinations(theta, 2):
        p = theta[a] / (theta[a] + theta[b])
        wins_a = round(60 * p)
        rows += [(a, b)] * wins_a + [(b, a)] * (60 - wins_a)
    comp = spark.createDataFrame(rows, "winner long, loser long")
    st: dict = {}
    got = {
        r.item: r
        for r in bradley_terry(comp, iterations=60, stats=st).collect()
    }
    assert st["solver"] == "driver" and st["pairs"] == 3
    s = [got[i].strength for i in (0, 1, 2)]
    assert s[0] < s[1] < s[2]
    # mean-1 normalization
    assert sum(s) / 3 == pytest.approx(1.0, abs=1e-6)
    # planted ratios recovered (MM converged): theta2/theta0 = 4
    assert s[2] / s[0] == pytest.approx(4.0, rel=0.05)
    assert s[1] / s[0] == pytest.approx(2.0, rel=0.05)
    # wins of item 2: 48 over item 0 (p=4/5) + 40 over item 1 (p=2/3)
    assert got[2].wins == 88
    assert got[0].n_comparisons == 120

    with pytest.raises(ValueError, match="iterations"):
        bradley_terry(comp, iterations=0)


@pytest.mark.deep
def test_bradley_terry_distributed_path_matches_driver(spark):
    """solver_cap=0 forces the rollup-join rounds (checkpoint_sever
    severs the size-estimate BigInt each round — 25 rounds must stay
    flat, not melt the driver); results match the driver solver to
    rounding."""
    from moz_datapipeline_spark.operators.mleval import bradley_terry

    rows = (
        [(0, 1)] * 20 + [(1, 0)] * 40
        + [(0, 2)] * 12 + [(2, 0)] * 48
        + [(1, 2)] * 20 + [(2, 1)] * 40
    )
    comp = spark.createDataFrame(rows, "winner long, loser long")
    st: dict = {}
    dist = {
        r.item: r
        for r in bradley_terry(
            comp, iterations=25, solver_cap=0, stats=st
        ).collect()
    }
    assert st["solver"] == "distributed"
    drv = {
        r.item: r for r in bradley_terry(comp, iterations=25).collect()
    }
    for i in (0, 1, 2):
        assert dist[i].strength == pytest.approx(
            drv[i].strength, abs=2e-6
        )
        assert dist[i].wins == drv[i].wins
        assert dist[i].n_comparisons == drv[i].n_comparisons


def test_fleiss_kappa_hand_computed(spark):
    """4 items x 3 raters, two categories: P_i = (1, 1/3, 1, 1/3) ->
    p_bar = 2/3; category masses split evenly -> p_e = 1/2; kappa =
    (2/3 - 1/2)/(1 - 1/2) = 1/3."""
    from moz_datapipeline_spark.operators.mleval import fleiss_kappa

    rows = (
        [(1, "a")] * 3
        + [(2, "a")] + [(2, "b")] * 2
        + [(3, "b")] * 3
        + [(4, "a")] * 2 + [(4, "b")]
        + [(5, "a")] * 2  # panel of 2 -> dropped under n=3
    )
    df = spark.createDataFrame(rows, "item_id long, category string")
    st: dict = {}
    r = fleiss_kappa(df, raters_per_item=3, stats=st).collect()[0]
    assert r.n_items == 4 and r.n_raters == 3
    assert r.p_bar == pytest.approx(2.0 / 3.0, abs=1e-6)
    assert r.p_e == pytest.approx(0.5, abs=1e-6)
    assert r.kappa == pytest.approx(1.0 / 3.0, abs=1e-6)
    assert st["dropped_items"] == 1

    # perfect agreement -> kappa = 1; inferred panel size
    perf = spark.createDataFrame(
        [(1, "x")] * 3 + [(2, "y")] * 3, "item_id long, category string"
    )
    r2 = fleiss_kappa(perf).collect()[0]
    assert r2.n_raters == 3 and r2.kappa == pytest.approx(1.0)


def test_mann_whitney_hand_computed(spark):
    """A=[1,2,3] vs B=[4,5,6]: R_a=6, U_a=0, U_b=9, z=-4.5/sqrt(5.25)
    = -1.963961 — just past the 5% line.  Tie case A=[1,1,2],
    B=[2,3,3]: average ranks give U_a=0.5, tie term 18, var 4.8,
    z=-1.825742 — not significant."""
    from moz_datapipeline_spark.operators.analytics import mann_whitney_u

    a = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    b = spark.createDataFrame([(4.0,), (5.0,), (6.0,)], "x double")
    r = mann_whitney_u(a, b, "x").collect()[0]
    assert (r.n_a, r.n_b) == (3, 3)
    assert r.u_a == 0.0 and r.u_b == 9.0
    assert r.z == pytest.approx(-1.963961, abs=1e-5)
    assert r.significant is True

    a2 = spark.createDataFrame([(1.0,), (1.0,), (2.0,)], "x double")
    b2 = spark.createDataFrame([(2.0,), (3.0,), (3.0,)], "x double")
    r2 = mann_whitney_u(a2, b2, "x").collect()[0]
    assert r2.u_a == 0.5 and r2.u_b == 8.5
    assert r2.z == pytest.approx(-1.825742, abs=1e-5)
    assert r2.significant is False

    # empty side -> NULL stats, counts reported
    r3 = mann_whitney_u(
        a, spark.createDataFrame([], "x double"), "x"
    ).collect()[0]
    assert r3.n_b == 0 and r3.z is None and r3.u_a is None


def test_isotonic_fit_pav_pooling(spark):
    """Pos rates 0.2, 0.6, 0.4, 0.8 over scores .1-.4: PAV pools the
    middle violation to 0.5, endpoints untouched."""
    from moz_datapipeline_spark.operators.mleval import isotonic_fit

    rows = []
    for score, pos in ((0.1, 1), (0.2, 3), (0.3, 2), (0.4, 4)):
        rows += [(score, 1.0)] * pos + [(score, 0.0)] * (5 - pos)
    df = spark.createDataFrame(rows, "score double, label double")
    got = {
        r.score: (r.n, r.fitted)
        for r in isotonic_fit(df, "score", "label").collect()
    }
    assert got[0.1] == (5, pytest.approx(0.2))
    assert got[0.2] == (5, pytest.approx(0.5))
    assert got[0.3] == (5, pytest.approx(0.5))
    assert got[0.4] == (5, pytest.approx(0.8))

    # already-monotone input passes through untouched
    mono = spark.createDataFrame(
        [(0.1, 0.0), (0.2, 0.0), (0.2, 1.0), (0.3, 1.0)],
        "score double, label double",
    )
    got2 = {
        r.score: r.fitted
        for r in isotonic_fit(mono, "score", "label").collect()
    }
    assert got2 == {
        0.1: pytest.approx(0.0),
        0.2: pytest.approx(0.5),
        0.3: pytest.approx(1.0),
    }

    with pytest.raises(ValueError, match="max_rollup_rows"):
        isotonic_fit(df, "score", "label", max_rollup_rows=2)


def test_krippendorff_alpha_hand_computed(spark):
    """u1=(a,a), u2=(a,b): D_o = (2/1)/4 = 0.5, category masses a=3
    b=1 -> D_e = (16-10)/12 = 0.5 -> alpha = 0 (chance level).
    Perfect agreement -> alpha = 1.  Singleton units drop."""
    from moz_datapipeline_spark.operators.mleval import (
        krippendorff_alpha,
    )

    rows = [(1, "a"), (1, "a"), (2, "a"), (2, "b"), (3, "c")]
    df = spark.createDataFrame(rows, "item_id long, category string")
    st: dict = {}
    r = krippendorff_alpha(df, stats=st).collect()[0]
    assert (r.n_items, r.n_ratings) == (2, 4)
    assert st["dropped_singletons"] == 1
    assert r.d_o == pytest.approx(0.5)
    assert r.d_e == pytest.approx(0.5)
    assert r.alpha == pytest.approx(0.0)

    perf = spark.createDataFrame(
        [(1, "a")] * 3 + [(2, "b")] * 2, "item_id long, category string"
    )
    r2 = krippendorff_alpha(perf).collect()[0]
    assert r2.alpha == pytest.approx(1.0)


def test_calibration_curve_clamps_out_of_range_scores(spark):
    """Scores outside [0, 1] (negatives, raw logits) clamp into the
    edge bins instead of minting out-of-range bin ids."""
    from moz_datapipeline_spark.operators.mleval import calibration_curve

    rows = [(-0.5, 0), (-2.0, 0), (0.5, 1), (1.7, 1), (1.0, 1)]
    df = spark.createDataFrame(rows, "score double, label int")
    out = calibration_curve(df, "score", "label", n_bins=10).collect()
    bins = {r.bin for r in out}
    assert bins == {0, 5, 9}
    by_bin = {r.bin: r for r in out}
    assert by_bin[0].n == 2  # both negatives clamp to bin 0
    assert by_bin[9].n == 2  # 1.7 and 1.0 clamp to bin 9


# ---------------------------------------------------------------------------
# round-11 batch 2: sequence_ngrams, modularity, rmst, quantile_bin,
# grid_knn_join
# ---------------------------------------------------------------------------


def test_sequence_ngrams_hand_computed(spark):
    from moz_datapipeline_spark.operators.analytics import sequence_ngrams

    rows = [
        # user 1: a b a b  -> grams a>b, b>a, a>b
        (1, 1, "a"), (1, 2, "b"), (1, 3, "a"), (1, 4, "b"),
        # user 2: a b c    -> grams a>b, b>c
        (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),
        # user 3: single event, no gram
        (3, 1, "a"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    out = {
        r.gram: r
        for r in sequence_ngrams(
            df, n=2, tiebreak_col="ts", min_users=1
        ).collect()
    }
    assert out["a>b"].occurrences == 3
    assert out["a>b"].n_users == 2
    assert out["b>a"].occurrences == 1
    assert out["b>a"].n_users == 1
    assert out["b>c"].n_users == 1
    # user 3 contributed no gram: the share denominator is gram-having users
    assert abs(out["a>b"].user_share - 1.0) < 1e-9
    # min_users prunes the singleton tail
    pruned = {
        r.gram
        for r in sequence_ngrams(
            df, n=2, tiebreak_col="ts", min_users=2
        ).collect()
    }
    assert pruned == {"a>b"}
    with pytest.raises(ValueError):
        sequence_ngrams(df, n=1)


def test_sequence_ngrams_equals_markov_pairs(spark):
    """n=2 grams are markov_transitions' pair counts pre-normalization."""
    from moz_datapipeline_spark.operators.analytics import (
        markov_transitions,
        sequence_ngrams,
    )

    rows = [
        (u, t, x)
        for u in range(5)
        for t, x in enumerate("abcab" if u % 2 else "aabcc")
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    grams = {
        r.gram: r.occurrences
        for r in sequence_ngrams(df, n=2, tiebreak_col="ts").collect()
    }
    pairs = {
        f"{r.from_type}>{r.to_type}": r.n
        for r in markov_transitions(df, tiebreak_col="ts").collect()
    }
    assert grams == pairs


def test_modularity_two_cliques(spark):
    """Two 3-cliques joined by one bridge edge, labeled by clique:
    Q = sum over c of [L_c/m - (D_c/2m)^2] against hand arithmetic."""
    from moz_datapipeline_spark.graph.structure import modularity

    cliq1 = [(1, 2), (1, 3), (2, 3)]
    cliq2 = [(4, 5), (4, 6), (5, 6)]
    bridge = [(3, 4)]
    und = cliq1 + cliq2 + bridge
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(n, 0) for n in (1, 2, 3)] + [(n, 1) for n in (4, 5, 6)],
        "node long, community long",
    )
    out = {r.community: r for r in modularity(edges, labels).collect()}
    # m = 7 undirected edges; each clique: L_c = 3, D_c = 7
    assert out[0].internal_edges == 3 and out[1].internal_edges == 3
    assert out[0].degree_sum == 7 and out[1].degree_sum == 7
    expected = 3 / 7 - (7 / 14) ** 2
    assert abs(out[0].contribution - round(expected, 6)) < 1e-9
    q = sum(r.contribution for r in out.values())
    assert q == pytest.approx(2 * (3 / 7 - 0.25), abs=1e-6)


def test_modularity_random_labels_near_zero(spark):
    """Assigning every node the same community gives Q = 0 exactly
    (L/m = 1, (D/2m)^2 = 1)."""
    from moz_datapipeline_spark.graph.structure import modularity

    und = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(n, 0) for n in (1, 2, 3, 4)], "node long, community long"
    )
    rows = modularity(edges, labels).collect()
    assert len(rows) == 1
    assert rows[0].contribution == pytest.approx(0.0, abs=1e-9)


def test_rmst_hand_computed(spark):
    """Three subjects, no censoring: t = 2, 4, 10; tau = 6.
    S = 1 on [0,2), 2/3 on [2,4), 1/3 on [4,6) ->
    RMST = 2 + (2/3)*2 + (1/3)*2 = 4."""
    from moz_datapipeline_spark.operators.analytics import rmst

    df = spark.createDataFrame(
        [(2.0, 1), (4.0, 1), (10.0, 1)], "duration double, event int"
    )
    row = rmst(df, "duration", "event", tau=6.0).collect()[0]
    assert row.tau == 6.0
    assert row.rmst == pytest.approx(4.0, abs=1e-5)
    with pytest.raises(ValueError):
        rmst(df, "duration", "event", tau=0.0)


def test_rmst_tau_beyond_last_event_extends_flat(spark):
    """Curve carried flat past the last observed time up to tau."""
    from moz_datapipeline_spark.operators.analytics import rmst

    df = spark.createDataFrame(
        [(2.0, 1), (2.0, 1), (4.0, 0)], "duration double, event int"
    )
    # S = 1 on [0,2), 1/3 on [2,10): censoring at 4 removes the subject
    # without a drop.  RMST(10) = 2 + (1/3)*8
    row = rmst(df, "duration", "event", tau=10.0).collect()[0]
    assert row.rmst == pytest.approx(2 + 8 / 3, abs=1e-5)


def test_quantile_bin_equal_frequency(spark):
    from moz_datapipeline_spark.operators.features import quantile_bin

    df = spark.createDataFrame(
        [(float(i),) for i in range(100)], "v double"
    )
    out = quantile_bin(df, "v", k=4)
    counts = {
        r.bin: r.n
        for r in out.groupBy("bin").agg(F.count("*").alias("n")).collect()
    }
    # interpolated quartile breakpoints of 0..99: 24.75, 49.5, 74.25
    assert counts == {0: 25, 1: 25, 2: 25, 3: 25}
    with pytest.raises(ValueError):
        quantile_bin(df, "v", k=1)


def test_quantile_bin_ties_merge_bins(spark):
    """A massively tied column collapses equal breakpoints: tied values
    land in ONE bin, deterministically."""
    from moz_datapipeline_spark.operators.features import quantile_bin

    df = spark.createDataFrame(
        [(1.0,)] * 90 + [(2.0,)] * 10, "v double"
    )
    out = quantile_bin(df, "v", k=10)
    counts = {
        r.v: {rr.bin for rr in out.filter(F.col("v") == r.v).select("bin").distinct().collect()}
        for r in df.select("v").distinct().collect()
    }
    assert counts[1.0] == {0}
    assert len(counts[2.0]) == 1
    # NULL handling: NULL value -> NULL bin
    dfn = spark.createDataFrame([(1.0,), (None,)], "v double")
    rows = quantile_bin(dfn, "v", k=2).collect()
    assert {r.bin for r in rows if r.v is None} == {None}


def test_grid_knn_join_exact_within_cell(spark):
    """Corpus points placed in one cell: grid 3-NN equals brute-force
    3-NN; ring-boundary neighbors beyond one cell are unseen."""
    from moz_datapipeline_spark.functions.geo import haversine_km
    from moz_datapipeline_spark.operators.geometry import grid_knn_join

    corpus = spark.createDataFrame(
        [(1, 10.1, 10.1), (2, 10.2, 10.2), (3, 10.3, 10.3),
         (4, 10.9, 10.9), (5, 60.0, 40.0)],
        "id long, lon double, lat double",
    )
    queries = spark.createDataFrame(
        [(100, 10.15, 10.15)], "id long, lon double, lat double"
    )
    out = grid_knn_join(corpus, queries, k=3, cell_deg=1.0)
    got = [(r.corpus_id, r.rank) for r in out.orderBy("rank").collect()]
    # brute-force: 1 and 2 nearest, then 3; 5 is far; 4 in same cell
    brute = (
        queries.alias("q")
        .crossJoin(corpus.alias("c"))
        .select(
            F.col("c.id").alias("cid"),
            haversine_km(
                F.col("q.lon"), F.col("q.lat"), F.col("c.lon"), F.col("c.lat")
            ).alias("d"),
        )
        .orderBy("d", "cid")
        .limit(3)
        .collect()
    )
    assert [g[0] for g in got] == [b.cid for b in brute]
    assert [g[1] for g in got] == [1, 2, 3]
    with pytest.raises(ValueError):
        grid_knn_join(corpus, queries, k=0)
    with pytest.raises(ValueError):
        grid_knn_join(corpus, queries, cell_deg=0.0)


def test_grid_knn_join_plan_single_cell_join(spark):
    """Plan shape: candidate generation is ONE equi join on the cell
    key — no cartesian product anywhere in the plan."""
    from moz_datapipeline_spark.operators.geometry import grid_knn_join

    corpus = spark.createDataFrame(
        [(i, float(i % 360 - 180) + 0.5, float(i % 170 - 85) + 0.5)
         for i in range(50)],
        "id long, lon double, lat double",
    )
    out = grid_knn_join(corpus, corpus.limit(5), k=2, cell_deg=30.0)
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_greedy_modularity_move_corrects_mislabeled_node(spark):
    """Two 3-cliques + bridge; node 3 mislabeled into the far clique's
    community. Hand arithmetic: G(move back) = 2/7 - 12/98 > 0 beats
    G(stay) = 1/7 - 21/98 < 0; every other node stays."""
    from moz_datapipeline_spark.graph.structure import greedy_modularity_move

    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 1), (4, 1), (5, 1), (6, 1)],
        "node long, community long",
    )
    out = {
        r.node: r for r in greedy_modularity_move(edges, labels).collect()
    }
    assert out[3].old_community == 1 and out[3].new_community == 0
    assert out[3].gain == pytest.approx(2 / 7 - 12 / 98, abs=1e-6)
    for n in (1, 2, 4, 5, 6):
        assert out[n].new_community == out[n].old_community, n


def test_greedy_modularity_move_converged_partition_all_stay(spark):
    """With the correct clique labeling no node has a positive move."""
    from moz_datapipeline_spark.graph.structure import greedy_modularity_move

    und = [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    labels = spark.createDataFrame(
        [(n, 0) for n in (1, 2, 3)] + [(n, 1) for n in (4, 5, 6)],
        "node long, community long",
    )
    rows = greedy_modularity_move(edges, labels).collect()
    assert all(r.new_community == r.old_community for r in rows)


def test_ols_fit_exact_plane(spark):
    """y = 3 + 2*x1 - x2 exactly: coefficients recovered, r2 = 1."""
    from moz_datapipeline_spark.operators.analytics import ols_fit

    rows = [
        (float(a), float(b), 3.0 + 2.0 * a - b)
        for a in range(5)
        for b in range(4)
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    r = ols_fit(df, "y", ["x1", "x2"]).collect()[0]
    assert r.n == 20
    assert r.b0 == pytest.approx(3.0, abs=1e-5)
    assert r.b_x1 == pytest.approx(2.0, abs=1e-5)
    assert r.b_x2 == pytest.approx(-1.0, abs=1e-5)
    assert r.r2 == pytest.approx(1.0, abs=1e-6)
    with pytest.raises(ValueError):
        ols_fit(df, "y", [])
    with pytest.raises(ValueError):
        ols_fit(df, "y", ["x1", "x1"])


def test_ols_fit_single_feature_matches_closed_form(spark):
    from moz_datapipeline_spark.operators.analytics import ols_fit

    rows = [(float(i), 1.0 + 0.5 * i + (0.1 if i % 2 else -0.1))
            for i in range(10)]
    df = spark.createDataFrame(rows, "x double, y double")
    r = ols_fit(df, "y", ["x"]).collect()[0]
    import numpy as np

    x = np.array([a for a, _ in rows])
    yv = np.array([b for _, b in rows])
    b1, b0 = np.polyfit(x, yv, 1)
    assert r.b0 == pytest.approx(b0, abs=1e-5)
    assert r.b_x == pytest.approx(b1, abs=1e-5)


def test_ols_fit_three_features_numpy_path(spark):
    """d >= 3 takes the rollup-sized numpy kernel; verify against a
    direct lstsq on the raw data, grouped."""
    from moz_datapipeline_spark.operators.analytics import ols_fit
    import numpy as np

    rng = [(g, float(i), float((i * 7) % 5), float((i * 3) % 4),
            1.0 + 2.0 * i - 0.5 * ((i * 7) % 5) + 0.25 * ((i * 3) % 4)
            + (0.01 if i % 3 == 0 else -0.01))
           for g in ("a", "b") for i in range(30)]
    df = spark.createDataFrame(
        rng, "g string, x1 double, x2 double, x3 double, y double"
    )
    out = {r.g: r for r in
           ols_fit(df, "y", ["x1", "x2", "x3"], group_cols=["g"]).collect()}
    for g in ("a", "b"):
        rows = [r for r in rng if r[0] == g]
        X = np.array([[1.0, r[1], r[2], r[3]] for r in rows])
        yv = np.array([r[4] for r in rows])
        beta, *_ = np.linalg.lstsq(X, yv, rcond=None)
        assert out[g].b0 == pytest.approx(beta[0], abs=1e-4)
        assert out[g].b_x1 == pytest.approx(beta[1], abs=1e-4)
        assert out[g].b_x2 == pytest.approx(beta[2], abs=1e-4)
        assert out[g].b_x3 == pytest.approx(beta[3], abs=1e-4)
        assert out[g].n == 30


def test_ols_fit_singular_matrix_null_not_garbage(spark):
    """A constant feature makes the normal matrix singular: NULL
    coefficients, never a division blowup."""
    from moz_datapipeline_spark.operators.analytics import ols_fit

    df = spark.createDataFrame(
        [(1.0, 2.0, 3.0), (2.0, 2.0, 5.0), (3.0, 2.0, 7.0)],
        "x1 double, x2 double, y double",
    )
    r = ols_fit(df, "y", ["x1", "x2"]).collect()[0]
    assert r.b0 is None and r.b_x1 is None and r.b_x2 is None


def test_grid_density_clusters_two_blobs_and_noise(spark):
    from moz_datapipeline_spark.operators.geometry import (
        grid_density_clusters,
    )

    pts = (
        # blob A: 6 points spanning two ADJACENT cells -> one cluster
        [(i, 10.2 + 0.1 * i, 10.5) for i in range(3)]
        + [(10 + i, 11.2 + 0.1 * i, 10.5) for i in range(3)]
        # blob B: 3 points far away
        + [(20 + i, 50.1 + 0.1 * i, -30.5) for i in range(3)]
        # noise: isolated single points
        + [(30, 120.5, 40.5), (31, -90.5, -60.5)]
    )
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    out = {r.id: r.cluster for r in
           grid_density_clusters(df, cell_deg=1.0, min_pts=3).collect()}
    blob_a = {out[i] for i in (0, 1, 2, 10, 11, 12)}
    blob_b = {out[i] for i in (20, 21, 22)}
    assert len(blob_a) == 1 and None not in blob_a
    assert len(blob_b) == 1 and None not in blob_b
    assert blob_a != blob_b
    assert out[30] is None and out[31] is None
    with pytest.raises(ValueError):
        grid_density_clusters(df, min_pts=0)
    with pytest.raises(ValueError):
        grid_density_clusters(df, cell_deg=-1.0)


def test_grid_density_clusters_diagonal_cells_merge(spark):
    """8-neighborhood: diagonally touching dense cells join."""
    from moz_datapipeline_spark.operators.geometry import (
        grid_density_clusters,
    )

    pts = (
        [(i, 10.5, 10.5) for i in range(3)]
        + [(10 + i, 11.5, 11.5) for i in range(3)]
    )
    df = spark.createDataFrame(pts, "id long, lon double, lat double")
    out = {r.cluster for r in
           grid_density_clusters(df, cell_deg=1.0, min_pts=3).collect()}
    assert len(out) == 1


def test_ols_predict_roundtrip_and_missing_group(spark):
    from moz_datapipeline_spark.operators.analytics import ols_fit, ols_predict

    rows = [("a", float(i), 1.0 + 2.0 * i) for i in range(6)] + [
        ("b", float(i), 5.0 - 1.0 * i) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    model = ols_fit(df, "y", ["x"], group_cols=["g"])
    scored = ols_predict(
        df, model, ["x"], y_col="y", group_cols=["g"]
    ).collect()
    for r in scored:
        assert r.residual == pytest.approx(0.0, abs=1e-5)
    # a group absent from the model scores NULL, never garbage
    extra = spark.createDataFrame([("c", 1.0, 1.0)], "g string, x double, y double")
    out = ols_predict(extra, model, ["x"], y_col="y", group_cols=["g"]).collect()[0]
    assert out.yhat is None and out.residual is None


def test_km_median_hand_computed(spark):
    """5 subjects, events at 1,2,3,4,5 (no censoring): S(3)=0.4 <= 0.5
    -> median 3. All-censored curve never crosses -> NULL."""
    from moz_datapipeline_spark.operators.analytics import km_median

    df = spark.createDataFrame(
        [(float(t), 1) for t in (1, 2, 3, 4, 5)],
        "duration double, event int",
    )
    assert km_median(df, "duration", "event").collect()[0].median_duration == 3.0
    cens = spark.createDataFrame(
        [(float(t), 0) for t in (1, 2, 3)], "duration double, event int"
    )
    assert km_median(cens, "duration", "event").collect()[0].median_duration is None


def test_km_median_grouped_keeps_uncrossed_groups(spark):
    from moz_datapipeline_spark.operators.analytics import km_median

    rows = [("fast", float(t), 1) for t in (1, 1, 2, 2)] + [
        ("slow", float(t), 0) for t in (9, 9, 9, 9)
    ]
    df = spark.createDataFrame(rows, "g string, duration double, event int")
    out = {r.g: r.median_duration
           for r in km_median(df, "duration", "event", group_cols=["g"]).collect()}
    assert out["fast"] == 1.0  # S(1) = 0.5 exactly -> first <= 0.5
    assert out["slow"] is None


def test_interval_overlap_join_matches_brute_force(spark):
    from moz_datapipeline_spark.operators.ranges import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 5.0, 6.0), (3, 20.0, 25.0)],
        "id long, start double, end double",
    )
    right = spark.createDataFrame(
        [(100, 8.0, 22.0), (200, 11.0, 19.0), (300, 4.0, 5.0)],
        "id long, start double, end double",
    )
    out = {
        (r.left_id, r.right_id): (r.overlap_start, r.overlap_end, r.overlap)
        for r in interval_overlap_join(left, right, bucket_width=5.0).collect()
    }
    # brute force: (1,100): [8,10]; (1,300): [4,5]; (2,300): [5,5];
    # (3,100): [20,22]; (3,200) disjoint; (2,100) disjoint
    assert out == {
        (1, 100): (8.0, 10.0, 2.0),
        (1, 300): (4.0, 5.0, 1.0),
        (2, 300): (5.0, 5.0, 0.0),
        (3, 100): (20.0, 22.0, 2.0),
    }
    with pytest.raises(ValueError):
        interval_overlap_join(left, right, bucket_width=0.0)


def test_interval_overlap_join_multi_bucket_pair_emitted_once(spark):
    """A pair sharing many buckets appears exactly once (first-shared-
    bucket identity), and an over-wide interval fails loudly."""
    from moz_datapipeline_spark.operators.ranges import interval_overlap_join

    left = spark.createDataFrame(
        [(1, 0.0, 99.0)], "id long, start double, end double"
    )
    right = spark.createDataFrame(
        [(9, 50.0, 60.0)], "id long, start double, end double"
    )
    rows = interval_overlap_join(left, right, bucket_width=10.0).collect()
    assert len(rows) == 1
    assert rows[0].overlap == 10.0
    wide = spark.createDataFrame(
        [(1, 0.0, 1e9)], "id long, start double, end double"
    )
    import pyspark.errors

    with pytest.raises(Exception, match="spans"):
        interval_overlap_join(wide, right, bucket_width=0.5).collect()


def test_touch_attribution_models_hand_computed(spark):
    """User 1: view, click, BUY, view, BUY; user 2: view (never
    converts). Linear: window 1 = {view, click} 0.5 each; window 2 =
    {view} 1.0. First: view 1 + view 1 ... verify all three models."""
    from moz_datapipeline_spark.operators.analytics import touch_attribution

    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "buy"),
        (1, 4, "view"), (1, 5, "buy"),
        (2, 1, "view"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    lin = {r.event_type: r for r in
           touch_attribution(df, "buy", model="linear",
                             tiebreak_col="ts").collect()}
    assert lin["view"].credit == pytest.approx(1.5)
    assert lin["click"].credit == pytest.approx(0.5)
    assert lin["view"].n_conversions == 2
    # user 2's unconverted view earns nothing and isn't counted
    assert lin["view"].n_touches == 2
    first = {r.event_type: r.credit for r in
             touch_attribution(df, "buy", model="first",
                               tiebreak_col="ts").collect()}
    assert first == {"view": 2.0, "click": 0.0}
    last = {r.event_type: r.credit for r in
            touch_attribution(df, "buy", model="last",
                              tiebreak_col="ts").collect()}
    assert last == {"view": 1.0, "click": 1.0}
    with pytest.raises(ValueError):
        touch_attribution(df, "buy", model="quadratic")


def test_touch_attribution_conversion_without_touches(spark):
    """A conversion preceded by nothing credits no one but still
    counts in n_conversions."""
    from moz_datapipeline_spark.operators.analytics import touch_attribution

    df = spark.createDataFrame(
        [(1, 1, "buy"), (1, 2, "view"), (1, 3, "buy")],
        "user_id int, ts long, event_type string",
    )
    out = touch_attribution(df, "buy", model="linear",
                            tiebreak_col="ts").collect()
    assert len(out) == 1
    assert out[0].event_type == "view"
    assert out[0].credit == pytest.approx(1.0)
    assert out[0].n_conversions == 2


def test_collapse_rare_thresholds_and_nulls(spark):
    from moz_datapipeline_spark.operators.features import collapse_rare

    rows = [("a",)] * 5 + [("b",)] * 2 + [("c",)] * 1 + [(None,)]
    df = spark.createDataFrame(rows, "cat string")
    out = collapse_rare(df, "cat", min_count=3, out_col="cat2")
    got = {(r.cat, r.cat2) for r in out.collect()}
    assert ("a", "a") in got
    assert ("b", "__other__") in got
    assert ("c", "__other__") in got
    assert (None, None) in got  # NULL stays NULL, not a rare label
    with pytest.raises(ValueError):
        collapse_rare(df, "cat", min_count=0)


def test_quantile_bin_grouped_per_group_cuts(spark):
    """Two groups with disjoint ranges: each gets its OWN quartile
    cuts, so bin 0 means 'low for this group'."""
    from moz_datapipeline_spark.operators.features import quantile_bin_grouped

    rows = [("a", float(i)) for i in range(100)] + [
        ("b", float(1000 + i)) for i in range(100)
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    out = quantile_bin_grouped(df, "g", "v", k=4)
    counts = {
        (r.g, r.bin): r.n
        for r in out.groupBy("g", "bin").agg(F.count("*").alias("n")).collect()
    }
    for g in ("a", "b"):
        for b in range(4):
            assert counts[(g, b)] == 25, (g, b, counts)
    with pytest.raises(ValueError):
        quantile_bin_grouped(df, "g", "v", k=1)


def test_touch_attribution_time_decay(spark):
    """One conversion at t=10 with touches at t=8 and t=9 and a 1-unit
    half-life: weights 0.25 and 0.5 -> credits 1/3 and 2/3."""
    from moz_datapipeline_spark.operators.analytics import touch_attribution

    rows = [(1, 8, "view"), (1, 9, "click"), (1, 10, "buy")]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    out = {r.event_type: r.credit for r in
           touch_attribution(df, "buy", model="time_decay",
                             tiebreak_col="ts", half_life=1.0).collect()}
    assert out["view"] == pytest.approx(1 / 3, abs=1e-6)
    assert out["click"] == pytest.approx(2 / 3, abs=1e-6)
    with pytest.raises(ValueError):
        touch_attribution(df, "buy", model="time_decay")  # no half_life


def test_touch_attribution_u_shaped(spark):
    """4 touches: 0.4 / 0.1 / 0.1 / 0.4; 1 touch: 1.0; 2: 0.5/0.5."""
    from moz_datapipeline_spark.operators.analytics import touch_attribution

    rows = [
        (1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (1, 4, "d"), (1, 5, "buy"),
        (2, 1, "a"), (2, 2, "buy"),
        (3, 1, "a"), (3, 2, "b"), (3, 3, "buy"),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    out = {r.event_type: r.credit for r in
           touch_attribution(df, "buy", model="u_shaped",
                             tiebreak_col="ts").collect()}
    # user1: a=0.4 b=0.1 c=0.1 d=0.4; user2: a=1.0; user3: a=0.5 b=0.5
    assert out["a"] == pytest.approx(0.4 + 1.0 + 0.5, abs=1e-6)
    assert out["b"] == pytest.approx(0.1 + 0.5, abs=1e-6)
    assert out["c"] == pytest.approx(0.1, abs=1e-6)
    assert out["d"] == pytest.approx(0.4, abs=1e-6)


def test_repetition_signals_hand_computed(spark):
    from moz_datapipeline_spark.operators.text import repetition_signals

    rows = [
        # 4 lines, 2 distinct -> dup_line_frac 0.5; bigrams of
        # "nav home nav home": {nav home:2, home nav:1} -> top 2/3
        (1, "nav home\nnav home\nabout us\nabout us"),
        (2, "a clean unique sentence with no repeats"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in repetition_signals(df).collect()}
    r1 = out[1]
    assert r1.n_lines == 4
    assert r1.dup_line_frac == pytest.approx(0.5)
    # tokens: nav home nav home about us about us -> top bigram
    # "nav home" or "about us" both occur 2 of 7 -> 2/7
    assert r1.top_bigram_frac == pytest.approx(2 / 7, abs=1e-6)
    r2 = out[2]
    assert r2.dup_line_frac == 0.0
    assert r2.top_bigram_frac == pytest.approx(1 / 6, abs=1e-6)
    r3 = out[3]
    assert r3.n_tokens == 0 and r3.n_lines == 0
    assert r3.dup_line_frac == 0.0 and r3.top_bigram_frac == 0.0


def test_eb_shrink_pulls_small_groups_toward_global(spark):
    from moz_datapipeline_spark.operators.analytics import eb_shrink_rates

    # many medium groups near 0.5, one tiny group at 1.0
    rows = []
    for g in range(20):
        n = 40
        k = 20 + (g % 5) - 2  # 18..22 successes of 40
        rows += [(g, 1, 1)] * k + [(g, 0, 1)] * (n - k)
    rows += [(99, 1, 1)]  # 1-of-1 group
    df = spark.createDataFrame(rows, "grp int, succ int, trial int")
    out = {r.grp: r for r in
           eb_shrink_rates(df, "grp", "succ", "trial").collect()}
    tiny = out[99]
    assert tiny.raw_rate == 1.0
    # shrinkage pulls the 1-of-1 group strongly toward ~0.5
    assert tiny.shrunk_rate < 0.8
    assert tiny.alpha is not None and tiny.beta is not None
    big = out[0]
    # large groups barely move
    assert abs(big.shrunk_rate - big.raw_rate) < 0.05


def test_eb_shrink_degenerate_no_variance_falls_back(spark):
    from moz_datapipeline_spark.operators.analytics import eb_shrink_rates

    rows = [(g, 1, 1) for g in range(5)] + [(g, 0, 1) for g in range(5)]
    # every group has identical rate 0.5 -> zero between-group variance
    rows = [(g, s, t) for g in range(5) for s, t in ((1, 1), (0, 1))]
    df = spark.createDataFrame(rows, "grp int, succ int, trial int")
    out = eb_shrink_rates(df, "grp", "succ", "trial").collect()
    for r in out:
        assert r.alpha is None and r.beta is None
        assert r.shrunk_rate == r.raw_rate


def test_km_survival_at_hand_computed(spark):
    """Events at 2 and 4 of 4 subjects (2 censored at 5): S(2)=0.75,
    S(4)=0.5; horizon 1 before any event -> 1.0."""
    from moz_datapipeline_spark.operators.analytics import km_survival_at

    df = spark.createDataFrame(
        [(2.0, 1), (4.0, 1), (5.0, 0), (5.0, 0)],
        "duration double, event int",
    )
    out = {r.horizon: r.survival for r in
           km_survival_at(df, "duration", "event",
                          horizons=[1.0, 2.0, 4.5]).collect()}
    assert out[1.0] == 1.0
    assert out[2.0] == pytest.approx(0.75)
    assert out[4.5] == pytest.approx(0.5)
    with pytest.raises(ValueError):
        km_survival_at(df, "duration", "event", horizons=[])


def test_dataset_diff_hand_computed(spark):
    from moz_datapipeline_spark.operators.validation import dataset_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),      # unchanged
         (2, "B", 20.0),      # s changed
         (3, "c", 30.0),      # v NULL -> value = changed
         (5, "e", 50.0)],     # added; 4 removed
        "k long, s string, v double",
    )
    out = {r.metric: r.n for r in dataset_diff(old, new, ["k"]).collect()}
    assert out == {
        "added": 1, "removed": 1, "changed": 2, "unchanged": 1,
        "col_changed:s": 1, "col_changed:v": 1,
    }
    with pytest.raises(ValueError):
        dataset_diff(old, new, [])
    dup = spark.createDataFrame(
        [(1, "a", 1.0), (1, "b", 2.0)], "k long, s string, v double"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        dataset_diff(dup, new, ["k"])


def test_cohort_ltv_hand_computed(spark):
    """Two users in one cohort (day 0), one in a later cohort.
    Cohort 0: u1 spends 10 at day0 and 20 at day2; u2 spends 6 at
    day0 and nothing later -> cum/user: day0 (10+6)/2=8, day2 28/2=18
    (divides by FULL cohort, not active)."""
    from moz_datapipeline_spark.operators.analytics import cohort_ltv

    ns = 86_400_000_000_000
    rows = [
        (1, 0 * ns, "purchase", 10.0),
        (1, 2 * ns, "purchase", 20.0),
        (2, 0 * ns, "purchase", 6.0),
        (3, 5 * ns, "purchase", 7.0),
        (1, 1 * ns, "view", 99.0),  # non-purchase carries no revenue
    ]
    df = spark.createDataFrame(
        rows, "user_id int, ts long, event_type string, value double"
    )
    out = {(r.cohort_day, r.day_offset): r for r in
           cohort_ltv(df, value_type="purchase").collect()}
    assert out[(0, 0)].cohort_size == 2
    assert out[(0, 0)].cum_revenue_per_user == pytest.approx(8.0)
    assert out[(0, 1)].period_revenue == 0.0  # the view day: 0 revenue
    assert out[(0, 2)].cum_revenue_per_user == pytest.approx(18.0)
    assert out[(5, 0)].cohort_size == 1
    assert out[(5, 0)].cum_revenue_per_user == pytest.approx(7.0)


def test_state_durations_islands(spark):
    """a a b a -> runs: a(x2), b(x1), a(x1) — the repeated state forms
    a NEW run after the interruption."""
    from moz_datapipeline_spark.operators.temporal import state_durations

    rows = [(1, 10, "a"), (1, 20, "a"), (1, 30, "b"), (1, 40, "a"),
            (2, 5, "b")]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    out = sorted(
        [(r.entity, r.state, r.run_start, r.run_end, r.n_events, r.duration)
         for r in state_durations(df, tiebreak_col="ts").collect()]
    )
    assert out == [
        (1, "a", 10, 20, 2, 10),
        (1, "a", 40, 40, 1, 0),
        (1, "b", 30, 30, 1, 0),
        (2, "b", 5, 5, 1, 0),
    ]


def test_path_flows_position_specific(spark):
    """Two users: a->b->c and a->c. Step 1 flows: a->b (1), a->c (1);
    step 2: b->c (1). Position kept, unlike markov_transitions."""
    from moz_datapipeline_spark.operators.analytics import path_flows

    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "c"),
            (2, 1, "a"), (2, 2, "c")]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    out = {(r.step, r.from_type, r.to_type): r.n_users
           for r in path_flows(df, max_steps=2, tiebreak_col="ts").collect()}
    assert out == {(1, "a", "b"): 1, (1, "a", "c"): 1, (2, "b", "c"): 1}
    with pytest.raises(ValueError):
        path_flows(df, max_steps=0)


def test_local_peaks_hand_computed(spark):
    """Series 1 1 5 1 1 1 3 1 1: peak at 5 (prom 4) and 3 (prom 2);
    edges never report; plateau 4 4 yields nothing."""
    from moz_datapipeline_spark.operators.temporal import local_peaks

    rows = [("a", t, v) for t, v in
            enumerate([1.0, 1.0, 5.0, 1.0, 1.0, 1.0, 3.0, 1.0, 1.0])]
    rows += [("b", t, v) for t, v in
             enumerate([1.0, 1.0, 4.0, 4.0, 1.0, 1.0])]
    df = spark.createDataFrame(rows, "g string, t long, v double")
    out = {(r.group, r.ts): r.prominence for r in
           local_peaks(df, "g", "t", "v", neighborhood=2).collect()}
    assert out == {("a", 2): 4.0, ("a", 6): 2.0}
    # min_prominence gates the smaller peak
    gated = {(r.group, r.ts) for r in
             local_peaks(df, "g", "t", "v", neighborhood=2,
                         min_prominence=3.0).collect()}
    assert gated == {("a", 2)}
    with pytest.raises(ValueError):
        local_peaks(df, "g", "t", "v", neighborhood=0)


def test_trajectory_stats_hand_computed(spark):
    """Out-and-back path: net ~0, straightness ~0; single point zeros."""
    from moz_datapipeline_spark.functions.geo import haversine_km
    from moz_datapipeline_spark.operators.geometry import trajectory_stats

    rows = [
        (1, 1, 0.0, 0.0), (1, 2, 1.0, 0.0), (1, 3, 0.0, 0.0),
        (2, 1, 10.0, 10.0),
    ]
    df = spark.createDataFrame(rows, "entity int, ts long, lon double, lat double")
    out = {r.entity: r for r in
           trajectory_stats(df, entity_col="entity").collect()}
    one_deg = 111.195  # ~km per degree longitude at the equator
    assert out[1].n_points == 3
    assert out[1].total_km == pytest.approx(2 * one_deg, rel=1e-3)
    assert out[1].max_segment_km == pytest.approx(one_deg, rel=1e-3)
    assert out[1].net_km == pytest.approx(0.0, abs=1e-6)
    assert out[1].straightness == pytest.approx(0.0, abs=1e-6)
    assert out[2].n_points == 1
    assert out[2].total_km == 0.0 and out[2].straightness is None


def test_prorate_intervals_conserves_amount(spark):
    from moz_datapipeline_spark.operators.ranges import prorate_intervals

    rows = [
        (1, 5.0, 25.0, 100.0),    # within one 30-bucket
        (2, 25.0, 65.0, 80.0),    # spans buckets 0,1,2
        (3, 30.0, 60.0, 90.0),    # exactly bucket 1 (half-open end)
        (4, 7.0, 7.0, 55.0),      # point charge
    ]
    df = spark.createDataFrame(rows, "id long, start double, end double, amount double")
    out = prorate_intervals(df, "start", "end", "amount", bucket_width=30.0)
    per_id = {r.id: r.total for r in
              out.groupBy("id").agg(F.sum("allocated").alias("total")).collect()}
    assert per_id[1] == pytest.approx(100.0, abs=1e-6)
    assert per_id[2] == pytest.approx(80.0, abs=1e-6)
    assert per_id[3] == pytest.approx(90.0, abs=1e-6)
    assert per_id[4] == pytest.approx(55.0, abs=1e-6)
    rows3 = {(r.bucket_start): r.allocated
             for r in out.filter(F.col("id") == 3).collect()}
    # half-open [30,60) lives entirely in bucket 1 — no 60-bucket slice
    assert rows3 == {30.0: 90.0}
    rows2 = {r.bucket_start: r.allocated
             for r in out.filter(F.col("id") == 2).collect()}
    assert rows2[0.0] == pytest.approx(80.0 * 5 / 40)
    assert rows2[30.0] == pytest.approx(80.0 * 30 / 40)
    assert rows2[60.0] == pytest.approx(80.0 * 5 / 40)
    with pytest.raises(ValueError):
        prorate_intervals(df, "start", "end", "amount", bucket_width=0)


def test_robust_scale_outlier_proof(spark):
    """One 1e6 outlier barely moves the robust z of normal rows,
    and itself scores huge; zero-MAD group yields NULL."""
    from moz_datapipeline_spark.operators.features import robust_scale

    rows = [("a", float(v)) for v in
            [10, 11, 12, 13, 14, 15, 16, 17, 18, 1_000_000]]
    rows += [("b", 5.0)] * 6  # all tied -> MAD 0
    df = spark.createDataFrame(rows, "g string, v double")
    out = {(r.g, r.v): r.robust_z
           for r in robust_scale(df, "v", group_col="g").collect()}
    # group a: median 14.5, MAD 2.5 -> z(14) ~ -0.1349
    assert out[("a", 14.0)] == pytest.approx(-0.5 / (1.4826 * 2.5), abs=1e-4)
    assert out[("a", 1_000_000.0)] > 1000
    assert out[("b", 5.0)] is None
    # ungrouped path
    g = robust_scale(df.filter(F.col("g") == "a"), "v")
    vals = {r.v: r.robust_z for r in g.collect()}
    assert vals[14.0] == pytest.approx(-0.5 / (1.4826 * 2.5), abs=1e-4)


def test_expectations_report_counts_and_null_policy(spark):
    from moz_datapipeline_spark.operators.validation import (
        expect_in_range,
        expect_not_null,
        expectations_report,
    )

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 50.0), (None, 2.0)],
        "k int, v double",
    )
    out = {r.rule + ":" + r.column: r for r in expectations_report(
        df,
        [expect_not_null("k"), expect_in_range("v", 0.0, 10.0)],
    ).collect()}
    nn = out["not_null:k"]
    assert nn.n_rows == 4 and nn.n_violations == 1
    rng = out["in_range:v"]
    # NULL v cannot evaluate -> violation; 50 out of range -> 2 total
    assert rng.n_violations == 2
    assert rng.pass_rate == pytest.approx(0.5)
    import pytest as _pt
    with _pt.raises(ValueError):
        expectations_report(df, [])


def test_item_similarity_hand_computed(spark):
    """Users {1: AB, 2: AB, 3: AC}: cos(A,B) = 2/sqrt(3*2),
    cos(A,C) = 1/sqrt(3*1), cos(B,C) = 0 (no shared user -> no row)."""
    from moz_datapipeline_spark.graph.aggregate import item_similarity
    import math

    rows = [(1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"), (3, "C")]
    df = spark.createDataFrame(rows, "user int, item string")
    out = {(r.item, r.neighbor): r for r in
           item_similarity(df, k=5, max_user_degree=None).collect()}
    assert out[("A", "B")].cosine == pytest.approx(2 / math.sqrt(6), abs=1e-6)
    assert out[("A", "C")].cosine == pytest.approx(1 / math.sqrt(3), abs=1e-6)
    assert out[("B", "A")].weight == 2
    assert ("B", "C") not in out
    # per-item ranking: A's best neighbor is B
    assert out[("A", "B")].rank == 1 and out[("A", "C")].rank == 2
    with pytest.raises(ValueError):
        item_similarity(df, k=0)


def test_weighted_quantiles_hand_computed(spark):
    """Values 1..4 with weights 1,1,2,4 (total 8): p25 -> cum>=2 at
    v=2; p50 -> cum>=4 at v=3; p75 -> cum>=6 at v=4; p=1 -> max."""
    from moz_datapipeline_spark.operators.indicators import weighted_quantiles

    rows = [("g", 1.0, 1.0), ("g", 2.0, 1.0), ("g", 3.0, 2.0),
            ("g", 4.0, 4.0)]
    df = spark.createDataFrame(rows, "grp string, v double, w double")
    out = {r.prob: r.value for r in
           weighted_quantiles(df, "grp", "v", "w",
                              probs=[0.25, 0.5, 0.75, 1.0]).collect()}
    assert out == {0.25: 2.0, 0.5: 3.0, 0.75: 4.0, 1.0: 4.0}
    # ties share one cumulative step: equal values are order-safe
    tied = spark.createDataFrame(
        [("g", 5.0, 1.0)] * 4 + [("g", 9.0, 1.0)],
        "grp string, v double, w double",
    )
    t = {r.prob: r.value for r in
         weighted_quantiles(tied, "grp", "v", "w", probs=[0.5]).collect()}
    assert t[0.5] == 5.0
    with pytest.raises(ValueError):
        weighted_quantiles(df, "grp", "v", "w", probs=[0.0])


def test_conversion_paths_hand_computed(spark):
    from moz_datapipeline_spark.operators.analytics import conversion_paths

    rows = [
        (1, 1, "view"), (1, 2, "click"), (1, 3, "buy"), (1, 4, "view"),
        (2, 1, "view"), (2, 2, "click"), (2, 3, "buy"),
        (3, 1, "view"),                      # never converts
        (4, 1, "a"), (4, 2, "b"), (4, 3, "c"), (4, 4, "d"),
        (4, 5, "e"), (4, 6, "buy"),          # journey longer than cap
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    out = {r.path: r.n_users for r in
           conversion_paths(df, "buy", max_steps=5,
                            tiebreak_col="ts").collect()}
    # users 1 and 2 share the same journey; post-conversion events drop
    assert out["view>click>buy"] == 2
    # truncated journey keeps first 5 steps and doesn't end in 'buy'
    assert out["a>b>c>d>e"] == 1
    assert len(out) == 2  # user 3 contributes nothing
    with pytest.raises(ValueError):
        conversion_paths(df, "buy", max_steps=0)


def test_lexical_diversity_hand_computed(spark):
    from moz_datapipeline_spark.operators.text import lexical_diversity

    rows = [
        (1, "the cat sat on the mat"),   # 6 tokens, 5 types, hapax 4/5
        (2, "spam spam spam spam"),      # TTR 0.25, hapax 0
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r for r in lexical_diversity(df).collect()}
    assert out[1].n_tokens == 6 and out[1].n_types == 5
    assert out[1].hapax_frac == pytest.approx(4 / 5)
    assert out[2].type_token_ratio == pytest.approx(0.25)
    assert out[2].hapax_frac == 0.0
    assert out[3].n_tokens == 0 and out[3].type_token_ratio is None


def test_weibull_fit_matches_numpy_on_km_points(spark):
    """Wire check: shape/scale equal a direct numpy polyfit on the
    same KM curve's interior points."""
    import math

    import numpy as np

    from moz_datapipeline_spark.operators.analytics import (
        kaplan_meier,
        weibull_fit,
    )

    rows = [(float(t), 1) for t in (1, 2, 3, 5, 8, 13, 21, 34)]
    df = spark.createDataFrame(rows, "duration double, event int")
    km = kaplan_meier(df, "duration", "event").collect()
    pts = [(math.log(r.duration), math.log(-math.log(r.survival)))
           for r in km if 0 < r.survival < 1 and r.duration > 0]
    x = np.array([p[0] for p in pts]); y = np.array([p[1] for p in pts])
    b1, b0 = np.polyfit(x, y, 1)
    r = weibull_fit(df, "duration", "event").collect()[0]
    assert r.n_points == len(pts)
    assert r.shape == pytest.approx(b1, abs=1e-4)
    assert r.scale == pytest.approx(math.exp(-b0 / b1), rel=1e-3)
    assert r.shape > 0


def test_inter_event_gaps_hand_computed(spark):
    from moz_datapipeline_spark.operators.temporal import inter_event_gaps

    rows = [(1, 0), (1, 10), (1, 30), (2, 5), (2, 105), (3, 7)]
    df = spark.createDataFrame(rows, "user_id int, ts long")
    out = {r.prob: r for r in
           inter_event_gaps(df, tiebreak_col="ts",
                            probs=[0.5, 1.0]).collect()}
    # gaps: 10, 20, 100 -> median 20, max 100; user 3 contributes none
    assert out[0.5].gap == pytest.approx(20.0)
    assert out[1.0].gap == pytest.approx(100.0)
    assert out[0.5].n_gaps == 3
    with pytest.raises(ValueError):
        inter_event_gaps(df, probs=[1.5])


def test_overdispersion_check_poisson_vs_bursty(spark):
    from moz_datapipeline_spark.operators.analytics import (
        overdispersion_check,
    )

    rows = [("steady", float(v)) for v in (4, 5, 6, 5, 4, 6, 5, 5)]
    rows += [("bursty", float(v)) for v in (0, 0, 0, 40, 0, 0, 0, 0)]
    rows += [("single", 7.0)]
    df = spark.createDataFrame(rows, "g string, cnt double")
    out = {r.grp: r for r in
           overdispersion_check(df, "g", "cnt").collect()}
    assert out["steady"].overdispersed is False
    assert out["bursty"].overdispersed is True
    assert out["bursty"].dispersion > 30
    assert out["single"].dispersion is None
    assert out["single"].overdispersed is None


def test_adoption_curve_hand_computed(spark):
    from moz_datapipeline_spark.operators.analytics import adoption_curve

    ns = 86_400_000_000_000
    rows = [(1, 0), (2, 0), (1, 1 * ns), (3, 2 * ns), (2, 2 * ns),
            (4, 2 * ns)]
    df = spark.createDataFrame(rows, "user_id int, ts long")
    out = {r.day: (r.new_users, r.cum_users)
           for r in adoption_curve(df).collect()}
    # day 0: users 1,2 new; day 1: none new (user 1 returns, day absent);
    # day 2: users 3,4 new
    assert out == {0: (2, 2), 2: (2, 4)}


def test_kruskal_wallis_vs_scipy_values(spark):
    """Pin against scipy.stats.kruskal's published worked example
    (three small samples, no ties): H and p must match the chi2
    asymptotics to the Wilson–Hilferty approximation's accuracy."""
    from moz_datapipeline_spark.operators.analytics import kruskal_wallis

    a = [2.9, 3.0, 2.5, 2.6, 3.2]
    b = [3.8, 2.7, 4.0, 2.4]
    c = [2.8, 3.4, 3.7, 2.2, 2.0]
    rows = [("a", v) for v in a] + [("b", v) for v in b] + [
        ("c", v) for v in c
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    r = kruskal_wallis(df, "v", "g").collect()[0]
    assert r.k_groups == 3 and r.n_rows == 14 and r.dof == 2
    # scipy.stats.kruskal -> H = 0.7714, p = 0.6800
    assert abs(r.h_stat - 0.771429) < 1e-4
    assert abs(r.p_value - 0.68) < 0.02  # Wilson–Hilferty tolerance
    assert r.significant is False


def test_kruskal_wallis_compiles_without_codegen_fallback(spark):
    """The H/p projection must compile under whole-stage codegen: with
    the interpreted fallback disabled, a janino failure raises instead
    of silently running interpreted."""
    from moz_datapipeline_spark.operators.analytics import kruskal_wallis

    rows = [(f"g{i % 3}", float((i * 7) % 11)) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, v double")
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        out = kruskal_wallis(df, "v", "g")
        r = out.collect()[0]
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)
    out.unpersist()
    assert r.k_groups == 3 and r.n_rows == 30 and r.dof == 2
    assert r.h_stat is not None and r.p_value is not None


def test_kruskal_wallis_all_tied_and_single_group(spark):
    from moz_datapipeline_spark.operators.analytics import kruskal_wallis

    allsame = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("b", 5.0), ("b", 5.0)],
        "g string, v double",
    )
    r = kruskal_wallis(allsame, "v", "g").collect()[0]
    assert r.h_stat is None and r.p_value is None

    single = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, v double"
    )
    r = kruskal_wallis(single, "v", "g").collect()[0]
    assert r.dof == 0 and r.h_stat is None


def test_g_test_independent_vs_dependent(spark):
    from moz_datapipeline_spark.operators.validation import (
        g_test_independence,
    )

    # perfectly independent 2x2 (all cells 25)
    rows = [("x", "p")] * 25 + [("x", "q")] * 25 + [("y", "p")] * 25 + [
        ("y", "q")
    ] * 25
    df = spark.createDataFrame(rows, "a string, b string")
    r = g_test_independence(df, "a", "b").collect()[0]
    assert abs(r.g_stat) < 1e-9 and r.dof == 1
    assert r.significant is False

    # perfectly dependent: a == b bijection, G = 2N·ln(2) for 2 levels
    rows = [("x", "p")] * 50 + [("y", "q")] * 50
    df = spark.createDataFrame(rows, "a string, b string")
    r = g_test_independence(df, "a", "b").collect()[0]
    import math

    assert abs(r.g_stat - 2 * 100 * math.log(2)) < 1e-6
    assert r.significant is True

    # 1xk degenerate: no freedom
    rows = [("x", "p")] * 10 + [("x", "q")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    r = g_test_independence(df, "a", "b").collect()[0]
    assert r.dof == 0 and r.g_stat == 0.0 and r.p_value is None


def test_periodogram_detects_planted_cycle(spark):
    """A pure 24-bucket cosine over 96 hourly buckets must put its
    power at k = 4 (= 96/24) and ~zero everywhere else."""
    import math

    from moz_datapipeline_spark.operators.temporal import periodogram

    ns = 3_600_000_000_000
    rows = []
    for t in range(96):
        # integer-ish counts: 10 + 5cos(2*pi*t/24) events at hour t
        n_events = round(10 + 5 * math.cos(2 * math.pi * t / 24))
        rows += [("s", t * ns)] * int(n_events)
    df = spark.createDataFrame(rows, "event_type string, ts long")
    out = {r.k: r for r in periodogram(df, max_harmonic=8).collect()}
    assert out[4].n_buckets == 96
    assert abs(out[4].period_buckets - 24.0) < 1e-9
    peak = out[4].power
    others = [out[k].power for k in out if k != 4]
    assert peak > 100 and all(p < peak / 50 for p in others)


def test_periodogram_aliased_harmonics_dropped(spark):
    from moz_datapipeline_spark.operators.temporal import periodogram

    ns = 3_600_000_000_000
    df = spark.createDataFrame(
        [("s", 0 * ns), ("s", 1 * ns), ("s", 2 * ns)],
        "event_type string, ts long",
    )
    ks = {r.k for r in periodogram(df, max_harmonic=8).collect()}
    assert ks == {1, 2}  # N = 3 buckets: k >= N are aliases


def test_croston_hand_computed(spark):
    """Two demand points: S = (1-a)z1 + a·z2, I = q2, f = S/I."""
    from moz_datapipeline_spark.operators.temporal import croston

    ns = 86_400_000_000_000
    rows = [
        (1, 0 * ns, 10.0),
        (1, 3 * ns, 20.0),  # interval 3 days
        (2, 5 * ns, 7.0),  # single demand -> no forecast
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, value double")
    out = {
        r.grp: r
        for r in croston(df, alpha=0.2, bucket="day").collect()
    }
    r1 = out[1]
    assert r1.n_periods == 2
    assert abs(r1.demand_smooth - (0.8 * 10 + 0.2 * 20)) < 1e-9
    assert abs(r1.interval_smooth - 3.0) < 1e-9
    assert abs(r1.croston_forecast - (12.0 / 3.0)) < 1e-9
    r2 = out[2]
    assert r2.n_periods == 1
    assert r2.interval_smooth is None and r2.croston_forecast is None


def test_croston_rejects_bad_alpha(spark):
    from moz_datapipeline_spark.operators.temporal import croston

    df = spark.createDataFrame([(1, 0, 1.0)], "user_id int, ts long, value double")
    with pytest.raises(ValueError, match="alpha"):
        croston(df, alpha=0.0)


def test_ridge_fit_lambda_zero_equals_ols(spark):
    from moz_datapipeline_spark.operators.analytics import (
        ols_fit,
        ridge_fit,
    )

    rows = [
        (1.0, 2.0, 5.1),
        (2.0, 1.0, 7.9),
        (3.0, 4.0, 12.2),
        (4.0, 3.0, 14.8),
        (5.0, 5.0, 18.1),
    ]
    df = spark.createDataFrame(rows, "x1 double, x2 double, y double")
    o = ols_fit(df, "y", ["x1", "x2"]).collect()[0]
    r = ridge_fit(df, "y", ["x1", "x2"], lam=0.0).collect()[0]
    assert abs(o.b0 - r.b0) < 1e-9
    assert abs(o.b_x1 - r.b_x1) < 1e-9
    assert abs(o.b_x2 - r.b_x2) < 1e-9
    assert abs(o.r2 - r.r2) < 1e-9


def test_ridge_fit_shrinks_toward_zero(spark):
    """As lambda grows the slope must shrink monotonically and the
    training r2 must not increase."""
    from moz_datapipeline_spark.operators.analytics import ridge_fit

    rows = [(float(i), 2.0 * i + (1 if i % 2 else -1)) for i in range(20)]
    df = spark.createDataFrame(rows, "x double, y double")
    slopes, r2s = [], []
    for lam in (0.0, 100.0, 10_000.0):
        r = ridge_fit(df, "y", ["x"], lam=lam).collect()[0]
        slopes.append(r.b_x)
        r2s.append(r.r2)
    assert slopes[0] > slopes[1] > slopes[2] >= 0
    assert r2s[0] >= r2s[1] >= r2s[2]


def test_ridge_fit_guards(spark):
    from moz_datapipeline_spark.operators.analytics import ridge_fit

    df = spark.createDataFrame([(1.0, 1.0)], "x double, y double")
    with pytest.raises(ValueError, match="lam"):
        ridge_fit(df, "y", ["x"], lam=-1.0)
    with pytest.raises(ValueError, match="d <= 2"):
        ridge_fit(df, "y", ["x", "x2", "x3"])


def test_friedman_test_textbook_example(spark):
    """Conover's classic no-tie panel: 3 treatments, hand-computed
    chi2 = 2·(12·Σ... ) — pinned against scipy.stats.friedmanchisquare
    on the same matrix: chi2 = 8.0, p ≈ 0.0183."""
    from moz_datapipeline_spark.operators.analytics import friedman_test

    # 4 blocks x 3 treatments, values chosen so treatment C always
    # wins, A always loses -> strong effect
    data = {
        "b1": (1.0, 2.0, 3.0),
        "b2": (1.1, 2.1, 3.1),
        "b3": (1.2, 2.2, 3.2),
        "b4": (1.3, 2.3, 3.3),
    }
    rows = []
    for blk, (a, b, c) in data.items():
        rows += [(blk, "A", a), (blk, "B", b), (blk, "C", c)]
    df = spark.createDataFrame(rows, "blk string, trt string, v double")
    r = friedman_test(df, "blk", "trt", "v").collect()[0]
    assert r.k_treatments == 3 and r.n_blocks == 4
    assert r.n_blocks_dropped == 0
    # scipy.stats.friedmanchisquare -> chi2 = 8.0
    assert abs(r.chi2 - 8.0) < 1e-9
    assert r.significant is True


def test_friedman_incomplete_blocks_dropped_and_dup_guard(spark):
    from moz_datapipeline_spark.operators.analytics import friedman_test

    rows = [
        ("b1", "A", 1.0), ("b1", "B", 2.0),
        ("b2", "A", 2.0), ("b2", "B", 1.0),
        ("b3", "A", 9.0),  # incomplete: missing B
    ]
    df = spark.createDataFrame(rows, "blk string, trt string, v double")
    r = friedman_test(df, "blk", "trt", "v").collect()[0]
    assert r.n_blocks == 2 and r.n_blocks_dropped == 1

    dup = spark.createDataFrame(
        rows + [("b1", "A", 5.0)], "blk string, trt string, v double"
    )
    with pytest.raises(ValueError, match="pre-aggregate"):
        friedman_test(dup, "blk", "trt", "v")


def test_uplift_bins_hand_computed(spark):
    """Planted uplift only in the top half of scores: top bins must
    show it, bottom bins must not."""
    from moz_datapipeline_spark.operators.mleval import uplift_bins

    rows = []
    for i in range(200):
        score = i / 200.0
        treat = i % 2
        # persuadables only above median score
        converted = 1 if (treat == 1 and score >= 0.5) else 0
        rows.append((score, treat, converted))
    df = spark.createDataFrame(rows, "s double, t int, o int")
    out = {r.bin: r for r in uplift_bins(df, "s", "t", "o", n_bins=4).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert out[0].uplift == 0.0 and out[1].uplift == 0.0
    assert out[2].uplift == 1.0 and out[3].uplift == 1.0
    assert out[2].n_treat == 25 and out[2].n_ctrl == 25


def test_uplift_bins_ties_share_bin(spark):
    from moz_datapipeline_spark.operators.mleval import uplift_bins

    # one giant tie at score 1.0 spanning the bin boundary
    rows = [(1.0, i % 2, 0) for i in range(100)] + [
        (2.0, i % 2, 1) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "s double, t int, o int")
    out = {r.bin: r for r in uplift_bins(df, "s", "t", "o", n_bins=2).collect()}
    # all 100 tied rows land in bin 0 (cum-before = 0)
    assert out[0].n_treat + out[0].n_ctrl == 100
    assert out[1].n_treat + out[1].n_ctrl == 10


def test_brier_decomposition_identity_and_values(spark):
    from moz_datapipeline_spark.operators.mleval import (
        brier_decomposition,
    )

    # forecast 0.8 on 10 rows (8 positive), 0.2 on 10 rows (2 positive)
    # -> perfectly calibrated: reliability = 0
    rows = [(0.8, 1)] * 8 + [(0.8, 0)] * 2 + [(0.2, 1)] * 2 + [
        (0.2, 0)
    ] * 8
    df = spark.createDataFrame(rows, "s double, y int")
    r = brier_decomposition(df, "s", "y").collect()[0]
    assert r.n == 20 and r.n_forecast_values == 2
    assert abs(r.reliability) < 1e-9
    assert abs(r.uncertainty - 0.25) < 1e-9
    assert abs(r.resolution - 0.09) < 1e-9
    assert abs(r.brier - (0.25 - 0.09)) < 1e-9


def test_pettitt_detects_planted_level_shift(spark):
    """Step from level 10 to level 30 at t=50 of 100 hourly buckets:
    the argmax of |U_t| must land at the last pre-shift bucket and be
    highly significant."""
    from moz_datapipeline_spark.operators.temporal import (
        pettitt_changepoint,
    )

    ns = 3_600_000_000_000
    rows = [("s", t * ns, 10.0 + (t % 3)) for t in range(50)]
    rows += [("s", t * ns, 30.0 + (t % 3)) for t in range(50, 100)]
    df = spark.createDataFrame(rows, "event_type string, ts long, value double")
    r = pettitt_changepoint(df).collect()[0]
    assert r.n_buckets == 100
    assert r.change_bucket == 49 * 3600
    assert r.significant is True and r.p_value < 1e-6


def test_pettitt_no_shift_not_significant(spark):
    from moz_datapipeline_spark.operators.temporal import (
        pettitt_changepoint,
    )

    ns = 3_600_000_000_000
    # alternating values: no level shift anywhere
    rows = [("s", t * ns, float(10 + (t % 2))) for t in range(60)]
    df = spark.createDataFrame(rows, "event_type string, ts long, value double")
    r = pettitt_changepoint(df).collect()[0]
    assert r.significant is False


def test_hurst_trending_vs_alternating(spark):
    """A monotone ramp must read persistent (H near 1); a strict
    alternation must read anti-persistent (H well below 0.5)."""
    from moz_datapipeline_spark.operators.temporal import hurst_exponent

    ns = 3_600_000_000_000
    ramp = [("ramp", t * ns, float(t)) for t in range(128)]
    alt = [("alt", t * ns, float(t % 2)) for t in range(128)]
    df = spark.createDataFrame(
        ramp + alt, "event_type string, ts long, value double"
    )
    out = {r.grp: r for r in hurst_exponent(df).collect()}
    assert out["ramp"].hurst > 0.9
    assert out["alt"].hurst < 0.3
    assert out["ramp"].n_scales == 4


def test_hurst_guards(spark):
    from moz_datapipeline_spark.operators.temporal import hurst_exponent

    df = spark.createDataFrame(
        [("s", 0, 1.0)], "event_type string, ts long, value double"
    )
    with pytest.raises(ValueError, match="scales"):
        hurst_exponent(df, scales=(8,))
    # constant series: every block has zero variance -> NULL hurst
    ns = 3_600_000_000_000
    const = spark.createDataFrame(
        [("c", t * ns, 5.0) for t in range(64)],
        "event_type string, ts long, value double",
    )
    r = hurst_exponent(const).collect()[0]
    assert r.hurst is None


def test_poisson_rate_test_hand_computed(spark):
    """Same exposure, 100 vs 50 events: z = (100-75)/sqrt(37.5)."""
    import math

    from moz_datapipeline_spark.operators.analytics import (
        poisson_rate_test,
    )

    ns = 1_000_000_000
    a = spark.createDataFrame(
        [(i * ns,) for i in range(101)], "ts long"
    )  # 101 events over 100 s
    b = spark.createDataFrame(
        [(i * 2 * ns,) for i in range(51)], "ts long"
    )  # 51 events over 100 s
    r = poisson_rate_test(a, b).collect()[0]
    assert r.n_a == 101 and r.n_b == 51
    assert abs(r.exposure_a - 100.0) < 1e-9
    assert abs(r.exposure_b - 100.0) < 1e-9
    expected_z = (101 - 152 * 0.5) / math.sqrt(152 * 0.25)
    assert abs(r.z - expected_z) < 1e-6
    assert r.significant is True

    empty = spark.createDataFrame([], "ts long")
    r = poisson_rate_test(a, empty).collect()[0]
    assert r.z is None and r.p_value is None


def test_mcnemar_hand_computed(spark):
    """b01=10, b10=2: chi2 = (|10-2|-1)^2/12 = 49/12, p < 0.05."""
    from moz_datapipeline_spark.operators.analytics import mcnemar_test

    rows = [(1, 0)] * 10 + [(0, 1)] * 2 + [(1, 1)] * 30 + [(0, 0)] * 8
    df = spark.createDataFrame(rows, "a int, b int")
    r = mcnemar_test(df, "a", "b").collect()[0]
    assert r.n == 50 and r.b01 == 10 and r.b10 == 2
    assert abs(r.chi2 - 49.0 / 12.0) < 1e-5
    assert r.significant is True

    # all concordant: no information
    conc = spark.createDataFrame([(1, 1)] * 5, "a int, b int")
    r = mcnemar_test(conc, "a", "b").collect()[0]
    assert r.chi2 is None and r.p_value is None


def test_cochran_q_textbook(spark):
    """3 treatments x 4 blocks with hand-computable totals."""
    from moz_datapipeline_spark.operators.analytics import cochran_q

    # blocks: (1,1,0), (1,0,0), (1,1,1) [cancels], (0,0,0) [cancels]
    rows = [
        ("b1", "t1", 1), ("b1", "t2", 1), ("b1", "t3", 0),
        ("b2", "t1", 1), ("b2", "t2", 0), ("b2", "t3", 0),
        ("b3", "t1", 1), ("b3", "t2", 1), ("b3", "t3", 1),
        ("b4", "t1", 0), ("b4", "t2", 0), ("b4", "t3", 0),
    ]
    df = spark.createDataFrame(rows, "blk string, trt string, o int")
    r = cochran_q(df, "blk", "trt", "o").collect()[0]
    # T=6, C=(3,2,1), R=(2,1,3,0); num=3*14-36=6; den=3*6-14=4
    assert r.k_treatments == 3 and r.n_blocks == 4
    assert abs(r.q_stat - 2.0 * 6.0 / 4.0) < 1e-9
    # dropping the two degenerate blocks must not change Q
    r2 = cochran_q(
        spark.createDataFrame(rows[:6], "blk string, trt string, o int"),
        "blk", "trt", "o",
    ).collect()[0]
    assert abs(r2.q_stat - r.q_stat) < 1e-9


def test_inequality_indices_known_values(spark):
    """Constant -> all zeros; 2-point distribution -> closed forms."""
    import math

    from moz_datapipeline_spark.operators.analytics import (
        inequality_indices,
    )

    const = spark.createDataFrame([(5.0,)] * 8, "x double")
    r = inequality_indices(const, "x").collect()[0]
    assert abs(r.theil_t) < 1e-9 and abs(r.theil_l) < 1e-9
    assert abs(r.atkinson_05) < 1e-9

    two = spark.createDataFrame([(1.0,), (3.0,)], "x double")
    r = inequality_indices(two, "x").collect()[0]
    mu = 2.0
    tt = (1 * math.log(1 / mu) + 3 * math.log(3 / mu)) / (2 * mu)
    tl = math.log(mu) - (math.log(1.0) + math.log(3.0)) / 2
    atk = 1 - ((1 + math.sqrt(3.0)) / 2) ** 2 / mu
    assert abs(r.theil_t - tt) < 1e-6
    assert abs(r.theil_l - tl) < 1e-6
    assert abs(r.atkinson_05 - atk) < 1e-6
    # negatives and zeros excluded
    mixed = spark.createDataFrame(
        [(1.0,), (3.0,), (0.0,), (-2.0,), (None,)], "x double"
    )
    r = inequality_indices(mixed, "x").collect()[0]
    assert r.n == 2


def test_span_corruption_invariants(spark):
    """Spans must be in-bounds, non-overlapping, ordered, with the
    budgeted count; short docs produce no spans."""
    from moz_datapipeline_spark.operators.corpus import span_corruption

    docs = [
        (1, " ".join(f"w{i}" for i in range(100))),
        (2, " ".join(f"w{i}" for i in range(21))),
        (3, "one two"),  # too short for a span at 15% x 3
        (4, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = span_corruption(df).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r.id, []).append(r)
    assert set(by_doc) == {1, 2}
    assert len(by_doc[1]) == 5  # floor(100*.15/3) = 5
    assert len(by_doc[2]) == 1  # floor(21*.15/3) = 1
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.span_id)
        prev_end = -1
        for r in rows:
            assert r.start_token > prev_end
            assert r.start_token + r.span_len <= r.n_tokens
            prev_end = r.start_token + r.span_len - 1


def test_span_corruption_deterministic_and_guarded(spark):
    from moz_datapipeline_spark.operators.corpus import span_corruption

    df = spark.createDataFrame(
        [(7, " ".join(f"t{i}" for i in range(50)))],
        "doc_id long, text string",
    )
    a = sorted((r.span_id, r.start_token) for r in span_corruption(df).collect())
    b = sorted((r.span_id, r.start_token) for r in span_corruption(df).collect())
    assert a == b
    with pytest.raises(ValueError, match="corruption_rate"):
        span_corruption(df, corruption_rate=0.0)
    with pytest.raises(ValueError, match="span_len"):
        span_corruption(df, span_len=0)


def test_runs_test_clustered_vs_alternating(spark):
    from moz_datapipeline_spark.operators.temporal import runs_test

    ns = 3_600_000_000_000
    # clustered: 30 low then 30 high -> 2 runs, far below expectation
    clustered = [("c", t * ns, 1.0) for t in range(30)] + [
        ("c", t * ns, 9.0) for t in range(30, 60)
    ]
    # alternating: runs = n, far above expectation
    alternating = [("a", t * ns, 1.0 if t % 2 else 9.0) for t in range(60)]
    # constant: never crosses its mean -> NULL
    const = [("k", t * ns, 5.0) for t in range(10)]
    df = spark.createDataFrame(
        clustered + alternating + const,
        "event_type string, ts long, value double",
    )
    out = {r.grp: r for r in runs_test(df).collect()}
    assert out["c"].n_runs == 2 and out["c"].z < -7
    assert out["c"].significant is True
    assert out["a"].n_runs == 60 and out["a"].z > 7
    assert out["k"].z is None and out["k"].p_value is None


def test_decomposition_strength_pure_signals(spark):
    """A pure 24h cosine must read seasonal_strength ~1; a pure ramp
    must read trend_strength ~1."""
    import math

    from moz_datapipeline_spark.operators.temporal import (
        decomposition_strength,
    )

    ns = 3_600_000_000_000
    rows = []
    for t in range(240):
        rows.append(("season", t * ns, 10 + 5 * math.cos(2 * math.pi * t / 24)))
        rows.append(("ramp", t * ns, float(t)))
    df = spark.createDataFrame(rows, "event_type string, ts long, value double")
    out = {r.grp: r for r in decomposition_strength(df).collect()}
    assert out["season"].seasonal_strength > 0.95
    assert out["ramp"].trend_strength > 0.99


def test_page_trend_perfect_order_vs_reverse(spark):
    from moz_datapipeline_spark.operators.analytics import page_trend

    # treatments a < b < c, values always in that order: max L
    rows = []
    for blk in range(6):
        rows += [
            (f"b{blk}", "a", 1.0 + blk),
            (f"b{blk}", "b", 2.0 + blk),
            (f"b{blk}", "c", 3.0 + blk),
        ]
    df = spark.createDataFrame(rows, "blk string, trt string, v double")
    r = page_trend(df, "blk", "trt", "v").collect()[0]
    # perfect order: L = n * (1*1 + 2*2 + 3*3) = 6 * 14 = 84
    assert abs(r.l_stat - 84.0) < 1e-9
    assert r.significant is True and r.z > 0

    # reversed values: minimal L, z < 0, one-sided p near 1
    rows_rev = [(b, t, -v) for (b, t, v) in rows]
    df = spark.createDataFrame(rows_rev, "blk string, trt string, v double")
    r = page_trend(df, "blk", "trt", "v").collect()[0]
    assert r.z < 0 and r.p_value > 0.95


def test_msprt_null_vs_effect(spark):
    """Under no effect Λ stays small (p = 1); under a big effect the
    always-valid p collapses."""
    from moz_datapipeline_spark.operators.analytics import msprt_test

    null_a = spark.createDataFrame(
        [(float(10 + (i % 5)),) for i in range(200)], "v double"
    )
    null_b = spark.createDataFrame(
        [(float(10 + ((i + 2) % 5)),) for i in range(200)], "v double"
    )
    r = msprt_test(null_a, null_b, "v").collect()[0]
    assert r.p_always_valid > 0.5 and r.significant is False

    eff_b = spark.createDataFrame(
        [(float(20 + (i % 5)),) for i in range(200)], "v double"
    )
    r = msprt_test(null_a, eff_b, "v").collect()[0]
    assert r.p_always_valid < 1e-6 and r.significant is True
    assert abs(r.delta - (-10.0)) < 0.1

    tiny = spark.createDataFrame([(1.0,)], "v double")
    r = msprt_test(null_a, tiny, "v").collect()[0]
    assert r.lambda_stat is None and r.p_always_valid is None

    with pytest.raises(ValueError, match="tau"):
        msprt_test(null_a, null_b, "v", tau=0.0)


def test_qte_shift_only_in_tail(spark):
    """Treatment adds +100 only above the control's p75: median QTE
    ~0, p90 QTE ~100."""
    from moz_datapipeline_spark.operators.analytics import (
        quantile_treatment_effect,
    )

    ctrl = [(float(i),) for i in range(101)]  # 0..100
    treat = [(float(i) if i <= 75 else float(i + 100),) for i in range(101)]
    a = spark.createDataFrame(treat, "v double")
    b = spark.createDataFrame(ctrl, "v double")
    out = {r.prob: r for r in quantile_treatment_effect(a, b, "v").collect()}
    assert abs(out[0.5].qte) < 1e-9
    assert abs(out[0.9].qte - 100.0) < 1e-9
    assert abs(out[0.25].qte) < 1e-9

    with pytest.raises(ValueError, match="probs"):
        quantile_treatment_effect(a, b, "v", probs=[1.5])


def test_wasserstein_known_distance(spark):
    """Point masses at 0 vs at d: W1 = d.  Uniform {0..9} vs shifted
    {5..14}: W1 = 5."""
    from moz_datapipeline_spark.operators.analytics import wasserstein_1d

    a = spark.createDataFrame([(0.0,)] * 5, "v double")
    b = spark.createDataFrame([(7.5,)] * 3, "v double")
    r = wasserstein_1d(a, b, "v").collect()[0]
    assert abs(r.wasserstein - 7.5) < 1e-9

    a = spark.createDataFrame([(float(i),) for i in range(10)], "v double")
    b = spark.createDataFrame([(float(i + 5),) for i in range(10)], "v double")
    r = wasserstein_1d(a, b, "v").collect()[0]
    assert abs(r.wasserstein - 5.0) < 1e-9

    # identical samples: 0
    r = wasserstein_1d(a, a, "v").collect()[0]
    assert abs(r.wasserstein) < 1e-12

    empty = spark.createDataFrame([], "v double")
    r = wasserstein_1d(a, empty, "v").collect()[0]
    assert r.wasserstein is None


def test_js_divergence_bounds_and_disjoint(spark):
    """Identical mixes -> 0; fully disjoint categories -> ln 2 nats
    (1 bit) — the case that blows PSI up."""
    from moz_datapipeline_spark.operators.analytics import js_divergence

    a = spark.createDataFrame([("x",)] * 6 + [("y",)] * 4, "c string")
    r = js_divergence(a, a, "c").collect()[0]
    assert abs(r.jsd) < 1e-12

    b = spark.createDataFrame([("z",)] * 10, "c string")
    r = js_divergence(a, b, "c").collect()[0]
    assert abs(r.jsd_bits - 1.0) < 1e-9
    assert r.n_categories == 3


def test_mahalanobis_joint_outlier(spark):
    """A point unremarkable per-axis but violating the correlation
    must score far higher than on-trend points."""
    from moz_datapipeline_spark.operators.analytics import (
        mahalanobis_outliers,
    )

    # strong y ~ 2x trend plus one anti-trend point at (9, 2)
    rows = [(float(i), 2.0 * i + (0.1 if i % 2 else -0.1)) for i in range(20)]
    rows.append((9.0, 2.0))
    df = spark.createDataFrame(rows, "x double, y double")
    out = mahalanobis_outliers(df, "x", "y", threshold=9.0).collect()
    scored = {(r.x, r.y): r for r in out}
    anti = scored[(9.0, 2.0)]
    on_trend = scored[(11.0, 2.0 * 11 + 0.1)]
    assert anti.maha_d2 > 10 * on_trend.maha_d2
    assert anti.is_outlier is True and on_trend.is_outlier is False

    const = spark.createDataFrame([(1.0, 1.0)] * 5, "x double, y double")
    r = mahalanobis_outliers(const, "x", "y").collect()[0]
    assert r.maha_d2 is None and r.is_outlier is None


def test_random_walks_invariants(spark):
    """Every hop must follow a real edge; walks are deterministic;
    dead ends keep their prefix."""
    from moz_datapipeline_spark.graph.walks import random_walks

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 4)],  # 4 is a dead end
        "src long, dst long",
    )
    out = random_walks(edges, walk_len=5, walks_per_node=2).collect()
    edge_set = {(1, 2), (2, 3), (3, 1), (2, 4)}
    by_walk: dict = {}
    for r in out:
        by_walk.setdefault(r.walk_id, {})[r.step] = r.node
    # walks start from nodes WITH outgoing edges: {1,2,3}, not the
    # pure sink 4
    assert len(by_walk) == 3 * 2
    for wid, steps in by_walk.items():
        assert steps[0] == int(wid.split("#")[0])
        path = [steps[t] for t in sorted(steps)]
        for a, b in zip(path, path[1:]):
            assert (a, b) in edge_set, (wid, path)
        # a walk ends early ONLY at the dead end
        if len(path) < 6:
            assert path[-1] == 4

    again = random_walks(edges, walk_len=5, walks_per_node=2).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    with pytest.raises(ValueError, match="walk_len"):
        random_walks(edges, walk_len=0)


def test_holm_step_down_prefix(spark):
    """Textbook battery: p = .01, .013, .02, .04 at alpha=.05, m=4:
    thresholds .0125, .0167, .025, .05 -> p2=.013 FAILS its .0167?
    No: .013 <= .0167 passes; .02 <= .025 passes; .04 <= .05 passes
    -> all rejected.  Add p=.03 vs threshold .0167: fails at rank 2,
    killing ranks >= 2 even though p=.02 < .025."""
    from moz_datapipeline_spark.operators.validation import holm_correct

    df = spark.createDataFrame(
        [("a", 0.01), ("b", 0.03), ("c", 0.02), ("d", 0.04)],
        "test string, p double",
    )
    out = {r.test: r for r in
           holm_correct(df, "p", alpha=0.05, id_cols=["test"]).collect()}
    # order: a(.01) c(.02) b(.03) d(.04); thresholds .0125 .0167 .025 .05
    assert out["a"].reject is True
    # c fails at rank 2 (.02 > .0167) -> c, b, d all survive
    assert out["c"].reject is False
    assert out["b"].reject is False
    assert out["d"].reject is False

    withnull = df.union(spark.createDataFrame([("e", None)],
                                              "test string, p double"))
    out = {r.test: r for r in
           holm_correct(withnull, "p", id_cols=["test"]).collect()}
    assert out["e"].rank is None and out["e"].reject is False


def test_srm_detects_skew(spark):
    from moz_datapipeline_spark.operators.validation import srm_check

    balanced = spark.createDataFrame(
        [("a",)] * 5000 + [("b",)] * 5000, "arm string"
    )
    r = srm_check(balanced, "arm", {"a": 0.5, "b": 0.5}).collect()[0]
    assert r.srm_detected is False and abs(r.chi2) < 1e-9

    skewed = spark.createDataFrame(
        [("a",)] * 5300 + [("b",)] * 4700, "arm string"
    )
    r = srm_check(skewed, "arm", {"a": 0.5, "b": 0.5}).collect()[0]
    assert r.chi2 > 30 and r.srm_detected is True

    with pytest.raises(ValueError, match="missing from the expected"):
        srm_check(
            spark.createDataFrame([("c",)], "arm string"),
            "arm",
            {"a": 0.5, "b": 0.5},
        )


def test_skipgram_pairs_hand_computed(spark):
    from moz_datapipeline_spark.operators.text import skipgram_pairs

    rows = [(1, 1, "a"), (1, 2, "b"), (1, 3, "c"), (2, 1, "x")]
    df = spark.createDataFrame(rows, "seq long, pos long, tok string")
    out = {(r.seq, r.center, r.context, r.distance)
           for r in skipgram_pairs(df, "seq", "pos", "tok", window=1).collect()}
    assert out == {
        (1, "a", "b", 1), (1, "b", "a", -1),
        (1, "b", "c", 1), (1, "c", "b", -1),
    }
    # window 2 adds the (a, c) pair both ways; singleton seq 2 stays out
    out2 = skipgram_pairs(df, "seq", "pos", "tok", window=2).collect()
    assert len(out2) == 6
    with pytest.raises(ValueError, match="window"):
        skipgram_pairs(df, "seq", "pos", "tok", window=0)


def test_adstock_hand_computed_with_gap(spark):
    """Spend 100 on day 0 only: adstock decays 100, 50, 25 ... and a
    GAP day still carries (grid semantics, not row-lag)."""
    from moz_datapipeline_spark.operators.temporal import (
        adstock_transform,
    )

    ns = 86_400_000_000_000
    rows = [("m", 0, 100.0), ("m", 3 * ns, 40.0)]
    df = spark.createDataFrame(rows, "event_type string, ts long, value double")
    out = {r.bucket_epoch: r for r in
           adstock_transform(df, decay=0.5, max_lag=4).collect()}
    day = 86400
    assert out[0].adstock == 100.0 and out[0].raw == 100.0
    assert out[day].adstock == 50.0 and out[day].raw == 0.0
    assert out[2 * day].adstock == 25.0
    # day 3: carry 12.5 + new 40
    assert out[3 * day].adstock == 52.5 and out[3 * day].raw == 40.0
    # truncation: day 5 = 100*0.5^5 excluded (max_lag 4) + 40*0.25
    assert out[5 * day].adstock == 10.0

    with pytest.raises(ValueError, match="decay"):
        adstock_transform(df, decay=1.0)


def test_price_index_textbook(spark):
    """Two items with hand-computed L/P/F; unmatched item excluded."""
    from moz_datapipeline_spark.operators.analytics import price_index

    base = spark.createDataFrame(
        [("a", 1.0, 10.0), ("b", 2.0, 5.0), ("gone", 9.0, 1.0)],
        "item string, price double, qty double",
    )
    cur = spark.createDataFrame(
        [("a", 2.0, 8.0), ("b", 3.0, 6.0), ("new", 1.0, 1.0)],
        "item string, price double, qty double",
    )
    r = price_index(base, cur, "item", "price", "qty").collect()[0]
    assert r.n_items == 2
    # L = (2*10 + 3*5)/(1*10 + 2*5) = 35/20 = 1.75
    assert abs(r.laspeyres - 1.75) < 1e-9
    # P = (2*8 + 3*6)/(1*8 + 2*6) = 34/20 = 1.7
    assert abs(r.paasche - 1.7) < 1e-9
    import math
    assert abs(r.fisher - math.sqrt(1.75 * 1.7)) < 1e-6

    with pytest.raises(ValueError, match="pre-aggregate"):
        price_index(
            base.union(spark.createDataFrame([("a", 1.5, 2.0)],
                       "item string, price double, qty double")),
            cur, "item", "price", "qty",
        )


def test_compaction_plan_invariants(spark):
    """Bins fill to >= target before a new bin opens (sorted order);
    oversized files isolate; every file appears exactly once."""
    from moz_datapipeline_spark.operators.relational import (
        compaction_plan,
    )

    files = [(f"f{i}", 40) for i in range(10)] + [("big", 500)]
    df = spark.createDataFrame(files, "path string, bytes long")
    out = compaction_plan(df, target_bytes=100).collect()
    assert len(out) == 11
    assert {r.path for r in out} == {f"f{i}" for i in range(10)} | {"big"}
    # big sorts first: occupies bins [0..4] worth of budget alone
    big = [r for r in out if r.path == "big"][0]
    assert big.bin == 0 and big.n_files_in_bin == 1
    # the 40-byte files pack ~2-3 per bin after the big offset
    per_bin = {}
    for r in out:
        if r.path != "big":
            per_bin.setdefault(r.bin, []).append(r)
    for b, rows in per_bin.items():
        assert sum(r.bytes for r in rows) <= 100 + 40  # one-file overshoot

    with pytest.raises(ValueError, match="NULL"):
        compaction_plan(
            spark.createDataFrame([("x", None)], "path string, bytes long")
        )


def test_frequent_itemsets_hand_computed(spark):
    from moz_datapipeline_spark.operators.relational import (
        frequent_itemsets,
    )

    rows = []
    # 3 baskets with {a,b,c}, 1 with {a,b}, 1 with {a,d}
    for b in (1, 2, 3):
        rows += [(b, "a"), (b, "b"), (b, "c")]
    rows += [(4, "a"), (4, "b"), (5, "a"), (5, "d"), (5, "d")]  # dup row
    df = spark.createDataFrame(rows, "basket long, item string")
    out = {(r.itemset, r.size): r.support for r in
           frequent_itemsets(df, "basket", "item", min_support=3).collect()}
    assert out[("a", 1)] == 5 and out[("b", 1)] == 4
    assert out[("c", 1)] == 3
    assert ("d", 1) not in out  # support 1 after dedup
    assert out[("a|b", 2)] == 4 and out[("a|c", 2)] == 3
    assert out[("b|c", 2)] == 3
    assert out[("a|b|c", 3)] == 3
    assert all(s != 3 or k == "a|b|c" for (k, s) in out)

    with pytest.raises(ValueError, match="must not contain"):
        frequent_itemsets(
            spark.createDataFrame([(1, "x|y")], "basket long, item string"),
            "basket", "item",
        )


def test_seasonal_mad_flags_only_phase_outlier(spark):
    """Value 100 at hour-3 phase is normal if every hour-3 is ~100;
    the same 100 at an hour-4 phase (baseline ~10) must flag."""
    from moz_datapipeline_spark.operators.temporal import (
        seasonal_mad_anomalies,
    )

    ns = 3_600_000_000_000
    rows = []
    for day in range(10):
        for hour in range(6):
            base = 100.0 if hour == 3 else 10.0
            rows.append(("s", (day * 24 + hour) * ns,
                         base + (day % 3)))
    # plant: one hour-4 bucket spikes to 100
    rows.append(("s", (10 * 24 + 4) * ns, 100.0))
    df = spark.createDataFrame(rows, "event_type string, ts long, value double")
    out = seasonal_mad_anomalies(df, period=24, threshold=3.5).collect()
    flagged = [(r.phase, r.metric) for r in out if r.is_anomaly]
    assert flagged == [(4, 100.0)]
    # hour-3 baseline of 100s never flags
    assert all(not r.is_anomaly for r in out if r.phase == 3)


def test_calendar_features_known_dates(spark):
    """1970-01-01 was a Thursday (dow=3); 2026-08-16 is a Sunday."""
    from moz_datapipeline_spark.operators.features import (
        calendar_features,
    )

    day_ns = 86_400_000_000_000
    # 2026-08-16 = 20681 days after epoch
    rows = [(0,), (3 * day_ns,), (20681 * day_ns + 5 * 3_600_000_000_000,)]
    df = spark.createDataFrame(rows, "ts long")
    out = {r.epoch_day: r for r in calendar_features(df).collect()}
    assert out[0].day_of_week == 3 and out[0].is_weekend is False
    assert out[3].day_of_week == 6 and out[3].is_weekend is True  # Sunday
    r = out[20681]
    assert r.day_of_week == 6 and r.hour_of_day == 5
    import math
    assert abs(r.hour_sin - round(math.sin(5 * 2 * math.pi / 24), 6)) < 1e-9


def test_frequent_itemsets_dense_cap_raises(spark):
    """A dense pair level (every pair frequent) must refuse the
    triple join loudly instead of running it."""
    from moz_datapipeline_spark.operators.relational import (
        frequent_itemsets,
    )

    # 40 baskets x 30 items each, 30-item catalog: all pairs frequent
    rows = [(b, str(i)) for b in range(40) for i in range(30)]
    df = spark.createDataFrame(rows, "basket long, item string")
    with pytest.raises(ValueError, match="triple candidates exceed"):
        frequent_itemsets(df, "basket", "item", min_support=10,
                          max_triple_candidates=100)


def test_frequent_itemsets_no_cache_leak(spark):
    """Regression for the round-11 leak: the triple level persisted
    `pairs` and the returned lazy frame pinned that CACHE forever.
    The fixed contract: after the operator runs, every RDD still in
    the storage registry is a localCheckpoint block (the severed
    result, reclaimed on GC — the connected_components convention);
    a plain .persist() left behind is NOT locally checkpointed, so
    this check catches the r11 bug deterministically, without racing
    the ContextCleaner."""
    import pytest

    from moz_datapipeline_spark.operators.relational import (
        frequent_itemsets,
    )

    def _non_checkpoint_blocks() -> int:
        jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
        it = jmap.values().iterator()
        bad = 0
        while it.hasNext():
            if not it.next().isLocallyCheckpointed():
                bad += 1
        return bad

    # earlier tests' results may legitimately hold severed blocks —
    # force-release everything so the deltas below are OURS
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)

    rows = [(b, i) for b in range(50)
            for i in ["a", "b", "c", "d"][: (b % 4) + 1]]
    df = spark.createDataFrame(rows, "basket long, item string")
    out = frequent_itemsets(df, "basket", "item", min_support=5,
                            max_size=3)
    assert out.count() == 14
    assert _non_checkpoint_blocks() == 0, (
        "frequent_itemsets left a non-checkpoint cache registered "
        "(the r11 persist leak)"
    )
    # the error path unpersists its cache synchronously
    dense = spark.createDataFrame(
        [(b, str(i)) for b in range(40) for i in range(30)],
        "basket long, item string",
    )
    with pytest.raises(ValueError, match="triple candidates exceed"):
        frequent_itemsets(dense, "basket", "item", min_support=10,
                          max_triple_candidates=100)
    assert _non_checkpoint_blocks() == 0, (
        "the over-cap error path left the pair cache registered"
    )
    # leave the shared session clean for later hygiene-sensitive tests
    del out
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def test_rolling_active_users_hand_computed(spark):
    from moz_datapipeline_spark.operators.analytics import (
        rolling_active_users,
    )

    ns = 86_400_000_000_000
    rows = [
        (1, 0), (1, 0),  # user 1 twice on day 0 -> counts once
        (2, 1 * ns),
        (1, 9 * ns),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts long")
    out = {r.day: r.active_users for r in
           rolling_active_users(df, window_days=3).collect()}
    # day 0: {1}; day 1: {1,2}; day 2: {1,2}; day 3: {2}; day 9-11: {1}
    assert out[0] == 1 and out[1] == 2 and out[2] == 2
    assert out[3] == 1
    assert 4 not in out and out[9] == 1 and out[11] == 1

    with pytest.raises(ValueError, match="window_days"):
        rolling_active_users(df, window_days=0)


def test_mix_rate_identity_and_effects(spark):
    """Σmix + Σrate must equal the blended delta exactly, including
    segments present on only one side."""
    from moz_datapipeline_spark.operators.analytics import (
        mix_rate_decomposition,
    )

    base = spark.createDataFrame(
        [("A", 60.0, 10.0), ("B", 40.0, 20.0), ("gone", 0.0, 5.0)],
        "seg string, w double, r double",
    )
    cur = spark.createDataFrame(
        [("A", 30.0, 12.0), ("B", 60.0, 20.0), ("new", 10.0, 50.0)],
        "seg string, w double, r double",
    )
    out = mix_rate_decomposition(base, cur, "seg", "w", "r").collect()
    blended_base = 0.6 * 10 + 0.4 * 20 + 0.0 * 5
    blended_cur = 0.3 * 12 + 0.6 * 20 + 0.1 * 50
    total = sum(r.mix_effect + r.rate_effect for r in out)
    assert abs(total - (blended_cur - blended_base)) < 1e-6
    by_seg = {r.segment: r for r in out}
    # B's rate unchanged: pure mix effect (0.6-0.4)*20 = 4
    assert abs(by_seg["B"].mix_effect - 4.0) < 1e-6
    assert abs(by_seg["B"].rate_effect) < 1e-9
    # new segment contributes w1*r1 = 5 in total
    assert abs(by_seg["new"].mix_effect + by_seg["new"].rate_effect
               - 5.0) < 1e-6

    with pytest.raises(ValueError, match="pre-aggregate"):
        mix_rate_decomposition(
            base.union(spark.createDataFrame([("A", 1.0, 1.0)],
                       "seg string, w double, r double")),
            cur, "seg", "w", "r",
        )


def test_cdc_apply_hand_computed(spark):
    from moz_datapipeline_spark.operators.scd import cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, name string, bal double",
    )
    oplog = spark.createDataFrame(
        [
            (1, "a", 11.0, "U", 1),
            (1, "a", 12.0, "U", 5),   # later seq wins
            (2, "b", 20.0, "D", 1),   # delete
            (2, "b", 21.0, "U", 0),   # older than the delete -> dead
            (9, "new", 1.0, "I", 1),  # insert
        ],
        "k long, name string, bal double, op string, seq int",
    )
    out = {r.k: r for r in cdc_apply(snap, oplog, ["k"], "seq").collect()}
    assert set(out) == {1, 3, 9}
    assert out[1].bal == 12.0          # seq 5 beat seq 1
    assert out[3].bal == 30.0          # untouched passthrough
    assert out[9].name == "new"

    with pytest.raises(ValueError, match="I/U/D"):
        cdc_apply(snap, oplog.withColumn("op", F.lit("X")), ["k"], "seq")
    with pytest.raises(ValueError, match="no .*winner|duplicate"):
        cdc_apply(snap, oplog.union(oplog.limit(1)), ["k"], "seq")


def test_k_anonymity_report_flags(spark):
    from moz_datapipeline_spark.operators.validation import (
        k_anonymity_report,
    )

    rows = [("x", 1, "s1")] * 5 + [("x", 2, "s1")] * 2 + [
        ("y", 1, "s2")
    ] * 7
    df = spark.createDataFrame(rows, "qi1 string, qi2 int, s string")
    r = k_anonymity_report(df, ["qi1", "qi2"], k=5,
                           sensitive_col="s").collect()[0]
    assert r.n_groups == 3 and r.min_group_size == 2
    assert r.n_violating_groups == 1 and r.n_rows_at_risk == 2
    assert r.k_anonymous is False
    # every group's sensitive value is constant -> l = 1
    assert r.min_l_diversity == 1 and r.l_diverse is False

    safe = spark.createDataFrame(
        [("x", i % 2, f"s{i % 3}") for i in range(20)],
        "qi1 string, qi2 int, s string",
    )
    r = k_anonymity_report(safe, ["qi1", "qi2"], k=5,
                           sensitive_col="s").collect()[0]
    assert r.k_anonymous is True and r.l_diverse is True


def test_paired_ttest_beats_unpaired_on_noisy_rows(spark):
    """Per-row baselines vary hugely; the treatment adds +1 to each.
    The paired test must detect it decisively."""
    from moz_datapipeline_spark.operators.analytics import paired_ttest

    rows = [(float(1000 * i), float(1000 * i + 1 + (0.1 if i % 2 else -0.1)))
            for i in range(100)]
    df = spark.createDataFrame(rows, "before double, after double")
    r = paired_ttest(df, "after", "before").collect()[0]
    assert abs(r.mean_diff - 1.0) < 1e-6
    assert r.significant is True and r.p_value < 1e-6

    const = spark.createDataFrame([(1.0, 1.0)] * 5, "a double, b double")
    r = paired_ttest(const, "a", "b").collect()[0]
    assert r.t_stat is None and r.p_value is None


def test_cochran_armitage_trend_vs_flat(spark):
    from moz_datapipeline_spark.operators.analytics import (
        cochran_armitage,
    )

    rows = []
    # monotone: success rate 10%/30%/50% at scores 0/1/2
    for s, rate in ((0, 10), (1, 30), (2, 50)):
        rows += [(s, 1)] * rate + [(s, 0)] * (100 - rate)
    df = spark.createDataFrame(rows, "s int, o int")
    r = cochran_armitage(df, "s", "o").collect()[0]
    assert r.z > 5 and r.significant is True

    flat = []
    for s in (0, 1, 2):
        flat += [(s, 1)] * 30 + [(s, 0)] * 70
    r = cochran_armitage(
        spark.createDataFrame(flat, "s int, o int"), "s", "o"
    ).collect()[0]
    assert abs(r.z) < 1e-9 and r.significant is False

    one_level = spark.createDataFrame([(1, 1), (1, 0)], "s int, o int")
    r = cochran_armitage(one_level, "s", "o").collect()[0]
    assert r.z is None


def test_odds_ratio_hand_computed(spark):
    from moz_datapipeline_spark.operators.analytics import odds_ratio

    # a=30 b=70 c=10 d=90 -> OR = 30*90/(70*10) = 3.857
    rows = [(1, 1)] * 30 + [(1, 0)] * 70 + [(0, 1)] * 10 + [(0, 0)] * 90
    df = spark.createDataFrame(rows, "e int, o int")
    r = odds_ratio(df, "e", "o").collect()[0]
    assert abs(r.odds_ratio - 30 * 90 / (70 * 10)) < 1e-6
    assert r.significant is True and r.ci_low > 1

    # zero cell -> Haldane correction engages, no infinity
    rows = [(1, 1)] * 10 + [(1, 0)] * 10 + [(0, 0)] * 20
    r = odds_ratio(
        spark.createDataFrame(rows, "e int, o int"), "e", "o"
    ).collect()[0]
    assert r.odds_ratio is not None and r.ci_high is not None


def test_quantile_ci_covers_known_median(spark):
    from moz_datapipeline_spark.operators.analytics import quantile_ci

    vals = [float(i) for i in range(1, 102)]  # median = 51
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    r = quantile_ci(df, "v", prob=0.5, confidence=0.95).collect()[0]
    assert r.n == 101 and r.estimate == 51.0
    assert r.ci_low <= 51.0 <= r.ci_high
    assert r.ci_low > 38 and r.ci_high < 64  # ~±10 ranks at n=101

    empty = spark.createDataFrame([], "v double")
    r = quantile_ci(empty, "v").collect()[0]
    assert r.n == 0 and r.estimate is None

    with pytest.raises(ValueError, match="prob"):
        quantile_ci(df, "v", prob=1.5)
    # no leaked cache: only localCheckpoint blocks (severed results of
    # earlier tests awaiting GC) may remain — a plain persist() is a
    # leak (the r11 frequent_itemsets bug tripped this)
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    it = jmap.values().iterator()
    while it.hasNext():
        assert it.next().isLocallyCheckpointed()


def test_capture_recapture_chapman(spark):
    """n_a=60, n_b=40, m=20 -> Chapman = 61*41/21 - 1 = 118.1."""
    from moz_datapipeline_spark.operators.analytics import (
        capture_recapture,
    )

    a = spark.createDataFrame([(i,) for i in range(60)], "id long")
    b = spark.createDataFrame([(i,) for i in range(40, 80)], "id long")
    r = capture_recapture(a, b, "id").collect()[0]
    assert r.n_a == 60 and r.n_b == 40 and r.n_overlap == 20
    assert abs(r.estimate - (61 * 41 / 21 - 1)) < 1e-6
    assert r.ci_low <= r.estimate <= r.ci_high
    assert r.ci_low >= 60  # floored at max capture

    # zero overlap stays finite (Chapman's whole point)
    c = spark.createDataFrame([(i,) for i in range(100, 120)], "id long")
    r = capture_recapture(a, c, "id").collect()[0]
    assert r.n_overlap == 0 and r.estimate == 61 * 21 - 1


def test_mrr_bridge_account_exact_identity(spark):
    from moz_datapipeline_spark.operators.analytics import mrr_bridge

    base = spark.createDataFrame(
        [("a", 100.0), ("b", 50.0), ("c", 30.0), ("zero", 0.0)],
        "id string, amt double",
    )
    cur = spark.createDataFrame(
        [("a", 80.0), ("b", 70.0), ("d", 40.0)],
        "id string, amt double",
    )
    out = {r.movement: r for r in
           mrr_bridge(base, cur, "id", "amt").collect()}
    # a: 80 retained + 20 contraction; b: 50 retained + 20 expansion;
    # c: 30 churned; d: 40 new; zero-amount base row is absent
    assert out["retained"].amount == 130.0
    assert out["contraction"].amount == 20.0
    assert out["expansion"].amount == 20.0
    assert out["churned"].amount == 30.0 and out["churned"].n_accounts == 1
    assert out["new"].amount == 40.0
    base_total, cur_total = 180.0, 190.0
    assert (base_total + out["new"].amount + out["expansion"].amount
            - out["contraction"].amount - out["churned"].amount
            ) == cur_total

    with pytest.raises(ValueError, match="pre-aggregate"):
        mrr_bridge(base.union(base.limit(1)), cur, "id", "amt")
