"""Property-based tests (hypothesis) for order-sensitive operators."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# Example count is a fuzz-depth knob, not a coverage knob: every
# property still runs on every operator it pins.  4 keeps the suite
# inside the driver's verify window (each example is a full Spark
# round-trip; 44 properties × examples adds up); raise via env for
# deep local fuzzing.
SETTINGS = dict(
    max_examples=int(
        __import__("os").environ.get("SPARK_GRAFT_HYPOTHESIS_EXAMPLES", "4")
    ),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False), min_size=1,
        max_size=200,
    ),
    pct=st.floats(min_value=0.0, max_value=100.0),
)
def test_percentile_matches_reference_semantics(spark, vals, pct):
    """threshold = sorted[round(p/100·(n−1))], keep >= threshold."""
    from moz_datapipeline_spark.operators.indicators import percentile_filter

    df = spark.createDataFrame([(i, float(v)) for i, v in enumerate(vals)],
                               "id int, v double")
    kept = sorted(percentile_filter(df, "v", pct).toPandas()["v"])
    s = sorted(vals)
    rank = int(round(pct / 100.0 * (len(vals) - 1) + 1e-9))
    expected = sorted(v for v in vals if v >= s[rank])
    assert kept == pytest.approx(expected)


@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.floats(min_value=0, max_value=1e6, allow_nan=False),
        min_size=2, max_size=50,
    )
)
def test_kth_value_matches_numpy(spark, vals):
    from moz_datapipeline_spark.operators.indicators import exact_kth_value

    df = spark.createDataFrame([(float(v),) for v in vals], "v double")
    k = len(vals) // 2
    # force the DISTRIBUTED branch (local_threshold=0) — the local branch
    # is plain np.partition and is covered by the percentile property test
    assert (
        exact_kth_value(df, "v", k, len(vals), local_threshold=0)
        == sorted(vals)[k]
    )


@pytest.mark.deep
@settings(**SETTINGS)
@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_match_networkless_union_find(spark, pairs):
    from moz_datapipeline_spark.operators.components import connected_components

    df = spark.createDataFrame(pairs, "id_a int, id_b int")
    got = {
        r["id"]: r["component"]
        for r in connected_components(df).collect()
    }

    # reference union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {x: find(x) for x in parent}
    assert got == expected


def test_connected_components_long_chain_converges_in_log_rounds(spark):
    """A 200-node path has diameter 199; pointer doubling must close it
    well inside 12 rounds (2^12 ≫ 200) — plain propagation would need
    ~200 and previously split the chain silently at the round cap."""
    from moz_datapipeline_spark.operators.components import connected_components

    chain = [(i, i + 1) for i in range(200)]
    df = spark.createDataFrame(chain, "id_a int, id_b int")
    got = connected_components(df, max_iterations=12).toPandas()
    assert (got["component"] == 0).all()
    assert len(got) == 201


def test_connected_components_raises_on_round_exhaustion(spark):
    from moz_datapipeline_spark.operators.components import connected_components

    chain = [(i, i + 1) for i in range(60)]
    df = spark.createDataFrame(chain, "id_a int, id_b int")
    with pytest.raises(RuntimeError, match="no fixed point"):
        connected_components(df, max_iterations=2)


@settings(**SETTINGS)
@given(
    damages=st.lists(
        st.floats(min_value=0, max_value=1e9, allow_nan=False),
        min_size=10, max_size=10,
    )
)
def test_trapezoid_matches_numpy(spark, damages):
    from moz_datapipeline_spark.functions.arrays import RETURN_PERIODS, trapezoid_ead
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(damages,)], "damages array<double>")
    got = df.select(trapezoid_ead("damages").alias("e")).first()["e"]
    p = np.array(RETURN_PERIODS, dtype=float)
    exceed = 1.0 / p
    d = np.array(damages)
    expected = float(
        sum(
            (exceed[i] - exceed[i + 1]) * 0.5 * (d[i] + d[i + 1])
            for i in range(9)
        )
    )
    assert got == pytest.approx(expected, rel=1e-9, abs=1e-9)


# ---------------------------------------------------------------------------
# pure media codecs (no Spark fixture — plain function properties)
# ---------------------------------------------------------------------------

@settings(max_examples=12, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    oh=st.integers(min_value=1, max_value=12),
    ow=st.integers(min_value=1, max_value=12),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_resize_bounds_and_identity(h, w, oh, ow, seed):
    """Bilinear output stays inside the input's value range (convex
    combination + half-up rounding can't escape [min, max]); identity
    size is exact; constant images stay constant."""
    from moz_datapipeline_spark.sources.media import resize_bilinear

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w, 3)).astype("u1")
    out = resize_bilinear(img, ow, oh)
    assert out.shape == (oh, ow, 3)
    assert out.min() >= img.min() and out.max() <= img.max()
    assert (resize_bilinear(img, w, h) == img).all()
    const = np.full((h, w, 3), 123, dtype="u1")
    assert (resize_bilinear(const, ow, oh) == 123).all()


@settings(max_examples=10, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=6),
    fps=st.floats(min_value=0.5, max_value=60.0),
    sizes=st.lists(st.integers(min_value=1, max_value=64), min_size=1,
                   max_size=6),
    data=st.data(),
)
def test_avi_round_trip_arbitrary_payloads(n_frames, fps, sizes, data):
    """Container round trip preserves every frame byte-for-byte for
    arbitrary (even odd-length) payloads, frame counts, and rates."""
    from moz_datapipeline_spark.sources.avi import decode_avi, encode_avi_mjpeg

    frames = [
        bytes(
            data.draw(
                st.lists(
                    st.integers(min_value=0, max_value=255),
                    min_size=sizes[i % len(sizes)],
                    max_size=sizes[i % len(sizes)],
                )
            )
        )
        for i in range(n_frames)
    ]
    avi = encode_avi_mjpeg(frames, 8, 8, fps=fps)
    got, meta = decode_avi(avi)
    assert got == frames
    assert meta["n_frames"] == n_frames
    assert meta["usec_per_frame"] == int(round(1_000_000 / fps))


@settings(max_examples=10, deadline=None)
@given(
    quality=st.integers(min_value=30, max_value=95),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    gray=st.booleans(),
)
def test_jpeg_round_trip_error_bounded_on_smooth_images(quality, seed, gray):
    """Encode→decode of a smooth gradient stays within a loose error
    bound (lossy, but must not fall apart at any quality/parity)."""
    from moz_datapipeline_spark.sources.jpeg import (
        decode_jpeg,
        encode_jpeg_baseline,
    )

    rng = np.random.default_rng(seed)
    h, w = int(rng.integers(8, 33)), int(rng.integers(8, 33))
    y, x = np.mgrid[0:h, 0:w]
    base = (x * 3 + y * 5 + int(rng.integers(0, 64))) % 200 + 20
    img = (
        base.astype("u1")[..., None]
        if gray
        else np.stack([base, 255 - base, base // 2], axis=-1).astype("u1")
    )
    out = decode_jpeg(encode_jpeg_baseline(img, quality=quality))
    assert out.shape[:2] == (h, w)
    err = np.abs(out.astype(int).reshape(h, w, -1)
                 - img.astype(int).reshape(h, w, -1)).mean()
    assert err < 40  # smooth content stays recognizable even at q=30


@settings(**SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)).filter(
            lambda t: t[0] != t[1]
        ),
        min_size=1,
        max_size=60,
    ),
    iters=st.integers(1, 4),
)
def test_pagerank_mass_conserved_and_matches_numpy(spark, edges, iters):
    """Rank mass sums to 1 for ANY graph (dangling included) and every
    node matches the dense power iteration."""
    from moz_datapipeline_spark.graph.pagerank import pagerank

    e = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(e, iters=iters).collect()}
    assert sum(got.values()) == pytest.approx(1.0, rel=1e-9)

    dedup = sorted({tuple(p) for p in edges})
    nodes = sorted({a for a, _ in dedup} | {b for _, b in dedup})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    out: dict[int, int] = {}
    for a, _ in dedup:
        out[a] = out.get(a, 0) + 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.full(n, 0.15 / n)
        dangle = sum(r[idx[v]] for v in nodes if v not in out)
        for a, b in dedup:
            nxt[idx[b]] += 0.85 * r[idx[a]] / out[a]
        nxt += 0.85 * dangle / n
        r = nxt
    for v in nodes:
        assert got[v] == pytest.approx(r[idx[v]], rel=1e-9)


@settings(**SETTINGS)
@given(
    xs=st.lists(st.integers(0, (1 << 21) - 1), min_size=1, max_size=40),
    ys=st.lists(st.integers(0, (1 << 21) - 1), min_size=1, max_size=40),
)
def test_zorder_interleave_bit_exact(spark, xs, ys):
    from moz_datapipeline_spark.sources.layout import zorder_value

    pairs = list(zip(xs, ys))
    df = spark.createDataFrame(pairs, "x long, y long")
    got = df.select("x", "y", zorder_value("x", "y").alias("z")).collect()
    for row in got:
        z = 0
        for k in range(21):
            z |= ((row["x"] >> k) & 1) << (2 * k)
            z |= ((row["y"] >> k) & 1) << (2 * k + 1)
        assert row["z"] == z


def test_zorder_quotes_awkward_column_names(spark):
    from moz_datapipeline_spark.sources.layout import zorder_value

    df = spark.createDataFrame([(3, 5)], ["grid x", "grid-y"])
    row = df.select(
        zorder_value("grid x", "grid-y", bits=4).alias("z")
    ).collect()[0]
    want = 0
    for k in range(4):
        want |= ((3 >> k) & 1) << (2 * k)
        want |= ((5 >> k) & 1) << (2 * k + 1)
    assert row["z"] == want


@pytest.mark.deep
@settings(**SETTINGS)
@given(
    words=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
        min_size=0,
        max_size=12,
    ),
)
def test_lm_cross_entropy_matches_dense_reference(spark, words):
    """Score an arbitrary token sequence against a fixed tiny LM and
    cross-check the smoothed bigram math in plain Python."""
    import math

    from moz_datapipeline_spark.operators.lm import lm_score, train_bigram_lm

    ref_text = "aa bb aa cc bb aa"
    ref = spark.createDataFrame([(ref_text,)], "text string")
    bi, ctx, vocab = train_bigram_lm(ref)
    doc = " ".join(words)
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    row = lm_score(df, bi, ctx, vocab, add_k=0.25).collect()[0]

    rt = ref_text.split()
    cb: dict[tuple[str, str], int] = {}
    for a, b in zip(rt, rt[1:]):
        cb[(a, b)] = cb.get((a, b), 0) + 1
    cctx: dict[str, int] = {}
    for (a, _), c in cb.items():
        cctx[a] = cctx.get(a, 0) + c
    v = len(set(rt))
    toks = [w for w in words if w]
    if len(toks) < 2:
        assert row["n_bigrams"] == 0
        assert row["cross_entropy"] is None
        return
    lps = [
        math.log(
            (cb.get((a, b), 0) + 0.25) / (cctx.get(a, 0) + 0.25 * v)
        )
        for a, b in zip(toks, toks[1:])
    ]
    h = -sum(lps) / len(lps)
    assert row["n_bigrams"] == len(toks) - 1
    assert row["cross_entropy"] == pytest.approx(round(h, 6), abs=2e-6)


@settings(**SETTINGS)
@given(
    urls=st.lists(
        st.from_regex(
            r"(https?|HTTPS?)://(www\.)?[A-Za-z0-9.]{1,12}(:\d{1,4})?"
            r"(/[A-Za-z0-9./]{0,12})?(\?[a-z]=\d(&[a-z]=\d){0,3})?(#[a-z]{0,4})?",
            fullmatch=True,
        ),
        min_size=1,
        max_size=12,
    )
)
def test_canonicalize_url_is_idempotent(spark, urls):
    """canon(canon(u)) == canon(u): the canonical form is a fixpoint
    for every URL the grammar can produce."""
    from moz_datapipeline_spark.operators.urls import canonicalize_url

    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], "i long, url string"
    )
    once = df.select("i", canonicalize_url("url").alias("c1"))
    twice = once.select(
        "i", "c1", canonicalize_url("c1").alias("c2")
    ).collect()
    for r in twice:
        assert r.c2 == r.c1, (r.c1, r.c2)


@settings(**SETTINGS)
@given(
    words=st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=("Ll", "Lu", "Nd")
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=15,
    ),
    n_merges=st.integers(min_value=1, max_value=5),
)
def test_bpe_segment_is_lossless(spark, words, n_merges):
    """Concatenating a document's BPE tokens reproduces its characters
    for ANY corpus and any number of learned merges."""
    from moz_datapipeline_spark.operators.bpe import bpe_segment, bpe_train

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    merges = bpe_train(df, n_merges)
    toks = bpe_segment(df, merges).first().bpe_tokens
    assert "".join(toks) == text.replace(" ", "")


@settings(**SETTINGS)
@given(
    n=st.integers(min_value=1, max_value=200),
    fracs=st.lists(
        st.floats(min_value=0.05, max_value=1.0), min_size=1, max_size=4
    ),
)
def test_split_corpus_is_a_partition(spark, n, fracs):
    """Every row lands in exactly one split, for any fraction vector
    (normalized) and any corpus size."""
    from moz_datapipeline_spark.operators.corpus import split_corpus

    tot = sum(fracs)
    fr = {f"s{i}": f / tot for i, f in enumerate(fracs)}
    # force exact sum-to-1 on the last bucket to dodge float residue
    fr[f"s{len(fracs) - 1}"] = 1.0 - sum(
        v for k, v in fr.items() if k != f"s{len(fracs) - 1}"
    )
    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = split_corpus(df, fr).collect()
    assert len(out) == n
    assert all(r.split in fr for r in out)


@settings(**SETTINGS)
@given(
    ivs=st.lists(
        st.tuples(
            st.floats(min_value=0.0, max_value=500.0, allow_nan=False),
            st.floats(min_value=0.0, max_value=200.0, allow_nan=False),
            st.floats(min_value=0.01, max_value=1e4, allow_nan=False),
        ),
        min_size=1,
        max_size=30,
    ),
)
def test_prorate_conserves_every_amount(spark, ivs):
    """Σ allocated per interval == amount, for arbitrary intervals and
    the half-open grid."""
    from moz_datapipeline_spark.operators.ranges import prorate_intervals

    rows = [
        (i, s, s + span, a) for i, (s, span, a) in enumerate(ivs)
    ]
    df = spark.createDataFrame(
        rows, "id long, start double, end double, amount double"
    )
    out = (
        prorate_intervals(df, "start", "end", "amount", bucket_width=30.0)
        .groupBy("id")
        .agg({"allocated": "sum"})
        .collect()
    )
    got = {r["id"]: r["sum(allocated)"] for r in out}
    for i, (s, span, a) in enumerate(ivs):
        assert got[i] == pytest.approx(a, rel=1e-6, abs=1e-4), (i, s, span, a)


@settings(**SETTINGS)
@given(
    left=st.lists(
        st.tuples(
            st.floats(min_value=-100.0, max_value=100.0, allow_nan=False),
            st.floats(min_value=0.0, max_value=50.0, allow_nan=False),
        ),
        min_size=1,
        max_size=15,
    ),
    right=st.lists(
        st.tuples(
            st.floats(min_value=-100.0, max_value=100.0, allow_nan=False),
            st.floats(min_value=0.0, max_value=50.0, allow_nan=False),
        ),
        min_size=1,
        max_size=15,
    ),
)
def test_interval_overlap_join_equals_brute_force(spark, left, right):
    from moz_datapipeline_spark.operators.ranges import interval_overlap_join

    lf = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(left)],
        "id long, start double, end double",
    )
    rf = spark.createDataFrame(
        [(i, s, s + d) for i, (s, d) in enumerate(right)],
        "id long, start double, end double",
    )
    got = {
        (r.left_id, r.right_id)
        for r in interval_overlap_join(lf, rf, bucket_width=13.0).collect()
    }
    want = set()
    for i, (ls, ld) in enumerate(left):
        for j, (rs, rd) in enumerate(right):
            if ls <= rs + rd and rs <= ls + ld:
                want.add((i, j))
    assert got == want


@settings(**SETTINGS)
@given(
    seqs=st.lists(
        st.lists(st.sampled_from("abc"), min_size=1, max_size=12),
        min_size=1,
        max_size=8,
    ),
)
def test_state_durations_partition_property(spark, seqs):
    """Runs partition the events: Σ n_events == rows; adjacent runs of
    one entity never share a state boundary timestamp ordering."""
    from moz_datapipeline_spark.operators.temporal import state_durations

    rows = [
        (u, t, s) for u, seq in enumerate(seqs) for t, s in enumerate(seq)
    ]
    df = spark.createDataFrame(rows, "user_id int, ts long, event_type string")
    runs = state_durations(df, tiebreak_col="ts").collect()
    assert sum(r.n_events for r in runs) == len(rows)
    # reconstruct each entity's timeline from runs: contiguous,
    # alternating states at the boundaries
    from collections import defaultdict

    per = defaultdict(list)
    for r in runs:
        per[r.entity].append(r)
    for u, rs in per.items():
        rs.sort(key=lambda r: r.run_start)
        for x, y in zip(rs, rs[1:]):
            assert x.run_end < y.run_start
            assert x.state != y.state or x.run_end + 1 < y.run_start


@settings(**SETTINGS)
@given(
    pts=st.lists(
        st.tuples(
            st.floats(min_value=-170.0, max_value=170.0, allow_nan=False),
            st.floats(min_value=-80.0, max_value=80.0, allow_nan=False),
        ),
        min_size=2,
        max_size=20,
    ),
)
def test_trajectory_triangle_inequality(spark, pts):
    """net displacement never exceeds total path length (+FP dust)."""
    from moz_datapipeline_spark.operators.geometry import trajectory_stats

    rows = [(1, t, lon, lat) for t, (lon, lat) in enumerate(pts)]
    df = spark.createDataFrame(rows, "entity int, ts long, lon double, lat double")
    r = trajectory_stats(df, entity_col="entity").collect()[0]
    assert r.net_km <= r.total_km + 1e-6
    assert r.max_segment_km <= r.total_km + 1e-6


@pytest.mark.deep
@settings(**SETTINGS)
@given(
    a=st.lists(st.floats(min_value=-1e6, max_value=1e6,
                         allow_nan=False), min_size=1, max_size=60),
    b=st.lists(st.floats(min_value=-1e6, max_value=1e6,
                         allow_nan=False), min_size=1, max_size=60),
)
def test_wasserstein_metric_properties(spark, a, b):
    """W1 is symmetric, zero on identical samples, and matches the
    O(n log n) reference on sorted quantile functions when sizes are
    equal."""
    from moz_datapipeline_spark.operators.analytics import wasserstein_1d

    da = spark.createDataFrame([(float(v),) for v in a], "v double")
    db = spark.createDataFrame([(float(v),) for v in b], "v double")
    w_ab = wasserstein_1d(da, db, "v").collect()[0].wasserstein
    w_ba = wasserstein_1d(db, da, "v").collect()[0].wasserstein
    assert w_ab == pytest.approx(w_ba, rel=1e-9, abs=1e-9)
    w_aa = wasserstein_1d(da, da, "v").collect()[0].wasserstein
    assert w_aa == pytest.approx(0.0, abs=1e-9)
    if len(a) == len(b):
        ref = float(np.mean(np.abs(np.sort(a) - np.sort(b))))
        assert w_ab == pytest.approx(ref, rel=1e-6, abs=1e-5)


@pytest.mark.deep
@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=20),   # key
            st.integers(min_value=0, max_value=50),   # seq
            st.sampled_from(["I", "U", "D"]),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=0, max_size=60,
    )
)
def test_cdc_apply_replay_idempotent(spark, rows):
    """Applying the same oplog to its own output changes nothing
    (last-writer-wins is idempotent), and the result matches a
    driver-side replay."""
    from moz_datapipeline_spark.operators.scd import cdc_apply

    # dedupe (key, seq) pairs — ambiguous logs are rejected by design
    seen = {}
    for k, seq, op, v in rows:
        seen[(k, seq)] = (k, seq, op, v)
    log = list(seen.values())
    snap_rows = [(k, float(k)) for k in range(10)]
    snap = spark.createDataFrame(snap_rows, "k long, val double")
    if not log:
        return
    oplog = spark.createDataFrame(
        [(k, float(v), op, seq) for (k, seq, op, v) in log],
        "k long, val double, op string, seq long",
    )
    out1 = cdc_apply(snap, oplog, ["k"], "seq")
    got1 = {r.k: r.val for r in out1.collect()}
    out2 = cdc_apply(out1, oplog, ["k"], "seq")
    got2 = {r.k: r.val for r in out2.collect()}
    assert got1 == got2
    # driver replay
    state = dict(snap_rows)
    winners = {}
    for k, seq, op, v in log:
        if k not in winners or seq > winners[k][0]:
            winners[k] = (seq, op, v)
    for k, (_, op, v) in winners.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = float(v)
    assert got1 == state


@settings(**SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.floats(min_value=0, max_value=1, allow_nan=False),
            st.integers(min_value=0, max_value=1),
            st.integers(min_value=0, max_value=1),
        ),
        min_size=4, max_size=120,
    ),
    n_bins=st.integers(min_value=2, max_value=8),
)
def test_uplift_bins_partition_rows(spark, rows, n_bins):
    """Bins partition the population exactly: per-bin counts sum to
    the input and conversions are conserved."""
    from moz_datapipeline_spark.operators.mleval import uplift_bins

    df = spark.createDataFrame(rows, "s double, t int, o int")
    out = uplift_bins(df, "s", "t", "o", n_bins=n_bins).collect()
    assert sum(r.n_treat + r.n_ctrl for r in out) == len(rows)
    assert sum(r.conv_treat for r in out) == sum(
        o for (_, t, o) in rows if t == 1
    )
    assert sum(r.conv_ctrl for r in out) == sum(
        o for (_, t, o) in rows if t == 0
    )
    assert all(0 <= r.bin < n_bins for r in out)


@pytest.mark.deep
@settings(**SETTINGS)
@given(
    vals=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.floats(min_value=-1e3, max_value=1e3, allow_nan=False),
        ),
        min_size=6, max_size=100,
    )
)
def test_kruskal_invariant_to_label_permutation(spark, vals):
    """Relabeling the groups (a bijection) must not change H."""
    from moz_datapipeline_spark.operators.analytics import kruskal_wallis

    df = spark.createDataFrame(vals, "g string, v double")
    h1 = kruskal_wallis(df, "v", "g").collect()[0].h_stat
    swap = {"a": "z", "b": "x", "c": "y"}
    df2 = spark.createDataFrame(
        [(swap[g], v) for g, v in vals], "g string, v double"
    )
    h2 = kruskal_wallis(df2, "v", "g").collect()[0].h_stat
    if h1 is None:
        assert h2 is None
    else:
        assert h1 == pytest.approx(h2, rel=1e-9, abs=1e-9)


@pytest.mark.deep
@settings(**SETTINGS)
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=10_000),
                   min_size=1, max_size=80),
    target=st.integers(min_value=100, max_value=20_000),
)
def test_compaction_plan_covers_and_bounds(spark, sizes, target):
    """Every file lands in exactly one bin; no bin except via a
    single straddling file exceeds target + max_file."""
    from moz_datapipeline_spark.operators.relational import (
        compaction_plan,
    )

    files = [(f"f{i}", int(s)) for i, s in enumerate(sizes)]
    df = spark.createDataFrame(files, "path string, bytes long")
    out = compaction_plan(df, target_bytes=target).collect()
    assert sorted(r.path for r in out) == sorted(p for p, _ in files)
    mx = max(sizes)
    bins = {}
    for r in out:
        bins.setdefault(r.bin, 0)
        bins[r.bin] += r.bytes
    for b, tot in bins.items():
        assert tot <= target + mx
