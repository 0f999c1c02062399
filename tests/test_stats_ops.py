"""Round-8 statistics operators: grouped OLS and the two-sample KS
test (operators/analytics.grouped_ols, operators/validation.ks_test)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from moz_datapipeline_spark.operators.analytics import grouped_ols
from moz_datapipeline_spark.operators.validation import ks_test


def _ols_ref(pts):
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    syy = sum(p[1] * p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    cv = n * sxy - sx * sy
    slope = cv / dx if dx > 0 else None
    intercept = (sy - slope * sx) / n if dx > 0 else None
    r2 = (cv * cv) / (dx * dy) if dx > 0 and dy > 0 else None
    return slope, intercept, r2


def test_grouped_ols_matches_reference(spark):
    pts_a = [(float(i), 3.0 * i + 2.0 + ((i * 7) % 5 - 2.0)) for i in range(40)]
    pts_b = [(float(i), -0.5 * i + 10.0) for i in range(25)]
    rows = [("a", x, y) for x, y in pts_a] + [("b", x, y) for x, y in pts_b]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: r for r in grouped_ols(df, ["g"], "x", "y").collect()}

    for g, pts in (("a", pts_a), ("b", pts_b)):
        slope, intercept, r2 = _ols_ref(pts)
        assert got[g].n == len(pts)
        assert abs(got[g].slope - slope) < 1e-5
        assert abs(got[g].intercept - intercept) < 1e-5
        assert abs(got[g].r2 - r2) < 1e-5
    # a perfect line has r2 == 1
    assert abs(got["b"].r2 - 1.0) < 1e-9


def test_grouped_ols_degenerate_groups(spark):
    rows = (
        [("constx", 5.0, float(i)) for i in range(10)]
        + [("consty", float(i), 7.0) for i in range(10)]
        + [("nulls", None, 1.0), ("nulls", 1.0, None), ("nulls", 2.0, 3.0)]
    )
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: r for r in grouped_ols(df, ["g"], "x", "y").collect()}
    # constant x: no slope at all
    assert got["constx"].slope is None
    assert got["constx"].intercept is None
    assert got["constx"].r2 is None
    # constant y: flat fit, no explained variance
    assert got["consty"].slope == 0.0
    assert got["consty"].intercept == 7.0
    assert got["consty"].r2 is None
    # pairwise deletion leaves one point -> dx = 0 -> all NULL
    assert got["nulls"].n == 1
    assert got["nulls"].slope is None
    with pytest.raises(ValueError, match="group column"):
        grouped_ols(df, [], "x", "y")


def _ks_ref(xs, ys):
    xs, ys = sorted(xs), sorted(ys)
    vals = sorted(set(xs) | set(ys))
    na, nb = len(xs), len(ys)
    d = 0.0
    ia = ib = 0
    for v in vals:
        while ia < na and xs[ia] <= v:
            ia += 1
        while ib < nb and ys[ib] <= v:
            ib += 1
        d = max(d, abs(ia / na - ib / nb))
    return d


def test_ks_identical_samples_is_zero(spark):
    vals = [float(i % 13) for i in range(300)]
    a = spark.createDataFrame([(v,) for v in vals], "x double")
    r = ks_test(a, a, "x").collect()[0]
    assert r.ks_stat == 0.0
    assert r.p_value == 1.0
    assert r.n_a == r.n_b == 300


def test_ks_matches_python_reference(spark):
    xs = [float((i * 37) % 101) for i in range(400)]
    ys = [float((i * 53) % 101) * 0.6 + 30.0 for i in range(250)]
    a = spark.createDataFrame([(v,) for v in xs] + [(None,)], "x double")
    b = spark.createDataFrame([(v,) for v in ys], "x double")
    r = ks_test(a, b, "x").collect()[0]
    want = _ks_ref(xs, ys)
    assert abs(r.ks_stat - round(want, 6)) < 1e-9
    assert r.n_a == 400 and r.n_b == 250

    # p-value reproduces the Numerical-Recipes asymptotic series
    ne = math.sqrt(400 * 250 / 650.0)
    lam = (ne + 0.12 + 0.11 / ne) * want
    q = 2.0 * sum(
        (-1.0) ** (k - 1) * math.exp(-2.0 * k * k * lam * lam)
        for k in range(1, 101)
    )
    assert abs(r.p_value - round(min(max(q, 0.0), 1.0), 6)) < 1e-9


def test_ks_disjoint_supports_is_one(spark):
    a = spark.createDataFrame([(float(i),) for i in range(50)], "x double")
    b = spark.createDataFrame(
        [(float(i + 1000),) for i in range(50)], "x double"
    )
    r = ks_test(a, b, "x").collect()[0]
    assert r.ks_stat == 1.0
    assert r.p_value < 1e-6


def test_ks_empty_side_yields_null(spark):
    a = spark.createDataFrame([(1.0,), (2.0,)], "x double")
    b = spark.createDataFrame([], "x double")
    r = ks_test(a, b, "x").collect()[0]
    assert r.ks_stat is None and r.p_value is None
    assert r.n_a == 2 and r.n_b == 0


@pytest.mark.usefixtures("clean_storage")
def test_ks_leaves_registry_clean(spark):
    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    a = spark.createDataFrame([(float(i),) for i in range(100)], "x double")
    b = spark.createDataFrame([(float(i) + 0.5,) for i in range(80)], "x double")
    ks_test(a, b, "x").collect()
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == base


def test_importance_resample_matches_python_reference(spark):
    """DSIR selection replays bit-for-bit from the md5 hash family."""
    import hashlib

    from moz_datapipeline_spark.operators.corpus import importance_resample

    lang_a = [f"alpha{i}" for i in range(8)]
    lang_b = [f"beta{i}" for i in range(8)]
    target_rows = [
        (1000 + i, " ".join(lang_a[(i + j) % 8] for j in range(6)))
        for i in range(20)
    ]
    raw_rows = [
        (i, " ".join(lang_a[(i + j) % 8] for j in range(6)))
        for i in range(15)
    ] + [
        (100 + i, " ".join(lang_b[(i + j) % 8] for j in range(6)))
        for i in range(15)
    ] + [(500, "   ")]
    raw = spark.createDataFrame(raw_rows, "doc_id long, text string")
    tgt = spark.createDataFrame(target_rows, "doc_id long, text string")

    B, alpha, k = 64, 1.0, 10
    got = importance_resample(raw, tgt, k=k, n_buckets=B).collect()

    import math
    import re

    def toks(s):
        return [t for t in re.sub(r"\s+", " ", s.lower().strip()).split(" ") if t]

    def bucket(t):
        return int(hashlib.md5(t.encode()).hexdigest()[:15], 16) % B

    cr, ct = [0] * B, [0] * B
    for _, s in raw_rows:
        for t in toks(s):
            cr[bucket(t)] += 1
    for _, s in target_rows:
        for t in toks(s):
            ct[bucket(t)] += 1
    nr, nt = sum(cr), sum(ct)
    lr = [
        math.log((ct[b] + alpha) / (nt + alpha * B))
        - math.log((cr[b] + alpha) / (nr + alpha * B))
        for b in range(B)
    ]
    want = []
    for i, s in raw_rows:
        ts = toks(s)
        if not ts:
            continue
        lw = sum(lr[bucket(t)] for t in ts)
        h = int(
            hashlib.md5(f"dsir:{i}".encode()).hexdigest()[:15], 16
        )
        u = (h + 1) / float(1 << 60)
        score = lw - math.log(-math.log(u))
        want.append((i, len(ts), lw, score))
    want.sort(key=lambda r: (-r[3], r[0]))
    want = want[:k]

    assert [(r.doc_id, r.n_tokens) for r in got] == [
        (w[0], w[1]) for w in want
    ]
    for r, w in zip(got, want):
        assert abs(r.log_weight - w[2]) < 1e-6
        assert abs(r.score - w[3]) < 1e-6
    # the target-like half must dominate the selection
    assert sum(1 for r in got if r.doc_id < 100) >= 8


def test_importance_resample_validates_args(spark):
    from moz_datapipeline_spark.operators.corpus import importance_resample

    df = spark.createDataFrame([(1, "a")], "doc_id long, text string")
    with pytest.raises(ValueError, match="k must"):
        importance_resample(df, df, k=0)
    with pytest.raises(ValueError, match="n_buckets"):
        importance_resample(df, df, k=1, n_buckets=1)


def _mk_ref(series):
    """(t, v) list -> (s, var_s, z, sen) reference."""
    import itertools

    pts = sorted(series)
    n = len(pts)
    s = 0
    slopes = []
    for (ta, va), (tb, vb) in itertools.combinations(pts, 2):
        d = vb - va
        s += (d > 0) - (d < 0)
        if tb != ta:
            slopes.append(d / (tb - ta))
    from collections import Counter

    tie = sum(
        t * (t - 1) * (2 * t + 5)
        for t in Counter(v for _, v in pts).values()
    )
    var_s = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
    if var_s > 0:
        z = (s - 1) / math.sqrt(var_s) if s > 0 else (
            (s + 1) / math.sqrt(var_s) if s < 0 else 0.0
        )
    else:
        z = None
    slopes.sort()
    if slopes:
        # linear-interpolated median (Spark percentile / quantile_cont)
        m = (len(slopes) - 1) / 2
        lo, hi = slopes[int(m)], slopes[int(m + 0.5)]
        sen = (lo + hi) / 2
    else:
        sen = None
    return s, var_s, z, sen


def test_mann_kendall_matches_reference(spark):
    from moz_datapipeline_spark.operators.temporal import mann_kendall

    up = [(float(i), 2.0 * i + ((i * 3) % 7)) for i in range(30)]
    down = [(float(i), 100.0 - 3.0 * i + ((i * 5) % 4)) for i in range(25)]
    flat = [(float(i), float((i * 11) % 13)) for i in range(40)]
    rows = (
        [("up", t, v) for t, v in up]
        + [("down", t, v) for t, v in down]
        + [("flat", t, v) for t, v in flat]
    )
    df = spark.createDataFrame(rows, "g string, t double, v double")
    got = {r.g: r for r in mann_kendall(df, "g", "t", "v").collect()}

    for g, series in (("up", up), ("down", down), ("flat", flat)):
        s, var_s, z, sen = _mk_ref(series)
        assert got[g].n == len(series)
        assert got[g].s == s
        assert abs(got[g].var_s - var_s) < 1e-6
        assert abs(got[g].z - z) < 1e-6
        assert abs(got[g].sen_slope - sen) < 1e-6
    assert got["up"].trend == "increasing"
    assert got["down"].trend == "decreasing"
    assert got["flat"].trend == "no_trend"


def test_mann_kendall_degenerate_groups(spark):
    from moz_datapipeline_spark.operators.temporal import mann_kendall

    rows = (
        [("const", float(i), 5.0) for i in range(10)]
        + [("single", 0.0, 1.0)]
        + [("nulls", 0.0, None), ("nulls", 1.0, 2.0)]
    )
    df = spark.createDataFrame(rows, "g string, t double, v double")
    got = {r.g: r for r in mann_kendall(df, "g", "t", "v").collect()}
    # constant series: every sign is 0 and the tie correction zeroes var
    assert got["const"].s == 0 and got["const"].var_s == 0.0
    assert got["const"].z is None and got["const"].trend == "no_trend"
    assert got["const"].sen_slope == 0.0
    # one point: no pairs at all
    assert got["single"].s == 0 and got["single"].sen_slope is None
    assert got["nulls"].n == 1  # NULL value dropped


def _phi_tail_two_sided(z):
    """Two-sided normal p via the same A-S 7.1.26 polynomial."""
    az = abs(z) / math.sqrt(2.0)
    t = 1.0 / (1.0 + 0.3275911 * az)
    poly = (
        0.254829592 * t
        - 0.284496736 * t**2
        + 1.421413741 * t**3
        - 1.453152027 * t**4
        + 1.061405429 * t**5
    )
    return 1.0 - (1.0 - poly * math.exp(-az * az))


def test_ab_test_welch_z_matches_reference(spark):
    from moz_datapipeline_spark.operators.analytics import ab_test

    ctrl = [10.0 + (i % 7) for i in range(200)]
    trt = [11.5 + (i % 5) for i in range(150)]
    rows = [("c", v, None) for v in ctrl] + [("t", v, None) for v in trt]
    rows.append(("other", 99.0, None))  # unrelated arm must be ignored
    rows.append(("c", None, None))      # NULL metric dropped
    df = spark.createDataFrame(rows, "v string, y double, x double")
    r = ab_test(df, "v", "y", control="c", treatment="t").collect()[0]

    import statistics as st

    ma, mb = st.mean(ctrl), st.mean(trt)
    va, vb = st.variance(ctrl), st.variance(trt)
    se = math.sqrt(va / len(ctrl) + vb / len(trt))
    z = (mb - ma) / se
    assert r.n_control == 200 and r.n_treatment == 150
    assert abs(r.mean_control - ma) < 1e-6
    assert abs(r.diff - (mb - ma)) < 1e-6
    assert abs(r.z - z) < 1e-5
    assert abs(r.p_value - _phi_tail_two_sided(z)) < 1e-5


def test_ab_test_cuped_reduces_variance(spark):
    from moz_datapipeline_spark.operators.analytics import ab_test

    # metric strongly predicted by a pre-period covariate
    rows = []
    for i in range(400):
        x = float(i % 50)
        noise = float((i * 7) % 3) - 1.0
        rows.append(("c", 2.0 * x + noise, x))
    for i in range(400):
        x = float(i % 50)
        noise = float((i * 11) % 3) - 1.0
        rows.append(("t", 2.0 * x + 1.0 + noise, x))
    df = spark.createDataFrame(rows, "v string, y double, x double")
    plain = ab_test(df, "v", "y", "c", "t").collect()[0]
    cuped = ab_test(df, "v", "y", "c", "t", covariate_col="x").collect()[0]
    # CUPED must slash variance (metric is ~pure covariate) and
    # sharpen the same true effect (diff ~ 1.0)
    assert cuped.var_reduction > 0.95
    assert abs(cuped.diff - plain.diff) < 0.2
    assert abs(cuped.theta - 2.0) < 0.1
    assert abs(cuped.z) > abs(plain.z)


def test_ab_test_degenerate_arm(spark):
    from moz_datapipeline_spark.operators.analytics import ab_test

    df = spark.createDataFrame(
        [("c", 1.0), ("c", 1.0), ("t", 2.0)], "v string, y double"
    )
    r = ab_test(df, "v", "y", "c", "t").collect()[0]
    assert r.z is None and r.p_value is None  # n_t < 2


def _boot_ref(rows, key_fn, B=64, lo=0.025, hi=0.975, seed="boot"):
    """Python replay of the deterministic Poisson bootstrap."""
    import hashlib

    CDF = [
        0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
        0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
        0.9999167588507119, 0.9999897508033253, 0.9999988747974148,
    ]

    def w_of(u):
        for k, c in enumerate(CDF):
            if u < c:
                return k
        return 9

    means = []
    for b in range(B):
        swy = sw = 0.0
        for key, y in rows:
            hx = hashlib.md5(
                f"{seed}:{b // 2}:{key_fn(key)}".encode()
            ).hexdigest()
            sl = hx[0:15] if b % 2 == 0 else hx[16:31]
            h = int(sl, 16)
            u = (h + 1) / float(1 << 60)
            w = w_of(u)
            swy += w * y
            sw += w
        if sw > 0:
            means.append(swy / sw)
    means.sort()
    n = len(means)

    def q(p):
        pos = 1 + (n - 1) * p
        ilo, ihi = int(math.floor(pos)), int(math.ceil(pos))
        frac = pos - ilo
        return means[ilo - 1] + (means[ihi - 1] - means[ilo - 1]) * frac

    return q(lo), q(hi)


def test_bootstrap_ci_matches_python_replay(spark):
    from moz_datapipeline_spark.operators.analytics import bootstrap_ci

    rows = [(i, 10.0 + (i * 13) % 21) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, y double")
    r = bootstrap_ci(df, "y", "id", replicates=32).collect()[0]
    want_lo, want_hi = _boot_ref(rows, key_fn=str, B=32)
    assert r.n == 300
    assert abs(r.ci_lo - round(want_lo, 6)) < 1e-9
    assert abs(r.ci_hi - round(want_hi, 6)) < 1e-9
    true_mean = sum(y for _, y in rows) / 300
    assert r.ci_lo < true_mean < r.ci_hi
    # interval width shrinks like 1/sqrt(n): sanity bound
    assert (r.ci_hi - r.ci_lo) < 2.0


def test_bootstrap_ci_grouped_and_validation(spark):
    from moz_datapipeline_spark.operators.analytics import bootstrap_ci

    rows = [("a", i, 5.0) for i in range(50)] + [
        ("b", i, float(i % 10)) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "g string, id long, y double")
    got = {
        r.g: r
        for r in bootstrap_ci(
            df, "y", "id", group_cols=["g"], replicates=16
        ).collect()
    }
    # constant metric: every replicate mean is exactly 5
    assert got["a"].ci_lo == 5.0 and got["a"].ci_hi == 5.0
    assert got["b"].ci_lo <= got["b"].ci_hi
    with pytest.raises(ValueError, match="replicates"):
        bootstrap_ci(df, "y", "id", replicates=1)
    with pytest.raises(ValueError, match="lo"):
        bootstrap_ci(df, "y", "id", lo=0.9, hi=0.1)


def _kn_ref(ref_texts, doc_tokens, D=0.75, k=0.1):
    """Python replay of the interpolated Kneser-Ney scorer."""
    from collections import Counter, defaultdict

    tris = Counter()
    for s in ref_texts:
        t = [w for w in s.split(" ") if w]
        for i in range(len(t) - 2):
            tris[(t[i], t[i + 1], t[i + 2])] += 1
    ctx_c = Counter()
    ctx_t = Counter()
    cont23 = defaultdict(set)
    mid2 = Counter()
    t2 = defaultdict(set)
    for (w1, w2, w3), c in tris.items():
        ctx_c[(w1, w2)] += c
        ctx_t[(w1, w2)] += 1
        cont23[(w2, w3)].add(w1)
        mid2[w2] += 1
        t2[w2].add(w3)
    cont3 = Counter()
    for (w2, w3) in cont23:
        cont3[w3] += 1
    B = len(cont23)
    vocab = {w for s in ref_texts for w in s.split(" ") if w}
    V = len(vocab)

    def p(w1, w2, w3):
        pu = (cont3.get(w3, 0) + k) / (B + k * (V + 1))
        if w2 in mid2:
            m = mid2[w2]
            pb = max(len(cont23.get((w2, w3), ())) - D, 0) / m \
                + D * len(t2[w2]) / m * pu
        else:
            pb = pu
        if (w1, w2) in ctx_c:
            cc = ctx_c[(w1, w2)]
            return max(tris.get((w1, w2, w3), 0) - D, 0) / cc \
                + D * ctx_t[(w1, w2)] / cc * pb
        return pb

    import math as _m

    nll = [
        -_m.log(p(doc_tokens[i], doc_tokens[i + 1], doc_tokens[i + 2]))
        for i in range(len(doc_tokens) - 2)
    ]
    return sum(nll) / len(nll)


def test_kneser_ney_matches_python_reference(spark):
    from moz_datapipeline_spark.operators.lm import (
        lm_score_kneser_ney,
        train_kneser_ney,
    )

    ref_texts = [
        "the cat sat on the mat",
        "the dog sat on the rug",
        "a cat and a dog ran",
        "san francisco is a city",
        "the city of san francisco",
    ]
    ref = spark.createDataFrame(
        [(i, s) for i, s in enumerate(ref_texts)], "doc_id long, text string"
    )
    model = train_kneser_ney(ref)

    eval_rows = [
        (100, "the cat sat on the rug"),           # all in-vocab
        (101, "san francisco is the city"),
        (102, "zz unseen trigram context here"),   # OOV mix
        (103, "too short"),                        # < 3 tokens -> NULL
    ]
    docs = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in lm_score_kneser_ney(docs, model).collect()
    }
    for did, text in eval_rows[:3]:
        toks = text.split(" ")
        want = _kn_ref(ref_texts, toks)
        assert abs(got[did].cross_entropy - want) < 1e-6, did
        assert got[did].n_trigrams == len(toks) - 2
    assert got[103].n_trigrams == 0 and got[103].cross_entropy is None
    # "san francisco" is the KN showcase: "francisco" only ever follows
    # "san", so its continuation probability is low even though the
    # token is frequent — the in-domain doc must score better than OOV
    assert got[100].perplexity < got[102].perplexity


def test_kneser_ney_rejects_bad_discount(spark):
    from moz_datapipeline_spark.operators.lm import (
        lm_score_kneser_ney,
        train_kneser_ney,
    )

    ref = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    model = train_kneser_ney(ref)
    with pytest.raises(ValueError, match="discount"):
        lm_score_kneser_ney(ref, model, discount=1.5)


def test_cohen_kappa_known_values(spark):
    from moz_datapipeline_spark.operators.validation import cohen_kappa

    # classic textbook table: 20 yes/yes, 5 yes/no, 10 no/yes, 15 no/no
    rows = (
        [("y", "y")] * 20 + [("y", "n")] * 5
        + [("n", "y")] * 10 + [("n", "n")] * 15
    )
    rows += [(None, "y"), ("y", None)]  # NULLs excluded
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohen_kappa(df, "a", "b").collect()[0]
    n = 50.0
    po = 35 / n
    pe = (25 / n) * (30 / n) + (25 / n) * (20 / n)
    want = (po - pe) / (1 - pe)
    assert r.n == 50
    assert abs(r.observed_agreement - po) < 1e-9
    assert abs(r.expected_agreement - pe) < 1e-9
    assert abs(r.kappa - round(want, 6)) < 1e-9


def test_cohen_kappa_edge_cases(spark):
    from moz_datapipeline_spark.operators.validation import cohen_kappa

    # both raters constant and equal -> pe = 1 -> kappa undefined
    df = spark.createDataFrame([("x", "x")] * 10, "a string, b string")
    r = cohen_kappa(df, "a", "b").collect()[0]
    assert r.observed_agreement == 1.0 and r.kappa is None

    # perfect disagreement on balanced labels -> kappa = -1
    rows = [("y", "n")] * 10 + [("n", "y")] * 10
    df2 = spark.createDataFrame(rows, "a string, b string")
    r2 = cohen_kappa(df2, "a", "b").collect()[0]
    assert r2.kappa == -1.0


def test_profile_diff_flags(spark):
    from moz_datapipeline_spark.operators.validation import profile_diff

    before = spark.createDataFrame(
        [(float(i % 50), f"u{i}", float(i % 7)) for i in range(200)],
        "x double, s string, y double",
    )
    # after: x mean shifted hard, s cardinality collapsed, y now 20% NULL
    rows = []
    for i in range(200):
        rows.append(
            (
                float(i % 50) + 100.0,
                f"u{i % 5}",
                None if i % 5 == 0 else float(i % 7),
            )
        )
    after = spark.createDataFrame(rows, "x double, s string, y double")
    got = {
        r.column: r
        for r in profile_diff(before, after, ["x", "s", "y"]).collect()
    }
    assert "mean_shift" in got["x"].flags
    assert "cardinality" in got["s"].flags
    assert "completeness" in got["y"].flags
    assert got["x"].n_before == 200 and got["x"].n_after == 200
    # string column has no mean machinery
    assert got["s"].mean_before is None and got["s"].mean_z is None
    # stable column raises nothing
    same = profile_diff(before, before, ["x"]).collect()[0]
    assert same.flags == ""
    with pytest.raises(ValueError, match="columns"):
        profile_diff(before, after, [])


def test_margin_mine_pairs_matches_reference(spark):
    from moz_datapipeline_spark.operators.similarity import (
        margin_mine_pairs,
    )

    import itertools

    import hashlib as _hl

    def vec(seed, dim=8):
        # md5-mixed signed coordinates: genuinely independent
        # directions (arithmetic/multiplicative constructions make
        # every vector a shifted progression and cosines collapse)
        return [
            (int(_hl.md5(f"{seed}:{j}".encode()).hexdigest()[:8], 16)
             % 1000) / 500.0 - 1.0 + 0.001
            for j in range(dim)
        ]

    # planted translations: b-vector 1000+i is a near-copy of a-vector i
    a_rows = [(i, vec(i)) for i in range(12)]
    b_rows = [
        (1000 + i, [v + 0.01 * ((i + j) % 3) for j, v in enumerate(vec(i))])
        for i in range(12)
    ] + [(2000 + i, vec(100 + i)) for i in range(8)]  # distractors
    a = spark.createDataFrame(a_rows, "vec_id long, embedding array<double>")
    b = spark.createDataFrame(b_rows, "vec_id long, embedding array<double>")

    k = 3
    got = {
        r.id_a: r for r in margin_mine_pairs(a, b, k=k, threshold=1.0).collect()
    }

    import math

    def cos(x, y):
        d = sum(p * q for p, q in zip(x, y))
        nx = math.sqrt(sum(p * p for p in x))
        ny = math.sqrt(sum(q * q for q in y))
        return d / (nx * ny)

    av = dict(a_rows)
    bv = dict(b_rows)
    da = {
        i: sum(sorted((cos(av[i], y) for y in bv.values()), reverse=True)[:k]) / k
        for i in av
    }
    db = {
        j: sum(sorted((cos(bv[j], x) for x in av.values()), reverse=True)[:k]) / k
        for j in bv
    }
    want = {}
    for i in av:
        cands = sorted(
            ((cos(av[i], bv[j]), j) for j in bv), reverse=True
        )[:k]
        best = max(
            cands,
            key=lambda cj: (cj[0] / ((da[i] + db[cj[1]]) / 2), -cj[1]),
        )
        m = best[0] / ((da[i] + db[best[1]]) / 2)
        if m >= 1.0:
            want[i] = (best[1], round(m, 6))
    assert {i: (r.id_b, r.margin) for i, r in got.items()} == want
    # most planted translations surface as the best pair (the modular
    # test vectors occasionally collide in direction — the exact-match
    # assert above is the real contract, this is the smoke signal)
    hits = sum(1 for i in range(12) if i in got and got[i].id_b == 1000 + i)
    assert hits >= 9, hits


def test_bootstrap_ci_fast_mode_statistically_agrees(spark):
    """xxhash64 mode draws DIFFERENT replicates but the same
    inferential answer: identical n/mean, overlapping CIs around the
    true mean (the dedup dual-mode contract)."""
    from moz_datapipeline_spark.operators.analytics import bootstrap_ci

    rows = [(i, 10.0 + (i * 13) % 21) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, y double")
    a = bootstrap_ci(df, "y", "id", replicates=32).collect()[0]
    b = bootstrap_ci(
        df, "y", "id", replicates=32, portable=False
    ).collect()[0]
    assert (a.n, a.mean) == (b.n, b.mean)
    true_mean = sum(y for _, y in rows) / 400
    for r in (a, b):
        assert r.ci_lo < true_mean < r.ci_hi


def test_fdr_correct_matches_bh_reference(spark):
    from moz_datapipeline_spark.operators.validation import fdr_correct

    ps = [0.001, 0.008, 0.039, 0.041, 0.042, 0.06, 0.074, 0.205,
          0.212, 0.216, 0.222, 0.251, 0.269, 0.275, 0.34, 0.341,
          0.384, 0.569, 0.594, 0.696, 0.762, 0.94, 0.942, 0.975, 0.986]
    rows = [(f"t{i:02d}", p) for i, p in enumerate(ps)] + [("tnull", None)]
    df = spark.createDataFrame(rows, "test string, p double")
    got = {
        r.test: r
        for r in fdr_correct(df, "p", alpha=0.05, id_cols=["test"]).collect()
    }
    m = len(ps)
    kmax = max(
        (i + 1 for i, p in enumerate(sorted(ps)) if p <= (i + 1) / m * 0.05),
        default=0,
    )
    for i, p in enumerate(ps):
        want = sorted(ps).index(p) + 1 <= kmax
        assert got[f"t{i:02d}"].discovery == want, (i, p)
    assert sum(1 for r in got.values() if r.discovery) == kmax
    # the step-up rule rescues tests a per-test cut would reject:
    # kmax > raw Bonferroni-ish count at the smallest threshold
    assert kmax >= 1
    assert got["tnull"].rank is None and got["tnull"].discovery is False
    with pytest.raises(ValueError, match="alpha"):
        fdr_correct(df, "p", alpha=1.5)


def test_dataset_fingerprint_order_invariant_and_sensitive(spark):
    from moz_datapipeline_spark.operators.validation import (
        dataset_fingerprint,
    )

    rows = [(1, "a", 1.5), (2, "b", None), (3, None, 0.25)]
    df1 = spark.createDataFrame(rows, "id int, s string, x double")
    df2 = spark.createDataFrame(
        list(reversed(rows)), "id int, s string, x double"
    ).repartition(7)
    f1 = dataset_fingerprint(df1).collect()[0]
    f2 = dataset_fingerprint(df2).collect()[0]
    assert (f1.n_rows, f1.xor_fingerprint, f1.sum_fingerprint) == (
        f2.n_rows, f2.xor_fingerprint, f2.sum_fingerprint,
    )
    # any value change moves the fingerprint
    df3 = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", None), (3, None, 0.250001)],
        "id int, s string, x double",
    )
    f3 = dataset_fingerprint(df3).collect()[0]
    assert f3.xor_fingerprint != f1.xor_fingerprint
    # duplicated row: XOR cancels pairs, SUM catches them
    df4 = spark.createDataFrame(rows + [rows[0], rows[0]],
                                "id int, s string, x double")
    f4 = dataset_fingerprint(df4).collect()[0]
    assert f4.xor_fingerprint == f1.xor_fingerprint
    assert f4.sum_fingerprint != f1.sum_fingerprint
    # NULL is distinct from the string "null" / "\\N" literal
    df5 = spark.createDataFrame([(1, "\\N", 1.5)], "id int, s string, x double")
    df6 = spark.createDataFrame([(1, None, 1.5)], "id int, s string, x double")
    assert (
        dataset_fingerprint(df5).collect()[0].xor_fingerprint
        == dataset_fingerprint(df6).collect()[0].xor_fingerprint
    ) is True  # documented: the \\N sentinel collides with a literal "\\N" string — schema contract
    # empty frame fingerprints to zeros
    f0 = dataset_fingerprint(df1.filter("id > 99")).collect()[0]
    assert (f0.n_rows, f0.xor_fingerprint, f0.sum_fingerprint) == (0, 0, 0)


def test_ab_test_empty_arm_keeps_row(spark):
    """A missing arm must still produce the single readout row with
    NULL stats (left joins onto a constant anchor), not an empty
    frame — callers expecting exactly one row get one."""
    from moz_datapipeline_spark.operators.analytics import ab_test

    df = spark.createDataFrame(
        [("c", 1.0), ("c", 2.0)], "v string, y double"
    )
    rows = ab_test(df, "v", "y", "c", "t").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.n_control == 2
    assert r.n_treatment is None
    assert r.z is None and r.p_value is None

    # BOTH arms empty: still exactly one all-NULL readout row
    rows2 = ab_test(
        df.filter("v = 'zzz'"), "v", "y", "c", "t"
    ).collect()
    assert len(rows2) == 1 and rows2[0].z is None

    # CUPED mode with a missing treatment arm
    df2 = spark.createDataFrame(
        [("c", 1.0, 0.5), ("c", 2.0, 1.5)],
        "v string, y double, x double",
    )
    rows3 = ab_test(df2, "v", "y", "c", "t", covariate_col="x").collect()
    assert len(rows3) == 1 and rows3[0].p_value is None


def _planted_sides(spark):
    """Small planted bitext corpus shared by the candidate-path tests:
    b-vector 1000+i is a near-copy of a-vector i, plus distractors."""
    import hashlib as _hl

    def vec(seed, dim=8):
        return [
            (int(_hl.md5(f"{seed}:{j}".encode()).hexdigest()[:8], 16)
             % 1000) / 500.0 - 1.0 + 0.001
            for j in range(dim)
        ]

    a_rows = [(i, vec(i)) for i in range(12)]
    b_rows = [
        (1000 + i, [v + 0.01 * ((i + j) % 3) for j, v in enumerate(vec(i))])
        for i in range(12)
    ] + [(2000 + i, vec(100 + i)) for i in range(8)]
    a = spark.createDataFrame(a_rows, "vec_id long, embedding array<double>")
    b = spark.createDataFrame(b_rows, "vec_id long, embedding array<double>")
    return a, b


@pytest.mark.deep
def test_margin_mine_pairs_candidates_full_grid_equals_brute(spark):
    """The candidates= path is plan plumbing, not new math: feeding the
    FULL id grid as the candidate frame must reproduce the broadcast
    brute path exactly (same pairs, same cosines, same margins)."""
    from moz_datapipeline_spark.operators.similarity import margin_mine_pairs

    a, b = _planted_sides(spark)
    brute = {
        (r.id_a, r.id_b): (r.cosine, r.margin)
        for r in margin_mine_pairs(a, b, k=3, threshold=1.0).collect()
    }
    grid = a.select(F.col("vec_id").alias("id_a")).crossJoin(
        b.select(F.col("vec_id").alias("id_b"))
    )
    via_cand = {
        (r.id_a, r.id_b): (r.cosine, r.margin)
        for r in margin_mine_pairs(
            a, b, k=3, threshold=1.0, candidates=grid
        ).collect()
    }
    assert via_cand == brute and len(brute) > 0


def test_margin_mine_pairs_lsh_candidates_equal_at_threshold(spark):
    """ANN-fed margin mining: lsh_candidate_pairs with broad tables
    (recall ~1 on this planted corpus) must select the same pairs at
    threshold as the exact brute grid — the round-9 scale path."""
    from moz_datapipeline_spark.operators.similarity import (
        lsh_candidate_pairs,
        margin_mine_pairs,
    )

    a, b = _planted_sides(spark)
    brute = {
        (r.id_a, r.id_b)
        for r in margin_mine_pairs(a, b, k=3, threshold=1.0).collect()
    }
    cand = lsh_candidate_pairs(
        a, b, dim=8, n_planes=2, n_tables=8
    )
    # broad tables on a 20x12 corpus: the candidate set must cover the
    # true neighborhoods, making the ANN margins exact
    got = {
        (r.id_a, r.id_b)
        for r in margin_mine_pairs(
            a, b, k=3, threshold=1.0, candidates=cand
        ).collect()
    }
    assert got == brute and len(got) > 0


def test_margin_mine_pairs_same_id_kept_by_default(spark):
    """A and B are distinct sets by contract: when they share an id
    scheme (bitext alignment), the same-id pair is usually the BEST
    pair and must not be silently dropped; exclude_same_id=True is the
    explicit self-mining opt-in."""
    from moz_datapipeline_spark.operators.similarity import margin_mine_pairs

    a, _ = _planted_sides(spark)
    # b = same ids, near-copies: the aligned (i, i) pair dominates
    b = a.select(
        "vec_id",
        F.transform(
            "embedding", lambda v: v + F.lit(0.001)
        ).alias("embedding"),
    )
    got = {
        r.id_a: r.id_b
        for r in margin_mine_pairs(a, b, k=3, threshold=1.0).collect()
    }
    assert sum(1 for i, j in got.items() if i == j) >= 10
    excl = {
        r.id_a: r.id_b
        for r in margin_mine_pairs(
            a, b, k=3, threshold=1.0, exclude_same_id=True
        ).collect()
    }
    assert all(i != j for i, j in excl.items())


def test_mann_kendall_long_series_guard(spark):
    """max_group_rows= fails LOUDLY (naming the offending group) before
    the sen-slope percentile buffers a quadratic pair list."""
    import pytest as _pytest

    from moz_datapipeline_spark.operators.temporal import mann_kendall

    long_rows = [("big", float(t), float(t % 7)) for t in range(500)]
    short_rows = [("ok", float(t), float(t)) for t in range(10)]
    df = spark.createDataFrame(
        long_rows + short_rows, "g string, t double, v double"
    )
    with _pytest.raises(ValueError, match="'big'.*500 rows"):
        mann_kendall(df, "g", "t", "v", max_group_rows=100)
    # under the bound: runs, and the guard does not change results
    ok = mann_kendall(df, "g", "t", "v", max_group_rows=1000).collect()
    plain = mann_kendall(df, "g", "t", "v").collect()
    assert sorted(map(tuple, ok), key=lambda x: x[0]) == sorted(
        map(tuple, plain), key=lambda x: x[0]
    )
