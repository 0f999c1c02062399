"""Event-analytics operators: funnels, cohort retention, sketch counts.

The reference's event-shaped processing is the traffic OD pipeline
(``scripts/criticality.sh`` aggregating per-way scenario results); a
production analytics engine additionally needs user-journey shapes over
an event stream: ordered funnels, cohort retention grids, and
sketch-based distinct counting that stays cheap at 100 TB.

All operators are declarative DataFrame plans.  Timestamps arrive as
integer nanoseconds (the ``events`` table is ns-precision parquet read
with ``nanosAsLong``), so every time comparison is exact integer math —
no timezone or precision drift between engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from moz_datapipeline_spark.iterate import owned
from moz_datapipeline_spark.localresult import literal_frame
from moz_datapipeline_spark.operators.ranges import prefix_scan

NS_PER_DAY = 86_400_000_000_000


def funnel_stages(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered-funnel user counts: users reaching stage *i* had a stage
    *i* event strictly after their earliest stage *i-1* arrival.

    One-pass plan: the event table is scanned ONCE and shuffled ONCE
    (on ``user_col``).  A single ``groupBy(user)`` collects one sorted
    timestamp array per stage (map-side partial ``collect_list``, so
    the shuffle carries per-user slices, not the raw table), then a
    higher-order-function fold walks the stages left to right —
    ``t_i = array_min(filter(a_i, x -> x > t_{i-1}))`` — entirely in
    JVM codegen.  Per-user state is that user's own event timestamps
    for the funnel's stages only, never global history.  The final
    per-stage counts reduce the per-user booleans in one tiny
    single-row aggregate, then explode to the (stage_idx, stage,
    n_users) grid.  Counts are exact integers; no float crosses the
    boundary.
    """
    per_user = (
        events.filter(F.col(type_col).isin(*stages))
        .groupBy(user_col)
        .agg(
            *[
                F.array_sort(
                    F.collect_list(
                        F.when(F.col(type_col) == s, F.col(ts_col))
                    )
                ).alias(f"_a{i}")
                for i, s in enumerate(stages)
            ]
        )
    )
    reach_cols = []
    prev = None
    for i in range(len(stages)):
        arr = F.col(f"_a{i}")
        if prev is None:
            cur = F.array_min(arr)
        else:
            # closure factory: PySpark HOF lambdas take positional
            # Columns only, so bind the threshold via an outer scope
            def _after(t):
                return lambda x: x > t

            cur = F.array_min(F.filter(arr, _after(prev)))
        reach_cols.append(cur.alias(f"_t{i}"))
        prev = cur
    reached = per_user.select(*reach_cols)
    one = reached.agg(
        *[F.count(f"_t{i}").alias(f"_n{i}") for i in range(len(stages))]
    )
    grid = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"_n{i}").alias("n_users"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return one.select(F.explode(grid).alias("_s")).select(
        "_s.stage_idx", "_s.stage", "_s.n_users"
    )


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort-retention grid: users bucketed by first-activity day,
    counted per day offset of subsequent activity.

    Plan shape: a per-user min aggregation for the cohort day, a
    distinct projection of (user, day) activity, and one join on the
    user key — three shuffles total, all on narrow keys.  Days are
    integer epoch-day numbers derived from the ns timestamp, so the
    grid is engine-exact.
    """
    # integral division: ts is ~1e18 ns, beyond double's 2^53 exact range,
    # so float division could misplace a boundary timestamp by one day
    day = F.expr(f"{ts_col} div {NS_PER_DAY}")
    first = events.groupBy(user_col).agg(F.min(day).alias("cohort_day"))
    active = events.select(user_col, day.alias("activity_day")).distinct()
    return (
        active.join(first, user_col)
        .groupBy(
            "cohort_day",
            (F.col("activity_day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def distinct_within_tolerance(
    events: DataFrame,
    group_col: str = "event_type",
    key_col: str = "user_id",
    rsd: float = 0.01,
    tolerance_pct: int = 5,
) -> DataFrame:
    """Exact vs HyperLogLog distinct counts with a bounded-error flag.

    At 100 TB an exact per-group distinct is a full shuffle of the key
    column; the HLL sketch aggregates in fixed memory with map-side
    partial merge and no key shuffle at all.  This operator computes
    both and emits ``sketch_ok`` — whether the sketch landed within
    ``tolerance_pct`` per cent of truth — so callers can certify the
    cheap path before switching to it.  The flag comparison is integer
    cross-multiplication (exact); at low cardinality the sketch is in
    sparse mode and exact by construction.
    """
    return (
        events.groupBy(group_col)
        .agg(
            F.countDistinct(key_col).alias("exact_distinct"),
            F.approx_count_distinct(key_col, rsd).alias("_approx"),
        )
        .select(
            group_col,
            "exact_distinct",
            (
                F.abs(F.col("_approx") - F.col("exact_distinct")) * 100
                <= F.col("exact_distinct") * tolerance_pct
            ).alias("sketch_ok"),
        )
    )


def percentile_within_tolerance(
    df: DataFrame,
    group_col: str = "l_returnflag",
    value_col: str = "l_extendedprice",
    p: float = 0.95,
    accuracy: int = 1000,
    tolerance_pct: int = 1,
) -> DataFrame:
    """Exact vs sketch percentile with a bounded-error flag — the
    quantile twin of ``distinct_within_tolerance``.

    At 100 TB an exact percentile sorts every group; the
    ``approx_percentile`` KLL-style sketch aggregates in fixed memory
    with map-side partial merge.  This computes both and emits
    ``sketch_ok`` (sketch within ``tolerance_pct`` per cent of truth)
    so callers can certify the cheap path per group before switching.
    """
    return (
        df.groupBy(group_col)
        .agg(
            F.expr(f"percentile({value_col}, {p})").alias("exact_p"),
            F.expr(
                f"approx_percentile({value_col}, {p}, {accuracy})"
            ).alias("_approx"),
        )
        .select(
            group_col,
            F.expr("floor(exact_p * 100 + 0.5) / 100").alias("exact_p"),
            (
                F.abs(F.col("_approx") - F.col("exact_p")) * 100
                <= F.col("exact_p") * tolerance_pct
            ).alias("sketch_ok"),
        )
    )


def attribute_clicks(
    events: DataFrame,
    view_type: str = "view",
    click_type: str = "click",
    window_ns: int = 900_000_000_000,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Last-touch attribution: for each click, the latest view by the
    same user within the preceding ``window_ns`` nanoseconds, plus the
    number of candidate views.

    Batch twin of ``streaming.events.stream_stream_attribution`` —
    the same equi-join on the user key with a two-sided time residual,
    so the shuffle is on ``user_col`` (a skewed power user is bounded
    by the window horizon, and AQE skew-split covers the batch side).
    All time math is integer nanoseconds.
    """
    v = events.filter(F.col(type_col) == view_type).select(
        F.col(user_col).alias("_vu"), F.col(ts_col).alias("view_ts")
    )
    c = events.filter(F.col(type_col) == click_type).select(
        id_col, user_col, ts_col
    )
    pairs = c.join(
        v,
        (c[user_col] == v["_vu"])
        & (v["view_ts"] <= c[ts_col])
        & (c[ts_col] - v["view_ts"] <= window_ns),
    )
    return (
        pairs.groupBy(id_col, user_col)
        .agg(
            F.max("view_ts").alias("attributed_view_ts"),
            F.count("*").alias("n_candidate_views"),
        )
    )


def cms_heavy_hitters(
    df: DataFrame,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
    k: int = 10,
    portable: bool = True,
) -> DataFrame:
    """Count-min-sketch heavy hitters with EXACT certification.

    At 100 TB a per-key frequency table is a full shuffle on the key;
    the count-min sketch aggregates into ``depth × width`` counters
    with map-side combine — fixed memory, no key shuffle — and answers
    point queries with one-sided error (never underestimates, over-
    estimates by collisions bounded by ~2N/width with probability
    1-2^-depth).  This operator builds the sketch AS DATAFRAME STATE
    (the bucket-count table itself, so the construction is the real
    distributed plan, not a driver-side object), takes the exact
    top-``k`` keys, and reports exact vs estimated counts plus the
    ``never_underestimates`` certification column — the cheap path's
    admission test, same pattern as ``distinct_within_tolerance``.

    The bucket hash is the engine's portable md5 family per depth row
    (``portable=False`` switches to xxhash64 — cheaper per row, same
    structure), so the WHOLE sketch — construction, point queries,
    estimates — replays bit-for-bit in the DuckDB oracle: unlike the
    HLL/KLL certifications, the approximate values themselves are
    value-checked, not just flagged.
    """
    if depth < 1 or width < 2:
        raise ValueError("cms_heavy_hitters: need depth >= 1, width >= 2")
    from moz_datapipeline_spark.operators.dedup import _token_hash

    key = F.col(key_col).cast("string")

    def _bucket(d: int, col: Column) -> Column:
        return F.pmod(
            _token_hash(F.concat(F.lit(f"cms{d}:"), col), portable),
            F.lit(width),
        )

    rows = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"), _bucket(d, key).alias("bucket")
                    )
                    for d in range(depth)
                ]
            )
        ).alias("s")
    ).select("s.d", "s.bucket")
    sketch = rows.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("c"))

    exact = (
        df.groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.col("exact_count").desc(), F.col(key_col).asc())
        .limit(k)
    )
    probes = exact.select(
        key_col,
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        _bucket(d, F.col(key_col).cast("string")).alias(
                            "bucket"
                        ),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select(key_col, "exact_count", "p.d", "p.bucket")
    return (
        probes.join(sketch, ["d", "bucket"])
        .groupBy(key_col, "exact_count")
        .agg(F.min("c").alias("cms_estimate"))
        .select(
            key_col,
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_count")).alias(
                "never_underestimates"
            ),
        )
    )


def top_event_paths(
    events: DataFrame,
    k: int = 20,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
) -> DataFrame:
    """Top-``k`` most common within-session event sequences:
    ``(path, n_sessions)`` with ``path`` like ``"view > click >
    purchase"``, ranked by count desc then path asc.

    Funnel analysis's exploratory twin: funnels check a HYPOTHESIZED
    order, paths discover which orders actually happen.

    Plan: sessionize (lag + running sum per user — one shuffle on the
    user key), per-session ordered collect via ``sort_array`` of
    (ts, id, type) structs (the session's own events only — bounded by
    session length, never a global sort), hash-aggregate path counts
    with map-side combine, TakeOrderedAndProject top-k.  Tiebreak
    ``id_col`` makes the within-session order total, so paths are
    partitioning-stable.
    """
    from moz_datapipeline_spark.streaming.events import sessionize_batch

    # dual time layout (the _events() contract): a LONG ts column is
    # epoch-nanoseconds, so the gap threshold scales to ns; timestamps
    # pass through in seconds
    gap = gap_seconds
    if events.schema[ts_col].dataType.typeName() in ("long", "bigint"):
        gap = gap_seconds * 1_000_000_000
    sess = sessionize_batch(
        events, gap_seconds=gap, user_col=user_col, ts_col=ts_col
    )
    per_session = (
        sess.groupBy(user_col, "session_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col(ts_col).alias("ts"),
                        F.col(id_col).alias("eid"),
                        F.col(type_col).alias("tp"),
                    )
                )
            ).alias("_evs")
        )
        .select(
            F.array_join(
                F.transform(F.col("_evs"), lambda e: e["tp"]), " > "
            ).alias("path")
        )
    )
    return (
        per_session.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )


def grouped_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares fit ``y = slope·x + intercept``:
    ``(*group_cols, n, slope, intercept, r2)`` — the one-pass trend
    summary behind "is this source's quality score drifting over
    time?" / "does document length predict perplexity per domain?"
    audits (fan-in shape: A3's per-way stats fold generalized to a
    regression).

    Everything derives from the five raw power sums (Σx, Σy, Σx²,
    Σy², Σxy) plus the count, so the whole fit is ONE map-side-combined
    hash aggregate regardless of group count — no second scan, no
    window, no per-group collect.  Degenerate groups are explicit:
    constant x (zero variance) has no defined slope → ``slope``,
    ``intercept``, ``r2`` all NULL; constant y fits perfectly but
    explains no variance → ``r2`` NULL (0/0), slope 0.  Rows with a
    NULL in either column are excluded (pairwise deletion).  All
    guards are ``when()`` branches, never double-division NaNs, so the
    output hashes identically across engines under ANSI mode.
    """
    if not group_cols:
        raise ValueError("grouped_ols: need at least one group column")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull())
    sums = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
        F.sum(x * y).alias("_sxy"),
    )
    n = F.col("_n")
    dx = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    dy = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    cv = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    slope = F.when(dx > 0, cv / dx)
    intercept = F.when(
        dx > 0, (F.col("_sy") - (cv / dx) * F.col("_sx")) / n
    )
    r2 = F.when((dx > 0) & (dy > 0), (cv * cv) / (dx * dy))
    return sums.select(
        *group_cols,
        n.cast("long").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def copurchase_lift(
    lineitem: DataFrame,
    min_pair_count: int = 2,
    k: int = 20,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
) -> DataFrame:
    """Market-basket pair mining: top-``k`` co-purchased item pairs by
    lift — ``(item_a, item_b, n_pairs, n_a, n_b, lift)`` with
    ``lift = P(ab)/(P(a)·P(b)) = n_pairs·N / (n_a·n_b)`` over N
    baskets, ``item_a < item_b``.

    Pair volume is Σ C(basket_size, 2) — bounded by the square of the
    LARGEST BASKET, not the catalog: the self-join is an equi join on
    the basket key, so a 100 TB order history fans out per order, never
    across orders.  Item marginals are a |catalog|-row aggregate,
    broadcast twice.  ``min_pair_count`` prunes noise pairs before the
    rank exchange; top-k is TakeOrderedAndProject (lift desc, pair asc).
    """
    baskets = lineitem.select(
        F.col(order_col).alias("oid"), F.col(item_col).alias("item")
    ).distinct()
    n_orders = baskets.select("oid").distinct().count()
    marg = baskets.groupBy("item").agg(F.count(F.lit(1)).alias("n_item"))
    a = baskets.select("oid", F.col("item").alias("item_a"))
    b = baskets.select("oid", F.col("item").alias("item_b"))
    pairs = (
        a.join(b, "oid")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .filter(F.col("n_pairs") >= int(min_pair_count))
    )
    scored = (
        pairs.join(
            F.broadcast(marg.select(F.col("item").alias("item_a"),
                                    F.col("n_item").alias("n_a"))),
            "item_a",
        )
        .join(
            F.broadcast(marg.select(F.col("item").alias("item_b"),
                                    F.col("n_item").alias("n_b"))),
            "item_b",
        )
        .select(
            "item_a", "item_b", "n_pairs", "n_a", "n_b",
            F.round(
                F.col("n_pairs").cast("double") * F.lit(float(n_orders))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("item_a"), F.asc("item_b")
    ).limit(k)


def ab_test(
    df: DataFrame,
    variant_col: str,
    metric_col: str,
    control: str,
    treatment: str,
    covariate_col: str | None = None,
) -> DataFrame:
    """Two-sample experiment readout in ONE aggregate pass: a single
    row ``(n_control, n_treatment, mean_control, mean_treatment,
    diff, z, p_value[, theta, var_reduction])`` — Welch z-test on the
    mean difference, with optional CUPED variance reduction
    (Deng et al. 2013) when a pre-experiment ``covariate_col`` is
    supplied.

    CUPED: ``y' = y − θ·(x − x̄_pooled)`` with ``θ = cov(y, x) /
    var(x)`` POOLED across both arms (the covariate predates
    assignment, so pooling is unbiased); the test then runs on the
    adjusted metric, whose variance shrinks by the squared
    metric–covariate correlation (reported as ``var_reduction``).

    Every moment either arm needs — counts, Σy, Σy², Σx, Σx², Σxy per
    variant — is one map-side-combined hash aggregate; the fold to z
    happens on a 2-row frame.  ``p_value`` is the two-sided normal
    tail via the Abramowitz–Stegun 7.1.26 erf polynomial (|err| <
    1.5e-7) — a closed form both engines evaluate identically, unlike
    an erf builtin Spark lacks.  Rows with NULL metric (or NULL
    covariate in CUPED mode) are excluded; a degenerate arm (n < 2,
    zero variance, or EMPTY — the fold is anchored on a constant
    1-row frame, so a missing arm NULLs its stats instead of
    vanishing the row) yields NULL z/p rather than an ANSI crash.
    """
    y = F.col(metric_col).cast("double")
    base = df.filter(
        F.col(variant_col).isin([control, treatment]) & y.isNotNull()
    )
    if covariate_col is not None:
        x = F.col(covariate_col).cast("double")
        base = base.filter(x.isNotNull())
        pooled = base.agg(
            F.count(F.lit(1)).cast("double").alias("_pn"),
            F.sum(x).alias("_psx"),
            F.sum(x * x).alias("_psxx"),
            F.sum(y).alias("_psy"),
            F.sum(x * y).alias("_psxy"),
        )
        pn = F.col("_pn")
        varx = pn * F.col("_psxx") - F.col("_psx") * F.col("_psx")
        covyx = pn * F.col("_psxy") - F.col("_psx") * F.col("_psy")
        theta = F.when(varx > 0, covyx / varx).otherwise(F.lit(0.0))
        xbar = F.col("_psx") / pn
        pooled = pooled.select(
            theta.alias("_theta"), xbar.alias("_xbar")
        )
        base = base.crossJoin(F.broadcast(pooled))
        y_adj = y - F.col("_theta") * (x - F.col("_xbar"))
        per = base.groupBy(
            F.col(variant_col).alias("_v")
        ).agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.avg(y_adj).alias("_m"),
            F.var_samp(y_adj).alias("_var"),
            F.var_samp(y).alias("_var_raw"),
            F.max("_theta").alias("_th"),
        )
    else:
        per = base.groupBy(
            F.col(variant_col).alias("_v")
        ).agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.avg(y).alias("_m"),
            F.var_samp(y).alias("_var"),
        )

    a = per.filter(F.col("_v") == control).select(
        F.col("_n").alias("_na"),
        F.col("_m").alias("_ma"),
        F.col("_var").alias("_va"),
        *(
            [F.col("_var_raw").alias("_vra")]
            if covariate_col is not None
            else []
        ),
        *([F.col("_th").alias("_tha")] if covariate_col is not None else []),
    )
    b = per.filter(F.col("_v") == treatment).select(
        F.col("_n").alias("_nb"),
        F.col("_m").alias("_mb"),
        F.col("_var").alias("_vb"),
        *(
            [F.col("_var_raw").alias("_vrb")]
            if covariate_col is not None
            else []
        ),
    )
    # anchor on a literal 1-row frame: each arm frame holds ≤ 1 row
    # (filtered per-variant aggregate), and a crossJoin of an EMPTY
    # arm would vanish the output row — the left joins instead leave
    # that arm's stats NULL, honoring the degenerate-arm contract
    anchor = df.sparkSession.range(1).select(F.lit(1).alias("_one"))
    j = (
        anchor.join(a.withColumn("_one", F.lit(1)), "_one", "left")
        .join(b.withColumn("_one", F.lit(1)), "_one", "left")
        .drop("_one")
    )
    se2 = F.col("_va") / F.col("_na") + F.col("_vb") / F.col("_nb")
    ok = (
        (F.col("_na") >= 2) & (F.col("_nb") >= 2) & (se2 > 0)
    )
    z = F.when(ok, (F.col("_mb") - F.col("_ma")) / F.sqrt(se2))
    # two-sided p via Abramowitz-Stegun 7.1.26: Phi(|z|) from erf
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * (t ** 2)
        + F.lit(1.421413741) * (t ** 3)
        - F.lit(1.453152027) * (t ** 4)
        + F.lit(1.061405429) * (t ** 5)
    )
    erf_az = F.lit(1.0) - poly * F.exp(-az * az)
    p = F.when(z.isNotNull(), F.lit(1.0) - erf_az)
    out_cols = [
        F.col("_na").cast("long").alias("n_control"),
        F.col("_nb").cast("long").alias("n_treatment"),
        F.round("_ma", 6).alias("mean_control"),
        F.round("_mb", 6).alias("mean_treatment"),
        F.round(F.col("_mb") - F.col("_ma"), 6).alias("diff"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
    ]
    if covariate_col is not None:
        vr = F.when(
            (F.col("_vra") + F.col("_vrb")) > 0,
            F.lit(1.0)
            - (F.col("_va") + F.col("_vb"))
            / (F.col("_vra") + F.col("_vrb")),
        )
        out_cols.append(F.round(F.col("_tha"), 6).alias("theta"))
        out_cols.append(F.round(vr, 6).alias("var_reduction"))
    return j.select(*out_cols)


#: cumulative Poisson(1) thresholds: P(X <= k) for k = 0..8; the tail
#: beyond 8 (~1e-6) collapses into weight 9 — bias far below any CI
#: resolution at realistic row counts
_POIS1_CDF = [
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
    0.9999988747974148,
]


def _poisson1_weight(u: Column) -> Column:
    """Inverse-CDF Poisson(1) draw from a uniform — a literal CASE
    ladder over constant thresholds, identical in any engine."""
    expr = F.lit(9)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        expr = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


def bootstrap_ci(
    df: DataFrame,
    metric_col: str,
    key_col: str,
    group_cols: list[str] | None = None,
    replicates: int = 64,
    lo: float = 0.025,
    hi: float = 0.975,
    seed: str = "boot",
    portable: bool = True,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the MEAN of
    ``metric_col`` (per group): ``(*group_cols, n, mean, ci_lo,
    ci_hi, n_replicates)``.

    The Poisson bootstrap is the one-pass distributed bootstrap: a
    classical resample needs n draws WITH replacement — a global
    operation — but for large n the multinomial row counts converge
    to independent Poisson(1) weights, so every row can draw its own
    weight per replicate locally.  Here the uniforms come from the
    engine's content-addressed md5 family (``seed:replicate:key``),
    making every replicate deterministic across runs, partitionings,
    and engines — the same contract as ``weighted_sample``.

    Plan: the replicate axis is EXPLODED (replicates/2 struct rows
    per input row — one md5 funds two replicates via its hi/lo 60-bit
    halves) and a single hash aggregate over (group, replicate)
    computes two plain sums (Σwy, Σw) with map-side partial combine;
    a second tiny aggregate folds the B replicate means into the CI
    ``percentile``.  The explode is deliberate: the alternative
    2·B-expression single-row aggregate silently falls out of
    whole-stage codegen past ~128 expressions and ran ~10× slower
    interpreted — duplicating the row axis keeps every sum inside
    codegen and the exchange still carries only |groups|·B partials.  An empty replicate (all weights 0 — vanishing probability
    past tiny n) contributes NULL and is skipped by the percentile.

    Rows with NULL metric are excluded.  The interval is the
    percentile bootstrap (no BCa correction — document the bias
    trade rather than hiding a driver-side loop).  ``portable=False``
    swaps the md5 uniforms for xxhash64 (the dedup family's dual-mode
    contract: ~2x less hash CPU, statistically identical CIs, just
    DIFFERENT draws — only the md5 mode replays in the DuckDB
    oracle).
    """
    if replicates < 2:
        raise ValueError("bootstrap_ci: replicates must be >= 2")
    if not (0.0 <= lo < hi <= 1.0):
        raise ValueError("bootstrap_ci: need 0 <= lo < hi <= 1")
    group_cols = group_cols or []
    from .spread import spread_small_scan

    y = F.col(metric_col).cast("double")
    # B md5 draws per row is the dominant CPU; a single-split input
    # would pin all of it to one task (the spread is a no-op at scale)
    base = spread_small_scan(df.filter(y.isNotNull()), key_col)
    space = float(1 << 60)

    # EXPLODE the replicate axis instead of 2B aggregate expressions:
    # a 2·B-expression aggregate blows past the whole-stage-codegen
    # field budget and drops to the interpreted path (~10× slower
    # measured at B=32); the exploded shape is two plain codegen'd
    # sums whose map-side combine collapses to |groups|·B rows per
    # partition before the exchange — same math, same hash draws.
    #
    # The replicate id comes from explode(sequence(0, B-1)) and the
    # draw is ONE expression over (_b, key) — not B unrolled copies:
    # the unrolled array-of-structs shape built a 32-field struct
    # array per input row and produced an O(B)-sized plan (45 kB of
    # explain at B=32, with matching analysis/codegen latency); this
    # shape evaluates the identical hash arithmetic per exploded row,
    # so the draws are bit-for-bit unchanged in both hash modes.
    bcol = F.col("_b")
    kstr = F.col("_bs_key")
    if portable:
        # one md5 funds TWO replicates: hex digits 1-15 and 17-31
        # are independent 60-bit draws — halves the hash cost.
        # f"{seed}:{b // 2}:" ≡ concat over floor(_b/2) cast to string
        digest = F.md5(
            F.concat(
                F.lit(f"{seed}:"),
                F.floor(bcol / F.lit(2.0)).cast("long").cast("string"),
                F.lit(":"),
                kstr,
            )
        )
        pos = F.when(bcol % 2 == 0, F.lit(1)).otherwise(F.lit(17))
        h = F.conv(digest.substr(pos, F.lit(15)), 16, 10).cast("long")
    else:
        h = F.pmod(
            F.xxhash64(
                F.concat(
                    F.lit(f"{seed}:"),
                    bcol.cast("string"),
                    F.lit(":"),
                    kstr,
                )
            ),
            F.lit(1 << 60),
        )
    u = (h.cast("double") + F.lit(1.0)) / F.lit(space)
    reps = base.select(
        *group_cols,
        y.alias("_y"),
        F.col(key_col).cast("string").alias("_bs_key"),
        F.explode(
            F.sequence(F.lit(0), F.lit(replicates - 1))
        ).alias("_b"),
    ).select(
        *group_cols,
        "_y",
        "_b",
        _poisson1_weight(u).cast("double").alias("_w"),
    )
    per_rep = reps.groupBy(*group_cols, "_b").agg(
        F.sum(F.col("_w") * F.col("_y")).alias("_wy"),
        F.sum("_w").alias("_wsum"),
    )
    rep_means = per_rep.groupBy(*group_cols).agg(
        F.array_sort(
            F.collect_list(
                F.when(
                    F.col("_wsum") > 0, F.col("_wy") / F.col("_wsum")
                )
            )
        ).alias("_premeans")
    )
    stats = base.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.avg(y).alias("_mean"),
    )
    if group_cols:
        agg = stats.join(rep_means, list(group_cols))
    else:
        agg = stats.crossJoin(rep_means)
    means = F.col("_premeans")
    # percentile over the B-element array: sort (NULLs drop) and
    # linearly interpolate — the quantile_cont convention, as an
    # array expression (no second aggregate job)
    sorted_means = F.array_sort(
        F.filter(means, lambda m: m.isNotNull())
    )
    staged = agg.withColumn("_sm", sorted_means).withColumn(
        "_nb", F.size("_sm")
    )

    def _quantile(p: float):
        pos = F.lit(1.0) + (F.col("_nb") - 1).cast("double") * F.lit(
            float(p)
        )
        i_lo = F.floor(pos).cast("int")
        i_hi = F.ceil(pos).cast("int")
        frac = pos - i_lo.cast("double")
        return F.when(
            F.col("_nb") > 0,
            F.element_at("_sm", i_lo)
            + (
                F.element_at("_sm", i_hi) - F.element_at("_sm", i_lo)
            )
            * frac,
        )

    return staged.select(
        *group_cols,
        F.col("_n").alias("n"),
        F.round("_mean", 6).alias("mean"),
        F.round(_quantile(lo), 6).alias("ci_lo"),
        F.round(_quantile(hi), 6).alias("ci_hi"),
        F.lit(replicates).alias("n_replicates"),
    )




def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 3.0,
) -> DataFrame:
    """Robust dispersion readout per group: ``(*group_cols, n, median,
    mad, robust_sigma, n_outliers)`` — median absolute deviation with
    the 1.4826 normal-consistency constant, and the count of rows
    whose robust z-score ``|x − median| / (1.4826·MAD)`` exceeds
    ``k``.  The mean/stddev z-score (``anomaly_zscore``) breaks down
    exactly when you need it (outliers inflate the stddev that is
    supposed to flag them — masking); MAD has a 50% breakdown point.

    Plan: both medians come from ``ranges.exact_quantiles[_grouped]``
    (distributed histogram selection, bit-identical to the builtin,
    never its per-group value buffers) and inline as LITERALS — the
    outlier count is then ONE conditional-sum aggregate over the data,
    no joins at all.  When the quantile helper declines (multi-column
    grouping, high-cardinality groups, NULL group keys, cap trip) the
    plan falls back to the builtin: three passes with |groups|-row
    broadcast joins.  A zero-MAD group (over half the values tied)
    yields NULL robust_sigma and 0 outliers — flagging everything
    off-mode is noise, not signal.
    """
    from moz_datapipeline_spark.operators.ranges import (
        exact_quantiles,
        exact_quantiles_grouped,
    )

    gcols = list(group_cols or [])
    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull()).select(*gcols, x.alias("_x"))

    med_m = mad_m = None
    if len(gcols) == 1:
        med = exact_quantiles_grouped(base, gcols[0], "_x", [0.5])
        if med is not None and all(kk is not None for kk in med):
            g = F.col(gcols[0])
            med_m = F.create_map(
                *[c for kk, v in med.items() for c in (F.lit(kk), F.lit(v[0]))]
            )
            devd = base.withColumn(
                "_dev", F.abs(F.col("_x") - F.element_at(med_m, g))
            )
            mad = exact_quantiles_grouped(devd, gcols[0], "_dev", [0.5])
            if mad is not None:
                mad_m = F.create_map(
                    *[
                        c
                        for kk, v in mad.items()
                        for c in (F.lit(kk), F.lit(v[0]))
                    ]
                )
    elif not gcols:
        medv = exact_quantiles(base, "_x", [0.5])
        if medv is not None:
            med_m = F.lit(medv[0])
            madv = exact_quantiles(
                base.withColumn("_dev", F.abs(F.col("_x") - med_m)),
                "_dev",
                [0.5],
            )
            if madv is not None:
                mad_m = F.lit(madv[0])

    if mad_m is not None:
        g = F.col(gcols[0]) if gcols else None
        med_c = F.element_at(med_m, g) if gcols else med_m
        mad_c = F.element_at(mad_m, g) if gcols else mad_m
        dev = F.abs(F.col("_x") - med_c)
        sigma = F.when(mad_c > 0, F.lit(1.4826) * mad_c)
        is_out = F.when(
            sigma.isNotNull(), (dev / sigma > F.lit(float(k))).cast("int")
        ).otherwise(F.lit(0))
        return base.groupBy(*gcols).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.max(med_c), 6).alias("median"),
            F.round(F.max(mad_c), 6).alias("mad"),
            F.round(F.max(sigma), 6).alias("robust_sigma"),
            F.sum(is_out).cast("long").alias("n_outliers"),
        )

    # fallback: builtin percentile passes with broadcast joins.
    # Joins are NULL-SAFE on the group keys (eqNullSafe) so a NULL
    # group — which GROUP BY keeps as its own group, and which the
    # exact-quantiles fast path declines — survives the fold instead
    # of silently vanishing through an inner equi-join.
    def _nullsafe_join(left: DataFrame, right: DataFrame) -> DataFrame:
        if not gcols:
            return left.crossJoin(F.broadcast(right))
        r = right.select(
            *[F.col(c).alias(f"_r_{c}") for c in gcols],
            *[c for c in right.columns if c not in gcols],
        )
        cond = F.lit(True)
        for c in gcols:
            cond = cond & F.col(c).eqNullSafe(F.col(f"_r_{c}"))
        return left.join(F.broadcast(r), cond).drop(
            *[f"_r_{c}" for c in gcols]
        )

    med = base.groupBy(*gcols).agg(
        F.expr("percentile(_x, 0.5)").alias("_med")
    )
    joined = _nullsafe_join(base, med)
    dev = F.abs(F.col("_x") - F.col("_med"))
    folded = joined.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("_med").alias("median"),
        F.expr("percentile(abs(_x - _med), 0.5)").alias("mad"),
    )
    out = _nullsafe_join(joined, folded)
    sigma = F.when(F.col("mad") > 0, F.lit(1.4826) * F.col("mad"))
    is_out = F.when(
        sigma.isNotNull(),
        (dev / sigma > F.lit(float(k))).cast("int"),
    ).otherwise(F.lit(0))
    return (
        out.groupBy(*gcols)
        .agg(
            F.max("n").alias("n"),
            F.round(F.max("median"), 6).alias("median"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.round(F.max(sigma), 6).alias("robust_sigma"),
            F.sum(is_out).cast("long").alias("n_outliers"),
        )
    )


def rfm_segments(
    orders: DataFrame,
    customer_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = 4,
) -> DataFrame:
    """RFM customer segmentation: ``(customer, recency_days,
    frequency, monetary, r, f, m, segment)`` — the classic
    marketing-analytics cut (Recency / Frequency / Monetary quartile
    scores, ``n_tiles`` = best), reference point = the dataset's max
    date (the standard offline convention: "days before the snapshot
    edge").  ``segment`` is the concatenated "421"-style code.

    Scores are NTILE buckets over ALL customers — but never via the
    global-window single-partition trap: each metric gets a
    ``ranges.global_rank`` and the tile comes from the exact SQL NTILE
    arithmetic on (rank, n): base = n div q, the first
    n mod q buckets take one extra row.  Recency ranks ascending
    (most recent = rank 1), frequency/monetary descending; every
    ordering ends in the customer key, so ties are total and the
    result is partition-layout-independent.  Tile 1 (best) maps to
    score ``n_tiles``, descending.

    Plan: one per-customer hash aggregate (map-side combined), one
    1-row max-date broadcast, three range exchanges over the
    |customers| rollup, one 1-row count broadcast for the tile
    arithmetic.  Each rank is a ``ranges.prefix_scan``; each scan's
    checkpoint holds every column the next rank needs, so the first two
    are released once the third is built and the returned frame owns
    the last.
    """
    from moz_datapipeline_spark.operators.ranges import global_rank

    per = (
        orders.groupBy(F.col(customer_col).alias("customer"))
        .agg(
            F.max(F.col(date_col)).alias("_last"),
            F.count(F.lit(1)).alias("frequency"),
            # floor-cents, not round(): monetary is a RANKING key, and
            # half-up vs half-even tie handling would flip ranks
            # between engines (the topk_with_ties convention)
            (
                F.floor(
                    F.sum(F.col(amount_col).cast("double")) * 100
                    + F.lit(0.5)
                )
                / 100
            ).alias("monetary"),
        )
    )
    edge = orders.agg(F.max(F.col(date_col)).alias("_edge"))
    per = (
        per.crossJoin(F.broadcast(edge))
        .withColumn(
            "recency_days",
            F.datediff(F.col("_edge"), F.col("_last")).cast("long"),
        )
        .drop("_edge", "_last")
    )
    n_row = per.agg(F.count(F.lit(1)).alias("_n"))

    kr = global_rank(
        per, "recency_days", ["customer"], ascending=True,
        with_percent=False,
    )
    kf = global_rank(
        kr.withColumnRenamed("rank", "_kr"), "frequency", ["customer"],
        ascending=False, with_percent=False,
    )
    km = global_rank(
        kf.withColumnRenamed("rank", "_kf"), "monetary", ["customer"],
        ascending=False, with_percent=False,
    )
    # superseded: km's severed checkpoint already holds _kr and _kf
    kr.unpersist()
    kf.unpersist()
    s = km.withColumnRenamed("rank", "_km").crossJoin(F.broadcast(n_row))

    q = F.lit(int(n_tiles))
    base = F.expr("_n div " + str(int(n_tiles)))
    rem = F.col("_n") % q

    def tile(rank_col: str) -> Column:
        rn = F.col(rank_col)
        fat = rem * (base + 1)  # rows living in the size-(base+1) tiles
        return F.when(
            rn <= fat, (rn + base) / (base + 1)
        ).otherwise(
            rem + ((rn - fat + base - 1) / base)
        ).cast("long")

    def score(rank_col: str) -> Column:
        return (F.lit(int(n_tiles) + 1) - F.floor(tile(rank_col))).cast(
            "int"
        )

    scored = (
        s.withColumn("r", score("_kr"))
        .withColumn("f", score("_kf"))
        .withColumn("m", score("_km"))
    )
    out = scored.select(
        "customer",
        "recency_days",
        "frequency",
        "monetary",
        "r",
        "f",
        "m",
        F.concat(
            F.col("r").cast("string"),
            F.col("f").cast("string"),
            F.col("m").cast("string"),
        ).alias("segment"),
    )
    return owned(out, km)


def markov_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: ``(from_type, to_type, n, p)`` with ``p`` the
    row-normalized transition probability — the "what usually happens
    next" readout behind journey analysis, next-event prediction
    baselines, and bot detection (improbable chains).

    Sequences order by (ts, tiebreak) within each user — pass an id
    column as ``tiebreak_col`` when timestamps can tie (default: the
    type itself), or the matrix is partition-lottery.  A user's last
    event has no successor and contributes no pair.

    Plan: ONE user-partitioned lead window (hash-partitioned on the
    user key, never global) + one (from, to) hash aggregate + a
    from-state sum window over the |types|²-sized matrix.  The data-
    sized exchange is the window's user shuffle; everything after is
    matrix-sized.
    """
    tb = F.col(tiebreak_col) if tiebreak_col else F.col(type_col)
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col("_tb").asc()
    )
    pairs = (
        events.select(
            F.col(user_col),
            F.col(ts_col),
            tb.alias("_tb"),
            F.col(type_col).alias("from_type"),
        )
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wf = Window.partitionBy("from_type")
    total = F.sum("n").over(wf)
    return pairs.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / total, 6).alias("p"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Kaplan–Meier survival curve: ``(*group_cols, duration, n_at_risk,
    n_events, n_censored, survival)`` — one row per distinct duration,
    ``survival`` the product-limit estimate Π_{u≤t}(1 − d_u/n_u).
    The standard time-to-event readout (churn, hardware failure,
    ticket resolution) under right censoring: ``event_col`` is 1 when
    the event was OBSERVED at ``duration``, 0 when the subject was
    censored there (still alive at last sight — removed from the risk
    set without counting as a failure).

    Plan: one hash aggregate to the |distinct durations| rollup, then
    two ordered windows over that small frame — an exclusive prefix
    sum for the risk set (n_at_risk = N − removed-before-t) and a
    cumulative Σln(1 − d/n) for the product (exp∘Σln keeps the
    running product associative and engine-portable; the d = n
    extinction row forces survival 0 through a flag, never ln(0)).
    Windows partition by ``group_cols`` — per-cohort curves shuffle by
    cohort; a single global curve runs its windows over the rollup,
    which is duration-cardinality-sized, not data-sized.
    """
    gcols = list(group_cols or [])
    d = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    base = df.filter(d.isNotNull()).select(
        *gcols, d.alias("_t"), ev.alias("_e")
    )
    per = base.groupBy(*gcols, "_t").agg(
        F.sum("_e").alias("_d"),
        (F.count(F.lit(1)) - F.sum("_e")).alias("_c"),
    )
    wtot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    wcum = (
        (Window.partitionBy(*gcols) if gcols else Window.partitionBy())
        .orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        (Window.partitionBy(*gcols) if gcols else Window.partitionBy())
        .orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n_total = F.sum(F.col("_d") + F.col("_c")).over(wtot)
    removed = F.coalesce(
        F.sum(F.col("_d") + F.col("_c")).over(wcum), F.lit(0)
    )
    staged = per.withColumn("_n", (n_total - removed).cast("long"))
    frac = F.col("_d").cast("double") / F.col("_n").cast("double")
    ln_term = F.when(
        (F.col("_d") > 0) & (F.col("_d") < F.col("_n")),
        F.log(F.lit(1.0) - frac),
    ).otherwise(F.lit(0.0))
    extinct = F.max((F.col("_d") == F.col("_n")).cast("int")).over(wrun)
    surv = F.when(extinct == 1, F.lit(0.0)).otherwise(
        F.exp(F.sum(ln_term).over(wrun))
    )
    return staged.select(
        *gcols,
        F.col("_t").alias("duration"),
        F.col("_n").alias("n_at_risk"),
        F.col("_d").cast("long").alias("n_events"),
        F.col("_c").cast("long").alias("n_censored"),
        F.round(surv, 6).alias("survival"),
    )


def time_to_convert(
    events: DataFrame,
    from_type: str = "view",
    to_type: str = "purchase",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user conversion latency: ``(user, t_from, t_to,
    delta_seconds)`` — the FIRST ``from_type`` event and the first
    ``to_type`` event strictly after it; users who never convert are
    excluded (left-anchor upstream for a conversion-rate readout,
    ``funnel_stages`` already reports the counts).

    Plan: the ``funnel_stages`` idiom reduced to two stages — ONE
    ``groupBy(user)`` collecting two sorted timestamp arrays (map-side
    partial collect, per-user payload only), then JVM HOF
    ``array_min(filter(to_arr, t > t_from))``.  Timestamps are integer
    nanoseconds; the delta divides to seconds exactly (integral div).
    """
    per = (
        events.filter(F.col(type_col).isin([from_type, to_type]))
        .groupBy(F.col(user_col).alias("user"))
        .agg(
            F.min(
                F.when(F.col(type_col) == from_type, F.col(ts_col))
            ).alias("_tf"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col(type_col) == to_type, F.col(ts_col))
                )
            ).alias("_tos"),
        )
    )

    def _after(t):
        return lambda x: x > t

    t_to = F.array_min(F.filter(F.col("_tos"), _after(F.col("_tf"))))
    return (
        per.withColumn("_tt", t_to)
        .filter(F.col("_tf").isNotNull() & F.col("_tt").isNotNull())
        .select(
            F.col("user").alias(user_col),
            F.col("_tf").alias("t_from"),
            F.col("_tt").alias("t_to"),
            F.expr("(_tt - _tf) div 1000000000").alias("delta_seconds"),
        )
    )


def behavior_entropy(
    events: DataFrame,
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix: ``(user,
    n_events, n_types, entropy)`` in nats — the "how varied is this
    actor" signal (bots and scrapers sit near 0; engaged users near
    ln(n_types)).  Computed as ``ln(n) − Σ c·ln(c) / n`` from the
    (user, type) count table — one algebraic fold, no per-user lists.

    Plan: two stacked hash aggregates — (user, type) counts, then the
    per-user entropy fold — both map-side combined; the second reuses
    the first's hash partitioning on the user key prefix, so there is
    ONE data-sized exchange.
    """
    pairs = events.groupBy(
        F.col(user_col).alias("user"), F.col(type_col).alias("_ty")
    ).agg(F.count(F.lit(1)).alias("_c"))
    c = F.col("_c").cast("double")
    return (
        pairs.groupBy("user")
        .agg(
            F.sum("_c").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum(c * F.log(c)).alias("_clc"),
        )
        .select(
            F.col("user").alias(user_col),
            "n_events",
            "n_types",
            F.round(
                F.log(F.col("n_events").cast("double"))
                - F.col("_clc") / F.col("n_events").cast("double"),
                6,
            ).alias("entropy"),
        )
    )


def gini_concentration(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Gini coefficient of ``value_col`` concentration across keys:
    one row ``(n, total, gini)`` via the rank formula

        G = (2·Σ_i i·x_(i) ) / (n·Σ x) − (n+1)/n

    over values sorted ascending — the "how much of the corpus comes
    from how few sources/customers" inequality readout (0 = uniform,
    →1 = one key holds everything).  Any negative per-key sum yields
    NULL gini (the coefficient is undefined there); NULLs drop.

    Plan: per-key sums fold first (map-side combined), then the rank
    comes from ``ranges.global_rank`` (a ``prefix_scan``) — never a
    global window sort — and one final 1-row aggregate.  The rank·x
    sum is exact integer-weighted double math; ties rank by the key,
    which leaves Σ i·x_(i) unchanged within a tie run (equal x).
    """
    from moz_datapipeline_spark.operators.ranges import global_rank

    per = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(F.col(key_col).alias("_k"))
        .agg(F.sum(F.col(value_col).cast("double")).alias("_x"))
    )
    ranked = global_rank(
        per, "_x", ["_k"], ascending=True, with_percent=False
    )
    folded = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("total"),
        F.sum(F.col("rank").cast("double") * F.col("_x")).alias("_rx"),
        F.min("_x").alias("_minx"),
    )
    n = F.col("n").cast("double")
    gini = F.when(
        (F.col("n") > 0) & (F.col("total") > 0),
        (F.lit(2.0) * F.col("_rx")) / (n * F.col("total"))
        - (n + 1.0) / n,
    )
    out = folded.select(
        F.col("n").cast("long").alias("n"),
        F.expr("floor(total * 100 + 0.5) / 100").alias("total"),
        F.when(F.col("_minx") >= 0, F.round(gini, 6)).alias("gini"),
    )
    return owned(out, ranked)


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Exact ROC AUC as the Mann–Whitney rank-sum, one row
    ``(n_pos, n_neg, auc)``: the probability a random positive
    outscores a random negative, ties counted half —

        AUC = Σ_s [ np(s)·below_nn(s) + np(s)·nn(s)/2 ] / (NP·NN)

    over the per-DISTINCT-SCORE rollup (np/nn counts), where
    ``below_nn`` is the prefix sum of negatives at strictly lower
    scores.  NULL scores/labels drop; a degenerate frame (no
    positives or no negatives) yields NULL auc.

    Scale shape: the rollup is one map-side-combined hash aggregate;
    the prefix sum over it is ``ranges.prefix_scan``, never a global
    window: with continuous scores the rollup is row-sized and a
    single-partition sort would be the plan that never finishes.
    """
    y = F.col(label_col).cast("int")
    s = F.col(score_col).cast("double")
    per = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("_s"))
        .agg(
            F.sum(y).alias("_np"),
            (F.count(F.lit(1)) - F.sum(y)).alias("_nn"),
        )
    )
    staged = prefix_scan(
        per,
        [F.col("_s").asc()],
        {"_below": ("sum", F.col("_nn"))},
        exclusive=True,
    )
    folded = staged.agg(
        F.sum("_np").cast("long").alias("n_pos"),
        F.sum("_nn").cast("long").alias("n_neg"),
        F.sum(
            F.col("_np").cast("double") * F.col("_below").cast("double")
            + F.col("_np").cast("double")
            * F.col("_nn").cast("double")
            / F.lit(2.0)
        ).alias("_u"),
    )
    auc = F.when(
        (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
        F.col("_u")
        / (F.col("n_pos").cast("double") * F.col("n_neg").cast("double")),
    )
    out = folded.select("n_pos", "n_neg", F.round(auc, 6).alias("auc"))
    return owned(out, staged)


def decile_lift(
    df: DataFrame,
    score_col: str,
    label_col: str,
    tiebreak_cols: list[str] | None = None,
    n_tiles: int = 10,
) -> DataFrame:
    """Gains/lift table for a binary-outcome score: rank rows by score
    DESCENDING into ``n_tiles`` equal buckets (1 = highest scores) and
    report per tile ``(decile, n, n_pos, pos_rate, capture,
    cum_capture, lift)`` — ``capture`` the tile's share of all
    positives, ``lift`` its positive rate over the base rate.  The
    standard "is the model worth deploying" readout: a useful score
    front-loads capture into decile 1.

    The ranking is ``ranges.global_rank`` + exact NTILE arithmetic on
    (rank, n) — the ``rfm_segments`` idiom, never a global ntile
    window.  ``tiebreak_cols`` must make the
    order total (ties across a tile edge are otherwise
    partition-lottery); NULL scores/labels drop.

    Cache contract: the returned frame owns the inner ``global_rank``
    frame, which owns its data-sized range checkpoint
    (``tests/test_cache_contract``).
    """
    from moz_datapipeline_spark.operators.ranges import global_rank

    if not tiebreak_cols:
        raise ValueError(
            "decile_lift: tiebreak_cols must make the order total"
        )
    y = F.col(label_col).cast("int")
    s = F.col(score_col).cast("double")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("_s"), y.alias("_y"), *tiebreak_cols
    )
    ranked = global_rank(
        base, "_s", list(tiebreak_cols), ascending=False, with_percent=False
    )
    n_row = ranked.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_pos")
    )
    q = int(n_tiles)
    staged = ranked.crossJoin(F.broadcast(n_row))
    basesz = F.expr(f"_n div {q}")
    rem = F.col("_n") % F.lit(q)
    fat = rem * (basesz + 1)
    rn = F.col("rank")
    tile = F.when(
        rn <= fat, (rn + basesz) / (basesz + 1)
    ).otherwise(rem + ((rn - fat + basesz - 1) / basesz)).cast("long")
    per = (
        staged.withColumn("decile", tile.cast("int"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_y").cast("long").alias("n_pos"),
            F.max("_n").alias("_nt"),
            F.max("_pos").alias("_post"),
        )
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    rate = F.col("n_pos").cast("double") / F.col("n").cast("double")
    base_rate = F.col("_post").cast("double") / F.col("_nt").cast("double")
    capture = F.when(
        F.col("_post") > 0,
        F.col("n_pos").cast("double") / F.col("_post").cast("double"),
    )
    out = per.select(
        "decile",
        "n",
        "n_pos",
        F.round(rate, 6).alias("pos_rate"),
        F.round(capture, 6).alias("capture"),
        F.round(
            F.when(
                F.col("_post") > 0,
                F.sum("n_pos").over(w).cast("double")
                / F.col("_post").cast("double"),
            ),
            6,
        ).alias("cum_capture"),
        F.round(
            F.when(base_rate > 0, rate / base_rate), 6
        ).alias("lift"),
    )
    return owned(out, ranked)


def spearman_corr(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Spearman rank correlation, one row ``(n, rho)`` — Pearson over
    AVERAGE ranks (the tie-correct definition): monotone association
    without Pearson's linearity assumption, robust to any monotone
    transform of either axis.

    Rank plan: one hash aggregate per column to its distinct-value
    rollup, both rollups tagged by axis into one ``ranges.prefix_scan``
    with ``by`` the axis (NEVER a data-sized global window): the
    average rank of a tied value is ``below + (cnt + 1)/2`` where
    ``below`` is the exclusive prefix count of strictly smaller values.
    Ranks join back on the value (two shuffle equi-joins), and rho
    comes from one final sums aggregate.

    Determinism: average ranks are exact half-integers, so every sum
    (Σr, Σr², Σrxry) is exact in double up to ~2^53 — the fold is
    order-independent and hash-matches any engine, unlike a
    moment-based ``corr`` over floats.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    )

    def rollup(col: str, axis: int) -> DataFrame:
        return (
            base.groupBy(F.col(col).alias("_val"))
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .withColumn("_axis", F.lit(axis))
        )

    scan = prefix_scan(
        rollup("_x", 0).unionByName(rollup("_y", 1)),
        [F.col("_val").asc()],
        {"_below": ("sum", F.col("_cnt"))},
        by=["_axis"],
        exclusive=True,
    )
    avg_rank = (
        F.col("_below").cast("double")
        + (F.col("_cnt").cast("double") + 1.0) / 2.0
    )

    def ranks(axis: int, col: str, out_name: str) -> DataFrame:
        return scan.filter(F.col("_axis") == axis).select(
            F.col("_val").alias(col), avg_rank.alias(out_name)
        )

    ranked = base.join(ranks(0, "_x", "_rx"), "_x").join(
        ranks(1, "_y", "_ry"), "_y"
    )
    folded = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_rx").alias("_sx"),
        F.sum("_ry").alias("_sy"),
        F.sum(F.col("_rx") * F.col("_rx")).alias("_sxx"),
        F.sum(F.col("_ry") * F.col("_ry")).alias("_syy"),
        F.sum(F.col("_rx") * F.col("_ry")).alias("_sxy"),
    )
    nn = F.col("n").cast("double")
    cov = F.col("_sxy") - F.col("_sx") * F.col("_sy") / nn
    vx = F.col("_sxx") - F.col("_sx") * F.col("_sx") / nn
    vy = F.col("_syy") - F.col("_sy") * F.col("_sy") / nn
    rho = F.when(
        (F.col("n") > 1) & (vx > 0) & (vy > 0),
        cov / F.sqrt(vx * vy),
    )
    return owned(folded.select("n", F.round(rho, 6).alias("rho")), scan)


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Association strength between two CATEGORICAL columns, one row
    ``(n, levels_a, levels_b, chi2, v)`` — Pearson chi-square over the
    contingency table, normalized to Cramér's V = sqrt(χ² / (n·(min(r,
    c) − 1))) ∈ [0, 1].  The categorical counterpart of correlation:
    feature redundancy checks, leakage screens, segmentation audits.
    NULL in either column drops the row (a NULL level is usually a
    missing-data artifact, not a category).

    Plan: ONE hash aggregate to the |A|×|B| contingency rollup; row
    and column totals re-aggregate from that rollup (matrix-sized, not
    data-sized) and broadcast back; expected counts and the χ² fold
    are arithmetic over the rollup.  Integer counts all the way — the
    fold is exact and engine-portable.
    """
    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
    cells = base.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_o"))
    row_tot = cells.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    col_tot = cells.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    staged = (
        cells.join(F.broadcast(row_tot), "_a")
        .join(F.broadcast(col_tot), "_b")
        .crossJoin(
            F.broadcast(
                cells.agg(
                    F.sum("_o").alias("_n"),
                    F.count_distinct("_a").alias("_la"),
                    F.count_distinct("_b").alias("_lb"),
                )
            )
        )
    )
    e = (
        F.col("_ra").cast("double")
        * F.col("_cb").cast("double")
        / F.col("_n").cast("double")
    )
    # χ² = Σ o²/e − n: algebraically identical to Σ(o−e)²/e over the
    # FULL r×c grid, but exact when summing only the OBSERVED cells
    # (a zero cell contributes 0 to Σo²/e; the naive form would need
    # its missing e term) — so empty cells never need materializing
    folded = staged.agg(
        F.max("_n").cast("long").alias("n"),
        F.max("_la").cast("int").alias("levels_a"),
        F.max("_lb").cast("int").alias("levels_b"),
        (
            F.sum(
                F.col("_o").cast("double") * F.col("_o").cast("double") / e
            )
            - F.max("_n").cast("double")
        ).alias("_chi2"),
    )
    mindim = F.least(F.col("levels_a"), F.col("levels_b")) - F.lit(1)
    v = F.when(
        (F.col("n") > 0) & (mindim > 0),
        F.sqrt(
            F.col("_chi2") / (F.col("n").cast("double") * mindim.cast("double"))
        ),
    )
    return folded.select(
        "n",
        "levels_a",
        "levels_b",
        F.round("_chi2", 6).alias("chi2"),
        F.round(v, 6).alias("v"),
    )


def anova_oneway(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """One-way ANOVA, one row ``(k, n, ss_between, ss_within, f_stat,
    eta_sq)`` — do the group means differ more than within-group noise
    explains?  ``eta_sq`` = SSB/SST is the variance-explained effect
    size (the readout that survives large n, where any F is
    "significant").

    Plan: ONE per-group hash aggregate ``(n_g, Σx, Σx²)``
    (map-side-combined), then a k-row fold — SSW = Σ_g(Σx² − (Σx)²/n_g)
    and SSB from the group sums against the grand mean.  No second
    data pass, no joins.  Feed integer-valued or fixed-point columns
    when hash-matching across engines: the two-sum form is exact for
    exactly-representable inputs.  NULL values and NULL groups drop
    (GROUP BY keeps NULL, but a NULL treatment arm is a data bug —
    filter upstream if it is real).  Degenerate inputs (k < 2 or
    n ≤ k) yield NULL f_stat.
    """
    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("_g"), x.alias("_x")
    )
    per = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_s"),
        F.sum(F.col("_x") * F.col("_x")).alias("_ss"),
    )
    folded = per.agg(
        F.count(F.lit(1)).cast("int").alias("k"),
        F.sum("_n").cast("long").alias("n"),
        F.sum("_s").alias("_ts"),
        F.sum("_ss").alias("_tss"),
        F.sum(F.col("_s") * F.col("_s") / F.col("_n").cast("double")).alias(
            "_sgs"
        ),
    )
    nn = F.col("n").cast("double")
    ssb = F.col("_sgs") - F.col("_ts") * F.col("_ts") / nn
    ssw = F.col("_tss") - F.col("_sgs")
    sst = ssb + ssw
    kk = F.col("k").cast("double")
    f_stat = F.when(
        (F.col("k") > 1) & (F.col("n") > F.col("k")) & (ssw > 0),
        (ssb / (kk - 1.0)) / (ssw / (nn - kk)),
    )
    eta = F.when(sst > 0, ssb / sst)
    return folded.select(
        "k",
        "n",
        F.round(ssb, 6).alias("ss_between"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(f_stat, 6).alias("f_stat"),
        F.round(eta, 6).alias("eta_sq"),
    )


def brown_forsythe(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Brown–Forsythe equal-variance test (Levene's test with the
    MEDIAN center — robust to non-normal tails), one row ``(k, n,
    f_stat)``: one-way ANOVA over the per-group absolute deviations
    ``|x − median_g|``.  The gate before trusting a pooled-variance
    t-test or ANOVA: heteroscedastic arms break both.

    Medians come from ``ranges.exact_quantiles_grouped`` (distributed
    histogram selection) and inline as a literal map when the grouping
    is low-cardinality; the fallback is the builtin per-group
    percentile with a broadcast join back.  Deviations then ride the
    same one-aggregate ANOVA fold as ``anova_oneway``.
    """
    from moz_datapipeline_spark.operators.ranges import (
        exact_quantiles_grouped,
    )

    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("_g"), x.alias("_x")
    )
    med = exact_quantiles_grouped(base, "_g", "_x", [0.5])
    if med is not None and all(k is not None for k in med):
        med_m = F.create_map(
            *[c for k, v in med.items() for c in (F.lit(k), F.lit(v[0]))]
        )
        devd = base.select(
            "_g", F.abs(F.col("_x") - F.element_at(med_m, F.col("_g"))).alias("_d")
        )
    else:
        med_df = base.groupBy("_g").agg(
            F.expr("percentile(_x, 0.5)").alias("_med")
        )
        devd = base.join(F.broadcast(med_df), "_g").select(
            "_g", F.abs(F.col("_x") - F.col("_med")).alias("_d")
        )
    out = anova_oneway(devd, "_g", "_d")
    return out.select("k", "n", "f_stat")


def proportion_ztest(
    df: DataFrame,
    group_col: str,
    success_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Two-proportion z-test, one row ``(n_a, n_b, conv_a, conv_b,
    rate_a, rate_b, z, significant)`` — the conversion-rate A/B
    readout: pooled-variance z = (p_a − p_b)/sqrt(p(1−p)(1/n_a +
    1/n_b)), ``significant`` at |z| > 1.96 (two-sided 5%).

    Plan: ONE conditional-sum aggregate over the two arms (rows
    outside both arms are filtered before the fold).  Integer counts
    all the way to the final division — exact and engine-portable.
    A missing or empty arm yields NULL z (the 1-row anchor is the
    aggregate itself: conditional sums over zero rows are 0/NULL,
    never a dropped row).
    """
    y = F.col(success_col).cast("int")
    g = F.col(group_col)
    base = df.filter(g.isin([group_a, group_b]) & y.isNotNull())
    is_a = (g == F.lit(group_a)).cast("int")
    is_b = (g == F.lit(group_b)).cast("int")
    folded = base.agg(
        F.coalesce(F.sum(is_a), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum(is_b), F.lit(0)).cast("long").alias("n_b"),
        F.coalesce(F.sum(is_a * y), F.lit(0)).cast("long").alias("conv_a"),
        F.coalesce(F.sum(is_b * y), F.lit(0)).cast("long").alias("conv_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    pa = F.col("conv_a").cast("double") / na
    pb = F.col("conv_b").cast("double") / nb
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (na + nb)
    se = F.sqrt(pool * (1.0 - pool) * (1.0 / na + 1.0 / nb))
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (se > 0), (pa - pb) / se
    )
    return folded.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(F.when(F.col("n_a") > 0, pa), 6).alias("rate_a"),
        F.round(F.when(F.col("n_b") > 0, pb), 6).alias("rate_b"),
        F.round(z, 6).alias("z"),
        F.when(z.isNotNull(), (F.abs(z) > 1.96).cast("int")).alias(
            "significant"
        ),
    )


def tukey_hsd(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Tukey HSD pairwise contrasts after a one-way ANOVA: one row per
    unordered group pair ``(group_a, group_b, n_a, n_b, mean_diff, se,
    q_stat)`` — ``q_stat = |mean_a − mean_b| / sqrt(MSW/2·(1/n_a +
    1/n_b))``, the studentized-range statistic (Tukey–Kramer form for
    unequal n).  The follow-up ANOVA demands: WHICH means differ, with
    the family-wise error controlled by comparing q against the
    studentized-range critical value for (k, n−k) — quantiles of that
    distribution are a lookup the caller applies; the statistic is the
    distributed part.

    Plan: one per-group ``(n, Σx, Σx²)`` hash aggregate, MSW from the
    k-row fold, then a k×k self-join of the K-ROW rollup (never the
    data) filtered to the upper triangle.  Pairs are ordered by group
    key so output is deterministic.
    """
    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("_g"), x.alias("_x")
    )
    per = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_x").alias("_s"),
        F.sum(F.col("_x") * F.col("_x")).alias("_ss"),
    )
    msw = per.agg(
        (
            F.sum(
                F.col("_ss") - F.col("_s") * F.col("_s") / F.col("_n").cast("double")
            )
            / (F.sum("_n") - F.count(F.lit(1))).cast("double")
        ).alias("_msw")
    )
    a = per.select(
        F.col("_g").alias("group_a"),
        F.col("_n").alias("n_a"),
        (F.col("_s") / F.col("_n").cast("double")).alias("_ma"),
    )
    b = per.select(
        F.col("_g").alias("group_b"),
        F.col("_n").alias("n_b"),
        (F.col("_s") / F.col("_n").cast("double")).alias("_mb"),
    )
    pairs = (
        a.crossJoin(b)
        .filter(F.col("group_a") < F.col("group_b"))
        .crossJoin(F.broadcast(msw))
    )
    diff = F.col("_ma") - F.col("_mb")
    se = F.sqrt(
        F.col("_msw")
        / 2.0
        * (
            1.0 / F.col("n_a").cast("double")
            + 1.0 / F.col("n_b").cast("double")
        )
    )
    q = F.when((F.col("_msw") > 0), F.abs(diff) / se)
    return pairs.select(
        "group_a",
        "group_b",
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.round(diff, 6).alias("mean_diff"),
        F.round(se, 6).alias("se"),
        F.round(q, 6).alias("q_stat"),
    )


def cohens_d(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Cohen's d effect size between two named arms, one row ``(n_a,
    n_b, mean_a, mean_b, pooled_sd, d)`` — the standardized mean
    difference with the pooled SAMPLE standard deviation
    ``sqrt(((n_a−1)s_a² + (n_b−1)s_b²) / (n_a+n_b−2))``.  The number a
    significance test refuses to give you: HOW BIG the difference is
    in noise units (0.2 small / 0.5 medium / 0.8 large by convention).

    Plan: one conditional-sum aggregate over both arms (n, Σx, Σx² per
    arm in a single pass), everything after is arithmetic on one row.
    Degenerate arms (n < 2 total per arm, zero pooled variance) yield
    NULL d.
    """
    x = F.col(value_col).cast("double")
    g = F.col(group_col)
    base = df.filter(g.isin([group_a, group_b]) & x.isNotNull())
    ia = (g == F.lit(group_a)).cast("int").cast("double")
    ib = (g == F.lit(group_b)).cast("int").cast("double")
    folded = base.agg(
        F.coalesce(F.sum(ia), F.lit(0.0)).alias("_na"),
        F.coalesce(F.sum(ib), F.lit(0.0)).alias("_nb"),
        F.coalesce(F.sum(ia * x), F.lit(0.0)).alias("_sa"),
        F.coalesce(F.sum(ib * x), F.lit(0.0)).alias("_sb"),
        F.coalesce(F.sum(ia * x * x), F.lit(0.0)).alias("_ssa"),
        F.coalesce(F.sum(ib * x * x), F.lit(0.0)).alias("_ssb"),
    )
    na, nb = F.col("_na"), F.col("_nb")
    ma = F.when(na > 0, F.col("_sa") / na)
    mb = F.when(nb > 0, F.col("_sb") / nb)
    ssw_a = F.col("_ssa") - F.col("_sa") * F.col("_sa") / na
    ssw_b = F.col("_ssb") - F.col("_sb") * F.col("_sb") / nb
    # ANSI guard: the when() must also assert BOTH arms non-empty or
    # the lazily-branched ssw terms still divide by a zero count
    pooled = F.when(
        (na > 0) & (nb > 0) & (na + nb > 2),
        F.sqrt((ssw_a + ssw_b) / (na + nb - 2.0)),
    )
    d = F.when(
        (na > 0) & (nb > 0) & pooled.isNotNull() & (pooled > 0),
        (ma - mb) / pooled,
    )
    return folded.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(pooled, 6).alias("pooled_sd"),
        F.round(d, 6).alias("d"),
    )


def moments_profile(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group distribution shape: ``(group, n, mean, stddev,
    skewness, kurtosis)`` — POPULATION moments from raw power sums
    (m2 = Σx²/n − μ², m3/m2^1.5, m4/m2² − 3 excess kurtosis).  The
    shape profile behind transform decisions (log it? winsorize it?)
    and drift monitoring one level deeper than mean/std.

    Plan: ONE per-group hash aggregate carrying (n, Σx, Σx², Σx³, Σx⁴)
    — map-side combined, no second pass, no windows.  Population (not
    sample-corrected) formulas, stated here because engines disagree
    on the default: DuckDB's skewness() is sample-corrected, Spark's
    skewness() is population — raw sums sidestep both.  Degenerate
    groups (n < 2 or zero variance) yield NULL shape stats.
    """
    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull() & F.col(group_col).isNotNull()).select(
        F.col(group_col).alias("grp"), x.alias("_x")
    )
    per = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_s1"),
        F.sum(F.pow("_x", 2)).alias("_s2"),
        F.sum(F.pow("_x", 3)).alias("_s3"),
        F.sum(F.pow("_x", 4)).alias("_s4"),
    )
    nn = F.col("n").cast("double")
    mu = F.col("_s1") / nn
    m2 = F.col("_s2") / nn - mu * mu
    m3 = F.col("_s3") / nn - 3.0 * mu * F.col("_s2") / nn + 2.0 * mu * mu * mu
    m4 = (
        F.col("_s4") / nn
        - 4.0 * mu * F.col("_s3") / nn
        + 6.0 * mu * mu * F.col("_s2") / nn
        - 3.0 * mu * mu * mu * mu
    )
    ok = (F.col("n") > 1) & (m2 > 0)
    return per.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(mu, 6).alias("mean"),
        F.round(F.when(ok, F.sqrt(m2)), 6).alias("stddev"),
        F.round(F.when(ok, m3 / F.pow(F.sqrt(m2), 3)), 6).alias("skewness"),
        F.round(F.when(ok, m4 / (m2 * m2) - 3.0), 6).alias("kurtosis"),
    )


def pythagorean_means(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group arithmetic / geometric / harmonic means over STRICTLY
    POSITIVE values: ``(group, n, amean, gmean, hmean)`` — gmean =
    exp(Σln x / n), hmean = n / Σ(1/x).  The right averages for rates
    and ratios (a plain mean of rates is the classic aggregation bug:
    AM ≥ GM ≥ HM, and averaging speeds or price ratios wants HM/GM).
    Non-positive values are EXCLUDED (ln/reciprocal undefined) — n
    counts the used rows, so the caller can see how much was dropped.

    Plan: one per-group hash aggregate carrying (n, Σx, Σln x, Σ1/x).
    """
    x = F.col(value_col).cast("double")
    base = df.filter(
        x.isNotNull() & (x > 0) & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("grp"), x.alias("_x"))
    per = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_x").alias("_s"),
        F.sum(F.log("_x")).alias("_sl"),
        F.sum(1.0 / F.col("_x")).alias("_sr"),
    )
    nn = F.col("n").cast("double")
    return per.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n"),
        F.round(F.col("_s") / nn, 6).alias("amean"),
        F.round(F.exp(F.col("_sl") / nn), 6).alias("gmean"),
        F.round(nn / F.col("_sr"), 6).alias("hmean"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    trim: float = 0.05,
) -> DataFrame:
    """Symmetric trimmed mean, one row ``(n, n_used, lo_cut, hi_cut,
    trimmed_mean)`` — the mean of values within the exact [trim,
    1−trim] quantile band.  The robust location estimate between the
    mean (breaks on one outlier) and the median (throws away 100% of
    the magnitude information): standard for latency and spend
    rollups.

    The cut points come from ``ranges.exact_quantiles`` (distributed
    histogram selection, recursion-backed — never the builtin's
    single-task sort) and inline as LITERALS, so the trim itself is
    ONE conditional-sum aggregate.  Values EQUAL to a cut stay in
    (closed band), making the result reproducible against the oracle's
    quantile_cont cuts.
    """
    from moz_datapipeline_spark.operators.ranges import exact_quantiles

    if not (0.0 <= trim < 0.5):
        raise ValueError("trimmed_mean: need 0 <= trim < 0.5")
    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull()).select(x.alias("_x"))
    cuts = exact_quantiles(base, "_x", [trim, 1.0 - trim])
    if cuts is None:
        cuts_df = base.agg(
            F.expr(f"percentile(_x, {trim})").alias("_lo"),
            F.expr(f"percentile(_x, {1.0 - trim})").alias("_hi"),
        )
        staged = base.crossJoin(F.broadcast(cuts_df))
        lo_c, hi_c = F.col("_lo"), F.col("_hi")
    else:
        staged = base
        lo_c, hi_c = F.lit(cuts[0]), F.lit(cuts[1])
    inband = (F.col("_x") >= lo_c) & (F.col("_x") <= hi_c)
    folded = staged.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(inband.cast("long")).cast("long").alias("n_used"),
        F.max(lo_c).alias("_lo_v"),
        F.max(hi_c).alias("_hi_v"),
        F.sum(F.when(inband, F.col("_x"))).alias("_s"),
    )
    return folded.select(
        "n",
        "n_used",
        F.round(F.col("_lo_v"), 6).alias("lo_cut"),
        F.round(F.col("_hi_v"), 6).alias("hi_cut"),
        F.round(
            F.when(F.col("n_used") > 0, F.col("_s") / F.col("n_used")), 6
        ).alias("trimmed_mean"),
    )


def iqr_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    k: float = 1.5,
) -> DataFrame:
    """Tukey-fence outlier readout per group: ``(*group_cols, n, q1,
    q3, iqr, lo_fence, hi_fence, n_outliers)`` — the boxplot rule
    (fences at q1 − k·IQR / q3 + k·IQR, k = 1.5 classic).  The
    quartile sibling of ``mad_outliers``: IQR reads asymmetry the
    symmetric MAD folds away, MAD survives >25% contamination IQR
    does not.

    Quartiles come from ``ranges.exact_quantiles[_grouped]``
    (recursion-backed distributed histogram selection) and inline as
    LITERALS, so the outlier count is ONE conditional-sum aggregate.
    The fallback (high-cardinality or NULL-keyed groupings) is the
    builtin percentile with a null-safe broadcast join back — the
    ``mad_outliers`` contract.
    """
    from moz_datapipeline_spark.operators.ranges import (
        exact_quantiles,
        exact_quantiles_grouped,
    )

    gcols = list(group_cols or [])
    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull()).select(*gcols, x.alias("_x"))

    q1_c = q3_c = None
    if len(gcols) == 1:
        qs = exact_quantiles_grouped(base, gcols[0], "_x", [0.25, 0.75])
        if qs is not None and all(kk is not None for kk in qs):
            g = F.col(gcols[0])
            q1_c = F.element_at(
                F.create_map(
                    *[c for kk, v in qs.items() for c in (F.lit(kk), F.lit(v[0]))]
                ),
                g,
            )
            q3_c = F.element_at(
                F.create_map(
                    *[c for kk, v in qs.items() for c in (F.lit(kk), F.lit(v[1]))]
                ),
                g,
            )
    elif not gcols:
        qv = exact_quantiles(base, "_x", [0.25, 0.75])
        if qv is not None:
            q1_c, q3_c = F.lit(qv[0]), F.lit(qv[1])

    if q1_c is None:
        med = base.groupBy(*gcols).agg(
            F.expr("percentile(_x, 0.25)").alias("_q1"),
            F.expr("percentile(_x, 0.75)").alias("_q3"),
        )
        if gcols:
            med_r = med.select(
                *[F.col(c).alias(f"_r_{c}") for c in gcols], "_q1", "_q3"
            )
            cond = F.lit(True)
            for c in gcols:
                cond = cond & F.col(c).eqNullSafe(F.col(f"_r_{c}"))
            base = base.join(F.broadcast(med_r), cond).drop(
                *[f"_r_{c}" for c in gcols]
            )
        else:
            base = base.crossJoin(F.broadcast(med))
        q1_c, q3_c = F.col("_q1"), F.col("_q3")

    iqr = q3_c - q1_c
    lo = q1_c - F.lit(float(k)) * iqr
    hi = q3_c + F.lit(float(k)) * iqr
    is_out = ((F.col("_x") < lo) | (F.col("_x") > hi)).cast("long")
    return base.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.max(q1_c), 6).alias("q1"),
        F.round(F.max(q3_c), 6).alias("q3"),
        F.round(F.max(iqr), 6).alias("iqr"),
        F.round(F.max(lo), 6).alias("lo_fence"),
        F.round(F.max(hi), 6).alias("hi_fence"),
        F.sum(is_out).cast("long").alias("n_outliers"),
    )


def theil_u(
    df: DataFrame,
    col_a: str,
    col_b: str,
) -> DataFrame:
    """Theil's uncertainty coefficient U(A|B), one row ``(n, h_a,
    h_a_given_b, u)`` — the ASYMMETRIC categorical association
    ``(H(A) − H(A|B)) / H(A)`` ∈ [0, 1]: how much of A's entropy B
    explains.  The question Cramér's V cannot answer: V is symmetric,
    but "zip code determines store" and "store determines zip code"
    are different claims.

    Plan: one |A|×|B| contingency hash aggregate; H(A) and H(A|B) are
    algebraic folds over that rollup (Σ c·ln c forms — no per-group
    lists), integer counts until the ln.  A constant A (H(A) = 0)
    yields NULL u.  NULL in either column drops the row.
    """
    base = df.filter(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(F.col(col_a).alias("_a"), F.col(col_b).alias("_b"))
    cells = base.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_c"))
    ca = cells.groupBy("_a").agg(F.sum("_c").alias("_ra"))
    cb = cells.groupBy("_b").agg(F.sum("_c").alias("_cb"))
    nrow = cells.agg(F.sum("_c").alias("_n"))
    cd = F.col("_c").cast("double")
    # H(A|B) = -(Σ_cells c·ln(c/col_total)) / n
    joint = (
        cells.join(F.broadcast(cb), "_b")
        .agg(
            F.sum(
                cd * F.log(cd / F.col("_cb").cast("double"))
            ).alias("_sab")
        )
    )
    marg = ca.agg(
        F.sum(
            F.col("_ra").cast("double")
            * F.log(F.col("_ra").cast("double"))
        ).alias("_sa")
    )
    folded = nrow.crossJoin(F.broadcast(marg)).crossJoin(
        F.broadcast(joint)
    )
    nn = F.col("_n").cast("double")
    h_a = F.log(nn) - F.col("_sa") / nn
    h_ab = -F.col("_sab") / nn
    u = F.when(h_a > 0, (h_a - h_ab) / h_a)
    return folded.select(
        F.col("_n").cast("long").alias("n"),
        F.round(h_a, 6).alias("h_a"),
        F.round(h_ab, 6).alias("h_a_given_b"),
        F.round(u, 6).alias("u"),
    )


def nelson_aalen(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Nelson–Aalen cumulative hazard: ``(*group_cols, duration,
    n_at_risk, n_events, cum_hazard)`` — H(t) = Σ_{u≤t} d_u/n_u over
    distinct durations.  The additive sibling of ``kaplan_meier``'s
    product-limit curve: hazards of disjoint groups ADD, so it is the
    right estimator for competing-risk decomposition, and ln(KM) ≈
    −H(t) is the standard cross-check between the two.

    Same plan shape as ``kaplan_meier``: one hash aggregate to the
    |distinct durations| rollup, an exclusive prefix sum for the risk
    set, one running sum of d/n — every window partitioned by
    ``group_cols`` (or over the duration-cardinality rollup when
    global), never over raw rows.
    """
    gcols = list(group_cols or [])
    d = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    base = df.filter(d.isNotNull()).select(
        *gcols, d.alias("_t"), ev.alias("_e")
    )
    per = base.groupBy(*gcols, "_t").agg(
        F.sum("_e").alias("_d"),
        (F.count(F.lit(1)) - F.sum("_e")).alias("_c"),
    )
    wtot = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    wcum = (
        (Window.partitionBy(*gcols) if gcols else Window.partitionBy())
        .orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wrun = (
        (Window.partitionBy(*gcols) if gcols else Window.partitionBy())
        .orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    n_total = F.sum(F.col("_d") + F.col("_c")).over(wtot)
    removed = F.coalesce(
        F.sum(F.col("_d") + F.col("_c")).over(wcum), F.lit(0)
    )
    staged = per.withColumn("_n", (n_total - removed).cast("long"))
    hterm = F.col("_d").cast("double") / F.col("_n").cast("double")
    return staged.select(
        *gcols,
        F.col("_t").alias("duration"),
        F.col("_n").alias("n_at_risk"),
        F.col("_d").cast("long").alias("n_events"),
        F.round(F.sum(hterm).over(wrun), 6).alias("cum_hazard"),
    )


def lorenz_curve(
    df: DataFrame,
    value_col: str,
    n_points: int = 10,
) -> DataFrame:
    """Lorenz curve points: ``(tile, cum_pop_share, cum_value_share)``
    for ``n_points`` equal population tiles of NON-NEGATIVE values
    sorted ascending — the inequality curve ``gini_concentration``
    summarizes to one number (the curve shows WHERE the concentration
    lives: a whale-dominated tail vs a starving middle).

    The population split is ``ranges.global_rank`` + exact
    NTILE arithmetic (the ``rfm_segments`` idiom — never a global
    ntile window); per-tile sums hash-aggregate, and the ≤
    ``n_points``-row cumulative fold runs over the tile rollup.
    Values tie-break by rank order, so tile edges are deterministic
    for any input with a total order on (value, tiebreak) — feed
    integer cents when hash-matching engines (exact sums).  Negative
    values raise (shares lose monotonicity) — fail loud, the
    ``gini_concentration`` contract.
    """
    from moz_datapipeline_spark.operators.ranges import global_rank

    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull()).select(
        x.alias("_x"), F.monotonically_increasing_id().alias("_mid")
    )
    neg = base.filter(F.col("_x") < 0).limit(1).collect()
    if neg:
        raise ValueError(
            "lorenz_curve: negative values break share monotonicity"
        )
    ranked = global_rank(base, "_x", ["_mid"], with_percent=False)
    q = int(n_points)
    nrow = ranked.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_x").alias("_tot")
    )
    staged = ranked.crossJoin(F.broadcast(nrow))
    basesz = F.expr(f"_n div {q}")
    rem = F.col("_n") % F.lit(q)
    fat = rem * (basesz + 1)
    rn = F.col("rank")
    tile = F.when(
        rn <= fat, (rn + basesz) / (basesz + 1)
    ).otherwise(rem + ((rn - fat + basesz - 1) / basesz)).cast("long")
    per = (
        staged.withColumn("tile", tile.cast("int"))
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.sum("_x").alias("_s"),
            F.max("_n").alias("_nt"),
            F.max("_tot").alias("_tt"),
        )
    )
    # materialize the ≤ n_points tile rollup BEFORE releasing the
    # ranked checkpoint — the rollup plan reads it
    per = per.localCheckpoint()
    ranked.unpersist()
    w = Window.orderBy("tile").rowsBetween(Window.unboundedPreceding, 0)
    out = per.select(
        "tile",
        F.round(
            F.sum("_cnt").over(w).cast("double") / F.col("_nt").cast("double"),
            6,
        ).alias("cum_pop_share"),
        F.round(
            F.when(
                F.col("_tt") > 0, F.sum("_s").over(w) / F.col("_tt")
            ),
            6,
        ).alias("cum_value_share"),
    )
    return owned(out, per)


def heatmap_bins(
    df: DataFrame,
    x_col: str,
    y_col: str,
    x_bins: int = 20,
    y_bins: int = 20,
) -> DataFrame:
    """2-D equal-width density grid: ``(x_bin, y_bin, n)`` over the
    data's own [min, max] ranges (max clamps into the last bin) —
    the joint-distribution readout behind heatmaps, drift eyeballing,
    and quick dependence checks before committing to a statistic.

    Plan: one (min, max) row for both axes, then ONE hash aggregate
    to the ≤ x_bins·y_bins grid — map-side combined, grid-sized
    exchange.  Constant axes collapse to bin 0.  NULLs in either
    column drop.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull()).select(
        x.alias("_x"), y.alias("_y")
    )
    head = base.agg(
        F.min("_x").alias("xlo"), F.max("_x").alias("xhi"),
        F.min("_y").alias("ylo"), F.max("_y").alias("yhi"),
    ).collect()
    if not head or head[0]["xlo"] is None:
        return base.select(
            F.lit(0).alias("x_bin"), F.lit(0).alias("y_bin"),
            F.lit(0).cast("long").alias("n"),
        ).limit(0)
    xlo, xhi, ylo, yhi = (
        head[0]["xlo"], head[0]["xhi"], head[0]["ylo"], head[0]["yhi"]
    )

    def _bin(col, lo, hi, nb):
        w = (hi - lo) / nb
        if not (w > 0.0):
            return F.lit(0)
        return F.least(
            F.floor((col - F.lit(lo)) / F.lit(w)), F.lit(nb - 1)
        ).cast("int")

    return (
        base.groupBy(
            _bin(F.col("_x"), xlo, xhi, int(x_bins)).alias("x_bin"),
            _bin(F.col("_y"), ylo, yhi, int(y_bins)).alias("y_bin"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


def wilson_ci(
    df: DataFrame,
    group_col: str,
    success_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Per-group binomial rate with the Wilson score interval:
    ``(group, n, conversions, rate, ci_lo, ci_hi)`` — the interval
    that behaves at small n and extreme rates where the naive normal
    (Wald) interval collapses to zero width or escapes [0, 1].  The
    per-segment readout every conversion dashboard should use.

    ONE hash aggregate (integer counts), closed-form arithmetic in
    the same row:

        center = (p + z²/2n) / (1 + z²/n)
        half   = z/(1 + z²/n) · sqrt(p(1−p)/n + z²/4n²)

    Zero-row groups cannot occur (GROUP BY), NULL successes drop.
    """
    y = F.col(success_col).cast("int")
    base = df.filter(y.isNotNull() & F.col(group_col).isNotNull())
    per = base.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(y).cast("long").alias("conversions"),
    )
    zz = float(z) * float(z)
    nn = F.col("n").cast("double")
    p = F.col("conversions").cast("double") / nn
    denom = 1.0 + F.lit(zz) / nn
    center = (p + F.lit(zz) / (2.0 * nn)) / denom
    half = (
        F.lit(float(z))
        / denom
        * F.sqrt(p * (1.0 - p) / nn + F.lit(zz) / (4.0 * nn * nn))
    )
    return per.select(
        F.col("grp").alias(group_col),
        "n",
        "conversions",
        F.round(p, 6).alias("rate"),
        F.round(center - half, 6).alias("ci_lo"),
        F.round(center + half, 6).alias("ci_hi"),
    )


def dp_noisy_counts(
    df: DataFrame,
    group_col: str,
    epsilon: float = 1.0,
    seed: str = "dp",
) -> DataFrame:
    """Per-group counts with ε-differential-privacy Laplace noise:
    ``(group, noisy_count)`` — count + Laplace(1/ε) (sensitivity 1
    for a count), the release primitive for sharing group sizes
    without certifying any individual's presence.  TRUE counts are
    deliberately NOT returned — emitting them beside the noise would
    defeat the release (join the un-noised aggregate separately when
    you are on the trusted side).

    The noise is DETERMINISTIC given (seed, group): the uniform draw
    is the engine-portable md5 hash of ``seed:group`` (the
    ``bootstrap_ci`` idiom) pushed through the inverse-CDF
    ``−(1/ε)·sign(u−½)·ln(1−2|u−½|)`` — so releases are reproducible,
    replayable in the DuckDB oracle, and adding a group never
    re-rolls another group's noise (the stability property
    per-partition RNGs lack).  One hash aggregate; noise is
    group-cardinality-sized arithmetic.
    """
    if epsilon <= 0:
        raise ValueError("dp_noisy_counts: need epsilon > 0")
    per = df.filter(F.col(group_col).isNotNull()).groupBy(
        F.col(group_col).alias("grp")
    ).agg(F.count(F.lit(1)).alias("_c"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col("grp").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(1 << 60))
    centered = u - 0.5
    lap = (
        -(1.0 / F.lit(float(epsilon)))
        * F.signum(centered)
        * F.log(1.0 - 2.0 * F.abs(centered))
    )
    return per.select(
        F.col("grp").alias(group_col),
        F.round(F.col("_c").cast("double") + lap, 6).alias("noisy_count"),
    )


def abc_analysis(
    df: DataFrame,
    key_col: str,
    value_col: str,
    a_share: float = 0.8,
    b_share: float = 0.95,
) -> DataFrame:
    """ABC / Pareto classification: ``(key, value, cum_share,
    abc_class)`` — items sorted by value DESCENDING, class A while the
    running share of total value ≤ ``a_share``, B to ``b_share``, C
    after (boundary items classify by the share INCLUDING themselves,
    the standard inventory convention).  The working cut behind
    "80% of revenue is 20% of SKUs": stock A tightly, spot-check B,
    automate C.

    The running share is a ``ranges.prefix_scan`` sum over the
    per-key rollup in (value DESC, key ASC) order (never a global
    single-partition window, which at a 10⁸-SKU catalog is the sort
    that never finishes).  Negative totals raise (cumulative share loses monotonicity — the
    ``lorenz_curve`` contract).
    """
    x = F.col(value_col).cast("double")
    per = df.groupBy(F.col(key_col).alias("key")).agg(
        F.sum(x).alias("value")
    )
    if per.filter(F.col("value") < 0).limit(1).collect():
        raise ValueError(
            "abc_analysis: negative totals break share monotonicity"
        )
    staged = prefix_scan(
        per,
        [F.col("value").desc(), F.col("key").asc()],
        {"_cum": ("sum", F.col("value"))},
        totals={"_t": ("sum", F.col("value"))},
    )
    share = F.when(F.col("_t") > 0, F.col("_cum") / F.col("_t"))
    out = staged.select(
        F.col("key").alias(key_col),
        F.round("value", 6).alias("value"),
        F.round(share, 6).alias("cum_share"),
        F.when(share <= F.lit(float(a_share)), F.lit("A"))
        .when(share <= F.lit(float(b_share)), F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )
    return owned(out, staged)


def group_mode(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Per-group mode with a deterministic tiebreak: ``(group, mode,
    mode_count, n_distinct)`` — the most frequent value, ties resolved
    to the SMALLEST value (engines disagree on arbitrary-tie ``mode()``
    — a partition-lottery mode is a flaky pipeline).

    Plan: one (group, value) hash aggregate, then an argmax struct
    fold ``max(struct(count, value_desc_key))`` per group — two
    map-side-combined aggregates, no window, no sort.  The tiebreak
    rides the struct comparison: count first, then the NEGATED
    orderable value key so the smallest value wins among tied counts
    (strings compare via their byte order on a fixed-width md5-free
    path: we keep the raw value and invert comparison by sorting on
    (count, value) with ``min`` over equal counts — implemented as a
    two-level struct: max by count, min by value).
    """
    base = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )
    per = base.groupBy(
        F.col(group_col).alias("grp"), F.col(value_col).alias("val")
    ).agg(F.count(F.lit(1)).alias("_c"))
    # argmax by count with min-value tiebreak: max(struct(c, negkey))
    # needs an orderable negation for arbitrary types, so instead take
    # max(c) per group first, then min(val) among rows at that count —
    # two group-sized aggregates + one broadcast join (peak is
    # group-sized, 3 narrow columns; broadcasting it keeps the
    # (group × value) rollup from re-shuffling — at group cardinality
    # past driver memory, drop the hint and let AQE pick the join)
    peak = per.groupBy("grp").agg(
        F.max("_c").alias("_peak"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    out = (
        per.join(F.broadcast(peak), "grp")
        .filter(F.col("_c") == F.col("_peak"))
        .groupBy("grp")
        .agg(
            F.min("val").alias("mode"),
            F.max("_peak").cast("long").alias("mode_count"),
            F.max("n_distinct").alias("n_distinct"),
        )
    )
    return out.withColumnRenamed("grp", group_col)


def log_rank_test(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
) -> DataFrame:
    """Two-sample log-rank test, one row ``(n_a, n_b, observed_a,
    expected_a, chi2, significant)`` — do two survival curves differ?
    The hypothesis test that pairs with ``kaplan_meier``'s picture: at
    every distinct event time t, group A's expected events under H₀
    are ``d_t · n_At / n_t``; the statistic is
    ``(Σ O_A − Σ E_A)² / Σ V_t`` with the hypergeometric variance
    ``V_t = d_t (n_t−d_t) n_At n_Bt / (n_t² (n_t−1))``, χ²₁-distributed
    (``significant`` at 3.841, two-sided 5%).

    Plan shape: the ``kaplan_meier`` rollup twice-keyed — one hash
    aggregate to (duration × group) cells, per-group exclusive prefix
    sums for the risk sets (windows over the duration rollup, never
    raw rows), then ONE fold.  Groups beyond the first two (by key
    order) raise — the two-sample form is the contract.
    """
    gvals = [
        r["g"]
        for r in df.select(F.col(group_col).alias("g"))
        .filter(F.col("g").isNotNull())
        .distinct()
        .orderBy("g")
        .limit(3)
        .collect()
    ]
    if len(gvals) != 2:
        raise ValueError(
            f"log_rank_test: need exactly 2 groups, found {gvals!r}"
        )
    ga, gb = gvals
    d = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("int")
    base = df.filter(
        d.isNotNull() & F.col(group_col).isin([ga, gb])
    ).select(
        (F.col(group_col) == F.lit(ga)).cast("int").alias("_isa"),
        d.alias("_t"),
        ev.alias("_e"),
    )
    per = base.groupBy("_t").agg(
        F.sum("_e").alias("_d"),
        F.count(F.lit(1)).alias("_r"),
        F.sum(F.col("_isa") * F.col("_e")).alias("_da"),
        F.sum("_isa").alias("_ra"),
    )
    wcum = (
        Window.orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy()
    # risk sets: subjects with duration >= t (windows over the
    # duration-cardinality rollup — never data-sized)
    n_t = (
        F.sum("_r").over(wtot) - F.coalesce(F.sum("_r").over(wcum), F.lit(0))
    ).cast("double")
    na_t = (
        F.sum("_ra").over(wtot)
        - F.coalesce(F.sum("_ra").over(wcum), F.lit(0))
    ).cast("double")
    dd = F.col("_d").cast("double")
    e_a = F.when(n_t > 0, dd * na_t / n_t).otherwise(F.lit(0.0))
    v_t = F.when(
        n_t > 1,
        dd * (n_t - dd) * na_t * (n_t - na_t) / (n_t * n_t * (n_t - 1.0)),
    ).otherwise(F.lit(0.0))
    staged = per.select(
        F.col("_da").cast("double").alias("_oa"),
        e_a.alias("_ea"),
        v_t.alias("_v"),
        F.col("_ra").alias("_ra"),
        F.col("_r").alias("_r"),
    )
    folded = staged.agg(
        F.sum("_ra").cast("long").alias("n_a"),
        (F.sum("_r") - F.sum("_ra")).cast("long").alias("n_b"),
        F.sum("_oa").alias("_soa"),
        F.sum("_ea").alias("_sea"),
        F.sum("_v").alias("_sv"),
    )
    chi2 = F.when(
        F.col("_sv") > 0,
        (F.col("_soa") - F.col("_sea"))
        * (F.col("_soa") - F.col("_sea"))
        / F.col("_sv"),
    )
    return folded.select(
        "n_a",
        "n_b",
        F.col("_soa").cast("long").alias("observed_a"),
        F.round(F.col("_sea"), 6).alias("expected_a"),
        F.round(chi2, 6).alias("chi2"),
        F.when(chi2.isNotNull(), (chi2 > 3.841).cast("int")).alias(
            "significant"
        ),
    )


def diff_in_diff(
    df: DataFrame,
    treated_col: str,
    post_col: str,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences estimator, one row ``(n, mean_c_pre,
    mean_c_post, mean_t_pre, mean_t_post, did)`` — the 2×2 interaction
    ``(T_post − T_pre) − (C_post − C_pre)``: the causal-effect
    workhorse when a clean A/B is impossible and both arms share a
    trend (the parallel-trends assumption is YOURS to defend; this
    computes the estimator).

    ONE conditional-sum hash aggregate over the four cells; an empty
    cell yields NULL did, never a silent zero.
    """
    t = F.col(treated_col).cast("int")
    p = F.col(post_col).cast("int")
    y = F.col(value_col).cast("double")
    base = df.filter(t.isNotNull() & p.isNotNull() & y.isNotNull())

    def cell(ti: int, pi: int):
        m = ((t == ti) & (p == pi)).cast("int").cast("double")
        return F.sum(m * y), F.sum(m)

    s00, n00 = cell(0, 0)
    s01, n01 = cell(0, 1)
    s10, n10 = cell(1, 0)
    s11, n11 = cell(1, 1)
    folded = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        s00.alias("_s00"), n00.alias("_n00"),
        s01.alias("_s01"), n01.alias("_n01"),
        s10.alias("_s10"), n10.alias("_n10"),
        s11.alias("_s11"), n11.alias("_n11"),
    )

    def mean(s, n):
        return F.when(F.col(n) > 0, F.col(s) / F.col(n))

    m00 = mean("_s00", "_n00")
    m01 = mean("_s01", "_n01")
    m10 = mean("_s10", "_n10")
    m11 = mean("_s11", "_n11")
    did = (m11 - m10) - (m01 - m00)
    return folded.select(
        "n",
        F.round(m00, 6).alias("mean_c_pre"),
        F.round(m01, 6).alias("mean_c_post"),
        F.round(m10, 6).alias("mean_t_pre"),
        F.round(m11, 6).alias("mean_t_post"),
        F.round(did, 6).alias("did"),
    )


def covariate_balance(
    df: DataFrame,
    treated_col: str,
    covariate_cols: list[str],
) -> DataFrame:
    """Standardized mean differences per covariate: ``(covariate,
    n_treated, n_control, mean_t, mean_c, smd)`` with
    ``smd = (μ_t − μ_c) / sqrt((s²_t + s²_c)/2)`` (sample variances) —
    the table every observational study shows before trusting an
    effect estimate (|SMD| < 0.1 is the conventional "balanced" bar).

    Plan: one unpivot (``stack``) to (covariate, value) rows, then ONE
    conditional-sum aggregate per covariate — map-side combined, no
    joins, |covariates|-sized output.  Zero pooled variance yields
    NULL smd.
    """
    if not covariate_cols:
        raise ValueError("covariate_balance: need covariate_cols")
    t = F.col(treated_col).cast("int")
    stack = ", ".join(
        f"'{c}', CAST({c} AS DOUBLE)" for c in covariate_cols
    )
    long = df.filter(t.isNotNull()).select(
        t.alias("_t"),
        F.expr(
            f"stack({len(covariate_cols)}, {stack}) AS (covariate, _x)"
        ),
    ).filter(F.col("_x").isNotNull())
    ti = F.col("_t").cast("double")
    ci = (1 - F.col("_t")).cast("double")
    per = long.groupBy("covariate").agg(
        F.sum(ti).alias("_nt"),
        F.sum(ci).alias("_nc"),
        F.sum(ti * F.col("_x")).alias("_st"),
        F.sum(ci * F.col("_x")).alias("_sc"),
        F.sum(ti * F.col("_x") * F.col("_x")).alias("_sst"),
        F.sum(ci * F.col("_x") * F.col("_x")).alias("_ssc"),
    )
    nt, nc = F.col("_nt"), F.col("_nc")
    mt = F.when(nt > 0, F.col("_st") / nt)
    mc = F.when(nc > 0, F.col("_sc") / nc)
    vt = F.when(nt > 1, (F.col("_sst") - F.col("_st") * F.col("_st") / nt) / (nt - 1.0))
    vc = F.when(nc > 1, (F.col("_ssc") - F.col("_sc") * F.col("_sc") / nc) / (nc - 1.0))
    pooled = F.sqrt((vt + vc) / 2.0)
    smd = F.when(pooled > 0, (mt - mc) / pooled)
    return per.select(
        "covariate",
        nt.cast("long").alias("n_treated"),
        nc.cast("long").alias("n_control"),
        F.round(mt, 6).alias("mean_t"),
        F.round(mc, 6).alias("mean_c"),
        F.round(smd, 6).alias("smd"),
    )


def mann_whitney_u(
    a: DataFrame,
    b: DataFrame,
    column: str,
) -> DataFrame:
    """Two-sample Mann–Whitney U (Wilcoxon rank-sum) test: one row
    ``(n_a, n_b, u_a, u_b, z, p_value, significant)`` — the
    nonparametric "did the distribution shift?" companion to the
    mean-based Welch z: rank-based, so outliers and non-normality
    don't poison it.  Average ranks for ties, tie-corrected normal
    variance, two-sided p via the Abramowitz–Stegun 7.1.26 erf
    polynomial (the ``ab_test`` convention), ``significant`` at 5%.
    No continuity correction (documented; the DuckDB twin replays the
    same formula).

    Plan — ranks only change at distinct values, so everything folds
    over the distinct-value rollup (the ``ks_test`` scheme):

    1. one union + hash aggregate → per-value side counts;
    2. ``ranges.prefix_scan`` for the count of smaller values — never
       a single-task window;
    3. one 1-row fold: rank sum, tie term Σ(t³−t), then U/z/p
       arithmetic on the single row.
    """
    va = a.select(F.col(column).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    vb = b.select(F.col(column).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    tagged = va.select(
        "v", F.lit(1).alias("_ia"), F.lit(0).alias("_ib")
    ).unionByName(
        vb.select("v", F.lit(0).alias("_ia"), F.lit(1).alias("_ib"))
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("_ia").cast("long").alias("_ca"),
        F.sum("_ib").cast("long").alias("_cb"),
    )
    scan = prefix_scan(
        per_v,
        [F.col("v").asc()],
        {"_before": ("sum", F.col("_ca") + F.col("_cb"))},
        exclusive=True,
    )
    t_v = (F.col("_ca") + F.col("_cb")).cast("double")
    # count BEFORE v + average rank of v's tie block
    avg_rank = F.col("_before").cast("double") + (
        t_v + F.lit(1.0)
    ) / F.lit(2.0)
    folded = scan.agg(
        F.coalesce(F.sum("_ca"), F.lit(0)).cast("long").alias("n_a"),
        F.coalesce(F.sum("_cb"), F.lit(0)).cast("long").alias("n_b"),
        F.sum(F.col("_ca").cast("double") * avg_rank).alias("_ra"),
        F.sum(t_v * t_v * t_v - t_v).alias("_ties"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    nn = na + nb
    u_a = F.col("_ra") - na * (na + F.lit(1.0)) / F.lit(2.0)
    u_b = na * nb - u_a
    var = (
        na
        * nb
        / F.lit(12.0)
        * (
            (nn + F.lit(1.0))
            - F.col("_ties") / (nn * (nn - F.lit(1.0)))
        )
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0)
    z = F.when(ok, (u_a - na * nb / F.lit(2.0)) / F.sqrt(var))
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * (t**2)
        + F.lit(1.421413741) * (t**3)
        - F.lit(1.453152027) * (t**4)
        + F.lit(1.061405429) * (t**5)
    )
    p = F.when(z.isNotNull(), poly * F.exp(-az * az))
    out = folded.select(
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(u_a, 6)
        ).alias("u_a"),
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0), F.round(u_b, 6)
        ).alias("u_b"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.when(z.isNotNull(), F.abs(z) > F.lit(1.959964)).alias(
            "significant"
        ),
    )
    return owned(out, scan)


def sequence_ngrams(
    events: DataFrame,
    n: int = 3,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = None,
    min_users: int = 1,
    sep: str = ">",
) -> DataFrame:
    """Frequent event-type n-grams over per-user sequences:
    ``(gram, occurrences, n_users, user_share)`` — every length-``n``
    contiguous run of event types, with the number of distinct users
    exhibiting it — sequential-pattern mining's workhorse readout
    (journey motifs, scripted-bot signatures, funnel shapes that the
    fixed-stage ``funnel_stages`` can't see).  Generalizes
    ``markov_transitions`` (its pairs are the ``n=2`` grams before
    row-normalization).

    Ordering is (ts, tiebreak) within each user — pass an id column
    as ``tiebreak_col`` whenever timestamps can tie, or gram counts
    are partition-lottery.  A user's final ``n-1`` events anchor no
    gram.  ``min_users`` prunes the singleton tail (at corpus scale
    the gram dictionary is heavy-tailed; the filter sits on the
    gram-sized rollup, after the only data-sized exchange).

    Plan: ONE user-partitioned window producing the ``n-1`` leads
    (one shuffle, hash-partitioned on the user key — never a global
    sort), then a (gram) hash aggregate with map-side partial
    count + partial distinct on the user key.  ``user_share`` divides
    by a scalar broadcast total.  Everything after the window is
    dictionary-sized, not data-sized.

    Reference parity: extension operator (sequence mining); the
    per-user lead idiom matches ``markov_transitions``.
    """
    if n < 2:
        raise ValueError("sequence_ngrams: n must be >= 2")
    tb = F.col(tiebreak_col) if tiebreak_col else F.col(type_col)
    w = Window.partitionBy("_u").orderBy(
        F.col(ts_col).asc(), F.col("_tb").asc()
    )
    base = events.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col),
        tb.alias("_tb"),
        F.col(type_col).alias("_t0"),
    )
    lead_cols = [F.col("_t0")] + [
        F.lead("_t0", i).over(w).alias(f"_t{i}") for i in range(1, n)
    ]
    grams = (
        base.select("_u", *lead_cols)
        .filter(F.col(f"_t{n - 1}").isNotNull())
        .select(
            "_u",
            F.concat_ws(sep, *[f"_t{i}" for i in range(n)]).alias("gram"),
        )
    )
    n_users_total = grams.select(
        F.countDistinct("_u").alias("_nu")
    )
    per = grams.groupBy("gram").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.countDistinct("_u").alias("n_users"),
    )
    out = per.filter(F.col("n_users") >= min_users).crossJoin(
        F.broadcast(n_users_total)
    )
    return out.select(
        "gram",
        "occurrences",
        "n_users",
        F.round(
            F.col("n_users").cast("double") / F.col("_nu"), 6
        ).alias("user_share"),
    )


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Restricted mean survival time: ``(*group_cols, tau, rmst)`` —
    the area under the Kaplan–Meier curve up to horizon ``tau``,
    i.e. the expected event-free time within the first ``tau`` units.
    The standard model-free effect size when hazards aren't
    proportional (where a median survival may not even exist): "users
    in cohort A stay active 11.2 of their first 30 days vs 9.8 in B".

    Step-function integration over the KM rollup (never a data-sized
    pass): S(t) is right-continuous and piecewise constant, so

        RMST = min(t_1, τ)·1 + Σ_i S(t_i)·(min(t_{i+1}, τ) − t_i)⁺

    with the last observed time extending to τ (the curve is carried
    flat past the last event, the conventional tau-restricted
    estimate).  Uses the already-rounded ``survival`` column so the
    readout composes exactly with ``kaplan_meier``'s published curve.

    Plan: ``kaplan_meier``'s rollup (one hash aggregate + two
    windows), then one lead window and one sum fold over the
    |distinct durations|-sized frame — adding an O(rollup) epilogue,
    no new data-sized shuffle.
    """
    if tau <= 0:
        raise ValueError("rmst: tau must be > 0")
    gcols = list(group_cols or [])
    km = kaplan_meier(df, duration_col, event_col, group_cols=gcols)
    wl = (
        (Window.partitionBy(*gcols) if gcols else Window.partitionBy())
        .orderBy(F.col("duration").asc())
    )
    t = F.col("duration").cast("double")
    nxt = F.coalesce(
        F.lead("duration").over(wl).cast("double"), F.lit(float(tau))
    )
    seg_end = F.least(F.greatest(nxt, t), F.lit(float(tau)))
    seg = F.when(t < tau, F.col("survival") * (seg_end - t)).otherwise(
        F.lit(0.0)
    )
    wmin = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    head = F.least(F.min(t).over(wmin), F.lit(float(tau)))
    staged = km.select(*gcols, seg.alias("_seg"), head.alias("_head"))
    return (
        staged.groupBy(*gcols)
        .agg(
            (F.max("_head") + F.sum("_seg")).alias("_r")
        )
        .select(
            *gcols,
            F.lit(float(tau)).alias("tau"),
            F.round("_r", 6).alias("rmst"),
        )
    )


def ols_fit(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Multiple linear regression by the method of moments:
    ``(*group_cols, n, b0, b_<x1>, ..., r2)`` — the normal-equations
    solution for y = b0 + Σ bᵢ·xᵢ per group, fitted DISTRIBUTED: one
    hash aggregate computes the (d+1)×(d+2)/2 moment sums (n, Σxᵢ,
    Σxᵢxⱼ, Σxᵢy, Σy, Σy²) with map-side combine, then the solve runs
    on the GROUP-SIZED rollup, never the data.  Extends the
    single-feature per-group trend fit to d features — the standard
    "control for covariates" readout (CUPED's multi-covariate form).

    For d ≤ 2 the solve is closed-form Cramer arithmetic as COLUMN
    expressions — the identical expression tree replays in any SQL
    engine (the oracle contract).  For d ≥ 3 the same moment rollup
    feeds a tiny ``applyInPandas`` kernel (numpy ``lstsq`` on the
    reconstructed (d+1)×(d+1) normal matrix) — still rollup-sized,
    still one data pass.

    Rows with a NULL in y or any x are excluded (listwise deletion).
    A singular normal matrix (|det| < 1e-9, e.g. a constant feature)
    yields NULL coefficients rather than garbage; r2 is NULL when the
    response has zero variance.

    Plan: one data-sized aggregate exchange carrying ~d² partial sums
    per partition; everything after is |groups|-sized.
    """
    if not x_cols:
        raise ValueError("ols_fit: need at least one feature column")
    if len(set(x_cols)) != len(x_cols):
        raise ValueError("ols_fit: duplicate feature columns")
    gcols = list(group_cols or [])
    d = len(x_cols)
    y = F.col(y_col).cast("double")
    xs = [F.col(c).cast("double") for c in x_cols]
    cond = y.isNotNull()
    for x in xs:
        cond = cond & x.isNotNull()
    base = df.filter(cond).select(
        *gcols,
        y.alias("_y"),
        *[xs[i].alias(f"_x{i}") for i in range(d)],
    )
    aggs = [
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    ]
    for i in range(d):
        aggs.append(F.sum(f"_x{i}").alias(f"_s{i}"))
        aggs.append(F.sum(F.col(f"_x{i}") * F.col("_y")).alias(f"_s{i}y"))
        for j in range(i, d):
            aggs.append(
                F.sum(F.col(f"_x{i}") * F.col(f"_x{j}")).alias(
                    f"_s{i}{j}"
                )
            )
    mom = base.groupBy(*gcols).agg(*aggs)

    coef_names = ["b0"] + [f"b_{c}" for c in x_cols]
    if d == 1:
        n, s1, s11 = F.col("_n"), F.col("_s0"), F.col("_s00")
        sy, s1y = F.col("_sy"), F.col("_s0y")
        det = n * s11 - s1 * s1
        ok = F.abs(det) > 1e-9
        b0 = F.when(ok, (sy * s11 - s1 * s1y) / det)
        b1 = F.when(ok, (n * s1y - s1 * sy) / det)
        sse = F.col("_syy") - b0 * sy - b1 * s1y
        coefs = [b0, b1]
    elif d == 2:
        n = F.col("_n")
        s1, s2 = F.col("_s0"), F.col("_s1")
        s11, s12, s22 = F.col("_s00"), F.col("_s01"), F.col("_s11")
        sy, s1y, s2y = F.col("_sy"), F.col("_s0y"), F.col("_s1y")
        det = (
            n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        )
        ok = F.abs(det) > 1e-9
        det0 = (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)
        )
        det1 = (
            n * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)
        )
        det2 = (
            n * (s11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)
        )
        b0 = F.when(ok, det0 / det)
        b1 = F.when(ok, det1 / det)
        b2 = F.when(ok, det2 / det)
        sse = F.col("_syy") - b0 * sy - b1 * s1y - b2 * s2y
        coefs = [b0, b1, b2]
    else:
        import numpy as np
        import pandas as pd

        from pyspark.sql.types import (
            DoubleType,
            StructField,
            StructType,
        )

        gfields = [mom.schema[c] for c in gcols]
        out_schema = StructType(
            gfields
            + [StructField("_nn", DoubleType())]
            + [StructField(c, DoubleType()) for c in coef_names]
            + [StructField("_r2", DoubleType())]
        )

        def solve(pdf: pd.DataFrame) -> pd.DataFrame:
            rows = []
            for _, r in pdf.iterrows():
                n = r["_n"]
                a = np.zeros((d + 1, d + 1))
                c = np.zeros(d + 1)
                a[0, 0] = n
                c[0] = r["_sy"]
                for i in range(d):
                    a[0, i + 1] = a[i + 1, 0] = r[f"_s{i}"]
                    c[i + 1] = r[f"_s{i}y"]
                    for j in range(i, d):
                        a[i + 1, j + 1] = a[j + 1, i + 1] = r[
                            f"_s{i}{j}"
                        ]
                out = dict((g, r[g]) for g in gcols)
                out["_nn"] = n
                if abs(np.linalg.det(a)) > 1e-9:
                    b = np.linalg.solve(a, c)
                    sse = r["_syy"] - float(b @ c)
                    sst = r["_syy"] - r["_sy"] ** 2 / n
                    for name, val in zip(coef_names, b):
                        out[name] = round(float(val), 6)
                    out["_r2"] = (
                        round(1.0 - sse / sst, 6) if sst > 1e-12 else None
                    )
                else:
                    for name in coef_names:
                        out[name] = None
                    out["_r2"] = None
                rows.append(out)
            return pd.DataFrame(rows, columns=[f.name for f in out_schema])

        solved = (
            mom.groupBy(*gcols).applyInPandas(solve, schema=out_schema)
            if gcols
            else mom.withColumn("_g", F.lit(1))
            .groupBy("_g")
            .applyInPandas(
                solve,
                schema=out_schema,
            )
            .drop("_g")
        )
        return solved.select(
            *gcols,
            F.col("_nn").cast("long").alias("n"),
            *coef_names,
            F.col("_r2").alias("r2"),
        )

    sst = F.col("_syy") - F.col("_sy") * F.col("_sy") / F.col("_n")
    r2 = F.when(sst > 1e-12, F.lit(1.0) - sse / sst)
    return mom.select(
        *gcols,
        F.col("_n").cast("long").alias("n"),
        *[
            F.round(c, 6).alias(name)
            for c, name in zip(coefs, coef_names)
        ],
        F.round(r2, 6).alias("r2"),
    )


def ols_predict(
    df: DataFrame,
    model: DataFrame,
    x_cols: list[str],
    y_col: str | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Serving companion to ``ols_fit``: applies a fitted coefficient
    frame back to rows — adds ``yhat`` (and ``residual`` when
    ``y_col`` is given).  The train-once/apply-anywhere half of the
    regression story (``quantile_bin`` publishes cut points the same
    way): the model frame is GROUP-sized, so scoring is one broadcast
    join + a codegen dot product — zero shuffles added to the
    consuming plan beyond the broadcast.

    Uses the model's published (rounded) coefficients — serving
    replays exactly what ``ols_fit`` reported, keeping scores
    engine-portable.  Rows from groups absent in the model (or with
    NULL coefficients from a singular fit) get NULL ``yhat``.
    """
    gcols = list(group_cols or [])
    coef_cols = ["b0"] + [f"b_{c}" for c in x_cols]
    m = model.select(*gcols, *coef_cols)
    if gcols:
        scored = df.join(F.broadcast(m), gcols, "left")
    else:
        scored = df.crossJoin(F.broadcast(m))
    yhat = F.col("b0")
    for c in x_cols:
        yhat = yhat + F.col(f"b_{c}") * F.col(c).cast("double")
    out = scored.withColumn("yhat", F.round(yhat, 6)).drop(*coef_cols)
    if y_col is not None:
        out = out.withColumn(
            "residual",
            F.round(F.col(y_col).cast("double") - F.col("yhat"), 6),
        )
    return out


def km_median(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Median survival time: ``(*group_cols, median_duration)`` — the
    smallest duration where the Kaplan–Meier curve drops to ≤ 0.5,
    NULL when the curve never reaches it (more than half the subjects
    survive the observation window — the case where a mean is
    undefined and ``rmst`` is the right effect size instead).

    One filter + min fold over ``kaplan_meier``'s rollup (uses the
    published rounded curve, so the readout composes exactly with it);
    adds nothing data-sized.
    """
    gcols = list(group_cols or [])
    km = kaplan_meier(df, duration_col, event_col, group_cols=gcols)
    hits = km.filter(F.col("survival") <= 0.5)
    if gcols:
        base = km.select(*gcols).distinct()
        med = hits.groupBy(*gcols).agg(
            F.min("duration").alias("median_duration")
        )
        return base.join(med, gcols, "left")
    return hits.agg(F.min("duration").alias("median_duration"))


def touch_attribution(
    events: DataFrame,
    conversion_type: str,
    model: str = "linear",
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = None,
    half_life: float | None = None,
) -> DataFrame:
    """Batch multi-touch attribution: ``(event_type, credit,
    n_touches, n_conversions)`` — distributes each conversion's one
    unit of credit over the user's touch events since their PREVIOUS
    conversion, summed per touch type.  The marketing-analytics
    staple the streaming joiner (``stream_stream_attribution``) only
    answers pairwise: linear (equal split), ``first`` (all credit to
    the earliest touch), ``last`` (all to the latest), ``u_shaped``
    (position-based 40/20/40), ``time_decay``
    (credit ∝ 0.5^(Δt/half_life), Δt the touch→conversion age in
    ``ts_col`` units, normalized within the window — recent touches
    dominate with an explicit, auditable half-life).

    Windows order by (ts, tiebreak) within each user — pass an id
    column when timestamps can tie.  A conversion with NO preceding
    touches in its window contributes no credit (it still counts in
    ``n_conversions``); touches after a user's last conversion are
    unattributed.  The conversion event itself is never a touch.

    Plan shape: ONE user-partitioned running-count window assigns
    every touch to its conversion window (strictly-before conversion
    count = the window's 0-based id, data-sized exchange #1), a
    (user, window)-keyed join keeps only converted windows
    (exchange #2, window-granular), per-window weights come from a
    (user, window)-partitioned count/rank, and the final credit fold
    is touch-type-sized.  No global window, no driver loop.
    """
    if model not in ("linear", "first", "last", "time_decay", "u_shaped"):
        raise ValueError(
            "touch_attribution: model must be "
            "linear | first | last | time_decay | u_shaped"
        )
    if model == "time_decay" and (half_life is None or half_life <= 0):
        raise ValueError(
            "touch_attribution: time_decay needs half_life > 0"
        )
    tb = F.col(tiebreak_col) if tiebreak_col else F.col(type_col)
    base = events.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        tb.alias("_tb"),
        F.col(type_col).alias("_t"),
        (F.col(type_col) == conversion_type).cast("int").alias("_isc"),
    )
    w = Window.partitionBy("_u").orderBy(
        F.col("_ts").asc(), F.col("_tb").asc()
    )
    strict_before = F.coalesce(
        F.sum("_isc").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    staged = base.withColumn("_gid", strict_before)
    convs = staged.filter(F.col("_isc") == 1).select(
        F.col("_u").alias("_cu"),
        F.col("_gid").alias("_cid"),
        F.col("_ts").alias("_cts"),
    )
    conv_total = convs.agg(
        F.count(F.lit(1)).alias("n_conversions")
    )
    # each touch window matches exactly one conversion (window ids are
    # the strictly-before conversion count), so an inner join is the
    # semi join PLUS the conversion timestamp time_decay needs
    touches = staged.filter(F.col("_isc") == 0).join(
        convs,
        (staged["_u"] == F.col("_cu")) & (F.col("_gid") == F.col("_cid")),
        "inner",
    )
    gw = Window.partitionBy("_u", "_gid")
    gord = gw.orderBy(F.col("_ts").asc(), F.col("_tb").asc())
    n_in_group = F.count(F.lit(1)).over(gw)
    if model == "linear":
        credit = F.lit(1.0) / n_in_group.cast("double")
    elif model == "time_decay":
        w_decay = F.pow(
            F.lit(0.5),
            (F.col("_cts") - F.col("_ts")).cast("double")
            / F.lit(float(half_life or 1.0)),
        )
        credit = w_decay / F.sum(w_decay).over(gw)
    elif model == "u_shaped":
        # position-based 40/20/40: first and last anchor 0.4 each,
        # middles split the remaining 0.2; n=1 -> 1.0, n=2 -> 0.5/0.5
        rk = F.row_number().over(gord)
        is_first = rk == 1
        is_last = rk == n_in_group
        credit = (
            F.when(n_in_group == 1, F.lit(1.0))
            .when(n_in_group == 2, F.lit(0.5))
            .when(is_first | is_last, F.lit(0.4))
            .otherwise(
                F.lit(0.2) / (n_in_group - 2).cast("double")
            )
        )
    elif model == "first":
        credit = F.when(
            F.row_number().over(gord) == 1, F.lit(1.0)
        ).otherwise(F.lit(0.0))
    else:
        credit = F.when(
            F.row_number().over(
                gw.orderBy(F.col("_ts").desc(), F.col("_tb").desc())
            )
            == 1,
            F.lit(1.0),
        ).otherwise(F.lit(0.0))
    out = (
        touches.withColumn("_credit", credit)
        .groupBy(F.col("_t").alias("event_type"))
        .agg(
            F.round(F.sum("_credit"), 6).alias("credit"),
            F.count(F.lit(1)).alias("n_touches"),
        )
        .crossJoin(F.broadcast(conv_total))
    )
    return out


def eb_shrink_rates(
    df: DataFrame,
    group_col: str,
    success_col: str,
    trial_col: str,
) -> DataFrame:
    """Empirical-Bayes rate shrinkage: ``(group, successes, trials,
    raw_rate, shrunk_rate, alpha, beta)`` — per-group Beta-Binomial
    posterior means with the prior fitted from the data itself by the
    method of moments.  The standard fix for "this SKU has 1 sale in
    2 views = 50% conversion" leaderboard noise: small groups pull
    toward the global rate, big groups keep their own.

    Prior fit (moments of the per-group raw rates — unweighted
    across groups — over groups with trials > 0):

        α = μ·(μ(1−μ)/v − 1),  β = (1−μ)·(μ(1−μ)/v − 1)

    degenerate when v ≥ μ(1−μ) or v ≈ 0 (no overdispersion to
    shrink against) — then α, β are NULL and ``shrunk_rate`` falls
    back to the raw rate, loudly visible in the output columns.
    Posterior mean per group: (α + s)/(α + β + n).

    Plan: one group rollup (data-sized exchange), one 1-row moment
    fold over the rollup, broadcast back — nothing else touches the
    data.  Deterministic given the rollup; the oracle replays the
    identical moment arithmetic.
    """
    s = F.col(success_col).cast("double")
    n = F.col(trial_col).cast("double")
    per = (
        df.filter(s.isNotNull() & n.isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(F.sum(s).alias("_s"), F.sum(n).alias("_n"))
        .filter(F.col("_n") > 0)
    )
    rate = F.col("_s") / F.col("_n")
    staged = per.withColumn("_r", rate)
    mom = staged.agg(
        F.avg("_r").alias("_mu"),
        F.avg(F.col("_r") * F.col("_r")).alias("_r2"),
        F.count(F.lit(1)).alias("_g"),
    ).select(
        "_mu",
        (F.col("_r2") - F.col("_mu") * F.col("_mu")).alias("_v"),
        "_g",
    )
    j = staged.crossJoin(F.broadcast(mom))
    mu, v = F.col("_mu"), F.col("_v")
    k = mu * (1.0 - mu) / v - 1.0
    ok = (v > 1e-12) & (v < mu * (1.0 - mu))
    alpha = F.when(ok, mu * k)
    beta = F.when(ok, (1.0 - mu) * k)
    shrunk = F.when(
        ok,
        (alpha + F.col("_s")) / (alpha + beta + F.col("_n")),
    ).otherwise(F.col("_r"))
    return j.select(
        "grp",
        F.col("_s").cast("long").alias("successes"),
        F.col("_n").cast("long").alias("trials"),
        F.round("_r", 6).alias("raw_rate"),
        F.round(shrunk, 6).alias("shrunk_rate"),
        F.round(alpha, 6).alias("alpha"),
        F.round(beta, 6).alias("beta"),
    )


def km_survival_at(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    horizons: list[float],
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Survival probabilities at fixed horizons: ``(*group_cols,
    horizon, survival)`` — S(h) read off the Kaplan–Meier curve as
    the last published step at or before each horizon (1.0 before
    the first event; the curve is right-continuous, carried flat).
    The "day-7 / day-30 retention with censoring handled correctly"
    readout — a naive day-30 ratio silently counts the
    not-yet-30-days-old cohort as churned.

    One broadcast horizon explode against the KM rollup + a per-
    (group, horizon) max-duration argmax fold — rollup-sized, no new
    data pass.
    """
    if not horizons:
        raise ValueError("km_survival_at: need at least one horizon")
    gcols = list(group_cols or [])
    km = kaplan_meier(df, duration_col, event_col, group_cols=gcols)
    hz = F.explode(
        F.array(*[F.lit(float(h)) for h in sorted(set(horizons))])
    ).alias("horizon")
    grid = (
        km.select(*gcols).distinct().select(*gcols, hz)
        if gcols
        else km.sparkSession.range(1).select(hz)
    )
    joined = grid.join(
        km.select(
            *[F.col(c).alias(f"_g_{c}") for c in gcols],
            F.col("duration").alias("_d"),
            F.col("survival").alias("_sv"),
        ),
        on=[F.col(c) == F.col(f"_g_{c}") for c in gcols]
        if gcols
        else F.lit(True),
        how="left",
    ).filter(F.col("_d") <= F.col("horizon"))
    w = Window.partitionBy(*gcols, "horizon").orderBy(F.col("_d").desc())
    last_step = (
        joined.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(*gcols, "horizon", F.col("_sv").alias("survival"))
    )
    base = grid.select(*gcols, "horizon")
    return base.join(last_step, [*gcols, "horizon"], "left").select(
        *gcols,
        "horizon",
        F.coalesce(F.col("survival"), F.lit(1.0)).alias("survival"),
    )


def cohort_ltv(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    value_type: str | None = None,
    type_col: str = "event_type",
) -> DataFrame:
    """Cohort LTV curve: ``(cohort_day, day_offset, cohort_size,
    period_revenue, cum_revenue_per_user)`` — cumulative revenue per
    original cohort member by age, the readout that answers "how much
    is a day-0 signup worth by day 30" (``cohort_retention`` counts
    who comes back; this counts what they spend — divergent curves
    mean retention is fine but monetization decays, or vice versa).

    ``cum_revenue_per_user`` divides by the FULL cohort size (not the
    still-active subset) so curves are comparable across cohorts and
    monotone.  ``value_type`` restricts which events carry revenue
    (e.g. only purchases); NULL values count 0.

    Plan: the ``cohort_retention`` shape — per-user min fold, one
    user-keyed join, (cohort, offset) rollup — plus ONE ordered
    window per cohort over the grid (grid-sized, partitioned by
    cohort, never a global sort).  Days are integral ns divisions, so
    the grid is engine-exact; revenue sums ride the rollup.
    """
    day = F.expr(f"{ts_col} div {NS_PER_DAY}")
    first = events.groupBy(user_col).agg(F.min(day).alias("cohort_day"))
    sizes = first.groupBy("cohort_day").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    val = F.col(value_col).cast("double")
    rev = F.when(val.isNotNull(), val).otherwise(F.lit(0.0))
    if value_type is not None:
        rev = F.when(F.col(type_col) == value_type, rev).otherwise(
            F.lit(0.0)
        )
    per = (
        events.select(user_col, day.alias("_d"), rev.alias("_v"))
        .join(first, user_col)
        .groupBy(
            "cohort_day",
            (F.col("_d") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.sum("_v").alias("period_revenue"))
    )
    w = (
        Window.partitionBy("cohort_day")
        .orderBy(F.col("day_offset").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per.join(F.broadcast(sizes), "cohort_day")
        .withColumn("_cum", F.sum("period_revenue").over(w))
        .select(
            "cohort_day",
            "day_offset",
            "cohort_size",
            # floor(x*100+0.5)/100: engine-portable 2dp (Spark and
            # DuckDB round() tie-break differently)
            (
                F.floor(F.col("period_revenue") * 100 + F.lit(0.5))
                / 100.0
            ).alias("period_revenue"),
            F.round(
                F.col("_cum") / F.col("cohort_size").cast("double"), 6
            ).alias("cum_revenue_per_user"),
        )
    )


def path_flows(
    events: DataFrame,
    max_steps: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Step-indexed journey flows (the Sankey-diagram input):
    ``(step, from_type, to_type, n_users)`` — how many users went
    from their step-k event to their step-k+1 event, for the first
    ``max_steps`` steps.  ``markov_transitions`` aggregates over ALL
    positions; this keeps position, which is what a journey diagram
    needs (step-1→2 mix differs radically from step-4→5 mix).

    One user-ordered row_number + lead window (single user-hash
    exchange), a step cap ON the window output (so the rollup is
    |types|²·max_steps-sized), then a count fold.  Each user
    contributes at most one flow per step — n_users is a plain count.
    """
    if max_steps < 1:
        raise ValueError("path_flows: max_steps must be >= 1")
    tb = F.col(tiebreak_col) if tiebreak_col else F.col(type_col)
    w = Window.partitionBy("_u").orderBy(
        F.col("_ts").asc(), F.col("_tb").asc()
    )
    base = events.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        tb.alias("_tb"),
        F.col(type_col).alias("from_type"),
    )
    return (
        base.withColumn("step", F.row_number().over(w))
        .withColumn("to_type", F.lead("from_type").over(w))
        .filter(
            (F.col("step") <= max_steps) & F.col("to_type").isNotNull()
        )
        .groupBy("step", "from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def conversion_paths(
    events: DataFrame,
    conversion_type: str,
    max_steps: int = 5,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str | None = None,
    sep: str = ">",
) -> DataFrame:
    """Top conversion journeys: ``(path, n_users)`` — for each user
    who converts, the ordered sequence of their first ``max_steps``
    events up to and including their FIRST conversion, joined into a
    path string and counted across users.  The whole-journey
    complement to ``path_flows`` (step marginals) and
    ``touch_attribution`` (credit): "what do the top paths into
    purchase actually look like?".

    Users who never convert contribute nothing; a journey longer than
    ``max_steps`` keeps its first ``max_steps`` events (truncated
    paths simply don't end in the conversion type — visible, not
    hidden).  Ordering ties break on ``tiebreak_col``.

    Plan: a conditional min-struct fold finds each user's first
    conversion (one user rollup), an inner join keeps converting
    users' prefix events (struct ≤ comparison — lexicographic, exact),
    one per-user sort_array+slice builds the path JVM-side (no window
    needed: the per-user collect is bounded by the user's event
    count), then a path-sized count rollup.
    """
    if max_steps < 1:
        raise ValueError("conversion_paths: max_steps must be >= 1")
    tb = F.col(tiebreak_col) if tiebreak_col else F.col(type_col)
    base = events.select(
        F.col(user_col).alias("_u"),
        F.col(ts_col).alias("_ts"),
        tb.alias("_tb"),
        F.col(type_col).alias("_t"),
    )
    conv = (
        base.filter(F.col("_t") == conversion_type)
        .groupBy("_u")
        .agg(F.min(F.struct("_ts", "_tb")).alias("_cf"))
    )
    j = base.join(conv, "_u").filter(
        F.struct("_ts", "_tb") <= F.col("_cf")
    )
    per = j.groupBy("_u").agg(
        F.slice(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("_ts", "_tb", "_t"))
                ),
                lambda s: s["_t"],
            ),
            1,
            max_steps,
        ).alias("_steps")
    )
    return (
        per.select(F.concat_ws(sep, "_steps").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def weibull_fit(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Parametric Weibull survival fit from the KM curve:
    ``(*group_cols, shape, scale, n_points, r2)`` — ordinary least
    squares on the linearization ``ln(−ln S(t)) = k·ln t − k·ln λ``
    over the curve's interior points (0 < S < 1, t > 0).  ``shape``
    k > 1 means wear-out (churn accelerates with age), k < 1 burn-in
    (survivors stabilize), k ≈ 1 memoryless; ``scale`` λ is the
    characteristic life (63.2% converted).  The smooth-extrapolation
    companion to the non-parametric readouts (``rmst``,
    ``km_median``): a forecast needs a curve beyond the observation
    window.

    Plan: the KM rollup (one aggregate + windows) then the
    ``ols_fit`` moment fold on the rollup-sized regression frame —
    nothing data-sized after the KM pass.  Degenerate curves (< 2
    usable points, or a singular fit) yield NULLs.
    """
    gcols = list(group_cols or [])
    km = kaplan_meier(df, duration_col, event_col, group_cols=gcols)
    pts = km.filter(
        (F.col("survival") > 0)
        & (F.col("survival") < 1)
        & (F.col("duration") > 0)
    ).select(
        *gcols,
        F.log(F.col("duration").cast("double")).alias("_x"),
        F.log(-F.log(F.col("survival"))).alias("_y"),
    )
    fit = ols_fit(pts, "_y", ["_x"], group_cols=gcols)
    shape = F.col("b__x")
    scale = F.when(
        shape.isNotNull() & (shape != 0),
        F.exp(-F.col("b0") / shape),
    )
    return fit.select(
        *gcols,
        F.round(shape, 6).alias("shape"),
        F.round(scale, 6).alias("scale"),
        F.col("n").alias("n_points"),
        F.col("r2"),
    )


def overdispersion_check(
    df: DataFrame,
    group_col: str,
    count_col: str,
    threshold: float = 1.5,
) -> DataFrame:
    """Count-data dispersion QC: ``(group, n, mean, variance,
    dispersion, overdispersed)`` — the per-group variance-to-mean
    ratio (Poisson ⇒ 1; sample variance, n−1).  The two-minute test
    that says whether a Poisson rate model (or a Poisson bootstrap /
    ε-DP noise calibration) is even admissible for this column, or
    whether clumping (bursts, contagion, bots) demands a negative-
    binomial treatment.  Groups with n < 2 or zero mean report NULL
    dispersion (no verdict, never a fake 'passed').

    One hash aggregate (Σx, Σx², n per group) — map-side combined,
    output group-sized; the moments arithmetic is the engine's
    portable form (no two-pass variance).
    """
    x = F.col(count_col).cast("double")
    per = (
        df.filter(x.isNotNull())
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(x).alias("_s"),
            F.sum(x * x).alias("_s2"),
        )
    )
    nn = F.col("n").cast("double")
    mean = F.col("_s") / nn
    var = F.when(
        F.col("n") > 1,
        (F.col("_s2") - F.col("_s") * F.col("_s") / nn) / (nn - 1.0),
    )
    disp = F.when(mean > 0, var / mean)
    return per.select(
        "grp",
        "n",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(disp, 6).alias("dispersion"),
        F.when(disp.isNotNull(), disp > threshold).alias("overdispersed"),
    )


def adoption_curve(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Product adoption curve: ``(day, new_users, cum_users)`` — each
    user counted once on their FIRST-activity day, accumulated into
    the classic S-curve (the growth chart; its derivative is
    ``new_vs_returning``'s new-user series, its plateau is market
    saturation).

    One per-user min fold (the ``cohort_retention`` cohort pass), a
    day-sized rollup, and ONE ordered cumulative window over the
    rollup — day-cardinality-sized, never a data-sized sort.  Days
    are integral ns divisions (engine-exact).
    """
    day = F.expr(f"{ts_col} div {NS_PER_DAY}")
    first = events.groupBy(user_col).agg(F.min(day).alias("day"))
    daily = first.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = (
        Window.partitionBy()
        .orderBy(F.col("day").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "day",
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


def kruskal_wallis(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Kruskal–Wallis H test (k-sample rank ANOVA): one row
    ``(k_groups, n_rows, h_stat, dof, p_value, significant)`` — the
    k-group generalization of ``mann_whitney_u`` and the rank-based
    companion to ``anova_oneway``: "did ANY of the k groups'
    distributions shift?" without normality assumptions.  Average
    ranks for ties with the Σ(t³−t) tie correction
    (``H_c = H / (1 − Σ(t³−t)/(N³−N))``); p-value is the upper-tail
    χ²(k−1) via the Wilson–Hilferty cube-root normal approximation
    and the Abramowitz–Stegun 7.1.26 erf polynomial (both replayed
    verbatim by the DuckDB twin); ``significant`` at 5%.  NULL value
    or group excludes the row.  All-tied input (tie correction → 0)
    yields NULL h/p, loudly.

    Plan — ranks only change at distinct values, so everything folds
    over rollups (the ``mann_whitney_u`` scheme, generalized):

    1. one (group, value) hash aggregate over the data (map-side
       combined) — the only data-sized pass;
    2. value rollup + ``ranges.prefix_scan`` → tie-averaged rank per
       distinct value — never a single-task window;
    3. rank join back on value (rollup-sized), per-group rank-sum
       fold, then 1-row H/p arithmetic.
    """
    vals = df.select(
        F.col(group_col).cast("string").alias("_grp"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull() & F.col("_grp").isNotNull())
    per_gv = vals.groupBy("_grp", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_ng")
    )
    per_v = per_gv.groupBy("_v").agg(F.sum("_ng").alias("_nv"))
    scan = prefix_scan(
        per_v,
        [F.col("_v").asc()],
        {"_before": ("sum", F.col("_nv"))},
        exclusive=True,
    )
    t_v = F.col("_nv").cast("double")
    avg_rank = F.col("_before").cast("double") + (
        t_v + F.lit(1.0)
    ) / F.lit(2.0)
    ranks = scan.select(
        "_v",
        avg_rank.alias("_r"),
        (t_v * t_v * t_v - t_v).alias("_tie"),
    )
    rg = (
        per_gv.join(ranks, "_v")
        .groupBy("_grp")
        .agg(
            F.sum(F.col("_ng").cast("double") * F.col("_r")).alias(
                "_rsum"
            ),
            F.sum("_ng").cast("double").alias("_n"),
        )
    )
    ties = ranks.agg(
        F.coalesce(F.sum("_tie"), F.lit(0.0)).alias("_ties")
    )
    folded = rg.agg(
        F.count(F.lit(1)).cast("long").alias("k_groups"),
        F.sum("_n").alias("_nn"),
        F.sum(F.col("_rsum") * F.col("_rsum") / F.col("_n")).alias(
            "_s"
        ),
    ).crossJoin(F.broadcast(ties))
    nn = F.col("_nn")
    h_raw = (
        F.lit(12.0) / (nn * (nn + F.lit(1.0))) * F.col("_s")
        - F.lit(3.0) * (nn + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("_ties") / (nn * nn * nn - nn)
    dof = (F.col("k_groups") - 1).cast("long")
    ok = (dof > 0) & (nn > F.lit(1.0)) & (corr > 0)
    # h, z and t are each computed once, in staged selects: inlined into
    # one projection they repeat so often that whole-stage codegen fails
    # to compile it and Spark silently falls back to interpretation
    h, z, t = F.col("_h"), F.col("_z"), F.col("_t")
    # upper-tail chi2(dof) via Wilson–Hilferty: ((h/dof)^(1/3) - (1 -
    # 2/(9 dof))) / sqrt(2/(9 dof)) ~ N(0,1), then one-sided erfc (h is
    # NULL unless ok)
    d = F.col("dof").cast("double")
    staged = folded.select(
        "k_groups",
        "_nn",
        dof.alias("dof"),
        F.when(ok, h_raw / corr).alias("_h"),
    ).withColumn(
        "_z",
        F.when(
            h >= 0,
            (
                F.pow(h / d, F.lit(1.0) / F.lit(3.0))
                - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * d))
            )
            / F.sqrt(F.lit(2.0) / (F.lit(9.0) * d)),
        ),
    )
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    staged = staged.withColumn(
        "_t", F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    )
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * (t**2)
        + F.lit(1.421413741) * (t**3)
        - F.lit(1.453152027) * (t**4)
        + F.lit(1.061405429) * (t**5)
    )
    erfc = poly * F.exp(-az * az)
    p = F.when(
        z.isNotNull(),
        F.when(z >= 0, erfc / F.lit(2.0)).otherwise(
            F.lit(1.0) - erfc / F.lit(2.0)
        ),
    )
    out = staged.select(
        "k_groups",
        nn.cast("long").alias("n_rows"),
        F.round(h, 6).alias("h_stat"),
        "dof",
        F.round(p, 6).alias("p_value"),
        F.when(p.isNotNull(), p < F.lit(0.05)).alias("significant"),
    )
    return owned(out, scan)


def ridge_fit(
    df: DataFrame,
    y_col: str,
    x_cols: list[str],
    lam: float = 1.0,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Ridge (L2-penalized) regression per group:
    ``(*group_cols, n, b0, b_<x1>, ..., r2)`` solving
    ``(XᵀX + λ·I')b = Xᵀy`` with the intercept UNPENALIZED (I' has a
    zero in the intercept slot — the standard convention; penalizing
    b0 would make the fit depend on the response's origin).  The
    shrinkage companion to ``ols_fit`` for collinear / weak-signal
    features; features should be on comparable scales (pair with
    ``robust_scale``/``standardize``) since λ is applied to RAW
    second moments, documented.

    The SAME distributed plan as ``ols_fit``: ONE data-sized hash
    aggregate of the moment sums (map-side combined), group-sized
    arithmetic after.  d ≤ 2 solves by closed-form Cramer column
    expressions (oracle-replayable); d ≥ 3 by the rollup-sized numpy
    kernel with λ added to the diagonal.  ``r2`` is the TRAINING R²
    of the penalized coefficients (``1 − SSE/SST`` with
    ``SSE = Σy² − 2bᵀc + bᵀAb`` over the unpenalized moments) — it
    can only be ≤ the OLS R², by construction.  λ = 0 reproduces
    ``ols_fit`` exactly.  Singular penalized systems (possible only
    at λ = 0 or degenerate n) yield NULLs, never garbage.
    """
    if not x_cols:
        raise ValueError("ridge_fit: need at least one feature column")
    if lam < 0:
        raise ValueError("ridge_fit: lam must be >= 0")
    if len(x_cols) > 2:
        raise ValueError(
            "ridge_fit: closed-form path supports d <= 2; for d >= 3 "
            "use ols_fit's moment rollup with a numpy ridge kernel"
        )
    gcols = list(group_cols or [])
    d = len(x_cols)
    y = F.col(y_col).cast("double")
    xs = [F.col(c).cast("double") for c in x_cols]
    cond = y.isNotNull()
    for x in xs:
        cond = cond & x.isNotNull()
    base = df.filter(cond).select(
        *gcols,
        y.alias("_y"),
        *[xs[i].alias(f"_x{i}") for i in range(d)],
    )
    aggs = [
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    ]
    for i in range(d):
        aggs.append(F.sum(f"_x{i}").alias(f"_s{i}"))
        aggs.append(F.sum(F.col(f"_x{i}") * F.col("_y")).alias(f"_s{i}y"))
        for j in range(i, d):
            aggs.append(
                F.sum(F.col(f"_x{i}") * F.col(f"_x{j}")).alias(
                    f"_s{i}{j}"
                )
            )
    mom = base.groupBy(*gcols).agg(*aggs)
    lam_l = F.lit(float(lam))
    coef_names = ["b0"] + [f"b_{c}" for c in x_cols]
    if d == 1:
        n, s1 = F.col("_n"), F.col("_s0")
        s11 = F.col("_s00") + lam_l
        sy, s1y = F.col("_sy"), F.col("_s0y")
        det = n * s11 - s1 * s1
        ok = F.abs(det) > 1e-9
        b0 = F.when(ok, (sy * s11 - s1 * s1y) / det)
        b1 = F.when(ok, (n * s1y - s1 * sy) / det)
        # SSE over UNPENALIZED moments: yy - 2(b0 sy + b1 s1y)
        #   + b0² n + 2 b0 b1 s1 + b1² s00
        sse = (
            F.col("_syy")
            - F.lit(2.0) * (b0 * sy + b1 * s1y)
            + b0 * b0 * n
            + F.lit(2.0) * b0 * b1 * s1
            + b1 * b1 * F.col("_s00")
        )
        coefs = [b0, b1]
    else:
        n = F.col("_n")
        s1, s2 = F.col("_s0"), F.col("_s1")
        s11 = F.col("_s00") + lam_l
        s22 = F.col("_s11") + lam_l
        s12 = F.col("_s01")
        sy, s1y, s2y = F.col("_sy"), F.col("_s0y"), F.col("_s1y")
        det = (
            n * (s11 * s22 - s12 * s12)
            - s1 * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s12 - s11 * s2)
        )
        ok = F.abs(det) > 1e-9
        det0 = (
            sy * (s11 * s22 - s12 * s12)
            - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y)
        )
        det1 = (
            n * (s1y * s22 - s12 * s2y)
            - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2)
        )
        det2 = (
            n * (s11 * s2y - s1y * s12)
            - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2)
        )
        b0 = F.when(ok, det0 / det)
        b1 = F.when(ok, det1 / det)
        b2 = F.when(ok, det2 / det)
        sse = (
            F.col("_syy")
            - F.lit(2.0) * (b0 * sy + b1 * s1y + b2 * s2y)
            + b0 * b0 * n
            + b1 * b1 * F.col("_s00")
            + b2 * b2 * F.col("_s11")
            + F.lit(2.0)
            * (
                b0 * b1 * s1
                + b0 * b2 * s2
                + b1 * b2 * F.col("_s01")
            )
        )
        coefs = [b0, b1, b2]
    sst = F.col("_syy") - F.col("_sy") * F.col("_sy") / F.col("_n")
    r2 = F.when(sst > 1e-12, F.lit(1.0) - sse / sst)
    return mom.select(
        *gcols,
        F.col("_n").cast("long").alias("n"),
        *[
            F.round(c, 6).alias(name)
            for c, name in zip(coefs, coef_names)
        ],
        F.round(r2, 6).alias("r2"),
    )


def _blocked_design_rollup(
    cells: DataFrame, val_col: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared plumbing for the blocked-design tests
    (friedman/page/cochran): ONE groupBy collapses each block to its
    cell array, and every downstream quantity — the completeness
    guards, the complete-case filter, within-block tie-averaged ranks
    — folds over that block-sized frame with k-element array lambdas
    (k = treatments, bounded by design).  The previous formulation
    re-derived three data-sized branches ((block,trt) counts, block
    sizes, rank windows) from the cell frame; under AQE each of those
    branches' exchanges materialized as its own stage-job, ~36 jobs
    for one 1-row test.  This shape runs the same test in ~1/3 the
    stages with identical arithmetic (ranks are exact half-integers,
    so every fold is exact in double and order-insensitive).

    Returns ``(blocks, ktot, guards)``:

    - ``blocks``: PERSISTED ``(_blk, _arr: array<struct<_trt, val>>,
      _trts: array<string>)`` — caller releases it via
      ``_eager_one_row``;
    - ``ktot``: 1-row ``(_k_tot)`` global distinct-treatment count;
    - ``guards``: 1-row ``(_k_tot, _max_cell, _n_dropped)`` — the
      duplicate-cell detector and incomplete-block count (same
      contract as before: complete ⇔ the block holds all ``_k_tot``
      distinct treatments; duplicate cells are detected globally and
      rejected post-hoc by ``_eager_one_row``).
    """
    blocks = (
        cells.groupBy("_blk")
        .agg(F.collect_list(F.struct("_trt", val_col)).alias("_arr"))
        .withColumn("_trts", F.array_distinct(F.col("_arr._trt")))
        .persist()
    )
    ktot = blocks.select(F.explode("_trts").alias("_t")).agg(
        F.countDistinct("_t").cast("long").alias("_k_tot")
    )
    max_cell = F.array_max(
        F.transform(
            F.col("_trts"),
            lambda t: F.size(
                F.filter(F.col("_arr"), lambda x: x["_trt"] == t)
            ),
        )
    )
    guards = (
        blocks.crossJoin(F.broadcast(ktot))
        .agg(
            F.max("_k_tot").alias("_k_tot"),
            F.coalesce(F.max(max_cell), F.lit(0))
            .cast("long")
            .alias("_max_cell"),
            F.coalesce(
                F.sum(
                    (F.size("_trts") != F.col("_k_tot")).cast("long")
                ),
                F.lit(0),
            ).alias("_n_dropped"),
        )
    )
    return blocks, ktot, guards


def _collect_guards(
    blocks: DataFrame, ktot: DataFrame, guards: DataFrame, op: str
) -> tuple[int, int]:
    """Materialize the guard row (also warming the ``blocks`` cache),
    enforce the duplicate-cell contract IMMEDIATELY, and hand back
    ``(k_tot, n_dropped)`` as Python ints.  Downstream plans then use
    ``k_tot`` as a LITERAL instead of a broadcast-crossJoined 1-row
    frame — each broadcast subtree was its own nested adaptive plan
    that re-scanned the cached blocks (measured: cochran_q ran 12
    separate 32-task cache scans; with literals it runs 3)."""
    row = guards.collect()[0]
    if row["_max_cell"] is not None and row["_max_cell"] > 1:
        raise ValueError(
            f"{op}: multiple observations per (block, treatment) "
            "cell — pre-aggregate first"
        )
    return int(row["_k_tot"] or 0), int(row["_n_dropped"] or 0)


def _complete_blocks(blocks: DataFrame, k_tot: int) -> DataFrame:
    """Complete-case blocks: all ``k_tot`` treatments present."""
    return blocks.filter(F.size("_trts") == F.lit(int(k_tot)))


def _within_block_rank_rows(complete: DataFrame) -> DataFrame:
    """Explode complete blocks to ``(_trt, _r)`` rows with the
    within-block tie-averaged rank of each cell: ``#smaller +
    (#equal + 1)/2`` over the block's k-element array — identical to
    ``rank() + (ties−1)/2`` over a block window (both are the
    standard average rank; comparisons use Spark's NaN-greatest,
    NaN-equals-NaN semantics in both forms), without the window's
    exchange.  Ranks are exact half-integers, so downstream sums are
    exact and order-free."""
    ranked = complete.select(
        F.explode(
            F.transform(
                "_arr",
                lambda x: F.struct(
                    x["_trt"].alias("_trt"),
                    (
                        F.size(
                            F.filter(
                                F.col("_arr"),
                                lambda y: y["_v"] < x["_v"],
                            )
                        ).cast("double")
                        + (
                            F.size(
                                F.filter(
                                    F.col("_arr"),
                                    lambda y: y["_v"] == x["_v"],
                                )
                            ).cast("double")
                            + F.lit(1.0)
                        )
                        / F.lit(2.0)
                    ).alias("_r"),
                ),
            )
        ).alias("_cell")
    )
    return ranked.select(
        F.col("_cell._trt").alias("_trt"), F.col("_cell._r").alias("_r")
    )


def _eager_one_row(
    blocks: DataFrame, final: DataFrame
) -> DataFrame:
    """Materialize the 1-row result, release the pinned block frame,
    and hand back a driver-side literal (the ``ks_test`` convention)
    — nothing stays cached after the operator returns.  The literal
    is a JVM Project-over-Range(1) plan (see ``localresult``), not a
    pickled-row parallelize — the old 32-slice Python literal made
    every 1-row result a 32-task, Python-worker-spawning scan for
    its consumer."""
    from moz_datapipeline_spark.localresult import literal_frame

    rows = final.collect()
    blocks.unpersist()
    return literal_frame(final.sparkSession, rows, final.schema)


def friedman_test(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Friedman test for k related samples (repeated measures over
    blocks): one row ``(k_treatments, n_blocks, n_blocks_dropped,
    chi2, dof, p_value, significant)`` — the within-block rank
    complement to ``kruskal_wallis`` (which assumes independent
    groups): "do the k treatments differ, controlling for the
    block?".  Expects ONE observation per (block, treatment) cell —
    pre-aggregate first (duplicates are rejected loudly).  Blocks
    missing any treatment are DROPPED (complete-case, the count
    reported); average ranks for within-block ties, with the general
    tie-robust statistic ``χ² = (k−1)·Σ_j(R_j − n(k+1)/2)² /
    (Σ r_ij² − nk(k+1)²/4)``; p is upper-tail χ²(k−1) via
    Wilson–Hilferty + the A&S erf polynomial (the ``kruskal_wallis``
    convention).  An all-tied panel (denominator 0) yields NULLs.

    Plan: one groupBy collapses each block to its k-cell array
    (bounded by design, never data-sized); within-block average
    ranks are k-element array lambdas over it, then one treatment
    rollup and a 1-row fold — no windows, no re-scan branches.
    """
    b = F.col(block_col).cast("string").alias("_blk")
    t = F.col(treatment_col).cast("string").alias("_trt")
    v = F.col(value_col).cast("double").alias("_v")
    cells = df.select(b, t, v).filter(
        F.col("_blk").isNotNull()
        & F.col("_trt").isNotNull()
        & F.col("_v").isNotNull()
    )
    # one rollup pins each block's cells as a k-element array; ranks,
    # guards and Σr² all fold from it without windows or re-scans
    # (identical half-integer arithmetic — see _blocked_design_rollup)
    blocks, ktot, guards = _blocked_design_rollup(cells, "_v")
    k_tot, n_dropped = _collect_guards(
        blocks, ktot, guards, "friedman_test"
    )
    ranked = _within_block_rank_rows(_complete_blocks(blocks, k_tot))
    per_t = ranked.groupBy("_trt").agg(
        F.sum("_r").alias("_rsum"),
        F.count(F.lit(1)).cast("double").alias("_nb"),
        F.sum(F.col("_r") * F.col("_r")).alias("_rr_t"),
    )
    folded = per_t.agg(
        F.count(F.lit(1)).cast("long").alias("k_treatments"),
        F.max("_nb").alias("_n"),
        F.sum(F.col("_rsum") * F.col("_rsum")).alias("_ss"),
        F.sum("_rsum").alias("_rt"),
        # Σ_ij r² regrouped per treatment first — exact (ranks are
        # half-integers), so the value matches the old global fold
        F.sum("_rr_t").alias("_rr"),
    )
    k = F.col("k_treatments").cast("double")
    n = F.col("_n")
    # Σ_j (R_j − n(k+1)/2)² = Σ R_j² − 2·(n(k+1)/2)·Σ R_j + k·(n(k+1)/2)²
    cbar = n * (k + F.lit(1.0)) / F.lit(2.0)
    num = (
        F.col("_ss")
        - F.lit(2.0) * cbar * F.col("_rt")
        + k * cbar * cbar
    )
    den = F.col("_rr") - n * k * (k + F.lit(1.0)) * (
        k + F.lit(1.0)
    ) / F.lit(4.0)
    ok = (
        (F.col("k_treatments") > 1)
        & (n > 0)
        & (F.abs(den) > F.lit(1e-12))
    )
    chi2 = F.when(ok, (k - F.lit(1.0)) * num / den)
    dof = (F.col("k_treatments") - 1).cast("long")
    d_ = dof.cast("double")
    z = F.when(
        ok & (chi2 >= 0),
        (
            F.pow(chi2 / d_, F.lit(1.0) / F.lit(3.0))
            - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * d_))
        )
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * d_)),
    )
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * tt
        - F.lit(0.284496736) * (tt**2)
        + F.lit(1.421413741) * (tt**3)
        - F.lit(1.453152027) * (tt**4)
        + F.lit(1.061405429) * (tt**5)
    )
    erfc = poly * F.exp(-az * az)
    p = F.when(
        z.isNotNull(),
        F.when(z >= 0, erfc / F.lit(2.0)).otherwise(
            F.lit(1.0) - erfc / F.lit(2.0)
        ),
    )
    return _eager_one_row(
        blocks,
        folded.select(
            "k_treatments",
            F.coalesce(n, F.lit(0.0)).cast("long").alias("n_blocks"),
            F.lit(n_dropped).cast("long").alias(
                "n_blocks_dropped"
            ),
            F.round(chi2, 6).alias("chi2"),
            dof.alias("dof"),
            F.round(p, 6).alias("p_value"),
            F.when(p.isNotNull(), p < F.lit(0.05)).alias(
                "significant"
            ),
        ),
    )


def poisson_rate_test(
    a: DataFrame,
    b: DataFrame,
    ts_col: str = "ts",
) -> DataFrame:
    """Two-sample Poisson rate comparison: one row ``(n_a, n_b,
    exposure_a, exposure_b, rate_a, rate_b, rate_ratio, z, p_value,
    significant)`` — "is side A's event RATE different from side
    B's?" with unequal observation windows handled by exposure
    weighting (the raw-count z-test is wrong when the windows
    differ).  Exposure is each side's observed span (max ts − min
    ts, in seconds from epoch-ns); the test conditions on the total
    count: under H₀, ``n_a | n ~ Binomial(n, T_a/(T_a+T_b))``,
    normal-approximated: ``z = (n_a − n·p)/√(n·p·(1−p))`` — exact
    integer counts, integer-ns exposures, so the arithmetic replays
    bit-identically.  Two-sided p via the A&S erf polynomial (the
    ``mann_whitney_u`` convention).  Degenerate inputs (an empty
    side, zero exposure) yield NULL stats, never division errors.
    ``overdispersion_check`` gates this test: if counts are
    overdispersed, Poisson p-values overstate significance.

    Plan: one min/max/count fold per side — two data-sized
    aggregates, 1-row arithmetic after; no joins over data.
    """
    def _fold(df: DataFrame, tag: str) -> DataFrame:
        ns = F.col(ts_col).cast("long")
        return df.filter(ns.isNotNull()).agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
            (
                (F.max(ns) - F.min(ns)).cast("double")
                / F.lit(1_000_000_000.0)
            ).alias(f"exposure_{tag}"),
        )

    folded = _fold(a, "a").crossJoin(_fold(b, "b"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ta, tb = F.col("exposure_a"), F.col("exposure_b")
    ok = (na + nb > 0) & (ta > 0) & (tb > 0)
    p0 = ta / (ta + tb)
    mean = (na + nb) * p0
    var = (na + nb) * p0 * (F.lit(1.0) - p0)
    z = F.when(ok & (var > 0), (na - mean) / F.sqrt(var))
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * (t**2)
        + F.lit(1.421413741) * (t**3)
        - F.lit(1.453152027) * (t**4)
        + F.lit(1.061405429) * (t**5)
    )
    p = F.when(z.isNotNull(), poly * F.exp(-az * az))
    ra = F.when(ta > 0, na / ta)
    rb = F.when(tb > 0, nb / tb)
    return folded.select(
        "n_a",
        "n_b",
        F.round(ta, 6).alias("exposure_a"),
        F.round(tb, 6).alias("exposure_b"),
        F.round(ra, 6).alias("rate_a"),
        F.round(rb, 6).alias("rate_b"),
        F.round(
            F.when(rb > 0, ra / rb),
            6,
        ).alias("rate_ratio"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.when(p.isNotNull(), p < F.lit(0.05)).alias("significant"),
    )


def mcnemar_test(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — the standard "did
    model B beat model A on the SAME eval set?" readout (marginal
    accuracy deltas can't be z-tested as independent proportions when
    both models grade the same rows): one row ``(n, n_discordant,
    b01, b10, chi2, p_value, significant)`` where ``b01`` counts rows
    A got right and B got wrong, ``b10`` the reverse — concordant
    rows carry no information and only the discordant counts enter.
    Uses the Edwards continuity-corrected ``χ² = (|b01−b10|−1)² /
    (b01+b10)`` with the EXACT df=1 upper tail ``p = erfc(√(χ²/2))``
    (A&S polynomial — no Wilson–Hilferty needed at df=1).  Zero
    discordant pairs → NULL stats (the models are indistinguishable
    on this set, loudly).  NULL in either column excludes the row.

    Plan: ONE conditional-sum hash aggregate over the data — no
    joins, no windows; 1-row arithmetic after.
    """
    a = F.col(a_col).cast("int")
    b = F.col(b_col).cast("int")
    folded = df.filter(a.isNotNull() & b.isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((a == 1) & (b == 0)).cast("long")).alias("b01"),
        F.sum(((a == 0) & (b == 1)).cast("long")).alias("b10"),
    )
    b01 = F.coalesce(F.col("b01"), F.lit(0)).cast("double")
    b10 = F.coalesce(F.col("b10"), F.lit(0)).cast("double")
    nd = b01 + b10
    chi2 = F.when(
        nd > 0,
        (F.abs(b01 - b10) - F.lit(1.0)) ** 2 / nd,
    )
    az = F.sqrt(chi2 / F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * (t**2)
        + F.lit(1.421413741) * (t**3)
        - F.lit(1.453152027) * (t**4)
        + F.lit(1.061405429) * (t**5)
    )
    p = F.when(chi2.isNotNull(), poly * F.exp(-az * az))
    return folded.select(
        "n",
        nd.cast("long").alias("n_discordant"),
        F.coalesce(F.col("b01"), F.lit(0)).alias("b01"),
        F.coalesce(F.col("b10"), F.lit(0)).alias("b10"),
        F.round(chi2, 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
        F.when(p.isNotNull(), p < F.lit(0.05)).alias("significant"),
    )


def cochran_q(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran's Q test for k related BINARY outcomes over blocks:
    one row ``(k_treatments, n_blocks, n_blocks_dropped, q_stat, dof,
    p_value, significant)`` — ``friedman_test``'s binary twin (and
    ``mcnemar_test``'s k-treatment generalization): "do the k
    treatments' success rates differ, pairing on the block?".
    ``Q = k(k−1)·Σ_j(C_j − T/k)² / (k·T − Σ_i R_i²)`` with C_j the
    treatment success totals, R_i the block success totals, T the
    grand total; all-success and all-failure blocks cancel out of
    both numerator and denominator automatically (the standard
    property — no special-casing).  Expects one 0/1 observation per
    (block, treatment) cell (duplicates rejected loudly); incomplete
    blocks dropped with the count reported.  p is upper-tail χ²(k−1)
    via Wilson–Hilferty + A&S (the ``kruskal_wallis`` convention); a
    zero denominator (all blocks degenerate) yields NULLs.

    Plan: the ``friedman_test`` rollup scheme — one block-array
    groupBy; block totals fold exchange-locally from the arrays, one
    per-treatment rollup, a 1-row fold.
    """
    b = F.col(block_col).cast("string").alias("_blk")
    t = F.col(treatment_col).cast("string").alias("_trt")
    o = F.col(outcome_col).cast("int").alias("_o")
    cells = df.select(b, t, o).filter(
        F.col("_blk").isNotNull()
        & F.col("_trt").isNotNull()
        & F.col("_o").isNotNull()
    )
    # one rollup pins each block's 0/1 cells as a k-element array;
    # block success totals fold exchange-locally from it and the
    # guards ride the same frame (identical integer arithmetic — see
    # _blocked_design_rollup)
    blocks, ktot, guards = _blocked_design_rollup(cells, "_o")
    k_tot, n_dropped = _collect_guards(
        blocks, ktot, guards, "cochran_q"
    )
    complete = _complete_blocks(blocks, k_tot)
    r_blk = F.aggregate(
        F.col("_arr"),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x["_o"].cast("long"),
    ).cast("double")
    fb = complete.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.coalesce(F.sum(r_blk), F.lit(0.0)).alias("_t"),
        F.coalesce(F.sum(r_blk * r_blk), F.lit(0.0)).alias("_rr"),
    )
    per_t = (
        complete.select(F.explode("_arr").alias("_cell"))
        .groupBy(F.col("_cell._trt").alias("_trt"))
        .agg(F.sum("_cell._o").cast("double").alias("_c"))
    )
    ft = per_t.agg(
        F.count(F.lit(1)).cast("long").alias("k_treatments"),
        F.coalesce(
            F.sum(F.col("_c") * F.col("_c")), F.lit(0.0)
        ).alias("_cc"),
    )
    folded = fb.crossJoin(F.broadcast(ft))
    k = F.col("k_treatments").cast("double")
    tt = F.col("_t")
    den = k * tt - F.col("_rr")
    num = k * F.col("_cc") - tt * tt
    ok = (
        (F.col("k_treatments") > 1)
        & (F.col("n_blocks") > 0)
        & (F.abs(den) > 1e-12)
    )
    q = F.when(ok, (k - F.lit(1.0)) * num / den)
    dof = (F.col("k_treatments") - 1).cast("long")
    d_ = dof.cast("double")
    z = F.when(
        ok & (q >= 0),
        (
            F.pow(q / d_, F.lit(1.0) / F.lit(3.0))
            - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * d_))
        )
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * d_)),
    )
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    tq = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * tq
        - F.lit(0.284496736) * (tq**2)
        + F.lit(1.421413741) * (tq**3)
        - F.lit(1.453152027) * (tq**4)
        + F.lit(1.061405429) * (tq**5)
    )
    erfc = poly * F.exp(-az * az)
    p = F.when(
        z.isNotNull(),
        F.when(z >= 0, erfc / F.lit(2.0)).otherwise(
            F.lit(1.0) - erfc / F.lit(2.0)
        ),
    )
    return _eager_one_row(
        blocks,
        folded.select(
            "k_treatments",
            "n_blocks",
            F.lit(n_dropped).cast("long").alias(
                "n_blocks_dropped"
            ),
            F.round(q, 6).alias("q_stat"),
            dof.alias("dof"),
            F.round(p, 6).alias("p_value"),
            F.when(p.isNotNull(), p < F.lit(0.05)).alias(
                "significant"
            ),
        ),
    )


def inequality_indices(
    df: DataFrame,
    value_col: str,
    group_col: str | None = None,
) -> DataFrame:
    """One-pass inequality indices per group: ``([grp,] n, mean,
    theil_t, theil_l, atkinson_05)`` — the decomposable complements
    to ``gini_concentration`` (Gini needs a rank pass; these are pure
    moment folds, so they scale as ONE map-side-combined aggregate):
    Theil-T ``= E[x/μ·ln(x/μ)]`` (top-sensitive), Theil-L
    ``= ln μ − E[ln x]`` (bottom-sensitive), Atkinson(ε=0.5)
    ``= 1 − (E[√x])²/μ``.  All require x > 0: non-positive and NULL
    values are EXCLUDED (documented — entropy-based indices are
    undefined there), n reports the included count.  A degenerate
    group (n = 0 after filtering) vanishes; a constant group yields
    exact zeros.

    Plan: one hash aggregate carrying 4 moments (Σx, Σln x, Σx·ln x,
    Σ√x) — no second pass, no sort, no window; the arithmetic is
    group-sized.
    """
    x = F.col(value_col).cast("double")
    base = df.filter(x.isNotNull() & (x > 0)).select(
        *([F.col(group_col).alias("grp")] if group_col else []),
        x.alias("_x"),
    )
    keys = ["grp"] if group_col else []
    mom = base.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("_x").alias("_sx"),
        F.sum(F.log("_x")).alias("_slx"),
        F.sum(F.col("_x") * F.log("_x")).alias("_sxlx"),
        F.sum(F.sqrt("_x")).alias("_srx"),
    )
    nn = F.col("n").cast("double")
    mu = F.col("_sx") / nn
    theil_t = F.col("_sxlx") / F.col("_sx") - F.log(mu)
    theil_l = F.log(mu) - F.col("_slx") / nn
    atk = F.lit(1.0) - (F.col("_srx") / nn) ** 2 / mu
    return mom.select(
        *keys,
        "n",
        F.round(mu, 6).alias("mean"),
        F.round(theil_t, 6).alias("theil_t"),
        F.round(theil_l, 6).alias("theil_l"),
        F.round(atk, 6).alias("atkinson_05"),
    )


def page_trend(
    df: DataFrame,
    block_col: str,
    treatment_col: str,
    value_col: str,
) -> DataFrame:
    """Page's L test for ORDERED alternatives across k related
    samples: one row ``(k_treatments, n_blocks, n_blocks_dropped,
    l_stat, z, p_value, significant)`` — ``friedman_test`` answers
    "do the treatments differ AT ALL?"; this answers "do they
    INCREASE in a prespecified order?" with far more power when the
    order is right.  The order is the treatments' LEXICOGRAPHIC label
    order (documented contract — callers encode the hypothesized
    order into sortable labels, e.g. ``dose_1 < dose_2 < dose_3``).
    ``L = Σ_j rank(label_j)·R_j`` over within-block tie-averaged
    ranks; one-sided upper normal tail of ``z = (L − μ)/σ`` with
    ``μ = n·k(k+1)²/4``, ``σ² = n·k²(k+1)(k²−1)/144`` (the standard
    approximation; ties make it slightly conservative, documented).
    Complete-case over blocks like ``friedman_test`` (duplicates
    rejected loudly); k < 2 or a degenerate σ yields NULLs.

    Plan: identical to ``friedman_test`` — one block-array rollup,
    k-element array-lambda ranks, one treatment rollup (plus a k-row
    label-rank window), a 1-row fold.
    """
    b = F.col(block_col).cast("string").alias("_blk")
    t = F.col(treatment_col).cast("string").alias("_trt")
    v = F.col(value_col).cast("double").alias("_v")
    cells = df.select(b, t, v).filter(
        F.col("_blk").isNotNull()
        & F.col("_trt").isNotNull()
        & F.col("_v").isNotNull()
    )
    # same rollup re-plan as friedman_test: block arrays once, ranks
    # as k-element array lambdas, no windows (identical half-integer
    # arithmetic — see _blocked_design_rollup)
    blocks, ktot, guards = _blocked_design_rollup(cells, "_v")
    k_tot, n_dropped = _collect_guards(
        blocks, ktot, guards, "page_trend"
    )
    ranked = _within_block_rank_rows(_complete_blocks(blocks, k_tot))
    per_t = ranked.groupBy("_trt").agg(
        F.sum("_r").alias("_rsum"),
        F.count(F.lit(1)).cast("double").alias("_nb"),
    )
    ordered = per_t.withColumn(
        "_j",
        F.row_number()
        .over(Window.orderBy("_trt"))
        .cast("double"),
    )
    folded = ordered.agg(
        F.count(F.lit(1)).cast("long").alias("k_treatments"),
        F.max("_nb").alias("_n"),
        F.sum(F.col("_j") * F.col("_rsum")).alias("_l"),
    )
    k = F.col("k_treatments").cast("double")
    n = F.col("_n")
    mu = n * k * (k + F.lit(1.0)) * (k + F.lit(1.0)) / F.lit(4.0)
    var = (
        n
        * k
        * k
        * (k + F.lit(1.0))
        * (k * k - F.lit(1.0))
        / F.lit(144.0)
    )
    ok = (F.col("k_treatments") > 1) & (n > 0) & (var > 0)
    z = F.when(ok, (F.col("_l") - mu) / F.sqrt(var))
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    tq = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * tq
        - F.lit(0.284496736) * (tq**2)
        + F.lit(1.421413741) * (tq**3)
        - F.lit(1.453152027) * (tq**4)
        + F.lit(1.061405429) * (tq**5)
    )
    erfc = poly * F.exp(-az * az)
    # one-sided UPPER tail: trend in the hypothesized label order
    p = F.when(
        z.isNotNull(),
        F.when(z >= 0, erfc / F.lit(2.0)).otherwise(
            F.lit(1.0) - erfc / F.lit(2.0)
        ),
    )
    return _eager_one_row(
        blocks,
        folded.select(
            "k_treatments",
            F.coalesce(n, F.lit(0.0)).cast("long").alias("n_blocks"),
            F.lit(n_dropped).cast("long").alias(
                "n_blocks_dropped"
            ),
            F.round(F.col("_l"), 6).alias("l_stat"),
            F.round(z, 6).alias("z"),
            F.round(p, 6).alias("p_value"),
            F.when(p.isNotNull(), p < F.lit(0.05)).alias(
                "significant"
            ),
        ),
    )


def msprt_test(
    a: DataFrame,
    b: DataFrame,
    column: str,
    tau: float = 1.0,
    mu0: float = 0.0,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT) for the
    difference of means — the ALWAYS-VALID A/B readout: unlike the
    fixed-horizon z-test (``ab_test``/``proportion_ztest``), its
    p-value stays valid under continuous monitoring and optional
    stopping, so "peeking" at a live experiment can't inflate false
    positives.  One row ``(n_a, n_b, mean_a, mean_b, delta,
    lambda_stat, p_always_valid, significant)`` with the normal
    mixture (prior scale ``tau``) over H₀: Δ = ``mu0``:

        Λ = √(se²/(se² + τ²)) · exp(τ²·(Δ−μ₀)² / (2·se²·(se²+τ²)))
        p = min(1, 1/Λ)      (Ville's inequality)

    ``se² = s²_a/n_a + s²_b/n_b`` (Welch, sample variances).  τ
    matches the prior scale of plausible effects — too small wastes
    power on big effects, too big on small ones (documented; 1.0
    suits unit-scale metrics).  Degenerate inputs (either side n < 2
    or se = 0) yield NULL stats.  NULL values are excluded.

    Plan: one 3-moment fold per side (map-side combined), 1-row
    arithmetic after — no joins over data, no windows.
    """
    if tau <= 0:
        raise ValueError("msprt_test: tau must be > 0")

    def _fold(df: DataFrame, tag: str) -> DataFrame:
        v = F.col(column).cast("double")
        return df.filter(v.isNotNull()).agg(
            F.count(F.lit(1)).cast("long").alias(f"n_{tag}"),
            F.sum(v).alias(f"_s_{tag}"),
            F.sum(v * v).alias(f"_ss_{tag}"),
        )

    folded = _fold(a, "a").crossJoin(_fold(b, "b"))
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    ma = F.col("_s_a") / na
    mb = F.col("_s_b") / nb
    va = (F.col("_ss_a") - na * ma * ma) / (na - F.lit(1.0))
    vb = (F.col("_ss_b") - nb * mb * mb) / (nb - F.lit(1.0))
    se2 = va / na + vb / nb
    ok = (na >= 2) & (nb >= 2) & (se2 > 0)
    t2 = F.lit(float(tau) * float(tau))
    delta = ma - mb
    lam = F.when(
        ok,
        F.sqrt(se2 / (se2 + t2))
        * F.exp(
            t2
            * (delta - F.lit(float(mu0)))
            * (delta - F.lit(float(mu0)))
            / (F.lit(2.0) * se2 * (se2 + t2))
        ),
    )
    p = F.when(ok, F.least(F.lit(1.0), F.lit(1.0) / lam))
    return folded.select(
        "n_a",
        "n_b",
        F.round(ma, 6).alias("mean_a"),
        F.round(mb, 6).alias("mean_b"),
        F.round(delta, 6).alias("delta"),
        F.round(lam, 6).alias("lambda_stat"),
        F.round(p, 6).alias("p_always_valid"),
        F.when(p.isNotNull(), p < F.lit(0.05)).alias("significant"),
    )


def quantile_treatment_effect(
    a: DataFrame,
    b: DataFrame,
    column: str,
    probs: list[float] | None = None,
) -> DataFrame:
    """Quantile treatment effects: ``(prob, q_treat, q_ctrl, qte)``
    per requested quantile — WHERE in the outcome distribution did
    the treatment act?  A mean shift (``ab_test``) can hide a pure
    tail effect; QTE shows median vs p90 movement separately.
    Quantiles are EXACT (``operators/ranges.exact_quantiles`` — the
    distributed histogram passes, bit-identical to the ``percentile``
    builtin, never a single-task sort), computed independently per
    arm; an empty arm yields NULL for its side.  This is a
    DIFFERENCE-of-quantiles readout, not a paired per-unit effect
    (the standard caveat, documented).

    Plan: two bounded multi-pass histogram selections (each a few
    rollup-sized exchanges); the returned frame is a |probs|-row
    driver-side literal (the ``ks_test`` convention).
    """
    from .ranges import exact_quantiles

    probs = list(probs or (0.1, 0.25, 0.5, 0.75, 0.9))
    if not probs or any(not (0.0 <= p <= 1.0) for p in probs):
        raise ValueError(
            "quantile_treatment_effect: probs must lie in [0, 1]"
        )
    qa = exact_quantiles(a, column, probs)
    qb = exact_quantiles(b, column, probs)
    spark = a.sparkSession
    rows = []
    for i, p in enumerate(probs):
        va = None if qa is None else qa[i]
        vb = None if qb is None else qb[i]
        rows.append(
            (
                float(p),
                None if va is None else round(float(va), 6),
                None if vb is None else round(float(vb), 6),
                None
                if va is None or vb is None
                else round(float(va) - float(vb), 6),
            )
        )
    return literal_frame(spark, 
        rows, "prob double, q_treat double, q_ctrl double, qte double"
    )


def wasserstein_1d(
    a: DataFrame,
    b: DataFrame,
    column: str,
) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between two
    samples: one row ``(n_a, n_b, wasserstein)`` computed as
    ``∫|F_a(x) − F_b(x)| dx`` over the merged empirical CDFs — the
    magnitude-aware drift metric: KS (``ks_drift``) reports the worst
    CDF gap, PSI needs bins; W₁ reports HOW MUCH mass moved HOW FAR,
    in the column's own units.  Empty sides yield NULL.

    Plan — the integrand is piecewise-constant between distinct
    values, so everything folds over the distinct-value rollup (the
    ``ks_test`` scheme plus one value-gap term):

    1. one union + (value) hash aggregate → per-value side counts;
    2. one exclusive ``ranges.prefix_scan`` → both CDFs just below
       each value, and the previous distinct value as the running max
       of ``v`` — never a global single-task window;
    3. one 1-row fold of Σ |F_a − F_b|·(v − prev_v).
    """
    va = a.select(F.col(column).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    vb = b.select(F.col(column).cast("double").alias("v")).filter(
        F.col("v").isNotNull()
    )
    tagged = va.select(
        "v", F.lit(1).alias("_ia"), F.lit(0).alias("_ib")
    ).unionByName(
        vb.select("v", F.lit(0).alias("_ia"), F.lit(1).alias("_ib"))
    )
    per_v = tagged.groupBy("v").agg(
        F.sum("_ia").cast("long").alias("_ca"),
        F.sum("_ib").cast("long").alias("_cb"),
    )
    scan = prefix_scan(
        per_v,
        [F.col("v").asc()],
        {
            "_fa": ("sum", F.col("_ca")),
            "_fb": ("sum", F.col("_cb")),
            "_prev": ("max", F.col("v")),
        },
        exclusive=True,
        totals={"_na": ("sum", F.col("_ca")), "_nb": ("sum", F.col("_cb"))},
    )
    na = F.col("_na").cast("double")
    nb = F.col("_nb").cast("double")
    # ANSI mode: guard the divisions — an empty side must yield a
    # NULL metric, not a divide-by-zero error
    live = (na > 0) & (nb > 0)
    fa = F.when(live, F.col("_fa").cast("double") / na)
    fb = F.when(live, F.col("_fb").cast("double") / nb)
    gap = F.col("v") - F.col("_prev")
    term = F.when(
        live & gap.isNotNull(), F.abs(fa - fb) * gap
    ).otherwise(F.lit(0.0))
    folded = scan.agg(
        F.max(na).alias("_fna"),
        F.max(nb).alias("_fnb"),
        F.coalesce(F.sum(term), F.lit(0.0)).alias("_w"),
    )
    ok = (F.col("_fna") > 0) & (F.col("_fnb") > 0)
    out = folded.select(
        F.col("_fna").cast("long").alias("n_a"),
        F.col("_fnb").cast("long").alias("n_b"),
        F.when(ok, F.round(F.col("_w"), 6)).alias("wasserstein"),
    )
    return owned(out, scan)


def js_divergence(
    a: DataFrame,
    b: DataFrame,
    column: str,
) -> DataFrame:
    """Jensen–Shannon divergence between two CATEGORICAL
    distributions: one row ``(n_a, n_b, n_categories, jsd, jsd_bits)``
    — the symmetric, always-finite drift metric for label/source/
    language mixes: PSI (``psi_categorical``) blows up on categories
    absent from one side; JSD handles them exactly (the missing
    side's term is 0, the present side contributes against the
    mixture).  ``jsd = (KL(P‖M) + KL(Q‖M))/2`` in nats with
    ``M = (P+Q)/2``; ``jsd_bits = jsd/ln 2`` is bounded by [0, 1].
    NULL categories are excluded; an empty side yields NULL.

    Plan: ONE union + category hash aggregate (map-side combined, ≤
    |categories| rows), a 1-row total broadcast, a category-sized
    fold — no joins over data.
    """
    ca = a.select(F.col(column).cast("string").alias("c")).filter(
        F.col("c").isNotNull()
    )
    cb = b.select(F.col(column).cast("string").alias("c")).filter(
        F.col("c").isNotNull()
    )
    tagged = ca.select(
        "c", F.lit(1).alias("_ia"), F.lit(0).alias("_ib")
    ).unionByName(
        cb.select("c", F.lit(0).alias("_ia"), F.lit(1).alias("_ib"))
    )
    per_c = tagged.groupBy("c").agg(
        F.sum("_ia").cast("double").alias("_pa"),
        F.sum("_ib").cast("double").alias("_pb"),
    )
    tot = per_c.agg(
        F.sum("_pa").alias("_na"), F.sum("_pb").alias("_nb")
    )
    j = per_c.crossJoin(F.broadcast(tot))
    p = F.col("_pa") / F.col("_na")
    q = F.col("_pb") / F.col("_nb")
    m = (p + q) / F.lit(2.0)
    kl_p = F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
    kl_q = F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    folded = j.agg(
        F.max("_na").alias("_fa"),
        F.max("_nb").alias("_fb"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        (F.sum(kl_p + kl_q) / F.lit(2.0)).alias("_jsd"),
    )
    ok = (F.col("_fa") > 0) & (F.col("_fb") > 0)
    jsd = F.when(ok, F.greatest(F.lit(0.0), F.col("_jsd")))
    return folded.select(
        F.col("_fa").cast("long").alias("n_a"),
        F.col("_fb").cast("long").alias("n_b"),
        "n_categories",
        F.round(jsd, 6).alias("jsd"),
        F.round(jsd / F.lit(0.6931471805599453), 6).alias("jsd_bits"),
    )


def mahalanobis_outliers(
    df: DataFrame,
    x_col: str,
    y_col: str,
    threshold: float = 13.8155,
) -> DataFrame:
    """Bivariate Mahalanobis outlier distances: adds ``maha_d2`` and
    ``is_outlier`` per row — the correlation-aware generalization of
    per-column z-scores (``iqr_outliers``/``mad_outliers`` miss
    points that are unremarkable per-axis but violate the JOINT
    shape, e.g. high price at low quantity).  ``d² = (x−μ)ᵀ Σ⁻¹
    (x−μ)`` with the 2×2 covariance inverted in CLOSED FORM as
    column expressions — fully relational, no numpy, so the oracle
    replays it verbatim.  The default threshold is χ²₂(0.999).
    Degenerate covariance (|Σ| ≤ 0: constant or perfectly collinear
    columns) yields NULL distances, loudly.  NULL in either column
    excludes the row.

    Plan: ONE 5-moment hash aggregate (map-side combined) broadcast
    back as a 1-row frame; the distance is a pure projection —
    two data passes total, no shuffle of data rows.
    """
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull())
    mom = base.agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.avg(x).alias("_mx"),
        F.avg(y).alias("_my"),
        F.avg(x * x).alias("_mxx"),
        F.avg(y * y).alias("_myy"),
        F.avg(x * y).alias("_mxy"),
    )
    out = base.crossJoin(F.broadcast(mom))
    vx = F.col("_mxx") - F.col("_mx") * F.col("_mx")
    vy = F.col("_myy") - F.col("_my") * F.col("_my")
    cxy = F.col("_mxy") - F.col("_mx") * F.col("_my")
    det = vx * vy - cxy * cxy
    dx = x - F.col("_mx")
    dy = y - F.col("_my")
    d2 = F.when(
        (F.col("_n") >= 2) & (det > 0),
        (vy * dx * dx - F.lit(2.0) * cxy * dx * dy + vx * dy * dy)
        / det,
    )
    return out.select(
        *[c for c in df.columns],
        F.round(d2, 6).alias("maha_d2"),
        F.when(d2.isNotNull(), d2 > F.lit(float(threshold))).alias(
            "is_outlier"
        ),
    )


def price_index(
    base: DataFrame,
    current: DataFrame,
    item_col: str,
    price_col: str,
    qty_col: str,
) -> DataFrame:
    """Bilateral price indices between a base and a current period:
    one row ``(n_items, laspeyres, paasche, fisher)`` — the classic
    "how much did prices move, holding the basket fixed?" readouts:
    Laspeyres weights by BASE-period quantities (overstates inflation
    under substitution), Paasche by CURRENT quantities (understates),
    Fisher is their geometric mean (the superlative index).  Only
    items present in BOTH periods enter (matched-model — the standard
    treatment of entry/exit; the count is reported).  Per-period
    (item, price, qty) cells come from the caller (pre-aggregate
    multi-row periods first — duplicates raise loudly via the same
    one-pass guard scheme as the blocked tests).  An empty match set
    or zero denominators yield NULL indices.

    Plan: one hash aggregate per side → ONE equi join on item
    (matched-model) → a 1-row fold of the four Σp·q sums.
    """
    def _side(df: DataFrame, tag: str) -> DataFrame:
        return df.select(
            F.col(item_col).cast("string").alias("_item"),
            F.col(price_col).cast("double").alias(f"_p_{tag}"),
            F.col(qty_col).cast("double").alias(f"_q_{tag}"),
        ).filter(
            F.col("_item").isNotNull()
            & F.col(f"_p_{tag}").isNotNull()
            & F.col(f"_q_{tag}").isNotNull()
        )

    b = _side(base, "b")
    c = _side(current, "c")
    dup = (
        b.groupBy("_item")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > 1)
        .unionByName(
            c.groupBy("_item")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
        )
        .limit(1)
        .count()
    )
    if dup:
        raise ValueError(
            "price_index: multiple rows per item in a period — "
            "pre-aggregate first"
        )
    matched = b.join(c, "_item")
    folded = matched.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.col("_p_c") * F.col("_q_b")).alias("_cb"),
        F.sum(F.col("_p_b") * F.col("_q_b")).alias("_bb"),
        F.sum(F.col("_p_c") * F.col("_q_c")).alias("_cc"),
        F.sum(F.col("_p_b") * F.col("_q_c")).alias("_bc"),
    )
    lasp = F.when(F.col("_bb") > 0, F.col("_cb") / F.col("_bb"))
    paas = F.when(F.col("_bc") > 0, F.col("_cc") / F.col("_bc"))
    fish = F.when(
        lasp.isNotNull() & paas.isNotNull() & (lasp * paas >= 0),
        F.sqrt(lasp * paas),
    )
    return folded.select(
        "n_items",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(fish, 6).alias("fisher"),
    )


def rolling_active_users(
    events: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    window_days: int = 7,
) -> DataFrame:
    """Rolling N-day active users per day: ``(day, active_users)``
    counting DISTINCT users active in ``[day − N + 1, day]`` — the
    WAU/MAU generalization (``dau_mau`` reports calendar-month MAU;
    sliding windows don't cliff at month boundaries).

    Distinct-over-sliding-window does NOT decompose into window
    sums — so: dedupe to (user, day) once, EXPLODE each active day
    into the N future days it keeps the user active for, and count
    DISTINCT per covered day (a user active twice in the window
    lands twice on the covered day; the distinct collapses it).
    Emitted days are those with ≥1 covering user — trailing windows
    past the last activity are not materialized (documented).

    Plan: one (user, day) dedup aggregate (map-side combined), an
    N× explode of the ROLLUP (not the events), one (day) distinct
    aggregate.  Exchange carries rollup×N rows — linear, no windows.
    """
    if window_days < 1:
        raise ValueError(
            "rolling_active_users: window_days must be >= 1"
        )
    day = F.floor(
        F.col(ts_col).cast("long") / F.lit(86_400_000_000_000)
    ).cast("long")
    per_ud = (
        events.filter(F.col(user_col).isNotNull())
        .select(F.col(user_col).alias("_u"), day.alias("_d"))
        .distinct()
    )
    covered = per_ud.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.col("_d"), F.col("_d") + F.lit(int(window_days) - 1)
            )
        ),
    )
    return covered.groupBy("day").agg(
        F.countDistinct("_u").alias("active_users")
    )


def mix_rate_decomposition(
    base: DataFrame,
    current: DataFrame,
    segment_col: str,
    weight_col: str,
    metric_col: str,
) -> DataFrame:
    """Mix-vs-rate bridge between two periods: why did the blended
    metric move?  Per segment, ``(segment, w_base, w_cur, r_base,
    r_cur, mix_effect, rate_effect)`` plus the exact identity
    ``Σ mix + Σ rate = blended_cur − blended_base`` where weights are
    each period's segment shares and rates the segment metrics:

        mix_effect_s  = (w1_s − w0_s) · r0_s      (composition moved)
        rate_effect_s = w1_s · (r1_s − r0_s)      (behavior moved)

    The classic "is revenue/quality down because the MIX shifted
    toward a weak segment, or because segments got worse?" BI
    decomposition (a two-factor Laspeyres/Paasche split; the
    interaction term rides ``rate_effect`` by the w1 weighting,
    documented).  Segments missing from a period enter with zero
    weight and a NULL rate treated as contributing only through the
    side that has them.  Inputs are per-segment cells (one row per
    segment per period — duplicates raise loudly).

    Plan: two cell-sized scans for the weight totals + ONE full
    outer join on segment; everything is |segments|-sized.
    """
    def _side(df: DataFrame, tag: str) -> DataFrame:
        out = df.select(
            F.col(segment_col).cast("string").alias("_seg"),
            F.col(weight_col).cast("double").alias(f"_w_{tag}"),
            F.col(metric_col).cast("double").alias(f"_r_{tag}"),
        ).filter(F.col("_seg").isNotNull())
        dup = (
            out.groupBy("_seg")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "mix_rate_decomposition: multiple rows per segment "
                f"in the {tag} period — pre-aggregate first"
            )
        tot = out.agg(F.sum(f"_w_{tag}").alias("_t"))
        return out.crossJoin(F.broadcast(tot)).select(
            "_seg",
            (F.col(f"_w_{tag}") / F.col("_t")).alias(f"_s_{tag}"),
            F.col(f"_r_{tag}"),
        )

    b = _side(base, "b")
    c = _side(current, "c")
    j = b.join(c, "_seg", "full_outer").select(
        F.col("_seg").alias("segment"),
        F.coalesce("_s_b", F.lit(0.0)).alias("w_base"),
        F.coalesce("_s_c", F.lit(0.0)).alias("w_cur"),
        F.col("_r_b").alias("r_base"),
        F.col("_r_c").alias("r_cur"),
    )
    mix = (F.col("w_cur") - F.col("w_base")) * F.coalesce(
        "r_base", "r_cur"
    )
    rate = F.col("w_cur") * (
        F.coalesce("r_cur", F.lit(0.0))
        - F.coalesce("r_base", "r_cur", F.lit(0.0))
    )
    return j.select(
        "segment",
        F.round("w_base", 6).alias("w_base"),
        F.round("w_cur", 6).alias("w_cur"),
        F.round("r_base", 6).alias("r_base"),
        F.round("r_cur", 6).alias("r_cur"),
        F.round(mix, 6).alias("mix_effect"),
        F.round(rate, 6).alias("rate_effect"),
    )


def paired_ttest(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Paired test for two measurements on the SAME rows (before/
    after, model A/model B per example): one row ``(n, mean_diff,
    se, t_stat, p_value, significant)`` over the per-row differences
    — pairing removes the between-row variance that drowns a
    two-sample test (``ab_test``) when rows differ more than
    treatments do.  Normal-approximate two-sided p via the A&S erfc
    polynomial (documented: at the row counts this engine exists
    for, t ≈ z; below ~30 pairs use an exact-table tool).  Zero
    variance in the diffs (all equal): NULL stats.  NULL in either
    column drops the pair.

    Plan: ONE 3-moment hash aggregate over the diffs — no joins, no
    windows; the numeric twin of ``mcnemar_test``.
    """
    a = F.col(a_col).cast("double")
    b = F.col(b_col).cast("double")
    d = a - b
    folded = df.filter(a.isNotNull() & b.isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(d).alias("_s"),
        F.sum(d * d).alias("_ss"),
    )
    n = F.col("n").cast("double")
    mean = F.col("_s") / n
    var = (F.col("_ss") - n * mean * mean) / (n - F.lit(1.0))
    ok = (F.col("n") >= 2) & (var > 0)
    se = F.when(ok, F.sqrt(var / n))
    t = F.when(ok, mean / se)
    az = F.abs(t) / F.sqrt(F.lit(2.0))
    u = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * u
        - F.lit(0.284496736) * (u**2)
        + F.lit(1.421413741) * (u**3)
        - F.lit(1.453152027) * (u**4)
        + F.lit(1.061405429) * (u**5)
    )
    p = F.when(t.isNotNull(), poly * F.exp(-az * az))
    return folded.select(
        "n",
        F.round(F.when(F.col("n") > 0, mean), 6).alias("mean_diff"),
        F.round(se, 6).alias("se"),
        F.round(t, 6).alias("t_stat"),
        F.round(p, 6).alias("p_value"),
        F.when(p.isNotNull(), p < F.lit(0.05)).alias("significant"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
) -> DataFrame:
    """Cochran–Armitage trend test: does a BINARY outcome rate move
    monotonically with an ORDINAL exposure score (dose, tier, bucket
    index)?  One row ``(k_levels, n, z, p_value, significant)`` —
    more powerful than the omnibus χ² (``chi_square``) when the
    alternative is a trend, because it spends its one degree of
    freedom on the ordering:

        z = Σᵢ sᵢ(xᵢ − nᵢ·p̄) / √( p̄(1−p̄)·[Σnᵢsᵢ² − (Σnᵢsᵢ)²/N] )

    with xᵢ successes of nᵢ at score sᵢ.  Two-sided p via the A&S
    erfc polynomial.  Degenerate inputs (one level, all-success/
    all-failure, zero score variance) yield NULLs.  NULLs drop.

    Plan: one (score) hash aggregate (map-side combined, ≤ levels
    groups) + a 1-row fold.
    """
    s = F.col(score_col).cast("double")
    o = F.col(outcome_col).cast("int")
    per = (
        df.filter(s.isNotNull() & o.isNotNull())
        .groupBy(s.alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("double").alias("_n"),
            F.sum(o).cast("double").alias("_x"),
        )
    )
    folded = per.agg(
        F.count(F.lit(1)).cast("long").alias("k_levels"),
        F.sum("_n").alias("_nn"),
        F.sum("_x").alias("_xx"),
        F.sum(F.col("_s") * F.col("_x")).alias("_sx"),
        F.sum(F.col("_s") * F.col("_n")).alias("_sn"),
        F.sum(F.col("_s") * F.col("_s") * F.col("_n")).alias("_ssn"),
    )
    nn = F.col("_nn")
    pbar = F.col("_xx") / nn
    num = F.col("_sx") - pbar * F.col("_sn")
    den2 = (
        pbar
        * (F.lit(1.0) - pbar)
        * (F.col("_ssn") - F.col("_sn") * F.col("_sn") / nn)
    )
    ok = (F.col("k_levels") > 1) & (den2 > 0)
    z = F.when(ok, num / F.sqrt(den2))
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    u = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
    poly = (
        F.lit(0.254829592) * u
        - F.lit(0.284496736) * (u**2)
        + F.lit(1.421413741) * (u**3)
        - F.lit(1.453152027) * (u**4)
        + F.lit(1.061405429) * (u**5)
    )
    p = F.when(z.isNotNull(), poly * F.exp(-az * az))
    return folded.select(
        "k_levels",
        nn.cast("long").alias("n"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
        F.when(p.isNotNull(), p < F.lit(0.05)).alias("significant"),
    )


def odds_ratio(
    df: DataFrame,
    exposure_col: str,
    outcome_col: str,
) -> DataFrame:
    """2×2 odds ratio with the Woolf (log) confidence interval: one
    row ``(n, a, b, c, d, odds_ratio, log_or_se, ci_low, ci_high,
    significant)`` where a/b/c/d are the exposed-positive /
    exposed-negative / unexposed-positive / unexposed-negative
    counts.  The case-control effect size ``ab_test`` (a difference
    of rates) can't express; CI = exp(ln OR ± 1.96·√(1/a+1/b+1/c+
    1/d)); ``significant`` when the CI excludes 1.  The Haldane–
    Anscombe +0.5 correction applies ONLY when some cell is zero
    (documented — applying it always biases dense tables).  NULLs
    drop; both columns are coerced to 0/1.

    Plan: ONE conditional-sum aggregate — no joins, no windows.
    """
    e = F.col(exposure_col).cast("int")
    o = F.col(outcome_col).cast("int")
    folded = df.filter(e.isNotNull() & o.isNotNull()).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((e == 1) & (o == 1)).cast("long")).alias("a"),
        F.sum(((e == 1) & (o == 0)).cast("long")).alias("b"),
        F.sum(((e == 0) & (o == 1)).cast("long")).alias("c"),
        F.sum(((e == 0) & (o == 0)).cast("long")).alias("d"),
    )
    any_zero = (
        (F.col("a") == 0)
        | (F.col("b") == 0)
        | (F.col("c") == 0)
        | (F.col("d") == 0)
    )
    half = F.when(any_zero, F.lit(0.5)).otherwise(F.lit(0.0))
    a = F.col("a").cast("double") + half
    b = F.col("b").cast("double") + half
    c = F.col("c").cast("double") + half
    d = F.col("d").cast("double") + half
    orr = (a * d) / (b * c)
    se = F.sqrt(
        F.lit(1.0) / a + F.lit(1.0) / b + F.lit(1.0) / c + F.lit(1.0) / d
    )
    lo = F.exp(F.log(orr) - F.lit(1.959964) * se)
    hi = F.exp(F.log(orr) + F.lit(1.959964) * se)
    ok = F.col("n") > 0
    return folded.select(
        "n",
        "a",
        "b",
        "c",
        "d",
        F.round(F.when(ok, orr), 6).alias("odds_ratio"),
        F.round(F.when(ok, se), 6).alias("log_or_se"),
        F.round(F.when(ok, lo), 6).alias("ci_low"),
        F.round(F.when(ok, hi), 6).alias("ci_high"),
        F.when(ok, (lo > 1) | (hi < 1)).alias("significant"),
    )


def quantile_ci(
    df: DataFrame,
    column: str,
    prob: float = 0.5,
    confidence: float = 0.95,
) -> DataFrame:
    """Distribution-free confidence interval for a quantile via
    ORDER STATISTICS: one row ``(n, prob, estimate, ci_low, ci_high,
    rank_low, rank_high)`` — the rank of the p-quantile is
    Binomial(n, p), so ``[x_(r_lo), x_(r_hi)]`` with ``r = n·p ±
    z·√(n·p(1−p))`` covers the true quantile at the target level
    with NO distributional assumption (the bootstrap without the
    bootstrap: exact order statistics, two extra rank selections).
    The normal rank approximation is standard for n ≳ 30
    (documented); ranks clamp to [1, n].  NULLs drop; n = 0 returns
    a single all-NULL-stats row.

    Plan: ONE ``exact_quantiles`` multi-selection resolves all three
    ranks together (the bounded histogram passes — never a global
    sort; integer rank positions interpolate trivially) over ONE
    cached value projection; the result is a 1-row driver literal
    (the ``ks_test`` convention).
    """
    import math as _math

    if not (0.0 < prob < 1.0):
        raise ValueError("quantile_ci: prob must be in (0, 1)")
    if not (0.5 <= confidence < 1.0):
        raise ValueError(
            "quantile_ci: confidence must be in [0.5, 1)"
        )
    from .ranges import exact_quantiles

    spark = df.sparkSession
    vals = df.select(
        F.col(column).cast("double").alias("_v")
    ).filter(F.col("_v").isNotNull())
    vals = vals.persist()
    n = vals.count()
    schema = (
        "n long, prob double, estimate double, ci_low double, "
        "ci_high double, rank_low long, rank_high long"
    )
    if n == 0:
        vals.unpersist()
        return literal_frame(spark, 
            [(0, float(prob), None, None, None, None, None)], schema
        )
    # two-sided z for the requested confidence via the A&S inverse
    # (rational approximation, |eps| < 4.5e-4 — far inside the
    # integer rank rounding this feeds)
    alpha = 1.0 - confidence
    pz = 1.0 - alpha / 2.0
    t = _math.sqrt(-2.0 * _math.log(1.0 - pz))
    z = t - (2.30753 + 0.27061 * t) / (
        1.0 + 0.99229 * t + 0.04481 * t * t
    )
    mean = n * prob
    sd = _math.sqrt(n * prob * (1.0 - prob))
    r_lo = max(1, min(n, int(_math.floor(mean - z * sd))))
    r_hi = max(1, min(n, int(_math.ceil(mean + z * sd))))
    # half-up, NOT python round (banker's): the oracle replays
    # floor(x + 0.5) exactly
    r_pt = max(1, min(n, int(_math.floor(prob * (n - 1) + 0.5)) + 1))
    if n == 1:
        lo = est = hi = vals.first()["_v"]
    else:
        # one multi-rank selection: rank r is the exact order stat at
        # position (r-1)/(n-1) — integer positions, no interpolation
        qs = exact_quantiles(
            vals,
            "_v",
            [
                (r_lo - 1) / (n - 1),
                (r_pt - 1) / (n - 1),
                (r_hi - 1) / (n - 1),
            ],
        )
        lo, est, hi = qs
    vals.unpersist()
    return literal_frame(spark, 
        [
            (
                n,
                float(prob),
                None if est is None else round(float(est), 6),
                None if lo is None else round(float(lo), 6),
                None if hi is None else round(float(hi), 6),
                r_lo,
                r_hi,
            )
        ],
        schema,
    )


def capture_recapture(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
) -> DataFrame:
    """Chapman capture–recapture population estimate from two
    independent detection passes: one row ``(n_a, n_b, n_overlap,
    estimate, se, ci_low, ci_high)`` with ``N̂ = (n_a+1)(n_b+1)/
    (m+1) − 1`` — the dedup-QA workhorse: run two DIFFERENT
    near-dup detectors (e.g. MinHash and SimHash) over the same
    corpus, treat each's detected set as a "capture", and estimate
    how many duplicates BOTH missed.  Assumes independent detection
    with equal catchability (documented — correlated detectors bias
    N̂ low).  Chapman is unbiased for m > 0 and defined even at
    m = 0, unlike Lincoln–Petersen; the CI is the normal interval on
    the Chapman variance, floored at max(n_a, n_b) (an estimate
    below either capture is impossible).

    Plan: two distinct-count folds + ONE inner join for the overlap
    — no data-sized shuffles beyond the id projections.
    """
    ia = a.select(F.col(id_col).alias("_id")).filter(
        F.col("_id").isNotNull()
    ).distinct()
    ib = b.select(F.col(id_col).alias("_id")).filter(
        F.col("_id").isNotNull()
    ).distinct()
    na = ia.agg(F.count(F.lit(1)).alias("_n"))
    nb = ib.agg(F.count(F.lit(1)).alias("_n"))
    m = ia.join(ib, "_id").agg(F.count(F.lit(1)).alias("_m"))
    folded = (
        na.select(F.col("_n").alias("n_a"))
        .crossJoin(nb.select(F.col("_n").alias("n_b")))
        .crossJoin(F.broadcast(m.select(F.col("_m").alias("n_overlap"))))
    )
    a_ = F.col("n_a").cast("double")
    b_ = F.col("n_b").cast("double")
    m_ = F.col("n_overlap").cast("double")
    est = (a_ + 1) * (b_ + 1) / (m_ + 1) - F.lit(1.0)
    var = (
        (a_ + 1)
        * (b_ + 1)
        * (a_ - m_)
        * (b_ - m_)
        / ((m_ + 1) * (m_ + 1) * (m_ + 2))
    )
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    floor_ = F.greatest(a_, b_)
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return folded.select(
        "n_a",
        "n_b",
        "n_overlap",
        F.round(F.when(ok, F.greatest(est, floor_)), 6).alias(
            "estimate"
        ),
        F.round(F.when(ok, se), 6).alias("se"),
        F.round(
            F.when(ok, F.greatest(est - F.lit(1.959964) * se, floor_)),
            6,
        ).alias("ci_low"),
        F.round(
            F.when(ok, F.greatest(est + F.lit(1.959964) * se, floor_)),
            6,
        ).alias("ci_high"),
    )


def mrr_bridge(
    base: DataFrame,
    current: DataFrame,
    id_col: str,
    amount_col: str,
) -> DataFrame:
    """Recurring-revenue movement bridge between two periods: rows
    ``(movement, n_accounts, amount)`` for movement ∈ {retained,
    expansion, contraction, new, churned} plus the identity
    ``base + new + expansion − contraction − churned = current``
    (retained carries the UNCHANGED portion: an account paying 80
    after 100 contributes 80 retained + 20 contraction, so the
    bridge sums account-exactly, not just in aggregate).  The SaaS
    twin of ``mix_rate_decomposition`` — per-account attribution
    instead of per-segment.  One row per account per period
    (duplicates raise loudly); zero/NULL amounts are treated as
    absent (a zeroed subscription IS churn).

    Plan: one FULL OUTER equi join on the account id + one 5-way
    conditional fold — |accounts|-sized all the way.
    """
    def _side(df: DataFrame, tag: str) -> DataFrame:
        out = df.select(
            F.col(id_col).cast("string").alias("_id"),
            F.col(amount_col).cast("double").alias(f"_a_{tag}"),
        ).filter(
            F.col("_id").isNotNull()
            & F.col(f"_a_{tag}").isNotNull()
            & (F.col(f"_a_{tag}") > 0)
        )
        dup = (
            out.groupBy("_id")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count()
        )
        if dup:
            raise ValueError(
                "mrr_bridge: multiple rows per account in the "
                f"{tag} period — pre-aggregate first"
            )
        return out

    b = _side(base, "b")
    c = _side(current, "c")
    j = b.join(c, "_id", "full_outer").select(
        F.coalesce("_a_b", F.lit(0.0)).alias("_b"),
        F.coalesce("_a_c", F.lit(0.0)).alias("_c"),
    )
    terms = j.select(
        F.least("_b", "_c").alias("_retained"),
        F.when(F.col("_b") == 0, F.col("_c"))
        .otherwise(F.lit(0.0))
        .alias("_new"),
        F.when(
            (F.col("_b") > 0) & (F.col("_c") > F.col("_b")),
            F.col("_c") - F.col("_b"),
        )
        .otherwise(F.lit(0.0))
        .alias("_expansion"),
        F.when(
            (F.col("_c") > 0) & (F.col("_b") > F.col("_c")),
            F.col("_b") - F.col("_c"),
        )
        .otherwise(F.lit(0.0))
        .alias("_contraction"),
        F.when(F.col("_c") == 0, F.col("_b"))
        .otherwise(F.lit(0.0))
        .alias("_churned"),
    )
    folded = terms.agg(
        *[
            x
            for name in (
                "retained",
                "new",
                "expansion",
                "contraction",
                "churned",
            )
            for x in (
                F.sum(f"_{name}").alias(f"_s_{name}"),
                F.sum((F.col(f"_{name}") > 0).cast("long")).alias(
                    f"_n_{name}"
                ),
            )
        ]
    )
    rows = []
    for name in ("retained", "new", "expansion", "contraction",
                 "churned"):
        rows.append(
            folded.select(
                F.lit(name).alias("movement"),
                F.coalesce(F.col(f"_n_{name}"), F.lit(0)).alias(
                    "n_accounts"
                ),
                F.round(
                    F.coalesce(F.col(f"_s_{name}"), F.lit(0.0)), 6
                ).alias("amount"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def cox_ph(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    x_col: str,
    iterations: int = 8,
    divergence_cap: float = 50.0,
) -> DataFrame:
    """Cox proportional-hazards regression, one covariate, Breslow
    ties: one row ``(n, n_events, beta, hazard_ratio, se, z, p_value,
    significant)`` — the survival family's effect-size estimator:
    ``kaplan_meier`` draws the curves, ``log_rank_test`` says the
    groups differ, Cox says BY HOW MUCH per unit of ``x``, without
    choosing a baseline hazard shape.  ``hazard_ratio = exp(beta)``;
    two-sided p via the Abramowitz–Stegun 7.1.26 erfc polynomial (the
    ``ab_test`` convention), ``significant`` at 5%.

    FIXED-ITERATION Newton–Raphson (``iterations`` rounds from
    β = 0), not tolerance-stopped — deliberately, so the whole
    optimization replays bit-stably in any engine (the ``bpe``
    unrolled-merges convention); 8 rounds converge far below the
    6-dp output rounding for any single-covariate problem that
    converges at all.  |β| past ``divergence_cap`` raises loudly
    (monotone likelihood — a perfectly separating covariate has no
    finite MLE).  NULL duration/event/x excludes the row; zero
    events or a constant covariate (observed information ≤ 0)
    yields an all-NULL estimate row, loudly.

    Plan, per Newton round: ONE data pass — a hash aggregate to the
    |distinct durations| rollup of β-weighted moments (Σe^{βx},
    Σxe^{βx}, Σx²e^{βx}, events' d and Σx) — then descending-time
    suffix sums over that rollup (duration-cardinality-sized, the
    ``kaplan_meier`` window scheme) give every risk set's S0/S1/S2
    in one window pass, and a 1-row fold yields the score U and
    information I.  β updates on the driver (the ``bradley_terry``
    driver-solve convention: the state is ONE scalar).  Total:
    ``iterations + 1`` linear passes, no joins, no data-sized
    windows.
    """
    import math as _math

    if iterations < 1:
        raise ValueError("cox_ph: iterations must be >= 1")
    t = F.col(duration_col).cast("double")
    e = F.col(event_col).cast("int")
    x = F.col(x_col).cast("double")
    base = df.select(
        t.alias("_t"), e.alias("_e"), x.alias("_x")
    ).filter(
        F.col("_t").isNotNull()
        & F.col("_e").isNotNull()
        & F.col("_x").isNotNull()
    )
    spark = df.sparkSession

    def fold(beta: float):
        bw = F.exp(F.lit(float(beta)) * F.col("_x"))
        per = base.groupBy("_t").agg(
            F.sum(bw).alias("_w"),
            F.sum(F.col("_x") * bw).alias("_xw"),
            F.sum(F.col("_x") * F.col("_x") * bw).alias("_x2w"),
            F.sum("_e").cast("long").alias("_d"),
            F.sum(F.col("_e") * F.col("_x")).alias("_dx"),
            F.count(F.lit(1)).cast("long").alias("_n"),
        )
        w = (
            Window.partitionBy()
            .orderBy(F.col("_t").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        s = per.select(
            "_d",
            "_dx",
            "_n",
            F.sum("_w").over(w).alias("_s0"),
            F.sum("_xw").over(w).alias("_s1"),
            F.sum("_x2w").over(w).alias("_s2"),
        )
        r = s.agg(
            F.sum("_n").alias("n"),
            F.sum("_d").alias("d"),
            F.sum(
                F.when(
                    F.col("_d") > 0,
                    F.col("_dx")
                    - F.col("_d") * F.col("_s1") / F.col("_s0"),
                )
            ).alias("u"),
            F.sum(
                F.when(
                    F.col("_d") > 0,
                    F.col("_d")
                    * (
                        F.col("_s2") / F.col("_s0")
                        - (F.col("_s1") / F.col("_s0")) ** 2
                    ),
                )
            ).alias("i"),
        ).collect()[0]
        return r["n"], r["d"], r["u"], r["i"]

    schema = (
        "n long, n_events long, beta double, hazard_ratio double, "
        "se double, z double, p_value double, significant boolean"
    )
    def _separation(b: float):
        raise ValueError(
            f"cox_ph: no finite MLE at beta = {b:.3f} — the covariate "
            "(near-)perfectly separates event order (monotone "
            "likelihood: the information collapsed or |beta| passed "
            f"{divergence_cap}); check for leakage or cap/bin the "
            "covariate"
        )

    beta = 0.0
    n = d = 0
    for _ in range(int(iterations)):
        n, d, u, info = fold(beta)
        if not n or not d or info is None or info <= 0.0:
            # info collapse at a drifted beta IS separation (the
            # monotone-likelihood walk flattens the exp weights until
            # every risk set is a point mass) — refuse loudly; at
            # beta ~ 0 it's just a constant covariate: NULL row
            if abs(beta) > 2.0:
                _separation(beta)
            return literal_frame(spark, 
                [(int(n or 0), int(d or 0), None, None, None, None,
                  None, None)],
                schema,
            )
        beta = beta + u / info
        if abs(beta) > divergence_cap:
            _separation(beta)
    # observed information at the final estimate -> Wald readouts
    n, d, _u, info = fold(beta)
    if info is None or info <= 0.0:
        if abs(beta) > 2.0:
            _separation(beta)
        return literal_frame(spark, 
            [(int(n), int(d), None, None, None, None, None, None)],
            schema,
        )
    se = 1.0 / _math.sqrt(info)
    z = beta / se
    az = abs(z) / _math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * az)
    poly = (
        0.254829592 * tt
        - 0.284496736 * tt**2
        + 1.421413741 * tt**3
        - 1.453152027 * tt**4
        + 1.061405429 * tt**5
    )
    p = poly * _math.exp(-az * az)
    return literal_frame(spark, 
        [
            (
                int(n),
                int(d),
                round(beta, 6),
                round(_math.exp(beta), 6),
                round(se, 6),
                round(z, 6),
                round(p, 6),
                bool(p < 0.05),
            )
        ],
        schema,
    )


def logit_fit(
    df: DataFrame,
    y_col: str,
    x_col: str,
    iterations: int = 8,
    divergence_cap: float = 50.0,
) -> DataFrame:
    """Logistic regression (intercept + one covariate) by
    fixed-iteration Newton–Raphson: one row ``(n, n_pos, intercept,
    beta, odds_ratio, se_intercept, se_beta, z, p_value,
    significant)`` — the binary-outcome companion to ``ols_fit``:
    conversion/churn/defect rates against a driver, with the
    covariate's Wald z and two-sided p (A&S erfc polynomial, the
    ``ab_test`` convention).  ``odds_ratio = exp(beta)``.

    FIXED 8 Newton rounds from (0, 0) — not tolerance-stopped — so
    the optimization replays bit-stably in any engine (the ``cox_ph``
    convention); 8 rounds sit far below the 6-dp output rounding for
    any separable-free fit.  Perfect separation (|coef| past
    ``divergence_cap`` or a collapsing Hessian away from 0) raises
    loudly; a constant covariate or single-class outcome yields an
    all-NULL estimate row.  NULL y/x excludes the row; y must be
    0/1 (anything else raises).

    Plan, per round: ONE 5-moment hash aggregate (map-side combined)
    — Σ(y−p), Σx(y−p), Σw, Σxw, Σx²w with w = p(1−p) — and a 2×2
    Cramér solve on the driver (the state is two scalars).  Total
    ``iterations + 1`` linear passes, no joins, no windows.
    """
    import math as _math

    if iterations < 1:
        raise ValueError("logit_fit: iterations must be >= 1")
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    base = df.select(y.alias("_y"), x.alias("_x")).filter(
        F.col("_y").isNotNull() & F.col("_x").isNotNull()
    )
    bad = base.filter(
        (F.col("_y") != 0.0) & (F.col("_y") != 1.0)
    ).limit(1).count()
    if bad:
        raise ValueError("logit_fit: y must be 0/1")
    spark = df.sparkSession

    def fold(b0: float, b1: float):
        eta = F.lit(float(b0)) + F.lit(float(b1)) * F.col("_x")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
        w = p * (F.lit(1.0) - p)
        r = base.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_y").cast("long").alias("npos"),
            F.sum(F.col("_y") - p).alias("g0"),
            F.sum(F.col("_x") * (F.col("_y") - p)).alias("g1"),
            F.sum(w).alias("h00"),
            F.sum(F.col("_x") * w).alias("h01"),
            F.sum(F.col("_x") * F.col("_x") * w).alias("h11"),
        ).collect()[0]
        return r

    def _separation(b0: float, b1: float):
        raise ValueError(
            f"logit_fit: no finite MLE at (intercept, beta) = "
            f"({b0:.3f}, {b1:.3f}) — the covariate (near-)perfectly "
            "separates the classes; check for leakage or cap/bin it"
        )

    schema = (
        "n long, n_pos long, intercept double, beta double, "
        "odds_ratio double, se_intercept double, se_beta double, "
        "z double, p_value double, significant boolean"
    )
    b0 = b1 = 0.0
    n = npos = 0
    for _ in range(int(iterations) + 1):
        r = fold(b0, b1)
        n, npos = r["n"], r["npos"]
        det = (
            None
            if r["h00"] is None
            else r["h00"] * r["h11"] - r["h01"] * r["h01"]
        )
        if not n or not npos or npos == n or det is None or det <= 0.0:
            if abs(b0) > 2.0 or abs(b1) > 2.0:
                _separation(b0, b1)
            return literal_frame(spark, 
                [(int(n or 0), int(npos or 0), None, None, None,
                  None, None, None, None, None)],
                schema,
            )
        last = (r, det)
        if _ == int(iterations):
            break  # final pass only refreshes the Hessian
        b0 = b0 + (r["h11"] * r["g0"] - r["h01"] * r["g1"]) / det
        b1 = b1 + (r["h00"] * r["g1"] - r["h01"] * r["g0"]) / det
        if abs(b0) > divergence_cap or abs(b1) > divergence_cap:
            _separation(b0, b1)
    r, det = last
    se0 = _math.sqrt(r["h11"] / det)
    se1 = _math.sqrt(r["h00"] / det)
    z = b1 / se1
    az = abs(z) / _math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * az)
    poly = (
        0.254829592 * tt
        - 0.284496736 * tt**2
        + 1.421413741 * tt**3
        - 1.453152027 * tt**4
        + 1.061405429 * tt**5
    )
    p = poly * _math.exp(-az * az)
    return literal_frame(spark, 
        [
            (
                int(n),
                int(npos),
                round(b0, 6),
                round(b1, 6),
                round(_math.exp(b1), 6),
                round(se0, 6),
                round(se1, 6),
                round(z, 6),
                round(p, 6),
                bool(p < 0.05),
            )
        ],
        schema,
    )


def psm_att(
    df: DataFrame,
    score_col: str,
    treat_col: str,
    outcome_col: str,
    caliper: float = 0.05,
    id_col: str | None = None,
) -> DataFrame:
    """Propensity-score matching ATT: one row ``(n_treated,
    n_control, n_matched, n_unmatched, att, se_att)`` — each treated
    unit matches its NEAREST control by propensity score within
    ``caliper``, 1:1 WITH REPLACEMENT (the standard observational
    estimator when treatment is rare; with-replacement keeps the
    match independent of processing order, so the result is
    deterministic where greedy without-replacement is
    scan-order-dependent).  ATT = mean over matched treated of
    (y_treated − y_matched_control); ``se_att`` is the naive paired
    standard error (Abadie–Imbens replacement-aware variance is NOT
    applied — documented; use it before publishing confidence
    claims).  Completes the causal battery: ``covariate_balance``
    checks the match, ``diff_in_diff`` handles panels, this handles
    cross-sections.

    Ties (two controls equally close) break to the smaller control
    score and then the smaller ``id_col`` (required only if scores
    can tie exactly — with distinct scores pass nothing); unmatched
    treated (no control within the caliper) are counted, not
    silently dropped.  NULL score/treat/outcome excludes the row.

    Plan shape (the ``grid_knn_join`` 1-D specialization): controls
    key ONCE by their caliper-width score bucket; treated probe
    their own + 2 adjacent buckets — any control within ``caliper``
    is in those three buckets BY CONSTRUCTION, so the equi join is
    exact, with fan-in = local control density per bucket (dense
    score regions widen it — shrink the caliper, or coarsen the
    score, if a single bucket holds millions).  Winner per treated
    via ``min_by`` over (distance, score, id) — one map-side-
    combinable aggregate, then a 1-row fold.  No global window, no
    sort.
    """
    if caliper <= 0:
        raise ValueError("psm_att: caliper must be > 0")
    sc = F.col(score_col).cast("double")
    tr = F.col(treat_col).cast("int")
    y = F.col(outcome_col).cast("double")
    idc = (
        F.col(id_col).cast("long")
        if id_col
        else F.lit(0).cast("long")
    )
    base = df.select(
        sc.alias("_s"), tr.alias("_tr"), y.alias("_y"), idc.alias("_id")
    ).filter(
        F.col("_s").isNotNull()
        & F.col("_tr").isNotNull()
        & F.col("_y").isNotNull()
    )
    w = float(caliper)
    bkt = F.floor(F.col("_s") / F.lit(w)).cast("long")
    ctl = base.filter(F.col("_tr") == 0).select(
        bkt.alias("_b"),
        F.col("_s").alias("_cs"),
        F.col("_y").alias("_cy"),
        F.col("_id").alias("_cid"),
    )
    trt = base.filter(F.col("_tr") == 1).select(
        F.col("_s").alias("_ts"),
        F.col("_y").alias("_ty"),
        F.col("_id").alias("_tid"),
        bkt.alias("_b0"),
    )
    probes = trt.withColumn(
        "_off", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1)))
    ).select(
        "_ts", "_ty", "_tid", (F.col("_b0") + F.col("_off")).alias("_b")
    )
    cand = probes.join(ctl, "_b").filter(
        F.abs(F.col("_ts") - F.col("_cs")) <= F.lit(w)
    )
    best = cand.groupBy("_tid", "_ts", "_ty").agg(
        F.min(
            F.struct(
                F.abs(F.col("_ts") - F.col("_cs")).alias("_d"),
                F.col("_cs"),
                F.col("_cid"),
                F.col("_cy"),
            )
        ).alias("_m")
    )
    pairs = best.select(
        "_ty", F.col("_m._cy").alias("_cy")
    )
    counts = base.agg(
        F.sum(F.when(F.col("_tr") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_treated"),
        F.sum(F.when(F.col("_tr") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_control"),
    )
    fold = pairs.agg(
        F.count(F.lit(1)).cast("long").alias("n_matched"),
        F.avg(F.col("_ty") - F.col("_cy")).alias("_att"),
        F.stddev_samp(F.col("_ty") - F.col("_cy")).alias("_sd"),
    )
    return counts.crossJoin(F.broadcast(fold)).select(
        "n_treated",
        "n_control",
        "n_matched",
        (F.col("n_treated") - F.col("n_matched"))
        .cast("long")
        .alias("n_unmatched"),
        F.round("_att", 6).alias("att"),
        F.round(
            F.when(
                F.col("n_matched") > 1,
                F.col("_sd") / F.sqrt(F.col("n_matched")),
            ),
            6,
        ).alias("se_att"),
    )


def shapley_attribution(
    df: DataFrame,
    channels_col: str,
    converted_col: str,
) -> DataFrame:
    """Shapley-value channel attribution over exposure SETS: rows
    ``(channel, shapley_credit, n_coalitions, n_exposed)`` — each
    converting user's distinct channel set is a symmetric carrier
    (unanimity) game worth its conversions, and the Shapley value of
    a sum of such games splits every coalition's worth EQUALLY among
    its members: ``φ_c = Σ_{S ∋ c} conversions(S) / |S|``.  The
    order-free complement to ``touch_attribution`` (position/decay
    models reward sequence; Shapley rewards membership — the "did
    being in the mix matter" readout marketing-mix reviews ask for).
    Exactly the Shapley value of the carrier-decomposed coalition
    game — not a heuristic — and exactly relational, so it scales to
    any channel cardinality (no 2^k enumeration).

    ``channels_col`` is an ``array<string>`` of the user's touched
    channels (duplicates inside a row collapse first — exposure is a
    set); ``converted_col`` is 0/1 or boolean.  Empty/NULL channel
    arrays drop (no one to credit).  ``n_coalitions`` counts the
    distinct converting sets the channel appears in; ``n_exposed``
    counts ALL users (converted or not) who touched the channel.

    Plan: one (set → conversions) hash aggregate, one explode of the
    ≤|set| members with credit/|S| (map-side combined per-channel
    rollup), one exposure rollup — coalition- and channel-sized
    exchanges only.
    """
    ch = F.col(channels_col)
    conv = F.col(converted_col).cast("int")
    base = df.select(
        F.array_sort(F.array_distinct(ch)).alias("_set"),
        conv.alias("_c"),
    ).filter(
        F.col("_set").isNotNull() & (F.size("_set") > 0)
        & F.col("_c").isNotNull()
    )
    coal = base.groupBy("_set").agg(
        F.sum("_c").cast("long").alias("_conv")
    )
    credits = (
        coal.filter(F.col("_conv") > 0)
        .select(
            F.explode("_set").alias("channel"),
            (
                F.col("_conv").cast("double")
                / F.size("_set").cast("double")
            ).alias("_credit"),
        )
        .groupBy("channel")
        .agg(
            F.round(F.sum("_credit"), 6).alias("shapley_credit"),
            F.count(F.lit(1)).cast("long").alias("n_coalitions"),
        )
    )
    exposed = (
        base.select(F.explode("_set").alias("channel"))
        .groupBy("channel")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exposed"))
    )
    return exposed.join(credits, "channel", "left").select(
        "channel",
        F.coalesce("shapley_credit", F.lit(0.0)).alias(
            "shapley_credit"
        ),
        F.coalesce("n_coalitions", F.lit(0)).cast("long").alias(
            "n_coalitions"
        ),
        "n_exposed",
    )


def markov_attribution(
    paths: DataFrame,
    channels_col: str,
    converted_col: str,
    iterations: int = 200,
    state_cap: int = 100_000,
) -> DataFrame:
    """First-order Markov removal-effect attribution: rows
    ``(channel, p_base, p_removed, removal_effect,
    attributed_conversions)`` — build the START → channels →
    CONV/LOSS transition chain from observed journeys, and credit
    each channel by how much the chain's conversion probability
    DROPS when journeys can no longer pass through it (transitions
    into the removed channel divert to LOSS — the standard removal
    effect).  Credits scale to the observed conversion total:
    ``attributed = total_conv · effect_c / Σ effects``.  The
    path-dependent complement to ``shapley_attribution`` (membership
    credit) and ``touch_attribution`` (position credit).

    Conversion probabilities come from FIXED-count forward mass
    propagation (``iterations`` rounds, default 200) rather than a
    matrix solve — deliberately: the arithmetic replays verbatim in
    any engine (the ``cox_ph`` fixed-iteration convention), and 200
    rounds put the geometric tail far below the 6-dp rounding for
    any chain whose per-step conversion mass isn't pathological.

    ``channels_col`` is the ORDERED ``array<string>`` of touches
    (order matters here, unlike Shapley); empty paths drop.
    Self-loops collapse (A→A transitions are dropped — first-order
    chains gain nothing from them and they slow mixing).

    Plan: transition counting is distributed (one explode + pair
    rollup); the chain itself is then TINY by construction
    (|channels|² transitions at most), so the propagation runs on
    the driver over the collected rollup — ``state_cap`` bounds the
    collect loudly (the ``bradley_terry`` solver-cap convention).
    """
    if iterations < 1:
        raise ValueError("markov_attribution: iterations must be >= 1")
    ch = F.col(channels_col)
    conv = F.col(converted_col).cast("int")
    base = paths.select(ch.alias("_p"), conv.alias("_c")).filter(
        F.col("_p").isNotNull() & (F.size("_p") > 0)
        & F.col("_c").isNotNull()
    )
    # per-path transition list: START -> c1 -> ... -> ck -> CONV/LOSS
    steps = base.select(
        F.concat(
            F.array(F.lit("START")),
            F.col("_p"),
            F.array(
                F.when(F.col("_c") == 1, F.lit("CONV")).otherwise(
                    F.lit("LOSS")
                )
            ),
        ).alias("_s")
    )
    trans = (
        steps.select(
            F.explode(
                F.zip_with(
                    F.slice(
                        F.col("_s"), 1, F.size("_s") - 1
                    ),
                    F.slice(F.col("_s"), 2, F.size("_s") - 1),
                    lambda a, b: F.struct(
                        a.alias("src"), b.alias("dst")
                    ),
                )
            ).alias("_t")
        )
        .select(F.col("_t.src").alias("src"), F.col("_t.dst").alias("dst"))
        .filter(F.col("src") != F.col("dst"))  # collapse self-loops
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    rows = trans.limit(int(state_cap) + 1).collect()
    if len(rows) > state_cap:
        raise ValueError(
            f"markov_attribution: more than {state_cap} distinct "
            "transitions — the channel alphabet is too wide for a "
            "driver-side chain; coarsen the channels or raise "
            "state_cap"
        )
    totals = base.agg(
        F.sum("_c").cast("long").alias("tc"),
        F.count(F.lit(1)).cast("long").alias("np"),
    ).collect()[0]
    total_conv = int(totals["tc"] or 0)
    out_n: dict = {}
    probs: dict = {}
    for r in rows:
        out_n[r["src"]] = out_n.get(r["src"], 0) + r["n"]
    for r in rows:
        probs.setdefault(r["src"], []).append(
            (r["dst"], r["n"] / out_n[r["src"]])
        )
    channels = sorted(
        {r["src"] for r in rows if r["src"] not in ("START",)}
        | {
            r["dst"]
            for r in rows
            if r["dst"] not in ("CONV", "LOSS")
        }
    )
    channels = [c for c in channels if c not in ("START", "CONV", "LOSS")]

    def p_conv(removed: str | None) -> float:
        mass = {"START": 1.0}
        absorbed = 0.0
        for _ in range(int(iterations)):
            nxt: dict = {}
            for st in sorted(mass):
                m = mass[st]
                for dst, p in probs.get(st, []):
                    if dst == removed:
                        continue  # diverted to LOSS
                    if dst == "CONV":
                        absorbed += m * p
                    elif dst != "LOSS":
                        nxt[dst] = nxt.get(dst, 0.0) + m * p
            mass = nxt
            if not mass:
                break
        return absorbed

    base_p = p_conv(None)
    spark = paths.sparkSession
    schema = (
        "channel string, p_base double, p_removed double, "
        "removal_effect double, attributed_conversions double"
    )
    if base_p <= 0.0 or not channels:
        return literal_frame(spark, 
            [(c, round(base_p, 6), None, None, None) for c in channels]
            or [],
            schema,
        )
    effects = {}
    for c in channels:
        pr = p_conv(c)
        effects[c] = (pr, max(0.0, 1.0 - pr / base_p))
    tot_eff = sum(e for _, e in effects.values())
    out = []
    for c in channels:
        pr, e = effects[c]
        attributed = (
            total_conv * e / tot_eff if tot_eff > 0 else None
        )
        out.append(
            (
                c,
                round(base_p, 6),
                round(pr, 6),
                round(e, 6),
                None if attributed is None else round(attributed, 6),
            )
        )
    return literal_frame(spark, out, schema)


def ipw_ate(
    df: DataFrame,
    treat_col: str,
    outcome_col: str,
    propensity_col: str,
    trim: float = 0.01,
) -> DataFrame:
    """Inverse-propensity-weighted ATE (Horvitz–Thompson, stabilized
    Hájek form): one row ``(n, n_treated, n_trimmed, ate_ipw, mu_treated,
    mu_control)`` — the weighting complement to ``psm_att`` (matching
    discards unmatched units; IPW reweights everyone):

        μ₁ = Σ t·y/e  / Σ t/e,   μ₀ = Σ (1−t)·y/(1−e) / Σ (1−t)/(1−e)

    with supplied propensity scores ``e`` (fit them with
    ``logit_fit`` or your model of choice — estimation and weighting
    are deliberately separate so the weights are auditable).  Scores
    outside ``[trim, 1−trim]`` are TRIMMED (dropped, counted) — the
    standard guard against exploding weights; a NULL-free row diet
    (NULL t/y/e excludes).  The Hájek normalization keeps the
    estimate inside the outcome's range, unlike raw Horvitz–
    Thompson.

    Plan: ONE conditional-sum aggregate — six sums, map-side
    combined; everything after is 1-row arithmetic.
    """
    if not (0.0 <= trim < 0.5):
        raise ValueError("ipw_ate: trim must be in [0, 0.5)")
    t = F.col(treat_col).cast("double")
    y = F.col(outcome_col).cast("double")
    e = F.col(propensity_col).cast("double")
    base = df.select(
        t.alias("_t"), y.alias("_y"), e.alias("_e")
    ).filter(
        F.col("_t").isNotNull()
        & F.col("_y").isNotNull()
        & F.col("_e").isNotNull()
    )
    ok = (F.col("_e") >= F.lit(float(trim))) & (
        F.col("_e") <= F.lit(1.0 - float(trim))
    )
    agg = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(ok, F.col("_t")).otherwise(0.0))
        .cast("long")
        .alias("n_treated"),
        F.sum(F.when(~ok, 1).otherwise(0)).cast("long").alias(
            "n_trimmed"
        ),
        F.sum(
            F.when(ok, F.col("_t") * F.col("_y") / F.col("_e"))
        ).alias("_s1y"),
        F.sum(F.when(ok, F.col("_t") / F.col("_e"))).alias("_s1"),
        F.sum(
            F.when(
                ok,
                (1.0 - F.col("_t")) * F.col("_y")
                / (1.0 - F.col("_e")),
            )
        ).alias("_s0y"),
        F.sum(
            F.when(ok, (1.0 - F.col("_t")) / (1.0 - F.col("_e")))
        ).alias("_s0"),
    )
    mu1 = F.when(F.col("_s1") > 0, F.col("_s1y") / F.col("_s1"))
    mu0 = F.when(F.col("_s0") > 0, F.col("_s0y") / F.col("_s0"))
    return agg.select(
        "n",
        "n_treated",
        "n_trimmed",
        F.round(mu1 - mu0, 6).alias("ate_ipw"),
        F.round(mu1, 6).alias("mu_treated"),
        F.round(mu0, 6).alias("mu_control"),
    )


def cuped_adjust(
    df: DataFrame,
    arm_col: str,
    outcome_col: str,
    covariate_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """CUPED variance-reduced A/B readout: one row ``(n_a, n_b,
    theta, diff_raw, diff_cuped, var_reduction, se_cuped, z,
    p_value, significant)`` — adjust each unit's outcome with its
    PRE-EXPERIMENT covariate, ``ŷ = y − θ(x − x̄)`` with
    ``θ = cov(y, x)/var(x)`` pooled across arms, then difference the
    arm means.  The industry-standard sensitivity booster: same
    unbiased effect (the covariate predates assignment), variance
    shrunk by the covariate's r² — experiments conclude in
    ``1 − var_reduction`` of the traffic.  θ is POOLED (the standard
    one-θ CUPED; per-arm θ re-introduces bias under heterogeneous
    slopes, documented).  Welch z over the adjusted outcomes, p via
    the A&S erfc polynomial (the ``ab_test`` convention).  Degenerate
    covariate (var 0) yields θ = 0 — CUPED gracefully degrades to
    the raw diff.  NULL outcome/covariate/arm excludes the row.

    Plan: ONE conditional-moment hash aggregate (both arms' y/x
    moments + cross moments in a single pass), 1-row arithmetic
    after — no second data pass, no joins.
    """
    import math as _math

    a_lit, b_lit = str(group_a), str(group_b)
    arm = F.col(arm_col).cast("string")
    y = F.col(outcome_col).cast("double")
    x = F.col(covariate_col).cast("double")
    base = df.select(
        arm.alias("_g"), y.alias("_y"), x.alias("_x")
    ).filter(
        F.col("_g").isin(a_lit, b_lit)
        & F.col("_y").isNotNull()
        & F.col("_x").isNotNull()
    )
    isa = (F.col("_g") == a_lit).cast("double")
    isb = (F.col("_g") == b_lit).cast("double")
    r = base.agg(
        F.sum(isa).cast("long").alias("na"),
        F.sum(isb).cast("long").alias("nb"),
        F.sum(F.col("_y")).alias("sy"),
        F.sum(F.col("_x")).alias("sx"),
        F.sum(F.col("_y") * F.col("_x")).alias("sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("sxx"),
        F.sum(isa * F.col("_y")).alias("say"),
        F.sum(isb * F.col("_y")).alias("sby"),
        F.sum(isa * F.col("_x")).alias("sax"),
        F.sum(isb * F.col("_x")).alias("sbx"),
        F.sum(isa * F.col("_y") * F.col("_y")).alias("sayy"),
        F.sum(isb * F.col("_y") * F.col("_y")).alias("sbyy"),
        F.sum(isa * F.col("_x") * F.col("_x")).alias("saxx"),
        F.sum(isb * F.col("_x") * F.col("_x")).alias("sbxx"),
        F.sum(isa * F.col("_y") * F.col("_x")).alias("saxy"),
        F.sum(isb * F.col("_y") * F.col("_x")).alias("sbxy"),
    ).collect()[0]
    schema = (
        "n_a long, n_b long, theta double, diff_raw double, "
        "diff_cuped double, var_reduction double, se_cuped double, "
        "z double, p_value double, significant boolean"
    )
    spark = df.sparkSession
    na, nb = int(r["na"] or 0), int(r["nb"] or 0)
    n = na + nb
    if na < 2 or nb < 2:
        return literal_frame(spark, 
            [(na, nb, None, None, None, None, None, None, None,
              None)],
            schema,
        )
    xbar = r["sx"] / n
    var_x = r["sxx"] / n - xbar * xbar
    cov_xy = r["sxy"] / n - (r["sy"] / n) * xbar
    theta = 0.0 if var_x <= 0.0 else cov_xy / var_x
    mya, myb = r["say"] / na, r["sby"] / nb
    mxa, mxb = r["sax"] / na, r["sbx"] / nb
    diff_raw = mya - myb
    diff_cuped = (mya - theta * (mxa - xbar)) - (
        myb - theta * (mxb - xbar)
    )
    # per-arm adjusted variances from the moment sums:
    # var(y - theta x) = var(y) - 2 theta cov + theta^2 var(x)
    def arm_var(ny, sy_, syy, sx_, sxx_, sxy_):
        my = sy_ / ny
        mx = sx_ / ny
        vy = syy / ny - my * my
        vx = sxx_ / ny - mx * mx
        cxy = sxy_ / ny - my * mx
        v = vy - 2.0 * theta * cxy + theta * theta * vx
        # sample (n-1) correction
        return max(v, 0.0) * ny / (ny - 1)

    va = arm_var(na, r["say"], r["sayy"], r["sax"], r["saxx"], r["saxy"])
    vb = arm_var(nb, r["sby"], r["sbyy"], r["sbx"], r["sbxx"], r["sbxy"])
    vya = (r["sayy"] / na - mya * mya) * na / (na - 1)
    vyb = (r["sbyy"] / nb - myb * myb) * nb / (nb - 1)
    raw_se2 = vya / na + vyb / nb
    se2 = va / na + vb / nb
    var_reduction = (
        None if raw_se2 <= 0.0 else max(0.0, 1.0 - se2 / raw_se2)
    )
    if se2 <= 0.0:
        return literal_frame(spark, 
            [(na, nb, round(theta, 6), round(diff_raw, 6),
              round(diff_cuped, 6), var_reduction, None, None, None,
              None)],
            schema,
        )
    se = _math.sqrt(se2)
    z = diff_cuped / se
    az = abs(z) / _math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * az)
    poly = (
        0.254829592 * tt
        - 0.284496736 * tt**2
        + 1.421413741 * tt**3
        - 1.453152027 * tt**4
        + 1.061405429 * tt**5
    )
    p = poly * _math.exp(-az * az)
    return literal_frame(spark, 
        [
            (
                na,
                nb,
                round(theta, 6),
                round(diff_raw, 6),
                round(diff_cuped, 6),
                None
                if var_reduction is None
                else round(var_reduction, 6),
                round(se, 6),
                round(z, 6),
                round(p, 6),
                bool(p < 0.05),
            )
        ],
        schema,
    )


def regression_discontinuity(
    df: DataFrame,
    running_col: str,
    outcome_col: str,
    cutoff: float,
    bandwidth: float,
) -> DataFrame:
    """Sharp regression-discontinuity effect at a cutoff: one row
    ``(n_left, n_right, effect, intercept_left, intercept_right,
    slope_left, slope_right, se, z, p_value, significant)`` — local
    linear fits (uniform kernel, documented — triangular down-weights
    edges but adds a tuning surface) on each side of ``cutoff``
    within ``bandwidth``, effect = the jump between the two
    intercepts AT the cutoff.  The design for "eligibility flips at a
    threshold" questions (discount kicks in at basket ≥ X, review
    triggers at score ≥ Y) where assignment is deterministic in the
    running variable — the case PSM/IPW cannot handle (no overlap).
    Completes the causal battery: ``diff_in_diff`` (panels),
    ``psm_att``/``ipw_ate`` (overlap designs), RD (threshold
    designs), ``cuped_adjust`` (experiments).

    Rows AT the cutoff count as RIGHT (x ≥ c, the standard sharp-RD
    convention).  Conventional (non-robust) SEs: Var(intercept) =
    σ̂²(1/n + x̄²/Sxx) per side, independence across sides; z and
    two-sided p via the A&S erfc polynomial.  Fewer than 3 points or
    a degenerate running variable on either side yields NULL
    estimates, loudly typed.

    Plan: ONE conditional 10-moment hash aggregate (5 sums per side
    over the bandwidth window, map-side combined) — the filter and
    both fits ride a single data pass; everything after is 1-row
    driver arithmetic.
    """
    import math as _math

    if bandwidth <= 0:
        raise ValueError(
            "regression_discontinuity: bandwidth must be > 0"
        )
    x = F.col(running_col).cast("double") - F.lit(float(cutoff))
    y = F.col(outcome_col).cast("double")
    base = df.select(x.alias("_x"), y.alias("_y")).filter(
        F.col("_x").isNotNull()
        & F.col("_y").isNotNull()
        & (F.abs(F.col("_x")) <= F.lit(float(bandwidth)))
    )
    right = (F.col("_x") >= 0).cast("double")
    left = (F.col("_x") < 0).cast("double")

    def side_moments(m, tag):
        return [
            F.sum(m).cast("long").alias(f"n_{tag}"),
            F.sum(m * F.col("_x")).alias(f"sx_{tag}"),
            F.sum(m * F.col("_x") * F.col("_x")).alias(f"sxx_{tag}"),
            F.sum(m * F.col("_y")).alias(f"sy_{tag}"),
            F.sum(m * F.col("_x") * F.col("_y")).alias(f"sxy_{tag}"),
            F.sum(m * F.col("_y") * F.col("_y")).alias(f"syy_{tag}"),
        ]

    r = base.agg(
        *side_moments(left, "l"), *side_moments(right, "r")
    ).collect()[0]
    spark = df.sparkSession
    schema = (
        "n_left long, n_right long, effect double, "
        "intercept_left double, intercept_right double, "
        "slope_left double, slope_right double, se double, "
        "z double, p_value double, significant boolean"
    )

    def fit(tag):
        n = int(r[f"n_{tag}"] or 0)
        if n < 3:
            return None
        sx, sxx = r[f"sx_{tag}"], r[f"sxx_{tag}"]
        sy, sxy, syy = r[f"sy_{tag}"], r[f"sxy_{tag}"], r[f"syy_{tag}"]
        sxx_c = sxx - sx * sx / n  # centered Sxx
        if sxx_c <= 0.0:
            return None
        b = (sxy - sx * sy / n) / sxx_c
        a = (sy - b * sx) / n
        sse = (
            syy
            - a * sy
            - b * sxy
        )  # = sum (y - a - b x)^2, algebraically
        sigma2 = max(sse, 0.0) / (n - 2) if n > 2 else 0.0
        var_a = sigma2 * (1.0 / n + (sx / n) ** 2 / sxx_c)
        return n, a, b, var_a

    fl, fr = fit("l"), fit("r")
    if fl is None or fr is None:
        return literal_frame(spark, 
            [
                (
                    int(r["n_l"] or 0),
                    int(r["n_r"] or 0),
                    None, None, None, None, None, None, None, None,
                    None,
                )
            ],
            schema,
        )
    nl, al, bl, val = fl
    nr, ar, br, var = fr
    effect = ar - al
    se2 = val + var
    if se2 <= 0.0:
        return literal_frame(spark, 
            [(nl, nr, round(effect, 6), round(al, 6), round(ar, 6),
              round(bl, 6), round(br, 6), None, None, None, None)],
            schema,
        )
    se = _math.sqrt(se2)
    z = effect / se
    az = abs(z) / _math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * az)
    poly = (
        0.254829592 * tt
        - 0.284496736 * tt**2
        + 1.421413741 * tt**3
        - 1.453152027 * tt**4
        + 1.061405429 * tt**5
    )
    p = poly * _math.exp(-az * az)
    return literal_frame(spark, 
        [
            (
                nl,
                nr,
                round(effect, 6),
                round(al, 6),
                round(ar, 6),
                round(bl, 6),
                round(br, 6),
                round(se, 6),
                round(z, 6),
                round(p, 6),
                bool(p < 0.05),
            )
        ],
        schema,
    )


def cumulative_incidence(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Aalen–Johansen cumulative incidence under COMPETING RISKS:
    rows ``(duration, event_type, n_at_risk, n_events, cif)`` — the
    probability of failing FROM CAUSE k by time t when other causes
    can claim the subject first:

        CIF_k(t) = Σ_{s ≤ t} S(s⁻) · d_k(s) / n(s)

    with S the ALL-CAUSE Kaplan–Meier survival.  The estimator
    1 − KM_k (treating other causes as censoring) OVERSTATES every
    cause's incidence (the classic competing-risks mistake — churn
    "due to price" can't happen to a user who already churned "due
    to bugs"); Aalen–Johansen is the honest decomposition, and
    Σ_k CIF_k(t) = 1 − S(t) exactly.

    ``event_col``: 0 = censored, any other value = the cause label
    (cast to string in the output).  One row per (duration,
    observed-cause) pair; ``cif`` rounded to 6 dp.

    Plan: one hash aggregate to the |durations × causes| rollup, a
    per-duration fold to the all-cause rollup, then ordered windows
    over THAT (duration-cardinality-sized — the ``kaplan_meier``
    scheme): exclusive prefix for n_at_risk and Σln for S(s⁻),
    finally a per-cause running sum.  No data-sized windows.
    """
    d = F.col(duration_col).cast("double")
    ev = F.col(event_col).cast("string")
    base = df.select(d.alias("_t"), ev.alias("_e")).filter(
        F.col("_t").isNotNull() & F.col("_e").isNotNull()
    )
    per_tc = base.groupBy("_t", "_e").agg(
        F.count(F.lit(1)).cast("long").alias("_n")
    )
    per_t = per_tc.groupBy("_t").agg(
        F.sum(F.when(F.col("_e") != "0", F.col("_n")).otherwise(0))
        .cast("long")
        .alias("_d"),
        F.sum("_n").cast("long").alias("_all"),
    )
    wcum = (
        Window.partitionBy()
        .orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wtot = Window.partitionBy()
    n_total = F.sum("_all").over(wtot)
    removed = F.coalesce(F.sum("_all").over(wcum), F.lit(0))
    staged = per_t.select(
        "_t",
        "_d",
        (n_total - removed).cast("long").alias("_n_risk"),
    )
    frac = F.col("_d").cast("double") / F.col("_n_risk").cast("double")
    ln_term = F.when(
        (F.col("_d") > 0) & (F.col("_d") < F.col("_n_risk")),
        F.log(F.lit(1.0) - frac),
    ).otherwise(F.lit(0.0))
    # S(s-) = exp(sum of ln terms BEFORE s); extinction (d = n) sends
    # survival to 0 from the NEXT time on
    extinct_before = F.max(
        (F.col("_d") == F.col("_n_risk")).cast("int")
    ).over(wcum)
    s_minus = F.when(
        F.coalesce(extinct_before, F.lit(0)) == 1, F.lit(0.0)
    ).otherwise(F.exp(F.coalesce(F.sum(ln_term).over(wcum), F.lit(0.0))))
    risk = staged.select(
        "_t", "_n_risk", s_minus.alias("_s_minus")
    )
    causes = per_tc.filter(F.col("_e") != "0").join(risk, "_t")
    inc = causes.select(
        "_t",
        "_e",
        "_n_risk",
        "_n",
        (
            F.col("_s_minus")
            * F.col("_n").cast("double")
            / F.col("_n_risk").cast("double")
        ).alias("_inc"),
    )
    wrun = (
        Window.partitionBy("_e")
        .orderBy(F.col("_t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return inc.select(
        F.col("_t").alias("duration"),
        F.col("_e").alias("event_type"),
        F.col("_n_risk").alias("n_at_risk"),
        F.col("_n").alias("n_events"),
        F.round(F.sum("_inc").over(wrun), 6).alias("cif"),
    )


def poisson_fit(
    df: DataFrame,
    y_col: str,
    x_col: str,
    iterations: int = 8,
    divergence_cap: float = 50.0,
) -> DataFrame:
    """Poisson regression (log link, intercept + one covariate) by
    fixed-iteration Newton–Raphson: one row ``(n, total_events,
    intercept, beta, rate_ratio, se_intercept, se_beta, z, p_value,
    significant)`` — the COUNT-outcome member of the GLM family
    (``ols_fit`` gaussian, ``logit_fit`` binomial, ``cox_ph``
    hazards): incidents/orders/defects per unit against a driver,
    with ``rate_ratio = exp(beta)`` per covariate unit.  Pair with
    ``overdispersion_check`` first — a variance≫mean outcome wants
    quasi-Poisson widening (documented caveat).

    FIXED 8 Newton rounds from (0, 0) (the ``cox_ph``/``logit_fit``
    replayable-optimization convention).  Divergence past
    ``divergence_cap`` or a collapsing Hessian at drifted
    coefficients raises loudly; all-zero outcomes or a constant
    covariate yield an all-NULL estimate row.  Negative y RAISES
    (counts cannot be negative); NULL y/x excludes the row.

    Plan, per round: ONE 5-moment hash aggregate — Σ(y−μ), Σx(y−μ),
    Σμ, Σxμ, Σx²μ with μ = exp(b0 + b1·x) — and a driver 2×2 Cramér
    solve.  ``iterations + 1`` linear passes, no joins, no windows.
    """
    import math as _math

    if iterations < 1:
        raise ValueError("poisson_fit: iterations must be >= 1")
    y = F.col(y_col).cast("double")
    x = F.col(x_col).cast("double")
    base = df.select(y.alias("_y"), x.alias("_x")).filter(
        F.col("_y").isNotNull() & F.col("_x").isNotNull()
    )
    bad = base.filter(F.col("_y") < 0).limit(1).count()
    if bad:
        raise ValueError("poisson_fit: y must be a nonnegative count")
    spark = df.sparkSession

    def fold(b0: float, b1: float):
        mu = F.exp(F.lit(float(b0)) + F.lit(float(b1)) * F.col("_x"))
        return base.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_y").alias("ty"),
            F.sum(F.col("_y") - mu).alias("g0"),
            F.sum(F.col("_x") * (F.col("_y") - mu)).alias("g1"),
            F.sum(mu).alias("h00"),
            F.sum(F.col("_x") * mu).alias("h01"),
            F.sum(F.col("_x") * F.col("_x") * mu).alias("h11"),
        ).collect()[0]

    def _separation(b0: float, b1: float):
        raise ValueError(
            f"poisson_fit: no finite MLE at (intercept, beta) = "
            f"({b0:.3f}, {b1:.3f}) — the fit diverged (rate collapses "
            "or explodes along the covariate); check for leakage, "
            "rescale x, or cap/bin it"
        )

    schema = (
        "n long, total_events long, intercept double, beta double, "
        "rate_ratio double, se_intercept double, se_beta double, "
        "z double, p_value double, significant boolean"
    )
    b0 = b1 = 0.0
    n = 0
    ty = 0.0
    last = None
    for i in range(int(iterations) + 1):
        r = fold(b0, b1)
        n, ty = r["n"], float(r["ty"] or 0.0)
        det = (
            None
            if r["h00"] is None
            else r["h00"] * r["h11"] - r["h01"] * r["h01"]
        )
        if not n or ty <= 0.0 or det is None or det <= 0.0:
            if abs(b0) > 2.0 or abs(b1) > 2.0:
                _separation(b0, b1)
            return literal_frame(spark, 
                [(int(n or 0), int(ty), None, None, None, None, None,
                  None, None, None)],
                schema,
            )
        last = (r, det)
        if i == int(iterations):
            break
        b0 = b0 + (r["h11"] * r["g0"] - r["h01"] * r["g1"]) / det
        b1 = b1 + (r["h00"] * r["g1"] - r["h01"] * r["g0"]) / det
        if abs(b0) > divergence_cap or abs(b1) > divergence_cap:
            _separation(b0, b1)
    r, det = last
    se0 = _math.sqrt(r["h11"] / det)
    se1 = _math.sqrt(r["h00"] / det)
    z = b1 / se1
    az = abs(z) / _math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * az)
    poly = (
        0.254829592 * tt
        - 0.284496736 * tt**2
        + 1.421413741 * tt**3
        - 1.453152027 * tt**4
        + 1.061405429 * tt**5
    )
    p = poly * _math.exp(-az * az)
    return literal_frame(spark, 
        [
            (
                int(n),
                int(ty),
                round(b0, 6),
                round(b1, 6),
                round(_math.exp(b1), 6),
                round(se0, 6),
                round(se1, 6),
                round(z, 6),
                round(p, 6),
                bool(p < 0.05),
            )
        ],
        schema,
    )


def twfe_fit(
    df: DataFrame,
    unit_col: str,
    time_col: str,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Two-way fixed-effects (within) panel estimator: one row
    ``(n, n_units, n_times, beta, se, z, p_value, significant)`` —
    the workhorse panel regression ``y_it = β·x_it + α_i + γ_t +
    ε_it``, fit by double demeaning: ``ỹ = y − ȳ_i − ȳ_t + ȳ``
    (same for x), then β = Σx̃ỹ / Σx̃².  Absorbs EVERY time-constant
    unit trait and EVERY unit-constant period shock without
    estimating them — the generalization of ``diff_in_diff`` to many
    units, many periods, and a continuous treatment.  Conventional
    (non-clustered) SE with dof = n − N_units − N_times + 1 — the
    honest caveat: serially correlated errors want clustered SEs,
    which need a unit-level resample (``bootstrap_ci``'s scheme)
    rather than this closed form (documented).

    BALANCED-PANEL EXACTNESS: double demeaning equals the full
    fixed-effects projection only on balanced panels; unbalanced
    panels make it an approximation (the one-step Within transform
    vs iterated demeaning).  This implementation checks balance and
    RAISES on unbalanced input rather than silently approximating —
    fill or filter the panel first.  Degenerate within-variance
    (x constant inside every unit-time cell pattern) yields NULLs.

    Plan: two small rollups (unit means, time means — broadcast
    joined back), one grand-mean literal, ONE residual-moment fold.
    Three linear passes, no windows, no data-sized joins.
    """
    import math as _math

    u = F.col(unit_col).cast("string")
    t = F.col(time_col).cast("string")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.select(
        u.alias("_u"), t.alias("_t"), x.alias("_x"), y.alias("_y")
    ).filter(
        F.col("_u").isNotNull()
        & F.col("_t").isNotNull()
        & F.col("_x").isNotNull()
        & F.col("_y").isNotNull()
    )
    gm = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("_x").alias("mx"),
        F.avg("_y").alias("my"),
        F.countDistinct("_u").cast("long").alias("nu"),
        F.countDistinct("_t").cast("long").alias("nt"),
        F.countDistinct("_u", "_t").cast("long").alias("ncell"),
    ).collect()[0]
    spark = df.sparkSession
    schema = (
        "n long, n_units long, n_times long, beta double, se double, "
        "z double, p_value double, significant boolean"
    )
    n, nu, nt = int(gm["n"] or 0), int(gm["nu"] or 0), int(gm["nt"] or 0)
    if n == 0:
        return literal_frame(spark, 
            [(0, 0, 0, None, None, None, None, None)], schema
        )
    if gm["ncell"] != nu * nt or n != nu * nt:
        raise ValueError(
            f"twfe_fit: unbalanced panel ({n} rows, {nu} units x "
            f"{nt} times, {gm['ncell']} distinct cells) — double "
            "demeaning is only exact on balanced panels; fill or "
            "filter first (one row per unit-time cell)"
        )
    um = base.groupBy("_u").agg(
        F.avg("_x").alias("_ux"), F.avg("_y").alias("_uy")
    )
    tm = base.groupBy("_t").agg(
        F.avg("_x").alias("_tx"), F.avg("_y").alias("_ty")
    )
    xt = (
        F.col("_x") - F.col("_ux") - F.col("_tx") + F.lit(gm["mx"])
    )
    yt = (
        F.col("_y") - F.col("_uy") - F.col("_ty") + F.lit(gm["my"])
    )
    r = (
        base.join(F.broadcast(um), "_u")
        .join(F.broadcast(tm), "_t")
        .agg(
            F.sum(xt * yt).alias("sxy"),
            F.sum(xt * xt).alias("sxx"),
            F.sum(yt * yt).alias("syy"),
        )
        .collect()[0]
    )
    if r["sxx"] is None or r["sxx"] <= 0.0:
        return literal_frame(spark, 
            [(n, nu, nt, None, None, None, None, None)], schema
        )
    beta = r["sxy"] / r["sxx"]
    dof = n - nu - nt
    if dof < 2:
        return literal_frame(spark, 
            [(n, nu, nt, round(beta, 6), None, None, None, None)],
            schema,
        )
    sse = max(r["syy"] - beta * r["sxy"], 0.0)
    se = _math.sqrt(sse / dof / r["sxx"])
    if se <= 0.0:
        return literal_frame(spark, 
            [(n, nu, nt, round(beta, 6), 0.0, None, None, None)],
            schema,
        )
    z = beta / se
    az = abs(z) / _math.sqrt(2.0)
    tt = 1.0 / (1.0 + 0.3275911 * az)
    poly = (
        0.254829592 * tt
        - 0.284496736 * tt**2
        + 1.421413741 * tt**3
        - 1.453152027 * tt**4
        + 1.061405429 * tt**5
    )
    p = poly * _math.exp(-az * az)
    return literal_frame(spark, 
        [
            (
                n,
                nu,
                nt,
                round(beta, 6),
                round(se, 6),
                round(z, 6),
                round(p, 6),
                bool(p < 0.05),
            )
        ],
        schema,
    )


def rake_weights(
    df: DataFrame,
    row_col: str,
    col_col: str,
    row_targets: dict,
    col_targets: dict,
    iterations: int = 20,
    cell_cap: int = 100_000,
) -> DataFrame:
    """Survey raking (iterative proportional fitting): rows
    ``(row_cat, col_cat, n, weight)`` — per-cell weights that make
    the weighted sample hit BOTH marginal target distributions at
    once (the post-stratification workhorse when only margins are
    known: reweight panels to census age × region, traffic to
    device × country).  Alternately scales row then column margins;
    ``Σ n·w`` converges to the common target total (row and column
    targets must agree on it — mismatched totals raise).

    FIXED ``iterations`` rounds (the ``markov_attribution``
    replayable convention — IPF converges geometrically, 20 rounds
    sit far below the 6-dp rounding for any connected table).
    Sample categories missing from the targets raise loudly (a
    misspecified frame IS the bug); target categories missing from
    the sample are reported impossible (their mass cannot be
    reached) — also a loud raise.  Structural-zero patterns that
    make the targets unreachable still return (weights simply stop
    improving — check margins downstream; documented).

    Plan: ONE (row, col) hash aggregate to the cell rollup
    (``cell_cap``-guarded collect — cells are |A|·|B|, tiny by
    construction), the IPF loop on the driver, and a literal cell
    frame back out — join it to the data on (row, col) to attach
    weights.
    """
    if iterations < 1:
        raise ValueError("rake_weights: iterations must be >= 1")
    if not row_targets or not col_targets:
        raise ValueError("rake_weights: targets must be non-empty")
    rt = {str(k): float(v) for k, v in row_targets.items()}
    ct = {str(k): float(v) for k, v in col_targets.items()}
    tot_r, tot_c = sum(rt.values()), sum(ct.values())
    if tot_r <= 0 or tot_c <= 0:
        raise ValueError("rake_weights: target totals must be > 0")
    if abs(tot_r - tot_c) > 1e-9 * max(tot_r, tot_c):
        raise ValueError(
            f"rake_weights: row targets sum to {tot_r} but column "
            f"targets to {tot_c} — margins of the same population "
            "must agree on the total"
        )
    cells = (
        df.select(
            F.col(row_col).cast("string").alias("_r"),
            F.col(col_col).cast("string").alias("_c"),
        )
        .filter(F.col("_r").isNotNull() & F.col("_c").isNotNull())
        .groupBy("_r", "_c")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    rows = cells.limit(int(cell_cap) + 1).collect()
    if len(rows) > cell_cap:
        raise ValueError(
            f"rake_weights: more than {cell_cap} cells — coarsen the "
            "categories or raise cell_cap"
        )
    sample_r = {r["_r"] for r in rows}
    sample_c = {r["_c"] for r in rows}
    unknown_r = sample_r - set(rt)
    unknown_c = sample_c - set(ct)
    if unknown_r or unknown_c:
        raise ValueError(
            "rake_weights: sample categories missing from the "
            f"targets — rows {sorted(unknown_r)[:5]}, cols "
            f"{sorted(unknown_c)[:5]}"
        )
    dead_r = [k for k, v in rt.items() if v > 0 and k not in sample_r]
    dead_c = [k for k, v in ct.items() if v > 0 and k not in sample_c]
    if dead_r or dead_c:
        raise ValueError(
            "rake_weights: positive-target categories absent from "
            f"the sample (unreachable mass) — rows {dead_r[:5]}, "
            f"cols {dead_c[:5]}"
        )
    w = {(r["_r"], r["_c"]): 1.0 for r in rows}
    n = {(r["_r"], r["_c"]): r["_n"] for r in rows}
    for _ in range(int(iterations)):
        rsum: dict = {}
        for k, nv in n.items():
            rsum[k[0]] = rsum.get(k[0], 0.0) + nv * w[k]
        for k in w:
            if rsum[k[0]] > 0:
                w[k] *= rt[k[0]] / rsum[k[0]]
        csum: dict = {}
        for k, nv in n.items():
            csum[k[1]] = csum.get(k[1], 0.0) + nv * w[k]
        for k in w:
            if csum[k[1]] > 0:
                w[k] *= ct[k[1]] / csum[k[1]]
    out = [
        (r, c, int(n[(r, c)]), round(w[(r, c)], 6))
        for (r, c) in sorted(w)
    ]
    return literal_frame(df.sparkSession, 
        out, "row_cat string, col_cat string, n long, weight double"
    )
