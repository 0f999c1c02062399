"""Model- and retrieval-evaluation operators.

The training-data engine's read-back instruments: once a model (or a
retrieval index) is trained on the corpus this engine curated, these
operators grade it at corpus scale — thresholded classification
readouts, probability calibration, and ranked-retrieval metrics
(NDCG / MRR / precision / recall @ k).

Scale posture shared by the family: every metric folds through
hash aggregates and PER-QUERY (or per-bin) windows — partitioned
shuffles, never a global sort; the only broadcast frames are 1-row
totals.  Rank-based global metrics (AUC, lift) live in
``operators.analytics`` and ride ``ranges.prefix_scan``.

Reference parity: the reference pipeline (developmentseed/
moz-datapipeline) stops at indicator aggregation; this family extends
the engine for the LLM-data-pipeline lifecycle the way
``operators.dedup`` / ``operators.corpus`` do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from moz_datapipeline_spark.iterate import advance, owned, sever_release
from moz_datapipeline_spark.localresult import literal_frame
from moz_datapipeline_spark.operators.ranges import prefix_scan


def classification_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Thresholded binary-classification readout, one row ``(tp, fp,
    fn, tn, accuracy, precision, recall, f1, balanced_accuracy, mcc)``
    — predictions are ``score >= threshold``.  MCC (the Matthews /
    phi coefficient) and balanced accuracy are the two readouts that
    survive class imbalance, where plain accuracy rewards predicting
    the majority class.

    ONE conditional-sum hash aggregate (map-side combined): four
    integer cell counts, ratios derived in the same row (cell products
    in double — at 10¹¹ rows the 4-way product overflows int64).
    Degenerate denominators (no predicted positives, no actual
    positives, an all-one-class frame) yield NULL for the affected
    ratios rather than a fake 0.  NULL scores or labels drop.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.filter(s.isNotNull() & y.isNotNull())
    pred = (s >= F.lit(float(threshold))).cast("int")
    folded = base.agg(
        F.coalesce(F.sum(pred * y), F.lit(0)).cast("long").alias("tp"),
        F.coalesce(F.sum(pred * (1 - y)), F.lit(0)).cast("long").alias("fp"),
        F.coalesce(F.sum((1 - pred) * y), F.lit(0)).cast("long").alias("fn"),
        F.coalesce(F.sum((1 - pred) * (1 - y)), F.lit(0))
        .cast("long")
        .alias("tn"),
    )
    tp = F.col("tp").cast("double")
    total = (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")).cast(
        "double"
    )
    prec = F.when(F.col("tp") + F.col("fp") > 0, tp / (tp + F.col("fp")))
    rec = F.when(F.col("tp") + F.col("fn") > 0, tp / (tp + F.col("fn")))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
        2.0 * prec * rec / (prec + rec),
    )
    acc = F.when(total > 0, (tp + F.col("tn")) / total)
    tnr = F.when(
        F.col("tn") + F.col("fp") > 0,
        F.col("tn").cast("double") / (F.col("tn") + F.col("fp")).cast(
            "double"
        ),
    )
    bal = F.when(
        rec.isNotNull() & tnr.isNotNull(), (rec + tnr) / 2.0
    )
    tpd, fpd = tp, F.col("fp").cast("double")
    fnd, tnd = F.col("fn").cast("double"), F.col("tn").cast("double")
    mcc_den = F.sqrt(
        (tpd + fpd) * (tpd + fnd) * (tnd + fpd) * (tnd + fnd)
    )
    mcc = F.when(
        mcc_den > 0, (tpd * tnd - fpd * fnd) / mcc_den
    )
    return folded.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(acc, 6).alias("accuracy"),
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
        F.round(bal, 6).alias("balanced_accuracy"),
        F.round(mcc, 6).alias("mcc"),
    )


def calibration_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Reliability curve + expected calibration error: one row per
    occupied equal-width score bin ``(bin, n, mean_score, pos_rate,
    abs_gap, ece, brier)`` — ``ece`` and ``brier`` are the SAME value
    on every row (fold-level constants carried alongside the curve so
    one frame answers both "where is it miscalibrated" and "how much
    overall").

    - bins are equal-width over [0, 1] (``floor(score·n_bins)``,
      clamped BOTH ends: score = 1.0 lands in the last bin, scores
      outside [0, 1] — negatives, raw logits — clamp into the edge
      bins instead of minting out-of-range bin ids that silently skew
      ECE) — the standard reliability-diagram convention,
      deterministic across engines (no quantile estimation inside the
      metric being validated);
    - ECE = Σ_b (n_b/N)·|mean_score_b − pos_rate_b|;
    - Brier = mean (score − label)².

    Plan: one hash aggregate to the ≤ ``n_bins`` rollup, a 1-row
    totals broadcast, and a window over the bin rollup for the ECE
    fold — everything after the first aggregate is bins-sized.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.filter(s.isNotNull() & y.isNotNull()).select(
        s.alias("_s"), y.alias("_y")
    )
    q = int(n_bins)
    b = F.greatest(
        F.least(F.floor(F.col("_s") * q), F.lit(q - 1)), F.lit(0)
    ).cast("int")
    per = base.groupBy(b.alias("bin")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("_s").alias("_ssum"),
        F.sum("_y").cast("long").alias("_pos"),
        F.sum(
            (F.col("_s") - F.col("_y").cast("double"))
            * (F.col("_s") - F.col("_y").cast("double"))
        ).alias("_sqerr"),
    )
    tot = per.agg(
        F.sum("n").alias("_nt"), F.sum("_sqerr").alias("_sqt")
    )
    staged = per.crossJoin(F.broadcast(tot))
    mean_s = F.col("_ssum") / F.col("n").cast("double")
    rate = F.col("_pos").cast("double") / F.col("n").cast("double")
    gap = F.abs(mean_s - rate)
    w = Window.partitionBy()  # ≤ n_bins rows: bins-sized, never data
    ece = F.sum(gap * F.col("n").cast("double")).over(w) / F.col(
        "_nt"
    ).cast("double")
    brier = F.col("_sqt") / F.col("_nt").cast("double")
    return staged.select(
        "bin",
        "n",
        F.round(mean_s, 6).alias("mean_score"),
        F.round(rate, 6).alias("pos_rate"),
        F.round(gap, 6).alias("abs_gap"),
        F.round(ece, 6).alias("ece"),
        F.round(brier, 6).alias("brier"),
    )


def retrieval_eval(
    run: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    score_col: str = "score",
    rel_col: str = "rel",
) -> DataFrame:
    """Ranked-retrieval metrics per query: ``(query_id, n_rel,
    n_retrieved, precision_k, recall_k, mrr_k, ndcg_k)`` — the
    standard eval harness over a RUN (``query, doc, score``) and QRELS
    (``query, doc, rel``; graded relevance, 0/NULL = irrelevant).

    - rank = row_number per query over (score DESC, doc ASC) — the
      doc-id tiebreak makes every metric partition-layout-independent;
    - P@k / R@k count rel > 0 docs in the top k;
    - MRR@k = 1/rank of the first relevant doc (0 when none);
    - NDCG@k uses the classic ``rel / log2(rank+1)`` gain against the
      ideal ordering OF THE QRELS (rel DESC, doc ASC), so a perfect
      ranking scores exactly 1.

    Plan: a left join of run onto qrels on (query, doc) — hash
    exchange on the pair key; two per-query windows (rank the run,
    rank the ideal) — partitioned by query, never global; one
    per-query fold.  Queries with no relevant documents emit NULL
    ndcg (0/0) and zero recall denominators are NULL, not fake zeros.
    """
    kk = int(k)
    q = F.col(query_col)
    d = F.col(doc_col)
    r = (
        run.select(
            q.alias("_q"), d.alias("_d"), F.col(score_col).alias("_s")
        )
        .join(
            qrels.select(
                q.alias("_q"),
                d.alias("_d"),
                F.col(rel_col).cast("double").alias("_rel"),
            ),
            ["_q", "_d"],
            "left",
        )
        .withColumn("_rel", F.coalesce(F.col("_rel"), F.lit(0.0)))
    )
    wq = Window.partitionBy("_q").orderBy(
        F.col("_s").desc(), F.col("_d").asc()
    )
    topk = r.withColumn("_rank", F.row_number().over(wq)).filter(
        F.col("_rank") <= kk
    )
    gain = F.col("_rel") / F.log2(F.col("_rank").cast("double") + 1.0)
    hits = (F.col("_rel") > 0).cast("int")
    per = topk.groupBy(F.col("_q").alias(query_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_retrieved"),
        F.sum(hits).cast("long").alias("_hits"),
        F.sum(gain).alias("_dcg"),
        F.min(F.when(F.col("_rel") > 0, F.col("_rank"))).alias("_first"),
    )
    wi = Window.partitionBy("_q").orderBy(
        F.col("_rel").desc(), F.col("_d").asc()
    )
    ideal = (
        qrels.select(
            q.alias("_q"),
            d.alias("_d"),
            F.col(rel_col).cast("double").alias("_rel"),
        )
        .filter(F.col("_rel") > 0)
        .withColumn("_rank", F.row_number().over(wi))
    )
    ideal_agg = ideal.groupBy(F.col("_q").alias(query_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_rel"),
        F.sum(
            F.when(
                F.col("_rank") <= kk,
                F.col("_rel") / F.log2(F.col("_rank").cast("double") + 1.0),
            )
        ).alias("_idcg"),
    )
    staged = per.join(ideal_agg, query_col, "left")
    prec = F.col("_hits").cast("double") / F.lit(float(kk))
    rec = F.when(
        F.col("n_rel") > 0,
        F.col("_hits").cast("double") / F.col("n_rel").cast("double"),
    )
    mrr = F.coalesce(
        1.0 / F.col("_first").cast("double"), F.lit(0.0)
    )
    ndcg = F.when(F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg"))
    return staged.select(
        query_col,
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
        "n_retrieved",
        F.round(prec, 6).alias("precision_k"),
        F.round(rec, 6).alias("recall_k"),
        F.round(mrr, 6).alias("mrr_k"),
        F.round(ndcg, 6).alias("ndcg_k"),
    )


def log_loss(
    df: DataFrame,
    score_col: str,
    label_col: str,
    eps: float = 1e-15,
) -> DataFrame:
    """Binary cross-entropy, one row ``(n, log_loss)`` — the proper
    scoring rule: −mean(y·ln p + (1−y)·ln(1−p)) with probabilities
    clipped into [eps, 1−eps] (the sklearn convention, so a confident
    wrong 0/1 prediction costs ~34.5 nats instead of ∞).

    ONE hash aggregate; clipping is a JVM ``least/greatest`` pair.
    NULL scores/labels drop.
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    base = df.filter(s.isNotNull() & y.isNotNull())
    p = F.least(F.greatest(s, F.lit(float(eps))), F.lit(1.0 - float(eps)))
    term = y.cast("double") * F.log(p) + (1.0 - y.cast("double")) * F.log(
        1.0 - p
    )
    folded = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(term).alias("_t"),
    )
    return folded.select(
        "n",
        F.round(
            F.when(F.col("n") > 0, -F.col("_t") / F.col("n").cast("double")),
            6,
        ).alias("log_loss"),
    )


def pr_curve(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Full precision–recall curve: one row PER DISTINCT SCORE
    ``(score, tp, fp, precision, recall, f1)`` — the operating points
    of the classifier ``predict positive when s >= score``, evaluated
    at every achievable threshold (the curve ``classification_report``
    samples one point of).

    Scale shape (the ``roc_auc`` idiom): one hash aggregate to the
    per-distinct-score rollup ``(np, nn)``, then an INCLUSIVE
    cumulative (tp, fp) in DESCENDING score order via
    ``ranges.prefix_scan`` — never a global window over the row-sized
    rollup.  Integer counts to the final divisions.
    """
    y = F.col(label_col).cast("int")
    s = F.col(score_col).cast("double")
    per = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("score"))
        .agg(
            F.sum(y).alias("_np"),
            (F.count(F.lit(1)) - F.sum(y)).alias("_nn"),
        )
    )
    scan = prefix_scan(
        per,
        [F.col("score").desc()],
        {"tp": ("sum", F.col("_np")), "fp": ("sum", F.col("_nn"))},
        totals={"_p": ("sum", F.col("_np"))},
    )
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast(
        "double"
    )
    rec = F.when(
        F.col("_p") > 0, F.col("tp").cast("double") / F.col("_p").cast("double")
    )
    f1 = F.when(
        rec.isNotNull() & (prec + rec > 0), 2.0 * prec * rec / (prec + rec)
    )
    out = scan.select(
        "score",
        "tp",
        "fp",
        F.round(prec, 6).alias("precision"),
        F.round(rec, 6).alias("recall"),
        F.round(f1, 6).alias("f1"),
    )
    return owned(out, scan)


def rbo_overlap(
    run_a: DataFrame,
    run_b: DataFrame,
    k: int = 10,
    p: float = 0.9,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Rank-biased overlap between two rankings per query, truncated
    at depth ``k``: ``(query_id, n_common, rbo)`` with

        RBO@k = (1−p) · Σ_{d=1..k} p^{d−1} · |A_d ∩ B_d| / d

    (Webber et al.'s top-weighted agreement; p = 0.9 ≈ the top 10
    ranks carry ~86% of the weight).  The A/B readout for ranker
    rollouts: Kendall/Spearman treat depth 1 and depth 1000 alike,
    RBO weights the top, where users look.

    Plan: rank each run per query (partitioned windows, doc tiebreak),
    keep top ``k``; an inner join on (query, doc) gives each common
    doc its ``max(rank_a, rank_b)`` — the first depth it counts at —
    so ``|A_d ∩ B_d|`` is a prefix count over a ≤ k-row per-query
    rollup, and the weighted fold is exact powers of ``p``.  Queries
    with NO common docs in the top k emit rbo = 0 via a left anchor
    on the union of queries.
    """
    kk = int(k)
    pp = float(p)

    def _topk(run: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy("_q").orderBy(
            F.col("_s").desc(), F.col("_d").asc()
        )
        return (
            run.select(
                F.col(query_col).alias("_q"),
                F.col(doc_col).alias("_d"),
                F.col(score_col).alias("_s"),
            )
            .withColumn(out, F.row_number().over(w))
            .filter(F.col(out) <= kk)
            .select("_q", "_d", out)
        )
    a = _topk(run_a, "_ra")
    b = _topk(run_b, "_rb")
    common = a.join(b, ["_q", "_d"]).select(
        "_q", F.greatest("_ra", "_rb").alias("_first_depth")
    )
    per_depth = common.groupBy("_q", "_first_depth").agg(
        F.count(F.lit(1)).alias("_c")
    )
    # weight of a doc first common at depth f:
    # (1-p) * sum_{d=f..k} p^(d-1)/d  — exact literal per f (k tiny)
    weights = {
        f: (1.0 - pp)
        * sum(pp ** (d - 1) / d for d in range(f, kk + 1))
        for f in range(1, kk + 1)
    }
    wmap = F.create_map(
        *[c for f, w in weights.items() for c in (F.lit(f), F.lit(w))]
    )
    scored = per_depth.groupBy("_q").agg(
        F.sum("_c").cast("long").alias("n_common"),
        F.sum(
            F.col("_c").cast("double")
            * F.element_at(wmap, F.col("_first_depth").cast("int"))
        ).alias("_rbo"),
    )
    queries = (
        a.select("_q").unionByName(b.select("_q")).distinct()
    )
    out = queries.join(scored, "_q", "left")
    return out.select(
        F.col("_q").alias(query_col),
        F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias(
            "n_common"
        ),
        F.round(F.coalesce(F.col("_rbo"), F.lit(0.0)), 6).alias("rbo"),
    )


def bradley_terry(
    comparisons: DataFrame,
    winner_col: str = "winner",
    loser_col: str = "loser",
    iterations: int = 20,
    solver_cap: int = 2_000_000,
    stats: dict | None = None,
) -> DataFrame:
    """Bradley–Terry strength fit over pairwise preferences — the
    batch readback for RLHF-style comparison data: one row per item
    ``(item, strength, wins, n_comparisons)`` with ``strength`` the
    MM-algorithm estimate (Hunter 2004) normalized to mean 1, so
    P(i beats j) = s_i / (s_i + s_j).

    Each MM round solves θ_i ← W_i / Σ_j n_ij/(θ_i+θ_j) then rescales
    to mean 1.  Scale posture: the DATA-sized work is folding raw
    comparisons into an unordered-pair rollup (n_ij) and an item
    rollup (W_i) — one distributed pass each.  The MM iteration runs
    over the ROLLUP, which is bounded by the distinct comparison
    graph, not the comparison count, so when it fits under
    ``solver_cap`` pairs the solver runs driver-side in vectorized
    numpy (hundreds of rounds in milliseconds — the exact_quantiles /
    routing-kernel pattern: distribute the fold, solve the small
    system locally).  Beyond the cap the rounds run as rollup-sized
    joins whose θ frame replaces the last each round via
    ``iterate.advance`` (severed) — a plain ``localCheckpoint`` loop
    that re-joins its own output squares the preserved size-estimate
    BigInt every round and melts the driver from ~15 rounds on (see
    ``moz_datapipeline_spark.iterate``).  ``stats`` receives
    ``{"pairs": n, "solver": "driver"|"distributed"}``.

    Ties in the input are the caller's to resolve (emit one row per
    decided comparison).  Items that only ever win (or only lose)
    get the MM update's natural drift; feed a prior round-robin or
    clamp downstream when the comparison graph is not connected —
    same caveat as every BT fit.
    """
    if iterations < 1:
        raise ValueError("bradley_terry: need iterations >= 1")
    raw = comparisons.select(
        F.col(winner_col).alias("_w"), F.col(loser_col).alias("_l")
    ).filter(
        F.col("_w").isNotNull()
        & F.col("_l").isNotNull()
        & (F.col("_w") != F.col("_l"))
    )
    # unordered-pair rollup: (a < b, n comparisons) — the MM update
    # needs only the pair totals; per-item win counts fold separately
    pair = (
        raw.select(
            F.least("_w", "_l").alias("_a"),
            F.greatest("_w", "_l").alias("_b"),
        )
        .groupBy("_a", "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    wins = (
        raw.groupBy(F.col("_w").alias("item"))
        .agg(F.count(F.lit(1)).alias("wins"))
    )
    items = (
        raw.select(F.col("_w").alias("item"))
        .union(raw.select("_l"))
        .distinct()
        .join(wins, "item", "left")
        .select(
            "item", F.coalesce("wins", F.lit(0)).cast("long").alias("wins")
        )
        .localCheckpoint(eager=True)
    )
    n_comp = (
        pair.select(F.col("_a").alias("item"), "_n")
        .union(pair.select(F.col("_b").alias("item"), "_n"))
        .groupBy("item")
        .agg(F.sum("_n").cast("long").alias("n_comparisons"))
    )

    n_pairs = pair.count()
    if stats is not None:
        stats["pairs"] = int(n_pairs)
    if n_pairs <= int(solver_cap):
        if stats is not None:
            stats["solver"] = "driver"
        out = _bt_driver_solve(
            comparisons.sparkSession, pair, items, int(iterations)
        )
        # both rollups are collected: the literal result reads neither
        sever_release(pair)
        sever_release(items)
        return out
    if stats is not None:
        stats["solver"] = "distributed"

    theta = items.select("item", F.lit(1.0).alias("_t"))
    new_theta = theta  # the last materialized round (none yet)
    for _ in range(int(iterations)):
        ta = theta.select(F.col("item").alias("_a"), F.col("_t").alias("_ta"))
        tb = theta.select(F.col("item").alias("_b"), F.col("_t").alias("_tb"))
        # per-pair denominator contribution n_ij / (θ_i + θ_j), symmetric
        contrib = (
            pair.join(ta, "_a")
            .join(tb, "_b")
            .select(
                "_a",
                "_b",
                (F.col("_n") / (F.col("_ta") + F.col("_tb"))).alias("_c"),
            )
        )
        denom = (
            contrib.select(F.col("_a").alias("item"), "_c")
            .union(contrib.select(F.col("_b").alias("item"), "_c"))
            .groupBy("item")
            .agg(F.sum("_c").alias("_d"))
        )
        new_theta = advance(
            items.join(denom, "item", "left").select(
                "item",
                F.when(
                    F.col("_d") > 0, F.col("wins") / F.col("_d")
                )
                .otherwise(F.lit(1.0))
                .alias("_t"),
            ),
            new_theta,
        )
        # mean-1 rescale keeps the iteration bounded and the output
        # scale-identified (BT strengths are only defined up to scale)
        mean_t = new_theta.agg(F.avg("_t").alias("_m"))
        theta = new_theta.crossJoin(F.broadcast(mean_t)).select(
            "item", (F.col("_t") / F.col("_m")).alias("_t")
        )
    out = (
        theta.join(items, "item")
        .join(n_comp, "item", "left")
        .select(
            "item",
            F.round("_t", 6).alias("strength"),
            "wins",
            F.coalesce("n_comparisons", F.lit(0))
            .cast("long")
            .alias("n_comparisons"),
        )
    )
    return owned(out, new_theta, items, pair)


def _bt_driver_solve(spark, pair, items, iterations: int) -> DataFrame:
    """Vectorized MM over the collected pair rollup (under-cap path).

    Arithmetic mirrors the distributed rounds (same update, same
    mean-1 rescale, same half-up 6-digit rounding); summation order is
    the sorted-pair order, deterministic across runs.
    """
    import math

    import numpy as np
    from pyspark.sql import types as T

    prow = sorted((r["_a"], r["_b"], r["_n"]) for r in pair.collect())
    irow = sorted((r["item"], r["wins"]) for r in items.collect())
    ids = [i for i, _ in irow]
    pos = {v: k for k, v in enumerate(ids)}
    w = np.array([float(x) for _, x in irow])
    ai = np.array([pos[a] for a, _, _ in prow], dtype=np.int64)
    bi = np.array([pos[b] for _, b, _ in prow], dtype=np.int64)
    nn = np.array([float(n) for _, _, n in prow])
    ncomp = np.zeros(len(ids), dtype=np.int64)
    np.add.at(ncomp, ai, nn.astype(np.int64))
    np.add.at(ncomp, bi, nn.astype(np.int64))
    theta = np.ones(len(ids))
    for _ in range(iterations):
        c = nn / (theta[ai] + theta[bi])
        d = np.zeros(len(ids))
        np.add.at(d, ai, c)
        np.add.at(d, bi, c)
        theta = np.where(d > 0, w / d, 1.0)
        theta = theta / theta.mean()
    item_field = items.schema["item"]
    schema = T.StructType(
        [
            T.StructField("item", item_field.dataType),
            T.StructField("strength", T.DoubleType()),
            T.StructField("wins", T.LongType()),
            T.StructField("n_comparisons", T.LongType()),
        ]
    )
    rows = [
        (
            ids[k],
            math.floor(float(theta[k]) * 1e6 + 0.5) / 1e6,  # half-up, >0
            int(w[k]),
            int(ncomp[k]),
        )
        for k in range(len(ids))
    ]
    return literal_frame(spark, rows, schema)


def fleiss_kappa(
    ratings: DataFrame,
    item_col: str = "item_id",
    category_col: str = "category",
    raters_per_item: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """Fleiss' kappa over an annotation table — chance-corrected
    agreement among the fixed-size rater panels that label training
    data.  One row: ``(n_items, n_raters, p_bar, p_e, kappa)``.

    ``ratings``: one row per (item, assigned category) rating event.
    Fleiss' formula requires the SAME number of ratings on every item;
    ``raters_per_item`` pins it (items with any other count are
    dropped, count surfaced via ``stats["dropped_items"]``), or leave
    None to infer the most common panel size (smallest wins a tie —
    deterministic).  NULL items/categories are dropped.

    Plan: one (item × category) hash aggregate, one item-sized
    rollup for the panel filter, two 1-row folds — nothing after the
    first aggregate is data-sized.  κ = (P̄ − P̄_e)/(1 − P̄_e) with
    P_i = (Σ_c n_ic² − n)/(n(n−1)) and P̄_e = Σ_c p_c².
    """
    base = ratings.select(
        F.col(item_col).alias("_i"), F.col(category_col).alias("_c")
    ).filter(F.col("_i").isNotNull() & F.col("_c").isNotNull())
    per_item = base.groupBy("_i").agg(F.count(F.lit(1)).alias("_cnt"))
    if raters_per_item is None:
        # most common panel size; ties to the smaller size
        mode_row = (
            per_item.groupBy("_cnt")
            .agg(F.count(F.lit(1)).alias("_f"))
            .orderBy(F.col("_f").desc(), F.col("_cnt").asc())
            .limit(1)
            .collect()
        )
        if not mode_row:
            raise ValueError("fleiss_kappa: no rated items")
        n = int(mode_row[0]["_cnt"])
    else:
        n = int(raters_per_item)
    if n < 2:
        raise ValueError("fleiss_kappa: need >= 2 raters per item")
    keep = per_item.filter(F.col("_cnt") == n).select("_i")
    if stats is not None:
        stats["dropped_items"] = per_item.filter(
            F.col("_cnt") != n
        ).count()
        stats["raters_per_item"] = n
    cells = (
        base.join(keep, "_i")
        .groupBy("_i", "_c")
        .agg(F.count(F.lit(1)).alias("_nic"))
    )
    # P_i numerator Σ_c n_ic² folds per item; category masses fold per
    # category; both collapse to one row each
    item_fold = cells.groupBy("_i").agg(
        F.sum(F.col("_nic") * F.col("_nic")).alias("_sq")
    )
    pbar_row = item_fold.agg(
        F.count(F.lit(1)).alias("_items"),
        F.avg(
            (F.col("_sq") - F.lit(n)) / F.lit(float(n * (n - 1)))
        ).alias("_pbar"),
    )
    pe_row = (
        cells.groupBy("_c")
        .agg(F.sum("_nic").alias("_mass"))
        .crossJoin(F.broadcast(pbar_row.select("_items")))
        .select(
            (
                F.col("_mass").cast("double")
                / (F.col("_items") * F.lit(float(n)))
            ).alias("_pc")
        )
        .agg(F.sum(F.col("_pc") * F.col("_pc")).alias("_pe"))
    )
    return (
        pbar_row.crossJoin(F.broadcast(pe_row))
        .select(
            F.col("_items").cast("long").alias("n_items"),
            F.lit(n).cast("int").alias("n_raters"),
            F.round("_pbar", 6).alias("p_bar"),
            F.round("_pe", 6).alias("p_e"),
            F.when(
                F.lit(1.0) - F.col("_pe") > 0,
                F.round(
                    (F.col("_pbar") - F.col("_pe"))
                    / (F.lit(1.0) - F.col("_pe")),
                    6,
                ),
            ).alias("kappa"),
        )
    )


ISOTONIC_SCHEMA = "score double, n long, fitted double"


def _pav_kernel(pdf):
    """Pool-adjacent-violators over one sorted (score, n, sum_y)
    rollup partition.  Block means compute from PREFIX sums (mean =
    (S_j − S_{i-1}) / (W_j − W_{i-1})), not incremental merges — the
    same FP values the minimax SQL oracle derives, so the two agree
    bit-for-bit whenever block boundaries agree."""
    import numpy as np
    import pandas as pd

    pdf = pdf.sort_values("score").reset_index(drop=True)
    w = pdf["n"].to_numpy(dtype=np.float64)
    s = pdf["sum_y"].to_numpy(dtype=np.float64)
    W = np.concatenate([[0.0], np.cumsum(w)])
    S = np.concatenate([[0.0], np.cumsum(s)])

    def mean(i: int, j: int) -> float:
        # block covering rollup rows [i, j] inclusive, 0-based
        return (S[j + 1] - S[i]) / (W[j + 1] - W[i])

    starts: list[int] = []  # stack of block start indices
    for k in range(len(pdf)):
        starts.append(k)
        # merge while the last block's mean violates monotonicity
        while len(starts) >= 2 and mean(starts[-1], k) < mean(
            starts[-2], starts[-1] - 1
        ):
            starts.pop()
    fitted = np.empty(len(pdf))
    bounds = starts + [len(pdf)]
    for bi in range(len(starts)):
        i, j = bounds[bi], bounds[bi + 1] - 1
        fitted[i : j + 1] = mean(i, j)
    return pd.DataFrame(
        {
            "score": pdf["score"],
            "n": pdf["n"].astype("int64"),
            "fitted": np.round(fitted, 6),
        }
    )


def isotonic_fit(
    df: DataFrame,
    score_col: str,
    label_col: str,
    max_rollup_rows: int = 5_000_000,
) -> DataFrame:
    """Isotonic-regression calibration map (pool-adjacent-violators):
    one row per DISTINCT score ``(score, n, fitted)`` with ``fitted``
    the monotone non-decreasing least-squares fit of the label's
    positive rate — the standard score→probability calibrator that,
    unlike ``calibration_curve``'s fixed bins, adapts its pooling to
    the data.  Apply it downstream with a range/as-of join.

    Plan: the data-sized work is ONE hash aggregate to the
    (score, n, Σlabel) rollup; PAV itself is a single ordered pass
    over that rollup inside one Arrow task (``applyInPandas`` on a
    constant key).  The rollup is bounded by DISTINCT scores — model
    scores are floats from a finite head, typically ≪ rows — and the
    ``max_rollup_rows`` guard fails LOUDLY before shipping a rollup
    that would not fit one task (quantize scores upstream, e.g.
    ``round(score, 4)``, to shrink it).
    """
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    rollup = (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(s.alias("score"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(y).alias("sum_y"),
        )
    )
    k = rollup.count()
    if k > int(max_rollup_rows):
        raise ValueError(
            f"isotonic_fit: {k} distinct scores exceed max_rollup_rows="
            f"{max_rollup_rows}; quantize the score column upstream "
            "(e.g. round(score, 4)) or raise the guard"
        )
    return (
        rollup.withColumn("_g", F.lit(1))
        .groupBy("_g")
        .applyInPandas(lambda pdf: _pav_kernel(pdf), ISOTONIC_SCHEMA)
    )


def krippendorff_alpha(
    ratings: DataFrame,
    item_col: str = "item_id",
    category_col: str = "category",
    stats: dict | None = None,
) -> DataFrame:
    """Krippendorff's alpha (nominal data) over an annotation table —
    the agreement coefficient that, unlike ``fleiss_kappa``, accepts
    VARIABLE panel sizes and missing ratings: one row ``(n_items,
    n_ratings, d_o, d_e, alpha)``.

    Nominal disagreement needs no coincidence matrix: per unit u with
    m_u ratings and per-category counts n_uc,

        D_o = Σ_u (m_u² − Σ_c n_uc²)/(m_u − 1)  /  n
        D_e = (n² − Σ_c n_c²) / (n (n − 1))
        α   = 1 − D_o / D_e

    with n = Σ m_u over units having ≥ 2 ratings (singleton units
    carry no pairable information and are dropped — count surfaced
    via ``stats["dropped_singletons"]``).  NULL items/categories drop.

    Plan: one (item × category) hash aggregate, one item-sized fold,
    one category-sized fold, two 1-row folds — nothing after the
    first aggregate is data-sized.
    """
    base = ratings.select(
        F.col(item_col).alias("_i"), F.col(category_col).alias("_c")
    ).filter(F.col("_i").isNotNull() & F.col("_c").isNotNull())
    cells = base.groupBy("_i", "_c").agg(
        F.count(F.lit(1)).alias("_nuc")
    )
    per_unit = cells.groupBy("_i").agg(
        F.sum("_nuc").alias("_m"),
        F.sum(F.col("_nuc") * F.col("_nuc")).alias("_sq"),
    )
    if stats is not None:
        stats["dropped_singletons"] = per_unit.filter(
            F.col("_m") < 2
        ).count()
    kept = per_unit.filter(F.col("_m") >= 2)
    do_row = kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.coalesce(F.sum("_m"), F.lit(0)).cast("long").alias("n_ratings"),
        F.sum(
            (
                F.col("_m").cast("double") * F.col("_m").cast("double")
                - F.col("_sq").cast("double")
            )
            / (F.col("_m").cast("double") - F.lit(1.0))
        ).alias("_do_num"),
    )
    masses = (
        cells.join(kept.select("_i"), "_i")
        .groupBy("_c")
        .agg(F.sum("_nuc").alias("_nc"))
        .agg(
            F.sum(
                F.col("_nc").cast("double") * F.col("_nc").cast("double")
            ).alias("_sq_nc")
        )
    )
    n = F.col("n_ratings").cast("double")
    d_o = F.col("_do_num") / n
    d_e = (n * n - F.col("_sq_nc")) / (n * (n - F.lit(1.0)))
    return (
        do_row.crossJoin(F.broadcast(masses))
        .select(
            "n_items",
            "n_ratings",
            F.when(F.col("n_ratings") >= 2, F.round(d_o, 6)).alias("d_o"),
            F.when(F.col("n_ratings") >= 2, F.round(d_e, 6)).alias("d_e"),
            F.when(
                (F.col("n_ratings") >= 2) & (d_e > 0),
                F.round(F.lit(1.0) - d_o / d_e, 6),
            ).alias("alpha"),
        )
    )


def uplift_bins(
    df: DataFrame,
    score_col: str,
    treatment_col: str,
    outcome_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Uplift-by-score-bin readout for an A/B'd model score:
    ``(bin, n_treat, n_ctrl, conv_treat, conv_ctrl, rate_treat,
    rate_ctrl, uplift)`` — the standard uplift-model validation
    curve: rank the population by model score, cut into n_bins
    RANK-based bins (equal-population up to ties), and compare
    treated vs control conversion inside each bin.  A good uplift
    model shows monotone-decreasing ``uplift`` across bins; a flat
    curve means the score doesn't segment persuadables.

    Bins are assigned by CUMULATIVE COUNT on the distinct-score
    rollup (``bin = floor(rows_before · n_bins / N)``, clamped) —
    pure integer arithmetic, so ties share a bin deterministically
    and the cut replays EXACTLY in any engine (no float quantile
    boundaries to disagree over, the ``decile_lift`` lesson).
    NULL score/treatment/outcome rows are excluded.  Empty sides
    yield NULL rates, never division errors.

    Plan: one (score, treatment) hash aggregate over the data;
    ``ranges.prefix_scan`` assigns bins on the ROLLUP; one final
    ≤n_bins-row aggregate.  Never a single-task global window.
    """
    if n_bins < 2:
        raise ValueError("uplift_bins: n_bins must be >= 2")
    base = df.select(
        F.col(score_col).cast("double").alias("_v"),
        F.col(treatment_col).cast("int").alias("_t"),
        F.col(outcome_col).cast("int").alias("_o"),
    ).filter(
        F.col("_v").isNotNull()
        & F.col("_t").isNotNull()
        & F.col("_o").isNotNull()
    )
    per_v = base.groupBy("_v").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum(F.col("_t")).cast("long").alias("_nt"),
        F.sum(F.col("_t") * F.col("_o")).cast("long").alias("_ct"),
        F.sum((F.lit(1) - F.col("_t")) * F.col("_o"))
        .cast("long")
        .alias("_cc"),
    )
    scan = prefix_scan(
        per_v,
        [F.col("_v").asc()],
        {"_before": ("sum", F.col("_n"))},
        exclusive=True,
        totals={"_total": ("sum", F.col("_n"))},
    )
    binned = scan.select(
        F.least(
            F.floor(F.col("_before") * F.lit(int(n_bins)) / F.col("_total")),
            F.lit(int(n_bins) - 1),
        )
        .cast("int")
        .alias("bin"),
        "_n",
        "_nt",
        "_ct",
        "_cc",
    )
    out = binned.groupBy("bin").agg(
        F.sum("_nt").cast("long").alias("n_treat"),
        (F.sum("_n") - F.sum("_nt")).cast("long").alias("n_ctrl"),
        F.sum("_ct").cast("long").alias("conv_treat"),
        F.sum("_cc").cast("long").alias("conv_ctrl"),
    )
    rt = F.when(
        F.col("n_treat") > 0,
        F.col("conv_treat").cast("double") / F.col("n_treat"),
    )
    rc = F.when(
        F.col("n_ctrl") > 0,
        F.col("conv_ctrl").cast("double") / F.col("n_ctrl"),
    )
    result = out.select(
        "bin",
        "n_treat",
        "n_ctrl",
        "conv_treat",
        "conv_ctrl",
        F.round(rt, 6).alias("rate_treat"),
        F.round(rc, 6).alias("rate_ctrl"),
        F.round(rt - rc, 6).alias("uplift"),
    )
    return owned(result, scan)


def brier_decomposition(
    df: DataFrame,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Murphy decomposition of the Brier score: one row ``(n,
    n_forecast_values, brier, reliability, resolution, uncertainty)``
    with ``brier = reliability − resolution + uncertainty`` holding
    EXACTLY because conditioning is on the DISTINCT forecast values
    themselves, not on coarsened bins (binning makes the identity
    approximate — the ``calibration_curve`` trade; this is the
    exact-readout companion).  ``reliability`` is miscalibration
    (lower = better-calibrated), ``resolution`` is how much the
    forecasts separate outcomes (higher = more informative),
    ``uncertainty = ō(1−ō)`` is the no-skill floor.  NULL score or
    label excludes the row; an empty input returns zero rows.

    Plan: ONE hash aggregate per distinct forecast value (map-side
    combined — bounded by the score's value cardinality, which for
    any real probability model is quantized and small), then a 1-row
    fold.  The identity is asserted by construction, not recomputed.
    """
    base = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("double").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    per_s = base.groupBy("_s").agg(
        F.count(F.lit(1)).cast("double").alias("_nk"),
        F.sum("_y").alias("_yk"),
    )
    folded = per_s.agg(
        F.sum("_nk").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("n_forecast_values"),
        F.sum("_yk").alias("_ysum"),
        F.sum(
            F.col("_nk")
            * (F.col("_s") - F.col("_yk") / F.col("_nk"))
            * (F.col("_s") - F.col("_yk") / F.col("_nk"))
        ).alias("_rel"),
        F.sum(F.col("_yk") * F.col("_yk") / F.col("_nk")).alias(
            "_res_raw"
        ),
    )
    n = F.col("_n")
    obar = F.col("_ysum") / n
    rel = F.col("_rel") / n
    # Σ n_k(ō_k − ō)²/N  =  Σ y_k²/n_k / N  −  ō²
    res = F.col("_res_raw") / n - obar * obar
    unc = obar * (F.lit(1.0) - obar)
    return folded.select(
        n.cast("long").alias("n"),
        "n_forecast_values",
        F.round(rel - res + unc, 6).alias("brier"),
        F.round(rel, 6).alias("reliability"),
        F.round(res, 6).alias("resolution"),
        F.round(unc, 6).alias("uncertainty"),
    )


def conformal_intervals(
    calibration: DataFrame,
    predictions: DataFrame,
    y_col: str,
    yhat_col: str,
    alpha: float = 0.1,
) -> DataFrame:
    """Split-conformal prediction intervals: ``predictions`` plus
    ``(conformal_lo, conformal_hi)`` = ŷ ± q̂, where q̂ is the
    ``⌈(n+1)(1−α)⌉``-th smallest absolute residual on the held-out
    ``calibration`` frame — the DISTRIBUTION-FREE finite-sample
    guarantee P(y ∈ [lo, hi]) ≥ 1−α for exchangeable data, no
    residual-normality assumption (the ``quantile_ci`` philosophy
    applied to model error).  The model itself stays outside: any
    scored frame works (``ols_predict``, a served model's output).

    ``⌈(n+1)(1−α)⌉ > n`` (calibration too small for the requested
    coverage — needs n ≥ (1−α)/α) raises loudly rather than emitting
    an interval with no guarantee.  NULL y/ŷ excludes the
    calibration row; symmetric absolute-residual intervals
    (documented; use per-side scores for asymmetric noise).

    Plan: one filtered projection + ``exact_kth_value``'s
    range-partitioned rank selection on the calibration frame (never
    a single-task sort); the interval attach is a pure projection
    with the scalar q̂ inlined as a literal — zero joins.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError("conformal_intervals: alpha must be in (0, 1)")
    from moz_datapipeline_spark.operators.indicators import (
        exact_kth_value,
    )

    res = calibration.select(
        F.abs(
            F.col(y_col).cast("double")
            - F.col(yhat_col).cast("double")
        ).alias("_r")
    ).filter(F.col("_r").isNotNull())
    n = res.count()
    import math as _math

    k = _math.ceil((n + 1) * (1.0 - alpha))  # 1-based order statistic
    if n == 0 or k > n:
        raise ValueError(
            f"conformal_intervals: calibration n={n} cannot support "
            f"1-alpha={1 - alpha} coverage (needs the "
            f"{k}-th order statistic); add calibration data or relax "
            "alpha"
        )
    q = float(exact_kth_value(res, "_r", k - 1, n))  # 0-based rank
    yhat = F.col(yhat_col).cast("double")
    return predictions.select(
        "*",
        F.round(yhat - F.lit(q), 6).alias("conformal_lo"),
        F.round(yhat + F.lit(q), 6).alias("conformal_hi"),
    )
