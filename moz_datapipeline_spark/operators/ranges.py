"""Range joins at scale.

``bbox_join`` (areas.py) broadcasts the interval side — right when zones
are small. When BOTH sides are large (point stream × million-interval
table), a broadcast nested-loop explodes; ``bucketed_range_join``
converts the range predicate into an equi join:

- points map to bucket ``floor(p / width)``
- intervals explode to every bucket they overlap
- equi join on the bucket co-locates candidates; an exact filter
  removes false positives from bucket granularity.

Shuffle volume is |points| + Σ interval spans/width — tunable via
``bucket_width`` (match the median interval length).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import checkpoint_sever, owned


def bucketed_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
    how: str = "inner",
) -> DataFrame:
    """points ⨝ intervals ON lo <= p < hi, as a bucketed equi join."""
    p_bucketed = points.withColumn(
        "_bucket", F.floor(F.col(point_col) / bucket_width).cast("long")
    )
    i_bucketed = intervals.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width).cast("long"),
                # hi is exclusive: a hi exactly on a bucket edge doesn't
                # reach into the next bucket
                F.floor(
                    (F.col(hi_col) - F.lit(1e-9)) / bucket_width
                ).cast("long"),
            )
        ),
    )
    joined = p_bucketed.join(i_bucketed, "_bucket", how)
    return joined.filter(
        (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    ).drop("_bucket")


_SCAN_AGG = {"sum": F.sum, "min": F.min, "max": F.max}
_SCAN_MERGE = {
    "sum": lambda base, local: F.coalesce(base, F.lit(0)) + local,
    "min": F.least,
    "max": F.greatest,
}


def prefix_scan(
    df: DataFrame,
    order: list[Column],
    running: dict[str, tuple[str, Column]],
    *,
    by: Sequence[str] = (),
    exclusive: bool = False,
    totals: dict[str, tuple[str, Column]] | None = None,
) -> DataFrame:
    """Distributed prefix scan: ``df`` plus one column per ``running``
    entry holding the running ``"sum"``, ``"min"`` or ``"max"`` of its
    value over the rows up to and including the current one in
    ``order`` (strictly before it with ``exclusive=True``; an empty
    sum is 0, an empty min/max NULL), per ``by`` group.  A row number
    is ``("sum", F.lit(1))``.  ``totals`` adds the same aggregates over
    the whole ``by`` group (a count, a grand total) at no extra job.
    ``order`` plus ``by`` must make the order total where the running
    value depends on the order of tied rows.

    ``F.sum(...).over(Window.orderBy(...))`` funnels the whole frame
    through one task — at 100 TB, the sort that never finishes.  This
    is the two-phase scan (Blelloch, *Prefix Sums and Their
    Applications*, 1990):

    1. one range exchange on ``(*by, *order)``, then a running window
       local to each (partition, group);
    2. each (partition, group)'s aggregate, folded into an EXCLUSIVE
       base over the partitions before it (a window over
       |partitions × groups| rows);
    3. the bases broadcast-join back and merge with the local values.

    Consistency: the bases branch and the join branch must observe the
    SAME range boundaries, and ``repartitionByRange`` samples them, so
    a recompute may deal rows differently and mismatch a row's
    partition against its base.  Exchange reuse usually hides that,
    but a user can switch it off (``spark.sql.exchange.reuse``), and a
    ``cache()`` block can be evicted into exactly that recompute (and,
    read by the result plan, can never be released by the operator).
    So the local stage is materialized ONCE with
    ``iterate.checkpoint_sever`` and the returned frame owns that
    checkpoint (``iterate.owned``): the caller's ``unpersist`` releases
    it.  Cost: the range exchange (plus the hash exchange on the
    partition id that the local window requires), one checkpoint, one
    |partitions × groups|-row broadcast.
    """
    from pyspark.sql import Window

    by = list(by)
    totals = totals or {}
    keys = ["_pid", *by]
    ranged = df.repartitionByRange(
        *[F.col(c) for c in by], *order
    ).withColumn("_pid", F.spark_partition_id())
    lw = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(
            Window.unboundedPreceding, -1 if exclusive else Window.currentRow
        )
    )
    local = checkpoint_sever(
        ranged.select(
            "*",
            *[
                _SCAN_AGG[op](v).over(lw).alias(f"_scan_l{i}")
                for i, (op, v) in enumerate(running.values())
            ],
        )
    )
    pw = (
        Window.partitionBy(*by)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    bases = (
        local.groupBy(*keys)
        .agg(
            *[
                _SCAN_AGG[op](v).alias(f"_scan_p{i}")
                for i, (op, v) in enumerate(running.values())
            ],
            *[
                _SCAN_AGG[op](v).alias(f"_scan_t{i}")
                for i, (op, v) in enumerate(totals.values())
            ],
        )
        .select(
            *keys,
            *[
                _SCAN_AGG[op](f"_scan_p{i}").over(pw).alias(f"_scan_b{i}")
                for i, (op, _) in enumerate(running.values())
            ],
            *[
                _SCAN_AGG[op](f"_scan_t{i}")
                .over(Window.partitionBy(*by))
                .alias(name)
                for i, (name, (op, _)) in enumerate(totals.items())
            ],
        )
    )
    merged = []
    for i, (name, (op, _)) in enumerate(running.items()):
        lv = F.col(f"_scan_l{i}")
        if exclusive and op == "sum":
            lv = F.coalesce(lv, F.lit(0))
        merged.append(_SCAN_MERGE[op](F.col(f"_scan_b{i}"), lv).alias(name))
    out = local.join(F.broadcast(bases), keys).select(
        *df.columns, *merged, *totals
    )
    return owned(out, local)


def global_rank(
    df: DataFrame,
    order_col: str,
    tiebreak_cols: list[str],
    ascending: bool = True,
    with_percent: bool = True,
) -> DataFrame:
    """Exact global rank (1-based ``row_number`` under the total order
    ``(order_col, *tiebreak_cols)`` asc) plus the exact CDF
    ``percent_rank = (rank − 1)/(n − 1)``, as a ``prefix_scan`` row
    number (never a single-task global window).  Any range boundary
    sampling yields the same ranks because the final rank depends only
    on the total order.

    ``tiebreak_cols`` must make the order total (unique) — ranks are
    otherwise partitioning-dependent for tied rows.
    """
    if not tiebreak_cols:
        raise ValueError("global_rank: tiebreak_cols must make the order total")
    oc = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    scan = prefix_scan(
        df,
        [oc, *[F.col(c).asc() for c in tiebreak_cols]],
        {"rank": ("sum", F.lit(1))},
        totals={"_n": ("sum", F.lit(1))} if with_percent else None,
    )
    if not with_percent:
        return scan
    out = scan.withColumn(
        "percent_rank",
        F.when(
            F.col("_n") > 1,
            F.round(
                (F.col("rank") - 1).cast("double")
                / (F.col("_n") - 1).cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)),
    )
    return owned(out.drop("_n"), scan)


def peak_concurrency(
    intervals: DataFrame,
    start_col: str = "start",
    end_col: str = "end",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Maximum number of simultaneously-open ``[start, end)`` intervals
    (per group when ``group_cols`` given): ``(*group_cols,
    peak_concurrency, peak_at)`` with ``peak_at`` the earliest instant
    the peak is reached.

    The sweep line: every interval contributes (+1 at start, −1 at
    end); concurrency at an instant is the running sum of deltas in
    time order — a ``prefix_scan`` per group, never a single-task
    window.  Ends sort BEFORE starts at the same instant (delta asc),
    so touching intervals ``[a,b),[b,c)`` never double-count.  One
    explode (2 rows per interval) feeds the scan.
    """
    group_cols = group_cols or []
    ev = intervals.select(
        *group_cols,
        F.explode(
            F.array(
                F.struct(
                    F.col(start_col).alias("t"), F.lit(1).alias("d")
                ),
                F.struct(F.col(end_col).alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("_e"),
    ).select(*group_cols, F.col("_e.t").alias("t"), F.col("_e.d").alias("d"))
    running = prefix_scan(
        ev,
        [F.col("t").asc(), F.col("d").asc()],
        {"conc": ("sum", F.col("d"))},
        by=group_cols,
    )
    # peak = max running concurrency; peak_at = earliest t attaining it
    # (only +1 events can attain a maximum, making peak_at well-defined)
    starts = running.filter(F.col("d") == 1)
    peaks = starts.groupBy(*group_cols).agg(
        F.max("conc").cast("long").alias("peak_concurrency")
    )
    firsts = (
        starts.groupBy(*group_cols, "conc")
        .agg(F.min("t").alias("peak_at"))
        .withColumn("peak_concurrency", F.col("conc").cast("long"))
        .drop("conc")
    )
    return owned(peaks.join(firsts, [*group_cols, "peak_concurrency"]), running)


def pareto_frontier_2d(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Exact 2-D Pareto frontier (skyline), minimizing BOTH columns:
    keep every row no other row strictly dominates (``s.x <= r.x``,
    ``s.y <= r.y``, at least one strict).  Rows with identical
    ``(x, y)`` do not dominate each other — all are kept.  NULL in
    either column excludes the row (no dominance order for it).

    The quadratic NOT-EXISTS encoding dies at scale; in 2-D dominance
    factorizes into two prefix tests over the DISTINCT-x group table
    (min y per x — usually orders of magnitude smaller than the
    input):

    - SAME-x domination: ``y > min_y(x)``;
    - STRICTLY-SMALLER-x domination: ``strict_prefix_min_y(x) <= y``,
      the exclusive running min over the x order (``prefix_scan``;
      each x occurs once, so the order is total).

    One hash aggregate + one scan over the group table + one equi join
    back: holds at any scale, unlike the textbook self-join.
    """
    x, y = F.col(x_col).cast("double"), F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull())

    gx = base.groupBy(x.alias("_x")).agg(F.min(y).alias("_eq_min"))
    scan = prefix_scan(
        gx,
        [F.col("_x").asc()],
        {"_strict_min": ("min", F.col("_eq_min"))},
        exclusive=True,
    )
    marks = scan.select(
        "_x",
        "_eq_min",
        F.coalesce(F.col("_strict_min"), F.lit(float("inf"))).alias(
            "_strict_min"
        ),
    )
    result = (
        base.join(marks, x == F.col("_x"))
        .filter(~(y > F.col("_eq_min")) & ~(F.col("_strict_min") <= y))
        .drop("_x", "_eq_min", "_strict_min")
    )
    return owned(result, scan)


def interval_coverage(
    intervals: DataFrame,
    group_col: str,
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Union length of possibly-overlapping ``[start, end)`` intervals
    per group: ``(group, n_intervals, n_segments, covered)`` where
    ``covered`` is the total measure of the merged union and
    ``n_segments`` the number of disjoint runs after merging —
    "machine-busy seconds", "supplier days with stock in transit",
    "sessionized uptime", all in one shape.

    The classic stack-merge sweep is a per-group prefix scan: order a
    group's intervals by (start, end); an interval OPENS a new segment
    iff its start exceeds the running max end of every earlier
    interval.  That running max is one window (hash-partitioned on the
    group — never global), the segment id is a prefix sum of the open
    flags, and per-segment extent is a hash aggregate.  Degenerate
    ``end <= start`` rows contribute zero length and never bridge
    segments (the strict ``>`` test).

    Two shuffles: the group-window sort and the (group, segment)
    aggregate (which reuses the group hashing).  Per-group cost is the
    group's interval count — skew follows the group distribution, the
    same contract as ``sessionization``.
    """
    from pyspark.sql import Window

    # a stable per-row id makes the (start, end) order TOTAL, so the
    # two window passes below see the identical sequence — without it,
    # duplicate intervals could flip order between passes and attach a
    # segment-opening flag to the wrong prefix position
    base = intervals.select(
        F.col(group_col).alias("grp"),
        F.col(start_col).alias("_s"),
        F.col(end_col).alias("_e"),
    ).withColumn("_rid", F.monotonically_increasing_id())
    order = Window.partitionBy("grp").orderBy(
        F.col("_s").asc(), F.col("_e").asc(), F.col("_rid").asc()
    )
    prev = order.rowsBetween(Window.unboundedPreceding, -1)
    prev_max_end = F.max("_e").over(prev)
    is_new = F.when(
        prev_max_end.isNull() | (F.col("_s") > prev_max_end), F.lit(1)
    ).otherwise(F.lit(0))
    # two selects: a window expression (the running max) cannot nest
    # inside another window aggregate in one projection
    flagged = base.select("grp", "_s", "_e", "_rid", is_new.alias("_new"))
    order2 = Window.partitionBy("grp").orderBy(
        F.col("_s").asc(), F.col("_e").asc(), F.col("_rid").asc()
    )
    segged = flagged.select(
        "grp",
        "_s",
        "_e",
        F.sum("_new")
        .over(order2.rowsBetween(Window.unboundedPreceding, 0))
        .alias("_seg"),
    )
    per_seg = segged.groupBy("grp", "_seg").agg(
        F.count(F.lit(1)).alias("_n"),
        F.min("_s").alias("_lo"),
        F.max("_e").alias("_hi"),
    )
    return per_seg.groupBy("grp").agg(
        F.sum("_n").cast("long").alias("n_intervals"),
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(
            F.greatest(F.col("_hi") - F.col("_lo"), F.lit(0))
        ).alias("covered"),
    ).withColumnRenamed("grp", group_col)


def _resolve_cells(
    tagged: DataFrame,
    cells: list[dict],
    candidate_cap: int,
    bucket_count: int,
    max_depth: int = 64,
) -> dict:
    """Resolve exact order statistics for histogram cells — the shared
    engine behind ``exact_quantiles`` / ``exact_quantiles_grouped``.

    ``tagged`` carries the value as ``_v`` plus two MATERIALIZED tag
    columns ``_g`` (group key; a constant for the ungrouped path) and
    ``_b`` (top-level histogram bucket) — cell membership predicates
    reference only these cheap columns, never re-embedding the nested
    bucket expression (re-embedding it per cell made Catalyst analyze
    an O(cells × groups × buckets) expression tree: the measured 2.8 →
    7.0 s quantile_normalize regression this design reverted).

    Each cell is ``{g, b, start, count, cmin, cmax, ranks, chain}``:
    rows with tags (g, b) whose value passes every ``chain`` step
    (a refinement lineage of ``(cmin, width, nb, sb)`` sub-bucket
    picks), known to hold ranks ``[start, start+count)`` of its
    group's ordering.  Returns ``{(g, rank): value}``.

    Resolution ladder (all bounded, never a single-task sort):

    1. ``cmin == cmax`` — every row ties; the rank's value is known
       without touching the data (heavy-tie skew, the case that used
       to trip the candidate cap, costs ZERO extra passes);
    2. total pending mass ≤ ``candidate_cap`` — ONE filtered collect
       of ``(_g, _b, _v)``; rows map to cells DRIVER-SIDE by replaying
       each chain's float arithmetic (bit-identical IEEE doubles), so
       the executor-side filter stays a flat (g, b) membership test;
    3. otherwise RECURSE: one combined aggregate pass re-histograms
       every over-cap cell into ``bucket_count`` sub-cells (equal
       width over the cell's TRUE min/max, so each pass shrinks the
       value span ≥ ``bucket_count``×); a cell whose span underflows
       double width resolves through a per-value histogram (a
       denormal-wide span holds ≤ ``bucket_count`` distinct doubles);
    4. depth exhaustion (pathological dynamic range) — per-cell
       distributed rank selection via ``global_rank`` (range exchange
       + per-partition sort), still never one task.
    """
    import math

    def _gb_pred(c) -> "F.Column":
        gp = (
            F.col("_g").isNull()
            if c["g"] is None
            else (F.col("_g") == F.lit(c["g"]))
        )
        return gp & (F.col("_b") == F.lit(int(c["b"])))

    def _chain_pred(c) -> "F.Column":
        p = _gb_pred(c)
        for cmin, width, nb, sb in c["chain"]:
            sub = F.least(
                F.floor((F.col("_v") - F.lit(cmin)) / F.lit(width)),
                F.lit(nb - 1),
            ).cast("int")
            p = p & (sub == F.lit(int(sb)))
        return p

    def _chain_member(c, v: float) -> bool:
        for cmin, width, nb, sb in c["chain"]:
            if min(int(math.floor((v - cmin) / width)), nb - 1) != sb:
                return False
        return True

    resolved: dict = {}
    pending = list(cells)
    depth = 0
    while True:
        nxt = []
        for c in pending:
            if c["cmin"] == c["cmax"]:
                for r in c["ranks"]:
                    resolved[(c["g"], r)] = c["cmin"]
            else:
                nxt.append(c)
        pending = nxt
        if not pending:
            return resolved
        total = sum(c["count"] for c in pending)
        if total <= candidate_cap:
            break
        if depth >= max_depth:
            for c in pending:
                sub = tagged.filter(_chain_pred(c)).withColumn(
                    "_mid", F.monotonically_increasing_id()
                )
                ranked = global_rank(sub, "_v", ["_mid"], with_percent=False)
                ks = [int(r - c["start"] + 1) for r in c["ranks"]]
                for row in (
                    ranked.filter(F.col("rank").isin(ks))
                    .select("rank", "_v")
                    .collect()
                ):
                    resolved[(c["g"], c["start"] + row["rank"] - 1)] = row[
                        "_v"
                    ]
                ranked.unpersist()
            return resolved
        depth += 1

        # split off denormal-span cells: value-histogram resolve
        narrow = [
            c
            for c in pending
            if not ((c["cmax"] - c["cmin"]) / bucket_count > 0.0)
        ]
        pending = [c for c in pending if c not in narrow]
        for c in narrow:
            vh = sorted(
                (r["_v"], r["c"])
                for r in tagged.filter(_chain_pred(c))
                .groupBy("_v")
                .agg(F.count(F.lit(1)).alias("c"))
                .collect()
            )
            cum = c["start"]
            for v, cnt in vh:
                for r in c["ranks"]:
                    if cum <= r < cum + cnt:
                        resolved[(c["g"], r)] = v
                cum += cnt
        if not pending:
            return resolved

        # ONE combined re-histogram pass over all over-cap cells —
        # the when-chains here span only the (few) over-cap cells
        def _sub_expr(c):
            w = (c["cmax"] - c["cmin"]) / bucket_count
            return F.least(
                F.floor((F.col("_v") - F.lit(c["cmin"])) / F.lit(w)),
                F.lit(bucket_count - 1),
            ).cast("int")

        cexpr = F.lit(-1)
        sexpr = F.lit(-1)
        pred_any = F.lit(False)
        for i, c in enumerate(pending):
            p = _chain_pred(c)
            cexpr = F.when(p, F.lit(i)).otherwise(cexpr)
            sexpr = F.when(p, _sub_expr(c)).otherwise(sexpr)
            pred_any = pred_any | p
        rows = (
            tagged.filter(pred_any)
            .groupBy(cexpr.alias("_ci"), sexpr.alias("_sb"))
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("_v").alias("mn"),
                F.max("_v").alias("mx"),
            )
            .collect()
        )
        sub_hist: dict = {}
        for r in rows:
            sub_hist.setdefault(r["_ci"], {})[r["_sb"]] = (
                r["c"],
                r["mn"],
                r["mx"],
            )
        children = []
        for i, c in enumerate(pending):
            h = sub_hist.get(i, {})
            w = (c["cmax"] - c["cmin"]) / bucket_count
            cum = c["start"]
            for sb in sorted(h):
                cnt, mn, mx = h[sb]
                hit = {r for r in c["ranks"] if cum <= r < cum + cnt}
                if hit:
                    children.append(
                        {
                            "g": c["g"],
                            "b": c["b"],
                            "start": cum,
                            "count": cnt,
                            "cmin": mn,
                            "cmax": mx,
                            "ranks": hit,
                            "chain": c["chain"]
                            + [(c["cmin"], w, bucket_count, int(sb))],
                        }
                    )
                cum += cnt
        pending = children

    # terminal collect: ≤ cap rows GUARANTEED.  Chain-free cells (the
    # common, depth-0 case) share one flat (g, b)-membership scan —
    # membership compiles to per-group isin SETS (hash lookups), not
    # an OR-chain of conjunctions (an OR over ~200 bucket equalities
    # evaluated on every row measured 4× slower than one isin).
    # Chained cells (post-recursion refinements) MUST carry their full
    # chain predicate executor-side: their refined ``count`` is what
    # the cap admitted, but their ROOT bucket can hold arbitrarily
    # more rows (the exact skew the recursion targets) — a (g, b)-only
    # filter would pull the whole bucket to the driver.  There are at
    # most |ranks| chained cells pending here, so the OR stays tiny.
    by_root: dict = {}
    buckets_by_g: dict = {}
    for c in pending:
        by_root.setdefault((c["g"], c["b"]), []).append(c)
        if not c["chain"]:
            buckets_by_g.setdefault(c["g"], set()).add(int(c["b"]))
    pred_any = F.lit(False)
    for g, bks in buckets_by_g.items():
        gp = (
            F.col("_g").isNull()
            if g is None
            else (F.col("_g") == F.lit(g))
        )
        pred_any = pred_any | (gp & F.col("_b").isin(sorted(bks)))
    for c in pending:
        if c["chain"]:
            pred_any = pred_any | _chain_pred(c)
    vals_by_cell: dict = {}
    for row in (
        tagged.filter(pred_any).select("_g", "_b", "_v").collect()
    ):
        for idx, c in enumerate(by_root.get((row["_g"], row["_b"]), ())):
            if _chain_member(c, row["_v"]):
                vals_by_cell.setdefault(id(c), []).append(row["_v"])
                break
    for c in pending:
        vals = sorted(vals_by_cell.get(id(c), []))
        for r in c["ranks"]:
            resolved[(c["g"], r)] = vals[r - c["start"]]
    return resolved


def exact_quantiles(
    df: DataFrame,
    column: str,
    probs: list[float],
    bucket_count: int = 8192,
    candidate_cap: int = 2_000_000,
) -> list[float] | None:
    """EXACT interpolated quantiles (the ``percentile`` builtin's
    values: position ``p·(n−1)``, linear between the two bracketing
    order statistics) computed DISTRIBUTED — never the builtin's
    single-buffer merge-and-sort, which serializes every value through
    one final aggregation task (measured 4.3 s for 600k rows × 101
    quantiles where this takes ~0.6 s).

    Three bounded passes, no caching (each pass re-derives buckets
    arithmetically from the pass-1 min/max, so there is no sampled
    partitioning to pin):

    1. ``(count, min, max)`` — one row;
    2. equal-width histogram (``bucket_count`` cells, map-side
       combined, exchange ≤ bucket_count rows) — the cumulative
       counts locate each needed rank's bucket exactly;
    3. collect ONLY the rows in needed buckets (for R ranks that is
       ≤ R buckets ≈ R·n/bucket_count rows on anything but
       pathological skew) and read the order statistics off the
       driver-side sort.

    Heavy ties / extreme skew can concentrate needed buckets past
    ``candidate_cap``; the function then RECURSES instead of giving
    up (``_resolve_cells``): all-tied cells resolve from the
    histogram's per-bucket min==max with zero extra passes, over-cap
    cells are re-histogrammed into their true min/max span (one
    combined aggregate per level, span shrinks ≥ bucket_count× per
    pass, ≤ ~5 levels to isolate any double at fixed exponent), and
    the pathological-dynamic-range tail falls back to per-cell
    distributed rank selection — NEVER the builtin's single-task
    buffer sort.  NaNs and NULLs are excluded like the builtin's null
    handling (the builtin sorts NaN last — feed it NaN-free data,
    which every caller here does).  Returns the boundary list, or
    ``None`` only for an empty input or a degenerate denormal-wide
    total span.
    """
    x = F.col(column).cast("double")
    base = df.select(x.alias("_v")).filter(
        F.col("_v").isNotNull() & ~F.isnan(F.col("_v"))
    )
    head = base.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("lo"),
        F.max("_v").alias("hi"),
    ).collect()[0]
    n, lo, hi = head["n"], head["lo"], head["hi"]
    if n == 0:
        return None
    if lo == hi:
        return [lo for _ in probs]

    # the exact ranks the interpolation needs (1-based)
    positions = [p * (n - 1) for p in probs]
    need: set[int] = set()
    for pos in positions:
        lo_i = int(pos)
        need.add(lo_i + 1)
        need.add(min(lo_i + 2, n))

    width = (hi - lo) / bucket_count
    if not (width > 0.0):  # denormal span underflow: decline loudly
        return None
    bucket = F.least(
        F.floor((F.col("_v") - F.lit(lo)) / F.lit(width)),
        F.lit(bucket_count - 1),
    ).cast("int")
    hist = dict(
        (r["_b"], (r["c"], r["mn"], r["mx"]))
        for r in base.groupBy(bucket.alias("_b"))
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("_v").alias("mn"),
            F.max("_v").alias("mx"),
        )
        .collect()
    )
    cum = 0
    starts: dict[int, int] = {}  # bucket -> rank of its first row
    for b in sorted(hist):
        starts[b] = cum + 1
        cum += hist[b][0]
    # map each needed rank to its bucket
    needed_buckets: set[int] = set()
    ordered = sorted(hist)
    import bisect

    keys = [starts[b] for b in ordered]
    for r in sorted(need):
        i = bisect.bisect_right(keys, r) - 1
        needed_buckets.add(ordered[i])
    cells = []
    for b in sorted(needed_buckets):
        cnt, mn, mx = hist[b]
        first = starts[b]
        cells.append(
            {
                "g": 0,
                "b": int(b),
                "start": first,
                "count": cnt,
                "cmin": mn,
                "cmax": mx,
                "ranks": {r for r in need if first <= r < first + cnt},
                "chain": [],
            }
        )
    tagged = base.select(
        F.lit(0).alias("_g"), bucket.alias("_b"), "_v"
    )
    resolved = _resolve_cells(tagged, cells, candidate_cap, bucket_count)
    value_at: dict[int, float] = {r: resolved[(0, r)] for r in need}
    out: list[float] = []
    for pos in positions:
        lo_i = int(pos)
        frac = pos - lo_i
        v_lo = value_at[lo_i + 1]
        if frac == 0.0:
            out.append(v_lo)
        else:
            v_hi = value_at[min(lo_i + 2, n)]
            # the builtin's exact form (Percentile.getPercentile):
            # (higher − position)·lower + (position − lower)·higher —
            # NOT lo + (hi−lo)·frac, which differs in the last ulp
            out.append((1.0 - frac) * v_lo + frac * v_hi)
    return out


def exact_quantiles_grouped(
    df: DataFrame,
    group_col: str,
    column: str,
    probs: list[float],
    bucket_count: int = 8192,
    candidate_cap: int = 2_000_000,
    max_groups: int = 256,
) -> dict | None:
    """Per-group ``exact_quantiles``: ``{group_value: boundaries}`` —
    bit-identical to ``percentile(...) GROUP BY group`` but computed
    through the same three bounded histogram passes (per-group cells,
    map-side combined) instead of the builtin's per-group value
    buffers.

    Built for LOW-cardinality groupings (quality flags, return flags,
    cohorts): the histogram collect is |groups|·bucket_count cells, so
    the function returns ``None`` (caller falls back to the builtin)
    when the grouping exceeds ``max_groups``, when the input is empty,
    or when a group's span underflows double width.  An over-cap
    candidate mass no longer declines: it recurses through the same
    ``_resolve_cells`` ladder as the ungrouped path (tied cells free,
    re-histogram into true min/max, distributed rank selection as the
    pathological tail).  Groups with a NULL key are included (keyed
    ``None``), matching GROUP BY.  NaN values are excluded (callers
    here are NaN-free by contract).
    """
    x = F.col(column).cast("double")
    base = df.select(F.col(group_col).alias("_g"), x.alias("_v")).filter(
        F.col("_v").isNotNull() & ~F.isnan(F.col("_v"))
    )
    heads = base.groupBy("_g").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("_v").alias("lo"),
        F.max("_v").alias("hi"),
    ).collect()
    if not heads or len(heads) > max_groups:
        return None
    meta = {r["_g"]: (r["n"], r["lo"], r["hi"]) for r in heads}

    bucket_exprs = []
    for g, (n, lo, hi) in meta.items():
        width = (hi - lo) / bucket_count if hi > lo else 1.0
        if not (width > 0.0):  # denormal span underflow
            return None
        b = F.least(
            F.floor((F.col("_v") - F.lit(lo)) / F.lit(width)),
            F.lit(bucket_count - 1),
        ).cast("int")
        cond = (
            F.col("_g").isNull() if g is None else (F.col("_g") == F.lit(g))
        )
        bucket_exprs.append((cond, b))
    bexpr = F.lit(0).cast("int")
    for cond, b in reversed(bucket_exprs):
        bexpr = F.when(cond, b).otherwise(bexpr)

    hist_rows = (
        base.withColumn("_b", bexpr)
        .groupBy("_g", "_b")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min("_v").alias("mn"),
            F.max("_v").alias("mx"),
        )
        .collect()
    )
    hist: dict = {}
    for r in hist_rows:
        hist.setdefault(r["_g"], {})[r["_b"]] = (r["c"], r["mn"], r["mx"])

    import bisect

    cells: list = []
    plan: dict = {}
    for g, (n, lo, hi) in meta.items():
        if lo == hi:
            plan[g] = ("const", lo)
            continue
        positions = [p * (n - 1) for p in probs]
        need: set[int] = set()
        for pos in positions:
            li_ = int(pos)
            need.add(li_ + 1)
            need.add(min(li_ + 2, n))
        h = hist[g]
        ordered = sorted(h)
        cum = 0
        starts = {}
        for bkt in ordered:
            starts[bkt] = cum + 1
            cum += h[bkt][0]
        keys = [starts[bkt] for bkt in ordered]
        nb: set[int] = set()
        for r in sorted(need):
            nb.add(ordered[bisect.bisect_right(keys, r) - 1])
        plan[g] = ("ranks", need, positions, n)
        for bkt in sorted(nb):
            cnt, mn, mx = h[bkt]
            first = starts[bkt]
            cells.append(
                {
                    "g": g,
                    "b": int(bkt),
                    "start": first,
                    "count": cnt,
                    "cmin": mn,
                    "cmax": mx,
                    "ranks": {
                        r for r in need if first <= r < first + cnt
                    },
                    "chain": [],
                }
            )

    # same recursion ladder as the ungrouped path: all-tied cells are
    # free, over-cap cells re-histogram, never a single-task sort.
    # The bucket tag materializes ONCE (_b); cell predicates stay flat
    tagged = base.select("_g", bexpr.alias("_b"), "_v")
    resolved = _resolve_cells(tagged, cells, candidate_cap, bucket_count)

    out: dict = {}
    for g, spec in plan.items():
        if spec[0] == "const":
            out[g] = [spec[1] for _ in probs]
            continue
        _, need, positions, n = spec
        value_at = {r: resolved[(g, r)] for r in need}
        bl = []
        for pos in positions:
            li_ = int(pos)
            frac = pos - li_
            v_lo = value_at[li_ + 1]
            if frac == 0.0:
                bl.append(v_lo)
            else:
                v_hi = value_at[min(li_ + 2, n)]
                bl.append((1.0 - frac) * v_lo + frac * v_hi)
        out[g] = bl
    return out


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    bucket_width: float,
    left_id: str = "id",
    right_id: str = "id",
    start_col: str = "start",
    end_col: str = "end",
) -> DataFrame:
    """Interval×interval overlap join: ``(left_id, right_id,
    overlap_start, overlap_end, overlap)`` for every pair with
    ``l.start <= r.end AND r.start <= l.end`` — the two-sided
    generalization of ``bucketed_range_join`` (point-in-interval):
    log-span vs maintenance-window overlap, session vs campaign
    windows, coverage reconciliation.

    Never a cross join: each interval explodes into its
    ``floor(start/w)..floor(end/w)`` bucket run (``F.sequence`` —
    span-bounded, pick ``bucket_width`` near the typical interval
    length so the fan-out is O(1)) and pairs meet through ONE bucket
    equi join.  A pair sharing several buckets is emitted exactly
    once WITHOUT a distinct pass: only the first shared bucket —
    ``max(floor(l.start/w), floor(r.start/w))`` — reports it (the
    standard dedup-free grid-join identity; both interval starts are
    known on the joined row, so the filter is a scalar predicate).

    Intervals must have ``start <= end`` (raise upstream); NULL
    bounds are dropped.  At 100 TB: the only exchange is the bucket
    hash join; skewed hot buckets split under AQE, and the bucket
    run per row is (span/width)+1 — surfaced via the loud
    ``max_buckets_per_row`` guard (default 1024) so a degenerate
    width fails fast instead of exploding quietly.
    """
    if bucket_width <= 0:
        raise ValueError("interval_overlap_join: bucket_width must be > 0")
    w = float(bucket_width)
    max_buckets = 1024

    def prep(df: DataFrame, idc: str, tag: str) -> DataFrame:
        s = F.col(start_col).cast("double")
        e = F.col(end_col).cast("double")
        lo = F.floor(s / w).cast("long")
        hi = F.floor(e / w).cast("long")
        base = df.filter(s.isNotNull() & e.isNotNull()).select(
            F.col(idc).alias(f"{tag}_id"),
            s.alias(f"{tag}_start"),
            e.alias(f"{tag}_end"),
            lo.alias(f"{tag}_lo"),
            hi.alias(f"{tag}_hi"),
        )
        # loud, not silent, and WITHOUT an extra eager pass: a
        # row-level raise fires at execution if any interval spans
        # >= max_buckets buckets (degenerate width for this data)
        checked = base.withColumn(
            f"{tag}_hi",
            F.when(
                F.col(f"{tag}_hi") - F.col(f"{tag}_lo")
                < F.lit(max_buckets),
                F.col(f"{tag}_hi"),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        "interval_overlap_join: an interval spans >= "
                        f"{max_buckets} buckets; raise bucket_width"
                    )
                ).cast("long")
            ),
        )
        return checked.withColumn(
            "_bucket",
            F.explode(F.sequence(F.col(f"{tag}_lo"), F.col(f"{tag}_hi"))),
        )

    lt = prep(left, left_id, "l")
    rt = prep(right, right_id, "r")
    joined = lt.join(rt, "_bucket").filter(
        (F.col("l_start") <= F.col("r_end"))
        & (F.col("r_start") <= F.col("l_end"))
        & (
            F.col("_bucket")
            == F.greatest(F.col("l_lo"), F.col("r_lo"))
        )
    )
    return joined.select(
        F.col("l_id").alias("left_id"),
        F.col("r_id").alias("right_id"),
        F.greatest("l_start", "r_start").alias("overlap_start"),
        F.least("l_end", "r_end").alias("overlap_end"),
        (
            F.least("l_end", "r_end")
            - F.greatest("l_start", "r_start")
        ).alias("overlap"),
    )


def prorate_intervals(
    df: DataFrame,
    start_col: str,
    end_col: str,
    amount_col: str,
    bucket_width: float,
    id_col: str = "id",
) -> DataFrame:
    """Calendarization / proration: ``(id, bucket_start, allocated)``
    — each interval's amount spread over the ``bucket_width`` grid
    proportional to overlap, HALF-OPEN ``[start, end)`` against
    ``[b·w, (b+1)·w)`` so adjacent buckets partition exactly and the
    allocations sum back to the amount (the revenue-recognition /
    subscription-accrual primitive: "a 90-day contract booked Jan 15
    recognizes how much in February?").

    Zero-length intervals (start = end: point charges) allocate fully
    to their containing bucket.  NULL bounds or amounts drop.  The
    per-row bucket fan-out is span/width + 1 with the same loud
    ``>= 1024``-bucket row-level raise as ``interval_overlap_join``
    (a degenerate width fails fast, never explodes quietly).

    Plan: pure map-side — one ``F.sequence`` explode and scalar
    arithmetic; NO shuffle at all (callers roll up by bucket with
    their own aggregate).  The invariant worth testing: Σ allocated
    per id = amount (exact up to FP dust).
    """
    if bucket_width <= 0:
        raise ValueError("prorate_intervals: bucket_width must be > 0")
    w = float(bucket_width)
    max_buckets = 1024
    s = F.col(start_col).cast("double")
    e = F.col(end_col).cast("double")
    a = F.col(amount_col).cast("double")
    lo = F.floor(s / w).cast("long")
    hi_raw = F.floor(e / w).cast("long")
    # half-open: an end exactly on a boundary contributes nothing to
    # the bucket it opens
    hi = F.when(
        (e > s) & (e == hi_raw.cast("double") * w), hi_raw - 1
    ).otherwise(hi_raw)
    base = df.filter(
        s.isNotNull() & e.isNotNull() & a.isNotNull() & (e >= s)
    ).select(
        F.col(id_col).alias("id"),
        s.alias("_s"),
        e.alias("_e"),
        a.alias("_a"),
        lo.alias("_lo"),
        F.when(
            hi - lo < F.lit(max_buckets), hi
        )
        .otherwise(
            F.raise_error(
                F.lit(
                    "prorate_intervals: an interval spans >= "
                    f"{max_buckets} buckets; raise bucket_width"
                )
            ).cast("long")
        )
        .alias("_hi"),
    )
    bucket = F.explode(
        F.sequence(F.col("_lo"), F.greatest(F.col("_hi"), F.col("_lo")))
    )
    staged = base.withColumn("_b", bucket)
    bs = F.col("_b").cast("double") * w
    ov = F.least(F.col("_e"), bs + w) - F.greatest(F.col("_s"), bs)
    dur = F.col("_e") - F.col("_s")
    # ratio FIRST: a*ov can underflow to subnormal dust before the
    # divide (a 5e-324-wide interval allocated 2.0x its amount in the
    # hypothesis sweep); ov/dur is well-conditioned in [0, 1]
    alloc = F.when(dur > 0, F.col("_a") * (ov / dur)).otherwise(
        F.col("_a")
    )
    return staged.select(
        "id",
        bs.alias("bucket_start"),
        F.round(alloc, 6).alias("allocated"),
    )
