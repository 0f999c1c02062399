"""Declarative data-quality validation and column profiling
(Deequ-style) — the admission gate a 100 TB ingest runs before data
enters the corpus.

The reference pipeline validates implicitly (``scripts/merge-
indicators.js`` warns on ways missing an indicator value; the
anti-join miss report in ``operators/indicators.py`` re-expresses
that); this module generalizes the idea to a declarative constraint
suite evaluated in ONE aggregate pass:

- every metric a constraint needs (null count, distinct count, min /
  max / mean, regex-match count, set-membership count) is ONE
  aggregate expression, so N constraints over M columns compile into
  a single hash-aggregate job — one corpus scan regardless of suite
  size, all map-side partial combine;
- results come back long-form ``(constraint, column, metric, value,
  threshold, passed)`` so a gate is ``.filter(~passed).count() == 0``
  and the report itself is small enough to store per ingest batch.

``profile_columns`` is the suite's discovery twin (what SHOULD the
constraints be?): per-column completeness/distinct/min/max/mean/stddev
in the same one-pass shape.  ``equi_width_histogram`` adds a
two-pass (min-max, then bucket counts) fixed-width histogram — the
second pass buckets with pure arithmetic against the broadcast 1-row
bounds, never a per-row UDF.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from moz_datapipeline_spark.operators.ranges import prefix_scan


@dataclass(frozen=True)
class Check:
    """One constraint: ``kind`` ∈ {not_null, unique, min, max,
    complete, matches, in_set, non_negative}; ``threshold`` is the
    bound (ratio for complete/matches, numeric for min/max)."""

    kind: str
    column: str
    threshold: float | None = None
    pattern: str | None = None
    allowed: tuple | None = None


def _metric_exprs(c: Check, i: int) -> list[Column]:
    col = F.col(c.column)
    tag = f"_m{i}"
    if c.kind == "not_null":
        return [F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(tag)]
    if c.kind == "complete":
        return [F.sum(F.when(col.isNotNull(), 1).otherwise(0)).alias(tag)]
    if c.kind == "unique":
        return [F.countDistinct(col).alias(tag)]
    if c.kind == "min":
        return [F.min(col).cast("double").alias(tag)]
    if c.kind == "max":
        return [F.max(col).cast("double").alias(tag)]
    if c.kind == "non_negative":
        return [F.sum(F.when(col < 0, 1).otherwise(0)).alias(tag)]
    if c.kind == "matches":
        return [
            F.sum(
                F.when(col.isNotNull() & col.rlike(c.pattern), 1).otherwise(0)
            ).alias(tag)
        ]
    if c.kind == "in_set":
        return [
            F.sum(
                F.when(col.isin(list(c.allowed)), 1).otherwise(0)
            ).alias(tag)
        ]
    raise ValueError(f"validate: unknown check kind {c.kind!r}")


def validate(df: DataFrame, checks: Sequence[Check]) -> DataFrame:
    """Evaluate ``checks`` in one aggregate pass.

    Returns ``(check_id, kind, column, metric, threshold, passed)``
    ordered by ``check_id`` (the position in ``checks`` — stable,
    report-diffable).  Semantics per kind:

    - ``not_null``      metric = null count,          pass = 0 nulls
    - ``complete``      metric = non-null ratio,      pass ≥ threshold
    - ``unique``        metric = distinct/total,      pass = 1.0
    - ``min``/``max``   metric = observed bound,      pass vs threshold
    - ``non_negative``  metric = negative count,      pass = 0
    - ``matches``       metric = match ratio (of non-null), pass ≥ threshold
    - ``in_set``        metric = member ratio,        pass = 1.0
    """
    if not checks:
        raise ValueError("validate: checks must be non-empty")
    # fail fast with the check kind + missing field named — without
    # this, Check('min', 'c') with no threshold dies later in
    # float(None) with a bare TypeError, and a pattern-less `matches`
    # fails obscurely inside rlike at executor time
    _KNOWN = (
        "not_null", "unique", "min", "max",
        "complete", "matches", "in_set", "non_negative",
    )
    for i, c in enumerate(checks):
        if c.kind not in _KNOWN:
            raise ValueError(
                f"validate: check #{i} has unknown kind {c.kind!r} "
                f"(expected one of {_KNOWN})"
            )
        if c.kind in ("min", "max", "complete", "matches") and (
            c.threshold is None
        ):
            raise ValueError(
                f"validate: check #{i} ({c.kind!r} on {c.column!r}) "
                "requires a numeric `threshold`"
            )
        if c.kind == "matches" and not c.pattern:
            raise ValueError(
                f"validate: check #{i} ('matches' on {c.column!r}) "
                "requires a regex `pattern`"
            )
        if c.kind == "in_set" and not c.allowed:
            raise ValueError(
                f"validate: check #{i} ('in_set' on {c.column!r}) "
                "requires a non-empty `allowed` tuple"
            )
    exprs: list[Column] = [F.count("*").alias("_n")]
    for i, c in enumerate(checks):
        exprs.extend(_metric_exprs(c, i))
    nn_tags = {
        i: f"_nn{i}" for i, c in enumerate(checks) if c.kind == "matches"
    }
    for i in nn_tags:
        exprs.append(
            F.sum(
                F.when(F.col(checks[i].column).isNotNull(), 1).otherwise(0)
            ).alias(nn_tags[i])
        )
    row = df.agg(*exprs)

    reports = []
    for i, c in enumerate(checks):
        m = F.col(f"_m{i}").cast("double")
        n = F.col("_n").cast("double")
        if c.kind == "not_null":
            metric, passed = m, m == 0
        elif c.kind == "complete":
            metric = F.when(n > 0, m / n).otherwise(1.0)
            passed = metric >= float(c.threshold)
        elif c.kind == "unique":
            metric = F.when(n > 0, m / n).otherwise(1.0)
            passed = metric == 1.0
        elif c.kind == "min":
            metric, passed = m, m >= float(c.threshold)
        elif c.kind == "max":
            metric, passed = m, m <= float(c.threshold)
        elif c.kind == "non_negative":
            metric, passed = m, m == 0
        elif c.kind == "matches":
            nn = F.col(nn_tags[i]).cast("double")
            metric = F.when(nn > 0, m / nn).otherwise(1.0)
            passed = metric >= float(c.threshold)
        else:  # in_set
            metric = F.when(n > 0, m / n).otherwise(1.0)
            passed = metric == 1.0
        reports.append(
            F.struct(
                F.lit(i).alias("check_id"),
                F.lit(c.kind).alias("kind"),
                F.lit(c.column).alias("column"),
                F.round(metric, 6).alias("metric"),
                F.lit(
                    float(c.threshold) if c.threshold is not None else None
                ).cast("double").alias("threshold"),
                passed.alias("passed"),
            )
        )
    # ONE aggregated row exploded into the report — a per-check
    # select+union would re-execute the aggregate (and rescan the
    # input) once per branch; plan-asserted single scan in
    # test_plan_shape.
    return row.select(
        F.explode(F.array(*reports)).alias("_r")
    ).select("_r.*")


def profile_columns(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """One-pass per-column profile: ``(column, n_rows, n_nulls,
    n_distinct, min_val, max_val, mean_val)`` — numeric stats as
    doubles (NULL for non-numeric columns), min/max as strings so one
    schema fits every column type.  All metrics for all columns are a
    single aggregate job."""
    if not columns:
        raise ValueError("profile_columns: columns must be non-empty")
    numeric = {
        f.name
        for f in df.schema.fields
        if f.dataType.typeName()
        in ("integer", "long", "double", "float", "short", "decimal")
    }
    exprs: list[Column] = [F.count("*").alias("_n")]
    for c in columns:
        col = F.col(c)
        exprs.append(
            F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"_null_{c}")
        )
        exprs.append(F.countDistinct(col).alias(f"_dist_{c}"))
        exprs.append(F.min(col).cast("string").alias(f"_min_{c}"))
        exprs.append(F.max(col).cast("string").alias(f"_max_{c}"))
        if c in numeric:
            exprs.append(F.avg(col.cast("double")).alias(f"_mean_{c}"))
    row = df.agg(*exprs)
    parts = []
    for c in columns:
        mean = (
            F.round(F.col(f"_mean_{c}"), 6)
            if c in numeric
            else F.lit(None).cast("double")
        )
        parts.append(
            F.struct(
                F.lit(c).alias("column"),
                F.col("_n").alias("n_rows"),
                F.col(f"_null_{c}").alias("n_nulls"),
                F.col(f"_dist_{c}").alias("n_distinct"),
                F.col(f"_min_{c}").alias("min_val"),
                F.col(f"_max_{c}").alias("max_val"),
                mean.alias("mean_val"),
            )
        )
    # same single-scan explode as validate(): one aggregate row fans
    # out to one report row per column with no plan duplication
    return row.select(
        F.explode(F.array(*parts)).alias("_r")
    ).select("_r.*")


def equi_width_histogram(
    df: DataFrame, column: str, nbins: int = 10
) -> DataFrame:
    """Fixed-width histogram: ``(bin_id, lo, hi, n)`` with ``nbins``
    equal-width bins spanning [min, max]; the max value lands in the
    last bin (closed upper edge).

    Two passes over ONE column: a 1-row min/max aggregate broadcast
    back via cross join, then pure-arithmetic bucketing + hash
    aggregate — the standard distributed histogram; no sort, no UDF.
    Degenerate case min == max → all rows in bin 0.
    """
    if nbins < 1:
        raise ValueError("equi_width_histogram: need nbins >= 1")
    col = F.col(column).cast("double")
    bounds = df.agg(
        F.min(col).alias("_lo"), F.max(col).alias("_hi")
    )
    width = (F.col("_hi") - F.col("_lo")) / nbins
    bin_id = F.when(
        (F.col("_hi") == F.col("_lo")) | col.isNull(), F.lit(0)
    ).otherwise(
        F.least(
            F.floor((col - F.col("_lo")) / width).cast("int"),
            F.lit(nbins - 1),
        )
    )
    return (
        df.filter(col.isNotNull())
        .join(F.broadcast(bounds))
        .select(
            bin_id.alias("bin_id"),
            F.round(F.col("_lo") + bin_id * width, 6).alias("lo"),
            F.round(F.col("_lo") + (bin_id + 1) * width, 6).alias("hi"),
        )
        .groupBy("bin_id", "lo", "hi")
        .agg(F.count("*").alias("n"))
    )


def equi_depth_histogram(
    df: DataFrame, column: str, nbins: int = 10
) -> DataFrame:
    """Equal-count (quantile) histogram: ``(bin_id, bin_lo, bin_hi,
    n)`` where ``bin_lo/bin_hi`` are the observed min/max inside each
    bin and boundaries are the exact 1/n..(n-1)/n percentiles
    (linear interpolation, SQL ``percentile`` semantics).

    Row x lands in bin ``Σ_i [x > b_i]`` (strictly-greater fold over
    the broadcast boundary array) — deterministic under ties, no
    global sort of the data: one exact-percentile aggregate for the
    boundaries (1 row), then arithmetic bucketing + hash aggregate.

    Scale note: Spark's exact ``percentile`` buffers the column per
    group — fine to ~1e8 rows on one aggregate; beyond that swap the
    boundary computation for ``approx_percentile`` (same downstream
    plan, sketch-accurate boundaries) — the bucketing pass is
    unchanged and never sorts.
    """
    if nbins < 2:
        raise ValueError("equi_depth_histogram: need nbins >= 2")
    from moz_datapipeline_spark.operators.ranges import exact_quantiles

    col = F.col(column).cast("double")
    probs = [i / nbins for i in range(1, nbins)]
    # distributed exact boundaries inlined as a literal array (see
    # exact_quantiles — bit-identical to the builtin); the builtin
    # aggregate + broadcast join survives as the declined-case fallback
    vals = exact_quantiles(df, column, probs)
    if vals is not None:
        staged = df.filter(col.isNotNull()).withColumn(
            "_bs", F.array(*[F.lit(float(v)) for v in vals])
        )
    else:
        bounds = df.agg(
            F.expr(
                f"percentile({column},"
                f" array({', '.join(repr(p) for p in probs)}))"
            ).alias("_bs")
        )
        staged = df.filter(col.isNotNull()).join(F.broadcast(bounds))
    bin_id = F.aggregate(
        F.col("_bs"),
        F.lit(0),
        lambda acc, b: acc + F.when(col > b, 1).otherwise(0),
    )
    return (
        staged.select(bin_id.alias("bin_id"), col.alias("_x"))
        .groupBy("bin_id")
        .agg(
            F.round(F.min("_x"), 6).alias("bin_lo"),
            F.round(F.max("_x"), 6).alias("bin_hi"),
            F.count("*").alias("n"),
        )
    )


def winsorize(
    df: DataFrame,
    column: str,
    lower: float = 0.01,
    upper: float = 0.99,
    out_col: str | None = None,
) -> DataFrame:
    """Clip ``column`` to its exact [``lower``, ``upper``] percentiles
    (outlier capping before scaling/training).

    One exact-percentile aggregate produces the two clip bounds (1 row,
    broadcast back via cross join); the clip itself is a pure
    projection.  Same scale posture as ``equi_depth_histogram``: swap
    ``percentile`` for ``approx_percentile`` past ~1e8 rows per
    aggregate, downstream unchanged.  Adds ``out_col`` (default
    ``<column>_wins``) plus a ``was_clipped`` flag.
    """
    if not (0.0 <= lower < upper <= 1.0):
        raise ValueError("winsorize: need 0 <= lower < upper <= 1")
    from moz_datapipeline_spark.operators.ranges import exact_quantiles

    col = F.col(column).cast("double")
    out_col = out_col or f"{column}_wins"
    # distributed exact quantiles (bit-identical to the builtin, never
    # its single-task buffer sort) inlined as literals; builtin
    # aggregate + broadcast join only on an exact_quantiles fallback
    vals = exact_quantiles(df, column, [lower, upper])
    if vals is not None:
        staged = df.withColumn("_wlo", F.lit(vals[0])).withColumn(
            "_whi", F.lit(vals[1])
        )
    else:
        bounds = df.agg(
            F.expr(f"percentile({column}, {lower!r})").alias("_wlo"),
            F.expr(f"percentile({column}, {upper!r})").alias("_whi"),
        )
        staged = df.join(F.broadcast(bounds))
    clipped = F.least(F.greatest(col, F.col("_wlo")), F.col("_whi"))
    return (
        staged.withColumn(out_col, F.round(clipped, 6))
        .withColumn(
            "was_clipped",
            col.isNotNull() & ((col < F.col("_wlo")) | (col > F.col("_whi"))),
        )
        .drop("_wlo", "_whi")
    )


def robust_scale(
    df: DataFrame,
    column: str,
    group_col: str | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Median/IQR standardization: ``(x − median) / (p75 − p25)`` —
    the outlier-insensitive cousin of z-scoring, per group when
    ``group_col`` is given.

    One exact-percentile aggregate per group (|groups| rows, broadcast
    joined back), then a pure projection.  Zero-IQR groups (constant
    values) scale to 0.0 by convention rather than NULL-propagating.
    """
    from moz_datapipeline_spark.operators.ranges import (
        exact_quantiles,
        exact_quantiles_grouped,
    )

    col = F.col(column).cast("double")
    out_col = out_col or f"{column}_scaled"
    # distributed exact quantiles as LITERALS (per-group: a literal
    # map keyed by the group) — bit-identical to the builtin, never
    # its per-group value buffers; fall back to the builtin aggregate
    # + broadcast join when exact_quantiles declines (high-cardinality
    # grouping, candidate-cap trip, NULL group keys, empty input)
    joined = None
    if group_col:
        qs = exact_quantiles_grouped(
            df, group_col, column, [0.5, 0.25, 0.75]
        )
        if qs is not None and all(k is not None for k in qs):
            med_m = F.create_map(
                *[c for k, v in qs.items() for c in (F.lit(k), F.lit(v[0]))]
            )
            p25_m = F.create_map(
                *[c for k, v in qs.items() for c in (F.lit(k), F.lit(v[1]))]
            )
            p75_m = F.create_map(
                *[c for k, v in qs.items() for c in (F.lit(k), F.lit(v[2]))]
            )
            g = F.col(group_col)
            joined = (
                df.withColumn("_med", F.element_at(med_m, g))
                .withColumn("_p25", F.element_at(p25_m, g))
                .withColumn("_p75", F.element_at(p75_m, g))
            )
    else:
        vals = exact_quantiles(df, column, [0.5, 0.25, 0.75])
        if vals is not None:
            joined = (
                df.withColumn("_med", F.lit(vals[0]))
                .withColumn("_p25", F.lit(vals[1]))
                .withColumn("_p75", F.lit(vals[2]))
            )
    if joined is None:
        gb = df.groupBy(group_col) if group_col else df.groupBy()
        stats = gb.agg(
            F.expr(f"percentile({column}, 0.5)").alias("_med"),
            F.expr(f"percentile({column}, 0.25)").alias("_p25"),
            F.expr(f"percentile({column}, 0.75)").alias("_p75"),
        )
        joined = (
            df.join(F.broadcast(stats), on=group_col)
            if group_col
            else df.join(F.broadcast(stats))
        )
    iqr = F.col("_p75") - F.col("_p25")
    scaled = F.when(iqr > 0, (col - F.col("_med")) / iqr).otherwise(
        F.lit(0.0)
    )
    return joined.withColumn(out_col, F.round(scaled, 6)).drop(
        "_med", "_p25", "_p75"
    )


def psi_drift(
    reference: DataFrame,
    current: DataFrame,
    columns: Sequence[str],
    nbins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population-stability-index drift between a REFERENCE snapshot
    and a CURRENT snapshot, per numeric column: ``(column, psi)`` with

        psi = sum_bins (p_cur - p_ref) * ln(p_cur / p_ref)

    over ``nbins`` equal-width bins whose edges come from the
    REFERENCE min/max (the standard scorecard-monitoring convention:
    the reference defines the binning, current values outside its
    range clamp into the edge bins).  Probabilities are floored at
    ``eps`` so empty bins never produce ln(0).  Rule of thumb:
    psi < 0.1 stable, 0.1–0.2 drifting, > 0.2 action.

    Plan — TWO data scans total regardless of column count:

    1. one 1-row aggregate over the reference collects every column's
       min/max (broadcast back);
    2. each side unpivots ``(column_name, bin_id)`` via ``stack`` in a
       single projection and collapses into one (column, bin) hash
       aggregate — map-side partials, no per-column jobs;
    3. the PSI fold is a |columns|·nbins-row join + aggregate,
       driver-negligible.

    NULLs are excluded per column (they don't enter either histogram);
    a column whose reference min == max puts every value in bin 0.
    """
    if nbins < 1:
        raise ValueError("psi_drift: need nbins >= 1")
    cols = list(columns)
    if not cols:
        raise ValueError("psi_drift: need at least one column")
    bounds = reference.agg(
        *[
            a
            for i, c in enumerate(cols)
            for a in (
                F.min(F.col(c).cast("double")).alias(f"_lo_{i}"),
                F.max(F.col(c).cast("double")).alias(f"_hi_{i}"),
            )
        ]
    )

    def _binned(df: DataFrame) -> DataFrame:
        pairs = []
        for i, c in enumerate(cols):
            v = F.col(c).cast("double")
            lo, hi = F.col(f"_lo_{i}"), F.col(f"_hi_{i}")
            width = (hi - lo) / nbins
            # clamp the RATIO (double) before floor/cast: a current
            # value far outside the reference range — the exact event
            # PSI exists to detect — would otherwise overflow the int
            # cast and, under ANSI mode, kill the whole job instead of
            # landing in the edge bin
            ratio = F.greatest(
                F.least((v - lo) / width, F.lit(float(nbins - 1))),
                F.lit(0.0),
            )
            raw = F.floor(ratio).cast("int")
            bin_id = F.when(
                v.isNull(), F.lit(None).cast("int")
            ).otherwise(F.when(hi == lo, F.lit(0)).otherwise(raw))
            pairs.append((F.lit(c), bin_id))
        exploded = df.join(F.broadcast(bounds)).select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            name.alias("column"), b.alias("bin_id")
                        )
                        for name, b in pairs
                    ]
                )
            ).alias("_e")
        )
        return (
            exploded.select("_e.column", "_e.bin_id")
            .filter(F.col("bin_id").isNotNull())
            .groupBy("column", "bin_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    spark = reference.sparkSession
    grid = spark.createDataFrame(
        [(c, b) for c in cols for b in range(nbins)],
        "column string, bin_id int",
    )
    ref_n = _binned(reference)
    cur_n = _binned(current)
    per_bin = (
        grid.join(ref_n, ["column", "bin_id"], "left")
        .withColumnRenamed("n", "n_ref")
        .join(cur_n, ["column", "bin_id"], "left")
        .withColumnRenamed("n", "n_cur")
        .fillna(0, subset=["n_ref", "n_cur"])
    )
    tot = per_bin.groupBy("column").agg(
        F.sum("n_ref").cast("double").alias("_tr"),
        F.sum("n_cur").cast("double").alias("_tc"),
    )
    p_ref = F.greatest(F.col("n_ref") / F.col("_tr"), F.lit(eps))
    p_cur = F.greatest(F.col("n_cur") / F.col("_tc"), F.lit(eps))
    # a side with zero non-null rows for a column has no distribution:
    # psi is NULL for that column (guarded here so ANSI mode doesn't
    # kill the whole job with an opaque divide-by-zero mid-stage)
    term = F.when(
        (F.col("_tr") > 0) & (F.col("_tc") > 0),
        (p_cur - p_ref) * F.log(p_cur / p_ref),
    )
    return (
        per_bin.join(tot, "column")
        .select("column", term.alias("_term"))
        .groupBy("column")
        .agg(F.sum("_term").alias("psi"))
    )


def mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
    nbins: int = 10,
) -> DataFrame:
    """Binned mutual information between two numeric columns:
    ``MI = sum_xy p_xy * ln(p_xy / (p_x * p_y))`` over an
    ``nbins`` x ``nbins`` equal-width grid (each column binned against
    its OWN min/max), nats.  Returns one row ``(x_col, y_col, mi,
    n_rows)`` — MI = 0 means the binned columns are independent;
    higher values flag redundant features / leaky joins in a feature
    audit.  Rows where either column is NULL are excluded; a constant
    column (min == max) carries no information — MI is exactly 0.

    Plan: one 1-row min/max aggregate over both columns (broadcast
    back), then ONE pass binning both columns and hash-aggregating
    joint counts (at most nbins² groups, map-side combined).
    Marginals derive from the joint table — never a second data scan.
    Empty-bin terms vanish (0·ln 0 = 0 by convention), so no epsilon
    flooring is needed, unlike ``psi_drift`` where the DIFFERENCE
    weight keeps empty bins in play.
    """
    if nbins < 1:
        raise ValueError("mutual_information: need nbins >= 1")
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.filter(x.isNotNull() & y.isNotNull())
    bounds = base.agg(
        F.min(x).alias("_lx"),
        F.max(x).alias("_hx"),
        F.min(y).alias("_ly"),
        F.max(y).alias("_hy"),
    )

    def _bin(v, lo, hi):
        width = (F.col(hi) - F.col(lo)) / nbins
        return F.when(F.col(hi) == F.col(lo), F.lit(0)).otherwise(
            F.least(
                F.floor((v - F.col(lo)) / width).cast("int"),
                F.lit(nbins - 1),
            )
        )

    joint = (
        base.join(F.broadcast(bounds))
        .select(
            _bin(x, "_lx", "_hx").alias("bx"),
            _bin(y, "_ly", "_hy").alias("by"),
        )
        .groupBy("bx", "by")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mx = joint.groupBy("bx").agg(F.sum("n").alias("nx"))
    my = joint.groupBy("by").agg(F.sum("n").alias("ny"))
    tot = joint.agg(F.sum("n").cast("double").alias("_t"))
    mi = (
        joint.join(mx, "bx")
        .join(my, "by")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("n") / F.col("_t"))
                * F.log(
                    (F.col("n") * F.col("_t"))
                    / (F.col("nx") * F.col("ny"))
                )
            ).alias("_term")
        )
        .agg(F.coalesce(F.sum("_term"), F.lit(0.0)).alias("mi"))
    )
    n_rows = joint.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_rows")
    )
    return (
        mi.crossJoin(F.broadcast(n_rows))
        .select(
            F.lit(x_col).alias("x_col"),
            F.lit(y_col).alias("y_col"),
            F.col("mi"),
            F.col("n_rows"),
        )
    )


#: Benford expected share of first significant digit d: log10(1 + 1/d)
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


def benford_audit(df: DataFrame, column: str) -> DataFrame:
    """First-significant-digit distribution of a numeric column vs
    Benford's law: ``(digit, n, observed_p, expected_p, chi2)`` for
    digits 1–9 (zero-count digits included), ``chi2`` the
    Pearson statistic over all nine cells repeated on every row.
    Naturally-occurring multiplicative quantities (amounts, populations)
    follow Benford closely; strong deviation flags fabricated or
    truncated data — a forensic complement to ``psi_drift``.

    The first digit is extracted from the DOUBLE string rendering
    (first ``[1-9]`` character), NOT via ``floor(log10(x))`` — libm
    log10 of exact powers of ten lands a hair below the integer on
    some platforms, misclassifying 1000 as digit 10.  Shortest-
    round-trip double rendering (Java/Ryu; DuckDB prints the same
    leading digits) switches to scientific notation for extreme
    magnitudes, so tiny values (|x| < 1e-6) keep their true first
    digit instead of rounding into a fixed decimal scale, and huge
    values (|x| >= 1e32) never overflow a decimal cast under ANSI
    mode.  Zero and NULL values drop out (they have no first
    significant digit); negatives audit by magnitude.

    One projection + one 9-group hash aggregate; the Benford expected
    table is a broadcast literal frame.
    """
    digit_s = F.regexp_extract(
        F.col(column).cast("double").cast("string"), "[1-9]", 0
    )
    counted = (
        df.filter(F.col(column).isNotNull())
        .select(digit_s.alias("_d"))
        .filter(F.col("_d") != "")
        .groupBy(F.col("_d").cast("int").alias("digit"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    expected = spark.createDataFrame(
        [(d, _BENFORD_P[d]) for d in range(1, 10)],
        "digit int, expected_p double",
    )
    full = (
        expected.join(counted, "digit", "left")
        .fillna(0, subset=["n"])
    )
    w_all = Window.partitionBy()
    tot = F.sum("n").over(w_all).cast("double")
    obs_p = F.col("n") / tot
    term = (
        (F.col("n") - F.col("expected_p") * tot) ** 2
        / (F.col("expected_p") * tot)
    )
    return (
        full.select(
            "digit",
            F.col("n").cast("long").alias("n"),
            obs_p.alias("observed_p"),
            "expected_p",
            term.alias("_term"),
        )
        .withColumn("chi2", F.sum("_term").over(w_all))
        .drop("_term")
    )


def chi_square_independence(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Pearson chi-squared test of independence between two
    CATEGORICAL columns: one row ``(x_col, y_col, chi2, dof, n_rows,
    cramers_v)`` — the categorical twin of ``mutual_information``
    (use that for binned numerics).  ``cramers_v`` normalizes chi² to
    [0, 1] (``sqrt(chi2 / (n * min(r-1, c-1)))``) so effect sizes
    compare across tables; a 1×k or k×1 table has no freedom —
    ``dof = 0, chi2 = 0, cramers_v = NULL``.  NULL in either column
    excludes the row.

    Plan: ONE joint-count hash aggregate over the data (map-side
    combined, at most |x-levels|·|y-levels| groups); marginals,
    expected counts, and the fold all derive from that small table —
    never a second data scan.  Levels are data-derived, so the
    operator never needs a vocabulary argument.
    """
    x, y = F.col(x_col), F.col(y_col)
    joint = (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("_x"), y.alias("_y"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mx = joint.groupBy("_x").agg(F.sum("n").alias("nx"))
    my = joint.groupBy("_y").agg(F.sum("n").alias("ny"))
    tot = joint.agg(
        F.sum("n").cast("double").alias("_t"),
        F.countDistinct("_x").cast("long").alias("_r"),
        F.countDistinct("_y").cast("long").alias("_c"),
    )
    # expected cell counts exist for the FULL r x c grid; absent joint
    # cells still contribute (0 - e)^2/e = e, so chi2 folds as
    # sum_present((n - e)^2/e - e) + sum_full(e), and sum_full(e) = t
    present = (
        joint.join(mx, "_x")
        .join(my, "_y")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                (F.col("n") - F.col("nx") * F.col("ny") / F.col("_t"))
                ** 2
                / (F.col("nx") * F.col("ny") / F.col("_t"))
                - F.col("nx") * F.col("ny") / F.col("_t")
            ).alias("_term")
        )
        .agg(F.coalesce(F.sum("_term"), F.lit(0.0)).alias("_partial"))
    )
    dof = (F.col("_r") - 1) * (F.col("_c") - 1)
    chi2 = F.when(dof > 0, F.col("_partial") + F.col("_t")).otherwise(
        F.lit(0.0)
    )
    v = F.when(
        dof > 0,
        F.sqrt(
            chi2
            / (
                F.col("_t")
                * F.least(F.col("_r") - 1, F.col("_c") - 1)
            )
        ),
    )
    return (
        present.crossJoin(F.broadcast(tot))
        .select(
            F.lit(x_col).alias("x_col"),
            F.lit(y_col).alias("y_col"),
            chi2.alias("chi2"),
            dof.cast("long").alias("dof"),
            F.col("_t").cast("long").alias("n_rows"),
            v.alias("cramers_v"),
        )
    )


def ks_test(
    a: DataFrame,
    b: DataFrame,
    column: str,
    n_terms: int = 100,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov test: one row ``(ks_stat, p_value,
    n_a, n_b)`` where ``ks_stat = sup_x |F_a(x) − F_b(x)|`` over the
    empirical CDFs and ``p_value`` is the asymptotic Kolmogorov Q
    series (``2·Σ_{k≥1} (−1)^{k−1} e^{−2k²λ²}``, ``λ = D·(√n_eff +
    0.12 + 0.11/√n_eff)``, truncated at ``n_terms`` — the standard
    Numerical-Recipes approximation).  The distribution-free complement
    to ``psi_drift``: PSI needs a bin count, KS does not, so it is the
    right first look at "did this column's distribution move between
    snapshots?".  NULLs are excluded per side; an empty side has no
    CDF → all-NULL stats with the counts reported.

    Plan — the CDF difference only changes at data points, so the sup
    is a max over the DISTINCT-value table (usually ≪ the input):

    1. one union + hash aggregate: per distinct value, counts from
       each side (map-side combined);
    2. the running totals are a ``ranges.prefix_scan`` over the value
       order — never a single-partition window;
    3. the 1-row result materializes eagerly and the scan's checkpoint
       is released before returning (the returned frame is a
       driver-side literal — nothing stays cached).
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
        {"_fa": ("sum", F.col("_ca")), "_fb": ("sum", F.col("_cb"))},
        totals={"_na": ("sum", F.col("_ca")), "_nb": ("sum", F.col("_cb"))},
    )
    diffs = scan.select(
        # ANSI guard: an empty side (count 0) must yield NULL, not a
        # divide-by-zero job kill
        F.when(
            (F.col("_na") > 0) & (F.col("_nb") > 0),
            F.abs(
                F.col("_fa").cast("double") / F.col("_na").cast("double")
                - F.col("_fb").cast("double") / F.col("_nb").cast("double")
            ),
        ).alias("_d"),
        "_na",
        "_nb",
    )
    row = diffs.agg(
        F.max("_d").alias("d"),
        F.max("_na").alias("na"),
        F.max("_nb").alias("nb"),
    ).collect()[0]
    scan.unpersist()
    # counts must be exact even when both sides are empty (the diffs
    # frame is then empty and the aggregate row is all-NULL)
    n_a = int(row.na) if row.na is not None else int(va.count())
    n_b = int(row.nb) if row.nb is not None else int(vb.count())

    d = float(row.d) if row.d is not None else None
    p = None
    if d is not None and n_a > 0 and n_b > 0:
        import math

        ne = math.sqrt(n_a * n_b / float(n_a + n_b))
        lam = (ne + 0.12 + 0.11 / ne) * d
        if lam < 1e-8:
            # the alternating series does not converge at lambda ~ 0;
            # the limit is exactly 1 (identical distributions)
            p = 1.0
        else:
            acc = 0.0
            for k in range(1, n_terms + 1):
                acc += (-1.0) ** (k - 1) * math.exp(
                    -2.0 * k * k * lam * lam
                )
            p = min(max(2.0 * acc, 0.0), 1.0)
    spark = a.sparkSession
    return spark.createDataFrame(
        [
            (
                round(d, 6) if d is not None else None,
                round(p, 6) if p is not None else None,
                n_a,
                n_b,
            )
        ],
        "ks_stat double, p_value double, n_a long, n_b long",
    )


def correlation_matrix(
    df: DataFrame,
    columns: Sequence[str],
) -> DataFrame:
    """All pairwise Pearson correlations of ``columns`` in ONE
    aggregate pass: long-form ``(col_x, col_y, corr, n_rows)`` for
    every unordered pair (x < y by position), the feature-redundancy
    screen run before training-data export.

    Every pair's correlation derives from the shared power sums —
    k columns need k sums, k squares, and k(k−1)/2 cross-products,
    ALL collected in a single map-side-combined hash aggregate (one
    corpus scan for any k, same contract as ``validate``/
    ``profile_columns``).  The fold is the guarded closed form from
    ``grouped_ols``: a zero-variance column yields NULL against
    everything (never the ANSI divide-by-zero crash that makes
    ``F.corr`` unusable here), and the result hashes identically
    across engines.

    NULL handling is LISTWISE deletion (a row with NULL in ANY of the
    columns is excluded everywhere) so all pairs share one n and the
    matrix stays positive semi-definite; use ``mutual_information``
    or per-pair ``grouped_ols`` when pairwise deletion is wanted.
    """
    cols = list(columns)
    if len(cols) < 2:
        raise ValueError("correlation_matrix: need at least two columns")
    vals = [F.col(c).cast("double") for c in cols]
    cond = vals[0].isNotNull()
    for v in vals[1:]:
        cond = cond & v.isNotNull()
    base = df.filter(cond)
    exprs = [F.count(F.lit(1)).cast("double").alias("_n")]
    for i, v in enumerate(vals):
        exprs.append(F.sum(v).alias(f"_s{i}"))
        exprs.append(F.sum(v * v).alias(f"_q{i}"))
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            exprs.append(F.sum(vals[i] * vals[j]).alias(f"_x{i}_{j}"))
    row = base.agg(*exprs)

    n = F.col("_n")
    parts = []
    for i in range(len(cols)):
        for j in range(i + 1, len(cols)):
            dx = n * F.col(f"_q{i}") - F.col(f"_s{i}") * F.col(f"_s{i}")
            dy = n * F.col(f"_q{j}") - F.col(f"_s{j}") * F.col(f"_s{j}")
            cv = n * F.col(f"_x{i}_{j}") - F.col(f"_s{i}") * F.col(f"_s{j}")
            corr = F.when(
                (dx > 0) & (dy > 0), cv / F.sqrt(dx * dy)
            )
            parts.append(
                F.struct(
                    F.lit(cols[i]).alias("col_x"),
                    F.lit(cols[j]).alias("col_y"),
                    F.round(corr, 6).alias("corr"),
                    n.cast("long").alias("n_rows"),
                )
            )
    return row.select(F.explode(F.array(*parts)).alias("_r")).select(
        "_r.*"
    )


def cohen_kappa(
    df: DataFrame,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Cohen's kappa inter-rater agreement: one row ``(n, observed_agreement,
    expected_agreement, kappa)`` — chance-corrected agreement between
    two categorical labelings of the same items.  The standard QA
    metric when two annotators (or two LLM judges, or judge-vs-human)
    label the same sample: raw agreement flatters skewed label
    distributions; kappa subtracts the agreement two independent
    raters would reach by luck (``κ = (p_o − p_e)/(1 − p_e)``).

    Plan: ONE joint-count hash aggregate over (label_a, label_b) —
    the contingency table, at most |labels|² rows — then marginals
    and the fold on that small table, never a second data scan (the
    ``chi_square_independence`` shape).  Rows with NULL in either
    column are excluded.  Perfect chance-agreement (p_e = 1: both
    raters constant and equal) leaves kappa undefined → NULL.
    """
    a = F.col(rater_a_col)
    b = F.col(rater_b_col)
    joint = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(a.alias("_a"), b.alias("_b"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    tot = joint.agg(F.sum("_c").cast("double").alias("_n"))
    po = (
        joint.filter(F.col("_a") == F.col("_b"))
        .agg(F.coalesce(F.sum("_c"), F.lit(0)).cast("double").alias("_ag"))
    )
    ma = joint.groupBy("_a").agg(F.sum("_c").alias("_ca"))
    mb = joint.groupBy("_b").agg(F.sum("_c").alias("_cb"))
    pe = (
        ma.join(mb, ma["_a"] == mb["_b"])
        .crossJoin(F.broadcast(tot))
        .agg(
            F.coalesce(
                F.sum(
                    F.col("_ca").cast("double")
                    * F.col("_cb").cast("double")
                    / (F.col("_n") * F.col("_n"))
                ),
                F.lit(0.0),
            ).alias("_pe")
        )
    )
    out = (
        tot.crossJoin(F.broadcast(po))
        .crossJoin(F.broadcast(pe))
        .select(
            F.col("_n").cast("long").alias("n"),
            F.when(F.col("_n") > 0, F.col("_ag") / F.col("_n")).alias(
                "_po"
            ),
            F.col("_pe"),
        )
    )
    kappa = F.when(
        (F.col("_pe") < 1.0) & F.col("_po").isNotNull(),
        (F.col("_po") - F.col("_pe")) / (F.lit(1.0) - F.col("_pe")),
    )
    return out.select(
        "n",
        F.round("_po", 6).alias("observed_agreement"),
        F.round("_pe", 6).alias("expected_agreement"),
        F.round(kappa, 6).alias("kappa"),
    )


def profile_diff(
    before: DataFrame,
    after: DataFrame,
    columns: Sequence[str],
    completeness_tol: float = 0.05,
    distinct_ratio_tol: float = 0.5,
    mean_shift_sigmas: float = 3.0,
) -> DataFrame:
    """Release-over-release profile drift report: per column,
    ``(column, n_before, n_after, null_ratio_before/after,
    distinct_before/after, mean_before/after, mean_z, flags)`` where
    ``flags`` names every tripped alarm:

    - ``completeness``  — null ratio moved more than ``completeness_tol``
      (absolute);
    - ``cardinality``   — distinct count changed by more than
      ``distinct_ratio_tol`` relative to before;
    - ``mean_shift``    — the mean moved more than
      ``mean_shift_sigmas`` standard errors (Welch denominator);
      numeric columns only.

    The "did the new export break something?" gate a pipeline runs on
    every snapshot BEFORE the expensive distributional tests
    (``psi_drift`` / ``ks_test`` dig into columns this report flags).
    One ``profile_columns``-shaped aggregate pass PER SIDE — two data
    scans total for any column count — plus a |columns|-row join.
    """
    cols = list(columns)
    if not cols:
        raise ValueError("profile_diff: columns must be non-empty")

    def _side(df: DataFrame, tag: str) -> DataFrame:
        numeric = {
            f.name
            for f in df.schema.fields
            if f.dataType.typeName()
            in ("integer", "long", "double", "float", "short", "decimal")
        }
        exprs: list[Column] = [F.count("*").alias("_n")]
        for c in cols:
            col = F.col(c)
            exprs.append(
                F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(
                    f"_null_{c}"
                )
            )
            exprs.append(F.countDistinct(col).alias(f"_dist_{c}"))
            if c in numeric:
                exprs.append(
                    F.avg(col.cast("double")).alias(f"_mean_{c}")
                )
                exprs.append(
                    F.var_samp(col.cast("double")).alias(f"_var_{c}")
                )
        row = df.agg(*exprs)
        parts = []
        for c in cols:
            mean = (
                F.col(f"_mean_{c}")
                if c in numeric
                else F.lit(None).cast("double")
            )
            var = (
                F.col(f"_var_{c}")
                if c in numeric
                else F.lit(None).cast("double")
            )
            parts.append(
                F.struct(
                    F.lit(c).alias("column"),
                    F.col("_n").cast("long").alias(f"n_{tag}"),
                    F.col(f"_null_{c}").cast("long").alias(
                        f"nulls_{tag}"
                    ),
                    F.col(f"_dist_{c}").cast("long").alias(
                        f"distinct_{tag}"
                    ),
                    mean.alias(f"mean_{tag}"),
                    var.alias(f"var_{tag}"),
                )
            )
        return row.select(
            F.explode(F.array(*parts)).alias("_r")
        ).select("_r.*")

    b = _side(before, "before")
    a = _side(after, "after")
    j = b.join(a, "column")
    nb = F.col("n_before").cast("double")
    na = F.col("n_after").cast("double")
    null_rb = F.when(nb > 0, F.col("nulls_before") / nb)
    null_ra = F.when(na > 0, F.col("nulls_after") / na)
    comp_flag = (
        F.abs(F.coalesce(null_ra, F.lit(0.0)) - F.coalesce(null_rb, F.lit(0.0)))
        > F.lit(float(completeness_tol))
    )
    card_flag = F.when(
        F.col("distinct_before") > 0,
        F.abs(
            F.col("distinct_after").cast("double")
            - F.col("distinct_before").cast("double")
        )
        / F.col("distinct_before").cast("double")
        > F.lit(float(distinct_ratio_tol)),
    ).otherwise(F.col("distinct_after") > 0)
    se2 = F.col("var_before") / nb + F.col("var_after") / na
    mean_z = F.when(
        F.col("mean_before").isNotNull()
        & F.col("mean_after").isNotNull()
        & (se2 > 0),
        (F.col("mean_after") - F.col("mean_before")) / F.sqrt(se2),
    )
    mean_flag = F.coalesce(
        F.abs(mean_z) > F.lit(float(mean_shift_sigmas)), F.lit(False)
    )
    flags = F.concat_ws(
        ",",
        F.when(comp_flag, F.lit("completeness")),
        F.when(card_flag, F.lit("cardinality")),
        F.when(mean_flag, F.lit("mean_shift")),
    )
    return j.select(
        "column",
        "n_before",
        "n_after",
        F.round(null_rb, 6).alias("null_ratio_before"),
        F.round(null_ra, 6).alias("null_ratio_after"),
        "distinct_before",
        "distinct_after",
        F.round("mean_before", 6).alias("mean_before"),
        F.round("mean_after", 6).alias("mean_after"),
        F.round(mean_z, 6).alias("mean_z"),
        flags.alias("flags"),
    )


def fdr_correct(
    df: DataFrame,
    p_col: str,
    alpha: float = 0.05,
    id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a battery of p-values:
    input one row per test, output the same rows plus ``(rank,
    bh_threshold, discovery)`` — ``discovery`` marks every test whose
    p ≤ (rank/m)·alpha for the LARGEST such rank (the BH step-up
    rule).  The missing last step of any drift battery: run
    ``ks_test``/``chi_square``/``psi_drift`` over 500 columns and 25
    of them "fail" at 0.05 by luck alone; BH keeps the expected
    false-discovery RATE at alpha instead.

    Input contract: the battery table is SMALL (one row per test —
    hundreds, not billions), so the rank is one window over a
    |tests|-row frame — by-design tiny, same class as ``validate``'s
    report.  NULL p-values are excluded from ranking (reported with
    NULL rank, never a discovery).  Ties in p share the standard
    competition order (deterministic: tie-broken by ``id_cols`` when
    given, else by p alone — equal p's get adjacent ranks in id
    order and the step-up rule makes the outcome order-independent).
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError("fdr_correct: alpha must be in (0, 1)")
    id_cols = list(id_cols or [])
    p = F.col(p_col).cast("double")
    scored = df.withColumn("_p", p)
    ranked = scored.filter(F.col("_p").isNotNull())
    order = [F.col("_p").asc()] + [F.col(c).asc() for c in id_cols]
    w = Window.orderBy(*order)
    m = ranked.count()
    ranked = ranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).withColumn(
        "bh_threshold",
        F.round(
            F.col("rank").cast("double") / F.lit(float(m)) * alpha, 9
        ),
    )
    # BH step-up: the largest rank k with p_(k) <= k/m*alpha marks
    # every test ranked <= k a discovery — a suffix-max over the tiny
    # ranked frame
    w_suffix = Window.orderBy(F.col("rank").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = ranked.withColumn(
        "_kmax",
        F.max(
            F.when(
                F.col("_p") <= F.col("bh_threshold"), F.col("rank")
            )
        ).over(w_suffix),
    ).withColumn(
        "discovery",
        F.coalesce(F.col("rank") <= F.col("_kmax"), F.lit(False)),
    )
    nulls = scored.filter(F.col("_p").isNull()).select(
        "*",
        F.lit(None).cast("long").alias("rank"),
        F.lit(None).cast("double").alias("bh_threshold"),
        F.lit(False).alias("discovery"),
    )
    return ranked.drop("_kmax").unionByName(nulls).drop("_p")


def dataset_fingerprint(
    df: DataFrame,
    columns: Sequence[str] | None = None,
) -> DataFrame:
    """Order-independent content fingerprint of a dataset: one row
    ``(n_rows, xor_fingerprint, sum_fingerprint)`` where each row
    contributes the 60-bit md5 of its canonical string rendering and
    the rows combine with XOR and with wrap-free SUM (two independent
    algebras — a collision must fool both).  The cheap "are these two
    copies of the table identical?" check across replications,
    migrations, or engines: no sort, no join, one hash aggregate with
    map-side combine — and because XOR/SUM are commutative, the
    fingerprint is invariant to partitioning and row order by
    construction.

    Canonical rendering: values cast to string, NULL encoded as the
    literal ``\\N`` (distinct from the string "null"), joined with
    the unit separator \\x1f.  Column LIST order matters (it is part
    of the schema contract); pass ``columns`` to fingerprint a
    projection.  Duplicate rows matter too — a row appearing twice
    XORs itself out of the first algebra but not out of SUM, which is
    why both are reported.
    """
    cols = list(columns) if columns else df.columns
    rendered = F.concat_ws(
        "\x1f",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("\\N"))
            for c in cols
        ],
    )
    h = F.conv(F.substring(F.md5(rendered), 1, 15), 16, 10).cast("long")
    staged = df.select(h.alias("_h"))
    # SUM in decimal(38,0): a long sum of 60-bit row hashes overflows
    # (and ANSI-throws) after a handful of rows; decimal holds ~1e20
    # rows' worth exactly, and the final mod 2^40 is taken once
    return staged.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.coalesce(F.expr("bit_xor(_h)"), F.lit(0))
        .cast("long")
        .alias("xor_fingerprint"),
        F.coalesce(
            F.expr(
                "cast(sum(cast(_h as decimal(38,0)))"
                f" % {1 << 40} as bigint)"
            ),
            F.lit(0),
        ).alias("sum_fingerprint"),
    )


def psi_categorical(
    reference: DataFrame,
    current: DataFrame,
    column: str,
    eps: float = 1e-6,
) -> DataFrame:
    """Population-stability index for a CATEGORICAL column — the
    missing half of ``psi_drift`` (which bins numerics): one row
    ``(column, n_categories, psi)`` with

        psi = Σ_cat (p_cur − p_ref) · ln(p_cur / p_ref)

    over the UNION of both sides' categories (a category present in
    only one snapshot is exactly the drift signal, not a join
    casualty — the full outer join keeps it and the ``eps`` floor
    keeps its ln finite).  NULL is a category (null-safe grouping);
    same rule-of-thumb bands as ``psi_drift``.

    Plan: one hash aggregate per side (map-side combined, exchange =
    |categories| rows), a full outer join on the category, one fold —
    data-sized work is the two scans, everything after is
    category-cardinality-sized.
    """
    def side(df: DataFrame, name: str) -> DataFrame:
        per = df.groupBy(F.col(column).alias("_cat")).agg(
            F.count(F.lit(1)).alias(f"_c_{name}")
        )
        tot = per.agg(F.sum(f"_c_{name}").alias(f"_t_{name}"))
        return per.crossJoin(F.broadcast(tot))

    r = side(reference, "ref")
    c = side(current, "cur")
    joined = r.join(c, r["_cat"].eqNullSafe(c["_cat"]), "full").select(
        F.coalesce(r["_cat"], c["_cat"]).alias("_cat"),
        F.coalesce(F.col("_c_ref"), F.lit(0)).alias("_cr"),
        F.coalesce(F.col("_c_cur"), F.lit(0)).alias("_cc"),
        F.col("_t_ref"),
        F.col("_t_cur"),
    )
    # totals land NULL on outer-joined rows missing that side — carry
    # them in via a max fold (both totals are constants per frame)
    tr = F.max("_t_ref")
    tc = F.max("_t_cur")
    e = F.lit(float(eps))
    folded = joined.agg(
        F.count(F.lit(1)).alias("n_categories"),
        F.collect_list(F.struct("_cr", "_cc")).alias("_cells"),
        tr.alias("_tr"),
        tc.alias("_tc"),
    )
    p_ref = lambda s: F.greatest(  # noqa: E731
        s["_cr"].cast("double") / F.col("_tr").cast("double"), e
    )
    p_cur = lambda s: F.greatest(  # noqa: E731
        s["_cc"].cast("double") / F.col("_tc").cast("double"), e
    )
    psi = F.aggregate(
        F.col("_cells"),
        F.lit(0.0),
        lambda acc, s: acc
        + (p_cur(s) - p_ref(s)) * F.log(p_cur(s) / p_ref(s)),
    )
    return folded.select(
        F.lit(column).alias("column"),
        F.col("n_categories").cast("long").alias("n_categories"),
        F.round(psi, 6).alias("psi"),
    )


def distribution_distance(
    df_a: DataFrame,
    df_b: DataFrame,
    category_col: str,
) -> DataFrame:
    """Distances between two CATEGORICAL distributions, one row
    ``(n_a, n_b, n_categories, jsd, hellinger, tvd)`` — the drift
    triptych ``psi_categorical`` cannot give you when zero cells
    appear (PSI's log-ratio blows up; all three of these stay finite):

    - JSD: Jensen–Shannon divergence, log base 2 → bounded [0, 1];
    - Hellinger: sqrt(1 − Σ√(p·q)) / ... computed as
      sqrt(Σ(√p − √q)²/2), bounded [0, 1];
    - TVD: total variation Σ|p − q|/2, bounded [0, 1] — the
      "probability mass you'd have to move".

    Plan: one hash aggregate per side to category rollups (category-
    sized), a full outer join of the two rollups (zero cells appear as
    0 on the missing side), a 1-row totals broadcast, one fold.
    Integer counts → exact probabilities before the only float math.
    NULL categories drop.
    """
    ca = (
        df_a.filter(F.col(category_col).isNotNull())
        .groupBy(F.col(category_col).alias("_c"))
        .agg(F.count(F.lit(1)).alias("_na"))
    )
    cb = (
        df_b.filter(F.col(category_col).isNotNull())
        .groupBy(F.col(category_col).alias("_c"))
        .agg(F.count(F.lit(1)).alias("_nb"))
    )
    cells = (
        ca.join(cb, "_c", "full_outer")
        .withColumn("_na", F.coalesce(F.col("_na"), F.lit(0)))
        .withColumn("_nb", F.coalesce(F.col("_nb"), F.lit(0)))
    )
    tot = cells.agg(
        F.sum("_na").alias("_ta"), F.sum("_nb").alias("_tb")
    )
    staged = cells.crossJoin(F.broadcast(tot))
    # ANSI guard: an EMPTY side (ta/tb = 0) must yield NULL distances,
    # not a divide-by-zero — the per-cell ratios are guarded here and
    # the final select nulls the distances when either side is empty
    p = F.when(
        F.col("_ta") > 0,
        F.col("_na").cast("double") / F.col("_ta").cast("double"),
    ).otherwise(F.lit(0.0))
    q = F.when(
        F.col("_tb") > 0,
        F.col("_nb").cast("double") / F.col("_tb").cast("double"),
    ).otherwise(F.lit(0.0))
    m = (p + q) / 2.0
    kl_pm = F.when(p > 0, p * F.log2(p / m)).otherwise(F.lit(0.0))
    kl_qm = F.when(q > 0, q * F.log2(q / m)).otherwise(F.lit(0.0))
    folded = staged.agg(
        F.max("_ta").cast("long").alias("n_a"),
        F.max("_tb").cast("long").alias("n_b"),
        F.count(F.lit(1)).cast("long").alias("n_categories"),
        ((F.sum(kl_pm) + F.sum(kl_qm)) / 2.0).alias("_jsd"),
        F.sum(
            (F.sqrt(p) - F.sqrt(q)) * (F.sqrt(p) - F.sqrt(q))
        ).alias("_h2"),
        (F.sum(F.abs(p - q)) / 2.0).alias("_tvd"),
    )
    ok = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return folded.select(
        "n_a",
        "n_b",
        "n_categories",
        F.round(F.when(ok, F.col("_jsd")), 6).alias("jsd"),
        F.round(F.when(ok, F.sqrt(F.col("_h2") / 2.0)), 6).alias(
            "hellinger"
        ),
        F.round(F.when(ok, F.col("_tvd")), 6).alias("tvd"),
    )


def dataset_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level reconciliation between two dataset versions:
    ``(metric, n)`` — ``added`` / ``removed`` / ``changed`` /
    ``unchanged`` row counts plus ``col_changed:<col>`` per compared
    column.  The release gate that tells you WHAT an incremental
    rebuild actually did before you ship it ("why did 4% of prices
    change?") — ``release_drift`` compares distributions, this
    compares rows.

    Keys must be unique per side (it raises loudly on duplicate keys
    — a diff over non-keys silently double-counts).  Column equality
    is NULL-safe (NULL = NULL is unchanged, NULL→value is a change).
    ``compare_cols`` defaults to every shared non-key column.

    Plan: ONE full-outer hash join on the key (the data-sized
    exchange) with every comparison folded into a single conditional-
    sum aggregate — map-side combined, output is metric-sized.  The
    duplicate-key guard is two up-front count/count-distinct folds
    (one per side, map-side combined) — an explicit, bounded price
    for never silently double-counting.
    """
    if not key_cols:
        raise ValueError("dataset_diff: need at least one key column")
    shared = [
        c
        for c in old.columns
        if c in set(new.columns) and c not in set(key_cols)
    ]
    cols = compare_cols if compare_cols is not None else shared
    for c in cols:
        if c not in old.columns or c not in new.columns:
            raise ValueError(f"dataset_diff: column {c!r} not on both sides")
    o = old.select(
        *[F.col(k).alias(f"_k_{k}") for k in key_cols],
        *[F.col(c).alias(f"_o_{c}") for c in cols],
        F.lit(1).alias("_po"),
    )
    n = new.select(
        *[F.col(k).alias(f"_nk_{k}") for k in key_cols],
        *[F.col(c).alias(f"_n_{c}") for c in cols],
        F.lit(1).alias("_pn"),
    )
    # loud duplicate-key guard: count vs distinct-key count per side
    for side, frame, kcols in (
        ("old", o, [f"_k_{k}" for k in key_cols]),
        ("new", n, [f"_nk_{k}" for k in key_cols]),
    ):
        head = frame.agg(
            F.count(F.lit(1)).alias("_r"),
            F.count_distinct(*[F.col(k) for k in kcols]).alias("_d"),
        ).collect()[0]
        if head["_r"] != head["_d"]:
            raise ValueError(
                f"dataset_diff: duplicate keys on the {side} side "
                f"({head['_r']} rows, {head['_d']} distinct keys)"
            )
    cond = [
        o[f"_k_{k}"].eqNullSafe(n[f"_nk_{k}"]) for k in key_cols
    ]
    j = o.join(n, cond, "full_outer")
    in_old = F.col("_po").isNotNull()
    in_new = F.col("_pn").isNotNull()
    col_diff = [
        (~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))).alias(f"_ch_{c}")
        for c in cols
    ]
    staged = j.select(in_old.alias("_io"), in_new.alias("_in"), *col_diff)
    any_change = None
    for c in cols:
        term = F.col(f"_ch_{c}")
        any_change = term if any_change is None else (any_change | term)
    if any_change is None:
        any_change = F.lit(False)
    aggs = [
        F.sum((F.col("_in") & ~F.col("_io")).cast("long")).alias("added"),
        F.sum((F.col("_io") & ~F.col("_in")).cast("long")).alias("removed"),
        F.sum(
            (F.col("_io") & F.col("_in") & any_change).cast("long")
        ).alias("changed"),
        F.sum(
            (F.col("_io") & F.col("_in") & ~any_change).cast("long")
        ).alias("unchanged"),
    ] + [
        F.sum(
            (F.col("_io") & F.col("_in") & F.col(f"_ch_{c}")).cast("long")
        ).alias(f"col_changed:{c}")
        for c in cols
    ]
    wide = staged.agg(*aggs)
    names = ["added", "removed", "changed", "unchanged"] + [
        f"col_changed:{c}" for c in cols
    ]
    stack = ", ".join(f"'{m}', `{m}`" for m in names)
    return wide.selectExpr(
        f"stack({len(names)}, {stack}) as (metric, n)"
    )


def expectations_report(
    df: DataFrame,
    rules: list[tuple[str, str, Column]],
) -> DataFrame:
    """Declarative data-quality gate: ``(rule, column, n_rows,
    n_violations, pass_rate)`` — each rule is ``(name, column,
    predicate_column)`` where the predicate is TRUE for conforming
    rows (build them with the ``expect_*`` helpers below or any
    Column).  The generic expectations runner over the engine's
    specific audits (``fk_integrity`` checks keys, ``release_drift``
    checks distributions; this checks whatever the pipeline owner
    declares).

    ALL rules fold into ONE conditional-sum aggregate — one data
    pass, map-side combined, output is rules-sized.  NULL predicate
    results count as violations (an expectation that cannot evaluate
    did not pass).
    """
    if not rules:
        raise ValueError("expectations_report: need at least one rule")
    aggs = [F.count(F.lit(1)).alias("_n")]
    for i, (_, _, pred) in enumerate(rules):
        aggs.append(
            F.sum(
                (~F.coalesce(pred, F.lit(False))).cast("long")
            ).alias(f"_v{i}")
        )
    wide = df.agg(*aggs)
    parts = ", ".join(
        f"'{name}', '{col}', `_v{i}`"
        for i, (name, col, _) in enumerate(rules)
    )
    long = wide.selectExpr(
        "_n",
        f"stack({len(rules)}, {parts}) as (rule, column, n_violations)",
    )
    return long.select(
        "rule",
        "column",
        F.col("_n").alias("n_rows"),
        "n_violations",
        F.round(
            F.lit(1.0)
            - F.col("n_violations").cast("double")
            / F.greatest(F.col("_n"), F.lit(1)).cast("double"),
            6,
        ).alias("pass_rate"),
    )


def expect_not_null(col: str) -> tuple[str, str, Column]:
    return ("not_null", col, F.col(col).isNotNull())


def expect_in_range(
    col: str, lo: float, hi: float
) -> tuple[str, str, Column]:
    c = F.col(col).cast("double")
    return ("in_range", col, (c >= lo) & (c <= hi))


def expect_in_set(col: str, values: list) -> tuple[str, str, Column]:
    return ("in_set", col, F.col(col).isin(values))


def expect_matches(col: str, pattern: str) -> tuple[str, str, Column]:
    return ("matches", col, F.col(col).cast("string").rlike(pattern))


def expect_positive(col: str) -> tuple[str, str, Column]:
    return ("positive", col, F.col(col).cast("double") > 0)


def g_test_independence(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """G-test (log-likelihood ratio) of independence between two
    CATEGORICAL columns: one row ``(x_col, y_col, g_stat, dof,
    n_rows, p_value, significant)`` — the information-theoretic twin
    of ``chi_square_independence`` (``G = 2·Σ O·ln(O/E)`` = 2N·MI in
    nats); preferred over Pearson χ² when any O/E ratio is far from
    1, where the quadratic approximation under-counts evidence.
    Absent joint cells contribute 0 (O·ln(O/E) → 0 as O → 0), so —
    unlike χ² — only PRESENT cells enter the fold.  A 1×k or k×1
    table has no freedom: ``dof = 0, g_stat = 0, p = NULL``.  NULL in
    either column excludes the row.  p-value is the upper-tail
    χ²(dof) via Wilson–Hilferty + the A&S erf polynomial (the
    ``kruskal_wallis`` convention, replayed by the DuckDB twin);
    ``significant`` at 5%.

    Plan: ONE joint-count hash aggregate over the data (map-side
    combined, ≤ |x|·|y| groups); marginals and the fold derive from
    that small table — never a second data scan (the
    ``chi_square_independence`` scheme).
    """
    x, y = F.col(x_col), F.col(y_col)
    joint = (
        df.filter(x.isNotNull() & y.isNotNull())
        .groupBy(x.alias("_x"), y.alias("_y"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    mx = joint.groupBy("_x").agg(F.sum("n").alias("nx"))
    my = joint.groupBy("_y").agg(F.sum("n").alias("ny"))
    tot = joint.agg(
        F.sum("n").cast("double").alias("_t"),
        F.countDistinct("_x").cast("long").alias("_r"),
        F.countDistinct("_y").cast("long").alias("_c"),
    )
    g_partial = (
        joint.join(mx, "_x")
        .join(my, "_y")
        .crossJoin(F.broadcast(tot))
        .select(
            (
                F.col("n").cast("double")
                * F.log(
                    F.col("n").cast("double")
                    * F.col("_t")
                    / (
                        F.col("nx").cast("double")
                        * F.col("ny").cast("double")
                    )
                )
            ).alias("_term")
        )
        .agg(F.coalesce(F.sum("_term"), F.lit(0.0)).alias("_g2"))
    )
    out = g_partial.crossJoin(F.broadcast(tot))
    dof = ((F.col("_r") - 1) * (F.col("_c") - 1)).cast("long")
    g = F.when(dof > 0, F.lit(2.0) * F.col("_g2")).otherwise(
        F.lit(0.0)
    )
    d = dof.cast("double")
    z = F.when(
        (dof > 0) & (g >= 0),
        (
            F.pow(g / d, F.lit(1.0) / F.lit(3.0))
            - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * d))
        )
        / F.sqrt(F.lit(2.0) / (F.lit(9.0) * d)),
    )
    az = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
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
    return out.select(
        F.lit(x_col).alias("x_col"),
        F.lit(y_col).alias("y_col"),
        F.round(g, 6).alias("g_stat"),
        dof.alias("dof"),
        F.col("_t").cast("long").alias("n_rows"),
        F.round(p, 6).alias("p_value"),
        F.when(p.isNotNull(), p < F.lit(0.05)).alias("significant"),
    )


def holm_correct(
    df: DataFrame,
    p_col: str,
    alpha: float = 0.05,
    id_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Holm–Bonferroni step-down over a battery of p-values: the
    FWER companion to ``fdr_correct`` (BH controls the false-
    discovery RATE; Holm controls the chance of ANY false positive —
    the right guardrail when a single wrong "drifted!" page is
    expensive).  Adds ``(rank, holm_threshold, reject)``: reject
    p_(1), p_(2), … while ``p_(i) ≤ alpha/(m−i+1)``, stop at the
    first failure (every later test survives — step-down, so the
    rejection set is a PREFIX of the rank order, unlike BH's
    suffix-max rule).  Uniformly more powerful than plain Bonferroni,
    never less safe.  NULL p-values get NULL rank and reject=False.

    Same input contract and plan as ``fdr_correct``: a |tests|-row
    frame, one ordered window (by-design tiny), deterministic tie
    order via ``id_cols``.
    """
    if not (0.0 < alpha < 1.0):
        raise ValueError("holm_correct: alpha must be in (0, 1)")
    id_cols = list(id_cols or [])
    p = F.col(p_col).cast("double")
    scored = df.withColumn("_p", p)
    ranked = scored.filter(F.col("_p").isNotNull())
    order = [F.col("_p").asc()] + [F.col(c).asc() for c in id_cols]
    w = Window.orderBy(*order)
    m = ranked.count()
    ranked = ranked.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).withColumn(
        "holm_threshold",
        F.round(
            F.lit(float(alpha))
            / (F.lit(float(m)) - F.col("rank") + F.lit(1.0)),
            9,
        ),
    )
    # step-down: the FIRST rank whose p exceeds its threshold kills
    # everything from there on — a prefix-min over the tiny frame
    w_prefix = Window.orderBy(F.col("rank").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    ranked = ranked.withColumn(
        "_kfail",
        F.min(
            F.when(
                F.col("_p") > F.col("holm_threshold"), F.col("rank")
            )
        ).over(w_prefix),
    ).withColumn(
        "reject",
        F.col("_kfail").isNull() | (F.col("rank") < F.col("_kfail")),
    )
    nulls = scored.filter(F.col("_p").isNull()).select(
        "*",
        F.lit(None).cast("long").alias("rank"),
        F.lit(None).cast("double").alias("holm_threshold"),
        F.lit(False).alias("reject"),
    )
    return ranked.drop("_kfail").unionByName(nulls).drop("_p")


def srm_check(
    df: DataFrame,
    arm_col: str,
    expected: dict[str, float],
) -> DataFrame:
    """Sample-ratio-mismatch guardrail for experiments: one row
    ``(k_arms, n, chi2, dof, p_value, srm_detected)`` — a χ²
    goodness-of-fit of the observed assignment counts against the
    DESIGNED split (e.g. 50/50).  SRM is the canonical "your
    experiment infrastructure is broken, stop reading the metrics"
    alarm: even a 0.1% assignment skew invalidates downstream
    effects.  Detection threshold p < 0.001 (the accepted SRM
    convention — far stricter than 0.05, because the test runs on
    every experiment every day).  Arms observed in the data but
    absent from ``expected`` raise loudly (a misconfigured split IS
    the bug being hunted); expected arms with zero observations
    still contribute their full E term.  p is upper-tail χ²(k−1) via
    Wilson–Hilferty + A&S (the ``kruskal_wallis`` convention).

    Plan: ONE count aggregate over the data (map-side combined, ≤ k
    groups) joined to a k-row broadcast literal; 1-row fold after.
    """
    if not expected:
        raise ValueError("srm_check: expected split is empty")
    tot_w = float(sum(expected.values()))
    if tot_w <= 0:
        raise ValueError("srm_check: expected weights must sum > 0")
    spark = df.sparkSession
    exp_df = spark.createDataFrame(
        [(str(k), float(v) / tot_w) for k, v in expected.items()],
        "_arm string, _ratio double",
    )
    obs = (
        df.select(F.col(arm_col).cast("string").alias("_arm"))
        .filter(F.col("_arm").isNotNull())
        .groupBy("_arm")
        .agg(F.count(F.lit(1)).cast("double").alias("_o"))
    )
    unknown = (
        obs.join(F.broadcast(exp_df), "_arm", "left_anti")
        .limit(1)
        .collect()
    )
    if unknown:
        raise ValueError(
            f"srm_check: arm {unknown[0]['_arm']!r} observed in the "
            "data but missing from the expected split"
        )
    joined = exp_df.join(obs, "_arm", "left").select(
        "_arm", "_ratio", F.coalesce(F.col("_o"), F.lit(0.0)).alias("_o")
    )
    # One fold: ratios sum to 1, so χ² = Σ(oᵢ−rᵢN)²/(rᵢN) expands to
    # (Σ oᵢ²/rᵢ)/N − N — no separate job to learn N first.
    folded = joined.agg(
        F.count(F.lit(1)).cast("long").alias("k_arms"),
        F.sum("_o").alias("_n"),
        F.sum(F.col("_o") ** 2 / F.col("_ratio")).alias("_sq"),
    ).select(
        "k_arms",
        "_n",
        F.when(
            F.col("_n") > 0, F.col("_sq") / F.col("_n") - F.col("_n")
        ).alias("_chi2"),
    )
    dof = (F.col("k_arms") - 1).cast("long")
    ok = (dof > 0) & (F.col("_n") > 0)
    chi2 = F.when(ok, F.col("_chi2"))
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
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * az)
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
    return folded.select(
        "k_arms",
        F.col("_n").cast("long").alias("n"),
        F.round(chi2, 6).alias("chi2"),
        dof.alias("dof"),
        F.round(p, 6).alias("p_value"),
        F.when(p.isNotNull(), p < F.lit(0.001)).alias("srm_detected"),
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: Sequence[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Privacy QC before a data release: one row ``(n_rows, n_groups,
    min_group_size, n_violating_groups, n_rows_at_risk,
    k_anonymous[, min_l_diversity, l_diverse])`` over the
    quasi-identifier combination — a dataset is k-anonymous when
    every QI group holds ≥ k rows (smaller groups re-identify
    individuals by joining on the QIs).  With ``sensitive_col``,
    also reports l-diversity (the minimum count of DISTINCT sensitive
    values within any QI group — k-anonymity alone fails when a
    group's sensitive value is constant: membership leaks it).
    NULLs in QI columns form their own group (NULL is itself a
    disclosure — documented); l-diversity counts non-NULL sensitive
    values.

    Plan: ONE (QI...) hash aggregate (map-side combined) + a 1-row
    fold — the report never shuffles data rows twice.
    """
    if not quasi_cols:
        raise ValueError(
            "k_anonymity_report: quasi_cols must be non-empty"
        )
    if k < 2:
        raise ValueError("k_anonymity_report: k must be >= 2")
    aggs = [F.count(F.lit(1)).alias("_n")]
    if sensitive_col is not None:
        aggs.append(
            F.countDistinct(F.col(sensitive_col)).alias("_l")
        )
    groups = df.groupBy(
        *[F.col(c) for c in quasi_cols]
    ).agg(*aggs)
    folds = [
        F.sum("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("_n").cast("long").alias("min_group_size"),
        F.sum((F.col("_n") < k).cast("long")).alias(
            "n_violating_groups"
        ),
        F.sum(F.when(F.col("_n") < k, F.col("_n")).otherwise(0))
        .cast("long")
        .alias("n_rows_at_risk"),
    ]
    if sensitive_col is not None:
        folds.append(F.min("_l").cast("long").alias("min_l_diversity"))
    folded = groups.agg(*folds)
    out = folded.select(
        "*",
        (F.col("n_violating_groups") == 0).alias("k_anonymous"),
    )
    if sensitive_col is not None:
        out = out.select(
            "*",
            (F.col("min_l_diversity") >= 2).alias("l_diverse"),
        )
    return out
