"""Indicator operators — the reference's inter-stage contract.

Contract table: ``(way_id STRING, score DOUBLE, value DOUBLE)`` with
score scaled 0–100 (reference README.md:76-83, scripts/utils/utils.js:111-118).

Operators:

- ``normalize_indicator``  (A1) — score = value / max(value) * 100
  (scripts/indicator-from-prop/indicator-from-prop.js:56-63,
  scripts/utils/utils.js:132-137).
- ``indicator_from_prop``       — project a property column into the
  contract and normalize.
- ``percentile_filter``    (A8) — exact nearest-rank percentile filter
  (scripts/filter-percentile/filter-percentile.js:60-73).
- ``merge_indicators``     (J3) — left-join many indicator tables onto
  the network keyed by way id
  (scripts/merge-indicators/merge-indicators.js:94-125).

Scale notes: ``normalize_indicator`` computes one scalar max and
broadcast-joins it (no windowed max over an unpartitioned Window, which
would funnel 100 TB through one task). ``percentile_filter`` computes
the threshold on the value column only (2 narrow columns through the
sort), then semi-filters the full rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_indicator(
    df: DataFrame, value_col: str, id_col: str = "way_id"
) -> DataFrame:
    """(id, value) → (way_id, value, score) with score = value/max*100."""
    vals = df.select(
        F.col(id_col).alias("way_id"), F.col(value_col).cast("double").alias("value")
    ).filter(~F.isnan(F.col("value")) & F.col("value").isNotNull())
    mx = vals.agg(F.max("value").alias("_max_value"))
    # scalar broadcast join: one row, never a shuffle of the big side
    return (
        vals.crossJoin(F.broadcast(mx))
        .withColumn("score", F.col("value") / F.col("_max_value") * 100.0)
        .drop("_max_value")
    )


def indicator_from_prop(df: DataFrame, prop: str, id_col: str = "NAME") -> DataFrame:
    """Reference ``indicator-from-prop``: property column → indicator table."""
    return normalize_indicator(df, prop, id_col=id_col)


def exact_kth_value(
    df: DataFrame, col: str, k: int, n: int, local_threshold: int = 1_000_000
) -> float:
    """Exact k-th smallest (0-based) of a column of ``df``, whose row
    count ``n`` the caller has already taken, distributed.

    Range-partition on the value (parallel sort), count per partition
    (tiny collect), locate the partition holding rank k driver-side,
    then rank within that one partition only. No global-order window —
    nothing funnels the full column through a single task, so this holds
    at any scale; only one partition's values are ever ranked.
    """
    if k >= n:
        raise IndexError(f"rank {k} out of range (n={n})")
    spark = df.sparkSession
    n_parts = max(2, spark.sparkContext.defaultParallelism)
    vals = df.select(F.col(col).alias("_v"))
    # small-input fast path: below ~1M values the value column fits on
    # the driver comfortably (8 MB) and a local selection beats three
    # Spark jobs; the distributed path takes over beyond that.
    if n <= local_threshold:
        import numpy as np

        arr = np.fromiter((r["_v"] for r in vals.collect()), dtype=float)
        return float(np.partition(arr, k)[k])
    ranged = vals.repartitionByRange(n_parts, F.col("_v"))
    # persist: the count job and the rank job must see the SAME range
    # boundaries (RangePartitioner samples, so a recompute may split
    # differently and invalidate the local rank)
    with_pid = ranged.withColumn("_pid", F.spark_partition_id()).persist()
    w = Window.partitionBy("_pid").orderBy(F.col("_v"))
    try:
        acc = 0
        for pid, cnt in sorted(with_pid.groupBy("_pid").count().collect()):
            if acc + cnt > k:
                target_pid, local_rank = pid, k - acc
                break
            acc += cnt
        else:
            raise IndexError(f"rank {k} out of range (n={acc})")
        hit = (
            with_pid.filter(F.col("_pid") == target_pid)
            .withColumn("_rn", F.row_number().over(w) - 1)
            .filter(F.col("_rn") == local_rank)
            .select("_v")
            .first()
        )
    finally:
        with_pid.unpersist()
    return hit["_v"]


def percentile_filter(
    df: DataFrame, value_col: str, percentile: float, missing_value: float = 0.0
) -> DataFrame:
    """Keep rows whose ``value_col`` >= the exact nearest-rank percentile.

    Reference semantics (filter-percentile.js:60-73): sort ascending with
    missing→0, ``rank = round(p/100·(n−1))`` (half-up), threshold =
    value at that rank, keep ``value >= threshold``.

    The threshold comes from ``exact_kth_value`` — a range-partitioned
    distributed selection, not a global-order window (which would pull
    the whole column through one task at scale).
    """
    vals = df.select(
        F.coalesce(F.col(value_col).cast("double"), F.lit(missing_value)).alias("_v")
    )
    n = vals.count()
    if n == 0:
        return df
    target = int(round(percentile / 100.0 * (n - 1) + 1e-9))
    threshold = exact_kth_value(vals, "_v", target, n)
    return df.filter(
        F.coalesce(F.col(value_col).cast("double"), F.lit(missing_value))
        >= F.lit(threshold)
    )


def merge_indicators(
    network: DataFrame,
    indicators: dict[str, DataFrame],
    network_key: str = "NAME",
) -> DataFrame:
    """Left-join each indicator table onto the network.

    Each indicator DataFrame has the contract schema; its ``score`` and
    ``value`` land as ``<name>Score`` / ``<name>Value`` columns (camelCase
    per merge-indicators.js:85-103). Misses stay null (reference logs
    them; callers can count nulls cheaply).

    Indicator tables are way-level (≤ network size) but not necessarily
    broadcastable at 100 TB — Catalyst/AQE picks broadcast vs sort-merge;
    all joins share the same key so the shuffle partitioning is reused.
    """
    out = network
    for name, ind in indicators.items():
        sel = ind.select(
            F.col("way_id").alias(f"_k_{name}"),
            F.col("score").alias(f"{name}Score"),
            *(
                [F.col("value").alias(f"{name}Value")]
                if "value" in ind.columns
                else []
            ),
        )
        out = out.join(
            sel, on=out[network_key] == sel[f"_k_{name}"], how="left"
        ).drop(f"_k_{name}")
    return out


def missing_indicator_report(
    merged: DataFrame, indicator_names: list[str]
) -> DataFrame:
    """Count network rows that missed each indicator join (anti-join report).

    Reference logs misses row-by-row (merge-indicators.js:110-125); at
    scale this is one aggregate pass.
    """
    aggs = [
        F.count(F.when(F.col(f"{n}Score").isNull(), 1)).alias(f"{n}_missing")
        for n in indicator_names
    ]
    return merged.agg(*aggs)


def weighted_median(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
) -> DataFrame:
    """Weighted median per group: the smallest value whose cumulative
    weight reaches half the group's total — ``(group, weighted_median,
    total_weight)``.  The weighted twin of the reference's
    length-weighted AVERAGE (A5): a median is what you want when the
    indicator distribution has heavy tails (a few very long ways must
    not drag the headline number).  Rows with NULL or non-positive
    weight are excluded; a group with no surviving rows disappears.

    Plan: one per-group window with a RANGE frame on the value (the
    cumulative weight of every row with value <= current — tie-safe by
    construction: equal values share one cumulative count, so the
    answer never depends on their internal order), then a min-filter
    aggregate.  All shuffles hash on the group; no global sort, no
    Python.
    """
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    base = df.filter(
        v.isNotNull() & w.isNotNull() & (w > 0)
    ).select(F.col(group_col).alias("grp"), v.alias("_v"), w.alias("_w"))
    cum = (
        Window.partitionBy("grp")
        .orderBy("_v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("grp")
    marked = base.select(
        "grp",
        "_v",
        F.sum("_w").over(cum).alias("_cw"),
        F.sum("_w").over(tot).alias("_tw"),
    )
    return (
        marked.filter(F.col("_cw") >= F.col("_tw") / 2.0)
        .groupBy("grp")
        .agg(
            F.min("_v").alias("weighted_median"),
            F.first("_tw").alias("total_weight"),
        )
        .withColumnRenamed("grp", group_col)
    )


def weighted_quantiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    weight_col: str,
    probs: list[float],
) -> DataFrame:
    """Weighted quantiles per group: for each ``p`` the smallest value
    whose cumulative weight reaches ``p``·total — ``(group, prob,
    value, total_weight)``.  Generalizes ``weighted_median`` (its
    ``probs=[0.5]``): survey-weighted percentiles, duration-weighted
    p90 speeds, exposure-weighted risk cutoffs.

    Same tie-safe plan as the median — ONE per-group RANGE-frame
    cumulative-weight window (equal values share one cumulative
    count, so the answer never depends on their internal order), then
    a constant-width prob explode and a min-filter aggregate per
    (group, prob).  All shuffles hash on the group key; the explode
    multiplies the rollup by |probs|, not the data.  Rows with NULL
    or non-positive weight are excluded.
    """
    if not probs or not all(0.0 < p <= 1.0 for p in probs):
        raise ValueError(
            "weighted_quantiles: probs must be within (0, 1]"
        )
    v = F.col(value_col).cast("double")
    w = F.col(weight_col).cast("double")
    base = df.filter(
        v.isNotNull() & w.isNotNull() & (w > 0)
    ).select(F.col(group_col).alias("grp"), v.alias("_v"), w.alias("_w"))
    cum = (
        Window.partitionBy("grp")
        .orderBy("_v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = Window.partitionBy("grp")
    marked = base.select(
        "grp",
        "_v",
        F.sum("_w").over(cum).alias("_cw"),
        F.sum("_w").over(tot).alias("_tw"),
    )
    pl = F.explode(
        F.array(*[F.lit(float(p)) for p in sorted(set(probs))])
    ).alias("prob")
    return (
        marked.select("grp", "_v", "_cw", "_tw", pl)
        .filter(F.col("_cw") >= F.col("prob") * F.col("_tw"))
        .groupBy("grp", "prob")
        .agg(
            F.min("_v").alias("value"),
            F.first("_tw").alias("total_weight"),
        )
        .withColumnRenamed("grp", group_col)
    )
