"""Fuzzy (edit-distance) join for entity resolution.

Joining two tables on ALMOST-equal strings (vendor names, addresses,
product titles) is the classic record-linkage problem; the naive form
is an |L|·|R| cross join with a distance predicate — a scale killer.
This operator uses the engine's standard candidate-generation → verify
shape: strings sharing at least one character n-gram meet in an equi
join (near matches at edit distance d share plenty of n-grams — an
edit destroys at most ``gram`` of them), ultra-common n-grams are
dropped under a df cap (a stop-gram like ``'the'`` would otherwise
create a quadratic bucket — same hot-bucket treatment as
``prefix_bucket_candidates``), and survivors verify with the built-in
JVM ``levenshtein`` plus a length-difference pre-filter.

Guaranteed recall bound: a string of length ℓ has ℓ−gram+1 grams and
one edit removes ≤ gram of them, so any pair within ``max_distance``
edits still shares a gram whenever
``min(ℓₗ, ℓᵣ) ≥ gram·(max_distance+1) + gram − 1`` — shorter strings
fall back to a whole-string bucket, so exact short matches are never
lost (near-miss SHORT strings are the documented recall cut; at
``gram=3, d=2`` that means strings under 11 chars).

Everything is JVM column expressions (no UDF); the one heavy exchange
is the gram equi join, bounded by the df cap.

Reference parity: extension operator; public algorithm family:
q-gram filtering for string similarity joins (Gravano et al., VLDB
2001).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["fuzzy_join", "golden_record", "sorted_neighborhood_pairs"]


def _norm(c):
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    left_id: str,
    right_id: str,
    max_distance: int = 2,
    gram: int = 3,
    max_gram_df: int = 1000,
) -> DataFrame:
    """(left_id, right_id, left_val, right_val, distance) for every
    pair within ``max_distance`` edits whose strings share a surviving
    n-gram (see module docstring for the recall bound).  Matching is
    case/whitespace-insensitive; the returned values are the
    normalized forms the distance was computed on."""
    if max_distance < 0:
        raise ValueError("fuzzy_join: max_distance must be >= 0")
    if gram < 2:
        raise ValueError("fuzzy_join: gram must be >= 2")

    def explode_side(df, col, idc, alias):
        s = _norm(F.col(col))
        n = F.length(s)
        # whole-string fallback bucket below the recall bound's length
        grams = F.when(
            n >= gram,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - gram + 1),
                    lambda i: s.substr(i, F.lit(gram)),
                )
            ),
        ).otherwise(F.array(s))
        return df.select(
            F.col(idc).alias(f"{alias}_id"),
            s.alias(f"{alias}_val"),
            F.explode(grams).alias("_g"),
        )

    lg = explode_side(left, left_col, left_id, "left")
    rg = explode_side(right, right_col, right_id, "right")
    # df cap on the union of both sides: one aggregation, broadcast of
    # the (small by construction) stop-gram list
    df_counts = (
        lg.select("_g").unionByName(rg.select("_g"))
        .groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_gram_df)
        .select("_g")
    )
    lg = lg.join(F.broadcast(df_counts), "_g", "left_anti")
    rg = rg.join(F.broadcast(df_counts), "_g", "left_anti")
    pairs = (
        lg.join(rg, "_g")
        .filter(
            F.abs(F.length("left_val") - F.length("right_val"))
            <= max_distance
        )
        .select("left_id", "right_id", "left_val", "right_val")
        .distinct()
    )
    return pairs.withColumn(
        "distance", F.levenshtein("left_val", "right_val")
    ).filter(F.col("distance") <= max_distance)


def golden_record(
    df: DataFrame,
    cluster_col: str,
    ts_col: str | None = None,
    latest: Sequence[str] = (),
    mode: Sequence[str] = (),
    min_of: Sequence[str] = (),
    max_of: Sequence[str] = (),
) -> DataFrame:
    """Survivorship merge: collapse each duplicate cluster (the output
    of ``fuzzy_join`` + ``connected_components``, or any cluster id)
    into ONE golden record, field by field:

    - ``latest``: the field value from the most recent row WHERE THAT
      FIELD IS NON-NULL (ties on ``ts_col`` break by the larger
      value — deterministic under any partitioning).  Requires
      ``ts_col``.
    - ``mode``: the most frequent non-null value; count ties break by
      the SMALLEST value.
    - ``min_of`` / ``max_of``: plain extrema (null-skipping).

    Returns one row per cluster: ``(cluster, n_members, <fields...>)``
    with each surviving field under its original name.  Clusters whose
    every value for a field is NULL yield NULL for it.

    Plan: extrema/latest fold into ONE hash aggregate over the input
    (``latest`` rides a max over a (ts, value) struct — null fields
    drop out via a CASE, so the max picks the newest non-null
    occurrence); each ``mode`` field needs its own (cluster, value)
    count + per-cluster argmax — a window over the SMALL count table,
    joined back.  All shuffles hash on the cluster id; no collect, no
    Python.
    """
    if latest and ts_col is None:
        raise ValueError("golden_record: latest fields require ts_col")
    seen: set[str] = set()
    for group in (latest, mode, min_of, max_of):
        for c in group:
            if c in seen:
                raise ValueError(
                    f"golden_record: field {c!r} assigned twice"
                )
            seen.add(c)

    aggs = [F.count(F.lit(1)).alias("n_members")]
    for c in min_of:
        aggs.append(F.min(c).alias(c))
    for c in max_of:
        aggs.append(F.max(c).alias(c))
    for c in latest:
        aggs.append(
            F.max(
                F.when(
                    F.col(c).isNotNull(),
                    F.struct(F.col(ts_col).alias("_ts"), F.col(c).alias("_v")),
                )
            )["_v"].alias(c)
        )
    out = df.groupBy(F.col(cluster_col).alias("cluster")).agg(*aggs)

    for c in mode:
        counts = (
            df.filter(F.col(c).isNotNull())
            .groupBy(F.col(cluster_col).alias("cluster"), F.col(c))
            .agg(F.count(F.lit(1)).alias("_cnt"))
        )
        w = Window.partitionBy("cluster")
        best = (
            counts.withColumn("_mx", F.max("_cnt").over(w))
            .filter(F.col("_cnt") == F.col("_mx"))
            .groupBy("cluster")
            .agg(F.min(c).alias(c))
        )
        out = out.join(best, "cluster", "left")
    return out


def sorted_neighborhood_pairs(
    df: DataFrame,
    sort_col: str,
    id_col: str,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking: candidate pairs are rows within
    ``window`` positions of each other under the ``sort_col`` order
    (ties broken by ``id_col`` — total, so the pair set is
    deterministic).  The OTHER classic record-linkage candidate
    generator next to q-gram blocking (``fuzzy_join``): sorting
    bunches near-identical keys together regardless of which
    characters differ, catching prefix-heavy typos q-grams can miss.
    Emits ``(id_a, id_b, rank_a, rank_b)`` with ``rank_a < rank_b``;
    pair volume is EXACTLY ``window`` per row (edges truncated) —
    linear, never quadratic, whatever the key skew.

    Plan: one exact ``ranges.global_rank`` (no single-partition
    window), an explode of the ``window``
    forward offsets, and one equi join rank→rank+δ.  Verification
    (edit distance, field compare) is the caller's next stage, as in
    ``fuzzy_join``.
    """
    if window < 1:
        raise ValueError("sorted_neighborhood_pairs: window must be >= 1")
    from moz_datapipeline_spark.iterate import owned
    from moz_datapipeline_spark.operators.ranges import global_rank

    scan = global_rank(
        df.select(F.col(id_col), F.col(sort_col)),
        sort_col,
        [id_col],
        with_percent=False,
    )
    ranked = scan.select(F.col(id_col), F.col("rank"))
    probes = ranked.select(
        F.col(id_col).alias("id_a"),
        F.col("rank").alias("rank_a"),
        F.explode(
            F.sequence(F.col("rank") + 1, F.col("rank") + window)
        ).alias("rank_b"),
    )
    out = probes.join(
        ranked.select(
            F.col(id_col).alias("id_b"), F.col("rank").alias("rank_b")
        ),
        "rank_b",
    ).select("id_a", "id_b", "rank_a", "rank_b")
    return owned(out, scan)
