"""Relational-algebra completeness operators.

The reference pipeline composes joins, aggregations, and anti-joins
(SURVEY §2 J/A families); the one classical operator that composition
never spells out is DIVISION — "keys related to ALL values of a
divisor set" (suppliers stocking every part in a kit, customers active
in every channel).  SQL has no DIVIDE keyword; the canonical encoding
is a double NOT EXISTS, which Catalyst turns into two anti-joins and
re-scans the dividend.  The count-matching form below is the
shuffle-minimal equivalent.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import owned
from moz_datapipeline_spark.operators.ranges import prefix_scan


def relational_division(
    dividend: DataFrame,
    key_cols: Sequence[str],
    value_cols: Sequence[str],
    divisor: DataFrame,
) -> DataFrame:
    """Keys of ``dividend`` related to EVERY row of ``divisor``:
    classic relational division, returned as the distinct ``key_cols``
    rows that cover the full divisor set.

    ``divisor`` must expose exactly ``value_cols`` (extra columns are
    projected away; rows are deduped, so multiplicity never matters).
    An EMPTY divisor returns every distinct key — the universal
    quantifier over an empty set is vacuously true, matching the
    double-NOT-EXISTS SQL encoding.

    Plan (count-matching, 2 shuffles + 1 broadcast):

    1. dedupe (key, value) pairs and semi-join them to the deduped
       divisor — off-divisor values exit BEFORE any per-key state;
    2. per-key hash-aggregate counts covered divisor values (map-side
       partials);
    3. compare against the divisor's 1-row distinct count, broadcast
       via cross join — no driver action, no window, no double
       anti-join re-scan of the dividend.

    Skew note: step 1's distinct shuffles on (key, value) — hot keys
    spread across their value spectrum, so the usual hot-key collapse
    onto one partition doesn't occur; step 2 receives at most
    |divisor| rows per key.
    """
    keys = list(key_cols)
    vals = list(value_cols)
    if not keys or not vals:
        raise ValueError(
            "relational_division: key_cols and value_cols must be "
            "non-empty"
        )
    div = divisor.select(*vals).distinct()
    need = div.agg(F.count(F.lit(1)).alias("_need"))
    covered = (
        dividend.select(*keys, *vals)
        .distinct()
        .join(div, vals, "left_semi")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_got"))
    )
    all_keys = dividend.select(*keys).distinct()
    matched = (
        covered.crossJoin(F.broadcast(need))
        .filter(F.col("_got") == F.col("_need"))
        .select(*keys)
    )
    # empty divisor: _need = 0 but no (key, value) survives the semi
    # join either, so `matched` is empty — union the vacuous-truth set
    # explicitly (keys with zero required values are all keys)
    vacuous = all_keys.crossJoin(F.broadcast(need)).filter(
        F.col("_need") == 0
    ).select(*keys)
    return matched.unionByName(vacuous)


def compaction_plan(
    files: DataFrame,
    path_col: str = "path",
    bytes_col: str = "bytes",
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-file compaction planner for lake maintenance: assign
    every input file to an output bin of ~``target_bytes`` — rows
    ``(path, bytes, bin, bin_bytes, n_files_in_bin)``.  The
    100 TB-lake hygiene op: a table written by 10k streaming
    micro-batches reads 100× slower than the same bytes in
    right-sized files; this emits the rewrite plan (group by ``bin``,
    coalesce, write).

    Packing is CUMULATIVE-QUOTIENT: files in deterministic
    (bytes DESC, path) order, ``bin = floor(running_bytes_before /
    target)`` — a one-window approximation of first-fit-decreasing
    whose bins overshoot by at most one file (exactly one file can
    straddle each boundary; oversized files get a bin of their own).
    Deterministic, engine-replayable, and — unlike true FFD — free of
    sequential state, so it stays a single range-partitioned scan.
    Files with NULL/negative size are rejected loudly.

    Plan: the listing is metadata-sized (one row per FILE, not per
    data row), and the running bytes are a ``ranges.prefix_scan`` —
    never a single-task window over a billion-file listing.
    """
    if target_bytes < 1:
        raise ValueError("compaction_plan: target_bytes must be >= 1")
    base = files.select(
        F.col(path_col).cast("string").alias("path"),
        F.col(bytes_col).cast("long").alias("bytes"),
    )
    bad = base.filter(
        F.col("bytes").isNull() | (F.col("bytes") < 0)
        | F.col("path").isNull()
    ).limit(1).count()
    if bad:
        raise ValueError(
            "compaction_plan: NULL path or NULL/negative size in the "
            "listing"
        )
    scan = prefix_scan(
        base,
        [F.col("bytes").desc(), F.col("path").asc()],
        {"_before": ("sum", F.col("bytes"))},
        exclusive=True,
    )
    binned = scan.select(
        "path",
        "bytes",
        F.floor(F.col("_before") / F.lit(int(target_bytes)))
        .cast("long")
        .alias("bin"),
    )
    # per-bin totals as a window, not an aggregate joined back: |bins|
    # grows with the listing, and the scan's severed statistics would
    # plan that join as a sort-merge join AQE only later demotes
    per_bin = Window.partitionBy("bin")
    out = binned.select(
        "path",
        "bytes",
        "bin",
        F.sum("bytes").over(per_bin).alias("bin_bytes"),
        F.count(F.lit(1)).over(per_bin).cast("long").alias("n_files_in_bin"),
    )
    return owned(out, scan)


def frequent_itemsets(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_size: int = 3,
    max_triple_candidates: int = 5_000_000,
) -> DataFrame:
    """Apriori frequent itemsets up to size 3: rows ``(itemset, size,
    support)`` with ``itemset`` the '|'-joined items in ascending
    order — the market-basket generalization of ``copurchase_lift``
    (which stops at pairs): "which item TRIPLES co-occur often enough
    to act on?".  ``min_support`` is an absolute basket count.

    Plan (round-12 re-plan — basket-local combination counting):

    1. ONE groupBy collapses each basket to its sorted distinct-item
       array (set semantics ride the same exchange that the old plan
       paid a separate ``distinct`` for); the '|' guard is one agg
       over that small persisted frame.
    2. L1: explode the arrays, one (item) hash aggregate, filter.
    3. The arrays are pruned to L1-frequent items (broadcast
       semi-join — frequent items are few BY CONSTRUCTION: at most
       Σbaskets/min_support) and re-collected once; L2 and L3 both
       read this persisted frame.
    4. L2: all within-basket pairs are generated EXCHANGE-LOCALLY
       with array lambdas (Σ C(k,2) rows — strictly fewer than the
       old basket self-join's Σ k² probe output), one aggregate,
       filter.
    5. L3: same shape with 3-combinations — exact support counting
       in one pass, Σ C(k,3) generated rows.  That count is checked
       eagerly (a 1-row agg over per-basket sizes) BEFORE generating
       anything; past ``max_triple_candidates`` the operator falls
       back to classic Apriori — downward-closed L2⨝L2 candidates
       whose own count is guarded the same way — because in the
       huge-basket regime the candidate set, not ΣC(k,3), bounds the
       work.

    Items containing the '|' separator are rejected loudly rather
    than silently merging itemsets.

    DENSE-PAIR HAZARD: when most pairs are frequent (tiny catalog or
    low min_support) AND baskets are huge, neither ΣC(k,3) nor the
    closure-pruned candidate count stays small; both guards raise
    past ``max_triple_candidates`` (raise min_support, not the cap).
    """
    if min_support < 1:
        raise ValueError("frequent_itemsets: min_support must be >= 1")
    if not (1 <= max_size <= 3):
        raise ValueError("frequent_itemsets: max_size must be 1..3")
    pairs0 = df.select(
        F.col(basket_col).cast("string").alias("_b"),
        F.col(item_col).cast("string").alias("_i"),
    ).filter(F.col("_b").isNotNull() & F.col("_i").isNotNull())
    if max_size == 1:
        base = pairs0.distinct()
        bad = base.filter(F.col("_i").contains("|")).limit(1).count()
        if bad:
            raise ValueError(
                "frequent_itemsets: item values must not contain '|'"
            )
        return (
            base.groupBy("_i")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .filter(F.col("support") >= min_support)
            .select(
                F.col("_i").alias("itemset"),
                F.lit(1).alias("size"),
                "support",
            )
        )
    # BASKET-LOCAL combination generation (round-12 re-plan): ONE
    # groupBy collapses each basket to its sorted distinct-item array
    # (set semantics for free — the old plan paid a separate
    # distinct), and pairs/triples are generated inside the basket
    # row with array lambdas — no basket self-join (whose probe emits
    # Σk² rows vs ΣC(k,2) here) and no candidate×basket count joins.
    # The old plan also recomputed the (scan → distinct) lineage for
    # the '|' guard, both self-join sides, and the three count joins;
    # here every level reads the one persisted array frame.
    arrs_all = (
        pairs0.groupBy("_b")
        .agg(F.sort_array(F.collect_set("_i")).alias("_items"))
        .persist()
    )
    # one eager pass: materializes arrs_all AND runs the '|' guard
    guard = arrs_all.agg(
        F.coalesce(
            F.max(
                F.exists("_items", lambda x: x.contains("|"))
            ),
            F.lit(False),
        ).alias("_bad")
    ).collect()[0]
    if guard["_bad"]:
        arrs_all.unpersist()
        raise ValueError(
            "frequent_itemsets: item values must not contain '|'"
        )
    l1 = (
        arrs_all.select(F.explode("_items").alias("_i"))
        .groupBy("_i")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    out = l1.select(
        F.col("_i").alias("itemset"),
        F.lit(1).alias("size"),
        "support",
    )
    # prune to frequent items (downward closure at the item level),
    # then re-collect the per-basket arrays once — every larger level
    # reads this small frame
    arr_f = (
        arrs_all.select("_b", F.explode("_items").alias("_i"))
        .join(F.broadcast(l1.select("_i")), "_i")
        .groupBy("_b")
        .agg(F.sort_array(F.collect_list("_i")).alias("_items"))
        .filter(F.size("_items") >= 2)
        .persist()
    )
    pair_combos = F.expr(
        "flatten(transform(_items, (x, i) -> "
        "transform(slice(_items, i + 2, size(_items)), "
        "y -> named_struct('_a', x, '_c', y))))"
    )
    pairs = (
        arr_f.select(F.explode(pair_combos).alias("_p"))
        .select(F.col("_p._a").alias("_a"), F.col("_p._c").alias("_c"))
        .groupBy("_a", "_c")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    out = out.unionByName(
        pairs.select(
            F.concat_ws("|", "_a", "_c").alias("itemset"),
            F.lit(2).alias("size"),
            "support",
        )
    )
    from ..iterate import checkpoint_sever

    if max_size == 2:
        res = checkpoint_sever(out)
        arr_f.unpersist()
        arrs_all.unpersist()
        return res
    # triple level: generating C(k,3) combos per basket is exact
    # support counting in one pass, but blows up on huge baskets —
    # the SAME dense hazard the candidate join has.  The eager guard
    # below (one agg over the small persisted array frame) bounds the
    # generated-row count; past the cap, fall back to classic Apriori
    # candidates (downward-closed L2⨝L2, own guarded count) whose
    # work is bounded by |candidates| × basket lists instead.
    k = F.size("_items").cast("long")
    stats = arr_f.agg(
        F.coalesce(
            F.sum(k * (k - 1) * (k - 2) / F.lit(6)), F.lit(0.0)
        ).alias("_c3")
    ).collect()[0]
    n_combos = int(stats["_c3"])
    if n_combos <= max_triple_candidates:
        triple_combos = F.expr(
            "flatten(flatten(transform(_items, (x, i) -> "
            "transform(slice(_items, i + 2, size(_items)), (y, j) -> "
            "transform(slice(_items, i + j + 3, size(_items)), "
            "z -> named_struct('_t1', x, '_t2', y, '_t3', z))))))"
        )
        triples = (
            arr_f.select(F.explode(triple_combos).alias("_t"))
            .select("_t._t1", "_t._t2", "_t._t3")
            .groupBy("_t1", "_t2", "_t3")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .filter(F.col("support") >= min_support)
        )
    else:
        pairs = pairs.persist()
        p1 = pairs.select(
            F.col("_a").alias("x"), F.col("_c").alias("y")
        )
        cand = (
            p1.alias("ab")
            .join(p1.alias("ac"), F.col("ab.x") == F.col("ac.x"))
            .filter(F.col("ab.y") < F.col("ac.y"))
            .select(
                F.col("ab.x").alias("_t1"),
                F.col("ab.y").alias("_t2"),
                F.col("ac.y").alias("_t3"),
            )
            .join(
                p1.select(
                    F.col("x").alias("_t2"), F.col("y").alias("_t3")
                ),
                ["_t2", "_t3"],
            )
        )
        n_cand = cand.count()
        if n_cand > max_triple_candidates:
            pairs.unpersist()
            arr_f.unpersist()
            arrs_all.unpersist()
            raise ValueError(
                f"frequent_itemsets: {n_cand} triple candidates exceed "
                f"max_triple_candidates={max_triple_candidates} — the "
                "pair level is too dense; raise min_support"
            )
        kept = arr_f.select("_b", F.explode("_items").alias("_i"))
        triples = (
            cand.join(
                kept.select("_b", F.col("_i").alias("_t1")), "_t1"
            )
            .join(
                kept.select("_b", F.col("_i").alias("_t2")),
                ["_b", "_t2"],
            )
            .join(
                kept.select("_b", F.col("_i").alias("_t3")),
                ["_b", "_t3"],
            )
            .groupBy("_t1", "_t2", "_t3")
            .agg(F.count(F.lit(1)).cast("long").alias("support"))
            .filter(F.col("support") >= min_support)
        )
    res = checkpoint_sever(
        out.unionByName(
            triples.select(
                F.concat_ws("|", "_t1", "_t2", "_t3").alias("itemset"),
                F.lit(3).alias("size"),
                "support",
            )
        )
    )
    # unpersist is a no-op on the never-persisted direct-path `pairs`
    for c in (arr_f, arrs_all, pairs):
        c.unpersist()
    return res
