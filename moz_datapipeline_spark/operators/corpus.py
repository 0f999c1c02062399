"""Corpus-hygiene operators for large-scale training-data preparation.

The reference pipeline cleans one feature table at a time
(``scripts/merge-indicators.js``, ``scripts/utils/*``); a pre-training
corpus needs the same hygiene pass at corpus granularity: repetition
filters (Gopher-style), per-domain caps, vocabulary statistics, tf-idf
term weighting, and benchmark decontamination.  Everything here is
expressed as declarative DataFrame plans — exploded-token aggregations
with map-side partial combine, broadcast joins against the (small)
benchmark n-gram set, and no driver-side collection — so each operator
scales with cluster width.

Design notes per operator are in the docstrings; all follow the same
scale rules as ``operators/text.py``: JVM-side column expressions and
higher-order functions only, no Python row UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import owned
from moz_datapipeline_spark.operators.ranges import prefix_scan


def tokens(text_col: Column | str) -> Column:
    """Whitespace tokens with empties dropped (JVM-side)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(c, " "), lambda t: t != "")


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition features per document.

    Emits, per document: token counts, distinct-token counts, the
    duplicate-token fraction, the most-frequent-token share, and the
    duplicate-bigram fraction.  Documents whose text is dominated by a
    few repeated tokens or bigrams are boilerplate/spam candidates
    (Rae et al. 2021 §A1.1 uses the same family of thresholds).

    Plan shape: bigram stats are pure per-row higher-order functions
    (zero shuffle); token frequencies explode once and aggregate by
    ``(doc, token)`` with map-side partial combine, then fold to one row
    per document — two narrow hash aggregations on the same key prefix,
    then a join back on ``id_col``.  Work is proportional to corpus
    token count; no per-document state exceeds its own vocabulary.

    The token array is bound to a projected column BEFORE any lambda
    indexes into it: an unbound ``filter(split(...))`` subexpression is
    re-evaluated per lambda element (no CSE inside HOFs), which
    measured 15× slower on this exact plan.
    """
    tokenized = df.select(id_col, tokens(text_col).alias("_toks"))
    tk = F.col("_toks")
    # bigrams per row: [t0 t1, t1 t2, ...]; empty when fewer than 2 tokens
    bigrams = F.when(
        F.size(tk) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(tk, i), F.element_at(tk, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))

    row_stats = tokenized.select(
        id_col,
        F.size(bigrams).alias("n_2grams"),
        F.size(F.array_distinct(bigrams)).alias("n_distinct_2grams"),
    )

    tok_stats = (
        tokenized.select(id_col, F.explode(tk).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count("*").alias("cnt"))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count("*").alias("n_distinct_tokens"),
            F.max("cnt").alias("top_cnt"),
        )
    )

    nt = F.col("n_tokens").cast("double")
    return (
        tok_stats.join(row_stats, id_col)
        .select(
            id_col,
            "n_tokens",
            "n_distinct_tokens",
            (F.lit(1.0) - F.col("n_distinct_tokens") / nt).alias("dup_token_frac"),
            (F.col("top_cnt") / nt).alias("top_token_frac"),
            F.when(
                F.col("n_2grams") > 0,
                F.lit(1.0) - F.col("n_distinct_2grams") / F.col("n_2grams").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_2gram_frac"),
        )
    )


def cap_per_group(
    df: DataFrame, group_col: str, k: int, id_col: str = "doc_id",
    prune_factor: int = 8,
) -> DataFrame:
    """Keep at most ``k`` rows per group, chosen by content-addressed hash.

    The web-corpus use: cap documents per domain so no single host
    dominates the training mix.  Selection order is
    ``md5(id)`` (then id as total-order tiebreak), so membership is
    deterministic across engines, partitionings, and reruns — the same
    property as ``text.stable_sample``.

    Skew-safe two-phase plan: a mega-domain would make the exact
    ``row_number`` sort as wide as the domain, so rows are pre-pruned
    by hash prefix first.  Phase 1 counts rows per group (map-side
    combined, narrow shuffle) and keeps only groups above
    ``prune_factor * k``; that heavy-hitter list left-joins back (AQE
    broadcasts it when small, which it is by construction — at most
    ``n / (prune_factor * k)`` groups qualify).  For a heavy group of
    ``cnt`` rows, only rows whose 16-bit hash prefix falls below
    ``ceil(65536 * prune_factor * k / cnt)`` survive — about
    ``prune_factor * k`` in expectation, so the exact per-group sort
    in phase 2 is O(prune_factor * k) wide regardless of domain size.

    The prune is exact, not approximate: the kept set is a prefix of
    the selection order (hash prefix is the leading bits of the sort
    key), so whenever >= k rows survive they contain the true top-k.
    The rare deficit case (a heavy group where fewer than k rows land
    under the cutoff — Chernoff-exponentially unlikely at
    ``prune_factor`` >= 8) is detected by a survivor recount and those
    groups are rescued un-pruned, so the result is bit-identical to
    the naive single-window form for every input.
    """
    candidates = _cap_candidates(df, group_col, k, id_col, prune_factor)
    w = Window.partitionBy(group_col).orderBy(F.col("_cap_h"), F.col(id_col))
    return (
        candidates.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .drop("_cap_h", "_cap_p", "_cap_cnt")
    )


def _cap_candidates(
    df: DataFrame, group_col: str, k: int, id_col: str, prune_factor: int
) -> DataFrame:
    """The pre-pruned candidate set feeding ``cap_per_group``'s exact
    rank: all rows of light groups, ~``prune_factor * k`` hash-prefix
    survivors of heavy groups (plus whole rescued groups on prefix
    deficit).  Exposed separately so tests can pin the prune bound."""
    hash_col = F.md5(F.col(id_col).cast("string"))
    pre = df.withColumn("_cap_h", hash_col).withColumn(
        "_cap_p", F.conv(F.substring("_cap_h", 1, 4), 16, 10).cast("long")
    )
    heavy = (
        pre.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("_cap_cnt"))
        .filter(F.col("_cap_cnt") > prune_factor * k)
    )
    joined = pre.join(heavy, group_col, "left")
    cutoff = F.ceil(F.lit(65536.0 * prune_factor * k) / F.col("_cap_cnt"))
    keep = F.col("_cap_cnt").isNull() | (F.col("_cap_p") < cutoff)
    surv = joined.filter(keep)
    # deficit detection must start from the HEAVY list, not survivor
    # counts: a heavy group whose rows all miss the hash-prefix cutoff
    # has zero survivors and would never show up in a surv-side groupBy
    surv_counts = surv.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("_cap_s")
    )
    deficient = (
        heavy.join(surv_counts, group_col, "left")
        .filter(F.coalesce(F.col("_cap_s"), F.lit(0)) < k)
        .select(group_col)
    )
    rescued = joined.join(
        F.broadcast(deficient), group_col, "left_semi"
    ).filter(~keep)
    return surv.unionByName(rescued)


def vocab_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Global vocabulary heavy hitters: term frequency + document frequency.

    Plan shape: explode once; ``(token, doc)`` pairs aggregate with
    map-side partials into per-token ``(tf, df)`` in two hash
    aggregations (the distinct-doc count rewrites to a two-phase
    aggregate, no separate ``distinct()`` pass); the top-``n`` is a
    ``TakeOrderedAndProject`` — per-partition heaps, no global sort.
    Deterministic tiebreak: count desc, then token asc.
    """
    toks = tokens(text_col)
    return (
        df.select(id_col, F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.countDistinct(id_col).alias("df"),
        )
        .orderBy(F.desc("tf"), "token")
        .limit(top_n)
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` tf-idf terms per document (idf = ln(N/df)).

    Plan shape: one explode feeding a ``(doc, token)`` count; document
    frequency folds from that same aggregate (no second scan of the
    corpus); the corpus size joins in as a broadcast single-row
    aggregate so the whole computation stays one job.  The final
    per-document top-``k`` is a rank window partitioned by document —
    sort width is a single document's vocabulary.  Ties break on token
    text, so results are deterministic.
    """
    toks = tokens(text_col)
    tf = (
        df.select(id_col, F.explode(toks).alias("token"))
        .groupBy(id_col, "token")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), "token")
    return (
        scored.withColumn("term_rank", F.row_number().over(w))
        .filter(F.col("term_rank") <= k)
        .select(id_col, "token", "tf", "df", F.round("tfidf", 6).alias("tfidf"), "term_rank")
    )


def decontaminate(
    df: DataFrame,
    benchmark_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    threshold_num: int = 1,
    threshold_den: int = 20,
) -> DataFrame:
    """Benchmark decontamination by ``n``-gram overlap.

    Splits the corpus into a benchmark slice (``benchmark_pred`` true —
    in production, the eval sets) and candidates; flags a candidate
    contaminated when at least ``threshold_num/threshold_den`` of its
    distinct word ``n``-grams appear anywhere in the benchmark slice
    (the PaLM/GPT-3 style 8-gram collision rule).

    Plan shape: n-grams are built per row with higher-order functions
    and deduplicated per document with ``array_distinct`` — both
    row-local, zero shuffle — then probed against the benchmark's
    distinct n-gram set via a **broadcast** left join; the benchmark
    side is an eval-set-sized distinct projection, small by
    construction even when the candidate corpus is 100 TB.  The only
    candidate-side shuffle is the final per-document count fold
    (``explode_outer`` keeps zero-n-gram documents in that same pass,
    so no join-back is needed).  The contamination test uses integer
    cross-multiplication, not float division, so the flag is
    engine-exact.
    """
    # bind tokens to a column before the lambda indexes into them — an
    # unbound split() subexpression re-evaluates per n-gram (no CSE
    # inside HOFs; measured ~15× slower)
    tokenized = df.select(id_col, tokens(text_col).alias("_toks"))
    tk = F.col("_toks")
    ngrams = F.when(
        F.size(tk) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tk) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tk, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))

    with_ngrams = tokenized.select(
        id_col, F.array_distinct(ngrams).alias("ngrams")
    )
    bench = (
        with_ngrams.filter(benchmark_pred)
        .select(F.explode("ngrams").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = with_ngrams.filter(~benchmark_pred).select(
        id_col,
        F.size("ngrams").alias("_n"),
        F.explode_outer("ngrams").alias("g"),
    )
    per_doc = (
        cand.join(F.broadcast(bench), "g", "left")
        .groupBy(id_col)
        .agg(
            F.max("_n").alias("n_ngrams"),
            F.count("hit").alias("n_contaminated"),
        )
    )
    return per_doc.select(
        id_col,
        "n_ngrams",
        "n_contaminated",
        F.when(
            F.col("n_ngrams") > 0,
            F.col("n_contaminated").cast("double") / F.col("n_ngrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("contam_frac"),
        (
            (F.col("n_contaminated") * threshold_den
             >= F.col("n_ngrams") * threshold_num)
            & (F.col("n_ngrams") > 0)
        ).alias("contaminated"),
    )


def quality_filter_funnel(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    min_tokens: int = 30,
    distinct_num: int = 7,
    distinct_den: int = 20,
    keep_lang: str = "en",
) -> DataFrame:
    """Survivor counts through a cumulative quality-filter chain:
    corpus → length floor → distinct-token-ratio floor → language.

    The C4/Gopher-style cleaning stack, folded into ONE aggregation:
    each filter is a boolean column, cumulative survival is a
    conditional sum, and the stage rows come from an unpivot of the
    single result row — one corpus scan, one map-side-combined
    aggregate, zero joins.  The distinct-ratio test uses integer
    cross-multiplication (``den·distinct ≥ num·total``), so stage
    membership is engine-exact.
    """
    stats = df.select(
        F.col(lang_col).alias("_lang"),
        F.size(tokens(text_col)).alias("_nt"),
        F.size(F.array_distinct(tokens(text_col))).alias("_nd"),
    )
    f1 = F.col("_nt") >= min_tokens
    f2 = f1 & (F.col("_nd") * distinct_den >= F.col("_nt") * distinct_num)
    f3 = f2 & (F.col("_lang") == keep_lang)
    one = stats.agg(
        F.count("*").alias("_all"),
        F.sum(f1.cast("long")).alias("_len"),
        F.sum(f2.cast("long")).alias("_rep"),
        F.sum(f3.cast("long")).alias("_lng"),
    )
    return one.selectExpr(
        "stack(4, "
        "1, 'corpus', _all, "
        "2, 'min_length', _len, "
        "3, 'distinct_ratio', _rep, "
        f"4, 'lang_{keep_lang}', _lng) AS (stage_idx, stage, n_docs)"
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 10,
) -> DataFrame:
    """Strip lines that repeat across >= ``min_docs`` DISTINCT documents
    (CCNet/RefinedWeb-style boilerplate removal: nav bars, cookie
    banners, "follow us" footers dominate web corpora line-frequency
    tables).

    Plan shape: one posexplode pass over lines; the cross-document
    frequency table aggregates with map-side partials on the line text;
    only lines at or above the threshold survive the filter, and that
    boilerplate set is <= total_lines / min_docs rows BY CONSTRUCTION —
    small enough to BROADCAST into a left-anti join against the
    exploded lines (same heavy-hitter bound as ``cap_per_group``'s
    prune).  Reassembly restores original line order via a sorted
    struct collect, one shuffle on the document key.  No all-pairs
    comparison, no full-table window.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    boiler = (
        lines.groupBy("line")
        .agg(F.countDistinct(id_col).alias("_docs"))
        .filter(F.col("_docs") >= min_docs)
        .select("line")
    )
    kept = lines.join(F.broadcast(boiler), "line", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
        F.count("*").alias("n_lines_kept"),
    )
    totals = df.select(
        F.col(id_col),
        F.size(F.split(F.col(text_col), "\n")).alias("_n_lines"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.coalesce("n_lines_kept", F.lit(0)).alias("n_lines_kept"),
            (F.col("_n_lines") - F.coalesce("n_lines_kept", F.lit(0))).alias(
                "n_lines_removed"
            ),
        )
    )


def mixture_resample(
    df: DataFrame,
    group_col: str,
    targets: dict[str, float],
    key_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Resample a corpus to a TARGET mixture of groups, keeping as much
    data as possible.

    ``stratified_sample`` takes per-group rates; this derives them from
    the data: given relative target weights (the DoReMi/Pile-style
    domain-mixture spec), compute the largest output corpus whose group
    proportions match the weights without upsampling — scale
    ``T = min_g(n_g / w_g)`` over groups present in the data, so the
    scarcest group relative to its weight is kept whole and every other
    group downsamples to ``w_g·T`` expected rows.  Groups absent from
    ``targets`` (or with weight 0) are dropped.

    Membership is the engine's content-addressed md5-threshold family
    (stable across runs, partitionings, and engines); the realised
    mixture converges to the target by LLN — the price of keeping the
    selection a single shuffle-free filter per row instead of a
    per-group global sort, the right trade at corpus scale.

    Plan shape: one count aggregation over the grouping key, a 1-row
    min (never collected), a broadcast join of the tiny per-group rate
    table, then one codegen filter on the scan.

    Reference parity: extension operator; the derive-rates-then-filter
    shape mirrors the reference's global-max normalisation (compute a
    corpus statistic, broadcast it back over the rows).
    """
    pos = {g: float(w) for g, w in targets.items() if w > 0}
    if not pos:
        raise ValueError("mixture_resample needs at least one positive weight")
    spark = df.sparkSession
    w_df = spark.createDataFrame(
        list(pos.items()), schema=f"{group_col} string, _w double"
    )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    present = counts.join(F.broadcast(w_df), group_col)
    t_df = present.agg(
        F.min(F.col("_n").cast("double") / F.col("_w")).alias("_t")
    )
    rates = present.crossJoin(F.broadcast(t_df)).select(
        group_col,
        F.least(
            F.lit(1.0),
            F.col("_w") * F.col("_t") / F.col("_n").cast("double"),
        ).alias("_rate"),
    )
    space = float(1 << 60)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col(key_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(h < F.floor(F.col("_rate") * F.lit(space)))
        .drop("_rate")
    )


def remove_duplicate_spans(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 20,
    min_docs: int = 2,
    hash_keys: bool = False,
) -> DataFrame:
    """Cross-document exact-substring dedup, bounded to ``window``-token
    spans: any run of ``window`` consecutive tokens whose exact
    sequence appears in at least ``min_docs`` DISTINCT documents is
    removed from every document containing it (the train-set
    substring-dedup scheme, restricted to a fixed window so the work
    stays one explode + one aggregation instead of a suffix array).

    ``remove_boilerplate_lines`` is the line-granularity cousin; this
    catches boilerplate that does not respect line boundaries
    (licence sleds, navigation chrome, templated sentences).

    Plan shape: explode each document into its rolling windows keyed by
    the literal token sequence (O(len·window) characters per doc — the
    window IS the join key, no hash collisions to reason about); count
    distinct docs per key with map-side partials; join flagged keys
    back (equi join, AQE decides broadcast vs shuffle from the
    measured duplicate volume); collect flagged start positions per
    doc; rebuild the text by materializing the covered positions once
    and ``array_except``-ing them from the position range (hash-set
    membership: O(tokens + spans·window) per doc, NOT O(tokens·spans) —
    the distinction matters exactly for the boilerplate-sled documents
    this operator targets, where most windows are flagged).  All
    JVM-side, no Python UDFs.  NULL text behaves as an empty document
    (0 tokens, empty ``text_clean``).

    Returns ``(id, n_tokens, n_removed, text_clean)``.

    Scale: duplicate-window volume, not corpus size, drives the join's
    build side; the explode is a linear scan.  ``hash_keys=True`` swaps
    the literal window string for its xxhash64 (8 bytes instead of
    ~6·window chars through the aggregation and join exchanges — the
    production setting at corpus scale); the default keeps the literal
    key so the oracle is collision-free by construction.

    Reference parity: extension operator; same heavy-hitter anti-join
    idiom as ``remove_boilerplate_lines``.
    """
    if window < 2:
        raise ValueError("remove_duplicate_spans: window must be >= 2")
    w = int(window)
    toks = docs.select(
        F.col(id_col),
        F.coalesce(
            tokens(text_col), F.array().cast("array<string>")
        ).alias("_t"),
    )
    starts_range = F.when(
        F.size("_t") >= w, F.sequence(F.lit(1), F.size("_t") - w + 1)
    ).otherwise(F.array().cast("array<int>"))
    def _key(i: Column) -> Column:
        win = F.slice("_t", i, F.lit(w))
        # hash mode hashes the token array directly (xxhash64 folds
        # complex types) — no window string is ever materialized
        return F.xxhash64(win) if hash_keys else F.array_join(win, " ")

    wins = toks.select(
        id_col,
        F.explode(
            F.transform(
                starts_range,
                lambda i: F.struct(i.alias("pos"), _key(i).alias("key")),
            )
        ).alias("win"),
    ).select(id_col, F.col("win.pos").alias("pos"), F.col("win.key").alias("key"))
    dup = (
        wins.groupBy("key")
        .agg(F.count_distinct(F.col(id_col)).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("key")
    )
    flagged = (
        wins.join(dup, "key")
        .groupBy(id_col)
        .agg(F.collect_list("pos").alias("_starts"))
    )
    joined = toks.join(flagged, [id_col], "left").select(
        id_col,
        "_t",
        F.coalesce("_starts", F.array().cast("array<int>")).alias("_starts"),
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(F.col("_starts"), lambda s: F.sequence(s, s + w - 1))
        )
    )
    positions = F.when(
        F.size("_t") >= 1, F.sequence(F.lit(1), F.size("_t"))
    ).otherwise(F.array().cast("array<int>"))
    # array_except hashes `covered` once, so membership is O(1) per
    # position; order of `positions` is preserved.  CaseWhen evaluates
    # lazily, so the dominant no-flagged-spans case skips the rebuild
    # machinery entirely
    keep = F.when(F.size("_starts") == 0, F.col("_t")).otherwise(
        F.transform(
            F.array_except(positions, covered),
            lambda p: F.element_at(F.col("_t"), p),
        )
    )
    return joined.select(
        id_col,
        F.size("_t").alias("n_tokens"),
        (F.size("_t") - F.size(keep)).alias("n_removed"),
        F.array_join(keep, " ").alias("text_clean"),
    )


def temperature_resample(
    df: DataFrame,
    group_col: str,
    alpha: float,
    key_col: str = "doc_id",
    seed: str = "temp",
) -> DataFrame:
    """Temperature-scaled group rebalance: downsample so group shares
    follow ``n_g^alpha`` instead of ``n_g`` (the multilingual
    α-sampling scheme — α=1 keeps natural proportions, α→0 flattens
    toward uniform), keeping as much data as possible: the group
    smallest under the exponent survives whole and every other group
    keeps ``(p_min / n_g^(1-α))`` of its rows.

    Same derive-rates-then-hash-filter plan as ``mixture_resample``
    (one count aggregation, a 1-row min, a broadcast rate join, one
    codegen filter); the per-group rate is ``min_h(n_h^(1-α)) /
    n_g^(1-α)``, computed with the identical ``pow`` expression the
    oracle replays.

    Reference parity: extension operator; same shape as
    ``mixture_resample`` with data-derived weights ``w_g = n_g^α``.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("temperature_resample: alpha must be in [0, 1]")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    p = counts.select(
        group_col,
        F.pow(F.col("_n").cast("double"), F.lit(1.0 - alpha)).alias("_p"),
    )
    m = p.agg(F.min("_p").alias("_mp"))
    rates = p.crossJoin(F.broadcast(m)).select(
        group_col, (F.col("_mp") / F.col("_p")).alias("_rate")
    )
    space = float(1 << 60)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col(key_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(h < F.floor(F.col("_rate") * F.lit(space)))
        .drop("_rate")
    )


def stratified_sample(
    df: DataFrame,
    group_col: str,
    fractions: dict[str, float],
    default: float = 0.0,
    key_col: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Deterministic per-group sampling: keep a row iff its
    content-addressed hash falls under ITS GROUP'S fraction.

    The training-data rebalance primitive (e.g. downsample English to
    20%, keep low-resource languages whole): same md5 hash family as
    ``text.stable_sample``, so membership is stable across runs,
    partitionings, and engines, and a row's fate never flips when the
    corpus is re-sharded.  The per-group rate rides along as a literal
    ``map`` lookup — pure codegen Column arithmetic, no join, no
    shuffle, fully scan-pushed.  ``default`` applies to groups absent
    from ``fractions`` (0.0 = drop unknown groups loudly visible in
    counts, 1.0 = pass them through).

    Reference parity: extension operator (the reference has no
    sampling stage); the hash-threshold idiom follows its deterministic
    id-keyed filters (scripts/base-network.sh jq id selections).
    """
    if not fractions:
        raise ValueError("stratified_sample needs at least one group fraction")
    space = float(1 << 60)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col(key_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    rate_map = F.create_map(
        *[F.lit(x) for kv in fractions.items() for x in kv]
    )
    rate = F.coalesce(
        rate_map[F.col(group_col)], F.lit(float(default))
    )
    return df.filter(h < (rate * F.lit(space)).cast("long"))


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    group_col: str | None = None,
    key_col: str = "doc_id",
    seed: str = "ws",
) -> DataFrame:
    """Deterministic weighted sampling without replacement (top-``k``
    per group, probability proportional to weight): the
    Efraimidis–Spirakis scheme with the engine's content-addressed
    hash standing in for the uniform draw, so membership is identical
    across runs, partitionings, and engines.

    Each row gets the sort key ``ln(u) / w`` with
    ``u = (h + 1) / 2^60`` from the md5 hash family — the one-pass,
    shuffle-light equivalent of weighted reservoir sampling: taking
    the ``k`` LARGEST keys per group draws without replacement with
    inclusion probability proportional to ``w``.  Rows with
    non-positive or NULL weight are excluded.

    Plan shape: one codegen key computation on the scan, then a
    per-group rank with CONSTANT ``k`` — Spark's WindowGroupLimit
    keeps per-partition heaps of ``k`` rows below the exchange, so the
    shuffle carries ≤ k·partitions rows per group, not the corpus.

    Output adds ``sample_key`` (rounded for the oracle) to the input
    columns.

    Reference parity: extension operator; same determinism family as
    ``stable_sample`` (scripts/base-network.sh id-keyed selections).
    """
    if k < 1:
        raise ValueError("weighted_sample: k must be >= 1")
    space = float(1 << 60)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col(key_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(space)
    skey = F.log(u) / F.col(weight_col).cast("double")
    keyed = df.filter(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).withColumn("_skey", skey)
    part = [group_col] if group_col else [F.lit(1)]
    rank = F.row_number().over(
        Window.partitionBy(*part).orderBy(
            F.col("_skey").desc(), F.col(key_col).asc()
        )
    )
    return (
        keyed.withColumn("_rk", rank)
        .filter(F.col("_rk") <= k)
        .drop("_rk")
        .withColumn("sample_key", F.round("_skey", 6))
        .drop("_skey")
    )


def negative_sample(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    seed: str = "neg",
) -> DataFrame:
    """Deterministic k-negative sampling for contrastive-training pairs:
    every row becomes an anchor paired with ``k`` pseudo-random OTHER
    rows, chosen by hashing (anchor, slot) into the corpus's dense
    position index — no RNG state, so reruns and the SQL oracle
    reproduce the identical pairs.

    Plan shape: the dense 0..N-1 position index is an exclusive
    ``ranges.prefix_scan`` row number (never one global window task);
    N rides along as a broadcast 1-row frame; each
    anchor explodes into ``k`` slots whose md5-derived position joins
    back against the index (one equi-join shuffle).  A hash that lands
    on the anchor itself shifts to the next position, so negatives are
    guaranteed ≠ anchor.  Corpora with fewer than 2 rows produce no
    pairs.

    Returns (anchor_id, slot, negative_id); the returned frame owns
    the position index (``iterate.owned``).

    Reference parity: extension operator (contrastive data prep);
    sampling-family sibling of ``weighted_sample``/``mixture_resample``.
    """
    if k < 1:
        raise ValueError("negative_sample: k must be >= 1")
    idx = prefix_scan(
        df.select(F.col(id_col)),
        [F.col(id_col).asc()],
        {"_pos": ("sum", F.lit(1))},
        exclusive=True,
    )
    n_df = idx.agg(F.count(F.lit(1)).alias("_n"))
    anchors = (
        idx.select(
            F.col(id_col).alias("anchor_id"), F.col("_pos").alias("_apos")
        )
        .crossJoin(F.broadcast(n_df))
        .filter(F.col("_n") > 1)
        .select(
            "anchor_id",
            "_apos",
            "_n",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("slot"),
        )
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed),
                    F.lit(":"),
                    F.col("anchor_id").cast("string"),
                    F.lit(":"),
                    F.col("slot").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") % F.col("_n")
    tpos = F.when(h == F.col("_apos"), (h + 1) % F.col("_n")).otherwise(h)
    targeted = anchors.withColumn("_tpos", tpos)
    out = targeted.join(
        idx.select(
            F.col(id_col).alias("negative_id"), F.col("_pos").alias("_tpos")
        ),
        "_tpos",
    ).select("anchor_id", "slot", "negative_id")
    return owned(out, idx)


def shard_corpus(
    df: DataFrame,
    n_shards: int,
    seed: str = "shard",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-order randomization: assign every row a
    pseudo-random ``shard`` (md5 of (seed, id) mod ``n_shards``) and a
    dense ``shard_rank`` (the row's position within its shard under an
    independent md5 order) — the global-shuffle + shard step that turns
    a curated corpus into training-ready input files.

    Properties a trainer needs, all by construction:
    - reproducible: same (seed, ids) → identical shards and order, on
      any cluster size (no RNG state, no partition dependence);
    - balanced in expectation: shards are a uniform hash split;
    - a different ``seed`` is a fresh epoch-level reshuffle.

    Plan shape: one hash projection plus ONE window partitioned by
    ``shard`` — each window partition holds ~N/n_shards rows, so no
    single task ever sees the global order (the classic
    global-``orderBy``-then-zipWithIndex shuffle-to-one-task trap).
    Write with ``write_partitioned(out, path, ["shard"])`` and the
    files land pre-grouped per shard, sorted by ``shard_rank`` via
    ``sortWithinPartitions``.

    Reference parity: extension operator (training prep); sibling of
    ``stable_sample``'s content-addressed determinism.
    """
    if n_shards < 1:
        raise ValueError("shard_corpus: n_shards must be >= 1")
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col(id_col).cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    order_key = F.md5(
        F.concat(
            F.lit(seed), F.lit(":order:"), F.col(id_col).cast("string")
        )
    )
    w = Window.partitionBy("shard").orderBy(
        F.col("_ok").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("shard", (h % n_shards).cast("int"))
        .withColumn("_ok", order_key)
        .withColumn(
            "shard_rank", (F.row_number().over(w) - 1).cast("long")
        )
        .drop("_ok")
    )


def split_corpus(
    df: DataFrame,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    by_col: str | None = None,
    seed: str = "split",
) -> DataFrame:
    """Deterministic train/val/test split: adds a ``split`` column
    assigning each row to one of ``fractions``'s keys (insertion
    order) with the given proportions in expectation.

    ``by_col`` makes the split GROUP-level: every row sharing that
    key (a domain, a near-dup cluster id, a URL host) lands in the
    same split — the leakage guard that per-row splitting cannot give
    (near-duplicates straddling train and test silently inflate
    eval).  Chain after ``dedup_clusters``/``cap_per_group`` keys for
    cluster-safe evaluation sets.

    Engine-exact by construction: the md5 of (seed, key) is reduced to
    a 60-bit integer and compared against INTEGER thresholds
    (``round(cum_fraction · 2⁶⁰)`` computed once on the driver) — no
    float arithmetic on the data path, so any engine replaying the
    hash reproduces membership bit-for-bit.  A different ``seed`` is
    an independent re-split; same seed is stable across cluster sizes
    and reruns (the ``stable_sample``/``shard_corpus`` family
    contract).  One narrow projection, zero shuffles.

    Reference parity: extension operator (training prep).
    """
    if not fractions:
        raise ValueError("split_corpus: fractions must be non-empty")
    total = float(sum(fractions.values()))
    if abs(total - 1.0) > 1e-9:
        raise ValueError(
            f"split_corpus: fractions must sum to 1, got {total}"
        )
    key = F.col(by_col if by_col is not None else id_col).cast("string")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(seed), F.lit(":"), key)), 1, 15
        ),
        16,
        10,
    ).cast("long")
    names = list(fractions)
    cum = 0.0
    expr = None
    for name in names[:-1]:
        cum += fractions[name]
        thr = round(cum * (1 << 60))
        cond = h < F.lit(thr)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    expr = (
        F.lit(names[0]) if expr is None else expr.otherwise(F.lit(names[-1]))
    )
    return df.withColumn("split", expr)


def budget_resample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    token_budget: float,
    token_col: str,
    id_col: str = "doc_id",
    seed: str = "budget",
) -> DataFrame:
    """Resample to a hard TOKEN budget with target mixture weights —
    exact water-filling, the budgeted complement of
    ``mixture_resample`` (which maximizes size at a ratio but cannot
    hit a budget).

    Semantics: find the water level λ with ``Σ_g min(T_g, λ·w_g) =
    budget`` (T_g = group token mass); groups with ``T_g ≤ λ·w_g`` are
    kept whole (they cannot fill their share — their surplus
    redistributes to the rest, which is what per-group
    ``min(1, B·w_g/T_g)`` rates get wrong), the rest downsample to
    rate ``λ·w_g/T_g``.  A budget ≥ total mass keeps everything.

    The solve is the classic sorted-prefix scan expressed RELATIONALLY
    (ordered by T/w, prefix token sums, suffix weight sums, λ from the
    first unsaturated row) over the per-group stats table — k rows for
    k domains, so the single-partition window is a few-row driver-side
    triviality by construction, exactly like a global max.  Membership
    is then the md5-threshold family: ``u_row < rate_g`` with
    ``u = 60-bit md5 / 2⁶⁰`` — deterministic across engines,
    partitionings, and reruns; realised token mass converges to the
    budget by LLN (documented sampling noise, the same contract as
    ``mixture_resample``).

    Returns the kept rows with their group's ``sample_rate`` attached.

    Reference parity: extension operator (DoReMi/Pile-style budgeted
    domain mixing); public algorithm: water-filling.
    """
    pos = {g: float(w) for g, w in weights.items() if w > 0}
    if not pos:
        raise ValueError("budget_resample needs a positive weight")
    if token_budget <= 0:
        raise ValueError("budget_resample needs a positive token_budget")
    tot_w = sum(pos.values())
    spark = df.sparkSession
    w_df = spark.createDataFrame(
        [(g, w / tot_w) for g, w in pos.items()],
        schema=f"{group_col} string, _w double",
    )
    stats = (
        df.groupBy(group_col)
        .agg(F.sum(F.col(token_col).cast("double")).alias("_T"))
        .join(w_df, group_col)  # groups without weight drop here
    )
    order = Window.orderBy(
        (F.col("_T") / F.col("_w")).asc(), F.col(group_col).asc()
    )
    cum_prev = F.coalesce(
        F.sum("_T").over(
            order.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0.0),
    )
    rem_w = F.sum("_w").over(
        order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    lam = (F.lit(float(token_budget)) - cum_prev) / rem_w
    ranked = stats.select(
        group_col, "_T", "_w",
        F.row_number().over(order).alias("_pos"),
        lam.alias("_lam"),
    )
    # λ* = the first row (in T/w order) its own share cannot saturate;
    # NULL when the budget swallows every group whole
    lam_star = ranked.filter(
        F.col("_T") > F.col("_lam") * F.col("_w")
    ).agg(F.min_by("_lam", "_pos").alias("_lam_star"))
    rates = ranked.crossJoin(F.broadcast(lam_star)).select(
        group_col,
        F.when(
            F.col("_lam_star").isNull()
            | (F.col("_T") <= F.col("_lam_star") * F.col("_w")),
            F.lit(1.0),
        )
        .otherwise(F.col("_lam_star") * F.col("_w") / F.col("_T"))
        .alias("sample_rate"),
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(seed), F.lit(":"),
                        F.col(id_col).cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(1 << 60))
    )
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(u < F.col("sample_rate"))
    )


def diff_corpus(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Release-to-release corpus diff: one row per document whose
    membership or content changed — ``status`` ∈ {'added', 'removed',
    'changed'} (unchanged documents are omitted; at 100 TB the diff is
    the small output, the corpora are the big inputs).

    Content identity is the engine's normalized-text md5 (the
    ``exact_dedup`` key: trim, lower, collapse whitespace), so
    formatting-only churn does not report as 'changed'.  Plan shape:
    two narrow hash projections and ONE full outer join on the id —
    no content ever crosses the wire, only 16-byte digests.

    Reference parity: extension operator (dataset versioning for
    training-corpus releases).
    """
    from .dedup import _normalized

    def h(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.md5(
                _normalized(F.coalesce(F.col(text_col), F.lit("")))
            ).alias("_h"),
        )

    o = h(old).withColumnRenamed("_h", "_ho")
    n = h(new).withColumnRenamed("_h", "_hn")
    j = o.join(n, id_col, "full_outer")
    return j.select(
        id_col,
        F.when(F.col("_ho").isNull(), F.lit("added"))
        .when(F.col("_hn").isNull(), F.lit("removed"))
        .when(F.col("_ho") != F.col("_hn"), F.lit("changed"))
        .alias("status"),
    ).filter(F.col("status").isNotNull())


def corpus_report(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Data-card summary as a tall (metric, value) frame — the
    numbers every corpus release note leads with, computed in ONE
    corpus scan (single map-side-combined aggregation; the stage rows
    come from ``stack`` over the one result row, the
    ``quality_filter_funnel`` idiom) plus one tiny aggregation for the
    modal language.

    Metrics: n_docs, n_null_text, total_tokens, avg_tokens,
    total_chars, distinct_langs, top_lang_share.  All integer or
    exactly-derived arithmetic (the share rounds at output), so the
    report is engine-exact and oracle-replayable.

    Reference parity: extension operator (corpus release reporting).
    """
    nt = F.size(tokens(text_col))
    base = df.select(
        F.col(lang_col).alias("_lang"),
        F.when(F.col(text_col).isNull(), 1).otherwise(0).alias("_isnull"),
        F.when(F.col(text_col).isNull(), 0).otherwise(nt).alias("_nt"),
        F.when(F.col(text_col).isNull(), 0)
        .otherwise(F.length(text_col))
        .alias("_nc"),
    )
    one = base.agg(
        F.count(F.lit(1)).alias("_all"),
        F.sum("_isnull").alias("_nulls"),
        F.sum("_nt").alias("_toks"),
        F.sum("_nc").alias("_chars"),
        F.countDistinct("_lang").alias("_langs"),
    )
    top = (
        base.groupBy("_lang")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), F.col("_lang").asc())
        .limit(1)
        .select(F.col("_n").alias("_top_n"))
    )
    joined = one.crossJoin(F.broadcast(top))
    return joined.selectExpr(
        "stack(7, "
        "'n_docs', CAST(_all AS DOUBLE), "
        "'n_null_text', CAST(_nulls AS DOUBLE), "
        "'total_tokens', CAST(_toks AS DOUBLE), "
        "'avg_tokens', ROUND(_toks / CAST(_all AS DOUBLE), 6), "
        "'total_chars', CAST(_chars AS DOUBLE), "
        "'distinct_langs', CAST(_langs AS DOUBLE), "
        "'top_lang_share', ROUND(_top_n / CAST(_all AS DOUBLE), 6)"
        ") AS (metric, value)"
    )


def source_overlap_matrix(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Cross-source contamination matrix: distinct word-``n``-gram
    Jaccard overlap for every source pair — ``(source_a, source_b,
    grams_a, grams_b, shared, jaccard)`` with ``source_a < source_b``.

    The release-diff / decontamination question at corpus granularity:
    which ingest feeds are actually the same crawl twice?

    Plan: ONE pass tokenizes and explodes grams, then ONE exchange
    groups them by gram into sorted source SETS (collect_set dedupes
    (source, gram) repeats map-side — no separate distinct pass, and
    the expensive per-doc gram construction runs exactly once).  Pair
    counts generate in-task from each set via a two-stage posexplode
    (per gram the fan-out is (#sources containing it)² ≤ |sources|²,
    and |sources| is small by definition of the question — never a
    doc-level pair join); per-source gram counts fold from the
    exploded sets.  Jaccard = shared / (|A| + |B| − shared).
    """
    from .spread import spread_small_scan

    df = spread_small_scan(df, text_col)
    gram_rows = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(source_col).alias("src"),
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0),
                        F.greatest(
                            F.size(tokens(text_col)) - n, F.lit(0)
                        ),
                    ),
                    lambda i: F.array_join(
                        F.slice(tokens(text_col), i + 1, n), " "
                    ),
                )
            ).alias("gram"),
        )
        .filter(F.size(F.split(F.col("gram"), " ")) == n)
    )
    by_gram = gram_rows.groupBy("gram").agg(
        F.sort_array(F.collect_set("src")).alias("_ss")
    )
    sizes = (
        by_gram.select(F.explode("_ss").alias("src"))
        .groupBy("src")
        .agg(F.count("*").alias("n_grams"))
    )
    shared = (
        by_gram.select(
            "_ss", F.posexplode("_ss").alias("_i", "source_a")
        )
        .select(
            "source_a",
            F.explode(
                F.slice(
                    F.col("_ss"),
                    F.col("_i") + F.lit(2),
                    F.greatest(
                        F.size("_ss") - F.col("_i") - F.lit(1), F.lit(0)
                    ),
                )
            ).alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(
        F.col("src").alias("source_a"), F.col("n_grams").alias("grams_a")
    )
    sb = sizes.select(
        F.col("src").alias("source_b"), F.col("n_grams").alias("grams_b")
    )
    return (
        shared.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "grams_a",
            "grams_b",
            "shared",
            F.round(
                F.col("shared")
                / (F.col("grams_a") + F.col("grams_b") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )


def ngram_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Corpus-level n-gram diversity per group: ``(group, total_ngrams,
    distinct_ngrams, diversity)`` with diversity = distinct/total —
    the self-repetition metric (1.0 = never repeats an n-gram; low
    values = template/boilerplate-heavy feeds).  Complements
    ``repetition_stats`` (within-document) at feed granularity.

    One explode + one two-level hash aggregate: (group, gram) counts
    collapse map-side, then |groups| rows of totals.  No pair joins,
    no distinct over raw grams (the count table IS the distinct set).
    """
    from .spread import spread_small_scan

    df = spread_small_scan(df, text_col)
    toks = tokens(text_col)
    grams = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))
                    ),
                    lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
                )
            ).alias("gram"),
        )
        .filter(F.size(F.split(F.col("gram"), " ")) == n)
    )
    counts = grams.groupBy("grp", "gram").agg(F.count("*").alias("c"))
    return (
        counts.groupBy("grp")
        .agg(
            F.sum("c").alias("total_ngrams"),
            F.count("*").alias("distinct_ngrams"),
        )
        .select(
            F.col("grp").alias(group_col),
            "total_ngrams",
            "distinct_ngrams",
            F.round(
                F.col("distinct_ngrams") / F.col("total_ngrams"), 6
            ).alias("diversity"),
        )
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    lowercase: bool = True,
) -> DataFrame:
    """Pointwise-mutual-information collocation mining over adjacent
    word pairs: ``(w1, w2, pair_count, pmi)`` for every bigram seen at
    least ``min_count`` times, with

        pmi = ln( (c_ab / N_b) / ((c_a / N_u) * (c_b / N_u)) )

    where ``N_u``/``N_b`` are the corpus-wide unigram/bigram totals.
    High-PMI pairs are multiword expressions ("hong kong", "et al") —
    the standard signal for tokenizer vocab seeding and for template
    detection in corpus curation.

    Plan: two scans of the text column — one exploding unigrams, one
    exploding adjacent pairs — each collapsing into a hash aggregate
    with map-side partials.  The pair table is filtered to
    ``min_count`` BEFORE the two unigram-count joins, so the joins see
    only surviving collocations; totals ride along as broadcast 1-row
    frames.  No caching: at corpus scale, re-scanning a pruned parquet
    column twice beats materializing the token explosion (which is
    ~10x the text itself).
    """
    c = F.col(text_col)
    if lowercase:
        c = F.lower(c)
    toks = tokens(c)
    base = df.filter(F.col(text_col).isNotNull())

    uni = (
        base.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n_u = uni.agg(F.sum("c").cast("double").alias("_nu"))

    t = toks
    pairs = (
        base.filter(F.size(t) >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(t, 1, F.size(t) - 1).alias("w1"),
                    F.slice(t, 2, F.size(t) - 1).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    n_b = pairs.agg(F.sum("pair_count").cast("double").alias("_nb"))

    survivors = pairs.filter(F.col("pair_count") >= min_count)
    return (
        survivors.join(
            uni.select(F.col("w").alias("w1"), F.col("c").alias("_c1")),
            "w1",
        )
        .join(
            uni.select(F.col("w").alias("w2"), F.col("c").alias("_c2")),
            "w2",
        )
        .crossJoin(F.broadcast(n_b))
        .crossJoin(F.broadcast(n_u))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.log(
                (F.col("pair_count") / F.col("_nb"))
                / (
                    (F.col("_c1") / F.col("_nu"))
                    * (F.col("_c2") / F.col("_nu"))
                )
            ).alias("pmi"),
        )
    )


def importance_resample(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 1.0,
    seed: str = "dsir",
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al.
    2023): pick the ``k`` raw documents whose hashed-token profile
    looks most like the TARGET corpus, via Gumbel-top-k on the
    importance log-weight.  The standard "select pretraining data
    that matches a trusted domain" primitive.

    Model: both corpora are bag-of-hashed-tokens distributions over
    ``n_buckets`` buckets (md5-portable hash — every stage replays
    bit-for-bit on any engine).  A document's importance weight is

        log w(doc) = Σ_tokens  ln p_target(b(tok)) − ln p_raw(b(tok))

    with Laplace-``alpha`` smoothing on both distributions.  Sampling
    without replacement ∝ w is Gumbel-top-k: ``score = log w +
    g(id)`` with ``g = −ln(−ln u)`` and ``u`` the engine's
    content-addressed md5 uniform (the ``weighted_sample`` family),
    so the selection is deterministic across runs, partitionings, and
    engines.

    Plan: two bucket-count hash aggregates (one per corpus — B-row
    results), a full-outer bucket join + 1-row totals to build the
    broadcast log-ratio table, one token explode + broadcast join +
    per-doc sum for the weights, and a TakeOrderedAndProject top-k —
    no shuffle ever carries more than tokens×1 rows, and the
    log-ratio table is ``n_buckets`` rows regardless of corpus size.
    Documents with no tokens after normalization drop out (their
    profile is undefined).

    Returns ``(id_col, n_tokens, log_weight, score)``, the ``k``
    highest scores (ties broken by id).
    """
    from .dedup import _normalized

    if k < 1:
        raise ValueError("importance_resample: k must be >= 1")
    if n_buckets < 2:
        raise ValueError("importance_resample: n_buckets must be >= 2")

    def _buckets(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias("_id"),
                F.explode(
                    F.split(_normalized(F.col(text_col)), " ")
                ).alias("_tok"),
            )
            .filter(F.col("_tok") != "")
            .withColumn(
                "_b",
                (
                    F.conv(
                        F.substring(F.md5(F.col("_tok")), 1, 15), 16, 10
                    ).cast("long")
                    % n_buckets
                ).cast("int"),
            )
        )

    rt = _buckets(raw)
    tt = _buckets(target)
    rc = rt.groupBy("_b").agg(F.count(F.lit(1)).alias("_cr"))
    tc = tt.groupBy("_b").agg(F.count(F.lit(1)).alias("_ct"))
    grid = raw.sparkSession.range(n_buckets).select(
        F.col("id").cast("int").alias("_b")
    )
    counts = (
        grid.join(rc, "_b", "left")
        .join(tc, "_b", "left")
        .fillna(0, subset=["_cr", "_ct"])
    )
    tot = counts.agg(
        F.sum("_cr").alias("_nr"), F.sum("_ct").alias("_nt")
    )
    a = F.lit(float(alpha))
    ab = F.lit(float(alpha) * n_buckets)
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "_b",
        (
            F.log((F.col("_ct") + a) / (F.col("_nt") + ab))
            - F.log((F.col("_cr") + a) / (F.col("_nr") + ab))
        ).alias("_lr"),
    )
    weights = (
        rt.join(F.broadcast(lr), "_b")
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_lr").alias("_lw"),
        )
    )
    space = float(1 << 60)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed), F.lit(":"), F.col("_id").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    u = (h.cast("double") + F.lit(1.0)) / F.lit(space)
    gumbel = -F.log(-F.log(u))
    scored = weights.withColumn("_score", F.col("_lw") + gumbel)
    return (
        scored.orderBy(F.col("_score").desc(), F.col("_id").asc())
        .limit(int(k))
        .select(
            F.col("_id").alias(id_col),
            "n_tokens",
            F.round("_lw", 6).alias("log_weight"),
            F.round("_score", 6).alias("score"),
        )
    )


def ctfidf_terms(
    df: DataFrame,
    class_col: str = "source",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Class-based TF-IDF (the BERTopic c-TF-IDF form): the top-``k``
    DISTINCTIVE terms per class — ``score(t, c) = tf_{t,c} ·
    ln(1 + A / f_t)`` with ``f_t`` the term's total frequency across
    ALL classes and ``A`` the average token count per class.  Where
    ``tfidf_top_terms`` characterizes a document, this characterizes a
    PARTITION of the corpus (a source, a cluster, a topic): terms
    common everywhere (high ``f_t``) are damped, terms concentrated in
    one class surface.  Returns ``(class, term, tf, score, rank)``.

    Plan: one explode → (class, term) hash aggregate (map-side combine
    folds the corpus to |classes|·|vocab| rows); term totals and the
    1-row ``A`` fold derive from that SAME aggregate (no second corpus
    scan); the term-totals join is vocabulary-sized (equi join, not a
    broadcast — vocabulary outgrows executors at 100 TB); the final
    top-k window partitions by class over the aggregated frame.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    tf = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(class_col).alias("_cls"), F.explode(toks).alias("term"))
        .groupBy("_cls", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    totals = tf.groupBy("term").agg(F.sum("tf").alias("_ft"))
    a_row = tf.groupBy("_cls").agg(F.sum("tf").alias("_ctoks")).agg(
        F.avg("_ctoks").alias("_A")
    )
    scored = (
        tf.join(totals, "term")
        .join(F.broadcast(a_row))
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * F.log(
                F.lit(1.0) + F.col("_A") / F.col("_ft").cast("double")
            ),
        )
    )
    w = Window.partitionBy("_cls").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_cls").alias(class_col),
            "term",
            "tf",
            F.round("score", 6).alias("score"),
            "rank",
        )
    )


def span_corruption(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corruption_rate: float = 0.15,
    span_len: int = 3,
    seed: str = "span",
) -> DataFrame:
    """T5-style span-corruption mask plan: one row per masked span,
    ``(id, span_id, start_token, span_len, n_tokens, n_spans)`` —
    the denoising-objective prep step (mask ~corruption_rate of each
    document's tokens in fixed-length spans, train the model to
    reconstruct them).  The plan is fully DETERMINISTIC and
    content-addressed: ``n_spans = min(floor(n·rate/len),
    floor(n/len))`` spans, one per equal-width segment, each placed
    at ``md5(seed:id:span_id) mod (segment_len − span_len + 1)``
    inside its segment — guaranteed non-overlapping, in-bounds,
    reproducible across runs / shards / engines (the
    ``stable_sample`` md5 convention; T5 samples spans from a
    spread-out distribution, this fixes the count and spreads
    placement uniformly — same corruption budget, replayable).
    Documents too short for one span produce no rows.  Tokens are
    whitespace-split positions (the ``token_count`` convention).

    Plan: pure per-row projection + ``explode(sequence())`` — zero
    shuffles, zero UDFs; embarrassingly parallel at any corpus size.
    """
    if not (0.0 < corruption_rate < 1.0):
        raise ValueError(
            "span_corruption: corruption_rate must be in (0, 1)"
        )
    if span_len < 1:
        raise ValueError("span_corruption: span_len must be >= 1")
    t = F.trim(F.col(text_col))
    n = F.when(t == "", F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    k = F.least(
        F.floor(
            n.cast("double") * F.lit(float(corruption_rate))
            / F.lit(float(span_len))
        ),
        F.floor(n / F.lit(int(span_len))),
    ).cast("long")
    base = df.select(
        F.col(id_col).alias("id"),
        n.cast("long").alias("n_tokens"),
        k.alias("n_spans"),
    ).filter(F.col("n_spans") >= 1)
    spans = base.withColumn(
        "span_id",
        F.explode(
            F.sequence(F.lit(0), (F.col("n_spans") - 1).cast("int"))
        ),
    )
    seg = F.floor(F.col("n_tokens") / F.col("n_spans"))
    room = seg - F.lit(int(span_len)) + F.lit(1)
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed),
                    F.lit(":"),
                    F.col("id").cast("string"),
                    F.lit(":"),
                    F.col("span_id").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    start = F.col("span_id") * seg + F.pmod(h, room)
    return spans.select(
        "id",
        F.col("span_id").cast("int").alias("span_id"),
        start.cast("long").alias("start_token"),
        F.lit(int(span_len)).cast("int").alias("span_len"),
        "n_tokens",
        F.col("n_spans").cast("int").alias("n_spans"),
    )
