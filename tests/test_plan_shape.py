"""Plan-shape regression tests: the optimizations we rely on must stay
visible in the physical plan (pushdown, pruning, broadcast joins)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import __spark_entry__ as entry_mod


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filters_push_to_parquet_scan(spark, sf_dir):
    plan = _plan(entry_mod.q_proj_filter(spark, sf_dir))
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice,50000.0)" in plan
    # column pruning: the scan must not read unprojected columns
    assert "o_orderpriority" not in plan


def test_dimension_joins_broadcast(spark, sf_dir):
    plan = _plan(entry_mod.q_multiway_join(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_bbox_join_broadcasts_polygon_side(spark, sf_dir):
    plan = _plan(entry_mod.q_spatial_bbox_join(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_asof_join_single_shuffle_no_rangejoin(spark, sf_dir):
    plan = _plan(entry_mod.q_asof_join(spark, sf_dir))
    # union-and-carry: a window over the key, never a nested-loop range join
    assert "Window" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_join_is_equi_join(spark, sf_dir):
    plan = _plan(entry_mod.q_range_join_bucketed(spark, sf_dir))
    # bucketing converts the range predicate to a hash-joinable key
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) \
        or ("ShuffledHashJoin" in plan)
    assert "BroadcastNestedLoopJoin" not in plan


def test_rollup_is_single_pass(spark, sf_dir):
    plan = _plan(entry_mod.q_multi_resolution_rollup(spark, sf_dir))
    # grouping sets = one Expand + one aggregation pipeline over one scan;
    # a naive two-pass version would Union two aggregations
    assert "Expand" in plan
    assert "Union" not in plan


def test_pricing_summary_partial_aggregation(spark, sf_dir):
    plan = _plan(entry_mod.q_pricing_summary(spark, sf_dir))
    # map-side partial aggregation around exactly one shuffle
    assert plan.count("HashAggregate") >= 2
    assert plan.count("+- Exchange") == 1


def test_ivf_topk_builds_lazily_no_driver_collect(spark):
    """Centroid selection must be part of the plan, not an eager driver
    collect at construction time. A corpus whose id column explodes on
    evaluation proves nothing runs until an action is taken."""
    from pyspark.sql import functions as F

    from moz_datapipeline_spark.operators.similarity import ivf_topk

    @F.udf("long")
    def _boom(x):
        raise RuntimeError("corpus was evaluated during plan construction")

    base = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1)).cast("double") for i in range(4)]).alias(
            "embedding"
        ),
    )
    corpus = base.withColumn("vec_id", _boom("vec_id"))
    # old implementation collected every corpus id right here and raised
    df = ivf_topk(corpus, base.limit(2), n_centroids=4, nprobe=2, k=2)
    assert df.columns == ["query_id", "corpus_id", "cosine", "rank"]


def test_ivf_topk_centroids_take_ordered(spark):
    from pyspark.sql import functions as F

    from moz_datapipeline_spark.operators.similarity import ivf_topk

    base = spark.range(50).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") * (i + 1)).cast("double") for i in range(4)]).alias(
            "embedding"
        ),
    )
    plan = _plan(ivf_topk(base, base.limit(2), n_centroids=4, nprobe=2, k=2))
    # the centroid sample is a bounded ordered-limit, never a full sort
    # materialized to the driver
    assert ("TakeOrderedAndProject" in plan) or ("GlobalLimit" in plan)


def test_argmin_join_is_partial_agg_not_sort_window(spark, sf_dir):
    plan = _plan(entry_mod.q_argmin_join(spark, sf_dir))
    # argmin-only: min-over-struct aggregation with map-side partials —
    # the shuffle carries one partial row per key per partition, never
    # the whole table into a row_number window
    assert "Window" not in plan
    assert "partial_min" in plan


def test_trapezoid_single_exchange(spark, sf_dir):
    """Dedup agg + lead window + final agg must share ONE shuffle: the
    subset partitioning on the parent key satisfies all three."""
    import re

    plan = _plan(entry_mod.q_trapezoid_integration(spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_doc_chunks_is_shuffle_free(spark, sf_dir):
    """Token-window chunking is a pure map stage — no Exchange at all."""
    plan = _plan(entry_mod.q_doc_chunks(spark, sf_dir))
    assert "Exchange" not in plan


def test_redact_pii_is_pure_codegen(spark, sf_dir):
    """PII scrub: single scan, no shuffle, no python UDF."""
    plan = _plan(entry_mod.q_redact_pii(spark, sf_dir))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_conditional_agg_partial(spark, sf_dir):
    """Q12 shape: both conditional sums fold in ONE aggregate with a
    map-side partial before the group shuffle."""
    import re

    plan = _plan(entry_mod.q_conditional_agg_priority(spark, sf_dir))
    assert "HashAggregate" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key eliminates the join shuffle
    entirely — the strategy for repeated big-big joins at 100 TB (pay
    one shuffle at write time, join shuffle-free forever after)."""
    import re

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    for name, df, key in (("li_b", li, "l_orderkey"), ("o_b", o, "o_orderkey")):
        df.write.bucketBy(8, key).sortBy(key).mode("overwrite").format(
            "parquet"
        ).option("path", str(tmp_path / name)).saveAsTable(name)
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("li_b").join(
            spark.table("o_b"),
            spark.table("li_b")["l_orderkey"]
            == spark.table("o_b")["o_orderkey"],
        )
        plan = _plan(joined)
        # a sort-merge join fed directly by the bucketed scans
        assert "SortMergeJoin" in plan
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        for t in ("li_b", "o_b"):
            spark.sql(f"DROP TABLE {t}")


def test_disjunctive_filter_pushes_or_envelopes(spark, sf_dir):
    """Q19 shape: Catalyst must derive the per-side disjunct envelopes
    (brand+size on part, quantity range on lineitem) and push both to
    the parquet scans — the join must not see unfiltered rows."""
    plan = _plan(entry_mod.q_disjunctive_filter(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("l_quantity" in l and "Or(" in l for l in pushed), plan
    assert any("p_brand" in l and "Or(" in l for l in pushed), plan


def test_late_shipment_is_broadcast_semi_join(spark, sf_dir):
    """Q4 shape: the EXISTS rewrites to a semi join; the quarter filter
    must reach the orders scan."""
    plan = _plan(entry_mod.q_late_shipment_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    assert any(
        "o_orderdate" in l for l in plan.splitlines() if "PushedFilters" in l
    ), plan


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark n-gram set is eval-set-sized; the probe must be a
    broadcast join, never a shuffle of the 100 TB candidate side."""
    plan = _plan(entry_mod.q_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_vocab_stats_is_partial_agg_topk(spark, sf_dir):
    """Heavy hitters: map-side partial aggregation plus a heap top-k
    (TakeOrderedAndProject), never a global sort."""
    plan = _plan(entry_mod.q_vocab_stats(spark, sf_dir))
    assert "HashAggregate" in plan
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


def test_kmeans_argmin_is_broadcast_hash_agg(spark, sf_dir):
    """Each Lloyd round must be a broadcast nested-loop against the
    k-row centroid side plus a hash-aggregate argmin — the corpus is
    never shuffled by cluster and never sort-windowed."""
    plan = _plan(entry_mod.q_kmeans(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan


def test_random_projection_is_shuffle_free(spark, sf_dir):
    """JL projection is per-row fold arithmetic: no exchange at all."""
    plan = _plan(entry_mod.q_random_projection(spark, sf_dir))
    assert "Exchange" not in plan


def test_polygon_rings_stay_out_of_the_pair_rows(spark, sf_dir):
    """A5 arbitrary-polygon kernel: ring arrays travel once per executor
    via sc.broadcast, never on the candidate (segment × polygon) rows —
    the MapInPandas input must carry area_id but no ring columns."""
    import re

    plan = _plan(entry_mod.q_polygon_indicator(spark, sf_dir))
    blocks = re.split(r"\n\(\d+\) ", plan)
    map_blocks = [b for b in blocks if b.startswith("MapInPandas")]
    assert map_blocks, plan
    for b in map_blocks:
        assert "rings_x" not in b and "rings_y" not in b, b


def test_cheapest_supplier_argmin_no_window(spark, sf_dir):
    """Q2 shape: the correlated min must be a struct-min hash aggregate
    (map-side partials), never a row_number window sort."""
    plan = _plan(entry_mod.q_cheapest_supplier_per_part(spark, sf_dir))
    assert "Window" not in plan
    assert "partial_min" in plan


def test_part_value_concentration_broadcasts_total(spark, sf_dir):
    """Q11 shape: the global total is a one-row broadcast into the
    HAVING filter — no window over the full per-part table."""
    plan = _plan(entry_mod.q_part_value_concentration(spark, sf_dir))
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_waiting_orders_residual_hash_joins(spark, sf_dir):
    """Q21 shape: EXISTS/NOT EXISTS compile to equi hash joins with
    inequality residuals — never a cartesian or nested loop."""
    plan = _plan(entry_mod.q_waiting_orders_suppliers(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_product_profit_part_filter_pushdown(spark, sf_dir):
    """Q9 shape: the p_name LIKE filter must reach the part scan before
    its broadcast join."""
    plan = _plan(entry_mod.q_product_profit(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("p_name" in l for l in pushed), plan


def test_pq_adc_scoring_is_mapside_rank_shuffle_bounded(spark, sf_dir):
    """ADC scoring must be shuffle-free (codes scan × broadcast query
    tables) and the only wide exchange — the global rank — must be fed
    by the map-side partial top-k, so it carries ≤ k rows per
    (partition, query) instead of every scored candidate.  (r13 tried
    replacing the mapInPandas compactor with the JVM WindowGroupLimit
    partial — measured SLOWER, full-partition sort below the exchange;
    reverted, see OPTIMIZATION_r13.md.)"""
    plan = _plan(entry_mod.q_pq_adc(spark, sf_dir))
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    # partial top-k sits upstream (deeper in the tree) of the window rank
    assert plan.index("Window") < plan.index("MapInPandas")


def test_bruteforce_topk_rank_shuffle_bounded(spark, sf_dir):
    """Brute-force cosine: score map-side against broadcast queries,
    then the partial top-k bounds the rank exchange."""
    plan = _plan(entry_mod.queries()["similarity_topk"](spark, sf_dir))
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan
    assert plan.index("Window") < plan.index("MapInPandas")


def test_pq_rerank_broadcasts_candidates_into_corpus_scan(spark, sf_dir):
    """The exact-rerank tail reads full vectors ONLY for the ≈N·|q|
    ADC candidates: both the candidate ids and the query vectors reach
    the corpus scan as broadcasts, never a shuffle of the embeddings."""
    plan = _plan(entry_mod.q_pq_adc_rerank(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_shipping_priority_canonical_q3_plan(spark, sf_dir):
    """Pin the Q3 shape after the r2→r4 bench delta proved to be VM
    noise (quiet medians: 0.90 s vs r2's 0.948 s): filters pushed to
    both scans, hash joins only, partial aggregation, and a group-limit
    top-10 — never a global sort of every group."""
    plan = _plan(entry_mod.q_shipping_priority(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("c_mktsegment" in l for l in pushed), plan
    assert any("o_orderdate" in l for l in pushed), plan
    assert any("l_shipdate" in l for l in pushed), plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "TakeOrderedAndProject" in plan  # top-10 heap, no full sort


def test_json_props_single_agg_no_shuffle_blowup(spark, sf_dir):
    """Pin the json_props shape (same r2→r4 noise finding, 0.386 s vs
    r2's 0.348 s): one scan, JVM json path, one partial+final agg —
    no Python UDF, no join, no window."""
    plan = _plan(entry_mod.q_json_props(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2
    # exactly one physical Exchange node (formatted explain prints each
    # node twice: once in the tree, once in the detail section)
    assert plan.count("+- Exchange") == 1


def test_ivfadc_probed_scoring_stays_broadcast(spark, sf_dir):
    """IVFADC: probed-list scoring joins the broadcast probe tables
    into the coded-corpus scan — no sort-merge join anywhere, and the
    rank exchange is fed by the partial top-k."""
    plan = _plan(entry_mod.q_ivfadc_rerank(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "MapInPandas" in plan
    assert plan.index("Window") < plan.index("MapInPandas")


def test_lm_score_all_jvm_broadcast_model(spark, sf_dir):
    """The LM gate: model counts broadcast into the eval explode (no
    sort-merge join), every aggregation two-phase, zero Python."""
    plan = _plan(entry_mod.q_lm_score(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_pagerank_severs_loop_invariants(spark, sf_dir):
    """r13: each iteration is materialized via checkpoint_sever and its
    predecessor released — the returned plan is a flat scan of the
    final iteration's severed blocks (no session-lifetime persist()
    leaks, no per-iteration plan doubling)."""
    plan = _plan(entry_mod.q_pagerank(spark, sf_dir))
    assert "ExistingRDD" in plan
    assert "InMemoryTableScan" not in plan


def test_duplicate_spans_no_python_two_phase_agg(spark, sf_dir):
    """Substring dedup: explode + hash aggregations + equi join, all
    JVM-side; the rebuild filter is a higher-order function, never a
    Python UDF, and there is no window/sort anywhere."""
    plan = _plan(entry_mod.q_duplicate_spans(spark, sf_dir))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2


def test_split_corpus_is_shuffle_free(spark):
    """The train/val/test split is ONE narrow projection: no exchange,
    no aggregation, no Python anywhere in the plan."""
    from moz_datapipeline_spark.operators.corpus import split_corpus

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = _plan(split_corpus(df, {"train": 0.9, "val": 0.1}))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_shard_corpus_single_exchange(spark):
    """Sharding pays exactly one hash exchange (the per-shard window);
    there is never a global single-partition sort."""
    from moz_datapipeline_spark.operators.corpus import shard_corpus

    df = spark.createDataFrame([(i,) for i in range(100)], "doc_id long")
    plan = _plan(shard_corpus(df, n_shards=8))
    # formatted explain prints each node twice (tree + detail section)
    assert plan.count("+- Exchange") == 1
    assert "SinglePartition" not in plan


def test_bpe_segment_is_narrow_jvm_projection(spark):
    """Serving learned merges: a chain of substring replaces inside
    higher-order functions — no shuffle, no Python."""
    from moz_datapipeline_spark.operators.bpe import bpe_segment

    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    merges = [(0, "a", "b", 2), (1, "ab", "c", 2)]
    plan = _plan(bpe_segment(df, merges))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curation_pipeline_no_python_and_broadcast_decontam(spark, sf_dir):
    """The five-stage curation chain stays JVM-side end to end and the
    benchmark n-gram probe reaches the candidates as a broadcast."""
    plan = _plan(entry_mod.q_curation_pipeline(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_bm25_broadcasts_stats_and_df(spark, sf_dir):
    plan = _plan(entry_mod.q_bm25_topk(spark, sf_dir))
    # df table + 1-row corpus stats both broadcast; top-k is
    # TakeOrderedAndProject (partial per-partition top-k), never a
    # global Sort
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_char_entropy_is_pure_projection(spark, sf_dir):
    # pin the OPERATOR's contract (zero shuffle), not the demo query's
    # — q_char_entropy adds a conditional spread_small_scan exchange
    # for the single-file bench input, which is the caller's choice
    from moz_datapipeline_spark.operators.text import char_entropy

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(char_entropy(docs))
    # per-row HOF fold: no exchange, no Python, no aggregate
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "HashAggregate" not in plan and "SortAggregate" not in plan


def test_validate_is_single_aggregate_pass(spark, sf_dir):
    plan = _plan(entry_mod.q_validate_constraints(spark, sf_dir))
    # the 8-constraint suite compiles to ONE scan of orders: the
    # report fans out (Generate/explode) from a single aggregated row
    # ("Location:" appears once per distinct scan in formatted plans)
    assert plan.count("Location:") == 1
    assert "Generate" in plan


def test_histograms_bucket_with_literal_or_broadcast_bounds(spark, sf_dir):
    # depth_histogram's boundaries now come from exact_quantiles and
    # inline as LITERALS — no join in the bucketing plan at all;
    # value_histogram (equi-width) still broadcasts its 1-row bounds
    plan = _plan(entry_mod.q_value_histogram(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    plan = _plan(entry_mod.q_depth_histogram(spark, sf_dir))
    assert "Join" not in plan  # boundaries are literals, not a join
    assert "SortMergeJoin" not in plan


def test_winsorize_literal_bounds_no_python(spark, sf_dir):
    # clip bounds inline as literals via exact_quantiles: the winsorize
    # projection must carry NO join and no Python evaluation
    plan = _plan(entry_mod.q_winsorize(spark, sf_dir))
    assert "Join" not in plan
    assert "Python" not in plan


def test_anomaly_window_runs_over_rollup_not_raw(spark, sf_dir):
    plan = _plan(entry_mod.q_anomaly_zscore(spark, sf_dir))
    # the window sort consumes the hourly aggregate, so a partial
    # (map-side) aggregation must appear below the Window
    assert "Window" in plan
    assert "partial" in plan.lower()


def test_posting_store_probe_prunes_partitions(spark, sf_dir):
    df = entry_mod.q_posting_store_search(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "tb" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]


def test_profile_is_single_aggregate_pass(spark, sf_dir):
    plan = _plan(entry_mod.q_profile_columns(spark, sf_dir))
    assert plan.count("Location:") == 1
    assert "Generate" in plan


def test_pareto_frontier_no_global_window(spark, sf_dir, monkeypatch):
    # passthrough so .explain shows the computation the sever would
    # hide behind a severed-blocks scan (the capture_plan convention)
    monkeypatch.setenv("SPARK_GRAFT_SEVER_PASSTHROUGH", "1")
    plan = _plan(entry_mod.q_pareto_frontier(spark, sf_dir))
    # the strict prefix min must ride the two-phase scheme: a range
    # exchange over the group table, never a whole-table
    # single-partition sort (SinglePartition feeds only the tiny
    # |partitions|-row bases window), and never a quadratic join
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_group_sample_single_window_no_join(spark, sf_dir):
    plan = _plan(entry_mod.q_group_sample(spark, sf_dir))
    # one rank window, zero joins (the formatted dump names each node
    # several times, so assert presence + absence, not a count)
    assert "Window" in plan
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan


def test_interval_coverage_group_windows_only(spark, sf_dir):
    plan = _plan(entry_mod.q_interval_coverage(spark, sf_dir))
    # both window passes hash-partition on the group — no global sort,
    # no SinglePartition exchange anywhere
    assert "Window" in plan
    assert "singlepartition" not in plan.lower()
    assert "CartesianProduct" not in plan


def test_relational_division_no_double_anti_join(spark, sf_dir):
    plan = _plan(entry_mod.q_relational_division(spark, sf_dir))
    # count-matching form: a semi join + aggregate, never the
    # double-NOT-EXISTS anti joins; the only nested-loop joins are the
    # broadcast 1-row divisor-count cross joins (benign by size)
    assert "LeftAnti" not in plan
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_pmi_min_count_filters_before_count_joins(spark, sf_dir):
    plan = _plan(entry_mod.q_pmi_collocations(spark, sf_dir))
    # the pair table is pruned by min_count before joining the unigram
    # counts: the filter on pair_count must sit below the joins
    assert "pair_count" in plan
    joins = plan.lower().count("sortmergejoin") + plan.lower().count(
        "shuffledhashjoin"
    ) + plan.lower().count("broadcasthashjoin")
    assert joins >= 2  # two unigram joins survive


def test_set_similarity_never_cartesian(spark, sf_dir):
    plan = _plan(entry_mod.q_set_similarity(spark, sf_dir))
    # prefix-filter candidates are an equi join on the shared token —
    # an all-pairs CartesianProduct/BNLJ anywhere means the lossless
    # candidate scheme regressed to quadratic
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_link_prediction_wedge_equi_join(spark, sf_dir):
    plan = _plan(entry_mod.q_link_prediction(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_importance_resample_broadcasts_ratio_table(spark, sf_dir):
    plan = _plan(entry_mod.q_importance_resample(spark, sf_dir))
    # the B-row log-ratio table must broadcast onto the token stream,
    # and top-k must be TakeOrderedAndProject, not a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_ks_drift_no_global_single_partition_window(spark, sf_dir):
    from moz_datapipeline_spark.operators.validation import ks_test

    li = entry_mod._t(spark, sf_dir, "lineitem")
    a = li.limit(500)
    b = li.limit(800)
    # the two-phase scheme's windows are all partitioned by _pid; a
    # bare `Window [... ORDER BY v]` with no partition spec would be
    # the single-partition trap.  ks_test materializes internally, so
    # inspect the component frames via a small run instead: the
    # operator must leave no cached RDDs and return one row.
    before = {
        r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    out = ks_test(a, b, "l_extendedprice")
    assert out.count() == 1
    # id-set difference, not a raw count: concurrent tests in the
    # shared session may unpersist THEIR caches between the two reads
    after = {
        r.id() for r in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert not (after - before)


def test_dirichlet_lm_broadcast_and_topk(spark, sf_dir):
    plan = _plan(entry_mod.q_query_likelihood(spark, sf_dir))
    # corpus stats + cf tables broadcast; top-k never a global sort
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rake_no_python_no_cartesian(spark, sf_dir):
    plan = _plan(entry_mod.q_rake_keyphrases(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_ohlc_single_aggregate_no_window(spark, sf_dir):
    # OHLC is ONE hash aggregate: open/close as struct argmin folds,
    # never a per-row window sort over the raw events
    plan = _plan(entry_mod.q_ohlc_bars(spark, sf_dir))
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_target_encode_broadcasts_category_table(spark, sf_dir):
    plan = _plan(entry_mod.q_target_encode(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_standardize_embeddings_no_second_data_shuffle(spark, sf_dir):
    # the mean/std arrays broadcast back as ONE row; re-assembly via a
    # corpus-wide collect_list shuffle would show a second data-sized
    # exchange keyed by vec_id — there must be none
    plan = _plan(entry_mod.q_embedding_standardize(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_margin_mining_lsh_no_cartesian(spark, sf_dir):
    # the ANN-fed path must never fall back to a cross product: the
    # candidate join is (table, bucket) equi, vectors re-join by id
    plan = _plan(entry_mod.q_margin_mining_lsh(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_pr_curve_no_data_sized_global_window(spark, sf_dir, monkeypatch):
    """The PR curve's cumulative sums must ride the two-phase prefix
    (range partition + _pid-local windows + broadcast bases) — a
    SinglePartition exchange feeding a data-sized window is the sort
    that never finishes at 100 TB.  The only SinglePartition allowed
    is the |partitions|-row bases fold.  Passthrough so the plan shows
    the computation the r13 checkpoint_sever would hide behind a
    severed-blocks scan."""
    monkeypatch.setenv("SPARK_GRAFT_SEVER_PASSTHROUGH", "1")
    plan = _plan(entry_mod.q_pr_curve(spark, sf_dir))
    assert "RangePartitioning" in plan or "rangepartitioning" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spearman_ranks_are_two_phase(spark, sf_dir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_SEVER_PASSTHROUGH", "1")
    plan = _plan(entry_mod.q_spearman_correlation(spark, sf_dir))
    # two per-column range exchanges, never a global row_number
    assert plan.count("rangepartitioning") >= 2 or plan.count(
        "RangePartitioning"
    ) >= 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rolling_features_window_is_group_partitioned(spark, sf_dir):
    """The bounded ROWS window must be hash-partitioned by group —
    SinglePartition would serialize the rollup through one task."""
    plan = _plan(entry_mod.q_rolling_features(spark, sf_dir))
    assert "SinglePartition" not in plan


def test_clustering_coefficient_no_cartesian(spark, sf_dir):
    """Wedge join + closure join + degree join: all equi joins on the
    oriented keys — never a cross product."""
    plan = _plan(entry_mod.q_clustering_coefficient(spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_cramers_v_totals_broadcast(spark, sf_dir):
    """Row/column totals re-aggregate from the matrix-sized rollup and
    broadcast back — the contingency cells must never sort-merge."""
    plan = _plan(entry_mod.q_cramers_v_assoc(spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_sequence_ngrams_one_window_then_partial_agg(spark, sf_dir):
    """The only data-sized exchange is the user-hash window; the gram
    rollup has a map-side partial aggregate and no global sort."""
    plan = _plan(entry_mod.q_sequence_ngrams(spark, sf_dir))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Window") >= 1


def test_modularity_totals_broadcast_no_cartesian(spark, sf_dir):
    """The 2m scalar rides a broadcast; no cartesian product, no
    global window anywhere in the plan."""
    plan = _plan(entry_mod.q_modularity(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_modularity_move_winner_is_group_limited(spark, sf_dir):
    """Per-node winner selection is a min_by hash aggregate (r13
    re-plan) — no per-node window sort, no cartesian product."""
    plan = _plan(entry_mod.q_modularity_move(spark, sf_dir))
    assert "min_by" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ols_fit_single_moment_aggregate(spark, sf_dir):
    """One data-sized aggregate computes every moment (map-side
    combined); the Cramer solve adds NO further exchange over data."""
    import re

    plan = _plan(entry_mod.q_ols_fit(spark, sf_dir))
    assert "partial_sum" in plan
    # exactly one shuffle: the moment aggregate's group exchange
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Window" not in plan


def test_grid_knn_no_cartesian_group_limited(spark, sf_dir):
    plan = _plan(entry_mod.q_grid_knn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_quantile_bin_assignment_adds_no_shuffle(spark, sf_dir):
    """After the breakpoint pass, bin assignment is a scalar codegen
    expression: the consuming rollup plan holds one aggregate
    exchange and no join or window."""
    import re

    plan = _plan(entry_mod.q_quantile_bin(spark, sf_dir))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1
    assert "Join" not in plan
    assert "Window" not in plan


def test_interval_overlap_no_cartesian_single_bucket_join(spark, sf_dir):
    plan = _plan(entry_mod.q_interval_overlap(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_touch_attribution_no_global_window(spark, sf_dir):
    """Every window partitions by user (or user+window id) — never a
    partition-less global sort."""
    plan = _plan(entry_mod.q_touch_attribution(spark, sf_dir))
    assert "CartesianProduct" not in plan
    import re

    # no empty partition spec: windowspecdefinition always keyed
    assert not re.search(r"windowspecdefinition\(_w?ts", plan)


def test_kruskal_ranks_never_single_task_over_data(
    spark, sf_dir, monkeypatch
):
    """The rank scan must be the two-phase scheme: a range exchange
    feeding partition-local windows — never one global all-rows
    window (the partitionBy() smell).  Passthrough so the plan shows
    the scan the checkpoint would hide behind a severed-blocks scan."""
    monkeypatch.setenv("SPARK_GRAFT_SEVER_PASSTHROUGH", "1")
    plan = _plan(entry_mod.q_kruskal_wallis(spark, sf_dir))
    assert "rangepartitioning(_v" in plan
    # the only unpartitioned window runs over the |partitions|-row
    # bases frame, whose input is a tiny hash aggregate, and the
    # final folds are plain hash aggregates
    assert "HashAggregate" in plan


def test_periodogram_no_sort_no_window(spark, sf_dir):
    """Pure rollup → explode → hash aggregate: the plan must carry
    no Window and no Sort at all."""
    plan = _plan(entry_mod.q_periodogram(spark, sf_dir))
    assert "Window" not in plan
    assert "Generate" in plan  # the harmonic explode
    assert "HashAggregate" in plan


def test_span_corruption_zero_exchange(spark, sf_dir):
    """Mask planning is a pure projection + explode: no exchange
    anywhere in the plan."""
    plan = _plan(entry_mod.q_span_corruption(spark, sf_dir))
    assert "Exchange" not in plan
    assert "Generate" in plan


def test_uplift_bins_two_phase_prefix(spark, sf_dir, monkeypatch):
    # passthrough: the scan's checkpoint would hide the range exchange
    monkeypatch.setenv("SPARK_GRAFT_SEVER_PASSTHROUGH", "1")
    plan = _plan(entry_mod.q_uplift_bins(spark, sf_dir))
    assert "rangepartitioning(_v" in plan


def test_ridge_fit_single_data_aggregate(spark, sf_dir):
    """The moment rollup is ONE partial+final hash-aggregate pair
    over the data; no join appears anywhere."""
    plan = _plan(entry_mod.q_ridge_fit(spark, sf_dir))
    assert "Join" not in plan
    # one partial+final pair; "formatted" lists each node twice
    # (tree + details), so 2 physical nodes == 4 mentions
    assert plan.count("HashAggregate") == 4


def test_mcnemar_single_aggregate_no_join(spark, sf_dir):
    plan = _plan(entry_mod.q_mcnemar_test(spark, sf_dir))
    assert "Join" not in plan


def test_pettitt_windows_group_partitioned(spark, sf_dir):
    """Every window must be partitioned by grp (or finer) — no
    all-rows window over the rollup."""
    plan = _plan(entry_mod.q_pettitt_changepoint(spark, sf_dir))
    import re

    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected window specs in the pettitt plan"
    for spec in specs:
        assert spec.startswith("grp#"), spec


def test_random_walks_no_degree_amplified_probe(spark, sf_dir):
    """Each hop must be a 1:1 join of the frontier against the |V|-row
    adjacency array — never a probe of the |E|-row index on node alone
    with a post-join idx filter (the round-11 shape, degree-amplified),
    and never a per-hop Window re-derivation of the neighbor index."""
    plan = _plan(entry_mod.q_random_walks(spark, sf_dir))
    assert "Window" not in plan  # index is one hash agg, not a window
    assert "element_at" in plan  # next node resolved from carried array
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the adjacency build is ONE collect_set aggregate, materialized
    # once (checkpoint_sever) — hops scan its blocks, not the edges
    assert plan.count("collect_set") <= 2  # partial+final of one agg


def test_grid_dbscan_no_cartesian_cell_bounded(spark, sf_dir):
    """The epsilon join must be the 9-offset cell equi join — never a
    cartesian/nested-loop pairing — and clustering must run on the
    contracted cell graph, not a point-sized window."""
    plan = _plan(entry_mod.q_grid_dbscan(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" not in plan


def test_psm_att_no_global_window_no_cartesian(spark, sf_dir):
    """Matching must ride the caliper-bucket equi join + min-struct
    aggregate — never a global-order window or a cartesian pairing."""
    plan = _plan(entry_mod.q_psm_att(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_zorder_layout_single_range_exchange(spark, sf_dir):
    """The layout is ONE range repartition on the generated key —
    no sort-based global ordering, no extra hash exchanges from the
    key computation (pure projection)."""
    plan = _plan(entry_mod.q_zorder_layout(spark, sf_dir))
    assert plan.count("rangepartitioning") >= 1 or "REPARTITION" in plan
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_record_linkage_blocked_equi_join_only(spark, sf_dir):
    plan = _plan(entry_mod.q_record_linkage(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cumulative_incidence_windows_rollup_sized(spark, sf_dir):
    """All windows run over the duration rollup AFTER aggregation —
    the plan must aggregate before any window (never a data-sized
    window)."""
    plan = _plan(entry_mod.q_cumulative_incidence(spark, sf_dir))
    assert "Window" in plan
    # the scan feeds a hash aggregate before any window node: crude
    # but effective — the aggregate count must be >= 2 (partial+final
    # pairs for the rollups)
    assert plan.count("HashAggregate") >= 2


def _executed_nodes(df) -> list[tuple[int, str]]:
    """Run ``df`` and return (depth, node name) for every node of its
    executed physical plan — the final plan when AQE re-planned it."""
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in text:
        text = text.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    nodes = []
    for line in text.splitlines():
        body = line.lstrip(" :+-")
        if not body:
            continue
        depth = len(line) - len(body)
        if body.startswith("*("):  # whole-stage codegen marker
            body = body.split(") ", 1)[1]
        nodes.append((depth, body.split()[0]))
    return nodes


def _engine_frames(spark):
    from test_routing_fixture import OD_NODES, TRAFFIC, edges_pdf, way_props_pdf

    from moz_datapipeline_spark.graph.criticality import criticality_scores
    from moz_datapipeline_spark.graph.eaul import eaul_scores

    return {
        "criticality": criticality_scores(spark, edges_pdf(), OD_NODES),
        "eaul": eaul_scores(
            spark, edges_pdf(), way_props_pdf(), OD_NODES, TRAFFIC
        ),
    }


def test_scenario_fanouts_run_the_kernel_once_without_shuffle(spark):
    """Criticality and EAUL fan out as ONE mapInPandas pass over the
    local scenario frame: no grouped-map kernel (per-group sort and
    Arrow framing), no exchange in front of the kernel, and the kernel
    planned once — an aggregate cross-joined back onto the kernel's
    output would plan it twice."""
    for name, df in _engine_frames(spark).items():
        nodes = _executed_nodes(df)
        names = [n for _, n in nodes]
        assert names.count("MapInPandas") == 1, (name, names)
        assert "FlatMapGroupsInPandas" not in names, (name, names)
        at = names.index("MapInPandas")
        depth = nodes[at][0]
        below = []
        for d, n in nodes[at + 1:]:
            if d <= depth:
                break
            below.append(n)
        assert not any("Exchange" in n for n in below), (name, below)


def _python_nodes(names: list[str]) -> list[str]:
    """The plan nodes that run Python workers (pandas/Arrow UDFs and
    maps, batch Python UDFs)."""
    return [
        n for n in names if "Python" in n or "Pandas" in n or n == "MapInArrow"
    ]


def test_margin_mining_scores_in_one_block_kernel(spark, sf_dir):
    """The exact path scores the A×B grid once, inside one Python block
    kernel: no broadcast nested-loop grid and no interpreted cosine."""
    df = entry_mod.q_margin_mining(spark, sf_dir)
    names = [n for _, n in _executed_nodes(df)]
    assert _python_nodes(names) == ["MapInPandas"], names
    assert "BroadcastNestedLoopJoin" not in names, names
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "zip_with" not in plan


def test_margin_mining_lsh_has_no_python_node(spark, sf_dir):
    """The candidate path stays JVM-side: pushing its candidate grid
    through Arrow multiplied its time (OPTIMIZATION_r12.md)."""
    names = [
        n for _, n in _executed_nodes(entry_mod.q_margin_mining_lsh(spark, sf_dir))
    ]
    assert not _python_nodes(names), names


def test_item_similarity_plans_projection_once(spark, sf_dir):
    """The cosine readout reuses the projection's own item degrees and
    mirrors each pair with one generator: the projection is planned
    once (no ``Union`` of it with its mirror, no second degree count
    from the raw edges)."""
    df = entry_mod.q_item_similarity(spark, sf_dir)
    sc = spark.sparkContext
    group = "item_similarity_plan_once"
    sc.setJobGroup(group, group)
    try:
        names = [n for _, n in _executed_nodes(df)]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert "Union" not in names, names
    assert names.count("ShuffleQueryStage") <= 5, names
    assert names.count("BroadcastQueryStage") <= 3, names
    assert len(jobs) <= 7, len(jobs)
