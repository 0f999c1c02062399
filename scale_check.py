#!/usr/bin/env python
"""Scale rehearsal: the dedup pipeline on a synthetic 50k-document corpus.

The driver's scale factors top out at 5k documents; this script
amplifies sf0.1 ×10 with deterministic mutations (so real near-dup
structure exists), then times the full near-dup path:

    minhash signatures → LSH candidates → exact Jaccard verify →
    connected components → representative filter

and measures LSH RECALL against constructed ground truth: the corpus is
10 deterministic mutations per original, so the true near-dup pairs are
exactly the same-origin pairs whose 3-gram Jaccard clears the
threshold — computable exactly (225k pairs), no all-pairs scan.

A second rehearsal times the EAUL scenario engine on a synthetic
national-scale MULTI-EDGE network (grid, ~2.3k ways × 3 edges, 138 OD
zones, matching the reference's traffic_matrix.csv width) and compares
the closed-form min-plus overlay per scenario against the full
recompute it replaced.

Run: python scale_check.py [--only SECTION[,SECTION]]
(writes nothing outside /tmp; one JSON line; ``--only`` runs the named
sections of ``SECTIONS`` alone and skips building the amplified corpus
unless one of them takes it)
"""

from __future__ import annotations

import json
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from moz_datapipeline_spark.operators.components import (
    connected_components,
    dedup_keep_representatives,
)
from moz_datapipeline_spark.operators.dedup import (
    minhash_lsh_candidates,
    minhash_signatures,
    ngram_jaccard_pairs,
)
from moz_datapipeline_spark.session import get_spark


def amplified_corpus(spark, base_path: str, copies: int = 10):
    """×copies corpus: copy 0 is pristine; other copies mutate the text
    deterministically (drop the k-th word) so near-dups are real."""
    base = spark.read.parquet(base_path)
    n = base.count()
    parts = []
    for c in range(copies):
        mutated = base.select(
            (F.col("doc_id") + c * n).alias("doc_id"),
            F.when(F.lit(c) == 0, F.col("text")).otherwise(
                # drop word (c mod 7): a small, deterministic edit
                F.array_join(
                    F.filter(
                        F.split("text", r"\s+"),
                        lambda w, i: i != F.lit(c % 7),
                    ),
                    " ",
                )
            ).alias("text"),
        )
        parts.append(mutated)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32)


def lsh_recall(docs, n_origins: int, cands, threshold: float = 0.8):
    """Recall of the LSH candidate set against exact ground truth.

    Truth: same-origin pairs (doc_id ≡ doc_id' mod n_origins) with true
    3-gram Jaccard ≥ threshold — exact because the corpus construction
    plants ALL near-dups inside origin groups, and the group pair count
    (origins × C(10,2)) is small enough to verify exhaustively.
    """
    ids = docs.select("doc_id")
    a, b = ids.alias("a"), ids.alias("b")
    same_origin = a.join(
        b,
        (F.col("a.doc_id") % n_origins == F.col("b.doc_id") % n_origins)
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    truth = ngram_jaccard_pairs(docs, same_origin, threshold=threshold).select(
        "id_a", "id_b"
    )
    n_truth = truth.count()
    n_found = truth.join(cands.select("id_a", "id_b"), ["id_a", "id_b"]).count()
    return n_found / n_truth if n_truth else 1.0, n_truth


def round11b_ops_scale_check(spark) -> dict:
    """Round-11 second batch at design scale.  (``rmst`` rides the
    already-rehearsed kaplan_meier rollup and ``quantile_bin`` rides
    exact_quantiles' rehearsed histogram passes — no separate entry.)

    - ``sequence_ngrams`` over 20M events / 200k users: the one
      data-sized exchange is the user-partitioned lead window; the
      gram rollup after it is dictionary-sized.
    - ``grid_knn_join``: 2M corpus points vs 50k queries at 1-degree
      cells — candidate fan-in = local density (~30/cell x 9 cells),
      never |corpus|; WindowGroupLimit bounds the top-k exchange.
    - ``greedy_modularity_move`` on a 100k-node / ~2M-symmetric-edge
      planted-block graph with 1k seed communities: node/candidate/
      community-sized folds only.
    """
    from moz_datapipeline_spark.graph.structure import greedy_modularity_move
    from moz_datapipeline_spark.operators.analytics import sequence_ngrams
    from moz_datapipeline_spark.operators.geometry import grid_knn_join

    out: dict = {}

    n_ev, n_users = 20_000_000, 200_000
    ev = spark.range(n_ev).select(
        F.pmod(F.xxhash64(F.col("id")), n_users).alias("user_id"),
        F.col("id").alias("ts"),
        F.concat(
            F.lit("e"), F.pmod(F.xxhash64(F.col("id") + 13), 8)
        ).alias("event_type"),
    )
    t0 = time.perf_counter()
    grams = sequence_ngrams(ev, n=3, tiebreak_col="ts", min_users=2)
    out["seq_ngrams_rows_in"] = n_ev
    out["seq_ngrams_grams_out"] = grams.count()
    out["seq_ngrams_sec"] = round(time.perf_counter() - t0, 2)
    out["seq_ngrams_shuffle"] = (
        "one user-hash window exchange (data-sized) + gram rollup "
        "with map-side partials (dictionary-sized, 8^3 max here)"
    )

    n_corpus, n_queries = 2_000_000, 50_000
    corpus = spark.range(n_corpus).select(
        F.col("id"),
        (F.pmod(F.xxhash64(F.col("id")), 360_000) / 1000.0 - 180.0).alias(
            "lon"
        ),
        (F.pmod(F.xxhash64(F.col("id") + 5), 170_000) / 1000.0 - 85.0).alias(
            "lat"
        ),
    )
    queries = spark.range(n_queries).select(
        F.col("id"),
        (F.pmod(F.xxhash64(F.col("id") + 11), 360_000) / 1000.0 - 180.0)
        .alias("lon"),
        (F.pmod(F.xxhash64(F.col("id") + 17), 170_000) / 1000.0 - 85.0)
        .alias("lat"),
    )
    t0 = time.perf_counter()
    knn = grid_knn_join(corpus, queries, k=5, cell_deg=1.0)
    out["grid_knn_corpus"] = n_corpus
    out["grid_knn_queries"] = n_queries
    out["grid_knn_rows_out"] = knn.count()
    out["grid_knn_sec"] = round(time.perf_counter() - t0, 2)
    out["grid_knn_shuffle"] = (
        "corpus keyed once by cell; queries explode x9 offsets; ONE "
        "cell equi join (fan-in = local density ~30x9) + per-query "
        "WindowGroupLimit top-k"
    )

    n_nodes, deg = 100_000, 20
    fwd = spark.range(n_nodes * deg).select(
        (F.col("id") % n_nodes).alias("src"),
        F.pmod(
            (F.col("id") % n_nodes)
            + 1
            + F.pmod(F.xxhash64(F.col("id")), 50),
            n_nodes,
        ).alias("dst"),
    ).filter(F.col("src") != F.col("dst")).distinct()
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = spark.range(n_nodes).select(
        F.col("id").alias("node"),
        F.pmod(F.xxhash64(F.col("id")), 1000).alias("community"),
    )
    t0 = time.perf_counter()
    mv = greedy_modularity_move(edges, labels)
    moved = mv.filter(
        F.col("new_community") != F.col("old_community")
    ).count()
    out["mod_move_edges"] = edges.count()
    out["mod_move_nodes"] = n_nodes
    out["mod_move_moved"] = moved
    out["mod_move_sec"] = round(time.perf_counter() - t0, 2)
    out["mod_move_shuffle"] = (
        "two node-keyed label joins + node/candidate/community-sized "
        "hash aggregates + per-node WindowGroupLimit winner"
    )
    return out


def round11c_ops_scale_check(spark) -> dict:
    """Round-11 third batch at design scale.

    - ``interval_overlap_join``: 10M user spans vs 2k maintenance
      windows through a shared bucket grid — fan-out is span/width
      (~3 buckets/row here), ONE bucket hash join, first-shared-
      bucket identity (no distinct pass).
    - ``touch_attribution`` over 20M events / 200k users (linear):
      one user window + one window-granular join + type-sized fold.
    """
    from moz_datapipeline_spark.operators.analytics import touch_attribution
    from moz_datapipeline_spark.operators.ranges import interval_overlap_join

    out: dict = {}

    n_spans, n_windows = 10_000_000, 2_000
    spans = spark.range(n_spans).select(
        F.col("id"),
        (F.pmod(F.xxhash64(F.col("id")), 100_000) * 1.0).alias("start"),
        (
            F.pmod(F.xxhash64(F.col("id")), 100_000)
            + 1.0
            + F.pmod(F.xxhash64(F.col("id") + 3), 200)
        ).alias("end"),
    )
    windows = spark.range(n_windows).select(
        F.col("id"),
        (F.col("id") * 50.0).alias("start"),
        (F.col("id") * 50.0 + 49.0).alias("end"),
    )
    t0 = time.perf_counter()
    ov = interval_overlap_join(spans, windows, bucket_width=100.0)
    out["interval_overlap_left"] = n_spans
    out["interval_overlap_right"] = n_windows
    out["interval_overlap_pairs"] = ov.count()
    out["interval_overlap_sec"] = round(time.perf_counter() - t0, 2)
    out["interval_overlap_shuffle"] = (
        "span explode ~3 buckets/row, ONE bucket hash join, "
        "first-shared-bucket emit (no distinct)"
    )

    n_ev, n_users = 20_000_000, 200_000
    ev = spark.range(n_ev).select(
        F.pmod(F.xxhash64(F.col("id")), n_users).alias("user_id"),
        F.col("id").alias("ts"),
        F.when(
            F.pmod(F.xxhash64(F.col("id") + 13), 20) == 0,
            F.lit("purchase"),
        )
        .otherwise(
            F.concat(
                F.lit("t"), F.pmod(F.xxhash64(F.col("id") + 7), 6)
            )
        )
        .alias("event_type"),
    )
    t0 = time.perf_counter()
    att = touch_attribution(
        ev, conversion_type="purchase", model="linear",
        tiebreak_col="ts",
    )
    out["attribution_rows_in"] = n_ev
    out["attribution_types_out"] = att.count()
    out["attribution_sec"] = round(time.perf_counter() - t0, 2)
    out["attribution_shuffle"] = (
        "one user-hash window exchange + one (user,window) join "
        "exchange; credit fold is touch-type-sized"
    )
    return out


def round11d_ops_scale_check(spark) -> dict:
    """Round-11 fourth batch at design scale.

    - ``weighted_quantiles`` in its HARD regime: FEW groups (8) over
      20M rows — the per-group RANGE window partitions are
      data-sized/|groups|, the honest cost of exact weighted
      quantiles at low group cardinality (many-groups is the easy
      case; callers with one giant group should pre-aggregate ties
      or accept the partition size — documented, measured).
    - ``item_similarity`` over 5M user-item edges / 200k users /
      2k items with the degree cap on: pair volume bounded by
      min(deg, cap)^2 per user.
    - ``conversion_paths`` over 20M events / 200k users.
    """
    from moz_datapipeline_spark.graph.aggregate import item_similarity
    from moz_datapipeline_spark.operators.analytics import conversion_paths
    from moz_datapipeline_spark.operators.indicators import weighted_quantiles

    out: dict = {}

    n = 20_000_000
    df = spark.range(n).select(
        F.concat(F.lit("g"), F.pmod(F.xxhash64(F.col("id")), 8)).alias(
            "grp"
        ),
        (F.pmod(F.xxhash64(F.col("id") + 3), 100_000) / 10.0).alias("v"),
        (1.0 + F.pmod(F.xxhash64(F.col("id") + 7), 9)).alias("w"),
    )
    t0 = time.perf_counter()
    wq = weighted_quantiles(df, "grp", "v", "w", probs=[0.5, 0.9, 0.99])
    out["wquant_rows_in"] = n
    out["wquant_rows_out"] = wq.count()
    out["wquant_sec"] = round(time.perf_counter() - t0, 2)
    out["wquant_shuffle"] = (
        "8 RANGE-window partitions of 2.5M rows each (the few-groups "
        "hard regime, measured on purpose) + |probs| explode on the "
        "marked frame"
    )

    n_edges, n_users, n_items = 5_000_000, 200_000, 2_000
    edges = spark.range(n_edges).select(
        F.pmod(F.xxhash64(F.col("id")), n_users).alias("user"),
        F.pmod(F.xxhash64(F.col("id") + 11), n_items).alias("item"),
    )
    t0 = time.perf_counter()
    sim = item_similarity(edges, k=10, max_user_degree=100)
    out["itemsim_edges"] = n_edges
    out["itemsim_rows_out"] = sim.count()
    out["itemsim_sec"] = round(time.perf_counter() - t0, 2)
    out["itemsim_shuffle"] = (
        "projection pair plan, planned once (in-task pair generation "
        "under the user-degree cap; item degrees from the same grouped "
        "sets) + one-generator pair mirror + per-item WindowGroupLimit"
    )

    n_ev = 20_000_000
    ev = spark.range(n_ev).select(
        F.pmod(F.xxhash64(F.col("id")), 200_000).alias("user_id"),
        F.col("id").alias("ts"),
        F.when(
            F.pmod(F.xxhash64(F.col("id") + 13), 25) == 0,
            F.lit("purchase"),
        )
        .otherwise(
            F.concat(F.lit("t"), F.pmod(F.xxhash64(F.col("id") + 7), 5))
        )
        .alias("event_type"),
    )
    t0 = time.perf_counter()
    cp = conversion_paths(
        ev, conversion_type="purchase", max_steps=5, tiebreak_col="ts"
    )
    out["convpaths_rows_in"] = n_ev
    out["convpaths_paths_out"] = cp.count()
    out["convpaths_sec"] = round(time.perf_counter() - t0, 2)
    out["convpaths_shuffle"] = (
        "first-conversion rollup + user join + per-user bounded "
        "collect; path rollup is dictionary-sized"
    )
    return out


def routing_scale_check(spark) -> dict:
    """Multi-edge EAUL at reference full-run width (138 OD zones).

    Grid network, every way owns 3 edges — the shape that previously hit
    the full-recompute fallback. Times (a) the distributed scenario
    fan-out end-to-end and (b) per-scenario overlay vs full recompute on
    a 5-way sample for the headline speedup figure.
    """
    import numpy as np
    import pandas as pd

    from moz_datapipeline_spark.graph.eaul import EaulContext, eaul_scores
    from moz_datapipeline_spark.graph.kernel import pair_costs

    side = 48  # 48×48 grid → 2,304 nodes
    rows = []
    for r in range(side):
        for c in range(side - 1):
            rows.append((f"h{r}_{c // 3}", f"n{r}_{c}", f"n{r}_{c + 1}"))
    for c in range(side):
        for r in range(side - 1):
            rows.append((f"v{c}_{r // 3}", f"n{r}_{c}", f"n{r + 1}_{c}"))
    edges = pd.DataFrame(
        {
            "way_id": [w for w, _, _ in rows],
            "src": [s for _, s, _ in rows],
            "dst": [d for _, _, d in rows],
            "weight": 1.0,
            "len_part": 1.0,
            "ruc": 1.0,
        }
    )
    way_ids = sorted(set(edges["way_id"]))
    # flood pattern: every 9th way dies at the two largest return periods
    way_props = pd.DataFrame(
        {
            "way_id": way_ids,
            "length_km": 3.0,
            "surface": "unpaved",
            "depths": [
                [0.0] * 8 + [20.0, 20.0] if i % 9 == 0 else [0.0] * 10
                for i in range(len(way_ids))
            ],
            "lengths": [
                [0.0] * 8 + [50.0, 100.0] if i % 9 == 0 else [0.0] * 10
                for i in range(len(way_ids))
            ],
        }
    )
    # 138 OD zones spread over the grid (reference: traffic_matrix.csv width)
    n_od = 138
    step = side * side // n_od
    od = [f"n{(i * step) // side}_{(i * step) % side}" for i in range(n_od)]
    traffic = {
        (i, j): 100.0 for i in range(n_od) for j in range(i + 1, n_od)
    }

    import pickle

    t0 = time.perf_counter()
    ctx = EaulContext(edges, way_props, od, traffic)
    # broadcast-payload audit: the scenario fan-out broadcasts
    # (ctx, excluded) AFTER the baseline phase has populated the SSSP
    # caches — measure the pickled size cold vs post-baseline so cache
    # growth never rides the broadcast unnoticed
    ctx_cold_bytes = len(pickle.dumps(ctx, protocol=pickle.HIGHEST_PROTOCOL))
    _, excluded = ctx.eaul(None, None, 0.7, None, None)
    t_baseline = time.perf_counter() - t0
    ctx_warm_bytes = len(
        pickle.dumps((ctx, excluded), protocol=pickle.HIGHEST_PROTOCOL)
    )
    # documented bound: the payload is OD-set-bounded (|OD|² cached
    # cost rows + |OD| SSSP trees over the graph); a few hundred MB is
    # the national-scale ceiling — fail the rehearsal loudly if the
    # 138-zone payload ever nears it
    assert ctx_warm_bytes < 256 * 1024 * 1024, ctx_warm_bytes

    # per-scenario: overlay vs the full recompute it replaced (5-way sample)
    sample = way_ids[:: len(way_ids) // 5][:5]
    t0 = time.perf_counter()
    for w in sample:
        ctx.scenario_pair_costs(w, 0.23, set())
    t_overlay = (time.perf_counter() - t0) / len(sample)
    t0 = time.perf_counter()
    for w in sample:
        weight = ctx.g.weight.copy()
        sel = ctx.g.way_id == w
        weight[sel] = 0.23 * ctx.len_part[sel]
        pair_costs(ctx.g, ctx.od_nodes, weight_override=weight)
    t_full = (time.perf_counter() - t0) / len(sample)

    # distributed fan-out over one upgrade × all ways
    t0 = time.perf_counter()
    res = eaul_scores(
        spark,
        edges,
        way_props,
        od,
        traffic,
        upgrades=[
            {"id": "upgrade-rehab-asphalt", "ruc": 0.23,
             "drainage_capacity": 1.0, "surface": "paved"}
        ],
    )
    n_scen = res.count() - 1
    t_fanout = time.perf_counter() - t0
    return {
        "routing_nodes": side * side,
        "routing_ways": len(way_ids),
        "routing_od_zones": n_od,
        "eaul_baseline_sec": round(t_baseline, 2),
        "eaul_overlay_per_scenario_sec": round(t_overlay, 4),
        "eaul_full_recompute_per_scenario_sec": round(t_full, 2),
        "eaul_overlay_speedup": round(t_full / t_overlay, 1),
        "eaul_scenarios": n_scen,
        "eaul_fanout_sec": round(t_fanout, 2),
        "eaul_ctx_pickle_cold_mb": round(ctx_cold_bytes / 1048576, 2),
        "eaul_ctx_pickle_warm_mb": round(ctx_warm_bytes / 1048576, 2),
    }


def hygiene_scale_check(spark, docs) -> dict:
    """Corpus-hygiene operators at 500k-row scale: the skew-pruned
    domain cap, the one-pass funnel, and decontamination — plus the A5
    ring-broadcast fix's shuffle-width delta, computed from the actual
    candidate-pair and ring sizes of the sf0.1 polygon workload."""
    from moz_datapipeline_spark.operators.analytics import funnel_stages
    from moz_datapipeline_spark.operators.corpus import (
        _cap_candidates,
        cap_per_group,
        decontaminate,
    )

    n = 500_000
    # 40% of rows in one mega-domain, the rest across 10k hosts
    rows = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 5 < 2, "mega.example")
        .otherwise(F.concat(F.lit("host"), (F.col("id") % 10_000).cast("string")))
        .alias("domain"),
    )
    t0 = time.perf_counter()
    n_capped = cap_per_group(rows, "domain", 50).count()
    t_cap = time.perf_counter() - t0
    mega_cands = (
        _cap_candidates(rows, "domain", 50, "doc_id", 8)
        .filter(F.col("domain") == "mega.example")
        .count()
    )

    # 10 events per user in increasing ts: 6 views, then 3 clicks, then
    # a purchase — every user converts through all three stages
    events = spark.range(n).select(
        (F.col("id") % 50_000).alias("user_id"),
        F.col("id").alias("ts"),
        F.when((F.col("id") / 50_000).cast("long") % 10 < 6, "view")
        .when((F.col("id") / 50_000).cast("long") % 10 < 9, "click")
        .otherwise("purchase")
        .alias("event_type"),
    )
    t0 = time.perf_counter()
    funnel = {
        r["stage"]: r["n_users"] for r in funnel_stages(events).collect()
    }
    t_funnel = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_clean = decontaminate(docs, F.col("doc_id") % 97 == 0).count()
    t_decon = time.perf_counter() - t0

    # A5 ring-broadcast delta on the sf0.1 polygon workload: before the
    # fix every candidate (segment x polygon) row carried the polygon's
    # ring arrays through the Arrow batches; now it carries area_id only.
    c = spark.read.parquet("/root/testdata/sf0.1/customer.parquet")
    nat = spark.read.parquet("/root/testdata/sf0.1/nation.parquet")
    n_segs = c.count()
    n_polys = nat.count()
    # diamond zones: 4 ring vertices x 2 coord arrays x 8 bytes
    ring_bytes_per_pair = 4 * 2 * 8
    # bbox join selectivity measured exactly (same predicate as A5)
    n_pairs = (
        c.selectExpr(
            "double(c_custkey % 20) ax",
            "double(c_custkey % 20 + 3 + c_custkey % 5) bx",
            "double(c_custkey * 3 % 19 + 0.5) ay",
        )
        .crossJoin(
            nat.selectExpr(
                "double(n_nationkey % 5 * 4 + 2) cx",
                "double(floor(n_nationkey / 5) * 4 + 2) cy",
                "double(2 + n_nationkey % 3) r",
            )
        )
        .filter(
            "ax <= cx + r and bx >= cx - r and ay <= cy + r and ay >= cy - r"
        )
        .count()
    )
    return {
        "cap_rows": n,
        "cap_kept": n_capped,
        "cap_mega_candidates": mega_cands,
        "cap_sec": round(t_cap, 2),
        "funnel_events": n,
        "funnel_stage_users": funnel,
        "funnel_sec": round(t_funnel, 2),
        "decontaminate_kept": n_clean,
        "decontaminate_sec": round(t_decon, 2),
        "a5_candidate_pairs": n_pairs,
        "a5_shuffle_bytes_before_ring_fix": n_pairs * ring_bytes_per_pair,
        "a5_shuffle_bytes_after_ring_fix": n_pairs * 8,
        "a5_segments": n_segs,
        "a5_polygons": n_polys,
    }


def pq_recall_check(spark) -> dict:
    """ADC recall of product-quantized search vs exact L2 top-10 over
    the sf0.1 embeddings (m=8 subspaces, k=128 codes, 2 Lloyd rounds).

    The synthetic embeddings are high-entropy (wide Gaussian noise), so
    this is a WORST-CASE recall floor for 8-codes-per-vector
    compression — measured, not promised; the codebook size is the
    recall/memory knob (16→128 codes measured 0.24→0.43 here)."""
    from pyspark.sql import Window

    from moz_datapipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    n_q = 20
    queries = emb.filter(F.col("vec_id") < n_q)
    t0 = time.perf_counter()
    codes, books = pq_encode(
        emb, m=8, k=128, iterations=2, dim=64, init_stride=8
    )
    codes = codes.cache()
    codes.count()
    t_encode = time.perf_counter() - t0
    t0 = time.perf_counter()
    approx = pq_topk(codes, books, queries, k=10, m=8, dim=64).collect()
    t_adc = time.perf_counter() - t0
    t0 = time.perf_counter()
    reranked = pq_topk(
        codes, books, queries, k=10, m=8, dim=64, rerank=500, corpus=emb
    ).collect()
    t_rr = time.perf_counter() - t0

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_q")
    )
    l2 = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("_q"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("_d").asc(), F.col("vec_id").asc())
    exact = (
        emb.crossJoin(F.broadcast(q))
        .withColumn("_d", l2)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("query_id", "vec_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    hits = sum(
        1 for r in approx if r["corpus_id"] in truth.get(r["query_id"], set())
    )
    rr_hits = sum(
        1 for r in reranked if r["corpus_id"] in truth.get(r["query_id"], set())
    )
    codes.unpersist()
    return {
        "pq_vectors": emb.count(),
        "pq_queries": n_q,
        "pq_recall_at_10": round(hits / (10 * n_q), 4),
        "pq_reranked_recall_at_10": round(rr_hits / (10 * n_q), 4),
        "pq_encode_sec": round(t_encode, 2),
        "pq_adc_topk_sec": round(t_adc, 2),
        "pq_rerank_topk_sec": round(t_rr, 2),
    }


def pq_rerank_scale_check(spark) -> dict:
    """The rank-bounded ANN path at 500k vectors: ADC-only vs
    exact-reranked recall@10, plus the MEASURED shuffle-row delta the
    map-side partial top-k buys for the rank exchange.

    Corpus = sf0.1 embeddings amplified with shifted near-clones
    (copy c adds +0.05c to every dim), so the true top-10 mixes fine-
    grained clone distances — a stress test for quantized ranking.
    ``rank_rows_unbounded`` is what the pre-bound plan shuffled for the
    rank (every scored candidate, |corpus|x|queries|);
    ``rank_rows_bounded`` is the actual row count leaving the partial
    top-k (≤ rerank_n x partitions x queries). Both are counted from
    the same scoring DataFrame, not estimated.  Encoding runs BOTH
    trainer kernels back-to-back so the JVM-HOF vs Arrow-matmul
    speedup is a measured line, not a claim.
    """
    from moz_datapipeline_spark.operators.similarity import (
        _ivf_lists,
        _partition_topk,
        adc_scores,
        ivfadc_topk,
        pq_encode,
        pq_topk,
    )

    target, n_q, rerank_n = 500_000, 20, 1000
    base = spark.read.parquet(
        "/root/testdata/sf0.1/embeddings.parquet"
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    n_base = base.count()
    copies = max(1, -(-target // n_base))
    parts = []
    for c in range(copies):
        shift = 0.05 * c
        part = base.select(
            (F.col("vec_id") + F.lit(c * n_base)).alias("vec_id"),
            F.transform("embedding", lambda x: x + F.lit(shift)).alias(
                "embedding"
            ),
        )
        parts.append(part)
    amp = parts[0]
    for p in parts[1:]:
        amp = amp.unionByName(p)
    amp = amp.repartition(32).cache()
    n_vec = amp.count()
    queries = amp.filter(F.col("vec_id") < n_q)

    t0 = time.perf_counter()
    codes_sql, _ = pq_encode(
        amp, m=8, k=64, iterations=1, dim=64, init_stride=8, kernel="sql"
    )
    codes_sql.count()
    t_encode_sql = time.perf_counter() - t0
    t0 = time.perf_counter()
    codes, books = pq_encode(
        amp, m=8, k=64, iterations=1, dim=64, init_stride=8, kernel="pandas"
    )
    codes = codes.cache()
    codes.count()
    t_encode = time.perf_counter() - t0

    # measured exchange bound: same scoring plan, with and without the
    # partial top-k in front of the rank
    scored = adc_scores(codes, books, queries, m=8, dim=64)
    rows_unbounded = scored.count()
    rows_bounded = _partition_topk(
        scored, ["query_id"], "adc_dist", "corpus_id", rerank_n
    ).count()

    t0 = time.perf_counter()
    adc_only = pq_topk(codes, books, queries, k=10, m=8, dim=64).collect()
    t_adc = time.perf_counter() - t0
    t0 = time.perf_counter()
    reranked = pq_topk(
        codes, books, queries, k=10, m=8, dim=64, rerank=rerank_n, corpus=amp
    ).collect()
    t_rerank = time.perf_counter() - t0

    from pyspark.sql import Window

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("_q")
    )
    l2 = F.aggregate(
        F.zip_with(F.col("embedding"), F.col("_q"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_d").asc(), F.col("vec_id").asc()
    )
    exact_scored = (
        amp.crossJoin(F.broadcast(q))
        .select("query_id", "vec_id", l2.alias("_d"))
    )
    exact = (
        _partition_topk(exact_scored, ["query_id"], "_d", "vec_id", 10)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 10)
        .select("query_id", "vec_id")
        .collect()
    )
    truth: dict[int, set] = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
    adc_hits = sum(
        1 for r in adc_only if r["corpus_id"] in truth.get(r["query_id"], set())
    )
    rr_hits = sum(
        1 for r in reranked if r["corpus_id"] in truth.get(r["query_id"], set())
    )

    # IVFADC at the same scale: probe 8 of 64 lists, ADC within lists,
    # exact rerank — plus the MEASURED candidate-set size the probe
    # restriction buys (same _ivf_lists plan the operator runs)
    t0 = time.perf_counter()
    ivf_out = ivfadc_topk(
        amp, queries, n_lists=64, nprobe=8, k=10, m=8, dim=64,
        pq_k=64, init_stride=8, rerank=rerank_n,
        encode_kernel="pandas", assign_kernel="pandas",
    ).collect()
    t_ivfadc = time.perf_counter() - t0
    ivf_hits = sum(
        1 for r in ivf_out if r["corpus_id"] in truth.get(r["query_id"], set())
    )
    assigned, probed = _ivf_lists(
        amp, queries, 64, 8, "vec_id", "embedding", assign_kernel="pandas"
    )
    ivf_candidates = assigned.join(probed, "list_id").count()

    codes.unpersist()
    amp.unpersist()
    return {
        "rerank_vectors": n_vec,
        "rerank_queries": n_q,
        "rerank_n": rerank_n,
        "adc_only_recall_at_10": round(adc_hits / (10 * n_q), 4),
        "reranked_recall_at_10": round(rr_hits / (10 * n_q), 4),
        "rank_rows_unbounded": rows_unbounded,
        "rank_rows_bounded": rows_bounded,
        "rank_shuffle_reduction": round(rows_unbounded / max(1, rows_bounded), 1),
        "rerank_encode_sec": round(t_encode, 2),
        "rerank_encode_sql_sec": round(t_encode_sql, 2),
        "rerank_adc_sec": round(t_adc, 2),
        "rerank_full_sec": round(t_rerank, 2),
        "ivfadc_recall_at_10": round(ivf_hits / (10 * n_q), 4),
        "ivfadc_candidate_rows": ivf_candidates,
        "ivfadc_candidate_fraction": round(
            ivf_candidates / rows_unbounded, 4
        ),
        "ivfadc_total_sec": round(t_ivfadc, 2),
    }


def media_scale_check(spark) -> dict:
    """Throughput rehearsal for the pure-Python media kernels: 600
    MJPEG-AVI clips (2-4 frames, 24x16) frame-sampled and 2000 JPEGs
    decoded+resized, all executor-side.  The interesting number is
    frames (or images) per second per core — the pure decoders are the
    bottleneck, not Spark plumbing, and the numbers scale linearly with
    executor count because every kernel is embarrassingly parallel
    (payloads ship once, no exchange between decode stages)."""
    import pandas as pd

    from moz_datapipeline_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_video_frames,
        resize_images,
    )

    n_clips, n_imgs = 600, 2000

    def synth_avi(batches):
        from moz_datapipeline_spark.sources.avi import synthetic_mjpeg

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["id"],
                    "media": [
                        {
                            "payload": synthetic_mjpeg(int(i), 2 + int(i) % 3),
                            "mime": "video/x-msvideo",
                            "width": 24,
                            "height": 16,
                            "sample_rate": None,
                            "channels": None,
                            "duration_ms": None,
                        }
                        for i in pdf["id"]
                    ],
                }
            )

    def synth_jpeg(batches):
        from moz_datapipeline_spark.sources.avi import gradient_frame
        from moz_datapipeline_spark.sources.jpeg import encode_jpeg_baseline

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["id"],
                    "media": [
                        {
                            "payload": encode_jpeg_baseline(
                                gradient_frame(int(i), 16, 24), quality=90
                            ),
                            "mime": "image/jpeg",
                            "width": 24,
                            "height": 16,
                            "sample_rate": None,
                            "channels": None,
                            "duration_ms": None,
                        }
                        for i in pdf["id"]
                    ],
                }
            )

    schema = f"doc_id long, media struct<{MEDIA_SCHEMA}>"
    clips = spark.range(n_clips).repartition(32).mapInPandas(synth_avi, schema)
    t0 = time.perf_counter()
    n_frames = extract_video_frames(clips, every_ms=200).count()
    t_video = time.perf_counter() - t0

    imgs = spark.range(n_imgs).repartition(32).mapInPandas(synth_jpeg, schema)
    t0 = time.perf_counter()
    n_resized = resize_images(imgs, 8, 8).count()
    t_resize = time.perf_counter() - t0
    return {
        "media_clips": n_clips,
        "media_frames_sampled": n_frames,
        "t_video_decode_sec": round(t_video, 2),
        "video_frames_per_sec": round(n_frames / t_video, 1),
        "media_images_resized": n_resized,
        "t_resize_sec": round(t_resize, 2),
        "images_resized_per_sec": round(n_resized / t_resize, 1),
    }


def incremental_scale_check(spark, docs) -> dict:
    """Steady-state ingest rehearsal: admit the same 2.5k-doc batch
    against a ~47.5k-doc signature store and against a 2.5k-doc store.
    The claim under test is that batch admission cost is governed by
    the batch and its matched buckets, NOT the store size — the
    property that makes signature-store dedup viable at 100 TB (the
    store side is a signature-only parquet scan + bucketed equi join).
    Batches overlap the store by construction (amplified mutations), so
    the match path is exercised, not skipped."""
    import shutil
    import tempfile

    from moz_datapipeline_spark.operators.incremental import (
        bootstrap_signature_store,
        incremental_dedup,
    )

    batch = docs.filter(F.col("doc_id") % 20 == 7).cache()
    n_batch = batch.count()
    out: dict = {"incr_batch_docs": n_batch}
    for label, prior_filter in (
        ("big", F.col("doc_id") % 20 != 7),
        ("small", F.col("doc_id") % 20 == 3),
    ):
        store = tempfile.mkdtemp(prefix="incr_store_") + "/sigs"
        prior = docs.filter(prior_filter)
        bootstrap_signature_store(spark, prior, store)
        t0 = time.perf_counter()
        survivors = incremental_dedup(spark, batch, store, threshold=0.8)
        n_kept = survivors.count()
        dt = time.perf_counter() - t0
        out[f"incr_store_{label}_docs"] = prior.count()
        out[f"incr_admit_vs_{label}_sec"] = round(dt, 2)
        out[f"incr_kept_vs_{label}"] = n_kept
        shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)
    return out


def containment_semdedup_scale_check(spark, docs) -> dict:
    """Round-7 rehearsal: the two newest heavy queries at 500k scale.

    - ``ngram_containment`` over a 500k-doc corpus (the 50k amplified
      corpus ×10 with per-copy suffix words, so same-origin docs share
      their 4-word prefix): candidates come from
      ``prefix_bucket_candidates`` with the width cap, so pair volume
      is governed by Σ min(width, cap)² over buckets — recorded along
      with the dropped-bucket stats to show the cap, not luck, bounds
      the join.
    - ``semantic_dedup`` over 500k synthetic 16-d vectors with planted
      group structure (5k groups × 100 members, unit direction per
      group + per-id jitter): ``max_cluster_size`` sub-buckets any
      skew-merged cluster, so candidate volume tracks
      Σ min(cluster, cap)² — the stats dict reports how often the cap
      actually fired.
    """
    from moz_datapipeline_spark.operators.dedup import (
        ngram_containment_pairs,
        prefix_bucket_candidates,
    )
    from moz_datapipeline_spark.operators.similarity import semantic_dedup

    out: dict = {}

    n_base = docs.count()
    big = docs
    for c in range(1, 10):
        big = big.unionByName(
            docs.select(
                (F.col("doc_id") + c * n_base).alias("doc_id"),
                F.concat(
                    F.col("text"), F.lit(f" copyvariant{c}")
                ).alias("text"),
                *[c2 for c2 in docs.columns if c2 not in ("doc_id", "text")],
            )
        )
    big = big.select("doc_id", "text")
    out["containment_docs"] = big.count()

    st: dict = {}
    t0 = time.perf_counter()
    cands = prefix_bucket_candidates(big, max_bucket_width=64, stats=st)
    n_cands = cands.count()
    out["containment_candidate_pairs"] = n_cands
    out["containment_dropped_buckets"] = st["dropped_buckets"]
    out["containment_dropped_rows"] = st["dropped_rows"]
    verified = ngram_containment_pairs(
        big, cands, shingle_k=3, threshold=0.5
    )
    out["containment_verified_pairs"] = verified.count()
    out["containment_sec"] = round(time.perf_counter() - t0, 2)

    # --- batched embedding + linear-probe gate over the same 500k docs:
    # the encoder kernel is embarrassingly parallel (one mapInPandas
    # pass, no shuffle), so docs/sec is the whole story
    from moz_datapipeline_spark.operators.embed import (
        embed,
        hashing_ngram_encoder,
        linear_probe_score,
    )

    t0 = time.perf_counter()
    emb = embed(
        big, hashing_ngram_encoder(dim=16), batch_size=512
    )
    scored = linear_probe_score(
        emb, [((j * 7) % 5 - 2.0) / 2.0 for j in range(16)], bias=-0.25
    )
    out["embed_probe_kept"] = scored.filter(
        F.col("probe_score") >= 0.5
    ).count()
    dt = time.perf_counter() - t0
    out["embed_docs"] = out["containment_docs"]
    out["embed_probe_sec"] = round(dt, 2)
    out["embed_docs_per_sec"] = round(out["containment_docs"] / dt, 1)

    # --- semantic dedup at 500k vectors
    n, dim, groups = 500_000, 16, 5_000

    def _u(seed_col, j):
        # deterministic pseudo-uniform in [-1, 1] from (seed, j)
        h = F.conv(
            F.substring(
                F.md5(F.concat(seed_col.cast("string"), F.lit(f":{j}"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("double")
        return h / F.lit(float(16**15)) * 2.0 - 1.0

    base = spark.range(n).select(
        F.col("id").alias("vec_id"), (F.col("id") % groups).alias("_g")
    )
    vec = F.array(
        *[
            (_u(F.col("_g"), j) + _u(F.col("vec_id"), j) * 0.02).alias(
                f"_c{j}"
            )
            for j in range(dim)
        ]
    )
    v = base.select("vec_id", vec.alias("embedding"))
    st2: dict = {}
    t0 = time.perf_counter()
    kept = semantic_dedup(
        v,
        threshold=0.98,
        k=64,
        iterations=1,
        max_cluster_size=2_000,
        stats=st2,
    )
    out["semdedup_docs"] = n
    out["semdedup_kept"] = kept.count()
    out["semdedup_sec"] = round(time.perf_counter() - t0, 2)
    out["semdedup_widest_cluster"] = st2["widest_cluster"]
    out["semdedup_oversized_clusters"] = st2["oversized_clusters"]
    out["semdedup_split_subbuckets"] = st2["split_subbuckets"]
    # candidate-pair volume under the cap vs what the widest clusters
    # would have cost unsplit: the scale claim in one number
    out["semdedup_pair_bound"] = int(
        min(st2["widest_cluster"], 2_000) ** 2
        * max(1, st2["split_subbuckets"])
    )
    kept.unpersist()
    return out


def warc_scale_check(spark, docs) -> dict:
    """Crawl-archive I/O rehearsal: 500k docs → 32 CommonCrawl-layout
    ``.warc.gz`` files (per-record gzip members, HTTP envelopes) →
    scanned back with executor-side envelope strip.  Both directions
    are embarrassingly parallel (no shuffle anywhere — the sink is one
    file per partition, the scan one task per file), so docs/sec is
    the whole story; at 100 TB the same plan is just more files."""
    import shutil
    import tempfile

    from moz_datapipeline_spark.sources.warc import read_warc, write_warc

    out_dir = tempfile.mkdtemp(prefix="warc_scale_") + "/archive"
    payload = docs.select(
        F.concat(F.lit("urn:doc:"), F.col("doc_id").cast("string")).alias(
            "uri"
        ),
        F.coalesce(F.col("text"), F.lit("")).alias("payload"),
    ).repartition(32)
    t0 = time.perf_counter()
    manifest = write_warc(
        payload, out_dir, http_envelope=True, compress=True
    ).collect()
    t_write = time.perf_counter() - t0
    n_written = sum(m.n_records for m in manifest)

    t0 = time.perf_counter()
    n_read = (
        read_warc(
            spark,
            out_dir + "/*.warc.gz",
            record_types=("response",),
            strip_http=True,
        )
        .filter(F.col("content_length") >= 0)
        .count()
    )
    t_read = time.perf_counter() - t0
    assert n_read == n_written, (n_read, n_written)
    res = {
        "warc_docs": n_written,
        "warc_files": len(manifest),
        "warc_write_sec": round(t_write, 2),
        "warc_write_docs_per_sec": round(n_written / t_write, 1),
        "warc_read_sec": round(t_read, 2),
        "warc_read_docs_per_sec": round(n_read / t_read, 1),
    }
    shutil.rmtree(out_dir.rsplit("/", 1)[0], ignore_errors=True)
    return res


def bpe_scale_check(spark, docs) -> dict:
    """BPE induction rehearsal: the claim under test is that after the
    ONE corpus-wide pass builds the weighted vocabulary, merge rounds
    cost vocabulary-time, not corpus-time.  Recorded: vocab rows vs
    corpus rows, the single corpus pass, and per-round wall time over
    4 merges (each round = bigram explode + sum over the vocab table
    + a one-row argmax)."""
    from moz_datapipeline_spark.operators.bpe import bpe_train, bpe_word_table

    # the parquet corpus reuses ~30 distinct words — useless for a
    # vocabulary-scaling rehearsal.  Synthesize a web-shaped vocab:
    # 100k docs × 10 words drawn from ~300k distinct 8-hex-char words
    # (16-symbol alphabet → real pair mass for the merge rounds).
    docs_syn = spark.range(100_000).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[
                F.substring(
                    F.md5(((F.col("id") * 10 + j) % 300_000).cast("string")),
                    1,
                    8,
                )
                for j in range(10)
            ],
        ).alias("text"),
    )
    n_docs = docs_syn.count()
    t0 = time.perf_counter()
    vocab = bpe_word_table(docs_syn)
    n_vocab = vocab.count()
    t_vocab = time.perf_counter() - t0

    t0 = time.perf_counter()
    merges = bpe_train(docs_syn, n_merges=4)
    t_train = time.perf_counter() - t0
    return {
        "bpe_docs": n_docs,
        "bpe_vocab_words": n_vocab,
        "bpe_vocab_pass_sec": round(t_vocab, 2),
        "bpe_merges": len(merges),
        "bpe_train_sec": round(t_train, 2),
        "bpe_sec_per_round": round((t_train - t_vocab) / max(len(merges), 1), 2),
    }


def graph_lm_scale_check(spark, docs) -> dict:
    """Round-5 extension rehearsal: PageRank at a few million edges,
    the Bloom prefilter's measured exchange thinning, and bigram-LM
    scoring throughput over the amplified corpus.

    - ``pagerank``: a deterministic scale-free-ish multigraph —
      node i links to i%1k, i%30k, and i+1 over 3M directed edges —
      4 unrolled iterations; the claim is O(|E|) per round with a flat
      stage count, checked by wall time and mass conservation.
    - ``bloom``: fact 5M rows ⨝ 1%-selective dim; the number that
      matters at 100 TB is ``bloom_pass_rows`` (what the exchange
      carries after the membership test) vs the 5M a plain shuffle
      semi join would move.  Equality with the exact semi join is
      asserted, not assumed.
    - ``lm``: train on the English slice, score every amplified doc —
      docs/sec for an all-JVM pipeline (explode + two joins + agg).
    """
    from moz_datapipeline_spark.graph.pagerank import pagerank
    from moz_datapipeline_spark.operators.bloom import (
        bloom_semi_join,
        build_bloom_bitmap,
        _bit_positions,
    )
    from moz_datapipeline_spark.operators.lm import lm_score, train_bigram_lm

    out: dict = {}

    n_nodes = 1_000_000
    base = spark.range(n_nodes).select(F.col("id").alias("src"))
    edges = (
        base.select("src", (F.col("src") % 1000).alias("dst"))
        .unionByName(base.select("src", (F.col("src") % 30000).alias("dst")))
        .unionByName(
            base.select("src", ((F.col("src") + 1) % n_nodes).alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
    )
    t0 = time.perf_counter()
    pr = pagerank(edges, iters=4).cache()
    mass = pr.agg(F.sum("rank")).collect()[0][0]
    out["pagerank_edges"] = edges.count()
    out["pagerank_sec"] = round(time.perf_counter() - t0, 2)
    out["pagerank_mass"] = round(mass, 9)
    pr.unpersist()

    # triangle counting on the same 3M-edge graph: the hub nodes
    # (i % 1000) have degree ~3k — the degree-ordered orientation must
    # keep the wedge join bounded anyway
    from moz_datapipeline_spark.graph.triangles import triangle_counts

    t0 = time.perf_counter()
    tri = triangle_counts(edges)
    total_corners = tri.agg(F.sum("triangles")).collect()[0][0]
    out["triangles_total"] = int(total_corners) // 3
    out["triangles_sec"] = round(time.perf_counter() - t0, 2)

    fact = spark.range(5_000_000).select((F.col("id") % 100_000).alias("k"))
    dim = spark.range(1000).select((F.col("id") * 100).alias("k"))
    bitmap = build_bloom_bitmap(dim, "k", num_bits=1 << 20, num_hashes=5)
    bc = spark.sparkContext.broadcast(bitmap)
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _mc(*pos):
        bits = np.frombuffer(bc.value, dtype=np.uint8)
        ok = np.ones(len(pos[0]), dtype=bool)
        for p in pos:
            idx = p.to_numpy()
            ok &= (bits[idx >> 3] >> (idx & 7) & 1).astype(bool)
        return pd.Series(ok)

    t0 = time.perf_counter()
    passed = fact.filter(
        _mc(*_bit_positions(F.col("k"), 1 << 20, 5))
    ).count()
    exact = bloom_semi_join(fact, dim, "k", num_bits=1 << 20).count()
    want = fact.join(dim, "k", "left_semi").count()
    out["bloom_fact_rows"] = 5_000_000
    out["bloom_pass_rows"] = passed
    out["bloom_exact_rows"] = exact
    out["bloom_matches_semi_join"] = bool(exact == want)
    out["bloom_sec"] = round(time.perf_counter() - t0, 2)

    # amplified docs carry only (doc_id, text); train on the raw
    # corpus's English slice, score every amplified doc against it
    ref = spark.read.parquet("/root/testdata/sf0.1/documents.parquet").filter(
        F.col("lang") == "en"
    )
    t0 = time.perf_counter()
    bi, ctx, vocab = train_bigram_lm(ref)
    scored = lm_score(docs, bi, ctx, vocab)
    n_scored = scored.count()
    dt = time.perf_counter() - t0
    out["lm_docs_scored"] = n_scored
    out["lm_docs_per_sec"] = round(n_scored / dt, 1)
    return out


def kcore_scale_check(spark) -> dict:
    """k-core peel at 3M edges with a deep cascade: 1M-node chain
    (each round strips only its endpoints under k=2 — worst case for
    peel depth) plus a dense 2000-clique-ish hub block that must
    SURVIVE.  Records wall time for the lazy 6-round form and the
    early-stop fixpoint form, plus the surviving-core size."""
    from moz_datapipeline_spark.graph.kcore import kcore

    chain = spark.range(1_000_000 - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    # hub block: 2000 nodes, each linked to 50 neighbours (mod ring) —
    # min degree 50, survives any k <= 50 peel
    hub = (
        spark.range(2000 * 50)
        .select(
            (F.lit(5_000_000) + F.col("id") % 2000).alias("src"),
            (
                F.lit(5_000_000)
                + (F.col("id") % 2000 + F.col("id") / 2000 + 1).cast("long")
                % 2000
            ).alias("dst"),
        )
    )
    fwd = chain.unionByName(hub)
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    t0 = time.perf_counter()
    n_lazy = kcore(edges, k=3, rounds=6).count()
    t_lazy = time.perf_counter() - t0

    stats: dict = {}
    t0 = time.perf_counter()
    core = kcore(edges, k=3, rounds=50, early_stop=True, stats=stats)
    n_core = core.count()
    t_fix = time.perf_counter() - t0
    core.unpersist()
    return {
        "kcore_edges": edges.count(),
        "kcore_rounds6_nodes": n_lazy,
        "kcore_rounds6_sec": round(t_lazy, 2),
        "kcore_fixpoint_nodes": n_core,
        "kcore_fixpoint_rounds": stats["rounds_executed"],
        "kcore_fixpoint_sec": round(t_fix, 2),
    }


def fuzzy_scale_check(spark) -> dict:
    """Record-linkage rehearsal: 200k × 200k names, half the right
    side planted as 1-edit clones.  q-gram candidates (gram=4 for the
    hex-dense synthetic alphabet) + levenshtein verify must recover
    every planted pair without an all-pairs join — recorded: wall
    time, output pairs, planted recall."""
    from moz_datapipeline_spark.operators.fuzzy import fuzzy_join

    n = 200_000
    left = spark.range(n).select(
        F.col("id"),
        F.concat(
            F.lit("item-"),
            F.substring(F.md5(F.col("id").cast("string")), 1, 12),
        ).alias("name"),
    )
    right = spark.range(n).select(
        (F.col("id") + 10_000_000).alias("rid"),
        F.when(
            F.col("id") % 2 == 0,
            F.concat(
                F.lit("item-"), F.lit("z"),
                F.substring(F.md5(F.col("id").cast("string")), 2, 11),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("item-"),
                F.substring(
                    F.md5((F.col("id") + 77777777).cast("string")), 1, 12
                ),
            )
        )
        .alias("rname"),
    )
    t0 = time.perf_counter()
    out = fuzzy_join(
        left, right, "name", "rname", "id", "rid",
        max_distance=2, gram=4, max_gram_df=2000,
    ).cache()
    n_pairs = out.count()
    dt = time.perf_counter() - t0
    hits = out.filter(
        F.col("right_id") - F.col("left_id") == 10_000_000
    ).count()
    out.unpersist()
    return {
        "fuzzy_left": n,
        "fuzzy_right": n,
        "fuzzy_pairs": n_pairs,
        "fuzzy_planted_recall": round(hits / (n // 2), 4),
        "fuzzy_sec": round(dt, 2),
    }


def components_scale_check(spark) -> dict:
    """Connected components at 3M edges with a WORST-CASE long-chain
    component: a 1.8M-node path (diameter 1.8M) plus 300k 5-node stars.
    Plain label propagation would need 1.8M rounds; the pointer-doubling
    shortcut must converge in O(log d) ≈ 21 — the rehearsal records the
    actual round count against that claim."""
    from moz_datapipeline_spark.operators.components import (
        connected_components,
    )

    chain_n = 1_800_000
    chain = spark.range(chain_n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    stars = (
        spark.range(1_500_000)
        .select(
            (F.lit(10_000_000) + F.col("id")).alias("id_a"),
            (F.lit(10_000_000) + F.col("id") - F.col("id") % 5).alias(
                "id_b"
            ),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    pairs = chain.unionByName(stars)
    n_edges = pairs.count()
    stats: dict = {}
    t0 = time.perf_counter()
    comp = connected_components(pairs, stats=stats)
    n_comp = comp.select("component").distinct().count()
    dt = time.perf_counter() - t0
    assert n_comp == 1 + 300_000, n_comp
    assert stats["rounds"] <= 30, stats
    return {
        "cc_edges": n_edges,
        "cc_components": n_comp,
        "cc_chain_diameter": chain_n - 1,
        "cc_rounds": stats["rounds"],
        "cc_sec": round(dt, 2),
    }


def retrieval_hll_scale_check(spark, docs) -> dict:
    """BM25 + HLL at rehearsal scale.

    - ``bm25_topk`` over the amplified ~600k-doc corpus: confirms the
      candidate set (docs containing ≥1 query term) — not N — bounds
      the aggregate, and measures end-to-end wall time.
    - ``hll_distinct`` over 5M synthetic keys with known cardinality:
      the register shuffle is ≤ m rows regardless of input size;
      checks the estimate lands within 3σ (σ ≈ 1.04/√m).
    """
    from moz_datapipeline_spark.operators.retrieval import bm25_topk
    from moz_datapipeline_spark.operators.sketches import hll_distinct

    t0 = time.perf_counter()
    top = bm25_topk(docs, ["spark", "window", "merge"], k=10).collect()
    t_bm25 = time.perf_counter() - t0

    n_keys = 5_000_000
    true_card = 1_000_000  # 5 copies of each key
    keys = spark.range(n_keys).select(
        (F.col("id") % true_card).alias("k")
    )
    t0 = time.perf_counter()
    est = hll_distinct(keys, "k", p=12).collect()[0].est_distinct
    t_hll = time.perf_counter() - t0
    m = 1 << 12
    rel_err = abs(est - true_card) / true_card
    assert rel_err < 3 * 1.04 / (m ** 0.5), (
        f"HLL estimate {est} off by {rel_err:.4f} (beyond 3 sigma)"
    )
    return {
        "bm25_docs": docs.count(),
        "bm25_topk_sec": round(t_bm25, 2),
        "bm25_top_score": round(top[0].score, 3) if top else None,
        "hll_keys": n_keys,
        "hll_true_card": true_card,
        "hll_est": est,
        "hll_rel_err": round(rel_err, 4),
        "hll_sec": round(t_hll, 2),
    }


def rank_retrieval2_scale_check(spark, docs) -> dict:
    """Second-wave retrieval/ordering rehearsals at ~600k-row scale.

    - ``global_rank`` over 5M rows: two-phase prefix rank; asserts the
      endpoints (rank 1 / rank N) and measures wall time — the
      single-partition global window this replaces would serialize all
      5M rows through one task.
    - ``peak_concurrency`` over 2M synthetic intervals with a planted
      everywhere-overlapping block.
    - ``tfidf_cosine_topk`` (more-like-this) with 5 query docs over
      the amplified 50k-doc corpus.
    """
    from moz_datapipeline_spark.operators.ranges import (
        global_rank,
        peak_concurrency,
    )
    from moz_datapipeline_spark.operators.retrieval import tfidf_cosine_topk

    n = 5_000_000
    base = spark.range(n).select(
        F.col("id"),
        (F.xxhash64("id") % 1_000_000).cast("double").alias("x"),
    )
    t0 = time.perf_counter()
    ranked = global_rank(base, "x", ["id"], with_percent=True)
    ends = ranked.filter(
        (F.col("rank") == 1) | (F.col("rank") == n)
    ).collect()
    t_rank = time.perf_counter() - t0
    assert len(ends) == 2
    assert {r.percent_rank for r in ends} == {0.0, 1.0}

    m = 2_000_000
    iv = spark.range(m).select(
        (F.col("id") * 10).alias("start"),
        (F.col("id") * 10 + 25).alias("end"),
    )
    t0 = time.perf_counter()
    pk = peak_concurrency(iv).collect()[0]
    t_peak = time.perf_counter() - t0
    # width 25 over stride 10 -> 3 overlapping almost everywhere
    assert pk.peak_concurrency == 3

    t0 = time.perf_counter()
    mlt = tfidf_cosine_topk(
        docs, [0, 1, 2, 3, 4], k=10, max_df_ratio=1.0
    ).count()
    t_mlt = time.perf_counter() - t0

    return {
        "rank_rows": n,
        "rank_sec": round(t_rank, 2),
        "sweep_intervals": m,
        "sweep_peak": int(pk.peak_concurrency),
        "sweep_sec": round(t_peak, 2),
        "mlt_docs": docs.count(),
        "mlt_results": mlt,
        "mlt_sec": round(t_mlt, 2),
    }


def round7_ops_scale_check(spark, docs) -> dict:
    """Rehearsals for the round-7 additions at rehearsal scale.

    - ``pareto_frontier_2d`` over 5M random points: the two-phase
      strict-prefix-min path (never a global window); asserts the
      frontier is mutually non-dominated and contains the global
      minima of each axis.
    - ``label_propagation`` on a 1M-edge path-of-two-chains graph:
      3 synchronous rounds — measures the per-round O(|E|) cost
      envelope (on a path, labels travel one hop per round, so this
      is a cost rehearsal, not a convergence claim).
    - ``pmi_collocations`` over the amplified 50k-doc corpus with
      min_count=50.
    - ``psi_drift`` between two 2.5M-row halves of a 5M-row frame
      across 3 columns (two unpivoted scans, one bounds broadcast).
    """
    from moz_datapipeline_spark.graph.lpa import label_propagation
    from moz_datapipeline_spark.operators.corpus import pmi_collocations
    from moz_datapipeline_spark.operators.ranges import pareto_frontier_2d
    from moz_datapipeline_spark.operators.validation import psi_drift

    n = 5_000_000
    pts = spark.range(n).select(
        "id",
        (F.xxhash64("id") % 100_000).cast("double").alias("x"),
        (F.xxhash64("id", F.lit(1)) % 100_000).cast("double").alias("y"),
    ).withColumn("x", F.abs("x")).withColumn("y", F.abs("y"))
    t0 = time.perf_counter()
    front = pareto_frontier_2d(pts, "x", "y").collect()
    t_pareto = time.perf_counter() - t0
    fs = [(r.x, r.y) for r in front]
    assert all(
        not (sx <= x and sy <= y and (sx < x or sy < y))
        for (x, y) in fs
        for (sx, sy) in fs
    )
    min_x = min(p[0] for p in fs)
    assert any(p[0] == min_x for p in fs)

    # two 500k-node communities joined by one bridge edge
    half = 500_000
    intra = spark.range(half - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    comm_b = intra.select(
        (F.col("src") + half).alias("src"), (F.col("dst") + half).alias("dst")
    )
    bridge = spark.createDataFrame([(half - 1, half)], "src long, dst long")
    edges = intra.unionByName(comm_b).unionByName(bridge)
    t0 = time.perf_counter()
    labs = label_propagation(edges, rounds=3)
    n_labels = labs.select("label").distinct().count()
    t_lpa = time.perf_counter() - t0

    t0 = time.perf_counter()
    n_colloc = pmi_collocations(docs, min_count=50).count()
    t_pmi = time.perf_counter() - t0

    wide = spark.range(n).select(
        "id",
        (F.xxhash64("id", F.lit(2)) % 1000).cast("double").alias("a"),
        (F.xxhash64("id", F.lit(3)) % 1000).cast("double").alias("b"),
        (F.xxhash64("id", F.lit(4)) % 1000).cast("double").alias("c"),
    )
    ref = wide.filter(F.col("id") % 2 == 0)
    cur = wide.filter(F.col("id") % 2 == 1)
    t0 = time.perf_counter()
    psi_rows = psi_drift(ref, cur, ["a", "b", "c"]).collect()
    t_psi = time.perf_counter() - t0
    assert len(psi_rows) == 3
    assert all(r.psi is not None and r.psi < 0.01 for r in psi_rows)

    return {
        "pareto_rows": n,
        "pareto_frontier_size": len(fs),
        "pareto_sec": round(t_pareto, 2),
        "lpa_edges": 2 * (half - 1) + 1,
        "lpa_labels_after_3_rounds": n_labels,
        "lpa_sec": round(t_lpa, 2),
        "pmi_collocations_min50": n_colloc,
        "pmi_sec": round(t_pmi, 2),
        "psi_rows": n,
        "psi_sec": round(t_psi, 2),
    }


def round8_ops_scale_check(spark, docs) -> dict:
    """Rehearsals for the round-8 additions at rehearsal scale.

    - ``set_similarity_join`` (exact AllPairs, 3-shingles, t=0.8) over
      the amplified 50k-doc corpus — asserts pair volume stays far
      below all-pairs (the prefix filter's whole point) and that every
      planted duplicate family is recovered.
    - ``link_prediction_scores`` on a 2M-edge bipartite graph with a
      wedge-degree cap — the Σ deg² bound in practice.
    - ``ks_test`` between two 5M-row halves (two-phase CDF scan).
    - ``importance_resample`` over the 50k corpus against an
      every-tenth-doc target slice (B-row broadcast ratio table).
    - ``kmv_set_ops`` on two 5M-key ranges with 60% overlap —
      sketch-state-only intersection within 15% relative error.
    """
    from moz_datapipeline_spark.graph.linkpred import (
        link_prediction_scores,
    )
    from moz_datapipeline_spark.operators.corpus import importance_resample
    from moz_datapipeline_spark.operators.dedup import set_similarity_join
    from moz_datapipeline_spark.operators.sketches import (
        kmv_registers,
        kmv_set_ops,
    )
    from moz_datapipeline_spark.operators.validation import ks_test

    n_docs = docs.count()
    t0 = time.perf_counter()
    ssj = set_similarity_join(docs, 0.8, shingle_k=3)
    n_ssj = ssj.count()
    t_ssj = time.perf_counter() - t0
    # all-pairs would be ~n_docs^2/2; the exact join must stay orders
    # of magnitude below that (amplified corpus: ~9 near-dup copies
    # per origin -> expected pairs ~ n_docs * copies / 2 region)
    assert n_ssj < n_docs * 50, (n_ssj, n_docs)

    # bipartite graph: 200k left nodes x 10 right-degree, right nodes
    # drawn from 20k hubs -> left wedge centers capped at 64
    e = spark.range(2_000_000).select(
        (F.col("id") % 200_000).alias("src"),
        (F.abs(F.xxhash64("id")) % 20_000 + 1_000_000).alias("dst"),
    )
    t0 = time.perf_counter()
    lp = link_prediction_scores(e, max_wedge_degree=64)
    n_lp = lp.count()
    t_lp = time.perf_counter() - t0

    big = spark.range(5_000_000).select(
        "id", (F.abs(F.xxhash64("id")) % 1_000_000).cast("double").alias("v")
    )
    a = big.filter(F.col("id") % 2 == 0)
    b = big.filter(F.col("id") % 2 == 1)
    t0 = time.perf_counter()
    ks = ks_test(a, b, "v").collect()[0]
    t_ks = time.perf_counter() - t0
    assert ks.ks_stat is not None and ks.ks_stat < 0.01

    target = docs.filter(F.col("doc_id") % 10 == 0)
    t0 = time.perf_counter()
    n_dsir = importance_resample(docs, target, k=1000).count()
    t_dsir = time.perf_counter() - t0
    assert n_dsir == 1000

    ka = spark.range(5_000_000).select(F.col("id").alias("key"))
    kb = spark.range(2_000_000, 7_000_000).select(F.col("id").alias("key"))
    t0 = time.perf_counter()
    ra = kmv_registers(ka, "key", k=1024)
    rb = kmv_registers(kb, "key", k=1024)
    ov = kmv_set_ops(ra, rb, k=1024).collect()[0]
    t_kmv = time.perf_counter() - t0
    assert abs(ov.est_union - 7_000_000) / 7_000_000 < 0.15
    assert abs(ov.est_intersection - 3_000_000) / 3_000_000 < 0.15

    # HITS on the 1M-edge two-community chain graph (reuses the LPA
    # rehearsal's shape); 3 iterations, end-only normalization
    from moz_datapipeline_spark.graph.hits import hits as _hits

    half = 500_000
    intra = spark.range(half - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    comm_b = intra.select(
        (F.col("src") + half).alias("src"),
        (F.col("dst") + half).alias("dst"),
    )
    hedges = intra.unionByName(comm_b)
    t0 = time.perf_counter()
    n_hits = _hits(hedges, iters=3).count()
    t_hits = time.perf_counter() - t0

    # harmonic centrality: 4 pivots, 3 hops over the 2M-edge bipartite
    from moz_datapipeline_spark.graph.centrality import (
        harmonic_centrality,
    )

    t0 = time.perf_counter()
    hc = harmonic_centrality(
        e, sources=[0, 1, 2, 3], max_hops=3
    )
    n_hc = hc.count()
    t_hc = time.perf_counter() - t0
    hc.unpersist()

    return {
        "hits_nodes": n_hits,
        "hits_sec": round(t_hits, 2),
        "harmonic_nodes": n_hc,
        "harmonic_sec": round(t_hc, 2),
        "ssj_docs": n_docs,
        "ssj_pairs_t08": n_ssj,
        "ssj_sec": round(t_ssj, 2),
        "linkpred_edges": 2_000_000,
        "linkpred_pairs": n_lp,
        "linkpred_sec": round(t_lp, 2),
        "ks_rows": 5_000_000,
        "ks_stat": ks.ks_stat,
        "ks_sec": round(t_ks, 2),
        "dsir_docs": n_docs,
        "dsir_sec": round(t_dsir, 2),
        "kmv_setops_keys": 10_000_000,
        "kmv_est_union": ov.est_union,
        "kmv_est_intersection": ov.est_intersection,
        "kmv_sec": round(t_kmv, 2),
    }


def round9_ops_scale_check(spark) -> dict:
    """Rehearsals for the round-9 additions and the round-8 statistics
    battery at scale.

    - ``margin_mine_pairs`` with LSH candidates at **1M × 1M vectors**
      (dim 16) — a grid the brute broadcast path cannot run (10¹²
      pairs): ``lsh_candidate_pairs`` (18 planes × 2 tables) bounds the
      scored set to a few million pairs, and ≥ half of the 2k planted
      translations must be mined back.
    - ``bootstrap_ci`` at 5M rows × 32 replicates (production xxhash
      path) — the explode+two-sum plan is linear in rows·B/2.
    - ``mann_kendall`` over a SKEWED group histogram (2k×200-row
      groups + one 2k-row group): the recorded pair count proves cost
      follows Σ n_g²/2, never |rows|²; planted-trend groups must read
      ``increasing``.
    """
    from moz_datapipeline_spark.operators.analytics import bootstrap_ci
    from moz_datapipeline_spark.operators.similarity import (
        lsh_candidate_pairs,
        margin_mine_pairs,
    )
    from moz_datapipeline_spark.operators.temporal import mann_kendall

    # dim 32: random-pair cosines concentrate as 1/sqrt(dim), and LSH
    # bucket purity rides on that concentration — at dim 16 the cosine
    # spread fattens the collision tail ~30x (measured 116M candidates
    # at 18 planes); at dim 32 x 20 planes the candidate set lands in
    # the tens of millions, 4-5 orders below the 1e12 grid
    def vec(prefix: str, extra: str = "") -> str:
        return (
            "transform(sequence(1, 32), j -> "
            f"pmod(xxhash64(concat('{prefix}', CAST(id AS STRING), ':', "
            "CAST(j AS STRING))), 1000) / 500.0 - 1.0"
            f"{extra})"
        )

    n_side = 1_000_000
    n_plant = 2_000
    a = spark.range(n_side).select(
        F.col("id").alias("vec_id"), F.expr(vec("va:")).alias("embedding")
    )
    planted = spark.range(n_plant).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        F.expr(vec("va:", " + 0.002 * j")).alias("embedding"),
    )
    b = planted.unionByName(
        spark.range(n_plant, n_side).select(
            (F.col("id") + 10_000_000).alias("vec_id"),
            F.expr(vec("vb:")).alias("embedding"),
        )
    )
    t0 = time.perf_counter()
    cand = lsh_candidate_pairs(a, b, dim=32, n_planes=20, n_tables=2)
    n_cand = cand.count()
    t_cand = time.perf_counter() - t0
    # the whole point: candidates are MILLIONS, the brute grid is 1e12
    assert 0 < n_cand < 200_000_000, n_cand
    t0 = time.perf_counter()
    mined = margin_mine_pairs(
        a, b, k=4, threshold=1.02, candidates=cand
    )
    hits = mined.filter(
        F.col("id_b") == F.col("id_a") + 10_000_000
    ).count()
    t_margin = time.perf_counter() - t0
    assert hits >= n_plant // 2, hits

    big = spark.range(5_000_000).select(
        F.concat(F.lit("r"), F.col("id").cast("string")).alias("rid"),
        (F.col("id") % 4).alias("g"),
        (F.abs(F.xxhash64("id")) % 1_000_000).cast("double").alias("y"),
    )
    t0 = time.perf_counter()
    ci = bootstrap_ci(
        big, "y", "rid", group_cols=["g"], replicates=32, portable=False
    ).collect()
    t_boot = time.perf_counter() - t0
    assert len(ci) == 4 and all(r.ci_lo < r.ci_hi for r in ci)

    n_small, len_small, len_big = 2_000, 200, 2_000
    small = spark.range(n_small * len_small).select(
        F.concat(F.lit("g"), (F.col("id") % n_small).cast("string")).alias(
            "g"
        ),
        (F.col("id") / n_small).cast("double").alias("t"),
        (
            F.when(
                F.col("id") % n_small < n_small // 2, F.col("id") / n_small
            )
            .otherwise(F.lit(0.0))
            + (F.abs(F.xxhash64("id")) % 100).cast("double") / 10.0
        ).alias("v"),
    )
    skew = spark.range(len_big).select(
        F.lit("whale").alias("g"),
        F.col("id").cast("double").alias("t"),
        (F.abs(F.xxhash64("id")) % 100).cast("double").alias("v"),
    )
    series = small.unionByName(skew)
    n_pairs = n_small * (len_small * (len_small - 1) // 2) + (
        len_big * (len_big - 1) // 2
    )
    t0 = time.perf_counter()
    mk = mann_kendall(series, "g", "t", "v", max_group_rows=10_000)
    inc = mk.filter(F.col("trend") == "increasing").count()
    t_mk = time.perf_counter() - t0
    # the 1k planted-trend groups (index < n_small/2: v grows with t)
    # must read increasing; noise groups stay near the 2.5% false rate
    assert inc >= n_small // 2 - 50, inc

    # exact multi-quantile at 50M rows: the distributed histogram
    # selection must stay seconds-scale where the percentile builtin's
    # single-task buffer merge would dominate; boundaries must be
    # sorted (the bisection consumers depend on it)
    from moz_datapipeline_spark.operators.ranges import exact_quantiles

    big_q = spark.range(50_000_000).select(
        (F.abs(F.xxhash64("id")) % 10_000_000).cast("double").alias("v")
    )
    t0 = time.perf_counter()
    qv = exact_quantiles(big_q, "v", [i / 100 for i in range(101)])
    t_eq = time.perf_counter() - t0
    assert qv is not None and len(qv) == 101
    assert all(a <= b for a, b in zip(qv, qv[1:]))

    return {
        "exact_quantiles_rows": 50_000_000,
        "exact_quantiles_sec": round(t_eq, 2),
        "margin_side_rows": n_side,
        "margin_lsh_candidates": n_cand,
        "margin_cand_sec": round(t_cand, 2),
        "margin_planted": n_plant,
        "margin_planted_mined": hits,
        "margin_mine_sec": round(t_margin, 2),
        "bootstrap_rows": 5_000_000,
        "bootstrap_replicates": 32,
        "bootstrap_sec": round(t_boot, 2),
        "mk_rows": n_small * len_small + len_big,
        "mk_pairs": n_pairs,
        "mk_increasing": inc,
        "mk_sec": round(t_mk, 2),
    }


def round10_ops_scale_check(spark) -> dict:
    """Round-10 rehearsals.

    - ``margin_recall_by_tables``: planted-pair CANDIDATE recall of
      ``lsh_candidate_pairs`` at the 1M × 1M grid for n_tables ∈
      {2, 4, 8} (dim 32, 20 planes) — the documented recall curve the
      margin-mining default rides on.  Candidate recall upper-bounds
      mined recall, and the candidate pass is the knob-dependent part
      (the mine itself is candidate-count-priced), so the curve is
      measured on candidates and the full mine runs once at the
      default.
    - ``exact_quantiles`` on a PATHOLOGICAL column (50M rows, 12
      distinct values): every needed bucket is an over-cap tie mass —
      the round-9 code declined here into the builtin single-task
      sort; the recursion must resolve every rank from per-bucket
      min==max with zero candidate collection.
    - Rollup-contract proofs for the recursive pandas kernels:
      ``holt_linear`` over |groups|·|rollup| rows (20k × 250 = 5M),
      ``kaplan_meier`` folding 20M raw rows to a |distinct duration|
      rollup before its windows, ``markov_transitions`` shuffling 10M
      events by user once (1M users, 20 types → 400-cell matrix).
    """
    from moz_datapipeline_spark.operators.analytics import (
        kaplan_meier,
        markov_transitions,
    )
    from moz_datapipeline_spark.operators.ranges import exact_quantiles
    from moz_datapipeline_spark.operators.similarity import (
        lsh_candidate_pairs,
    )
    from moz_datapipeline_spark.operators.temporal import holt_linear

    def vec(prefix: str, extra: str = "") -> str:
        return (
            "transform(sequence(1, 32), j -> "
            f"pmod(xxhash64(concat('{prefix}', CAST(id AS STRING), ':', "
            "CAST(j AS STRING))), 1000) / 500.0 - 1.0"
            f"{extra})"
        )

    n_side = 1_000_000
    n_plant = 2_000
    a = spark.range(n_side).select(
        F.col("id").alias("vec_id"), F.expr(vec("va:")).alias("embedding")
    )
    planted = spark.range(n_plant).select(
        (F.col("id") + 10_000_000).alias("vec_id"),
        F.expr(vec("va:", " + 0.002 * j")).alias("embedding"),
    )
    b = planted.unionByName(
        spark.range(n_plant, n_side).select(
            (F.col("id") + 10_000_000).alias("vec_id"),
            F.expr(vec("vb:")).alias("embedding"),
        )
    )
    recall_by_tables: dict = {}
    for nt in (2, 4, 8):
        t0 = time.perf_counter()
        cand = lsh_candidate_pairs(a, b, dim=32, n_planes=20, n_tables=nt)
        hit = cand.filter(
            (F.col("id_b") == F.col("id_a") + 10_000_000)
            & (F.col("id_a") < n_plant)
        ).count()
        recall_by_tables[str(nt)] = {
            "cand_recall": round(hit / n_plant, 4),
            "sec": round(time.perf_counter() - t0, 1),
        }

    # pathological few-distinct column: 50M rows, 12 values — every
    # needed bucket is millions of tied rows (the old cap-trip case)
    patho = spark.range(50_000_000).select(
        (F.abs(F.xxhash64("id")) % 12).cast("double").alias("v")
    )
    t0 = time.perf_counter()
    qv = exact_quantiles(patho, "v", [i / 20 for i in range(21)])
    t_patho = time.perf_counter() - t0
    assert qv is not None and len(qv) == 21
    assert all(x <= y for x, y in zip(qv, qv[1:]))

    # holt_linear: 20k groups × 250-bucket rollup = 5M kernel rows
    n_g, n_t = 20_000, 250
    roll = spark.range(n_g * n_t).select(
        (F.col("id") % n_g).cast("string").alias("g"),
        (F.col("id") / n_g).cast("long").alias("t"),
        (
            (F.col("id") / n_g).cast("double")
            + (F.abs(F.xxhash64("id")) % 100).cast("double") / 25.0
        ).alias("v"),
    )
    t0 = time.perf_counter()
    n_holt = holt_linear(roll, "g", "t", "v").count()
    t_holt = time.perf_counter() - t0
    assert n_holt == n_g * n_t

    # kaplan_meier: 20M raw rows -> |distinct duration| rollup (2k)
    km_raw = spark.range(20_000_000).select(
        (F.col("id") % 4).alias("cohort"),
        (F.abs(F.xxhash64("id")) % 2_000).cast("double").alias("dur"),
        (F.abs(F.xxhash64("id", F.lit(1))) % 10 < 8).cast("int").alias(
            "ev"
        ),
    )
    t0 = time.perf_counter()
    km = kaplan_meier(km_raw, "dur", "ev", group_cols=["cohort"])
    n_km = km.count()
    t_km = time.perf_counter() - t0
    assert n_km <= 4 * 2_000

    # markov: 10M events, 1M users, 20 types -> ≤400-cell matrix
    mk_raw = spark.range(10_000_000).select(
        (F.col("id") % 1_000_000).alias("user_id"),
        (F.col("id") / 1_000_000).cast("long").alias("ts"),
        F.concat(
            F.lit("t"), (F.abs(F.xxhash64("id")) % 20).cast("string")
        ).alias("event_type"),
        F.col("id").alias("eid"),
    )
    t0 = time.perf_counter()
    mt = markov_transitions(
        mk_raw, "user_id", "ts", "event_type", tiebreak_col="eid"
    )
    n_mt = mt.count()
    t_mt = time.perf_counter() - t0
    assert n_mt <= 400

    # k-truss on a planted-community graph: 100k cliques of 6 (1.5M
    # in-community edges) + 1M random cross edges — the support peel
    # must strip the random edges and keep the cliques, with wedge
    # volume bounded by the degree orientation (never |E|² pairs)
    from moz_datapipeline_spark.graph.truss import k_truss

    n_cliques = 100_000
    clique = spark.range(n_cliques * 15).select(
        (F.col("id") % n_cliques).alias("cq"),
        (F.col("id") / n_cliques).cast("long").alias("pair"),
    )
    # the 15 unordered pairs of a 6-clique, arithmetically
    pair_a = F.expr(
        "CASE WHEN pair < 5 THEN 0 WHEN pair < 9 THEN 1 "
        "WHEN pair < 12 THEN 2 WHEN pair < 14 THEN 3 ELSE 4 END"
    )
    pair_b = F.expr(
        "CASE WHEN pair < 5 THEN pair + 1 "
        "WHEN pair < 9 THEN pair - 3 "
        "WHEN pair < 12 THEN pair - 9 + 3 "
        "WHEN pair < 14 THEN pair - 12 + 4 ELSE 5 END"
    )
    clique_edges = clique.select(
        (F.col("cq") * 6 + pair_a).alias("src"),
        (F.col("cq") * 6 + pair_b).alias("dst"),
    )
    noise = spark.range(1_000_000).select(
        (F.abs(F.xxhash64("id")) % (n_cliques * 6)).alias("src"),
        (F.abs(F.xxhash64("id", F.lit(1))) % (n_cliques * 6)).alias(
            "dst"
        ),
    )
    t0 = time.perf_counter()
    truss = k_truss(
        clique_edges.unionByName(noise), k=4, rounds=3
    )
    n_truss = truss.count()
    t_truss = time.perf_counter() - t0
    # every clique edge survives (support 4 within its 6-clique)
    assert n_truss >= n_cliques * 15, n_truss

    return {
        "ktruss_edges_in": 2_500_000,
        "ktruss_edges_kept": n_truss,
        "ktruss_sec": round(t_truss, 2),
        "margin_recall_by_tables": recall_by_tables,
        "quantiles_patho_rows": 50_000_000,
        "quantiles_patho_distinct": 12,
        "quantiles_patho_sec": round(t_patho, 2),
        "holt_groups": n_g,
        "holt_rollup_rows": n_g * n_t,
        "holt_sec": round(t_holt, 2),
        "km_rows_in": 20_000_000,
        "km_rollup_rows": n_km,
        "km_sec": round(t_km, 2),
        "markov_rows_in": 10_000_000,
        "markov_matrix_cells": n_mt,
        "markov_sec": round(t_mt, 2),
    }


def round11_ops_scale_check(spark) -> dict:
    """Round-11 rehearsal: the mleval family at its design scale.

    - ``retrieval_eval`` at |queries| ≫ cores: 200k queries × 50 run
      docs (10M run rows) against 1M qrel rows.  The shuffle shape to
      demonstrate: ONE hash exchange on (query, doc) for the left
      join, then per-query windows partitioned by query_id — 200k
      independent window partitions spread over the cores, never a
      global sort, output = one row per query.
    - ``classification_report`` over 50M (label, pred) rows: a single
      map-side-combined hash aggregate to ONE confusion-matrix row —
      exchange carries 4 counters per partition, not data.
    - ``calibration_curve`` over 50M scores: one hash aggregate to a
      ≤ n_bins rollup (exchange ≤ bins × partitions rows), then
      bins-sized windows.
    """
    from moz_datapipeline_spark.operators.mleval import (
        calibration_curve,
        classification_report,
        retrieval_eval,
    )

    out: dict = {}

    n_q, per_q = 200_000, 50
    run = spark.range(n_q * per_q).select(
        (F.col("id") % n_q).alias("query_id"),
        (F.col("id") / n_q).cast("long").alias("doc_id"),
        (F.pmod(F.xxhash64(F.col("id")), 10_000) / 100.0).alias("score"),
    )
    qrels = spark.range(n_q * 5).select(
        (F.col("id") % n_q).alias("query_id"),
        ((F.col("id") / n_q).cast("long") * 7 % per_q).alias("doc_id"),
        (1 + F.col("id") % 3).cast("double").alias("rel"),
    )
    t0 = time.perf_counter()
    ev = retrieval_eval(run, qrels, k=10)
    out["retrieval_eval_queries_out"] = ev.count()
    out["retrieval_eval_run_rows"] = n_q * per_q
    out["retrieval_eval_sec"] = round(time.perf_counter() - t0, 2)
    out["retrieval_eval_shuffle"] = (
        "1 exchange on (query,doc) for the qrel join + per-query "
        "windows partitioned by query_id (200k partitions over the "
        "cores); output rows = |queries|"
    )

    n = 50_000_000
    preds = spark.range(n).select(
        (F.pmod(F.xxhash64(F.col("id")), 100) < 45).cast("int").alias("label"),
        (F.pmod(F.xxhash64(F.col("id") + 7), 100) < 48)
        .cast("int")
        .alias("pred"),
    )
    t0 = time.perf_counter()
    rep = classification_report(preds, "label", "pred").collect()
    out["classification_rows_in"] = n
    out["classification_sec"] = round(time.perf_counter() - t0, 2)
    out["classification_shuffle"] = (
        "one map-side-combined hash aggregate to a single confusion "
        "row; exchange = 4 counters per input partition"
    )
    assert len(rep) == 1

    scores = spark.range(n).select(
        (F.pmod(F.xxhash64(F.col("id")), 10_000) / 10_000.0).alias("score"),
        (F.pmod(F.xxhash64(F.col("id") + 3), 100) < 50)
        .cast("int")
        .alias("label"),
    )
    t0 = time.perf_counter()
    curve = calibration_curve(scores, "score", "label", n_bins=10)
    out["calibration_bins_out"] = curve.count()
    out["calibration_rows_in"] = n
    out["calibration_sec"] = round(time.perf_counter() - t0, 2)
    out["calibration_shuffle"] = (
        "one hash aggregate to a <= n_bins rollup (exchange <= "
        "bins x partitions rows); everything after is bins-sized"
    )
    return out


def round11e_ops_scale_check(spark) -> dict:
    """Round-11e rehearsal: the rank-stats / experimentation family
    at its design scale.

    - ``kruskal_wallis`` over 50M rows in 20 groups with ONLY 1,000
      distinct values (the tie-heavy regime the correction exists
      for): the data-sized pass is one (grp, v) hash aggregate →
      20k-row rollup; ranks/H fold never touch the data again.
    - ``uplift_bins`` over 20M rows with a 10k-value score: the
      two-phase prefix runs on the 10k-row rollup; the exchange
      carries rollup rows, not data rows.
    - ``periodogram`` over 100k series × ~200 buckets each (20M
      rollup rows × 8 harmonics): zero windows — the (grp, k)
      aggregate is the only exchange past the rollup.
    - ``span_corruption`` over 2M synthetic docs (~250 tokens each):
      pure projection + explode, zero exchanges — rows/sec is the
      whole story.
    """
    from moz_datapipeline_spark.operators.analytics import kruskal_wallis
    from moz_datapipeline_spark.operators.corpus import span_corruption
    from moz_datapipeline_spark.operators.mleval import uplift_bins
    from moz_datapipeline_spark.operators.temporal import periodogram

    out: dict = {}

    n = 50_000_000
    df = spark.range(n).select(
        (F.col("id") % 20).cast("string").alias("g"),
        F.pmod(F.xxhash64("id"), 1_000).cast("double").alias("v"),
    )
    t0 = time.perf_counter()
    r = kruskal_wallis(df, "v", "g").collect()[0]
    out["kw_rows_in"] = n
    out["kw_distinct_values"] = 1_000
    out["kw_sec"] = round(time.perf_counter() - t0, 2)
    out["kw_h_finite"] = bool(r.h_stat is not None)

    n = 20_000_000
    df = spark.range(n).select(
        (F.pmod(F.xxhash64("id"), 10_000) / 10_000.0).alias("s"),
        (F.col("id") % 2).cast("int").alias("t"),
        (F.pmod(F.xxhash64("id", F.lit(1)), 10) < 3).cast("int").alias(
            "o"
        ),
    )
    t0 = time.perf_counter()
    bins = uplift_bins(df, "s", "t", "o", n_bins=10).collect()
    out["uplift_rows_in"] = n
    out["uplift_bins_out"] = len(bins)
    out["uplift_sec"] = round(time.perf_counter() - t0, 2)

    n_series, n_buckets = 100_000, 200
    ns_hour = 3_600_000_000_000
    ev = spark.range(n_series * n_buckets).select(
        (F.col("id") % n_series).cast("string").alias("event_type"),
        ((F.col("id") / n_series).cast("long") * ns_hour).alias("ts"),
        (F.pmod(F.xxhash64("id"), 100)).cast("double").alias("value"),
    )
    t0 = time.perf_counter()
    n_rows = periodogram(ev, max_harmonic=8).count()
    out["periodogram_series"] = n_series
    out["periodogram_rows_out"] = n_rows
    out["periodogram_sec"] = round(time.perf_counter() - t0, 2)

    n_docs = 2_000_000
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.expr("repeat('tok ', 50 + cast(id % 400 as int))").alias(
            "text"
        ),
    )
    t0 = time.perf_counter()
    n_spans = span_corruption(docs).count()
    dt = time.perf_counter() - t0
    out["span_docs_in"] = n_docs
    out["span_masks_out"] = n_spans
    out["span_sec"] = round(dt, 2)
    out["span_docs_per_sec"] = round(n_docs / dt, 1)
    return out


def round11f_ops_scale_check(spark) -> dict:
    """Round-11f rehearsal: drift / basket / walk / maintenance ops
    at their design scale.

    - ``wasserstein_1d`` over 25M vs 25M rows with a 10k-value grid:
      the CDF scan runs on the 10k-row rollup — data passes once.
    - ``frequent_itemsets`` over 10M (basket, item) rows drawn from a
      200-item catalog (40-item baskets): L1/L2 prune before the
      triple join; the candidate count, not the data, bounds L3.
    - ``random_walks`` (len 4 × 1 walk) over a 1M-edge graph: 4 equi
      joins of a 100k-row frontier against the neighbor index.
    - ``skipgram_pairs`` (window 2) over 20M sequence positions:
      explode + equi join, output 4×|rows| bounded.
    - ``compaction_plan`` over 5M synthetic files: the two-phase
      prefix scan on a metadata-sized listing.
    """
    from moz_datapipeline_spark.graph.walks import random_walks
    from moz_datapipeline_spark.operators.analytics import wasserstein_1d
    from moz_datapipeline_spark.operators.relational import (
        compaction_plan,
        frequent_itemsets,
    )
    from moz_datapipeline_spark.operators.text import skipgram_pairs

    out: dict = {}

    n = 25_000_000
    a = spark.range(n).select(
        (F.pmod(F.xxhash64("id"), 10_000)).cast("double").alias("v")
    )
    b = spark.range(n).select(
        (F.pmod(F.xxhash64("id", F.lit(7)), 10_000) + 500)
        .cast("double")
        .alias("v")
    )
    t0 = time.perf_counter()
    r = wasserstein_1d(a, b, "v").collect()[0]
    out["w1_rows_per_side"] = n
    out["w1_value"] = float(r.wasserstein)
    out["w1_sec"] = round(time.perf_counter() - t0, 2)

    n = 10_000_000
    # planted design: 20 HOT items in ~30% of rows (frequent), a 10k
    # cold tail (pruned at L1) — the realistic sparse-basket shape;
    # a dense-pair config is the operator's documented blow-up case
    # and raises via max_triple_candidates instead of running
    baskets = spark.range(n).select(
        (F.col("id") / 40).cast("long").alias("basket"),
        F.when(
            F.pmod(F.xxhash64("id", F.lit(11)), 10) < 3,
            F.pmod(F.xxhash64("id"), 20),
        )
        .otherwise(F.pmod(F.xxhash64("id"), 10_000) + 100)
        .cast("string")
        .alias("item"),
    )
    t0 = time.perf_counter()
    fi = frequent_itemsets(
        baskets, "basket", "item", min_support=20_000, max_size=3
    )
    counts = {r["size"]: r["n"] for r in
              fi.groupBy("size").agg(F.count(F.lit(1)).alias("n")).collect()}
    out["fi_rows_in"] = n
    out["fi_l1"] = int(counts.get(1, 0))
    out["fi_l2"] = int(counts.get(2, 0))
    out["fi_l3"] = int(counts.get(3, 0))
    out["fi_sec"] = round(time.perf_counter() - t0, 2)

    edges_fwd = spark.range(1_000_000).select(
        F.pmod(F.xxhash64("id"), 100_000).alias("src"),
        F.pmod(F.xxhash64("id", F.lit(3)), 100_000).alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    t0 = time.perf_counter()
    n_walk_rows = random_walks(edges_fwd, walk_len=4,
                               walks_per_node=1).count()
    out["walks_edges_in"] = 1_000_000
    out["walks_rows_out"] = n_walk_rows
    out["walks_sec"] = round(time.perf_counter() - t0, 2)

    n = 20_000_000
    seqs = spark.range(n).select(
        (F.col("id") / 100).cast("long").alias("seq"),
        F.pmod(F.col("id"), 100).alias("pos"),
        F.pmod(F.xxhash64("id"), 50).cast("string").alias("tok"),
    )
    t0 = time.perf_counter()
    n_pairs = skipgram_pairs(seqs, "seq", "pos", "tok", window=2).count()
    out["skipgram_rows_in"] = n
    out["skipgram_pairs_out"] = n_pairs
    out["skipgram_sec"] = round(time.perf_counter() - t0, 2)

    n = 5_000_000
    listing = spark.range(n).select(
        F.concat(F.lit("f"), F.col("id").cast("string")).alias("path"),
        (F.pmod(F.xxhash64("id"), 8_000_000) + 1024).alias("bytes"),
    )
    t0 = time.perf_counter()
    plan = compaction_plan(listing, target_bytes=512 * 1024 * 1024)
    n_bins = plan.select("bin").distinct().count()
    out["compaction_files_in"] = n
    out["compaction_bins_out"] = n_bins
    out["compaction_sec"] = round(time.perf_counter() - t0, 2)
    return out


def round12_ops_scale_check(spark) -> dict:
    """Round-12: Apriori (``frequent_itemsets``) under adversarial
    basket skew — the dense-pair hazard its ``max_triple_candidates``
    guard exists for, measured instead of asserted.

    Corpus: 1M baskets × 8 draws from a 10k-item Zipf(s≈1) catalog
    (rank = floor(N^u) ⇒ p(rank r) ∝ ln(1+1/r)): the head item lands
    in ~40% of baskets, so the pair level is dominated by hot×hot
    co-occurrence — the classic blow-up shape.

    Measured: wall time + L1/L2/L3 counts at 0.5% support (the
    realistic setting), then the guard TRIP POINT at 0.02% support
    on a 200k-basket slice with a deliberately small cap (measured
    candidates: ~24k at 0.05%, ~107k at 0.02%, ~1M at 0.005% — the
    blow-up is sharply super-linear in 1/support; the candidate count
    in the raised error is recorded.  The guard fires BEFORE the
    triple count join, so tripping costs only the pair rollup +
    candidate count, never the blow-up join itself).
    """
    from moz_datapipeline_spark.operators.relational import (
        frequent_itemsets,
    )

    out: dict = {}
    n_baskets, basket_sz, n_items = 1_000_000, 8, 10_000
    rows = spark.range(n_baskets * basket_sz).select(
        (F.col("id") / basket_sz).cast("long").alias("basket"),
        F.concat(
            F.lit("i"),
            F.floor(
                F.pow(
                    F.lit(float(n_items)),
                    F.pmod(F.xxhash64("id"), 1_000_000)
                    / F.lit(1_000_000.0),
                )
            ).cast("long"),
        ).alias("item"),
    )
    min_support = n_baskets // 200  # 0.5%
    t0 = time.perf_counter()
    fi = frequent_itemsets(
        rows, "basket", "item", min_support=min_support, max_size=3
    )
    by_size = {
        r["size"]: r["n"]
        for r in fi.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out["apriori_baskets"] = n_baskets
    out["apriori_catalog"] = n_items
    out["apriori_min_support"] = min_support
    out["apriori_l1"] = by_size.get(1, 0)
    out["apriori_l2"] = by_size.get(2, 0)
    out["apriori_l3"] = by_size.get(3, 0)
    out["apriori_sec"] = round(time.perf_counter() - t0, 2)

    # guard trip: 25x lower support densifies the pair level; the cap
    # must refuse the triple join loudly and FAST (no basket scan)
    trip_baskets = 200_000
    trip_rows = rows.filter(F.col("basket") < trip_baskets)
    t0 = time.perf_counter()
    tripped = None
    try:
        frequent_itemsets(
            trip_rows,
            "basket",
            "item",
            min_support=trip_baskets // 5000,
            max_size=3,
            max_triple_candidates=50_000,
        ).count()
    except ValueError as e:
        tripped = str(e)
    assert tripped is not None, (
        "apriori guard did not trip at 0.02% support / 50k cap"
    )
    out["apriori_trip_baskets"] = trip_baskets
    out["apriori_guard_candidates"] = int(
        tripped.split(":")[1].strip().split(" ")[0]
    )
    out["apriori_guard_trip_sec"] = round(time.perf_counter() - t0, 2)
    out["apriori_shuffle"] = (
        "basket self-join restricted to L1 items (broadcast semi-join)"
        " -> pair rollup; triple candidates from L2xL2 closure BEFORE "
        "any basket scan; guard counts candidates, never materializes "
        "the triple join"
    )

    # --- point-level DBSCAN at design scale: 2M points, 16 blobs ---
    from moz_datapipeline_spark.operators.geometry import grid_dbscan

    n_pts = 2_000_000
    pts = spark.range(n_pts).select(
        F.col("id"),
        (
            (F.col("id") % 16) * 20 - 160
            + (F.pmod(F.xxhash64(F.col("id")), 2_000_000) / 1_000_000.0)
        ).alias("lon"),
        (
            F.pmod(F.xxhash64(F.col("id") + 7), 2_000_000) / 1_000_000.0
        ).alias("lat"),
    )
    t0 = time.perf_counter()
    clustered = grid_dbscan(pts, eps_km=0.5, min_pts=4)
    agg = clustered.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_core"), 1).otherwise(0)).alias("core"),
        F.sum(
            F.when(F.col("cluster").isNull(), 1).otherwise(0)
        ).alias("noise"),
        F.countDistinct("cluster").alias("clusters"),
    ).collect()[0]
    out["dbscan_points"] = n_pts
    out["dbscan_core"] = int(agg["core"])
    out["dbscan_noise"] = int(agg["noise"])
    out["dbscan_clusters"] = int(agg["clusters"])
    out["dbscan_sec"] = round(time.perf_counter() - t0, 2)
    out["dbscan_shuffle"] = (
        "epsilon join = one 9-offset cell equi join (fan-in = local "
        "density), pair set severed once; connectivity on the exact "
        "eps-diagonal cell contraction (occupied-cell-sized), "
        "union-find on the driver under the 1M-edge cap"
    )
    _section_gc(spark)
    return out


def _section_gc(spark) -> None:
    """Release caches and lingering localCheckpoint blocks between
    sections: the rehearsal shares ONE JVM across ~20 sections, and
    accumulated cached frames + broadcast blocks eventually starve the
    driver-side broadcast builder (observed as a broadcast OOM in a
    section that passes in isolation)."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)


def main(argv: list[str] | None = None) -> None:
    chosen = _chosen_sections(argv)
    # 24g driver heap: local-mode broadcasts build in THIS JVM, and
    # twenty sections of rehearsal state need headroom beyond the 8g
    # test default (the VM has 128 GiB)
    import os as _os

    spark = get_spark(
        app_name="dedup_scale_check",
        extra_conf={
            "spark.driver.memory": _os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "24g"
            )
        },
    )
    if not any(takes_docs for _, _, takes_docs in chosen):
        print(json.dumps(run_sections(spark, chosen)))
        return
    docs = amplified_corpus(spark, "/root/testdata/sf0.1/documents.parquet")
    print(json.dumps(run_sections(spark, chosen, docs)))


def dedup_scale_check(spark, docs) -> dict:
    """The near-dup path over the amplified corpus, with LSH recall."""
    n_docs = docs.count()
    n_origins = n_docs // 10

    t0 = time.perf_counter()
    sigs = minhash_signatures(docs, num_hashes=32)
    cands = minhash_lsh_candidates(sigs, bands=8).cache()
    n_cands = cands.count()
    t_lsh = time.perf_counter() - t0

    t0 = time.perf_counter()
    verified = ngram_jaccard_pairs(docs, cands, threshold=0.8).cache()
    n_verified = verified.count()
    t_verify = time.perf_counter() - t0

    t0 = time.perf_counter()
    comp = connected_components(verified.select("id_a", "id_b"))
    n_clusters = comp.select("component").distinct().count()
    survivors = dedup_keep_representatives(
        docs, verified.select("id_a", "id_b"), components=comp
    )
    n_kept = survivors.count()
    t_cluster = time.perf_counter() - t0

    recall, n_truth = lsh_recall(docs, n_origins, cands)
    return {
        "n_docs": n_docs,
        "lsh_candidates": n_cands,
        "verified_pairs": n_verified,
        "true_neardup_pairs": n_truth,
        "lsh_recall": round(recall, 4),
        "clusters": n_clusters,
        "docs_kept": n_kept,
        "removed_ratio": round(1 - n_kept / n_docs, 4),
        "t_lsh_sec": round(t_lsh, 2),
        "t_verify_sec": round(t_verify, 2),
        "t_cluster_sec": round(t_cluster, 2),
    }


#: (name, section, takes the amplified corpus) in run and output order
SECTIONS = [
    ("dedup", dedup_scale_check, True),
    ("hygiene", hygiene_scale_check, True),
    ("pq_recall", pq_recall_check, False),
    ("pq_rerank", pq_rerank_scale_check, False),
    ("incremental", incremental_scale_check, True),
    ("media", media_scale_check, False),
    ("routing", routing_scale_check, False),
    ("graph_lm", graph_lm_scale_check, True),
    ("components", components_scale_check, False),
    ("containment_semdedup", containment_semdedup_scale_check, True),
    ("warc", warc_scale_check, True),
    ("bpe", bpe_scale_check, True),
    ("kcore", kcore_scale_check, False),
    ("fuzzy", fuzzy_scale_check, False),
    ("retrieval_hll", retrieval_hll_scale_check, True),
    ("rank_retrieval2", rank_retrieval2_scale_check, True),
    ("round7", round7_ops_scale_check, True),
    ("round8", round8_ops_scale_check, True),
    ("round9", round9_ops_scale_check, False),
    ("round10", round10_ops_scale_check, False),
    ("round11", round11_ops_scale_check, False),
    ("round11b", round11b_ops_scale_check, False),
    ("round11c", round11c_ops_scale_check, False),
    ("round11d", round11d_ops_scale_check, False),
    ("round11e", round11e_ops_scale_check, False),
    ("round11f", round11f_ops_scale_check, False),
    ("round12", round12_ops_scale_check, False),
]


def run_sections(spark, sections, docs=None) -> dict:
    """Run ``sections`` in order, releasing caches between them, and
    merge their outputs (a section's keys follow the previous one's)."""
    out: dict = {}
    for i, (_, section, takes_docs) in enumerate(sections):
        if i:
            _section_gc(spark)
        out.update(section(spark, docs) if takes_docs else section(spark))
    return out


def _chosen_sections(argv: list[str] | None) -> list:
    """``SECTIONS``, or those named by ``--only`` (in ``SECTIONS`` order)."""
    import argparse

    names = [name for name, _, _ in SECTIONS]
    ap = argparse.ArgumentParser(description="Scale rehearsal; one JSON line.")
    ap.add_argument(
        "--only",
        metavar="SECTION[,SECTION]",
        help="run only these sections: " + ", ".join(names),
    )
    args = ap.parse_args(argv)
    if not args.only:
        return SECTIONS
    wanted = args.only.split(",")
    unknown = sorted(set(wanted) - set(names))
    if unknown:
        ap.error(f"unknown section(s): {', '.join(unknown)}")
    return [s for s in SECTIONS if s[0] in wanted]

if __name__ == "__main__":
    main()
