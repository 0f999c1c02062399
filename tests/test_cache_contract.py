"""Cache-lifetime contract: an operator that materializes intermediates
returns a frame that owns them (``iterate.owned``) — AT MOST one block
survives the call, and the result's ``unpersist()`` releases it.

The observable is Spark's storage registry (materialized cached RDDs):
after the result is counted, at most one new entry remains; after the
caller unpersists the result, the registry is back to its baseline.
Long-running drivers (streaming ingest, multi-day sessions) depend on
this — a session-lifetime cache per operator call is a slow leak.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _cached_rdd_count(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def _docs(spark, n=60):
    rows = [
        (i, " ".join(f"w{i % 7}tok{t}" for t in range(10))) for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _embs(spark, n=60):
    rows = [(i, [float((i * 7 + j) % 5) for j in range(8)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _simhash_sigs(spark, n=60):
    from moz_datapipeline_spark.operators.dedup import simhash

    return simhash(_docs(spark, n))


class TestEagerReleasesIntermediates:
    def test_minhash_lsh_candidates(self, spark):
        from moz_datapipeline_spark.operators.dedup import (
            minhash_lsh_candidates,
            minhash_signatures,
        )

        base = _cached_rdd_count(spark)
        sigs = minhash_signatures(_docs(spark))
        out = minhash_lsh_candidates(sigs)
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base

    def test_semantic_dedup(self, spark):
        from moz_datapipeline_spark.operators.similarity import semantic_dedup

        base = _cached_rdd_count(spark)
        out = semantic_dedup(_embs(spark), threshold=0.999, k=4)
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base

    def test_negative_sample(self, spark):
        from moz_datapipeline_spark.operators.corpus import negative_sample

        base = _cached_rdd_count(spark)
        out = negative_sample(_docs(spark), k=2)
        assert out.count() == 60 * 2
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base

    def test_embedding_near_dup(self, spark):
        from moz_datapipeline_spark.operators.similarity import (
            embedding_near_dup,
        )

        base = _cached_rdd_count(spark)
        out = embedding_near_dup(_embs(spark), threshold=0.99, dim=8)
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base

    def test_simhash_candidates(self, spark):
        from moz_datapipeline_spark.operators.dedup import (
            simhash,
            simhash_candidates,
        )

        base = _cached_rdd_count(spark)
        out = simhash_candidates(_simhash_sigs(spark))
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base

    def test_eager_matches_lazy_results(self, spark):
        """A result reads the same before and after the SQL cache is
        cleared: it never depends on a persisted cache."""
        from moz_datapipeline_spark.operators.corpus import negative_sample
        from moz_datapipeline_spark.operators.dedup import (
            minhash_lsh_candidates,
            minhash_signatures,
        )

        d = _docs(spark)
        for out in (
            minhash_lsh_candidates(minhash_signatures(d)),
            negative_sample(d, k=2),
        ):
            before = sorted(map(tuple, out.collect()))
            spark.catalog.clearCache()
            assert sorted(map(tuple, out.collect())) == before
            out.unpersist(blocking=True)


class TestRangeOpsEagerRelease:
    """ADVICE r7: global_rank / peak_concurrency / pareto_frontier_2d
    pinned their range-partitioned intermediates for the app lifetime.
    The result's unpersist must release them."""

    def _nums(self, spark, n=500):
        return spark.createDataFrame(
            [(i, float((i * 37) % 101)) for i in range(n)],
            "id long, x double",
        )

    def test_global_rank(self, spark):
        from moz_datapipeline_spark.operators.ranges import global_rank

        base = _cached_rdd_count(spark)
        out = global_rank(self._nums(spark), "x", ["id"])
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base

    def test_peak_concurrency(self, spark):
        from moz_datapipeline_spark.operators.ranges import peak_concurrency

        iv = spark.createDataFrame(
            [(i % 5, float(i), float(i + 3)) for i in range(200)],
            "g int, start double, end double",
        )
        base = _cached_rdd_count(spark)
        out = peak_concurrency(iv, "start", "end", group_cols=["g"])
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base

    def test_pareto_frontier(self, spark):
        from moz_datapipeline_spark.operators.ranges import (
            pareto_frontier_2d,
        )

        df = spark.createDataFrame(
            [(float(i % 20), float((i * 13) % 17)) for i in range(300)],
            "x double, y double",
        )
        base = _cached_rdd_count(spark)
        out = pareto_frontier_2d(df, "x", "y")
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base

    def test_eager_matches_lazy(self, spark):
        """Same before and after the SQL cache is cleared."""
        from moz_datapipeline_spark.operators.ranges import global_rank

        out = global_rank(self._nums(spark, 200), "x", ["id"])
        before = sorted(map(tuple, out.collect()))
        spark.catalog.clearCache()
        assert sorted(map(tuple, out.collect())) == before
        out.unpersist(blocking=True)

    def _scored(self, spark, n=400):
        return spark.createDataFrame(
            [
                (i, float((i * 37) % 101) / 101.0, int((i * 7) % 3 == 0))
                for i in range(n)
            ],
            "id long, score double, label int",
        )

    def test_roc_auc(self, spark):
        from moz_datapipeline_spark.operators.analytics import roc_auc

        base = _cached_rdd_count(spark)
        out = roc_auc(self._scored(spark), "score", "label")
        got = out.collect()
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) <= base
        lazy = roc_auc(self._scored(spark), "score", "label").collect()
        assert got == lazy

    def test_decile_lift(self, spark):
        from moz_datapipeline_spark.operators.analytics import decile_lift

        base = _cached_rdd_count(spark)
        out = decile_lift(
            self._scored(spark), "score", "label", tiebreak_cols=["id"]
        )
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        lazy = decile_lift(
            self._scored(spark), "score", "label", tiebreak_cols=["id"]
        )
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, lazy.collect())
        )
        out.unpersist(blocking=True)


class TestLpaLazyNeverPersists:
    """ADVICE r7 (revised): label_propagation used to pin rounds+1
    frames forever.  The restructured rounds consume each labels frame
    exactly once, so only the TWO static frames (edge list + vote-less
    set) are materialized — and both are released once the result is,
    leaving at most the returned frame."""

    def test_lazy_pins_only_the_two_statics(self, spark):
        from moz_datapipeline_spark.graph.lpa import label_propagation

        e = spark.createDataFrame(
            [(i, (i + 1) % 30) for i in range(30)] + [(2, 17), (5, 23)],
            "src long, dst long",
        )
        base = _cached_rdd_count(spark)
        out = label_propagation(e, rounds=3)
        out.count()
        # bounded: the statics, NEVER rounds+1 frames
        assert _cached_rdd_count(spark) <= base + 2

    def test_eager_releases_everything(self, spark):
        from moz_datapipeline_spark.graph.lpa import label_propagation

        e = spark.createDataFrame(
            [(i, (i + 1) % 30) for i in range(30)], "src long, dst long"
        )
        base = _cached_rdd_count(spark)
        out = label_propagation(e, rounds=2)
        out.count()
        assert _cached_rdd_count(spark) <= base + 1
        # the result is a severed localCheckpoint (a caller can't be
        # relied on to unpersist, and the bench exempts these blocks);
        # release it the severed way
        from moz_datapipeline_spark.iterate import sever_release

        sever_release(out)
        assert _cached_rdd_count(spark) <= base


class TestBenchLeakAssert:
    """bench.clear_storage must FAIL LOUD on a leaked persist() while
    silently cleaning legitimate localCheckpoint remnants (r12 verdict:
    the old in-bench assert unpersisted everything first, so it could
    never trip)."""

    def test_leaked_persist_trips_the_assert(self, spark):
        leak = spark.range(100).persist()
        leak.count()  # materialize so it enters the storage registry
        import bench

        with pytest.raises(AssertionError, match="leaked into the bench"):
            bench.clear_storage(spark, "scratch")
        # cleanup ran even though the assert fired
        assert _cached_rdd_count(spark) == 0

    def test_local_checkpoint_remnant_is_cleaned_not_failed(self, spark):
        from moz_datapipeline_spark.iterate import checkpoint_sever

        remnant = checkpoint_sever(spark.range(100))
        remnant.count()
        import bench

        bench.clear_storage(spark, "scratch")  # must NOT raise
        assert _cached_rdd_count(spark) == 0


@pytest.mark.usefixtures("clean_storage")
class TestDerivedResultReleasesEverything:
    """A result built ON TOP of another operator's result (a filter of
    simhash candidates, a rollup of a global rank, a fold of a
    checkpointed tile rollup) must still release every block it
    depends on when the caller unpersists it."""

    def test_image_near_dup(self, spark):
        import numpy as np

        from moz_datapipeline_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            image_near_dup,
        )
        from moz_datapipeline_spark.sources.avi import gradient_frame
        from moz_datapipeline_spark.sources.jpeg import encode_jpeg_baseline

        def media_row(i, frame):
            return (
                i,
                {
                    "payload": encode_jpeg_baseline(frame, quality=90),
                    "mime": "image/jpeg",
                    "width": 18,
                    "height": 12,
                    "sample_rate": None,
                    "channels": None,
                    "duration_ms": None,
                },
            )

        base = np.array(gradient_frame(0, 12, 18))
        tweaked = base.copy()
        tweaked[3, 5, 0] ^= 3
        df = spark.createDataFrame(
            [media_row(0, base), media_row(1, tweaked)],
            f"doc_id long, media struct<{MEDIA_SCHEMA}>",
        )
        base_n = _cached_rdd_count(spark)
        out = image_near_dup(df, max_hamming=6)
        assert out.count() == 1
        assert _cached_rdd_count(spark) <= base_n + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) == base_n

    def test_decile_lift(self, spark):
        from moz_datapipeline_spark.operators.analytics import decile_lift

        df = spark.createDataFrame(
            [
                (i, float((i * 37) % 101) / 101.0, int((i * 7) % 3 == 0))
                for i in range(400)
            ],
            "id long, score double, label int",
        )
        base = _cached_rdd_count(spark)
        out = decile_lift(df, "score", "label", tiebreak_cols=["id"])
        assert out.count() == 10
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) == base

    def test_lorenz_curve(self, spark):
        from moz_datapipeline_spark.operators.analytics import lorenz_curve

        df = spark.createDataFrame(
            [(float((i * 13) % 29),) for i in range(300)], "v double"
        )
        base = _cached_rdd_count(spark)
        out = lorenz_curve(df, "v", n_points=10)
        assert out.count() == 10
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) == base


    @pytest.mark.parametrize(
        "op",
        [
            "gini_concentration",
            "sorted_neighborhood_pairs",
            "rfm_segments",
            "spearman_corr",
            "abc_analysis",
            "pr_curve",
            "pack_documents",
            "batch_by_length",
        ],
    )
    def test_scan_result(self, spark, op):
        from moz_datapipeline_spark.operators import (
            analytics,
            fuzzy,
            mleval,
            text,
        )

        nums = spark.createDataFrame(
            [(i, i % 17, float((i * 37) % 101)) for i in range(200)],
            "id long, k long, x double",
        )
        orders = spark.createDataFrame(
            [
                (i % 40, f"1995-0{1 + i % 9}-1{i % 10}", float(i * 7 % 53))
                for i in range(200)
            ],
            "o_custkey long, o_orderdate string, o_totalprice double",
        ).withColumn("o_orderdate", F.to_date("o_orderdate"))
        build = {
            "gini_concentration": lambda: analytics.gini_concentration(
                nums, "k", "x"
            ),
            "sorted_neighborhood_pairs": lambda: fuzzy.sorted_neighborhood_pairs(
                nums, "x", "id"
            ),
            "rfm_segments": lambda: analytics.rfm_segments(orders),
            "spearman_corr": lambda: analytics.spearman_corr(nums, "k", "x"),
            "abc_analysis": lambda: analytics.abc_analysis(nums, "k", "x"),
            "pr_curve": lambda: mleval.pr_curve(
                nums.withColumn("label", (F.col("id") % 3 == 0).cast("int")),
                "x",
                "label",
            ),
            "pack_documents": lambda: text.pack_documents(
                _docs(spark), max_tokens=16
            ),
            "batch_by_length": lambda: text.batch_by_length(
                _docs(spark), batch_size=8
            ),
        }
        base = _cached_rdd_count(spark)
        out = build[op]()
        assert out.count() > 0
        assert _cached_rdd_count(spark) <= base + 1
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) == base

    @pytest.mark.parametrize(
        "op",
        [
            "kcore",
            "k_truss",
            "pagerank",
            "pagerank_iters0",
            "connected_components",
            "bradley_terry",
            "bradley_terry_distributed",
            "grid_density_clusters",
            "grid_dbscan",
            "random_walks",
            "dedup_keep_representatives",
        ],
    )
    def test_loop_result(self, spark, op):
        from moz_datapipeline_spark.graph.kcore import kcore
        from moz_datapipeline_spark.graph.pagerank import pagerank
        from moz_datapipeline_spark.graph.truss import k_truss
        from moz_datapipeline_spark.graph.walks import random_walks
        from moz_datapipeline_spark.operators.components import (
            connected_components,
            dedup_keep_representatives,
        )
        from moz_datapipeline_spark.operators.geometry import (
            grid_dbscan,
            grid_density_clusters,
        )
        from moz_datapipeline_spark.operators.mleval import bradley_terry

        # a K5 (triangles for the truss) hung on a 12-node ring, and a
        # three-link chain apart from it: 34 distinct edges
        und = [(a, b) for a in range(5) for b in range(a + 1, 5)]
        und += [(i, (i + 1) % 12) for i in range(4, 16)]
        und += [(20, 21), (21, 22), (22, 23)]
        edges = spark.createDataFrame(
            und + [(b, a) for a, b in und], "src long, dst long"
        )
        pairs = edges.select(
            F.col("src").alias("id_a"), F.col("dst").alias("id_b")
        )
        duels = [(i % 6, (i * 5 + 1) % 6) for i in range(40)]
        comparisons = spark.createDataFrame(
            [(w, l) for w, l in duels if w != l], "winner long, loser long"
        )
        points = spark.createDataFrame(
            [(i, 10 + i % 5 / 100, 20 + i // 5 / 100) for i in range(30)],
            "id long, lon double, lat double",
        )
        docs = spark.createDataFrame(
            [(i, f"d{i}") for i in range(30)], "doc_id long, text string"
        )
        build = {
            "kcore": lambda: kcore(edges, k=2, rounds=3),
            "k_truss": lambda: k_truss(edges, k=3),
            "pagerank": lambda: pagerank(edges, iters=3),
            "pagerank_iters0": lambda: pagerank(edges, iters=0),
            "connected_components": lambda: connected_components(pairs),
            "bradley_terry": lambda: bradley_terry(comparisons),
            "bradley_terry_distributed": lambda: bradley_terry(
                comparisons, iterations=3, solver_cap=0
            ),
            "grid_density_clusters": lambda: grid_density_clusters(
                points, cell_deg=0.02, min_pts=2
            ),
            "grid_dbscan": lambda: grid_dbscan(points, eps_km=2.0, min_pts=3),
            "random_walks": lambda: random_walks(edges, walk_len=2),
            "dedup_keep_representatives": lambda: dedup_keep_representatives(
                docs, pairs
            ),
        }
        base = _cached_rdd_count(spark)
        out = build[op]()
        assert out.count() > 0
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) == base


    @pytest.mark.parametrize("with_store", [False, True])
    def test_incremental_dedup(self, spark, tmp_path, with_store):
        """Its components, its signatures (no store) and its frozen
        drop ids (with a store) are released with the result."""
        from moz_datapipeline_spark.operators.incremental import (
            bootstrap_signature_store,
            incremental_dedup,
        )

        # every third document repeats one of seven texts, the others
        # are unique: the store drops some of the batch, not all of it
        words = [i % 7 if i % 3 == 0 else i for i in range(120)]
        docs = spark.createDataFrame(
            [
                (i, " ".join(f"w{w}tok{t}" for t in range(10)))
                for i, w in enumerate(words)
            ],
            "doc_id long, text string",
        )
        store = None
        if with_store:
            store = str(tmp_path / "store")
            bootstrap_signature_store(
                spark, docs.filter(F.col("doc_id") % 2 == 0), store
            )
        base = _cached_rdd_count(spark)
        out = incremental_dedup(
            spark, docs.filter(F.col("doc_id") % 2 == 1), store, threshold=0.7
        )
        assert out.count() > 0
        out.unpersist(blocking=True)
        assert _cached_rdd_count(spark) == base

@pytest.mark.usefixtures("clean_storage")
def test_checkpoint_sever_fallback_is_released(spark, monkeypatch):
    """When the zero-copy rebuild is unavailable, checkpoint_sever falls
    back to ``createDataFrame(cp.rdd, schema)`` — and that frame must
    still carry the handle sever_release frees."""
    import builtins

    from moz_datapipeline_spark import iterate

    real_import = builtins.__import__

    def no_classic_dataframe(name, globals=None, *args, **kwargs):
        if (
            name == "pyspark.sql.classic.dataframe"
            and (globals or {}).get("__name__") == iterate.__name__
        ):
            raise ImportError("forced fallback")
        return real_import(name, globals, *args, **kwargs)

    monkeypatch.setattr(builtins, "__import__", no_classic_dataframe)
    base = _cached_rdd_count(spark)
    out = iterate.checkpoint_sever(spark.range(100))
    monkeypatch.undo()
    assert out.count() == 100
    assert _cached_rdd_count(spark) == base + 1
    iterate.sever_release(out, blocking=True)
    assert _cached_rdd_count(spark) == base
