"""Similarity-search quality checks: approximate methods vs the exact
brute-force baseline on the real embeddings table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_bruteforce_topk_self_excluded(spark, emb):
    from moz_datapipeline_spark.operators.similarity import cosine_topk_bruteforce

    out = cosine_topk_bruteforce(emb, emb.filter(F.col("vec_id") < 3), k=5).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    assert (out.groupby("query_id").size() == 5).all()
    assert not ((out["query_id"] == out["corpus_id"]).any())
    # scores sorted by rank within each query
    for _, g in out.groupby("query_id"):
        s = g.sort_values("rank")["cosine"].tolist()
        assert s == sorted(s, reverse=True)


def test_ivf_recall_vs_exact(spark, emb):
    from moz_datapipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    queries = emb.filter(F.col("vec_id") < 10)
    exact = cosine_topk_bruteforce(emb, queries, k=3).toPandas()
    approx = ivf_topk(emb, queries, n_centroids=8, nprobe=4, k=3).toPandas()
    exact_pairs = set(zip(exact.query_id, exact.corpus_id))
    approx_pairs = set(zip(approx.query_id, approx.corpus_id))
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # nprobe/n_centroids = 1/2 of the lists probed → high recall expected
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # every approx hit must carry the true cosine (scores not approximated)
    merged = approx.merge(exact, on=["query_id", "corpus_id"], suffixes=("_a", "_e"))
    assert (abs(merged.cosine_a - merged.cosine_e) < 1e-9).all()


def test_lsh_topk_runs(spark, emb):
    from moz_datapipeline_spark.operators.similarity import lsh_bucket_topk

    out = lsh_bucket_topk(
        emb, emb.filter(F.col("vec_id") < 5), dim=64, k=3, n_planes=4
    ).toPandas()
    # buckets with 4 planes are coarse (16) — every query should find neighbors
    assert set(out["query_id"]) == {0, 1, 2, 3, 4}


@pytest.fixture(scope="module")
def planted(spark):
    """120 base vectors, each with 2 near copies (cosine ≈ 0.98) — the
    near-dup regime LSH is built for. Ground truth for base i is its
    copies at ids 1000+2i and 1000+2i+1."""
    import numpy as np

    rng = np.random.default_rng(42)
    dim, n = 16, 120
    base = rng.standard_normal((n, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(i, base[i].tolist()) for i in range(n)]
    for i in range(n):
        for j in range(2):
            noisy = base[i] + 0.05 * rng.standard_normal(dim)
            rows.append((1000 + 2 * i + j, noisy.tolist()))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _lsh_recall(planted_df, n_tables):
    from moz_datapipeline_spark.operators.similarity import lsh_bucket_topk

    queries = planted_df.filter(F.col("vec_id") < 120)
    got = lsh_bucket_topk(
        planted_df, queries, dim=16, k=2, n_planes=8, n_tables=n_tables
    ).toPandas()
    hits = sum(
        1
        for q, c in zip(got.query_id, got.corpus_id)
        if c in (1000 + 2 * q, 1000 + 2 * q + 1)
    )
    return hits / (2 * 120)


def test_lsh_multi_table_recall(spark, planted):
    """Union of 4 hyperplane tables must lift recall substantially over
    one table, and clear an absolute floor on planted near-dups."""
    r1 = _lsh_recall(planted, 1)
    r4 = _lsh_recall(planted, 4)
    assert r4 >= r1, (r1, r4)
    assert r4 >= 0.85, f"4-table LSH recall too low: {r4} (1-table: {r1})"


def test_ivf_full_probe_equals_bruteforce(spark, planted):
    """nprobe == n_centroids probes every inverted list — the result
    must coincide exactly with the brute-force baseline."""
    from moz_datapipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        ivf_topk,
    )

    queries = planted.filter(F.col("vec_id") < 20)
    exact = cosine_topk_bruteforce(planted, queries, k=3).toPandas()
    full = ivf_topk(planted, queries, n_centroids=8, nprobe=8, k=3).toPandas()
    key = ["query_id", "rank"]
    e = exact.sort_values(key).reset_index(drop=True)
    f = full.sort_values(key).reset_index(drop=True)
    assert (e["corpus_id"] == f["corpus_id"]).all()
    assert (abs(e["cosine"] - f["cosine"]) < 1e-9).all()


def test_pca_project_matches_numpy(spark):
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import pca_project

    rng = np.random.default_rng(11)
    # anisotropic data: variance concentrated along a few directions
    basis = rng.normal(size=(6, 6))
    scales = np.array([10.0, 5.0, 2.0, 0.5, 0.1, 0.01])
    x = rng.normal(size=(300, 6)) * scales @ basis
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    out = pca_project(df, k=3, dim=6).collect()
    got = np.array(
        [r["pca"] for r in sorted(out, key=lambda r: r["vec_id"])]
    )

    cov = np.cov(x.T, bias=True)
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:3]
    comps = v[:, order].T
    for c in range(3):
        lead = np.argmax(np.abs(comps[c]))
        if comps[c, lead] < 0:
            comps[c] = -comps[c]
    want = x @ comps.T
    np.testing.assert_allclose(got, want, rtol=1e-6, atol=1e-6)
    # projected variance must decrease component to component
    var = got.var(axis=0)
    assert var[0] > var[1] > var[2]


def test_pq_encode_matches_numpy_replica(spark):
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import pq_encode

    rng = np.random.default_rng(5)
    n, dim, m, k, stride = 200, 16, 4, 8, 4
    x = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    codes_df, books_df = pq_encode(
        df, m=m, k=k, iterations=1, dim=dim, init_stride=stride
    )
    got = {
        r["vec_id"]: list(r["codes"]) for r in codes_df.collect()
    }

    sub_d = dim // m
    for s in range(m):
        xs = x[:, s * sub_d: (s + 1) * sub_d]
        cent = xs[[c * stride for c in range(k)]]
        d = ((xs[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
        assign = d.argmin(1)
        # pq_encode re-assigns once against the POST-update centroids so
        # (codes, codebooks) are consistent — replay that final step
        kept = [c for c in range(k) if (assign == c).any()]
        cent2 = np.stack([xs[assign == c].mean(0) for c in kept])
        d2 = ((xs[:, None, :] - cent2[None, :, :]) ** 2).sum(-1)
        assign2 = np.array([kept[j] for j in d2.argmin(1)])
        for i in range(n):
            assert got[i][s] == assign2[i], (i, s)

    # codebooks = per-(sub, code) means of the iteration-1 assignment
    books = {
        (r["sub_id"], r["code"]): np.array(r["centroid"])
        for r in books_df.collect()
    }
    s0 = x[:, 0:sub_d]
    cent0 = s0[[c * stride for c in range(k)]]
    a0 = ((s0[:, None, :] - cent0[None, :, :]) ** 2).sum(-1).argmin(1)
    for c in range(k):
        if (a0 == c).any():
            np.testing.assert_allclose(
                books[(0, c)], s0[a0 == c].mean(0), rtol=1e-9
            )


def test_pq_topk_is_exact_adc(spark):
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    rng = np.random.default_rng(9)
    n, dim, m, k_codes = 150, 16, 4, 8
    x = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    codes_df, books_df = pq_encode(
        df, m=m, k=k_codes, iterations=1, dim=dim, init_stride=4
    )
    queries = df.filter(F.col("vec_id") < 3)
    out = pq_topk(
        codes_df, books_df, queries, k=5, m=m, dim=dim
    ).collect()

    codes = {r["vec_id"]: list(r["codes"]) for r in codes_df.collect()}
    books = {
        (r["sub_id"], r["code"]): np.array(r["centroid"])
        for r in books_df.collect()
    }
    sub_d = dim // m
    for q in range(3):
        dists = {}
        for cid, cs in codes.items():
            d = 0.0
            for s in range(m):
                qv = x[q, s * sub_d: (s + 1) * sub_d]
                d += float(((qv - books[(s, cs[s])]) ** 2).sum())
            dists[cid] = d
        want = sorted(dists, key=lambda c: (dists[c], c))[:5]
        got = [
            r["corpus_id"]
            for r in sorted(
                (r for r in out if r["query_id"] == q),
                key=lambda r: r["rank"],
            )
        ]
        assert got == want
        # the query itself must be its own nearest code under ADC
        assert got[0] == q or dists[got[0]] <= dists[q] + 1e-12


def test_pq_rerank_with_full_candidate_set_is_exact_l2(spark):
    """rerank=N with N covering the whole corpus must return the exact
    squared-L2 top-k regardless of how lossy the ADC stage is."""
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import (
        pq_encode,
        pq_topk,
    )

    rng = np.random.default_rng(11)
    n, dim, m, k_codes = 120, 16, 4, 8
    x = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    codes_df, books_df = pq_encode(
        df, m=m, k=k_codes, iterations=1, dim=dim, init_stride=4
    )
    queries = df.filter(F.col("vec_id") < 3)
    out = pq_topk(
        codes_df, books_df, queries, k=5, m=m, dim=dim, rerank=n, corpus=df
    ).collect()
    for q in range(3):
        d = ((x - x[q]) ** 2).sum(1)
        want = sorted(range(n), key=lambda i: (d[i], i))[:5]
        got = [
            r["corpus_id"]
            for r in sorted(
                (r for r in out if r["query_id"] == q),
                key=lambda r: r["rank"],
            )
        ]
        assert got == want


def test_pq_encode_rejects_sparse_id_space(spark):
    import pytest

    from moz_datapipeline_spark.operators.similarity import pq_encode

    df = spark.createDataFrame(
        [(i * 7 + 3, [float(i)] * 8) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="seed vectors"):
        pq_encode(df, m=2, k=8, iterations=1, dim=8, init_stride=4)


def test_ivfadc_full_probe_full_rerank_is_exact_l2(spark):
    """nprobe == n_lists probes every list and rerank == |corpus|
    rescores everything — the composition must equal exact L2 top-k."""
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import ivfadc_topk

    rng = np.random.default_rng(21)
    n, dim = 160, 16
    x = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    queries = df.filter(F.col("vec_id") < 3)
    out = ivfadc_topk(
        df, queries, n_lists=8, nprobe=8, k=5, m=4, dim=dim,
        pq_k=8, init_stride=4, rerank=n,
    ).collect()
    for q in range(3):
        d = ((x - x[q]) ** 2).sum(1)
        want = sorted(range(n), key=lambda i: (d[i], i))[:5]
        got = [
            r["corpus_id"]
            for r in sorted(
                (r for r in out if r["query_id"] == q),
                key=lambda r: r["rank"],
            )
        ]
        assert got == want


def test_ivfadc_partial_probe_restricts_candidates(spark):
    """With nprobe < n_lists, every returned candidate must live in one
    of the query's probed lists."""
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import (
        cosine,
        ivfadc_topk,
    )

    rng = np.random.default_rng(22)
    n, dim = 160, 16
    x = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )
    queries = df.filter(F.col("vec_id") < 3)
    out = ivfadc_topk(
        df, queries, n_lists=8, nprobe=2, k=5, m=4, dim=dim,
        pq_k=8, init_stride=4,
    ).toPandas()
    assert set(out["query_id"]) == {0, 1, 2}
    assert (out.groupby("query_id").size() <= 5).all()

    # replicate the deterministic hash-sampled centroids + assignment
    import hashlib

    order = sorted(range(n), key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = order[:8]
    cv = x / np.linalg.norm(x, axis=1, keepdims=True)

    def nearest_lists(vec, topn):
        sims = cv[cents] @ (vec / np.linalg.norm(vec))
        return [cents[j] for j in sorted(range(8), key=lambda j: (-sims[j], cents[j]))[:topn]]

    assign = {i: nearest_lists(x[i], 1)[0] for i in range(n)}
    for _, r in out.iterrows():
        probed = set(nearest_lists(x[int(r["query_id"])], 2))
        assert assign[int(r["corpus_id"])] in probed


def test_pq_encode_pandas_kernel_matches_sql_kernel(spark):
    """The Arrow-matmul trainer must produce the same codes and
    (numerically equal) codebooks as the oracle-exact SQL path."""
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import pq_encode

    rng = np.random.default_rng(31)
    n, dim, m, k = 300, 16, 4, 8
    x = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).repartition(7)
    a_codes, a_books = pq_encode(
        df, m=m, k=k, iterations=2, dim=dim, init_stride=4, kernel="sql"
    )
    b_codes, b_books = pq_encode(
        df, m=m, k=k, iterations=2, dim=dim, init_stride=4, kernel="pandas"
    )
    ca = {r["vec_id"]: list(r["codes"]) for r in a_codes.collect()}
    cb = {r["vec_id"]: list(r["codes"]) for r in b_codes.collect()}
    assert ca == cb
    ba = {(r["sub_id"], r["code"]): r["centroid"] for r in a_books.collect()}
    bb = {(r["sub_id"], r["code"]): r["centroid"] for r in b_books.collect()}
    assert set(ba) == set(bb)
    for key in ba:
        np.testing.assert_allclose(ba[key], bb[key], rtol=1e-12, atol=1e-12)


def test_ivf_assign_pandas_kernel_matches_sql(spark):
    """The matmul coarse-assignment kernel must agree with the SQL
    argmin on every vector."""
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import _ivf_lists

    rng = np.random.default_rng(41)
    n, dim = 400, 16
    x = rng.normal(size=(n, dim))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    ).repartition(5)
    q = df.filter(F.col("vec_id") < 3)
    a_sql, _ = _ivf_lists(df, q, 8, 2, "vec_id", "embedding", "sql")
    a_pd, _ = _ivf_lists(df, q, 8, 2, "vec_id", "embedding", "pandas")
    sa = {r["corpus_id"]: r["list_id"] for r in a_sql.collect()}
    sp = {r["corpus_id"]: r["list_id"] for r in a_pd.collect()}
    assert sa == sp


def test_partition_topk_nan_scores_match_global_window(spark):
    """A NaN score (zero-norm embedding → 0/0 cosine) sorts ABOVE every
    number in Spark's total order; the map-side partial top-k must keep
    it under desc ordering or results become partition-dependent."""
    from pyspark.sql import Window

    from moz_datapipeline_spark.operators.similarity import _partition_topk

    rows = [(1, 10, float("nan")), (1, 11, 0.9), (1, 12, 0.8), (1, 13, 0.7)]
    # one partition rich in real scores (would previously drop the NaN)
    df = spark.createDataFrame(
        rows, "query_id long, corpus_id long, cosine double"
    ).repartition(1)
    part = _partition_topk(df, ["query_id"], "cosine", "corpus_id", 2,
                           ascending=False)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    got = sorted(
        r.corpus_id
        for r in part.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 2")
        .collect()
    )
    want = sorted(
        r.corpus_id
        for r in df.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 2")
        .collect()
    )
    assert got == want == [10, 11]  # NaN row ranks FIRST under desc

    # ascending keeps NaN last — partial and global agree there too
    part_asc = _partition_topk(df, ["query_id"], "cosine", "corpus_id", 2,
                               ascending=True)
    w_asc = Window.partitionBy("query_id").orderBy(
        F.col("cosine").asc(), F.col("corpus_id").asc()
    )
    got_asc = sorted(
        r.corpus_id
        for r in part_asc.withColumn("rank", F.row_number().over(w_asc))
        .filter("rank <= 2")
        .collect()
    )
    assert got_asc == [12, 13]


def test_semantic_dedup_keeps_lowest_id_per_group(spark):
    """Planted semantic groups: near-identical vectors must collapse to
    the lowest id; orthogonal vectors all survive."""
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    dim = 16
    rows = []
    # 4 well-separated base directions, ids chosen so kmeans init
    # (multiples of init_stride=1) still sees every vector
    bases = []
    for g in range(4):
        b = np.zeros(dim)
        b[g * 4 : g * 4 + 4] = 1.0
        bases.append(b / np.linalg.norm(b))
    vid = 0
    for g, b in enumerate(bases):
        for _ in range(3):  # 3 near-copies per group (cos > 0.99)
            v = b + rng.normal(0, 0.001, dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, threshold=0.9, k=4, iterations=2, init_stride=3
    ).collect()
    kept = sorted(r["vec_id"] for r in out)
    # exactly one survivor per semantic group: the lowest id (0, 3, 6, 9)
    assert kept == [0, 3, 6, 9]


def test_semantic_dedup_high_threshold_is_identity(spark):
    from moz_datapipeline_spark.operators.similarity import semantic_dedup

    df = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(100)
    )
    out = semantic_dedup(df, threshold=0.999999, k=4, iterations=1)
    assert out.count() == df.count()


def test_ivf_index_persist_probe_matches_in_session(spark, tmp_path):
    """build_ivf_index + ivf_topk_indexed ≡ ivf_topk, and the probe
    join dynamic-partition-prunes the lists scan."""
    from moz_datapipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    q = emb.filter(F.col("vec_id") < 4)
    got_df = ivf_topk_indexed(spark, path, q, nprobe=2, k=3)
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()  # probed lists prune the scan
    got = sorted(map(tuple, got_df.collect()))
    want = sorted(
        map(tuple, ivf_topk(emb, q, n_centroids=8, nprobe=2, k=3).collect())
    )
    assert got == want and len(got) > 0


def test_semantic_dedup_mega_cluster_cap_bounds_pair_volume(spark):
    """A planted mega-cluster (every vector identical direction → one
    k-means cluster) must not re-open the quadratic path when
    max_cluster_size is set: pair volume drops from C(N,2) to
    Σ_sub C(|sub|,2), and survivors = one per sub-bucket."""
    from pyspark.sql import functions as SF

    from moz_datapipeline_spark.operators.similarity import semantic_dedup

    n, cap = 400, 20
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    stats = {}
    out = semantic_dedup(
        df, threshold=0.9, k=4, iterations=1,
        max_cluster_size=cap, stats=stats,
    )
    got = out.count()
    # all vectors land in one cluster of width 400 > cap → split
    assert stats["oversized_clusters"] >= 1
    assert stats["widest_cluster"] == n
    n_sub = stats["split_subbuckets"]
    assert n_sub == -(-n // cap)  # ceil(400/20) = 20
    # replicate the deterministic split: one survivor (the min id) per
    # NON-EMPTY sub-bucket
    sub = df.select(
        SF.pmod(SF.xxhash64(SF.col("vec_id").cast("string")), SF.lit(n_sub))
        .alias("s")
    )
    assert got == sub.distinct().count()
    widths = [r["c"] for r in sub.groupBy("s").agg(SF.count("*").alias("c")).collect()]
    pairs_capped = sum(w * (w - 1) // 2 for w in widths)
    assert pairs_capped < n * (n - 1) // 2 / 5  # >5x reduction
    # uncapped control: one survivor total
    assert semantic_dedup(df, threshold=0.9, k=4, iterations=1).count() == 1


def test_ivf_index_append_and_compact(spark, tmp_path):
    """Incremental IVF: appended vectors are assigned to the FIXED
    existing centroids, become probe-visible, and compaction merges
    append debris without changing results."""
    from moz_datapipeline_spark.operators.incremental import (
        _count_data_files,
    )
    from moz_datapipeline_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a = emb.filter(F.col("vec_id") % 2 == 0)
    b = emb.filter(F.col("vec_id") % 2 == 1)
    path = str(tmp_path / "ivf_grow")
    build_ivf_index(a, path, n_centroids=8)
    n_a = spark.read.parquet(path + "/lists").count()
    append_ivf_index(spark, path, b)
    append_ivf_index(spark, path, b.limit(0))  # empty append is a no-op
    lists = spark.read.parquet(path + "/lists")
    assert lists.count() == n_a + b.count()

    # an appended vector is found by a probe for its own direction
    target = b.orderBy("vec_id").first()
    q = spark.createDataFrame(
        [(999999, list(target.embedding))],
        "vec_id long, embedding array<double>",
    )
    got = ivf_topk_indexed(spark, path, q, nprobe=1, k=1).collect()
    assert len(got) == 1 and got[0].corpus_id == target.vec_id
    assert got[0].cosine == pytest.approx(1.0, abs=1e-9)

    pre_files = _count_data_files(spark, path + "/lists")
    before = sorted(
        map(tuple, ivf_topk_indexed(spark, path, q, nprobe=3, k=5).collect())
    )
    post_files = compact_ivf_index(spark, path)
    assert post_files <= pre_files and post_files <= 8
    after = sorted(
        map(tuple, ivf_topk_indexed(spark, path, q, nprobe=3, k=5).collect())
    )
    assert after == before


def test_ivf_index_string_ids_with_numeric_shapes(spark, tmp_path):
    """String ids like '07' vs '7' must stay distinct centroids: the
    index partitions by an internal dense int (list_pid), so Hive
    partition-type inference can never coerce two distinct ids into
    one colliding partition value."""
    import numpy as np

    from moz_datapipeline_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_indexed,
    )

    rng = np.random.default_rng(7)
    ids = ["07", "7", "a1", "b2", "c3", "d4", "e5", "f6"]
    rows = [(i, rng.normal(size=8).tolist()) for i in ids]
    emb = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>"
    )
    path = str(tmp_path / "ivf_str")
    build_ivf_index(emb, path, n_centroids=8)
    # every id is its own centroid; '07' and '7' keep separate lists
    lists = spark.read.parquet(path + "/lists")
    assert lists.select("list_pid").distinct().count() == 8
    q = emb.filter(F.col("vec_id").isin(["07", "7"]))
    got = sorted(
        map(tuple, ivf_topk_indexed(spark, path, q, nprobe=3, k=2).collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_topk(emb, q, n_centroids=8, nprobe=3, k=2).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_semantic_decontaminate_flags_and_empty_bench(spark):
    from pyspark.sql import functions as F

    from moz_datapipeline_spark.operators.similarity import (
        semantic_decontaminate,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),     # benchmark
        (1, [1.0, 0.0, 0.0]),     # identical -> cosine 1.0, flagged
        (2, [0.9, 0.1, 0.0]),     # close -> high cosine, flagged
        (3, [0.0, 0.0, 1.0]),     # orthogonal -> clean
        (4, [-1.0, 0.0, 0.0]),    # opposite -> clean
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = {
        r.vec_id: r
        for r in semantic_decontaminate(
            df, F.col("vec_id") == 0, threshold=0.95
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # benchmark row excluded
    assert out[1].contaminated and abs(out[1].max_bench_cosine - 1.0) < 1e-9
    assert out[2].contaminated
    assert not out[3].contaminated and not out[4].contaminated

    # empty benchmark: every candidate survives with max cosine 0.0
    empty = {
        r.vec_id: r
        for r in semantic_decontaminate(
            df, F.lit(False), threshold=0.95
        ).collect()
    }
    assert set(empty) == {0, 1, 2, 3, 4}
    assert all(
        not r.contaminated and r.max_bench_cosine == 0.0
        for r in empty.values()
    )

    # plan: bench broadcast, no Python UDFs
    plan = (
        semantic_decontaminate(df, F.col("vec_id") == 0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_decontaminate_candidates_path(spark):
    """candidates= swaps the broadcast brute grid for pair-scoped
    equi-joins: the full candidate grid reproduces the brute result
    exactly, a partial grid left-anchors unmatched candidates at 0.0,
    and lsh_candidate_pairs slots in as the scale-path source."""
    from pyspark.sql import functions as F

    from moz_datapipeline_spark.operators.similarity import (
        lsh_candidate_pairs,
        semantic_decontaminate,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),     # benchmark
        (5, [0.0, 1.0, 0.0]),     # benchmark
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 0.0, 1.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pred = F.col("vec_id").isin([0, 5])
    brute = {
        r.vec_id: (r.max_bench_cosine, r.contaminated)
        for r in semantic_decontaminate(df, pred, threshold=0.95).collect()
    }

    # full grid of (candidate, benchmark) pairs == brute, exactly
    grid = (
        df.filter(~pred).select(F.col("vec_id").alias("id_a"))
        .crossJoin(df.filter(pred).select(F.col("vec_id").alias("id_b")))
    )
    full = {
        r.vec_id: (r.max_bench_cosine, r.contaminated)
        for r in semantic_decontaminate(
            df, pred, threshold=0.95, candidates=grid
        ).collect()
    }
    assert full == brute

    # partial grid: candidate 3 has NO pair -> still present, 0.0
    part = {
        r.vec_id: (r.max_bench_cosine, r.contaminated)
        for r in semantic_decontaminate(
            df, pred, threshold=0.95,
            candidates=grid.filter(F.col("id_a") != 3),
        ).collect()
    }
    assert set(part) == {1, 2, 3, 4}
    assert part[3] == (0.0, False)
    assert part[1] == brute[1]

    # LSH source with broad tables: flags the same contaminated set
    cand = lsh_candidate_pairs(
        df.filter(~pred), df.filter(pred), dim=3, n_planes=1, n_tables=8
    )
    lsh = {
        r.vec_id: r.contaminated
        for r in semantic_decontaminate(
            df, pred, threshold=0.95, candidates=cand
        ).collect()
    }
    assert set(lsh) == {1, 2, 3, 4}
    assert {i for i, c in lsh.items() if c} == {
        i for i, (_, c) in brute.items() if c
    }


# ---------------------------------------------------------------------------
# exact brute-force paths: edge-case contract
# ---------------------------------------------------------------------------


def _doubles(df, id_alias, vec_alias):
    return df.select(
        F.col("vec_id").alias(id_alias),
        F.transform("embedding", lambda x: x.cast("double")).alias(vec_alias),
    )


def _exact_margin(a, b, k, threshold, exclude_same_id=False):
    """``margin_mine_pairs``' definition as plain windows over the full
    scored A×B grid, with no map-side compaction: the reference its
    exact path must reproduce row for row."""
    from pyspark.sql import Window

    from moz_datapipeline_spark.operators.similarity import cosine

    grid = _doubles(a, "_ida", "_va").crossJoin(_doubles(b, "_idb", "_vb"))
    if exclude_same_id:
        grid = grid.filter(F.col("_ida") != F.col("_idb"))
    scored = grid.select(
        "_ida", "_idb", cosine(F.col("_va"), F.col("_vb")).alias("cosine")
    )

    def top(key, other):
        w = Window.partitionBy(key).orderBy(
            F.col("cosine").desc(), F.col(other).asc()
        )
        return (
            scored.withColumn("_r", F.row_number().over(w))
            .filter(F.col("_r") <= k)
            .select(
                F.col(key).alias("query_id"),
                F.col(other).alias("corpus_id"),
                "cosine",
            )
        )

    nn_ab, nn_ba = top("_ida", "_idb"), top("_idb", "_ida")
    dens_a = nn_ab.groupBy("query_id").agg(F.avg("cosine").alias("_da"))
    dens_b = nn_ba.groupBy("query_id").agg(F.avg("cosine").alias("_db"))
    s = F.col("_da") + F.col("_db")
    cand = (
        nn_ab.join(dens_a, "query_id")
        .join(dens_b.withColumnRenamed("query_id", "corpus_id"), "corpus_id")
        .withColumn(
            "margin", F.when(s > 0, F.col("cosine") / (s / F.lit(2.0)))
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("margin").desc(), F.col("corpus_id").asc()
    )
    return (
        cand.withColumn("_r", F.row_number().over(w))
        .filter((F.col("_r") == 1) & (F.col("margin") >= float(threshold)))
        .select(
            F.col("query_id").alias("id_a"),
            F.col("corpus_id").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
            F.round("margin", 6).alias("margin"),
        )
    )


def _exact_topk(corpus, queries, k):
    """``cosine_topk_bruteforce``' definition as one window over the
    full scored grid."""
    from pyspark.sql import Window

    from moz_datapipeline_spark.operators.similarity import cosine

    scored = (
        _doubles(corpus, "corpus_id", "_cv")
        .crossJoin(_doubles(queries, "query_id", "_qv"))
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def _tied_sides(spark, seed, elem="float", n_a=40, n_b=30, dim=6):
    """Seeded small-integer vectors with planted duplicates inside and
    across the sides, so many cosines tie exactly and ids break them."""
    import numpy as np

    rng = np.random.default_rng(seed)
    va = rng.integers(-2, 3, size=(n_a, dim)).astype(float)
    vb = rng.integers(-2, 3, size=(n_b, dim)).astype(float)
    # no zero vector: its cosine divides by zero
    va[np.abs(va).sum(axis=1) == 0, 0] = 1.0
    vb[np.abs(vb).sum(axis=1) == 0, 0] = 1.0
    vb[: n_b // 3] = vb[n_b // 3 : 2 * (n_b // 3)]  # duplicates within B
    va[: n_a // 4] = vb[: n_a // 4]  # duplicates across the sides
    schema = f"vec_id long, embedding array<{elem}>"
    a = spark.createDataFrame(
        [(int(3 * i), [float(x) for x in v]) for i, v in enumerate(va)], schema
    )
    b = spark.createDataFrame(
        [(int(2 * i), [float(x) for x in v]) for i, v in enumerate(vb)], schema
    )
    return a, b


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "seed,k,threshold,elem",
    [(0, 3, 0.0, "float"), (1, 4, 1.0, "float"), (2, 1, 0.5, "double")],
)
def test_margin_exact_path_equals_exact_windows(
    spark, seed, k, threshold, elem
):
    from moz_datapipeline_spark.operators.similarity import margin_mine_pairs

    a, b = _tied_sides(spark, seed, elem=elem)
    want = _rows(_exact_margin(a, b, k, threshold))
    assert want
    assert _rows(margin_mine_pairs(a, b, k=k, threshold=threshold)) == want


@pytest.mark.parametrize(
    "case", ["exclude_same_id", "k_above_b", "empty_partition", "spread"]
)
def test_margin_exact_path_edge_cases(spark, monkeypatch, case):
    from moz_datapipeline_spark.operators import similarity
    from moz_datapipeline_spark.operators.similarity import margin_mine_pairs

    a, b = _tied_sides(spark, 5)
    k, kw = 3, {}
    if case == "exclude_same_id":
        kw = {"exclude_same_id": True}
        b = a  # self-mining: every id is on both sides
    elif case == "k_above_b":
        b, k = b.filter(F.col("vec_id") < 8), 9
    elif case == "empty_partition":
        a = a.filter(F.col("vec_id") < 9).repartition(8)
    elif case == "spread":  # the partitioned side is shuffled first
        monkeypatch.setattr(similarity, "_SPREAD_MACS", 0)
        a = a.coalesce(1)
    want = _rows(_exact_margin(a, b, k, 0.0, **kw))
    assert want
    assert _rows(margin_mine_pairs(a, b, k=k, threshold=0.0, **kw)) == want


def test_bruteforce_topk_equals_exact_window(spark):
    from moz_datapipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )

    a, b = _tied_sides(spark, 0)
    corpus = a.union(b).repartition(3)
    queries = corpus.filter(F.col("vec_id") % 4 == 0)
    want = _rows(
        _exact_topk(corpus, queries, 4).select(
            "query_id", "corpus_id", "cosine", "rank"
        )
    )
    got = _rows(cosine_topk_bruteforce(corpus, queries, k=4))
    assert got == want and len(got) > 0


_VECS = "vec_id long, embedding array<double>"


def test_exact_paths_zero_norm_divide_by_zero(spark):
    """A zero vector's cosine divides by zero: ANSI raises, it is not
    silently a NULL or NaN score."""
    from moz_datapipeline_spark.operators.similarity import (
        cosine_topk_bruteforce,
        margin_mine_pairs,
    )

    a = spark.createDataFrame([(1, [1.0, 2.0]), (2, [0.0, 0.0])], _VECS)
    b = spark.createDataFrame([(10, [1.0, 1.0]), (11, [2.0, -1.0])], _VECS)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        margin_mine_pairs(a, b, k=1, threshold=0.0).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        cosine_topk_bruteforce(a, b, k=1).collect()


@pytest.mark.parametrize(
    "bad", [[1.0, None, 2.0], [1.0, float("nan"), 2.0], [1.0, 2.0]],
    ids=["null_element", "nan_element", "length_mismatch"],
)
def test_margin_unscorable_vector_raises_naming_it(spark, bad):
    """A vector the cosine cannot score raises in the task and names
    its id, instead of ranking a NULL or NaN score among real ones."""
    from moz_datapipeline_spark.operators.similarity import margin_mine_pairs

    a = spark.createDataFrame(
        [(1, [1.0, 2.0, 0.5]), (77, bad), (3, [0.2, 1.0, 1.0])], _VECS
    )
    b = spark.createDataFrame(
        [(10, [1.0, 1.0, 1.0]), (11, [2.0, -1.0, 0.0])], _VECS
    )
    with pytest.raises(Exception, match="vec_id 77"):
        margin_mine_pairs(a, b, k=1, threshold=0.0).collect()


_UNSCORABLE = pytest.mark.parametrize(
    "bad",
    [None, [1.0, None, 2.0], [1.0, float("nan"), 2.0], [1.0, 2.0]],
    ids=["null_vector", "null_element", "nan_element", "length_mismatch"],
)


def _corpus_with(spark, bad, bad_id=7, n=60):
    """``n`` seeded 3-d vectors with ``bad`` in place of ``bad_id``'s."""
    import numpy as np

    x = np.random.default_rng(5).normal(size=(n, 3))
    rows = [(i, bad if i == bad_id else [float(v) for v in x[i]]) for i in range(n)]
    return spark.createDataFrame(rows, _VECS)


@_UNSCORABLE
def test_ivf_unscorable_vector_raises_naming_it(spark, bad):
    """A vector the cosine cannot score raises in the task and names its
    id, instead of letting a NULL or NaN score displace a neighbour.  A
    length mismatch surfaces where rows meet the centroids, so the bad
    vector may be named as either side."""
    from moz_datapipeline_spark.operators.similarity import ivf_topk

    corpus = _corpus_with(spark, bad)
    queries = corpus.filter(F.col("vec_id") < 10)
    with pytest.raises(Exception, match=r"(vec_id|centroid) 7 has"):
        ivf_topk(corpus, queries, n_centroids=4, nprobe=4, k=3).collect()


@_UNSCORABLE
def test_lsh_unscorable_vector_raises_naming_it(spark, bad):
    from moz_datapipeline_spark.operators.similarity import lsh_bucket_topk

    corpus = _corpus_with(spark, bad)
    queries = corpus.filter(F.col("vec_id") < 10)
    with pytest.raises(Exception, match="vec_id 7 has"):
        lsh_bucket_topk(corpus, queries, dim=3, k=3, n_planes=2).collect()


@_UNSCORABLE
def test_pq_rerank_unscorable_vector_raises_naming_it(spark, bad):
    """The exact rerank checks the vectors it rescores: codes trained on
    clean vectors, reranked against a corpus holding a bad one."""
    from moz_datapipeline_spark.operators.similarity import pq_encode, pq_topk

    clean = _corpus_with(spark, [0.5, 0.5, 0.5])
    codes_df, books_df = pq_encode(
        clean, m=1, k=4, iterations=1, dim=3, init_stride=4
    )
    with pytest.raises(Exception, match="vec_id 7 has"):
        pq_topk(
            codes_df, books_df, clean.filter(F.col("vec_id") < 3), k=3, m=1,
            dim=3, rerank=60, corpus=_corpus_with(spark, bad),
        ).collect()
