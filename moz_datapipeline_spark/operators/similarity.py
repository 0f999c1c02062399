"""Similarity search over embedding columns (array<float>).

- ``cosine_topk_bruteforce`` — exact top-k: broadcast the (small) query
  side into ``_cosine_block_topk``, a vectorized block kernel over the
  partitioned corpus that emits ≤ k rows per (partition, query); one
  window ranks them. Correct baseline at any corpus size; the query
  side must be broadcastable.
- ``lsh_bucket_topk``        — scale path: random-hyperplane LSH signs
  bucket both sides; only same-bucket pairs are scored. Recall is
  tunable via number of hyperplane tables; deterministic planes derived
  from a seeded LCG so results are reproducible cluster-wide.
- ``ivf_topk``               — IVF-style: k-means-ish centroid assignment
  using a deterministic sample of corpus vectors as centroids; probes
  the nprobe nearest centroids only.

The exact paths (``cosine_topk_bruteforce``, ``margin_mine_pairs``
without candidates) never hold the cosine grid as rows: the block
kernel scores it with the JVM ``cosine()`` arithmetic bit for bit and
keeps only top-k rows under the window order ``cosine desc, id asc``
(NaN first), so their rows equal the plain full-grid windows'. A null
vector, a null or NaN element, or a length mismatch raises naming the
``vec_id``; a zero norm raises DIVIDE_BY_ZERO. Ids are unique within
each side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import owned
from moz_datapipeline_spark.operators.spread import spread_small_scan


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double-array columns (JVM HOFs, no UDF)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col: str) -> Column:
    return F.transform(F.col(col), lambda x: x.cast("double")).alias(col)


def _partition_topk(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    tiebreak_col: str,
    k: int,
    ascending: bool = True,
) -> DataFrame:
    """Map-side partial top-k: at most ``k`` rows per key survive from
    EACH input partition, selected under the same total order the
    global window uses (``order_col`` then ``tiebreak_col`` asc).

    Top-k under a total order is distributive — the global top-k is a
    subset of the union of per-partition top-k — so a following exact
    ``row_number()`` window is unchanged, but the exchange feeding it
    carries ≤ k·partitions rows per key instead of every scored
    candidate (the 100 TB difference between shuffling |corpus| rows
    per query and shuffling k per partition).  Arrow-batched
    ``mapInPandas`` with per-batch compaction keeps executor memory at
    O(keys·k + one batch); it pipelines into the scoring stage, adding
    no exchange of its own.
    """
    import pandas as _pd

    schema = df.schema
    cols = [f.name for f in schema.fields]

    def fn(batches):
        best = None
        for pdf in batches:
            cur = (
                _pd.concat([best, pdf], ignore_index=True)
                if best is not None
                else pdf
            )
            # Spark's total order puts NaN ABOVE every number, so it
            # lands last under asc and FIRST under desc; pandas defaults
            # to NaN-last either way, which would let a partition that
            # is rich in real scores drop a NaN row the global window
            # ranks first (partition-dependent results).  Match Spark
            # exactly.  (Null scores are indistinguishable from NaN in
            # a pandas float column; score expressions are arithmetic
            # over non-null inputs, so none of the callers produce
            # SQL NULL here.)
            cur = cur.sort_values(
                [order_col, tiebreak_col],
                ascending=[ascending, True],
                kind="mergesort",
                na_position="last" if ascending else "first",
            )
            best = cur.groupby(key_cols, sort=False).head(k)
        if best is not None and len(best):
            yield best[cols]

    return df.mapInPandas(fn, schema)


#: cells of one broadcast-side chunk scored against one Arrow batch
_BLOCK_CELLS = 1 << 20
#: kernel multiply-adds (~1 s of one core) above which one input split
#: is worth a shuffle to spread it across the cluster
_SPREAD_MACS = 1 << 30


def _checked_matrix(ids, vecs, dim: int | None):
    """Stack one side's double vectors into an ``(n, dim)`` float64
    matrix, raising on the first vector the exact cosine cannot score:
    a null vector, a length other than ``dim`` (the first vector's when
    ``None``), or a null or NaN element (Arrow hands a null element to
    pandas as NaN)."""
    import numpy as np

    for i, v in enumerate(vecs):
        if v is None:
            raise ValueError(f"cosine: vec_id {ids[i]!r} has a null vector")
        if dim is None:
            dim = len(v)
        if len(v) != dim:
            raise ValueError(
                f"cosine: vec_id {ids[i]!r} has {len(v)} elements, "
                f"expected {dim}"
            )
    mat = (
        np.stack([np.asarray(v, dtype=np.float64) for v in vecs])
        if len(vecs)
        else np.zeros((0, dim or 0))
    )
    bad = np.isnan(mat).any(axis=1)
    if bad.any():
        raise ValueError(
            f"cosine: vec_id {ids[int(np.argmax(bad))]!r} has a null or "
            "NaN element"
        )
    return mat


def _fold_dot(x, y_t):
    """``out[i, j] = Σ_d x[i, d]·y_t[d, j]``, accumulated from 0.0 in
    dimension order — the JVM ``aggregate(zip_with(…), 0.0, acc + x)``
    fold bit for bit (no BLAS: a blocked or fused sum rounds
    differently)."""
    import numpy as np

    out = np.zeros((x.shape[0], y_t.shape[1]))
    tmp = np.empty_like(out)
    for d in range(x.shape[1]):
        np.multiply(x[:, d, None], y_t[None, d, :], out=tmp)
        np.add(out, tmp, out=out)
    return out


def _norms(mat):
    """Row norms, each sum of squares folded like ``_fold_dot``."""
    import numpy as np

    sq = np.zeros(mat.shape[0])
    for d in range(mat.shape[1]):
        sq = sq + mat[:, d] * mat[:, d]
    return np.sqrt(sq)


def _first_k(score, tie, valid, k: int, axis: int):
    """Positions along ``axis`` of the first ``k`` entries under the
    window order ``cosine desc, id asc`` (Spark's NaN sorts above every
    number, so first under desc); invalid entries sort last."""
    import numpy as np

    nan = np.isnan(score)
    order = np.lexsort(
        (tie, np.where(nan, 0.0, -score), ~nan, ~valid), axis=axis
    )
    return np.take(order, np.arange(min(k, order.shape[axis])), axis=axis)


def _tie_rank(ids):
    """Ids as an array whose ascending order is the ids' (numbers as
    they are, other types by their sorted rank)."""
    import numpy as np

    if ids.dtype.kind in "iuf":
        return ids
    return np.unique(ids.ravel(), return_inverse=True)[1].reshape(ids.shape)


def _cosine_block_topk(
    batches, bcast, k, exclude_same_id, forward, p_col, v_col
):
    """Score each Arrow batch of the partitioned side against the whole
    broadcast side, one (batch × chunk) block at a time, and emit only
    top-k rows: never the grid.

    ``bcast`` holds the broadcast side sorted by id (ids, float64
    matrix, norms).  The cosine is ``dot / (norm_p · norm_b)`` with the
    dot and both norms folded from 0.0 in dimension order, each norm
    once per vector — equal bit for bit to ``cosine()``; a zero
    denominator raises DIVIDE_BY_ZERO as Spark's ANSI divide does.
    Rows are ``(p_id, b_id, cosine, _da, _fwd)``:

    - ``forward``: for each partitioned-side row, its exact top-k over
      the whole broadcast side (``_fwd`` true) and ``_da``, their mean
      cosine summed in rank order;
    - always: for each broadcast-side row, its top-k among this
      partition's rows (``_fwd`` false, ``_da`` null) — a partial the
      caller's window ranks into the exact top-k (top-k under a total
      order is distributive).

    Memory is one batch × one chunk of scores plus k·|broadcast| of
    running state.
    """
    import numpy as np
    import pandas as pd

    ids_b, mat_b, norm_b = bcast.value
    m = len(ids_b)
    if m == 0:
        return
    bt = np.ascontiguousarray(mat_b.T)
    pos_b = np.arange(m)
    # broadcast-side running state: k best partitioned-side rows each
    back_s = np.zeros((0, m))
    back_id = None
    back_v = np.zeros((0, m), dtype=bool)
    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        ids_p = pdf[p_col].to_numpy()
        if back_id is None:
            back_id = np.zeros((0, m), dtype=ids_p.dtype)
        mat_p = _checked_matrix(ids_p, pdf[v_col].tolist(), bt.shape[0])
        norm_p = _norms(mat_p)
        step = max(1, _BLOCK_CELLS // n)
        fwd_s = np.zeros((n, 0))
        fwd_j = np.zeros((n, 0), dtype=np.int64)
        fwd_v = np.zeros((n, 0), dtype=bool)
        for c0 in range(0, m, step):
            c1 = min(m, c0 + step)
            valid = np.ones((n, c1 - c0), dtype=bool)
            if exclude_same_id:
                valid &= ids_p[:, None] != ids_b[None, c0:c1]
            den = norm_p[:, None] * norm_b[None, c0:c1]
            zero = (den == 0) & valid
            if zero.any():
                i, j = np.argwhere(zero)[0]
                raise ArithmeticError(
                    "[DIVIDE_BY_ZERO] Division by zero in cosine of "
                    f"vec_id {ids_p[i]!r} and vec_id {ids_b[c0 + j]!r}"
                )
            s = _fold_dot(mat_p, bt[:, c0:c1])
            s = np.divide(s, den, out=s, where=valid)
            if forward:
                cs = np.concatenate([fwd_s, s], axis=1)
                cj = np.concatenate(
                    [fwd_j, np.broadcast_to(pos_b[c0:c1], s.shape)], axis=1
                )
                cv = np.concatenate([fwd_v, valid], axis=1)
                top = _first_k(cs, cj, cv, k, axis=1)
                fwd_s = np.take_along_axis(cs, top, axis=1)
                fwd_j = np.take_along_axis(cj, top, axis=1)
                fwd_v = np.take_along_axis(cv, top, axis=1)
            cs = np.concatenate([back_s[:, c0:c1], s], axis=0)
            cid = np.concatenate(
                [
                    back_id[:, c0:c1],
                    np.broadcast_to(ids_p[:, None], s.shape),
                ],
                axis=0,
            )
            cv = np.concatenate([back_v[:, c0:c1], valid], axis=0)
            top = _first_k(cs, _tie_rank(cid), cv, k, axis=0)
            if c0 == 0:
                rows = top.shape[0]
                new_s = np.zeros((rows, m))
                new_id = np.zeros((rows, m), dtype=cid.dtype)
                new_v = np.zeros((rows, m), dtype=bool)
            new_s[:, c0:c1] = np.take_along_axis(cs, top, axis=0)
            new_id[:, c0:c1] = np.take_along_axis(cid, top, axis=0)
            new_v[:, c0:c1] = np.take_along_axis(cv, top, axis=0)
        back_s, back_id, back_v = new_s, new_id, new_v
        if forward:
            da = np.zeros(n)
            for r in range(fwd_s.shape[1]):
                da = da + np.where(fwd_v[:, r], fwd_s[:, r], 0.0)
            cnt = fwd_v.sum(axis=1)
            da = np.divide(da, cnt, out=np.full(n, np.nan), where=cnt > 0)
            i, r = np.nonzero(fwd_v)
            yield pd.DataFrame(
                {
                    "_pid": ids_p[i],
                    "_bid": ids_b[fwd_j[i, r]],
                    "cosine": fwd_s[i, r],
                    "_da": da[i],
                    "_fwd": True,
                }
            )
    r, j = np.nonzero(back_v)
    if len(r):
        yield pd.DataFrame(
            {
                "_pid": back_id[r, j],
                "_bid": ids_b[j],
                "cosine": back_s[r, j],
                "_da": None,
                "_fwd": False,
            }
        )


def _block_topk(
    part: DataFrame,
    bcast: DataFrame,
    k: int,
    exclude_same_id: bool,
    forward: bool,
) -> DataFrame:
    """Run ``_cosine_block_topk`` over ``part`` (columns id, double
    vector) against ``bcast`` (same shape), which is collected once
    through Arrow, validated, sorted by id and shipped as a broadcast
    variable.  Output columns ``_pid, _bid, cosine, _da, _fwd``; ``_da``
    is null on the broadcast-side partials."""
    import functools

    import numpy as np
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        StructField,
        StructType,
    )

    b_id, b_vec = bcast.columns
    t = bcast.toArrow()
    ids = t.column(b_id).to_numpy(zero_copy_only=False)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    vecs = t.column(b_vec).to_numpy(zero_copy_only=False)[order]
    mat = _checked_matrix(ids, vecs, None)
    bc = part.sparkSession.sparkContext.broadcast((ids, mat, _norms(mat)))
    p_id, p_vec = part.columns
    # a split of ~S estimated bytes holds ~S/8 vector elements, each
    # multiplied against every broadcast row
    est = part._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if est / 8 * len(ids) / part.rdd.getNumPartitions() > _SPREAD_MACS:
        part = spread_small_scan(part, p_id)
    schema = StructType(
        [
            StructField("_pid", part.schema[p_id].dataType),
            StructField("_bid", bcast.schema[b_id].dataType),
            StructField("cosine", DoubleType()),
            StructField("_da", DoubleType()),
            StructField("_fwd", BooleanType()),
        ]
    )
    kernel = functools.partial(
        _cosine_block_topk,
        bcast=bc,
        k=k,
        exclude_same_id=exclude_same_id,
        forward=forward,
        p_col=p_id,
        v_col=p_vec,
    )
    # Arrow hands a pandas NaN back as null; the kernel emits no null
    # score, so a null here is a NaN score (an overflowing ∞/∞ cosine)
    nan = F.lit(float("nan"))
    return part.mapInPandas(kernel, schema).select(
        "_pid",
        "_bid",
        F.coalesce("cosine", nan).alias("cosine"),
        F.when(F.col("_fwd"), F.coalesce("_da", nan)).alias("_da"),
        "_fwd",
    )


def _candidate_topk(grid: DataFrame, k: int) -> DataFrame:
    """The candidate path's ``_cosine_block_topk`` rows, JVM-side:
    score each ``(_ida, _idb)`` pair of ``grid`` once, rank each A id's
    pairs (its top k, with ``_da`` their mean in rank order, become
    ``_fwd`` rows) and keep every pair as a B-side partial."""
    wa = Window.partitionBy("_ida").orderBy(
        F.col("cosine").desc(), F.col("_idb").asc()
    )
    top = F.row_number().over(wa) <= k
    ranked = (
        grid.select(
            "_ida", "_idb", cosine(F.col("_va"), F.col("_vb")).alias("cosine")
        )
        .withColumn("_ina", top)
        .withColumn(
            "_da",
            F.avg(F.when(F.col("_ina"), F.col("cosine"))).over(
                wa.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    both = F.array(F.lit(True), F.lit(False))
    return ranked.select(
        "_ida",
        "_idb",
        "cosine",
        "_da",
        F.explode(
            F.when(F.col("_ina"), both).otherwise(F.array(F.lit(False)))
        ).alias("_fwd"),
    )


def cosine_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k of each query against the corpus (a query
    never matches its own id).

    Plan shape: the queries are collected once and broadcast; the
    corpus stays partitioned and ``_cosine_block_topk`` scores each of
    its Arrow batches against them, emitting ≤ k rows per (partition,
    query) — no cosine grid is ever a row set — and one window ranks
    those partials into the exact top-k.  For huge query sets switch
    to ``lsh_bucket_topk``.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("_cv")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
    )
    scored = _block_topk(c, q, k, exclude_same_id=True, forward=False).select(
        F.col("_bid").alias("query_id"),
        F.col("_pid").alias("corpus_id"),
        "cosine",
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (LCG; no numpy on executors)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(row)
    return planes


def lsh_signature(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit signature of ``vec`` against each hyperplane → long."""
    bits = []
    for i, p in enumerate(planes):
        plane = F.array(*[F.lit(x) for x in p])
        pos = _dot(vec, plane) > 0
        bits.append(F.when(pos, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long")))
    sig = bits[0]
    for b in bits[1:]:
        sig = sig.bitwiseOR(b)
    return sig


def _plane_tables(
    dim: int, n_planes: int, n_tables: int, seed: int = 7
) -> list[list[list[float]]]:
    """``n_tables`` independent hyperplane sets; table 0 keeps the
    historical seed so single-table results are unchanged."""
    return [
        _hyperplanes(dim, n_planes, seed=seed + 997 * t) for t in range(n_tables)
    ]


def _bucketed(df: DataFrame, id_alias: str, vec_alias: str, tables) -> DataFrame:
    """Explode one row per LSH table: (id, vec, _tbl, bucket)."""
    sigs = F.array(*[lsh_signature(F.col(vec_alias), p) for p in tables])
    return df.select(
        id_alias, vec_alias, F.posexplode(sigs).alias("_tbl", "bucket")
    )


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only pairs sharing an LSH bucket.

    One equi-join shuffle on (table, bucket) instead of a cross join —
    the 100 TB path. Recall for a pair at angle θ is
    1 − (1 − (1−θ/π)^n_planes)^n_tables: more planes → fewer, purer
    candidates; more tables → higher recall at ~n_tables× candidate
    cost. Candidate pairs found by several tables are deduplicated
    BEFORE scoring, so each pair is scored once.
    """
    tables = _plane_tables(dim, n_planes, n_tables)
    c = _bucketed(
        corpus.select(
            F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("_cv")
        ),
        "corpus_id",
        "_cv",
        tables,
    )
    q = _bucketed(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
        ),
        "query_id",
        "_qv",
        tables,
    )
    cand = c.join(q, ["_tbl", "bucket"]).filter(
        F.col("corpus_id") != F.col("query_id")
    )
    if n_tables > 1:
        cand = cand.dropDuplicates(["query_id", "corpus_id"])
    scored = cand.select(
        "query_id",
        "corpus_id",
        cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
    )
    # bound the rank exchange: ≤ k rows per (partition, query), same
    # total order as the window, so the exact rank is unchanged
    scored = _partition_topk(
        scored, ["query_id"], "cosine", "corpus_id", k, ascending=False
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def _ivf_centroid_sample(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic md5-ordered centroid sample — a distributed
    partial top-k; the driver never holds more than ``n_centroids``."""
    return (
        corpus.select(
            F.col(id_col).alias("centroid_id"),
            _as_double(vec_col).alias("_ce"),
        )
        .orderBy(
            F.md5(F.col("centroid_id").cast("string")).asc(),
            F.col("centroid_id").asc(),
        )
        .limit(n_centroids)
    )


def _nearest_lists(
    df: DataFrame, cent: DataFrame, vec: str, n: int, out: str
) -> DataFrame:
    """Attach each row's ``n`` nearest centroid ids as ``out``."""
    scored = df.crossJoin(F.broadcast(cent)).withColumn(
        "_sim", cosine(F.col(vec), F.col("_ce"))
    )
    key = df.columns[0]
    if n == 1:
        # corpus assignment: argmin as a partial-aggregating groupBy
        # (min over struct, cosine desc ≡ min(-sim) with centroid-id
        # tiebreak) — the exchange carries one row per vector, never
        # the corpus × centroids cross product a window would shuffle
        others = [c for c in df.columns if c != key]
        m = F.min(
            F.struct(
                (-F.col("_sim")).alias("_ns"),
                F.col("centroid_id").alias("_cid"),
                *[F.col(c).alias(c) for c in others],
            )
        ).alias("_m")
        return scored.groupBy(key).agg(m).select(
            key,
            *[F.col(f"_m.{c}").alias(c) for c in others],
            F.col("_m._cid").alias(out),
        )
    w = Window.partitionBy(key).orderBy(
        F.col("_sim").desc(), F.col("centroid_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n)
        .select(*df.columns, F.col("centroid_id").alias(out))
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus by nearest
    centroid, probe only the ``nprobe`` nearest lists per query.

    Centroids are a deterministic DISTRIBUTED hash sample: order by
    ``md5(id)`` and take the first ``n_centroids`` — a partial top-k
    (per-partition heads merged), never a full corpus collect, so the
    driver holds exactly ``n_centroids`` rows regardless of corpus size.
    md5 scrambles any id clustering, so the sample is uniform-ish; no
    iterative k-means, so the plan stays a fixed DAG — swap in trained
    centroids for better recall without changing the shape.

    Plan: one pass assigns corpus vectors to centroid lists (broadcast
    centroids, argmin in array space); queries fan out to nprobe lists;
    the scoring join is an equi join on the centroid id — the 100 TB
    shuffle is bounded by nprobe/n_centroids of the cross product.
    """
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("_cv")
    )
    cent = _ivf_centroid_sample(corpus, n_centroids, id_col, vec_col)
    assigned = _nearest_lists(c, cent, "_cv", 1, "list_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
    )
    probed = _nearest_lists(q, cent, "_qv", nprobe, "list_id")

    scored = (
        assigned.join(probed, "list_id")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    scored = _partition_topk(
        scored, ["query_id"], "cosine", "corpus_id", k, ascending=False
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist an IVF index: build once, probe many.

    Writes ``<path>/centroids`` (n_centroids rows) and
    ``<path>/lists`` — the corpus with its list assignment — Hive
    PARTITIONED BY ``list_id``, so a probe-time join on ``list_id``
    dynamic-partition-prunes the parquet scan down to the probed lists:
    at nprobe/n_centroids selectivity the index read touches that
    fraction of the files, which is the point of IVF at rest.

    The centroid sample and assignment are byte-identical to
    ``ivf_topk``'s in-session path, so ``ivf_topk_indexed`` returns
    exactly what ``ivf_topk`` would for the same parameters.

    The partition key is ``list_pid`` — a dense 0..m-1 int assigned to
    each centroid — NOT the raw centroid id: Hive partition-column type
    inference re-parses directory values, so string ids with numeric
    shapes ('07' vs '7') would collide into one int partition and
    mis-join probes.  A dense internal int is inference-proof for any
    user id type; ``centroids`` carries the id → pid mapping.
    """
    cent = _ivf_centroid_sample(corpus, n_centroids, id_col, vec_col)
    w = Window.orderBy(
        F.md5(F.col("centroid_id").cast("string")).asc(),
        F.col("centroid_id").asc(),
    )
    # single-task window is fine: at most n_centroids rows
    cent = cent.withColumn(
        "list_pid", (F.row_number().over(w) - 1).cast("int")
    )
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("_cv")
    )
    assigned = _nearest_lists(
        c, cent.select(F.col("list_pid").alias("centroid_id"), "_ce"),
        "_cv", 1, "list_pid",
    )
    cent.select(
        "centroid_id", F.col("_ce").alias("centroid_vec"), "list_pid"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    assigned.select(
        "corpus_id", F.col("_cv").alias("vec"), "list_pid"
    ).write.mode("overwrite").partitionBy("list_pid").parquet(
        f"{path}/lists"
    )


def append_ivf_index(
    spark,
    path: str,
    new_corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    write_partitions: int = 1,
) -> None:
    """Grow a persisted IVF index: assign ``new_corpus`` to the
    EXISTING centroids and append to the partitioned lists — the
    standard incremental-IVF trade (centroids stay fixed, so old lists
    never rewrite and probes stay valid; rebuild when drift makes the
    partition sizes skew).  Appends are single-task
    (``write_partitions``) sorted writes — at most one file per touched
    list per batch; ``compact_ivf_index`` merges the debris.

    Vector ids are NOT deduplicated against the existing lists (that
    would scan the index per batch); callers own id uniqueness, same as
    ``build_ivf_index``.
    """
    cent_raw = spark.read.parquet(f"{path}/centroids")
    if "list_pid" not in cent_raw.columns:
        raise ValueError(
            f"IVF index at {path} predates the dense list_pid partition "
            "key; rebuild it with build_ivf_index"
        )
    cent = cent_raw.select(
        F.col("list_pid").alias("centroid_id"),
        F.col("centroid_vec").alias("_ce"),
    )
    c = new_corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("_cv")
    )
    assigned = _nearest_lists(c, cent, "_cv", 1, "list_pid")
    to_write = assigned.select(
        "corpus_id", F.col("_cv").alias("vec"), "list_pid"
    ).persist()
    # empty partitioned appends drop a bare file at the table root and
    # corrupt the Hive layout — skip them (same guard as the signature
    # store); the persist also feeds the write from cache
    if to_write.count() > 0:
        (
            to_write.coalesce(write_partitions)
            .sortWithinPartitions("list_pid", "corpus_id")
            .write.mode("append")
            .partitionBy("list_pid")
            .parquet(f"{path}/lists")
        )
    to_write.unpersist()


def compact_ivf_index(spark, path: str) -> int:
    """Merge append debris in the lists table: one sorted file per
    list partition (same swap mechanics as the signature store).
    Returns the post-compaction data-file count."""
    from moz_datapipeline_spark.operators.incremental import (
        compact_partitioned_dir,
    )

    return compact_partitioned_dir(
        spark, f"{path}/lists", "list_pid", "corpus_id"
    )


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k against a persisted ``build_ivf_index`` index.

    Probe plan: queries fan out to their ``nprobe`` nearest stored
    centroids, then an equi join on ``list_pid`` (the index's dense int
    partition key — see ``build_ivf_index`` for why it is not the raw
    centroid id) against the partitioned lists table — Spark's dynamic
    partition pruning turns the (small) probed side into a partition
    filter on the parquet scan, so only the probed lists' files are
    read.  Scoring/ranking is identical to ``ivf_topk`` (bounded
    partial top-k before the rank exchange).
    """
    cent_raw = spark.read.parquet(f"{path}/centroids")
    if "list_pid" not in cent_raw.columns:
        raise ValueError(
            f"IVF index at {path} predates the dense list_pid partition "
            "key; rebuild it with build_ivf_index"
        )
    cent = cent_raw.select(
        F.col("list_pid").alias("centroid_id"),
        F.col("centroid_vec").alias("_ce"),
    )
    assigned = spark.read.parquet(f"{path}/lists").select(
        "corpus_id", F.col("vec").alias("_cv"), "list_pid"
    )
    got = dict(assigned.dtypes)["list_pid"]
    want = dict(cent_raw.dtypes)["list_pid"]
    if got != want:
        raise ValueError(
            f"IVF index at {path}: lists partition key type {got} does "
            f"not match centroids list_pid type {want}; the probe join "
            "would mis-match — rebuild the index"
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
    )
    probed = _nearest_lists(q, cent, "_qv", nprobe, "list_pid")
    scored = (
        assigned.join(probed, "list_pid")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select(
            "query_id",
            "corpus_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    scored = _partition_topk(
        scored, ["query_id"], "cosine", "corpus_id", k, ascending=False
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def quantize_embeddings(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization (storage/ANN compression).

    scale = max|x| / 127; q_i = sign(x_i)·floor(|x_i|/scale + 0.5) —
    the explicit floor formula instead of round() because engines
    disagree on round-half tie-breaking. Emits the int8 codes, the
    scale, and the dequantization fidelity (cosine between original and
    dequantized vector). All JVM array HOFs: this is a pure map stage,
    no shuffle, 4× smaller vectors for downstream ANN.
    """
    v = _as_double(vec_col)
    absmax = F.aggregate(
        F.transform(v, lambda x: F.abs(x)),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    scale = absmax / F.lit(127.0)
    q = F.when(absmax > 0, F.transform(
        v,
        lambda x: (
            F.signum(x) * F.floor(F.abs(x) / scale + F.lit(0.5))
        ).cast("int"),
    )).otherwise(F.transform(v, lambda x: F.lit(0)))
    out = df.select(
        F.col(id_col),
        scale.alias("scale"),
        q.alias("quantized"),
        v.alias("_orig"),
    )
    deq = F.transform(
        F.col("quantized"), lambda y: y.cast("double") * F.col("scale")
    )
    return out.withColumn(
        "dequant_cosine",
        F.when(F.col("scale") > 0, cosine(F.col("_orig"), deq)).otherwise(
            F.lit(None)
        ),
    ).drop("_orig")


def embedding_near_dup(
    vectors: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 8,
    n_tables: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH candidate buckets.

    ``n_tables`` independent hyperplane sets raise recall (union of
    per-table candidates, deduplicated before scoring) at ~n_tables×
    the candidate volume — same shuffle key (table, bucket).  The
    returned frame owns the checkpointed bucketed vectors."""
    tables = _plane_tables(dim, n_planes, n_tables)
    # materialize ONCE before the self-join (localCheckpoint, not
    # .cache(): the result plan reads this frame, so the operator could
    # never unpersist — the bench's strict leak assert fails exactly
    # that; and not checkpoint_sever — one-shot self-joins want the
    # origin statistics kept so broadcast decisions survive, see
    # semantic_dedup).  Alias-only branches defeat exchange reuse, so
    # without the materialization both sides recompute every plane dot
    # product (same rationale as minhash_lsh_candidates).
    v = _bucketed(
        vectors.select(F.col(id_col), _as_double(vec_col).alias("_v")),
        id_col,
        "_v",
        tables,
    ).localCheckpoint(eager=True)
    a, b = v.alias("a"), v.alias("b")
    cand = a.join(
        b,
        (F.col("a._tbl") == F.col("b._tbl"))
        & (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.col("a._v").alias("_va"),
        F.col("b._v").alias("_vb"),
    )
    if n_tables > 1:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    out = (
        cand.withColumn("cosine", cosine(F.col("_va"), F.col("_vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    return owned(out, v)


def random_projection(
    df: DataFrame,
    out_dim: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss-style projection onto ``out_dim``
    deterministic LCG hyperplanes, one output row per (vector, dim).

    The planes come from the same generator as the LSH tables, so any
    engine (or the DuckDB oracle, with the planes inlined as literals)
    reproduces identical projections.  The whole computation is
    shuffle-free per-row JVM fold arithmetic; the long output layout
    keeps downstream schemas independent of ``out_dim``.

    ``dim`` is the input vector width; callers that know it (they
    always do — the corpus schema is theirs) should pass it so plan
    construction launches no Spark job.  ``None`` falls back to a
    one-row probe.
    """
    planes = _hyperplanes(
        dim if dim is not None else _vec_dim(df, vec_col), out_dim, seed
    )
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    projs = F.array(
        *[
            F.round(_dot(v, F.array(*[F.lit(x) for x in p])), 6)
            for p in planes
        ]
    )
    return df.select(
        id_col, F.posexplode(projs).alias("dim_idx", "proj")
    )


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from the first row (schema carries no fixed size)."""
    row = df.select(F.size(vec_col).alias("d")).first()
    return int(row["d"])


def kmeans_assign(
    df: DataFrame,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_stride: int = 64,
) -> DataFrame:
    """Lloyd's k-means as a fixed-DAG DataFrame plan (no driver loop
    state): deterministic init, ``iterations`` rounds of
    assign-then-mean, final per-vector cluster labels.

    Init: the ``k`` vectors whose id is a multiple of ``init_stride``
    (content-deterministic, no RNG).  Each round is (a) a broadcast
    cross join of the k centroids against the corpus with a JVM fold
    squared-distance and a ``min(struct(dist, cid))`` argmin — one hash
    aggregate, no sort — then (b) centroid means via ``posexplode`` +
    per-(cluster, position) average.  Per-round shuffle volume is
    O(corpus) for the argmin and O(k·dim) for the means; the centroid
    side stays broadcast-sized by construction, so the plan is the one
    you would want at 100 TB (the corpus is never re-partitioned by
    cluster).

    Returns (id, cluster_r1, cluster) — first-round and final labels,
    so convergence movement is visible to callers.

    For training-throughput-bound corpora the same Arrow-matmul argmin
    pattern as ``pq_encode(kernel="pandas")`` applies; this operator
    keeps the single fixed-DAG JVM path because its oracle replays two
    full rounds and the per-round labels are part of the contract.
    """
    v = df.select(
        id_col,
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_emb"),
    )
    cent = v.filter((F.col(id_col) % init_stride == 0) & (F.col(id_col) < k * init_stride)).select(
        (F.col(id_col) / init_stride).cast("int").alias("_cid"),
        F.col("_emb").alias("_cvec"),
    )
    labels = []
    assigned = None
    for _ in range(iterations):
        sqdist = F.aggregate(
            F.zip_with(F.col("_emb"), F.col("_cvec"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        assigned = (
            v.join(F.broadcast(cent))
            .withColumn("_dist", sqdist)
            .groupBy(id_col)
            .agg(
                F.min(F.struct("_dist", "_cid")).alias("_m"),
                F.first("_emb").alias("_emb"),
            )
            .select(id_col, F.col("_m._cid").alias("_cid"), "_emb")
        )
        labels.append(assigned.select(id_col, "_cid"))
        cent = (
            assigned.select("_cid", F.posexplode("_emb").alias("_pos", "_val"))
            .groupBy("_cid", "_pos")
            .agg(F.avg("_val").alias("_mu"))
            .groupBy("_cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_mu"))),
                    lambda s: s["_mu"],
                ).alias("_cvec")
            )
        )
    first_lbl = labels[0].select(id_col, F.col("_cid").alias("cluster_r1"))
    final_lbl = labels[-1].select(id_col, F.col("_cid").alias("cluster"))
    return first_lbl.join(final_lbl, id_col)


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    k: int = 8,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init_stride: int = 64,
    max_cluster_size: int | None = None,
    stats: dict | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then inside each
    cluster drop every vector whose cosine to a LOWER-id member exceeds
    ``threshold`` (the lowest id of each semantic group survives —
    deterministic, no RNG).

    Plan: the fixed-DAG ``kmeans_assign`` labels every vector (broadcast
    centroids, no corpus re-partition), then ONE self-equi-join on the
    cluster id forms candidate pairs — pair volume is Σ|cluster|², never
    corpus², which is the entire point of clustering first; at corpus
    scale pick k ≈ √N so clusters stay ~√N wide.  Survivors come back
    by a left-anti join on the dropped ids.

    ``max_cluster_size`` makes the Σ|cluster|² bound a GUARANTEE
    instead of an expectation: any cluster wider than the cap is
    deterministically hash-split (xxhash64 of the id) into
    ceil(size/cap) sub-buckets and pairs form only within a
    (cluster, sub-bucket) — so a skew-induced mega-cluster can no
    longer re-open the quadratic path.  The cost is recall: near-dups
    whose members hash into different sub-buckets of the same split
    cluster are not compared (the standard SemDeDup shard trade).
    ``stats``, when a dict, receives ``oversized_clusters``,
    ``widest_cluster``, and ``split_subbuckets`` (one tiny k-row
    aggregate job at call time).

    Returns (id, cluster) for the surviving rows.

    Reference parity: extension operator (the LLM-pipeline analogue of
    the reference's dedup stages); candidates→verify shape shared with
    ``embedding_near_dup``.
    """
    labels = kmeans_assign(
        df, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col,
        init_stride=init_stride,
    ).select(id_col, "cluster")
    v = df.select(F.col(id_col), _as_double(vec_col).alias("_v")).join(
        labels, id_col
    )
    if max_cluster_size is not None:
        if max_cluster_size < 1:
            raise ValueError("max_cluster_size must be >= 1")
        sizes = v.groupBy("cluster").agg(F.count(F.lit(1)).alias("_csz"))
        if stats is not None:
            agg = sizes.agg(
                F.sum(
                    (F.col("_csz") > max_cluster_size).cast("int")
                ).alias("over"),
                F.max("_csz").alias("widest"),
                F.sum(
                    F.when(
                        F.col("_csz") > max_cluster_size,
                        F.ceil(F.col("_csz") / max_cluster_size),
                    ).otherwise(0)
                ).alias("subs"),
            ).head()
            stats["oversized_clusters"] = int(agg["over"] or 0)
            stats["widest_cluster"] = int(agg["widest"] or 0)
            stats["split_subbuckets"] = int(agg["subs"] or 0)
        # sizes has at most k rows — broadcast, never a corpus shuffle
        v = v.join(F.broadcast(sizes), "cluster").withColumn(
            "_sub",
            F.when(
                F.col("_csz") > max_cluster_size,
                F.pmod(
                    F.xxhash64(F.col(id_col).cast("string")),
                    F.ceil(F.col("_csz") / max_cluster_size),
                ),
            ).otherwise(F.lit(0)),
        ).drop("_csz")
        bucket_cols = ["cluster", "_sub"]
    else:
        bucket_cols = ["cluster"]
    # r13 re-plan: collapse each (cluster[, sub]) bucket to an id-sorted
    # (id, vec) array in ONE hash aggregate and apply the drop rule
    # EXCHANGE-LOCALLY — element j survives iff no LOWER-id element i
    # has cosine > threshold (identical to the old pair self-join +
    # distinct + anti join: there too a row was dropped when ANY
    # lower-id member, dropped or not, was within threshold).  Bucket
    # width is bounded by construction (k ≈ √N, or hard-capped via
    # max_cluster_size), so the per-task array stays bucket-sized.
    # This removes the self-join, the anti join, and — decisively —
    # the multiply-consumed labeled frame: the Lloyd DAG now has ONE
    # consumer, so the r12 ``.cache()`` (an operator leak: the result
    # plan read it, so it could never be unpersisted) has nothing left
    # to dedupe.  Every leak-legal materialization variant measured
    # 7.6–10 s against the cache's 2.1 s (serial AQE planning of the
    # checkpoint-consumer jobs dominated); this shape measures at the
    # cache level with zero retained blocks.
    arr = F.sort_array(F.collect_list(F.struct(id_col, "_v")))
    buckets = v.groupBy(*bucket_cols).agg(arr.alias("_a"))
    survivors = F.filter(
        F.col("_a"),
        lambda x, j: ~F.exists(
            F.slice(F.col("_a"), 1, j),
            lambda y: cosine(y["_v"], x["_v"]) > F.lit(float(threshold)),
        ),
    )
    return buckets.select(
        F.col("cluster"), F.explode(survivors).alias("_x")
    ).select(F.col("_x")[id_col].alias(id_col), "cluster")


def embedding_covariance(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Population covariance matrix of the embedding column as (i, j,
    cov) rows — the input to PCA/whitening at corpus scale.

    Plan shape: each task folds its partition into ONE partial-Gram row
    (count, sum vector, upper-triangle of X^T X) inside an Arrow-batched
    ``mapInPandas`` kernel — numpy ``einsum`` per batch, no per-row
    Python.  Partials flatten to (idx, val) rows (d*(d+3)/2 + 1 per
    task, ~2.1k for d=64) and combine in one tiny hash aggregation, so
    the shuffle is O(partitions * d^2) REGARDLESS of row count — the
    pattern that survives 100 TB where a (row x row) self-join or a
    d^2-column aggregate would not.  Final covariance assembly is plain
    column math on the combined sums: cov = E[xy] - E[x]E[y].
    """
    import numpy as np
    import pandas as pd

    n_sum = dim * (dim + 1) // 2
    iu = np.triu_indices(dim)

    def kernel(batches):
        cnt = 0
        s = np.zeros(dim)
        g = np.zeros((dim, dim))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype="f8")
            cnt += x.shape[0]
            s += x.sum(axis=0)
            g += x.T @ x
        idx = np.arange(1 + dim + n_sum, dtype="i8")
        val = np.concatenate([[float(cnt)], s, g[iu]])
        yield pd.DataFrame({"idx": idx, "val": val})

    partials = df.select(vec_col).mapInPandas(kernel, schema="idx long, val double")
    combined = partials.groupBy("idx").agg(F.sum("val").alias("val"))

    # assemble (i, j, cov) relationally: join the three sum kinds by
    # position — all inputs are <= ~2.1k rows, every join broadcasts
    spark = df.sparkSession
    pos = spark.createDataFrame(
        [(int(i), int(j), int(1 + dim + k)) for k, (i, j) in
         enumerate(zip(iu[0].tolist(), iu[1].tolist()))],
        "i int, j int, gram_idx int",
    )
    n_row = combined.filter(F.col("idx") == 0).select(
        F.col("val").alias("_n")
    )
    means = combined.filter(
        (F.col("idx") >= 1) & (F.col("idx") <= dim)
    ).select((F.col("idx") - 1).cast("int").alias("_mi"), F.col("val").alias("_s"))
    grams = combined.filter(F.col("idx") > dim).select(
        F.col("idx").cast("int").alias("gram_idx"), F.col("val").alias("_xy")
    )
    mi = means.select(F.col("_mi").alias("i"), F.col("_s").alias("_si"))
    mj = means.select(F.col("_mi").alias("j"), F.col("_s").alias("_sj"))
    full = (
        pos.join(F.broadcast(grams), "gram_idx")
        .join(F.broadcast(mi), "i")
        .join(F.broadcast(mj), "j")
        .join(F.broadcast(n_row))
    )
    cov = (F.col("_xy") / F.col("_n")) - (
        F.col("_si") / F.col("_n")
    ) * (F.col("_sj") / F.col("_n"))
    scale = 10 ** round_digits
    out = full.select(
        "i", "j",
        (F.floor(cov * scale + F.lit(0.5)) / scale).alias("cov"),
    )
    # upper triangle computed once; mirror for the full symmetric matrix
    lower = out.filter(F.col("i") != F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), "cov"
    )
    return out.unionByName(lower)


def pca_project(
    df: DataFrame,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Project embeddings onto their top-``k`` principal components.

    The covariance matrix is tiny (d x d) no matter the corpus size, so
    its eigendecomposition runs on the driver (numpy, deterministic
    sign: each component's largest-|coefficient| entry is made
    positive); the component matrix broadcasts back and the projection
    is a JVM ``zip_with``/``aggregate`` dot product per row — the
    driver never sees corpus rows, only the d x d summary.
    """
    import numpy as np

    cov_rows = embedding_covariance(
        df, vec_col=vec_col, id_col=id_col, dim=dim, round_digits=12
    ).collect()
    cov = np.zeros((dim, dim))
    for r in cov_rows:
        cov[r["i"], r["j"]] = r["cov"]
    w, v = np.linalg.eigh(cov)
    order = np.argsort(w)[::-1][:k]
    comps = v[:, order].T  # (k, dim)
    for c in range(comps.shape[0]):
        lead = np.argmax(np.abs(comps[c]))
        if comps[c, lead] < 0:
            comps[c] = -comps[c]
    comp_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in comps[c]])
            for c in range(comps.shape[0])
        ]
    )
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    proj = F.transform(
        comp_lit,
        lambda comp: F.aggregate(
            F.zip_with(vec, comp, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return df.select(F.col(id_col), proj.alias("pca"))


def pq_encode(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    iterations: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    init_stride: int = 16,
    kernel: str = "sql",
) -> tuple[DataFrame, DataFrame]:
    """Product quantization: train per-subspace codebooks and encode
    every vector as ``m`` small codes (the memory layout that makes
    billion-vector ANN affordable: ``m`` bytes per vector instead of
    ``dim * 4``).

    The vector splits into ``m`` contiguous subvectors; ALL subspaces
    train in one fixed-DAG Lloyd pass by carrying ``sub_id`` as an
    extra key — same plan shape as ``kmeans_assign`` (broadcast
    centroids, ``min(struct)`` argmin, posexplode means), so the corpus
    never re-partitions by cluster and the per-round shuffle stays
    O(corpus x m + m*k*dim/m).  Init is content-deterministic (vectors
    whose id is a multiple of ``init_stride``), no RNG.

    Returns ``(codes, codebooks)``: codes = (id, codes array<int> in
    subspace order); codebooks = (sub_id, code, centroid array<double>).
    The pair is mutually consistent: after the last centroid update the
    corpus is re-assigned ONCE against the final codebooks, so ADC
    distances in ``pq_topk`` score codes under the same centroids the
    codes were chosen by (not the pre-update ones).

    ``kernel`` picks the assignment engine.  ``"sql"`` (default) is the
    fixed-DAG JVM path whose arithmetic the DuckDB oracles replay
    bit-for-bit.  ``"pandas"`` runs the argmin as an Arrow-batched
    numpy kernel — the corpus never explodes to (id, sub) rows and the
    per-iteration exchange shrinks to m·k partial-sum rows per
    partition collected driver-side (bounded by construction); same
    (distance, code) tie-break, distances equal up to float summation
    order.  Use it when training throughput matters: measured 6–9× on
    the 500k-vector rehearsal (≈7 s vs ≈58 s per Lloyd round across
    runs; both numbers re-measured in every rehearsal line).
    """
    if kernel not in ("sql", "pandas"):
        raise ValueError(f"unknown pq_encode kernel {kernel!r}")
    sub_d = dim // m
    # loud sparse-id-space guard; limit(k+1) instead of count() so the
    # validation job short-circuits (CollectLimit) rather than scanning
    # the full corpus before training even starts — at most k seed ids
    # can match the filter, so seeing k+1 also catches duplicate ids
    n_seed = len(
        df.filter(
            (F.col(id_col) % init_stride == 0)
            & (F.col(id_col) < k * init_stride)
        )
        .select(id_col)
        .limit(k + 1)
        .collect()
    )
    if n_seed != k:
        raise ValueError(
            f"pq_encode deterministic init found {n_seed} seed vectors "
            f"(ids 0, {init_stride}, ..., {(k - 1) * init_stride}) but needs "
            f"{k}: the id space must be dense from 0 for id-based init — "
            "re-key ids or lower init_stride"
        )
    if kernel == "pandas":
        return _pq_encode_pandas(
            df, m, k, iterations, id_col, vec_col, dim, init_stride, sub_d
        )
    subs = df.select(
        id_col,
        F.posexplode(
            F.array(
                *[
                    F.slice(
                        F.transform(F.col(vec_col), lambda x: x.cast("double")),
                        s * sub_d + 1,
                        sub_d,
                    )
                    for s in range(m)
                ]
            )
        ).alias("sub_id", "_sv"),
    )
    cent = subs.filter(
        (F.col(id_col) % init_stride == 0) & (F.col(id_col) < k * init_stride)
    ).select(
        "sub_id",
        (F.col(id_col) / init_stride).cast("int").alias("_cid"),
        F.col("_sv").alias("_cv"),
    )
    def _assign(cb: DataFrame) -> DataFrame:
        sqdist = F.aggregate(
            F.zip_with(F.col("_sv"), F.col("_cv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return (
            subs.join(F.broadcast(cb), "sub_id")
            .withColumn("_dist", sqdist)
            .groupBy(id_col, "sub_id")
            .agg(
                F.min(F.struct("_dist", "_cid")).alias("_m"),
                F.first("_sv").alias("_sv"),
            )
            .select(id_col, "sub_id", F.col("_m._cid").alias("_cid"), "_sv")
        )

    for _ in range(iterations):
        assigned = _assign(cent)
        cent = (
            assigned.select(
                "sub_id", "_cid", F.posexplode("_sv").alias("_pos", "_val")
            )
            .groupBy("sub_id", "_cid", "_pos")
            .agg(F.avg("_val").alias("_mu"))
            .groupBy("sub_id", "_cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("_pos", "_mu"))),
                    lambda s: s["_mu"],
                ).alias("_cv")
            )
        )
    # one extra broadcast-argmin pass so codes reflect the FINAL
    # centroids rather than lagging them by half a Lloyd step
    assigned = _assign(cent)
    codes = (
        assigned.groupBy(id_col)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("sub_id", "_cid"))),
                lambda s: s["_cid"],
            ).alias("codes")
        )
    )
    codebooks = cent.select(
        "sub_id", F.col("_cid").alias("code"), F.col("_cv").alias("centroid")
    )
    return codes, codebooks


def _adc_tables(
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str,
    query_id_col: str,
    vec_col: str,
    m: int,
    dim: int,
) -> DataFrame:
    """Per-query ADC lookup tables as ONE broadcastable DataFrame:
    (query_id, _tbl) where ``_tbl`` is an array (ordered by sub_id) of
    ``code → partial-distance`` maps."""
    sub_d = dim // m
    qsubs = queries.select(
        F.col(id_col).alias(query_id_col),
        F.posexplode(
            F.array(
                *[
                    F.slice(
                        F.transform(F.col(vec_col), lambda x: x.cast("double")),
                        s * sub_d + 1,
                        sub_d,
                    )
                    for s in range(m)
                ]
            )
        ).alias("sub_id", "_qv"),
    )
    table = qsubs.join(F.broadcast(codebooks), "sub_id").select(
        query_id_col,
        "sub_id",
        "code",
        F.aggregate(
            F.zip_with(F.col("_qv"), F.col("centroid"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("_pd"),
    )
    # |queries| × m × k_codes doubles — broadcast-size by the same
    # assumption that makes the query side broadcastable at all
    return (
        table.groupBy(query_id_col, "sub_id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("code", "_pd"))
            ).alias("_m")
        )
        .groupBy(query_id_col)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("sub_id", "_m"))
            ).alias("_bysub")
        )
        .select(
            query_id_col,
            # array ordered by sub_id (maps aren't sortable inside
            # structs, so index a sub_id-keyed map with a sequence)
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda s: F.element_at(F.col("_bysub"), s),
            ).alias("_tbl"),
        )
    )


def _adc_dist(codes_col: str = "codes", tbl_col: str = "_tbl"):
    """ADC distance of one codes array against one lookup-table array."""
    return F.aggregate(
        F.zip_with(
            F.col(codes_col),
            F.col(tbl_col),
            lambda code, mp: F.element_at(mp, code),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def adc_scores(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """The shuffle-free ADC scoring stage of ``pq_topk``: every
    (query, corpus) pair scored map-side by zipping the corpus codes
    against one broadcast array-of-maps lookup table per query.
    Exposed separately so rehearsals can measure the exchange bound the
    partial top-k buys; ``pq_topk`` is this + partial top-k + rank.
    """
    tables = _adc_tables(
        codebooks, queries, id_col, query_id_col, vec_col, m, dim
    )
    return (
        codes.select(F.col(id_col).alias("corpus_id"), "codes")
        .crossJoin(F.broadcast(tables))
        .select(
            query_id_col,
            "corpus_id",
            _adc_dist().alias("adc_dist"),
        )
    )


def _pq_encode_pandas(
    df: DataFrame,
    m: int,
    k: int,
    iterations: int,
    id_col: str,
    vec_col: str,
    dim: int,
    init_stride: int,
    sub_d: int,
) -> tuple[DataFrame, DataFrame]:
    """The Arrow-batched trainer behind ``pq_encode(kernel="pandas")``.

    Per Lloyd round one corpus scan emits per-partition partial sums
    (sub, code) → (count, Σsubvector); m·k rows per partition collect
    to the driver (bounded by construction, like the d×d covariance
    fold) and fold into the next centroids.  The final scan assigns
    codes with a vectorized matmul argmin.  Tie-break matches the SQL
    path: centroid rows are ordered by code id, so numpy's first-min
    argmin picks the smallest code on equal distance.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    seed_rows = (
        df.filter(
            (F.col(id_col) % init_stride == 0)
            & (F.col(id_col) < k * init_stride)
        )
        .select(
            (F.col(id_col) / init_stride).cast("int").alias("_cid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
        .collect()
    )
    seed_rows.sort(key=lambda r: r["_cid"])
    base = np.array([r["_v"] for r in seed_rows], dtype=np.float64)
    # cents[s] = (code ids ascending, matrix (k_s, sub_d))
    cents = [
        (
            np.array([r["_cid"] for r in seed_rows], dtype=np.int32),
            base[:, s * sub_d: (s + 1) * sub_d].copy(),
        )
        for s in range(m)
    ]
    narrow = df.select(id_col, vec_col)

    def partials_kernel(batches):
        acc: dict[tuple[int, int], list] = {}
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            x = x.reshape(n, m, sub_d)
            for s in range(m):
                cids, cmat = cents[s]
                d = ((x[:, s, None, :] - cmat[None, :, :]) ** 2).sum(-1)
                a = np.argmin(d, axis=1)
                for j in range(len(cids)):
                    mask = a == j
                    cnt = int(mask.sum())
                    if cnt:
                        e = acc.setdefault(
                            (s, int(cids[j])), [0, np.zeros(sub_d)]
                        )
                        e[0] += cnt
                        e[1] += x[mask, s, :].sum(0)
        if acc:
            yield pd.DataFrame(
                {
                    "sub_id": [s for s, _ in acc],
                    "code": [c for _, c in acc],
                    "cnt": [v[0] for v in acc.values()],
                    "sv": [list(v[1]) for v in acc.values()],
                }
            )

    for _ in range(iterations):
        parts = narrow.mapInPandas(
            partials_kernel, "sub_id int, code int, cnt long, sv array<double>"
        ).collect()
        merged: dict[tuple[int, int], list] = {}
        for r in parts:
            e = merged.setdefault((r["sub_id"], r["code"]), [0, np.zeros(sub_d)])
            e[0] += r["cnt"]
            e[1] += np.array(r["sv"])
        cents = [
            (
                np.array(
                    sorted(c for s, c in merged if s == si), dtype=np.int32
                ),
                np.stack(
                    [
                        merged[(si, c)][1] / merged[(si, c)][0]
                        for c in sorted(c for s, c in merged if s == si)
                    ]
                ),
            )
            for si in range(m)
        ]

    def assign_kernel(batches):
        for pdf in batches:
            n = len(pdf)
            if n == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            x = x.reshape(n, m, sub_d)
            codes = np.empty((n, m), dtype=np.int32)
            for s in range(m):
                cids, cmat = cents[s]
                d = ((x[:, s, None, :] - cmat[None, :, :]) ** 2).sum(-1)
                codes[:, s] = cids[np.argmin(d, axis=1)]
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "codes": list(codes)}
            )

    codes_df = narrow.mapInPandas(assign_kernel, f"{id_col} long, codes array<int>")
    book_rows = [
        (s, int(cid), [float(v) for v in cents[s][1][j]])
        for s in range(m)
        for j, cid in enumerate(cents[s][0])
    ]
    books_df = spark.createDataFrame(
        book_rows, "sub_id int, code int, centroid array<double>"
    )
    return codes_df, books_df


def pq_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    m: int = 4,
    dim: int = 64,
    rerank: int | None = None,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes, with an optional
    exact-rerank stage (the standard ADC+rerank design).

    Per query the distance to EVERY codebook centroid is a tiny
    (m × k_codes) lookup table.  The tables for all queries fold into
    ONE broadcast value — an array (by ``sub_id``) of ``code → dist``
    maps per query — so the corpus scan scores each vector entirely
    map-side by zipping its ``m``-int codes against the maps: no
    shuffle touches the scoring at all, and the corpus side never
    reads the original embeddings (the entire point of PQ at 100 TB).
    A per-partition partial top-k then bounds the single exchange to
    ≤ k rows per (partition, query) before the exact global rank.

    ``rerank=N`` (with ``corpus=`` the embeddings DataFrame) rescores
    the top-``N`` ADC candidates per query against the EXACT vectors:
    the ≈N·|queries| candidate ids broadcast back into a corpus scan,
    exact squared-L2 replaces the quantized distance, and the final
    top-``k`` is exact-ranked.  ADC recall at small ``m`` is lossy by
    construction (measured 0.425 at m=8,k=128 on synthetic vectors);
    rescoring N≈50·k candidates lifts it to ≈1 for k·N extra vector
    reads — the scan-codes → rerank-few shape every production PQ
    system uses, and the same prefilter-then-exact idiom as the
    reference's bridge snap (scripts/prep-bridge/prep-bridge.js:91-106).
    Output: (query_id, corpus_id, l2_dist, rank) exact-ranked.
    """
    scored = adc_scores(
        codes, codebooks, queries, id_col, query_id_col, vec_col, m, dim
    )
    if rerank is not None and corpus is None:
        raise ValueError(
            "pq_topk(rerank=N) rescores exact vectors: pass corpus= the "
            "embeddings DataFrame the codes were trained from"
        )
    return _rank_adc_then_rerank(
        scored, k, rerank, corpus, queries, id_col, query_id_col, vec_col
    )


def _rank_adc_then_rerank(
    scored: DataFrame,
    k: int,
    rerank: int | None,
    corpus: DataFrame | None,
    queries: DataFrame,
    id_col: str,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared ranking tail of ``pq_topk`` and ``ivfadc_topk``: bound the
    exchange with a map-side partial top-k, exact-rank the ADC
    distances, then optionally hand the top-``rerank`` candidates to
    ``_exact_rerank``.  One implementation so a tie-break or NaN-order
    fix can never make the two ANN paths diverge."""
    n_first = rerank if rerank is not None else k
    scored = _partition_topk(
        scored, [query_id_col], "adc_dist", "corpus_id", n_first
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("adc_dist").asc(), F.col("corpus_id").asc()
    )
    adc = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= n_first)
    )
    if rerank is None:
        return adc
    return _exact_rerank(
        adc, corpus, queries, k, id_col, query_id_col, vec_col
    )


def _exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    query_id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-rescore tail shared by ``pq_topk`` and ``ivfadc_topk``:
    the (small) candidate ids and query vectors broadcast into a corpus
    scan, exact squared-L2 replaces the quantized distance, map-side
    partial top-k bounds the final rank exchange."""
    cvec = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("_cv")
    )
    qvec = queries.select(
        F.col(id_col).alias(query_id_col), _as_double(vec_col).alias("_qv")
    )
    exact = (
        cvec.join(F.broadcast(cand.select(query_id_col, "corpus_id")), "corpus_id")
        .join(F.broadcast(qvec), query_id_col)
        .select(
            query_id_col,
            "corpus_id",
            F.aggregate(
                F.zip_with(
                    F.col("_qv"), F.col("_cv"), lambda x, y: (x - y) * (x - y)
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("l2_dist"),
        )
    )
    exact = _partition_topk(exact, [query_id_col], "l2_dist", "corpus_id", k)
    w2 = Window.partitionBy(query_id_col).orderBy(
        F.col("l2_dist").asc(), F.col("corpus_id").asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
    )


def _ivf_lists(
    corpus: DataFrame,
    queries: DataFrame,
    n_lists: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
    assign_kernel: str = "sql",
) -> tuple[DataFrame, DataFrame]:
    """The coarse stage of ``ivfadc_topk``: deterministic hash-sampled
    centroids, corpus→list cosine argmin, queries→nprobe probed lists.
    Returns ``(assigned(corpus_id, list_id), probed(query_id,
    list_id))``; exposed so rehearsals can count the candidate set the
    probe restriction buys without re-implementing the plan.

    ``assign_kernel="sql"`` (default, oracle-replayed arithmetic) runs
    the corpus argmin as a partial-aggregating groupBy over the
    broadcast-centroid cross join — one row per vector into the
    exchange.  ``"pandas"`` collects the (bounded, ``n_lists``-row)
    centroid sample and does the argmax as one Arrow-batched normalized
    matmul per batch — shuffle-free, same (−cosine, centroid_id)
    tie-break, equal up to float summation order.  The query probe side
    is always tiny and stays SQL.
    """
    if assign_kernel not in ("sql", "pandas"):
        raise ValueError(f"unknown assign_kernel {assign_kernel!r}")
    c = corpus.select(
        F.col(id_col).alias("corpus_id"), _as_double(vec_col).alias("_cv")
    )
    cent = (
        corpus.select(
            F.col(id_col).alias("centroid_id"),
            _as_double(vec_col).alias("_ce"),
        )
        .orderBy(
            F.md5(F.col("centroid_id").cast("string")).asc(),
            F.col("centroid_id").asc(),
        )
        .limit(n_lists)
    )
    if assign_kernel == "pandas":
        import numpy as np
        import pandas as pd

        cent_rows = sorted(cent.collect(), key=lambda r: r["centroid_id"])
        cids = np.array([r["centroid_id"] for r in cent_rows], dtype=np.int64)
        cmat = np.array([r["_ce"] for r in cent_rows], dtype=np.float64)
        cmat = cmat / np.linalg.norm(cmat, axis=1, keepdims=True)

        def kernel(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                x = np.stack(pdf["_cv"].to_numpy()).astype(np.float64)
                xn = x / np.linalg.norm(x, axis=1, keepdims=True)
                sims = xn @ cmat.T
                # argmax, ties to the smallest centroid_id: columns are
                # cid-ascending and np.argmax returns the first maximum
                best = cids[np.argmax(sims, axis=1)]
                yield pd.DataFrame(
                    {
                        "corpus_id": pdf["corpus_id"].to_numpy(),
                        "list_id": best,
                    }
                )

        assigned = c.mapInPandas(kernel, "corpus_id long, list_id long")
    else:
        assigned = (
            c.crossJoin(F.broadcast(cent))
            .withColumn("_sim", cosine(F.col("_cv"), F.col("_ce")))
            .groupBy("corpus_id")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("_sim")).alias("_ns"),
                        F.col("centroid_id").alias("_cid"),
                    )
                ).alias("_m")
            )
            .select("corpus_id", F.col("_m._cid").alias("list_id"))
        )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("_qv")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_sim").desc(), F.col("centroid_id").asc()
    )
    probed = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("_sim", cosine(F.col("_qv"), F.col("_ce")))
        .withColumn("_rn", F.row_number().over(wq))
        .filter(F.col("_rn") <= nprobe)
        .select("query_id", F.col("centroid_id").alias("list_id"))
    )
    return assigned, probed


def ivfadc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_lists: int = 16,
    nprobe: int = 4,
    k: int = 5,
    m: int = 4,
    dim: int = 64,
    pq_k: int = 16,
    iterations: int = 1,
    init_stride: int = 16,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    encode_kernel: str = "sql",
    assign_kernel: str = "sql",
) -> DataFrame:
    """IVF + ADC (+ optional exact rerank): the full production shape
    for billion-vector ANN, assembled from this module's pieces.

    - **coarse**: deterministic hash-sampled centroids (the same fixed-
      DAG sample as ``ivf_topk``); the corpus assigns to its nearest
      list by cosine argmin through a partial-aggregating ``groupBy``
      (one row per vector into the exchange, never corpus × lists).
    - **fine**: full-vector PQ codes (``pq_encode``).  NON-residual,
      unlike Jégou et al.'s IVFADC: residual coding couples codes to
      their list and would break the compositional DuckDB replay; the
      recall knob here is the codebook size plus the rerank stage.
    - **search**: per-query lookup tables join the probed list ids into
      one broadcast; only codes in probed lists are scored, map-side;
      the partial top-k bounds the single rank exchange.  At 100 TB the
      scan touches ``m`` ints per vector for ~nprobe/n_lists of the
      corpus, and full vectors only for the ≈N·|queries| reranked rows.
    """
    assigned, probed = _ivf_lists(
        corpus, queries, n_lists, nprobe, id_col, vec_col,
        assign_kernel=assign_kernel,
    )
    codes, books = pq_encode(
        corpus, m=m, k=pq_k, iterations=iterations,
        id_col=id_col, vec_col=vec_col, dim=dim, init_stride=init_stride,
        kernel=encode_kernel,
    )
    coded = codes.select(F.col(id_col).alias("corpus_id"), "codes").join(
        assigned, "corpus_id"
    )
    tables = _adc_tables(books, queries, id_col, "query_id", vec_col, m, dim)
    probe_tables = probed.join(tables, "query_id")
    scored = (
        coded.join(F.broadcast(probe_tables), "list_id")
        .select("query_id", "corpus_id", _adc_dist().alias("adc_dist"))
    )
    return _rank_adc_then_rerank(
        scored, k, rerank, corpus, queries, id_col, "query_id", vec_col
    )


def lsh_candidate_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """DISTINCT cross-set LSH candidate pairs ``(id_a, id_b)`` — the
    scale-path candidate source for ``margin_mine_pairs`` and
    ``semantic_decontaminate`` when neither side broadcasts.

    Same random-hyperplane tables as ``lsh_bucket_topk`` (deterministic
    LCG planes, so results replay across runs and engines); one
    equi-join shuffle on (table, bucket) instead of an A×B grid.  A
    pair at angle θ survives with probability
    1 − (1 − (1−θ/π)^n_planes)^n_tables — raise ``n_tables`` for
    recall, ``n_planes`` for precision.  Pairs found by several tables
    dedupe BEFORE being returned, so downstream scoring touches each
    pair once.  Output carries ids only (no vectors): the consumer
    re-joins vectors itself, keeping this exchange as narrow as the id
    type.

    MEASURED RECALL CURVE (planted near-dup pairs, 1M × 1M vectors,
    dim 32, 20 planes — the ``scale_check`` margin rehearsal, re-run
    each round as ``margin_recall_by_tables``):

        n_tables   candidates   planted recall   wall
        2          12.6M        0.892            47 s
        4          27.1M        0.992            67 s
        8          54.2M        1.000            146 s

    The default ``n_tables=4`` is the knee: the first setting clearing
    0.95 recall, at ~2× the candidate mass of 2 tables (candidate
    count, and therefore mine cost, grows roughly linearly in tables
    while the recall gap closes geometrically).  Drop to 2 for cheap
    high-volume mining where ~0.9 recall suffices; 8 buys exactness at
    double the exchange.
    """
    tables = _plane_tables(dim, n_planes, n_tables)
    a = _bucketed(
        side_a.select(
            F.col(id_col).alias("id_a"), _as_double(vec_col).alias("_av")
        ),
        "id_a",
        "_av",
        tables,
    )
    b = _bucketed(
        side_b.select(
            F.col(id_col).alias("id_b"), _as_double(vec_col).alias("_bv")
        ),
        "id_b",
        "_bv",
        tables,
    )
    cand = a.join(b, ["_tbl", "bucket"]).select("id_a", "id_b")
    if n_tables > 1:
        cand = cand.dropDuplicates(["id_a", "id_b"])
    return cand


def semantic_decontaminate(
    df: DataFrame,
    benchmark_pred: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every candidate
    whose cosine to ANY benchmark vector reaches ``threshold`` — the
    semantic sibling of ``corpus.decontaminate`` (n-gram overlap
    misses paraphrased eval leakage; embedding cosine catches it).

    Returns one row per candidate (benchmark rows are excluded — they
    are eval data): ``(id, max_bench_cosine, contaminated)``.

    Plan shape: the benchmark slice is eval-set-sized by construction,
    so it BROADCASTS; each candidate scores against it map-side (JVM
    higher-order-function dots, no UDF) and a map-side-combined
    ``max`` folds |bench| scores to one row per candidate before the
    only shuffle.  A left join (not a cross join) keeps candidates
    alive when the benchmark slice is empty — max cosine 0.0, nothing
    flagged.  Compute is |cand|·|bench| dot products, inherent to the
    exact guarantee.

    For a benchmark too big to broadcast, pass ``candidates``: a frame
    of DISTINCT pairs ``(id_a = candidate id, id_b = benchmark id)``
    (e.g. from ``lsh_candidate_pairs``).  Only those pairs are scored
    — two shuffle equi-joins ship each vector once per pair, nothing
    broadcasts — and the fold LEFT-anchors on the full candidate set,
    so a candidate with no surviving pair still gets its row
    (``max_bench_cosine`` 0.0, unflagged).  The guarantee weakens from
    exact to the candidate source's recall: a missed pair above
    ``threshold`` goes unflagged, the standard ANN trade.

    Reference parity: extension operator; composes with ``embed.embed``
    for the text → embedding → decontaminate path.
    """
    cand = df.filter(~benchmark_pred).select(
        F.col(id_col), _as_double(vec_col).alias("_cv")
    )
    if candidates is None:
        bench = df.filter(benchmark_pred).select(
            _as_double(vec_col).alias("_bv")
        )
        scored = cand.join(F.broadcast(bench), F.lit(True), "left")
    else:
        pairs = candidates.select(
            F.col("id_a").alias(id_col), F.col("id_b").alias("_bid")
        )
        bench_kv = df.filter(benchmark_pred).select(
            F.col(id_col).alias("_bid"), _as_double(vec_col).alias("_bv")
        )
        scored = cand.join(pairs, id_col, "left").join(
            bench_kv, "_bid", "left"
        )
    cos = F.when(
        F.col("_bv").isNotNull(), cosine(F.col("_cv"), F.col("_bv"))
    )
    per = scored.groupBy(id_col).agg(
        F.coalesce(F.max(cos), F.lit(0.0)).alias("max_bench_cosine")
    )
    return per.select(
        id_col,
        "max_bench_cosine",
        (F.col("max_bench_cosine") >= threshold).alias("contaminated"),
    )


def margin_mine_pairs(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    candidates: DataFrame | None = None,
    exclude_same_id: bool = False,
) -> DataFrame:
    """Margin-based nearest-pair mining between two embedding sets
    (Artetxe & Schwenk 2019 "ratio" margin — the standard bitext /
    cross-snapshot alignment miner):

        margin(x, y) = cos(x, y) /
            ( (mean cos of x's k-NN in B + mean cos of y's k-NN in A) / 2 )

    Absolute cosine is a poor pair score in high dimensions (hubness:
    some vectors are close to EVERYTHING); dividing by the two local
    neighborhood densities promotes pairs that are mutually special.
    Returns each A-side row's best B-side candidate with
    ``margin >= threshold``: ``(id_a, id_b, cosine, margin)``.

    Plan: the scoring step yields each A id's top-k B rows with the
    A density (``_fwd`` rows) plus B-side partial rows; then
    two exchanges.  Keyed by the B id, one window ranks the partials
    first and the B density is their top-k mean in rank order; keyed
    by the A id, the argmax window.

    ``candidates=None`` (default) scores the exact A×B grid in
    ``_cosine_block_topk``: B is collected and broadcast once, A stays
    partitioned (spread first only when one split holds more than ~1 s
    of kernel work), and the kernel emits the A rows' exact top-k and the
    per-partition B partials in one pass — right up to ~1e6 rows on
    the broadcast side.  Above that, pass ``candidates``: a frame
    of DISTINCT pairs ``(id_a, id_b)`` (e.g. from
    ``lsh_candidate_pairs`` or an ``ivf_topk_indexed`` probe) — only
    those pairs are scored, once, via two shuffle equi-joins, nothing
    broadcasts, an A-keyed window ranks them JVM-side, and the SAME
    margin fold runs downstream (it is candidate-source-agnostic).
    The k-NN densities are then means over each id's candidate
    neighbors, which equals the exact margin whenever the candidate
    source covers each side's true top-k; below that recall, margins
    skew high (sparser neighborhoods look more special) — the standard
    ANN trade, tunable via n_tables.

    A and B are distinct sets by contract, so same-id pairs are
    legitimate candidates (in bitext / cross-snapshot alignment the
    aligned row usually IS the best pair).  Set
    ``exclude_same_id=True`` only when self-mining one corpus against
    itself, where the identity pair is a degenerate cosine-1 match.
    """
    if k < 1:
        raise ValueError("margin_mine_pairs: k must be >= 1")
    a = side_a.select(
        F.col(id_col).alias("_ida"), _as_double(vec_col).alias("_va")
    )
    b = side_b.select(
        F.col(id_col).alias("_idb"), _as_double(vec_col).alias("_vb")
    )
    if candidates is None:
        # A is the partitioned side — spread it if it arrived as one
        # small file — and B broadcasts into the block kernel: the A
        # rows carry their exact forward top-k and A density, the B
        # partials ride along (``_fwd`` false) to the B-keyed window
        scored = _block_topk(
            a, b, k, exclude_same_id, forward=True
        ).withColumnsRenamed({"_pid": "_ida", "_bid": "_idb"})
    else:
        grid = (
            candidates.select(
                F.col("id_a").alias("_ida"), F.col("id_b").alias("_idb")
            )
            .join(a, "_ida")
            .join(b, "_idb")
        )
        if exclude_same_id:
            grid = grid.filter(F.col("_ida") != F.col("_idb"))
        scored = _candidate_topk(grid, k)
    # B-keyed: the partials rank first, and the B density is the mean
    # of the top k in rank order; the forward rows read it
    wb = Window.partitionBy("_idb").orderBy(
        F.col("_fwd").asc(), F.col("cosine").desc(), F.col("_ida").asc()
    )
    in_top = ~F.col("_fwd") & (F.row_number().over(wb) <= k)
    cand = (
        scored.withColumn("_inb", in_top)
        .withColumn(
            "_db",
            F.avg(F.when(F.col("_inb"), F.col("cosine"))).over(
                wb.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .filter(F.col("_fwd"))
        .withColumn(
            # ANSI guard + semantics: margin is only meaningful with a
            # positive neighborhood density (all-negative cosines mean
            # the sides share no direction at all) — NULL drops the row
            "margin",
            F.when(
                (F.col("_da") + F.col("_db")) > 0,
                F.col("cosine")
                / ((F.col("_da") + F.col("_db")) / F.lit(2.0)),
            ),
        )
    )
    # A-keyed: the argmax
    w = Window.partitionBy("_ida").orderBy(
        F.col("margin").desc(), F.col("_idb").asc()
    )
    return (
        cand.withColumn("_r", F.row_number().over(w))
        .filter(
            (F.col("_r") == 1)
            & (F.col("margin") >= F.lit(float(threshold)))
        )
        .select(
            F.col("_ida").alias("id_a"),
            F.col("_idb").alias("id_b"),
            F.round("cosine", 6).alias("cosine"),
            F.round("margin", 6).alias("margin"),
        )
    )
