"""Incremental near-dup ingestion: dedup a NEW batch against a
PARTITIONED, append-only MinHash signature store.

The batch dedup path (``operators.dedup`` + ``operators.components``)
assumes the whole corpus is in hand.  A production training pipeline
ingests continuously, and re-running LSH over 100 TB per daily batch is
the one thing the bucketed design exists to avoid.  This module keeps a
parquet SIGNATURE store — a few hundred bytes per document instead of
its text — and admits a new batch in one pass:

1. signatures of the new batch (one hash-agg, ``minhash_signatures``);
2. LSH candidates new↔store and new↔new via the shared
   ``band_hashes`` bucketing (equi joins, AQE-skew-safe);
3. candidate verification with the MinHash Jaccard ESTIMATE (fraction
   of agreeing signature positions) — the store holds no text, so the
   estimator is the verification, the standard trade of
   signature-store dedup (vs exact shingle Jaccard in the batch path);
4. new docs that match the store are dropped; within-batch duplicate
   groups keep their smallest id (exact: connected components over the
   verified pairs, O(log batch) rounds);
5. survivors' signatures and band hashes APPEND to the store with the
   same (name, type) schema-drift guard as ``graph.resume``.

Store layout (the part that makes batch cost independent of corpus
size at the I/O layer)::

    store_dir/
      meta/          one-row parquet: num_hashes, bands, band_buckets,
                     sig_buckets — the bucketing contract every later
                     write/read must match (drift raises)
      bands/bb=K/    (doc_id, band_idx, band_hash) Hive-partitioned by
                     bb = pmod(xxhash64(band_hash), band_buckets)
      sigs/sb=K/     (doc_id, signature, num_hashes, bands)
                     Hive-partitioned by
                     sb = pmod(xxhash64(doc_id), sig_buckets)

An ingest batch first computes its OWN band-hash buckets (a bounded
distinct — at most ``band_buckets`` values), then reads the store's
``bands/`` with an ``isin`` over those literal bucket values: static
partition pruning, visible as ``PartitionFilters`` in the scan.  When
the batch's distinct band hashes fit under ``pushdown_limit`` the
literal hashes are ALSO pushed (``PushedFilters``), so parquet
row-group stats skip non-matching pages inside the surviving
partitions — appends and compaction sort by ``band_hash`` within files
precisely to keep those stats tight.  The candidate old-ids then prune
``sigs/`` the same way through their id buckets.  A small batch
against a petabyte store therefore scans only the matched buckets;
a large batch degrades gracefully to the full (warranted) scan.

Appends are written through a single task (``write_partitions=1``) so
each ingest adds at most one file per touched partition value;
``compact_signature_store`` merges the append debris back to one
sorted file per partition.

Reference parity: extension surface (the reference has no ingestion
loop); the checkpoint idiom mirrors its restartable S3 runs
(scripts/*/README "restart from partial results"), re-expressed as a
parquet store + anti-join skip like ``graph/resume.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from moz_datapipeline_spark.iterate import owned
from moz_datapipeline_spark.operators.components import connected_components
from moz_datapipeline_spark.operators.dedup import (
    band_hashes,
    minhash_signatures,
)

_SIGS = "sigs"
_BANDS = "bands"
_META = "meta"


def _estimate(col_a, col_b):
    """MinHash Jaccard estimate: fraction of agreeing positions."""
    return F.aggregate(
        F.zip_with(col_a, col_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.size(col_a)


def _band_bucket(band_hash_col, band_buckets: int):
    """Layout bucket of a band hash.  Always xxhash64 — bucketing is
    physical layout, not dedup semantics, so it need not follow the
    ``portable_hash`` switch; it only has to be identical between the
    writer and every later pruned read (the meta guard enforces the
    modulus)."""
    return F.pmod(
        F.xxhash64(band_hash_col.cast("string")), F.lit(band_buckets)
    ).cast("int")


def _id_bucket(id_col_expr, sig_buckets: int):
    return F.pmod(
        F.xxhash64(id_col_expr.cast("string")), F.lit(sig_buckets)
    ).cast("int")


def _read_meta(spark: SparkSession, store_dir: str) -> dict | None:
    from pyspark.errors import AnalysisException

    try:
        row = spark.read.parquet(f"{store_dir}/{_META}").head()
    except AnalysisException:
        return None
    return row.asDict() if row is not None else None


def _check_meta(
    meta: dict,
    store_dir: str,
    num_hashes: int,
    bands: int,
    band_buckets: int,
    sig_buckets: int,
) -> None:
    want = {
        "num_hashes": num_hashes,
        "bands": bands,
        "band_buckets": band_buckets,
        "sig_buckets": sig_buckets,
    }
    got = {k: meta.get(k) for k in want}
    if got != want:
        raise ValueError(
            f"signature store {store_dir} was written with parameters "
            f"{got}, call asked for {want}; matching buckets require "
            "identical parameters — rebuild the store or match the call"
        )


def _write_meta(
    spark: SparkSession,
    store_dir: str,
    num_hashes: int,
    bands: int,
    band_buckets: int,
    sig_buckets: int,
) -> None:
    spark.createDataFrame(
        [(num_hashes, bands, band_buckets, sig_buckets)],
        "num_hashes int, bands int, band_buckets int, sig_buckets int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{store_dir}/{_META}")


def _append_store(
    sigs_out: DataFrame,
    banded_out: DataFrame,
    store_dir: str,
    band_buckets: int,
    sig_buckets: int,
    id_col: str,
    write_partitions: int,
) -> None:
    """Append one batch's signatures + band hashes, sorted within the
    writing task so parquet row-group stats stay tight for the literal
    band-hash pushdown on later ingests."""
    (
        sigs_out.withColumn("sb", _id_bucket(F.col(id_col), sig_buckets))
        .coalesce(write_partitions)
        .sortWithinPartitions("sb", id_col)
        .write.mode("append")
        .partitionBy("sb")
        .parquet(f"{store_dir}/{_SIGS}")
    )
    (
        banded_out.withColumn("bb", _band_bucket(F.col("band_hash"), band_buckets))
        .coalesce(write_partitions)
        .sortWithinPartitions("bb", "band_hash")
        .write.mode("append")
        .partitionBy("bb")
        .parquet(f"{store_dir}/{_BANDS}")
    )


def bootstrap_signature_store(
    spark: SparkSession,
    docs: DataFrame,
    store_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingle_k: int = 3,
    bands: int = 8,
    portable_hash: bool = False,
    band_buckets: int = 256,
    sig_buckets: int = 64,
    write_partitions: int = 1,
) -> None:
    """Seed the store from an ALREADY-DEDUPED corpus: materialize its
    signatures without re-running any dedup (the migration path when an
    existing curated corpus becomes the prior for incremental ingest).
    The store's meta row records the bucketing parameters so later
    ``incremental_dedup`` calls are checked against them."""
    meta = _read_meta(spark, store_dir)
    if meta is not None:
        _check_meta(
            meta, store_dir, num_hashes, bands, band_buckets, sig_buckets
        )
    else:
        _write_meta(
            spark, store_dir, num_hashes, bands, band_buckets, sig_buckets
        )
    sigs = minhash_signatures(
        docs, text_col, id_col, num_hashes, shingle_k, portable_hash
    ).persist()
    sigs_out = sigs.select(
        id_col,
        "signature",
        F.lit(num_hashes).alias("num_hashes"),
        F.lit(bands).alias("bands"),
    )
    banded = band_hashes(sigs, bands, id_col, portable_hash)
    if sigs.limit(1).count() > 0:  # empty partitioned append corrupts layout
        _append_store(
            sigs_out, banded, store_dir, band_buckets, sig_buckets, id_col,
            write_partitions,
        )
    sigs.unpersist()


def compact_signature_store(
    spark: SparkSession,
    store_dir: str,
) -> dict:
    """Merge append debris: rewrite ``sigs/`` and ``bands/`` to ONE
    sorted file per partition value (each partition value lands in
    exactly one shuffle task, and each task writes one file per value
    it holds).  The rewrite goes to a sibling temp dir and swaps in via
    the Hadoop FileSystem API, so it works on any FS Spark can reach;
    the swap itself is not transactional — run compaction when no
    ingest is in flight (at scale, front the store with a table format
    if concurrent compaction is required).

    Returns ``{"sigs_files": n, "bands_files": m}`` — file counts
    after compaction.
    """
    counts = {}
    for sub, bucket_col, key in (
        (_SIGS, "sb", None),
        (_BANDS, "bb", "band_hash"),
    ):
        path = f"{store_dir}/{sub}"
        counts[f"{sub}_files"] = compact_partitioned_dir(
            spark, path, bucket_col, key
        )
    return counts


def compact_partitioned_dir(
    spark: SparkSession,
    path: str,
    bucket_col: str,
    sort_key: str | None = None,
    transform=None,
) -> int:
    """Rewrite a Hive-partitioned parquet dir to ONE sorted file per
    partition value, swapping in via the Hadoop FS rename.  Shared by
    the signature store, the IVF lists, and any other
    append-accumulating partitioned dataset.  ``transform`` (optional
    ``DataFrame -> DataFrame``) filters/edits rows during the rewrite —
    the hook retention and forget-pruning ride on.  Returns the
    post-compaction data-file count."""
    df = spark.read.parquet(path)
    if transform is not None:
        df = transform(df)
    key = sort_key if sort_key is not None else df.columns[0]
    tmp = f"{path}_compacting"
    (
        df.repartition(F.col(bucket_col))
        .sortWithinPartitions(bucket_col, key)
        .write.mode("overwrite")
        .partitionBy(bucket_col)
        .parquet(tmp)
    )
    _swap_dirs(spark, tmp, path)
    return _count_data_files(spark, path)


def _hadoop_fs(spark: SparkSession, path_str: str):
    jvm = spark.sparkContext._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, path, jvm


def _swap_dirs(spark: SparkSession, src: str, dst: str) -> None:
    fs, dst_path, jvm = _hadoop_fs(spark, dst)
    src_path = jvm.org.apache.hadoop.fs.Path(src)
    if fs.exists(dst_path):
        fs.delete(dst_path, True)
    if not fs.rename(src_path, dst_path):
        raise IOError(f"compaction swap failed: rename {src} -> {dst}")


def _count_data_files(spark: SparkSession, path_str: str) -> int:
    fs, path, jvm = _hadoop_fs(spark, path_str)
    it = fs.listFiles(path, True)
    n = 0
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if not name.startswith("_") and not name.startswith("."):
            n += 1
    return n


def prune_signature_store(
    spark: SparkSession,
    store_dir: str,
    remove_ids: DataFrame,
    id_col: str = "doc_id",
) -> dict:
    """Forget documents: rewrite ``sigs/`` and ``bands/`` without the
    given ids (right-to-be-forgotten / corpus re-curation — after this,
    a future near-dup of a removed document is ADMITTED again).

    This is a compaction-class BATCH operation — one O(store) rewrite
    per prune run, so collect forget requests and apply them in bulk,
    never per request.  The rewrite doubles as a compaction (one sorted
    file per partition).  Pruning every remaining document is refused:
    an empty partitioned dir cannot be re-read — drop the store dir and
    re-bootstrap instead.

    Returns ``{"removed": n, "sigs_files": ..., "bands_files": ...}``.
    """
    ids = remove_ids.select(F.col(id_col)).distinct().persist()
    sigs_path = f"{store_dir}/{_SIGS}"
    before = spark.read.parquet(sigs_path)
    n_before = before.count()
    n_removed = before.join(ids, id_col, "left_semi").count()
    if n_removed == n_before and n_before > 0:
        ids.unpersist()
        raise ValueError(
            "prune_signature_store: the prune set covers every stored "
            "document; an empty partitioned store cannot be re-read — "
            "delete the store directory and re-bootstrap instead"
        )

    def drop(df: DataFrame) -> DataFrame:
        return df.join(ids, id_col, "left_anti")

    out = {"removed": n_removed}
    out["sigs_files"] = compact_partitioned_dir(
        spark, sigs_path, "sb", None, transform=drop
    )
    out["bands_files"] = compact_partitioned_dir(
        spark, f"{store_dir}/{_BANDS}", "bb", "band_hash", transform=drop
    )
    ids.unpersist()
    return out


def signature_store_file_count(spark: SparkSession, store_dir: str) -> dict:
    """Data-file counts per sub-store — the observable the append
    small-file bound and compaction tests pin."""
    return {
        "sigs_files": _count_data_files(spark, f"{store_dir}/{_SIGS}"),
        "bands_files": _count_data_files(spark, f"{store_dir}/{_BANDS}"),
    }


def incremental_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    store_dir: str | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    shingle_k: int = 3,
    portable_hash: bool = False,
    band_buckets: int = 256,
    sig_buckets: int = 64,
    pushdown_limit: int = 4096,
    write_partitions: int = 1,
    debug_scans: dict | None = None,
) -> DataFrame:
    """Admit ``new_docs`` against the signature store at ``store_dir``;
    return the surviving rows (all original columns) and append their
    signatures to the store.

    ``store_dir=None`` runs the within-batch stage only (no
    persistence) — useful for tests and one-shot runs.  Empty-text
    documents produce no shingles, always survive, and are not stored
    (they cannot collide with anything).  Re-ingesting an already-
    admitted batch yields zero survivors: each document now matches its
    own stored signature — the idempotence a restartable ingest needs.
    (The returned frame captures the store's file listing from BEFORE
    this call's append, so materializing it later still reflects this
    ingest, not the post-append store.)

    Store reads are PRUNED to the batch's band buckets (and, for
    batches with at most ``pushdown_limit`` distinct band hashes, to
    the literal hashes — parquet row-group skipping); the signature
    verification scan prunes to the candidate old-ids' buckets.  The
    meta row carries the store's parameters; a call that disagrees
    raises instead of silently bucketing differently (same determinism
    contract as the ``graph.resume`` schema guard).

    ``debug_scans``, when a dict, receives the pruned store-scan
    DataFrames (``"bands_scan"``, ``"sigs_scan"``) so tests can assert
    ``PartitionFilters`` on the executed plans.
    """
    meta = None
    if store_dir is not None:
        meta = _read_meta(spark, store_dir)
        if meta is not None:
            _check_meta(
                meta, store_dir, num_hashes, bands, band_buckets, sig_buckets
            )

    sigs = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_k, portable_hash
    ).persist()
    banded_new = band_hashes(sigs, bands, id_col, portable_hash)

    # --- new ↔ store: any estimate >= threshold drops the new doc
    dup_vs_store = None
    cand = None
    if meta is not None:
        # the batch's distinct band hashes, bounded by pushdown_limit+1:
        # under the limit we push the literal hashes (row-group skipping
        # inside surviving partitions) AND derive the bucket list from
        # them; over it, fall back to the bucket-only distinct (bounded
        # by band_buckets values)
        hash_rows = (
            banded_new.select("band_hash")
            .distinct()
            .limit(pushdown_limit + 1)
            .collect()
        )
        stored_bands = spark.read.parquet(f"{store_dir}/{_BANDS}")
        if not hash_rows:
            # every document in the batch is empty text: no shingles, no
            # bands, nothing to match — skip the store stage entirely
            stored_bands = None
        elif len(hash_rows) <= pushdown_limit:
            lits = [r.band_hash for r in hash_rows]
            bbs = sorted(
                {
                    r.bb
                    for r in spark.createDataFrame(
                        [(v,) for v in lits], ["band_hash"]
                    )
                    .select(
                        _band_bucket(F.col("band_hash"), band_buckets).alias(
                            "bb"
                        )
                    )
                    .collect()
                }
            )
            stored_bands = stored_bands.filter(
                F.col("bb").isin(bbs) & F.col("band_hash").isin(lits)
            )
        else:
            bbs = [
                r.bb
                for r in banded_new.select(
                    _band_bucket(F.col("band_hash"), band_buckets).alias("bb")
                )
                .distinct()
                .collect()
            ]
            stored_bands = stored_bands.filter(F.col("bb").isin(bbs))
        if debug_scans is not None and stored_bands is not None:
            debug_scans["bands_scan"] = stored_bands
        cand = None if stored_bands is None else (
            banded_new.alias("n")
            .join(
                stored_bands.alias("o"),
                (F.col("n.band_idx") == F.col("o.band_idx"))
                & (F.col("n.band_hash") == F.col("o.band_hash")),
            )
            .select(
                F.col(f"n.{id_col}").alias("new_id"),
                F.col(f"o.{id_col}").alias("old_id"),
            )
            .distinct()
            .persist()
        )
        # candidate old-ids' buckets prune the signature scan the same
        # way (bounded collect: at most sig_buckets distinct values)
        sbs = (
            []
            if cand is None
            else [
                r.sb
                for r in cand.select(
                    _id_bucket(F.col("old_id"), sig_buckets).alias("sb")
                )
                .distinct()
                .collect()
            ]
        )
        if sbs:
            stored_sigs = spark.read.parquet(f"{store_dir}/{_SIGS}").filter(
                F.col("sb").isin(sbs)
            )
            if debug_scans is not None:
                debug_scans["sigs_scan"] = stored_sigs
            dup_vs_store = (
                cand.join(
                    sigs.select(
                        F.col(id_col).alias("new_id"),
                        F.col("signature").alias("_sn"),
                    ),
                    "new_id",
                )
                .join(
                    stored_sigs.select(
                        F.col(id_col).alias("old_id"),
                        F.col("signature").alias("_so"),
                    ),
                    "old_id",
                )
                .filter(_estimate(F.col("_sn"), F.col("_so")) >= threshold)
                .select("new_id")
                .distinct()
            )

    # --- new ↔ new: exact grouping, keep the smallest id per component
    a, b = banded_new.alias("a"), banded_new.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
        .join(
            sigs.select(F.col(id_col).alias("id_a"), F.col("signature").alias("_sa")),
            "id_a",
        )
        .join(
            sigs.select(F.col(id_col).alias("id_b"), F.col("signature").alias("_sb")),
            "id_b",
        )
        .filter(_estimate(F.col("_sa"), F.col("_sb")) >= threshold)
        .select("id_a", "id_b")
    )
    # component label IS the minimum id, so non-representatives are
    # exactly the rows whose label differs from their own id
    comp = connected_components(pairs)
    batch_losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )

    drops = batch_losers
    if dup_vs_store is not None:
        drops = drops.union(dup_vs_store.withColumnRenamed("new_id", id_col))
    if store_dir is not None:
        # freeze the drop-id set NOW, before the append below: the
        # append's commit refreshes the file index of any CACHED plan
        # that reads the store (recacheByPath), so a post-append
        # materialization of a live lineage would see the batch's own
        # just-appended signatures and self-drop every survivor.
        # localCheckpoint truncates the lineage to the materialized ids
        # (tiny: one column); the result's unpersist releases its blocks
        drops = drops.localCheckpoint(eager=True)
    survivors = new_docs.join(drops, id_col, "left_anti")

    if store_dir is not None:
        if meta is None:
            _write_meta(
                spark, store_dir, num_hashes, bands, band_buckets, sig_buckets
            )
        to_store = (
            survivors.select(id_col)
            .join(sigs, id_col)
            .select(
                id_col,
                "signature",
                F.lit(num_hashes).alias("num_hashes"),
                F.lit(bands).alias("bands"),
            )
        )
        if meta is not None:
            stored_schema = spark.read.parquet(f"{store_dir}/{_SIGS}").drop(
                "sb"
            ).schema
            have_schema = sorted(
                (f.name, f.dataType.simpleString()) for f in stored_schema
            )
            want_schema = sorted(
                (f.name, f.dataType.simpleString()) for f in to_store.schema
            )
            if have_schema != want_schema:
                raise ValueError(
                    f"signature store {store_dir} schema {have_schema} does "
                    f"not match writer schema {want_schema}; delete the "
                    "directory or fix the writer"
                )
        # materialize once: the count both drives the empty-append guard
        # (an empty partitioned write drops a bare file at the sub-store
        # root, corrupting the Hive layout) and feeds the two appends
        # from cache instead of recomputing the batch lineage twice
        to_store = to_store.persist()
        if to_store.count() > 0:
            banded_out = band_hashes(
                to_store.select(id_col, "signature"), bands, id_col,
                portable_hash,
            )
            _append_store(
                to_store, banded_out, store_dir, band_buckets, sig_buckets,
                id_col, write_partitions,
            )
        to_store.unpersist()
        # the append materialized the full lineage; release the batch
        # caches — a later materialization of `survivors` recomputes one
        # pass over the batch (never the store) without them
        sigs.unpersist()
        if cand is not None:
            cand.unpersist()
        # the drop ids are frozen; the batch caches are already released
        return owned(survivors, comp, drops)
    # no store: survivors read the persisted signatures lazily
    return owned(survivors, comp, sigs)
