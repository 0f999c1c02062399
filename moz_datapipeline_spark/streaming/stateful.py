"""Custom stateful streaming operators via applyInPandasWithState.

The engine's streaming-dedup: drop events whose content fingerprint was
already seen within the keyed state (e.g. per-source exactly-once-ish
document ingestion). State = the set of seen fingerprints per key, with
a processing-time TTL so state is bounded.

Batch DataFrames get the equivalent semantics from a window row_number
(``dedup_batch``); the streaming variant keeps state across micro-batches.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from moz_datapipeline_spark.sources.readers import read_parquet

OUT_SCHEMA = "key string, fingerprint long, n_new long"
STATE_SCHEMA = "seen array<long>"


def _dedup_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Emit one row per first-seen fingerprint within the key's state."""
    seen = set(state.get[0]) if state.exists else set()
    new_fps: list[int] = []
    for pdf in batches:
        for fp in pdf["fingerprint"]:
            fp = int(fp)
            if fp not in seen:
                seen.add(fp)
                new_fps.append(fp)
    state.update((list(seen),))
    if new_fps:
        yield pd.DataFrame(
            {"key": key[0], "fingerprint": new_fps, "n_new": 1}
        )


def dedup_stream(events: DataFrame, key_col: str = "source") -> DataFrame:
    """Streaming dedup: first occurrence of each (key, fingerprint) passes.

    ``events`` must be a streaming DataFrame with ``fingerprint`` (long)
    and the key column. State lives per key; use a reasonably-granular
    key (e.g. source shard) so state partitions evenly.
    """
    return (
        events.selectExpr(f"{key_col} as key", "fingerprint")
        .groupBy("key")
        .applyInPandasWithState(
            _dedup_fn,
            outputStructType=OUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            # NoTimeout: a processing-time TTL would schedule timeout-only
            # micro-batches forever (processAllAvailable never settles in
            # tests). Production deployments bounding state should prefer
            # dropDuplicatesWithinWatermark or an event-time TTL design.
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_batch(events: DataFrame, key_col: str = "source") -> DataFrame:
    """Batch twin of ``dedup_stream`` (first row per key+fingerprint)."""
    w = Window.partitionBy(key_col, "fingerprint").orderBy(F.monotonically_increasing_id())
    return (
        events.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


FUNNEL_OUT_SCHEMA = "user_id long, stages_completed int, last_ts long"
FUNNEL_STATE_SCHEMA = "stage_idx int, t long"


def _funnel_fn(stages: tuple[str, ...]):
    """Closure factory: per-user ordered-funnel progression.

    State = (number of stages completed, timestamp of the event that
    completed the latest stage).  Each batch's events replay in
    event-time order; an event advances the funnel when it matches the
    NEXT stage and is strictly after the current stage's timestamp —
    the greedy earliest-advance walk, which on in-order data equals the
    batch ``funnel_stages`` min-ts fold exactly.
    """

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            idx, t = state.get
            idx = int(idx)
            t = None if t is None or t < 0 else int(t)
        else:
            idx, t = 0, None
        events: list[tuple[int, str]] = []
        for pdf in batches:
            events.extend(
                (int(ts), et) for ts, et in zip(pdf["ts"], pdf["event_type"])
            )
        for ts, et in sorted(events):
            if idx >= len(stages):
                break
            if et == stages[idx] and (t is None or ts > t):
                t = ts
                idx += 1
        state.update((idx, -1 if t is None else t))
        yield pd.DataFrame(
            [{"user_id": key[0], "stages_completed": idx, "last_ts": t}]
        )

    return fn


def funnel_stream(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
) -> DataFrame:
    """Streaming ordered funnel: per-user stage progression maintained
    across micro-batches in keyed state (update mode — each batch emits
    the user's current progression row).

    Exact under per-user in-order delivery; with out-of-order arrival
    the walk is greedy within each batch, so events later than a
    stage's recorded timestamp still advance the funnel but earlier
    late stragglers cannot rewind it — the standard streaming-funnel
    approximation.  The batch twin ``analytics.funnel_stages`` is the
    exact replay semantics (``test_skew_and_stateful`` pins equality on
    in-order data).
    """
    return (
        events.selectExpr(f"{user_col} as user_id", "ts", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _funnel_fn(stages),
            outputStructType=FUNNEL_OUT_SCHEMA,
            stateStructType=FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def ingest_dedup_stream(
    docs_stream: DataFrame,
    store_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
    portable_hash: bool = False,
    quality_gate=None,
    **dedup_kwargs,
):
    """Continuous corpus ingestion: each micro-batch is admitted through
    ``operators.incremental.incremental_dedup`` against the shared
    signature store, and survivors append to a parquet corpus sink.

    ``quality_gate`` (optional ``DataFrame -> DataFrame``) filters the
    batch BEFORE admission — the CCNet-style composition: drop
    low-quality documents first (e.g. an ``lm_score`` bucket filter or
    a heuristic predicate) so rejected docs never cost signature
    computation and never enter the store.

    ``foreachBatch`` is the right Spark idiom here — the store
    read-then-append inside the admission step is a batch transaction
    per micro-batch, which plain streaming sinks cannot express.
    Checkpointing makes ingestion restartable: a replayed micro-batch
    re-admits documents whose signatures are already stored, each one
    matches itself, and zero duplicates reach the sink — idempotence
    comes from the dedup semantics, not sink bookkeeping.

    Returns the started StreamingQuery.
    """
    from moz_datapipeline_spark.operators.incremental import incremental_dedup

    def admit(batch_df: DataFrame, _batch_id: int) -> None:
        if quality_gate is not None:
            batch_df = quality_gate(batch_df)
        survivors = incremental_dedup(
            batch_df.sparkSession,
            batch_df,
            store_dir,
            text_col=text_col,
            id_col=id_col,
            threshold=threshold,
            portable_hash=portable_hash,
            **dedup_kwargs,
        )
        survivors.write.mode("append").parquet(out_dir)

    return (
        docs_stream.writeStream.foreachBatch(admit)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hll_ingest_stream(
    events_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    group_cols: list[str] | None = None,
    p: int = 10,
):
    """Continuous cardinality tracking: each micro-batch's HLL
    registers (``operators.sketches.hll_registers``) APPEND to a
    parquet register store; estimates merge-on-read.

    Why append-only works: HLL merge is max-per-bucket — associative,
    commutative, IDEMPOTENT — so a micro-batch replayed after a crash
    appends duplicate register rows that change nothing once
    ``hll_store_estimate`` folds the store with ``max``.  Exactly-once
    accounting comes from the sketch algebra, not sink bookkeeping
    (the same argument as ``ingest_dedup_stream``'s self-match
    idempotence).  Per batch the append is ≤ |groups|·2^p rows — the
    store grows with batch COUNT, not data volume; run
    ``compact_hll_store`` periodically to fold history back to one
    register row per (group, bucket).

    Returns the started StreamingQuery.
    """
    from moz_datapipeline_spark.operators.sketches import hll_registers

    def upd(batch_df: DataFrame, _batch_id: int) -> None:
        regs = hll_registers(batch_df, key_col, group_cols, p)
        regs.coalesce(1).write.mode("append").parquet(store_dir)

    return (
        events_stream.writeStream.foreachBatch(upd)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def hll_store_estimate(
    spark,
    store_dir: str,
    group_cols: list[str] | None = None,
    p: int = 10,
) -> DataFrame:
    """Merge-on-read estimate over an ``hll_ingest_stream`` store:
    fold appended register rows with per-bucket max, then the standard
    estimator.  One scan of the (small) register store."""
    from moz_datapipeline_spark.operators.sketches import hll_estimate

    gc = group_cols or []
    regs = (
        read_parquet(spark, store_dir)
        .groupBy(*gc, "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    return hll_estimate(regs, gc, p)


def compact_hll_store(
    spark,
    store_dir: str,
    group_cols: list[str] | None = None,
) -> None:
    """Fold append debris to one register row per (group, bucket) and
    rewrite the store.  NOT transactional (same caveat as
    ``incremental.compact_signature_store``): run while no ingest is
    active.  Estimates before and after are identical — max-folding is
    exactly what the reader does anyway."""
    from moz_datapipeline_spark.operators.incremental import _swap_dirs

    gc = group_cols or []
    merged = (
        read_parquet(spark, store_dir)
        .groupBy(*gc, "bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    tmp = f"{store_dir}_compacting"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    _swap_dirs(spark, tmp, store_dir)


def _cms_batch_sketch(
    batch_df: DataFrame, key_col: str, depth: int, width: int
) -> DataFrame:
    """One micro-batch's count-min rows ``(d, bucket, c)`` — the same
    portable-md5 bucket family as ``analytics.cms_heavy_hitters`` so
    batch and streaming sketches are interchangeable state."""
    from moz_datapipeline_spark.operators.dedup import _token_hash

    key = F.col(key_col).cast("string")
    rows = batch_df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(
                            _token_hash(
                                F.concat(F.lit(f"cms{d}:"), key), True
                            ),
                            F.lit(width),
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("s")
    ).select("s.d", "s.bucket")
    return rows.groupBy("d", "bucket").agg(F.count(F.lit(1)).alias("c"))


def cms_ingest_stream(
    events_stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    key_col: str,
    depth: int = 4,
    width: int = 256,
):
    """Continuous frequency tracking: each micro-batch's count-min
    rows APPEND to a parquet store, TAGGED with the batch id.

    CMS merge is cell-wise SUM — associative and commutative but NOT
    idempotent, so the HLL store's "replay changes nothing under max"
    argument does not transfer.  Exactly-once here comes from the
    batch-id key instead: a batch's sketch rows are a deterministic
    function of its input, so a crash-replayed batch appends
    byte-identical ``(batch_id, d, bucket, c)`` rows, and the reader
    folds ``max`` WITHIN (batch_id, d, bucket) — collapsing replays —
    before summing ACROSS batch ids.  Per batch the append is
    ≤ depth·width rows; the store grows with batch count, not data
    volume (``compact_cms_store`` merges the files; rows keep their
    batch ids so the replay algebra survives compaction).

    Returns the started StreamingQuery.
    """

    def upd(batch_df: DataFrame, batch_id: int) -> None:
        sk = _cms_batch_sketch(batch_df, key_col, depth, width)
        sk.withColumn("batch_id", F.lit(int(batch_id))).coalesce(
            1
        ).write.mode("append").parquet(store_dir)

    return (
        events_stream.writeStream.foreachBatch(upd)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def cms_store_estimate(
    spark,
    store_dir: str,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Point-query frequency estimates over a ``cms_ingest_stream``
    store: ``(key_col, cms_estimate)`` for every row of ``keys``.

    Merge-on-read in two folds: max within (batch_id, d, bucket) —
    the replay dedup — then sum across batches per cell; the estimate
    is the classic min over depth rows.  One scan of the (small)
    sketch store, one broadcast-sized join against the probes.
    """
    from moz_datapipeline_spark.operators.dedup import _token_hash

    cells = (
        read_parquet(spark, store_dir)
        .groupBy("batch_id", "d", "bucket")
        .agg(F.max("c").alias("c"))
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    key = F.col(key_col).cast("string")
    probes = keys.select(
        key_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(
                            _token_hash(
                                F.concat(F.lit(f"cms{d}:"), key), True
                            ),
                            F.lit(width),
                        ).alias("bucket"),
                    )
                    for d in range(depth)
                ]
            )
        ).alias("p"),
    ).select(key_col, "p.d", "p.bucket")
    # a never-written cell is a 0 counter, not a missing observation:
    # coalesce PER CELL before the min, else F.min's NULL-skipping
    # would take the min over only the colliding cells and inflate
    # estimates for absent keys (CMS is min over ALL depth rows)
    return (
        probes.join(cells, ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("cms_estimate")
        )
    )


def compact_cms_store(spark, store_dir: str) -> None:
    """Merge append debris into one file per store.  Rows are folded
    max-within-(batch_id, cell) — the same dedup the reader applies,
    so estimates before and after are identical — but batch ids are
    PRESERVED: folding across batches would break the replay-dedup
    algebra if the last checkpointed batch ever re-appends.  NOT
    transactional; run while no ingest is active."""
    from moz_datapipeline_spark.operators.incremental import _swap_dirs

    merged = (
        read_parquet(spark, store_dir)
        .groupBy("batch_id", "d", "bucket")
        .agg(F.max("c").alias("c"))
    )
    tmp = f"{store_dir}_compacting"
    merged.coalesce(1).write.mode("overwrite").parquet(tmp)
    _swap_dirs(spark, tmp, store_dir)


def dedup_stream_watermarked(
    events: DataFrame,
    keys: tuple[str, ...] = ("source", "fingerprint"),
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """BOUNDED-state streaming dedup via the native
    ``dropDuplicatesWithinWatermark``: the first arrival of each key
    tuple passes, later duplicates arriving within the watermark
    horizon drop, and the key's state EVICTS once the watermark passes
    it — the production default ``dedup_stream``'s docstring points
    to (that operator keeps exact unbounded state per key; this one
    trades "a duplicate separated by more than the horizon is
    re-admitted" for state bounded by the horizon's arrival volume).

    The trade is the right one for crawl/event ingest at 100 TB:
    dedup there exists to kill bursts (retries, double-sends,
    re-crawls), which are horizon-local by nature; the full-history
    exact dedup is the batch layer's job (``dedup_exact`` /
    ``incremental_dedup``).
    """
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


ANOMALY_OUT_SCHEMA = (
    "grp string, ts long, value double, zscore double, is_anomaly boolean"
)
ANOMALY_STATE_SCHEMA = "n long, mean double, m2 double"


def _anomaly_fn(threshold: float, min_n: int):
    """Closure factory: per-group Welford z-score anomaly flags.

    State = the running (n, mean, M2) Welford accumulator.  Each event
    (replayed in event-time order within the batch) is scored against
    the PRE-UPDATE state — an anomaly must not dilute the baseline it
    is judged by — then folded in.  Events before ``min_n`` history
    get NULL z / False (no basis to judge), mirroring
    ``rolling_zscore_anomalies``' warm-up rule.
    """

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        if state.exists:
            n, mean, m2 = state.get
            n, mean, m2 = int(n), float(mean), float(m2)
        else:
            n, mean, m2 = 0, 0.0, 0.0
        rows: list[tuple[int, float]] = []
        for pdf in batches:
            rows.extend(
                (int(t), float(v)) for t, v in zip(pdf["ts"], pdf["value"])
            )
        out = []
        for ts, v in sorted(rows):
            z = None
            flag = False
            if n >= min_n:
                var = m2 / (n - 1) if n > 1 else 0.0
                if var > 0:
                    z = (v - mean) / math.sqrt(var)
                    flag = abs(z) > threshold
            # Welford fold (numerically stable incremental moments)
            n += 1
            delta = v - mean
            mean += delta / n
            m2 += delta * (v - mean)
            out.append(
                {
                    "grp": key[0],
                    "ts": ts,
                    "value": v,
                    "zscore": None if z is None else round(z, 6),
                    "is_anomaly": flag,
                }
            )
        state.update((n, mean, m2))
        yield pd.DataFrame(
            out,
            columns=["grp", "ts", "value", "zscore", "is_anomaly"],
        )

    return fn


def anomaly_stream(
    events: DataFrame,
    group_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    threshold: float = 3.0,
    min_n: int = 10,
) -> DataFrame:
    """Streaming per-group anomaly detector with BOUNDED state: the
    Welford (n, mean, M2) accumulator per group — three doubles, O(1)
    per group regardless of stream length (the windowed alternative
    buffers rows; this never does).  Each event is z-scored against
    the history BEFORE it and flagged at ``|z| > threshold``; the
    first ``min_n`` events per group warm up silently.

    Exact under per-group in-order delivery (events sort by event time
    within each micro-batch; a straggler older than an already-folded
    event joins the fold late — the standard streaming approximation,
    same contract as ``funnel_stream``).  The batch replay of the same
    fold is the unit-test twin.

    NULL policy: events with NULL ``ts`` or NULL/NaN ``value`` are
    DROPPED before the fold — a NULL value arrives as NaN in the
    Arrow batch and would permanently poison the (mean, M2) state
    (every later z-score NULL, detection silently dead for the
    group), and a NULL ts crashes the event-time sort.  Same filter
    the batch percentile/rollup operators apply to the events table.
    """
    return (
        events.filter(
            F.col(group_col).isNotNull()
            & F.col(ts_col).isNotNull()
            & F.col(value_col).isNotNull()
            & ~F.isnan(F.col(value_col).cast("double"))
        )
        .selectExpr(
            f"CAST({group_col} AS STRING) AS grp",
            f"CAST({ts_col} AS LONG) AS ts",
            f"CAST({value_col} AS DOUBLE) AS value",
        )
        .groupBy("grp")
        .applyInPandasWithState(
            _anomaly_fn(float(threshold), int(min_n)),
            outputStructType=ANOMALY_OUT_SCHEMA,
            stateStructType=ANOMALY_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
