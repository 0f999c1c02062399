"""Materialization and block lifetime for the package's operators.

The lifetime rule (the one place it is stated):

- An operator that materializes an intermediate its result plan reads
  uses ``checkpoint_sever`` (or a plain ``localCheckpoint``), never
  ``persist()``/``cache()``: a persisted frame the result reads can
  never be released by the operator, and the bench fails on it.
- The operator returns ``owned(result, *intermediates)``.  The result
  owns those blocks: ``result.unpersist(blocking)`` releases the
  result's own blocks and every part's, and calls each part's own
  ``unpersist`` — so ownership chains (``decile_lift`` owns
  ``global_rank``'s frame, which owns its range checkpoint).  The
  caller's ``blocking`` flag is passed through.
- A caller that never unpersists leaves only localCheckpoint blocks,
  which the ContextCleaner reclaims on GC and the bench exempts.
- A frame DERIVED from an owned result (``.filter``, ``.select``) is a
  new object without the hook: an operator returning one wraps it
  again (``owned(cands.filter(...), cands)``).
- A loop replaces each round with ``advance(next_round, *spent)``.  A
  released frame cannot be recomputed (a severed plan has no lineage),
  so a frame — a spent round, a loop's static (``sever_release``), an
  owned result (``unpersist``) — is released only once every consumer
  has materialized its own copy.

Why ``checkpoint_sever`` and not ``localCheckpoint(eager=True)`` in
loops: Spark's ``LogicalRDD`` PRESERVES the checkpointed plan's
estimated ``Statistics`` (``originStats``).  Size-only estimation
multiplies children's ``sizeInBytes`` at joins, so an iterative loop
whose round joins TWO frames derived from the previous round's
checkpoint SQUARES the estimate every round: the BigInt's bit length
doubles per round, and from ~15 rounds on the driver burns its time in
``BigInteger.multiply`` inside stats estimation — measured 2.5× wall
growth per round on 3-row frames, 0.5 s rounds becoming 120 s by round
19, with constant plans, constant RDD lineage, and an idle DAG
scheduler.

``checkpoint_sever`` materializes eagerly, then rebuilds the frame from
the checkpointed internal RDD WITHOUT the origin statistics.
Planner-time stats fall back to the default size, so driver CPU per
round becomes flat.  The cost: a severed frame joined to a small side
is planned as a sort-merge join, and AQE demotes it to a broadcast only
after the severed side's shuffle stage has run — one extra stage job
per such join (``compaction_plan`` with its scan severed ran 14 jobs
instead of 12).  A one-shot frame that meets a join therefore keeps its
statistics (plain ``localCheckpoint``); severing pays off in loops.

The fast path uses ``SparkSession.internalCreateDataFrame`` (Scala
``private[sql]``, public in bytecode — stable across the pinned Spark
line, zero-copy, no Python round-trip).  If that internal surface ever
moves, the fallback routes rows through ``createDataFrame(df.rdd,
schema)`` — same semantics, one Python serialization pass.  Both paths
carry the handle ``sever_release`` frees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_sever(df: DataFrame) -> DataFrame:
    """Eager local checkpoint with origin-statistics severing — use
    instead of ``localCheckpoint(eager=True)`` inside iterative loops
    that JOIN frames derived from the previous round's checkpoint.

    ``SPARK_GRAFT_SEVER_PASSTHROUGH=1`` turns this into the identity —
    a plan-INSPECTION knob only (``capture_plan.py`` uses it so
    ``.explain`` shows the real computation instead of a scan of
    severed blocks); never set it for execution."""
    import os as _os

    if _os.environ.get("SPARK_GRAFT_SEVER_PASSTHROUGH") == "1":
        return df
    cp = df.localCheckpoint(eager=True)
    jdf = cp._jdf
    spark = cp.sparkSession
    # handle for sever_release: the PERSISTED rdd is the one inside
    # cp's LogicalRDD (toRdd() below is a derived wrapper over it)
    source = jdf.queryExecution().analyzed().rdd()
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        jds = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        out = _CDF(jds, spark)
    except Exception:
        # internal API moved: public rebuild (adds a Python pass)
        out = spark.createDataFrame(cp.rdd, cp.schema)
    out._severed_source_jrdd = source
    return out


def sever_release(df: DataFrame, blocking: bool = False) -> None:
    """Unpersist the checkpointed blocks behind a ``checkpoint_sever``
    frame, or behind a plain ``df.localCheckpoint(...)`` frame; any
    other frame is left alone.  AFTER THIS THE FRAME CANNOT BE
    RECOMPUTED (see the module docstring)."""
    jrdd = getattr(df, "_severed_source_jrdd", None)
    if jrdd is not None:
        try:
            jrdd.unpersist(blocking)
        except Exception:
            pass
        return
    # plain localCheckpoint frame: its analyzed plan is a LogicalRDD
    # over the persisted internal RDD
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        if bool(rdd.isLocallyCheckpointed()):
            rdd.unpersist(blocking)
    except Exception:
        pass


def advance(nxt: DataFrame, *spent: DataFrame) -> DataFrame:
    """Materialize ``nxt`` (``checkpoint_sever``), THEN release each
    ``spent`` frame — none when the passthrough leaves ``nxt`` lazy."""
    out = checkpoint_sever(nxt)
    if out is not nxt:
        for frame in spent:
            sever_release(frame)
    return out


def owned(result: DataFrame, *parts: DataFrame) -> DataFrame:
    """Return ``result``, owning its own checkpoint blocks and ``parts``:
    its ``unpersist(blocking)`` runs the plain unpersist, then
    ``sever_release`` on ``result`` and on each part, then each part's
    own ``unpersist`` (so an owned part releases what it owns)."""
    plain_unpersist = result.unpersist

    def unpersist(blocking: bool = False) -> DataFrame:
        plain_unpersist(blocking)
        sever_release(result, blocking)
        for part in parts:
            sever_release(part, blocking)
            part.unpersist(blocking)
        return result

    result.unpersist = unpersist
    return result
