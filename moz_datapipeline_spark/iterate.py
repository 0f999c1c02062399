"""Iteration hygiene for loops that re-join their own output.

``localCheckpoint(eager=True)`` truncates logical lineage AND RDD
lineage, but Spark's ``LogicalRDD`` PRESERVES the checkpointed plan's
estimated ``Statistics`` (``originStats``).  Size-only estimation
multiplies children's ``sizeInBytes`` at joins, so an iterative loop
whose round joins TWO frames derived from the previous round's
checkpoint SQUARES the estimate every round: the BigInt's bit length
doubles per round, and from ~15 rounds on the driver burns its time in
``BigInteger.multiply`` inside stats estimation — measured 2.5× wall
growth per round on 3-row frames, 0.5 s rounds becoming 120 s by round
19, with constant plans, constant RDD lineage, and an idle DAG
scheduler.

``checkpoint_sever`` is the loop-safe checkpoint: materialize eagerly,
then rebuild the frame from the checkpointed internal RDD WITHOUT the
origin statistics.  Planner-time stats fall back to the default size
(AQE still sees true runtime sizes at each exchange, so runtime join
strategy is unaffected); driver CPU per round becomes flat.

The fast path uses ``SparkSession.internalCreateDataFrame`` (Scala
``private[sql]``, public in bytecode — stable across the pinned Spark
line, zero-copy, no Python round-trip).  If that internal surface ever
moves, the fallback routes rows through ``createDataFrame(df.rdd,
schema)`` — same semantics, one Python serialization pass.
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
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF

        jdf = cp._jdf
        jrdd = jdf.queryExecution().toRdd()
        spark = cp.sparkSession
        jds = spark._jsparkSession.internalCreateDataFrame(
            jrdd, jdf.schema(), False
        )
        out = _CDF(jds, spark)
        # handle for sever_release: the PERSISTED rdd is the one inside
        # cp's LogicalRDD (toRdd() above is a derived wrapper over it)
        try:
            out._severed_source_jrdd = (
                jdf.queryExecution().analyzed().rdd()
            )
        except Exception:
            pass
        return out
    except Exception:
        # internal API moved: public rebuild (adds a Python pass)
        return cp.sparkSession.createDataFrame(cp.rdd, cp.schema)


def sever_result(df: DataFrame) -> DataFrame:
    """``checkpoint_sever`` for the frame an operator RETURNS: the
    caller's ``unpersist()`` also releases the severed blocks (via
    ``sever_release``), so a caller that unpersists its result is back
    at its storage baseline, exactly as with a persisted result — while
    a caller that never unpersists leaves only a localCheckpoint
    remnant, which the bench exempts."""
    out = checkpoint_sever(df)
    plain_unpersist = out.unpersist

    def unpersist(blocking: bool = False) -> DataFrame:
        sever_release(out)
        return plain_unpersist(blocking)

    out.unpersist = unpersist
    return out


def sever_release(df: DataFrame) -> None:
    """Unpersist the checkpointed blocks behind a ``checkpoint_sever``
    result.  AFTER THIS THE FRAME CANNOT BE RECOMPUTED (a severed plan
    has no lineage) — call only once every downstream consumer has
    materialized its own copy.  Loops with a strict nothing-stays-
    cached contract (``harmonic_centrality``) use this to release
    superseded rounds instead of waiting for the ContextCleaner;
    a frame from the fallback path is left alone (no handle)."""
    jrdd = getattr(df, "_severed_source_jrdd", None)
    if jrdd is not None:
        try:
            jrdd.unpersist(False)
        except Exception:
            pass
        return
    # plain df.localCheckpoint(...) frame (no sever handle): its
    # analyzed plan is a LogicalRDD over the persisted internal RDD —
    # release that directly so eager operators can honour the at-most-
    # one-cached-frame contract for BOTH checkpoint flavours
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        if bool(rdd.isLocallyCheckpointed()):
            rdd.unpersist(False)
    except Exception:
        pass
