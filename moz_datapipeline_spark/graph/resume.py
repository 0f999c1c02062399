"""The scenario fan-out shared by the graph engines, with cross-run
resume (G8 parity).

The reference's EAUL runner restarts from per-way results already in
S3 (script-eaul/README.md:63-97 — results upload per way; a rerun
skips ways whose output object exists).  The Spark-native equivalent:
scenario results append to a parquet checkpoint directory, and a rerun
anti-joins the scenario list against the keys already present, so only
unfinished scenarios recompute.

Atomicity note: a parquet append commits through Spark's staging
(`_temporary`) protocol — a run killed mid-write publishes nothing,
so the directory only ever contains complete scenario rows from fully
committed batches.  Resume granularity is therefore the invocation,
matching the reference's per-upload granularity when callers shard
long fan-outs into multiple calls.

The caller owns the directory lifecycle: results are keyed only by the
scenario columns, so reusing a checkpoint across different input
graphs/traffic would serve stale rows — delete the directory when
inputs change.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def fan_out(
    spark: SparkSession,
    scenarios_pdf: pd.DataFrame,
    scenario_schema: str,
    keys: Sequence[str],
    batches_fn: Callable[..., Iterator[pd.DataFrame]],
    ctx: tuple,
    out_schema: str,
    checkpoint_dir: str | None,
) -> DataFrame:
    """Run ``batches_fn(batches, *ctx)`` over every scenario row of
    ``scenarios_pdf`` and return the ``out_schema`` rows it yields.

    The shape every scenario engine shares:

    - ``scenarios_pdf`` becomes a JVM local relation (``LocalTableScan``)
      scanned as min(rows, defaultParallelism) slices: one kernel task
      per task slot, nothing shuffled before the kernel and no Python
      worker in the scan;
    - ``ctx`` (graph, benchmark, caches) ships once per executor as one
      explicit broadcast, not re-pickled into every task's closure —
      at national graph sizes closure shipping re-serializes megabytes
      per task;
    - one ``mapInPandas`` pass per slice runs the kernel, so it runs
      once per call.

    With ``checkpoint_dir``, scenarios whose ``keys`` already have rows
    there are skipped, the new rows are appended, and ALL rows are
    returned; with ``None`` nothing is read or written.
    """
    scenarios = spark.createDataFrame(scenarios_pdf, schema=scenario_schema)
    ctx_bv = spark.sparkContext.broadcast(ctx)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return batches_fn(batches, *ctx_bv.value)

    existing = None
    todo = scenarios
    if checkpoint_dir is not None:
        from pyspark.errors import AnalysisException

        try:
            existing = spark.read.parquet(checkpoint_dir)
            todo = scenarios.join(
                existing.select(*keys).distinct(), list(keys), "left_anti"
            )
        except AnalysisException:  # first run: no checkpoint directory yet
            pass
    result = todo.mapInPandas(kernel, out_schema)
    if checkpoint_dir is None:
        return result
    if existing is not None:
        # a drifted checkpoint must fail HERE, deterministically —
        # otherwise parquet schema inference picks whichever file it
        # lists first and the mismatch surfaces (or not) at random.
        # Compare (name, type) pairs, not just names: a same-named
        # column written as a different type creates a mixed-schema
        # directory whose read-back fails nondeterministically too.
        have = sorted((f.name, f.dataType.simpleString()) for f in existing.schema)
        want = sorted((f.name, f.dataType.simpleString()) for f in result.schema)
        if have != want:
            raise ValueError(
                f"checkpoint {checkpoint_dir} schema {have} does not match "
                f"result schema {want}; delete the directory or fix the "
                "writer that produced it"
            )
    prior_files = set(existing.inputFiles()) if existing is not None else set()
    result.write.mode("append").parquet(checkpoint_dir)
    if existing is None:
        # cold start: the directory holds exactly this run's rows
        return spark.read.parquet(checkpoint_dir)
    # warm resume: existing ∪ just-appended files only — a directory
    # LISTING (metadata) finds the new part files, but the data rescan
    # is O(new rows) instead of O(all results) per resume cycle.
    # ``existing``'s FileIndex was fixed at its read, so re-executing it
    # never double-counts the appended files.
    new_files = [
        f
        for f in spark.read.parquet(checkpoint_dir).inputFiles()
        if f not in prior_files
    ]
    if not new_files:
        return existing
    fresh = spark.read.schema(existing.schema).parquet(*new_files)
    return existing.unionByName(fresh)
