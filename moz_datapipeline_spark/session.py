"""SparkSession factory.

Local testing runs a single JVM (``local[N]``); production targets a
multi-executor cluster reading ~100 TB. All scale-sensitive knobs are
centralized here so tests and production share one code path.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "moz_datapipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-aware defaults.

    Defaults are tuned so the same logical plans behave on ``local[32]``
    and on a 1000-executor cluster:

    - AQE on: runtime partition coalescing, skew-join splitting, and
      dynamic join-strategy switches replan around data skew that only
      shows up at scale.
    - Arrow on: every pandas-UDF kernel (routing, geometry) moves data
      in columnar batches, not pickled rows.
    - ``shuffle.partitions`` sized to cores locally; on a real cluster
      AQE coalesces from a high initial number, so leaving it larger is
      safe.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    # Long-lived-session JVM health (measured r12, see OPTIMIZATION_r12.md):
    # a resident engine compiles hundreds of distinct whole-stage-codegen
    # classes; the JDK 17 default -XX:ReservedCodeCacheSize=240m fills and
    # the JIT falls back to interpreted bytecode — late-session queries ran
    # ~2x their fresh-session time.  512 MB keeps every hot nmethod
    # compiled.  The ContextCleaner's periodic full GC (default 30min)
    # is what actually releases finished shuffles' files and broadcast
    # blocks between rare organic full GCs; 5min bounds that buildup.
    # Both parameterized for cluster deployments (set per driver/executor
    # sizing there).
    code_cache = os.environ.get("SPARK_GRAFT_CODE_CACHE", "512m")
    periodic_gc = os.environ.get("SPARK_GRAFT_PERIODIC_GC", "5min")
    # ExplicitGCInvokesConcurrent: the ContextCleaner's periodic
    # System.gc() only needs a reference-processing CYCLE to discover
    # dead shuffle/broadcast refs — a concurrent G1 cycle does that
    # without the default full STW collection pausing every in-flight
    # task for seconds each interval.
    driver_extra = os.environ.get(
        "SPARK_GRAFT_DRIVER_JAVA_OPTS",
        f"-XX:ReservedCodeCacheSize={code_cache} "
        "-XX:+ExplicitGCInvokesConcurrent",
    )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.extraJavaOptions", driver_extra)
        .config("spark.cleaner.periodicGC.interval", periodic_gc)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Load the driver's parquet tables from ``sf_dir`` as a dict of DataFrames."""
    if names is None:
        names = (
            "region",
            "nation",
            "customer",
            "supplier",
            "part",
            "orders",
            "lineitem",
            "events",
            "documents",
            "embeddings",
        )
    from moz_datapipeline_spark.sources.readers import read_parquet

    return {n: read_parquet(spark, f"{sf_dir}/{n}.parquet") for n in names}
