"""Named-stage pipeline runner.

The reference orchestrates with three bash scripts whose only IR is
files in ./.tmp (SURVEY §3). Here a pipeline is a DAG of named stages,
each a ``DataFrame → DataFrame`` function; stages exchange lazy
DataFrames, so Catalyst fuses the whole pipeline and chooses shuffle
boundaries — a stage boundary is NOT a materialization unless the
stage is explicitly checkpointed.

Checkpointing (``materialize=True``) writes Parquet and re-reads it:
that is the engine's version of the reference's per-stage files and the
EAUL per-way S3 restartability (script-eaul/README.md:63-68) — resume =
skip stages whose output Parquet already exists.  A re-read (and a
resumed stage's read) costs no Spark job: ``sources.readers.read_parquet``
takes the schema from one footer on the driver, so only the write runs
jobs.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from moz_datapipeline_spark.sources.readers import read_parquet


@dataclass
class Stage:
    name: str
    fn: Callable[..., DataFrame]
    inputs: list[str] = field(default_factory=list)
    materialize: bool = False


class Pipeline:
    def __init__(self, spark: SparkSession, checkpoint_dir: str | None = None):
        self.spark = spark
        self.checkpoint_dir = checkpoint_dir
        self.stages: list[Stage] = []
        self.results: dict[str, DataFrame] = {}
        self.timings: dict[str, float] = {}

    def source(self, name: str, df: DataFrame) -> "Pipeline":
        self.results[name] = df
        return self

    def stage(
        self,
        name: str,
        fn: Callable[..., DataFrame],
        inputs: list[str],
        materialize: bool = False,
    ) -> "Pipeline":
        self.stages.append(Stage(name, fn, inputs, materialize))
        return self

    def run(self, resume: bool = False) -> dict[str, DataFrame]:
        for st in self.stages:
            t0 = time.perf_counter()
            path = (
                f"{self.checkpoint_dir}/{st.name}" if self.checkpoint_dir else None
            )
            if resume and st.materialize and path and self._exists(path):
                self.results[st.name] = read_parquet(self.spark, path)
            else:
                out = st.fn(*[self.results[i] for i in st.inputs])
                if st.materialize and path:
                    out.write.mode("overwrite").parquet(path)
                    out = read_parquet(self.spark, path)
                self.results[st.name] = out
            self.timings[st.name] = time.perf_counter() - t0
        return self.results

    def _exists(self, path: str) -> bool:
        jvm = self.spark.sparkContext._jvm
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(path)
        return p.getFileSystem(conf).exists(p)
