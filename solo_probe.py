#!/usr/bin/env python
"""Solo-time a list of queries with the bench methodology (noop sink,
clearCache between runs) in a fresh session. Usage:
    python solo_probe.py q1 q2 ... [--runs=N]
Prints one line per query (name, run times), then all of them as one
JSON object.  Job counts: ``job_count_probe.py``.
"""
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("SPARK_GRAFT_PORTABLE_HASH", "0")

import __spark_entry__ as entry_mod
from moz_datapipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

args = [a for a in sys.argv[1:] if not a.startswith("--")]
runs = 4
for a in sys.argv[1:]:
    if a.startswith("--runs="):
        runs = int(a.split("=")[1])

spark = get_spark(app_name="solo_probe")
spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()
qs = entry_mod.queries()
sc = spark.sparkContext

out = {}
for name in args:
    fn = qs[name]
    times = []
    for i in range(runs):
        spark.catalog.clearCache()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)
        sc.setJobDescription(f"{name} run{i}")
        t0 = time.perf_counter()
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
        times.append(round(time.perf_counter() - t0, 3))
    out[name] = times
    print(name, times, flush=True)
print(json.dumps(out))
