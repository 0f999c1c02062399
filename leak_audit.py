#!/usr/bin/env python
"""One-session audit: run every registered query (noop sink) and report
which leave MATERIALIZED non-localCheckpoint RDDs in the storage
registry afterwards (``bench.leaked_blocks``, the blocks
bench.clear_storage fails on).
Usage: python leak_audit.py [startswith-filter...]
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
os.environ.setdefault("SPARK_GRAFT_PORTABLE_HASH", "0")

import __spark_entry__ as entry_mod
from bench import leaked_blocks
from moz_datapipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

spark = get_spark(app_name="leak_audit")
jsc = spark.sparkContext._jsc
qs = entry_mod.queries()
names = list(qs)
if len(sys.argv) > 1:
    names = [n for n in names if any(n.startswith(a) for a in sys.argv[1:])]

def clean():
    spark.catalog.clearCache()
    for jrdd in dict(jsc.getPersistentRDDs()).values():
        jrdd.unpersist(True)

bad = []
for name in names:
    clean()
    try:
        qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    except Exception as e:
        print(f"ERR  {name}: {type(e).__name__}: {str(e)[:120]}", flush=True)
        continue
    lk = leaked_blocks(spark)
    if lk:
        first = next(iter(lk.values())) or ""
        print(f"LEAK {name}: {len(lk)} blocks: {first[:90]!r}", flush=True)
        bad.append(name)
clean()
print("TOTAL_LEAKING:", len(bad))
print(" ".join(bad))
