#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "queries_cold": {...}, "sf": <sf>}

The headline set is the ENTIRE query registry minus a documented
exclusion list (`EXCLUDED`, reason per key) — nothing slow can hide
off-bench.  Each query is fully materialized via the noop writer (no
driver collect, no result-size bias).

Two numbers per query:

- ``queries`` (the headline metric, continuous with earlier rounds):
  the MEDIAN of $SPARK_GRAFT_BENCH_REPEATS runs (default 3) after one
  untimed-for-this-metric first execution — single runs on a shared VM
  swing ±40%, and the first execution pays one-off plan compilation a
  resident engine would not.
- ``queries_cold``: that FIRST execution, taken immediately after
  `spark.catalog.clearCache()` with an asserted-empty storage registry
  — no cacheManager plan-fragment reuse from sibling repeats, so
  operators that persist() internally are not flattered.  It includes
  one-off plan compilation; treat it as an upper bound.

``--cold`` (or SPARK_GRAFT_BENCH_COLD=1) makes EVERY repeat cold
(clearCache + registry assert between runs) and reports the cold
median as the headline metric with ``"mode": "cold"`` — the
apples-to-apples protocol when chasing a regression on an operator
that caches internally.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from moz_datapipeline_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

#: registry keys NOT benched, each with the reason it is excluded —
#: everything else in `queries()` is benched automatically, so a new
#: query joins the bench the moment it is registered.
EXCLUDED = {
    # a tiny two-batch ingest is dominated by store round-trips and
    # component rounds (fixed job overhead, not operator throughput) —
    # its scale behavior is the dedup rehearsal's job (scale_check.py)
    "incremental_dedup": "store round-trip dominated; see scale_check",
    # same shape: bootstrap + admit against a fresh on-disk signature
    # store per call — store I/O, not operator throughput
    "ingest_dedup_batch": "store round-trip dominated; see scale_check",
}

# SESSION-AGING CAVEAT (measured r12): a query's in-bench number can
# exceed its quiet-host solo number by 2-3x when it runs late in the
# ~370-query session — JVM/GC state accumulated over hundreds of jobs,
# not the operator's plan.  bootstrap_ci is the canonical case: 12.7 s
# in-bench vs 4.7-5.1 s solo cold (cache cleared, quiet host, same
# code).  Cross-round comparisons of individual late-session keys
# should re-measure solo before declaring a regression.


def _storage_registry_empty(spark) -> bool:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos) == 0


def leaked_blocks(spark) -> dict:
    """The leak definition: ``{rdd id: name}`` of every MATERIALIZED
    storage-registry entry that is not a locally-checkpointed RDD.

    localCheckpoint / ``checkpoint_sever`` blocks legitimately outlive
    the query that made them (the result plan reads them) and are only
    reclaimed by the ContextCleaner on GC — those are exempt.  Anything
    else still materialized between queries is a ``persist()``/
    ``cache()`` an operator failed to release."""
    jsc = spark.sparkContext._jsc
    infos = {
        i.id(): i.name() for i in jsc.sc().getRDDStorageInfo()
    }
    legit = set()
    for rid, jrdd in dict(jsc.getPersistentRDDs()).items():
        try:
            if bool(jrdd.rdd().isLocallyCheckpointed()):
                legit.add(rid)
        except Exception:
            pass
    return {rid: nm for rid, nm in infos.items() if rid not in legit}


def clear_storage(spark, name: str) -> None:
    """Drop cached blocks so the next run is timed against a clean
    storage pool, and FAIL LOUD on operator cache leaks
    (``leaked_blocks``).

    Leaks are checked BEFORE any cleanup — the r12 verdict found the
    old assert vacuous because it unpersisted everything first.
    Exempt localCheckpoint remnants are unpersisted here as cleanup; a
    leak fails the bench after cleanup, so a --cold rerun of the
    offender alone still starts clean."""
    leaked = leaked_blocks(spark)
    spark.catalog.clearCache()
    for jrdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).values():
        jrdd.unpersist(True)
    assert not leaked, (
        f"cached RDDs leaked into the bench before {name!r}: "
        f"{leaked} — an operator is not releasing its cache"
    )
    assert _storage_registry_empty(spark), (
        f"storage registry not empty before {name!r} even after "
        "explicit unpersist"
    )


def main() -> None:
    # Benchmarks measure the PRODUCTION hash path (xxhash64); the
    # driver's correctness gate runs the same queries without this flag
    # and gets the md5 portable mode its DuckDB oracle replays.
    # test_dedup_fastpath pins that the two modes agree on verified
    # outputs.  Set here, NOT at import: importing bench from a test
    # must not flip hash mode for the rest of that pytest session
    # (it silently broke hash-dependent oracle-parity tests that ran
    # after a `import bench`).
    os.environ.setdefault("SPARK_GRAFT_PORTABLE_HASH", "0")
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    cold_mode = "--cold" in sys.argv[1:] or os.environ.get(
        "SPARK_GRAFT_BENCH_COLD", "0"
    ) == "1"
    spark = get_spark(app_name="moz_datapipeline_spark_bench")

    # warm up the JVM + parquet footers once, outside the timed region
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    repeats = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3")))
    qs = entry_mod.queries()
    for k in EXCLUDED:
        assert k in qs, f"EXCLUDED key {k!r} is not in the registry"
    headline = [k for k in qs if k not in EXCLUDED]

    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    for name in headline:
        fn = qs[name]

        def _one_run() -> float:
            t0 = time.perf_counter()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        def _clear() -> None:
            clear_storage(spark, name)

        _clear()
        cold[name] = round(_one_run(), 3)
        runs = []
        for _ in range(repeats):
            if cold_mode:
                _clear()
            runs.append(_one_run())
        timings[name] = round(statistics.median(runs), 3)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold": cold,
        "cold_total": round(sum(cold.values()), 3),
        "mode": "cold" if cold_mode else "warm",
        "excluded": EXCLUDED,
        "sf": sf,
        "repeats": repeats,
    }
    line = json.dumps(payload)
    # the driver captures a bounded TAIL of stdout; with 200 queries the
    # one-line object can overrun that window and truncate from the
    # head, leaving an unparseable fragment.  Persist the full object to
    # a sibling file (the durable artifact), then print the full line
    # LAST so any head-truncation cuts earlier output, not the JSON.
    out_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_out.json"
    )
    with open(out_path, "w") as f:
        f.write(line + "\n")
    print(f"bench_out: {out_path}")
    print(line)


if __name__ == "__main__":
    main()
