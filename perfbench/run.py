#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: a data-bound registry query mix
and the reference road flow.

    python3 perfbench/run.py --workload <query_scan|road_flow>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One client issues one operation at a time
on ``local[<half the cpus>]``.  A run sets up five times, each set-up
being session start + input load (the first launches the JVM and, for
the road flow, generates the inputs; the others restart the
SparkContext in it and load them again).  An untimed warm-up then
checks every output (and, for a query mix, runs two more passes), and
whole passes run until ``--seconds`` have elapsed and at least two
untraced passes have run.  The last stdout line is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  A traced run alternates untraced and traced passes and
writes its spans, a self-time table and the tracing overhead under
``.perfbench/out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: execution, shuffle and Python boundaries dominate these (ROADMAP item 3)
SCAN_QUERIES = ["margin_mining", "record_linkage", "item_similarity"]
#: a byte-for-byte copy of the sf 0.01 test-data tables
SCAN_DIR = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = {
    "query_scan": ("queries", SCAN_QUERIES),
    "road_flow": ("flow", None),
}
SETUPS = 5
#: plain passes of a query mix after its oracle checks, before timing
WARM_PASSES = 2
#: untraced passes a run measures at least, whatever ``--seconds`` says
MIN_PASSES = 2
#: a run stops starting passes after this long, whatever ``--seconds`` says
HARD_STOP_S = 140.0

OPERATOR_KEYS = ["jobs", "stages", "tasks", "sql_execs"]
EXEC_KEYS = [
    "jobs", "stages", "tasks", "executor_run_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "exchanges", "smj", "bhj",
    "python_nodes", "python_worker_s", "python_out_bytes",
]
SPAN_KINDS = ["pass", "query", "build", "exec", "flow", "stage", "call", "write"]
FLOW_STAGES = {  # plans.<metric> ← pipeline stages
    "preparation_s": ("preparation", "traffic"),
    "indicators_s": ("indicators",),
    "criticality_s": ("criticality_scores",),
    "eaul_s": ("eaul_scores",),
    "merge_s": ("merge",),
}


def _cpus() -> int:
    """Spark's task slots: half the CPUs.  The JIT compiler, the GC and the
    Python workers keep the other half busy; with a slot per CPU they
    compete with the tasks, and the host's CPU steal lands on every pass."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _dur(sp: dict) -> float:
    return sp["end"] - sp["start"]


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


class Failures:
    def __init__(self):
        self.attempted = 0
        self.items: list[str] = []

    def run(self, what: str, fn, *args):
        """Run one operation; record and swallow its failure."""
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:
            self.items.append(f"{what}: {traceback.format_exc(limit=3)}")
            return None

    def fail(self, what: str) -> None:
        self.items.append(what)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class QueryMix:
    """Registry queries, each built then run through the noop sink."""

    def __init__(self, keys: list[str], sf_dir: str):
        import __spark_entry__

        self.registry = __spark_entry__.queries()
        self.keys = keys
        self.sf_dir = sf_dir

    def prepare(self, spark, first: bool) -> dict:
        import pyarrow.parquet as pq

        from moz_datapipeline_spark.session import load_tables

        tables = load_tables(spark, self.sf_dir)
        rows = {n: pq.read_metadata(f"{self.sf_dir}/{n}.parquet").num_rows for n in tables}
        return {"sf": float(os.path.basename(self.sf_dir)[2:]), "queries": len(self.keys), "rows": rows}

    def warmup(self, spark, tracer, fails: Failures) -> dict:
        """Check every query against its DuckDB oracle with the oracle
        parity test, then run plain passes: the JIT is still compiling
        after the checks, and the first pass after them runs ~25 % slower
        than the third."""
        from tests.test_oracle_parity import test_query_matches_oracle

        for key in self.keys:
            fails.run(key, test_query_matches_oracle, spark, self.sf_dir, key)
            self._release(spark, tracer, fails, key, None)
        for _ in range(WARM_PASSES):
            self.run_pass(spark, tracer, fails, self.keys)
        return {}

    def run_pass(self, spark, tracer, fails: Failures, order) -> list[float]:
        lat = []
        for key in order:
            with tracer.span("query", key) as q:
                t0 = time.perf_counter()
                ok = fails.run(key, self._one, tracer, key)
                if ok:
                    lat.append(time.perf_counter() - t0)
                self._release(spark, tracer, fails, key, q)
        return lat

    def _one(self, tracer, key: str) -> bool:
        spark = tracer.spark
        with tracer.span("build", key):
            df = self.registry[key](spark, self.sf_dir)
        with tracer.span("exec", key):
            df.write.format("noop").mode("overwrite").save()
        return True

    @staticmethod
    def _release(spark, tracer, fails: Failures, key: str, q) -> None:
        """Record the blocks a query left behind, then drop them under
        ``bench.clear_storage``'s leak rule (a leak counts as a failure)."""
        from bench import clear_storage

        if tracer.enabled and q is not None:
            infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
            q["retained_blocks"] = sum(i.numCachedPartitions() for i in infos)
            q["retained_mb"] = sum(i.memSize() + i.diskSize() for i in infos) / 2**20
        try:
            clear_storage(spark, key)
        except AssertionError as e:
            fails.fail(f"{key}: {e}")

    def layer_metrics(self, tracer, passes: list[dict], inputs: dict) -> dict:
        per_pass = []
        for p in passes:
            m = _engine_counts(tracer, p, "build", "exec")
            queries = [s for s in tracer.under(p) if s["kind"] == "query"]
            m["iterate.retained_blocks"] = sum(s.get("retained_blocks", 0) for s in queries)
            m["iterate.retained_mb"] = sum(s.get("retained_mb", 0.0) for s in queries)
            per_pass.append(m)
        return _median_dicts(per_pass)


class RoadFlow:
    """The reference flow on a seeded grid network, staged with checkpoints."""

    def __init__(self, seed: int, work: str):
        from perfbench import road

        self.road = road
        self.inputs = road.generate(seed)
        self.in_dir = os.path.join(work, "flow_in")
        self.ckpt = os.path.join(work, "flow_ckpt")
        self.sources = None

    def prepare(self, spark, first: bool) -> dict:
        """Write the generated sources on the first set-up; load them on
        every one."""
        if first:
            self.road.write_sources(self.inputs, self.in_dir)
        self.sources = self.road.read_sources(spark, self.in_dir)
        return self.inputs.properties()

    def warmup(self, spark, tracer, fails: Failures) -> dict:
        """Run the flow once and check its invariants."""
        results = fails.run("flow", self._flow, tracer)
        if results is None:
            return {}
        checked = fails.run("flow invariants", self.road.check, results, self.inputs)
        if checked is None:
            return {}
        bad, active = checked
        for b in bad:
            fails.fail(f"flow invariant: {b}")
        return {"active_way_share": active / len(self.inputs.ways)}

    def run_pass(self, spark, tracer, fails: Failures, order) -> list[float]:
        with tracer.span("flow", "road_flow") as flow:
            fails.run("flow", self._flow, tracer)
        # a lazy stage does no work of its own
        return [
            _dur(s) for s in tracer.children(flow)
            if s["kind"] == "stage" and s["name"] not in self.road.LAZY
        ]

    def _flow(self, tracer):
        open_spans = []

        def close_open():
            while open_spans:
                tracer.close(open_spans.pop())

        def wrap(name, fn):
            def staged(*dfs):
                close_open()  # the previous stage's write ended when this call began
                open_spans.append(tracer.open("stage", name))
                with tracer.span("call", name):
                    out = fn(*dfs)
                open_spans.append(tracer.open("write", name))
                return out
            return staged

        spark = tracer.spark
        try:
            pipe = self.road.build_pipeline(
                spark, self.sources, self.inputs.od_nodes, self.ckpt, wrap
            )
            return pipe.run()
        finally:
            close_open()

    def pair_costs_s(self, spark) -> float:
        edges = self.road.routing_edges(spark.read.parquet(os.path.join(self.ckpt, "preparation")))
        t0 = time.perf_counter()
        self.road.direct_pair_costs(edges, self.inputs.od_nodes)
        return time.perf_counter() - t0

    def layer_metrics(self, tracer, passes: list[dict], inputs: dict) -> dict:
        per_pass = []
        for p in passes:
            m = _engine_counts(tracer, p, "call", "write")
            spans = tracer.under(p)
            stages = {s["name"]: s for s in spans if s["kind"] == "stage"}
            for metric, names in FLOW_STAGES.items():
                m[f"plans.{metric}"] = sum(_dur(stages[n]) for n in names if n in stages)
            for short, stage in (("crit", "criticality_scores"), ("eaul", "eaul_scores")):
                kids = {s["kind"]: s for s in tracer.children(stages[stage])} if stage in stages else {}
                call, write = kids.get("call"), kids.get("write")
                c = write.get("counts", {}) if write else {}
                runs = c.get("grouped_map_nodes", 0.0)
                m[f"graph.{short}_call_s"] = _dur(call) if call else 0.0
                m[f"graph.{short}_fanout_s"] = _dur(write) if write else 0.0
                m[f"graph.{short}_python_s"] = c.get("python_worker_s", 0.0)
                # scenarios: rows one kernel run emits (one per active way,
                # one per way × upgrade)
                rows = c.get("python_out_rows", 0.0) / runs if runs else 0.0
                spent = m[f"graph.{short}_call_s"] + m[f"graph.{short}_fanout_s"]
                m[f"graph.{short}_scenarios_per_s"] = rows / spent if spent else 0.0
                if short == "crit":
                    m["graph.crit_kernel_runs"] = runs
                    m["graph.crit_active_ways"] = rows
                    m["graph.crit_pruned_share"] = 1.0 - rows / inputs["ways"]
                else:
                    m["graph.eaul_scenarios"] = rows
            m["graph.pair_costs_s"] = p["pair_costs_s"]
            m["sources.parquet_bytes_written"] = p["parquet_bytes"]
            per_pass.append(m)
        return _median_dicts(per_pass)


def _engine_counts(tracer, p: dict, op_kind: str, exec_kind: str) -> dict:
    """operators.* from the spans that call into the engine, exec.* from
    the spans where Spark runs what those calls returned."""
    m = {f"operators.{k}": 0.0 for k in ["build_s"] + OPERATOR_KEYS}
    m.update({f"exec.{k}": 0.0 for k in ["wall_s"] + EXEC_KEYS})
    m.update({f"self.{k}_s": 0.0 for k in SPAN_KINDS})
    for sp in tracer.under(p):
        m[f"self.{sp['kind']}_s"] += tracer.self_time(sp)
        counts = sp.get("counts", {})
        if sp["kind"] == op_kind:
            m["operators.build_s"] += _dur(sp)
            for k in OPERATOR_KEYS:
                m[f"operators.{k}"] += counts.get(k, 0.0)
        elif sp["kind"] == exec_kind:
            m["exec.wall_s"] += _dur(sp)
            for k in EXEC_KEYS:
                m[f"exec.{k}"] += counts.get(k, 0.0)
    return m


def _median_dicts(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]} if rows else {}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

def _percentiles(samples: list[float]) -> dict:
    """Median plus the highest of p75/p90/p95/p99 with ≥10 samples above it."""
    out = {"n": len(samples), "p50": statistics.median(samples)}
    s = sorted(samples)
    for q in (75, 90, 95, 99):
        if len(s) * (100 - q) / 100 >= 10:
            out["top"] = {f"p{q}": s[min(len(s) - 1, int(len(s) * q / 100))]}
    return out


def _start_spark(work: str):
    from moz_datapipeline_spark.session import get_spark

    cpus = _cpus()
    return get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "tmp"),
        },
    )


def _stop(spark) -> None:
    """Stop Spark, then its JVM (which exits when its stdin closes), and
    wait for the JVM to end."""
    from pyspark import SparkContext

    proc = SparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def _jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def run(args, bench: dict, work: str, out_dir: str) -> dict:
    import random

    from perfbench.spans import Tracer

    kind, keys = WORKLOADS[args.workload]
    wl = QueryMix(keys, SCAN_DIR) if kind == "queries" else RoadFlow(args.seed, work)
    fails = Failures()
    t_run = time.perf_counter()

    setups, spark, inputs = [], None, None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = _start_spark(work)
        t1 = time.perf_counter()
        inputs = wl.prepare(spark, first=(i == 0))
        t2 = time.perf_counter()
        setups.append({"session_s": t1 - t0, "inputs_s": t2 - t1, "total_s": t2 - t0})
    t0 = time.perf_counter()
    inputs.update(wl.warmup(spark, Tracer(spark, False), fails))
    warmup_s = time.perf_counter() - t0

    # the seed permutes query order within each pass
    rng = random.Random(args.seed)
    tracer = Tracer(spark, False)
    passes = []
    t_end = time.perf_counter() + args.seconds
    while True:
        # a traced run alternates untraced and traced passes, untraced first
        traced = bool(args.trace) and len(passes) % 2 == 1
        tracer.enabled = traced
        if traced:
            tracer._mark_sql_seen()
        order = rng.sample(keys, len(keys)) if keys else None
        steal0 = _steal_s()
        with tracer.span("pass", f"pass{len(passes)}", traced=traced) as p:
            p["ops"] = wl.run_pass(spark, tracer, fails, order)
        p["steal_s"] = _steal_s() - steal0
        if kind == "flow" and traced:
            p["pair_costs_s"] = wl.pair_costs_s(spark)
            p["parquet_bytes"] = _du(wl.ckpt)
        passes.append(p)
        now = time.perf_counter()
        enough = sum(not q["traced"] for q in passes) >= MIN_PASSES
        if (now >= t_end and enough) or now - t_run > HARD_STOP_S:
            break

    untraced = [p for p in passes if not p["traced"]]
    ops = [x for p in untraced for x in p["ops"]]
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": len(os.sched_getaffinity(0)),
        "task_slots": _cpus(),
        "inputs": inputs,
        "setups_s": setups,
        "warmup_s": warmup_s,
        "passes": [
            {"traced": p["traced"], "pass_s": _dur(p), "ops_s": p["ops"], "steal_s": p["steal_s"]}
            for p in passes
        ],
        "latency_s": _percentiles(ops) if ops else None,
        "failures": fails.items,
    }
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        metrics = wl.layer_metrics(tracer, traced, inputs)
        metrics["session.start_s"] = setups[0]["session_s"]
        metrics["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb(spark)
        # the first pass after the warm-up runs slower, so it is left out
        metrics["trace.overhead_s"] = (
            statistics.median(_dur(p) for p in traced) - statistics.median(_dur(p) for p in untraced[1:])
        )
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        metrics.update({k: 0.0 for k in units if k not in metrics})
        summary["self_time_s"] = {k: v for k, v in metrics.items() if k.startswith("self.")}
        summary["trace_overhead_s"] = metrics["trace.overhead_s"]
        tracer.write(os.path.join(out_dir, "spans.jsonl"))
        reported = {k: {"value": metrics[k], "unit": u} for k, u in units.items()}
    else:
        values = {
            "setup_s": statistics.median(x["total_s"] for x in setups),
            "pass_s": statistics.median(_dur(p) for p in untraced),
            "latency_p50_s": statistics.median(ops) if ops else float("nan"),
        }
        reported = {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]
        }
    _stop(spark)
    with open(os.path.join(out_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, default=str)
    print(json.dumps({k: summary[k] for k in ("inputs", "setups_s", "warmup_s", "latency_s")}, default=str))
    for item in fails.items:
        print(f"FAILED {item}", file=sys.stderr)
    return {
        "correct": not fails.items,
        "attempted": fails.attempted,
        "failed": len(fails.items),
        "metrics": reported,
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [
        p for p in ("__spark_entry__.py", "bench.py", "moz_datapipeline_spark", "BENCHMARK.json")
        if not os.path.exists(os.path.join(ROOT, p))
    ]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    # everything the run writes (flow inputs, checkpoints, Spark scratch, temp
    # files of Python and the JVM) stays inside the checkout
    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench", "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    try:
        result = run(args, bench, work, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
