"""Spans and Spark counters for the traced run.

Spans are recorded in the benchmark's own code, around calls into the
engine: pass → query → build / exec for the query mixes, and
flow → stage → call / write for the road flow.  Each leaf span (build,
exec, call, write) runs under ``setJobGroup(span_id)``; when it ends the
tracer reads that group's jobs from ``statusTracker()``, their stages
from the app status store, and the SQL executions started inside the
span from the SQL status store (plan-graph node names and node
metrics).  All of these work with ``spark.ui.enabled=false``.  Spans
stay in memory until ``write`` is called at the end of the run.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

LEAF_KINDS = ("build", "exec", "call", "write")
PYTHON_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInPandasWithState", "PythonMapInArrow",
    "ArrowEvalPythonUDTF", "BatchEvalPythonUDTF", "FlatMapGroupsInArrow",
    "FlatMapCoGroupsInArrow",
}
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def metric_value(text: str) -> float:
    """Parse a SQL node metric as the status store renders it:
    ``"10,000"``, ``"1.3 s"``, ``"160.1 KiB"``, or the per-task form
    ``"total (min, med, max ...)\\n312.5 KiB (78.1 KiB, ...)"``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    head = text.split(" (", 1)[0].strip().replace(",", "")
    parts = head.split()
    value = float(parts[0])
    if len(parts) > 1:
        value *= _SIZE.get(parts[1], _TIME.get(parts[1], 1.0))
    return value


class Tracer:
    """Records spans; with ``enabled`` it also tags jobs and reads counters."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._last_exec_id = -1
        if enabled:
            self._mark_sql_seen()

    @contextmanager
    def span(self, kind: str, name: str, **attrs):
        sp = {
            "id": f"s{len(self.spans)}",
            "parent": self._stack[-1]["id"] if self._stack else None,
            "kind": kind,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        leaf = self.enabled and kind in LEAF_KINDS
        if leaf:
            self.spark.sparkContext.setJobGroup(sp["id"], f"{kind}:{name}")
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if leaf:
                sp["counts"] = self._counts(sp["id"])

    def open(self, kind: str, name: str, **attrs):
        """A span closed later by ``close`` (for spans that end in code the
        benchmark does not call, such as the write after a pipeline stage)."""
        cm = self.span(kind, name, **attrs)
        cm.__enter__()
        return cm

    @staticmethod
    def close(cm) -> None:
        cm.__exit__(None, None, None)

    # -- Spark counters --------------------------------------------------

    def _mark_sql_seen(self) -> None:
        sq = self.spark._jsparkSession.sharedState().statusStore()
        n = sq.executionsCount()
        if n:
            self._last_exec_id = sq.executionsList(n - 1, 1).apply(0).executionId()

    def _counts(self, group: str) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        c = defaultdict(float)
        tracker = sc.statusTracker()
        stage_ids = set()
        for jid in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stage_ids.update(info.stageIds)
        store = jsc.statusStore()
        for sid in stage_ids:
            sd = store.lastStageAttempt(sid)
            if sd.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            c["stages"] += 1
            c["tasks"] += sd.numCompleteTasks()
            c["executor_run_s"] += sd.executorRunTime() / 1e3
            c["gc_s"] += sd.jvmGcTime() / 1e3
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            c["input_bytes"] += sd.inputBytes()
        self._sql_counts(c)
        return dict(c)

    def _sql_counts(self, c: dict) -> None:
        """Plan-shape and Python-boundary counts of every SQL execution
        started since the previous leaf span."""
        sq = self.spark._jsparkSession.sharedState().statusStore()
        n = sq.executionsCount()
        recent = sq.executionsList(max(0, n - 500), 500)
        for i in range(recent.size()):
            eid = recent.apply(i).executionId()
            if eid <= self._last_exec_id:
                continue
            self._last_exec_id = eid
            c["sql_execs"] += 1
            values = sq.executionMetrics(eid)
            nodes = sq.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                name = node.name()
                if name == "Exchange":
                    c["exchanges"] += 1
                elif name == "SortMergeJoin":
                    c["smj"] += 1
                elif name == "BroadcastHashJoin":
                    c["bhj"] += 1
                elif name in PYTHON_NODES:
                    c["python_nodes"] += 1
                    if name == "FlatMapGroupsInPandas":
                        c["grouped_map_nodes"] += 1
                    metrics = node.metrics().iterator()
                    while metrics.hasNext():
                        m = metrics.next()
                        opt = values.get(m.accumulatorId())
                        if opt.isEmpty():
                            continue
                        v = metric_value(opt.get())
                        if m.name() == "time to run Python workers":
                            c["python_worker_s"] += v
                        elif m.name() == "data returned from Python workers":
                            c["python_out_bytes"] += v
                        elif m.name() == "number of output rows":
                            c["python_out_rows"] += v

    # -- reporting -------------------------------------------------------

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def self_time(self, sp: dict) -> float:
        """The span's duration minus what its children cover."""
        dur = sp["end"] - sp["start"]
        return dur - sum(c["end"] - c["start"] for c in self.children(sp))

    def under(self, root: dict) -> list[dict]:
        """``root`` and every span below it."""
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(self.children(sp))
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")
