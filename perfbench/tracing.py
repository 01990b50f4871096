"""Traced operations: spans plus per-layer metrics read from Spark's
public status stores.

Each traced operation gets one ``setJobGroup`` per phase, so the status
tracker attributes every Spark job to the construct or the execute phase
that launched it, and every SQL execution carries that group's
description.  Per-operator metrics come from ``planGraph()`` joined with
``executionMetrics()`` (the AQE-final plan), and stage totals come from the
application status store.  ``io.table`` is wrapped for the traced run only.
Spans stay in memory; the caller writes them out when the run ends.
"""

from __future__ import annotations

import math
import sys
import time
from contextlib import contextmanager

# unit suffixes of Spark's formatted SQL metric values
_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
# (layer metric, SQL metric name) pairs summed over every plan node
_NODE_METRICS = (
    ("io.scan_s", "scan time"),
    ("io.scan_bytes", "size of files read"),
    ("io.files_read", "number of files read"),
    ("io.files_written", "number of written files"),
    ("io.write_bytes", "written output"),
    ("operators.agg_build_s", "time in aggregation build"),
    ("operators.sort_s", "sort time"),
    ("operators.broadcast_s", "time to build"),
    ("operators.broadcast_s", "time to collect"),
    ("operators.broadcast_s", "time to broadcast"),
    ("pyworker.run_s", "time to run Python workers"),
    ("pyworker.init_s", "time to start Python workers"),
    ("pyworker.init_s", "time to initialize Python workers"),
    ("pyworker.bytes_sent", "data sent to Python workers"),
    ("pyworker.bytes_returned", "data returned from Python workers"),
)
_WANTED = {metric for _, metric in _NODE_METRICS}
OP_METRICS = (
    "queries.construct_s", "queries.construct_share", "queries.construct_jobs",
    "queries.construct_sql_execs", "io.table_calls", "io.table_s", "io.scan_s",
    "io.scan_bytes", "io.files_read", "io.write_execs", "io.files_written",
    "io.write_bytes", "operators.execute_s", "operators.codegen_s",
    "operators.agg_build_s", "operators.sort_s", "operators.broadcast_s",
    "operators.shuffle_write_bytes", "operators.spill_bytes",
    "operators.exchanges", "operators.reused_exchanges", "sched.jobs",
    "sched.stages", "sched.tasks", "sched.task_s", "sched.gc_s", "sched.slot_util",
    "pyworker.nodes", "pyworker.run_s", "pyworker.init_s",
    "pyworker.bytes_sent", "pyworker.bytes_returned",
)


def metric_value(text: str) -> float:
    """Parse one formatted SQL metric value: ``"600,000"``, ``"10.3 MiB"``,
    ``"528 ms"`` or a per-task summary whose second line starts with the
    total (``"total (min, med, max ...)\\n1.4 s (278 ms, ...)"``)."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    parts = text.split(" (", 1)[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS[parts[1]] if len(parts) > 1 else value


def _floor_ms(t: float) -> float:
    return math.floor(t * 1000) / 1000


def _ceil_ms(t: float) -> float:
    return math.ceil(t * 1000) / 1000


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the union of its children's intervals (children
    may overlap, e.g. concurrent broadcast jobs)."""
    covered, end = 0.0, span["start"]
    for c in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(c["start"], end), min(c["end"], span["end"])
        if hi > lo:
            covered += hi - lo
            end = hi
    return span["end"] - span["start"] - covered


class Tracer:
    """Runs operations with spans and per-layer metrics.  Timestamps are
    epoch seconds; Python-side spans are widened to whole milliseconds so
    they share the resolution of the JVM's job times."""

    def __init__(self, spark, cores: int):
        self.spark, self.sc, self.cores = spark, spark.sparkContext, cores
        jvm = self.sc._jvm
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.spans: list[dict] = []
        self.op_metrics: list[dict[str, float]] = []
        self.full_walls: list[float] = []  # whole traced operation, store reads included
        self._parent: int | None = None
        self._op: int | None = None
        self._table_calls = 0
        self._table_s = 0.0

    # -- spans ---------------------------------------------------------
    def _span(self, name: str, start: float, end: float, parent, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({
            "id": sid, "name": name, "op": self._op, "parent": parent,
            "start": start, "end": end, **attrs,
        })
        return sid

    @contextmanager
    def _phase(self, name: str, parent):
        sid = self._span(name, _floor_ms(time.time()), 0.0, parent)
        outer, self._parent = self._parent, sid
        try:
            yield sid
        finally:
            self._parent = outer
            self.spans[sid]["end"] = _ceil_ms(time.time())

    def _wrap_table(self, table):
        tracer = self

        def traced_table(spark, sf_dir, name):
            t0 = time.time()
            try:
                return table(spark, sf_dir, name)
            finally:
                t1 = time.time()
                tracer._table_calls += 1
                tracer._table_s += t1 - t0
                tracer._span("io.table", _floor_ms(t0), _ceil_ms(t1), tracer._parent, table=name)

        return traced_table

    @contextmanager
    def patched_io_table(self):
        """Replace ``io.table`` in every loaded package module that bound it."""
        from experiments_datafusion_spark import io

        original = io.table
        wrapped = self._wrap_table(original)
        patched = [
            m for name, m in list(sys.modules.items())
            if name.startswith("experiments_datafusion_spark") and getattr(m, "table", None) is original
        ]
        for m in patched:
            m.table = wrapped
        try:
            yield
        finally:
            for m in patched:
                m.table = original

    # -- status stores ---------------------------------------------------
    def _executions(self, groups: tuple[str, str]) -> tuple[list[int], list[int]]:
        """Execution ids of one operation's two phases.  An execution's
        description is the job-group description active when it started;
        the operation's executions are the newest in the store."""
        found: tuple[list[int], list[int]] = ([], [])
        execs = self._sql_store.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.description() not in groups:
                break
            found[groups.index(e.description())].insert(0, e.executionId())
        return found

    def _jobs(self, group: str, parent: int) -> list[int]:
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        pspan = self.spans[parent]
        for jid in ids:
            jd = self._app_store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            start = sub.get().getTime() / 1000 if sub.isDefined() else pspan["start"]
            end = done.get().getTime() / 1000 if done.isDefined() else pspan["end"]
            self._span("spark.job", start, end, parent, job_id=jid)
        return ids

    def _stage_totals(self, job_ids: list[int], m: dict) -> None:
        seen = set()
        for jid in job_ids:
            for sid in self.sc.statusTracker().getJobInfo(jid).stageIds:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = self._app_store.stageAttempt(sid, 0, False, None, False, None)._1()
                except Exception:  # skipped stages never ran an attempt
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue
                m["sched.stages"] += 1
                m["sched.tasks"] += sd.numCompleteTasks()
                m["sched.task_s"] += sd.executorRunTime() / 1000
                m["sched.gc_s"] += sd.jvmGcTime() / 1000
                m["operators.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                m["operators.spill_bytes"] += sd.diskBytesSpilled()

    def _plan_totals(self, exec_ids: list[int], m: dict, *, operators: bool) -> None:
        for eid in exec_ids:
            graph = self._sql_store.planGraph(eid)
            values = self._sql_store.executionMetrics(eid)
            fan_out: dict[int, int] = {}
            for e in _iter(graph.edges()):
                fan_out[e.fromId()] = fan_out.get(e.fromId(), 0) + 1
            wrote = False
            for node in _iter(graph.allNodes()):
                named = {}
                for sm in _iter(node.metrics()):
                    if sm.name() not in _WANTED:
                        continue
                    v = values.get(sm.accumulatorId())
                    if v.isDefined():
                        named[sm.name()] = metric_value(v.get())
                if "number of written files" in named:
                    wrote = True
                if "data sent to Python workers" in named:
                    m["pyworker.nodes"] += 1
                for layer, metric in _NODE_METRICS:
                    if metric in named and (operators or layer.startswith("io.")):
                        m[layer] += named[metric]
                if operators and node.name() in ("Exchange", "BroadcastExchange"):
                    m["operators.exchanges"] += 1
                    # a reused exchange is drawn as an extra edge out of it
                    m["operators.reused_exchanges"] += max(0, fan_out.get(node.id(), 1) - 1)
            m["io.write_execs"] += wrote

    # -- one operation -----------------------------------------------------
    def run(self, op_id: int, key: str, build, execute) -> float:
        """Trace one operation; returns its wall time (construct + execute).
        The wall of the whole traced operation, with the listener-bus drains
        and the status-store reads, goes to ``full_walls``."""
        t_full = time.perf_counter()
        m = dict.fromkeys(OP_METRICS, 0.0)
        self._op, self._table_calls, self._table_s = op_id, 0, 0.0
        groups = (f"perfbench.{op_id}.construct", f"perfbench.{op_id}.execute")
        self._bus.waitUntilEmpty()
        codegen0 = self._codegen.compileTime()
        with self._phase("op", None) as op_span:
            self.spans[op_span]["key"] = key
            t0 = time.perf_counter()
            with self._phase("queries.construct", op_span) as c_span:
                self.sc.setJobGroup(groups[0], groups[0])
                df = build()
            t1 = time.perf_counter()
            with self._phase("operators.execute", op_span) as e_span:
                self.sc.setJobGroup(groups[1], groups[1])
                execute(df)
            t2 = time.perf_counter()
        for prop in ("spark.jobGroup.id", "spark.job.description"):
            self.sc.setLocalProperty(prop, None)
        self._bus.waitUntilEmpty()
        c_execs, e_execs = self._executions(groups)
        c_jobs = self._jobs(groups[0], c_span)
        e_jobs = self._jobs(groups[1], e_span)
        wall = t2 - t0
        m["queries.construct_s"] = t1 - t0
        m["queries.construct_share"] = (t1 - t0) / wall
        m["queries.construct_jobs"] = len(c_jobs)
        m["queries.construct_sql_execs"] = len(c_execs)
        m["io.table_calls"] = self._table_calls
        m["io.table_s"] = self._table_s
        m["operators.execute_s"] = t2 - t1
        m["operators.codegen_s"] = (self._codegen.compileTime() - codegen0) / 1e9
        m["sched.jobs"] = len(e_jobs)
        self._stage_totals(e_jobs, m)
        m["sched.slot_util"] = m["sched.task_s"] / ((t2 - t1) * self.cores)
        self._plan_totals(c_execs, m, operators=False)
        self._plan_totals(e_execs, m, operators=True)
        self.op_metrics.append({"op": op_id, "key": key, **m})
        self.full_walls.append(time.perf_counter() - t_full)
        return wall

    def layer_metrics(self) -> dict[str, float]:
        """Per traced operation: totals divided by the number of operations;
        the two shares are ratios of totals."""
        n = len(self.op_metrics)
        total = {name: sum(m[name] for m in self.op_metrics) for name in OP_METRICS}
        out = {name: v / n for name, v in total.items()}
        wall = total["queries.construct_s"] + total["operators.execute_s"]
        out["queries.construct_share"] = total["queries.construct_s"] / wall
        out["sched.slot_util"] = total["sched.task_s"] / (total["operators.execute_s"] * self.cores)
        return out

    def spans_with_self_time(self) -> list[dict]:
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        return [{**s, "self_s": self_time(s, children.get(s["id"], []))} for s in self.spans]
