"""Spans and Spark counters for the traced run.

The benchmark wraps public names of the program in its own process,
only while a traced run is active: every wrapped call records a span
(name, start, end, parent span, request id).  Each request runs under
its own Spark job group, and after it ends the job group's jobs,
stages and executed SQL plans are read from Spark's status stores
(``statusTracker().getJobIdsForGroup`` -> ``statusStore()``), which
work with the UI off.  Nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import re
import time
from dataclasses import dataclass, field

# (owner module path, attribute path, span name)
WRAPPED = [
    ("toshi_spark.api", "ToshiApi._bulk", "ToshiApi._bulk"),
    ("toshi_spark.index.catalog", "IndexCatalog.open", "IndexCatalog.open"),
    ("toshi_spark.index.catalog", "IndexCatalog.flush", "IndexCatalog.flush"),
    ("toshi_spark.index.catalog", "build_index", "build_index"),
    ("toshi_spark.index.catalog", "write_segment", "write_segment"),
    ("toshi_spark.index.merge", "write_segment", "write_segment"),
    ("toshi_spark.index.merge", "run_merge", "run_merge"),
    ("toshi_spark.engine", "parse_search", "parse_search"),
    ("toshi_spark.engine", "FullTextIndex.search", "FullTextIndex.search"),
    ("toshi_spark.query.compiler", "Compiler.compile", "Compiler.compile"),
]

PYTHON_NODES = {
    "ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
    "PythonMapInArrow", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "AggregateInPandas", "WindowInPandas", "ArrowEvalPythonUDTF",
    "BatchEvalPythonUDTF", "FlatMapGroupsInArrow", "FlatMapCoGroupsInArrow",
}
_NODE = re.compile(r"^[\s:+\-|*]*([A-Za-z]+)")


@dataclass
class Span:
    sid: int
    parent: int | None
    request: int
    name: str
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class Request:
    rid: int
    kind: str
    label: str
    span: Span
    spark: dict = field(default_factory=dict)


def plan_counts(description: str) -> dict:
    """Exchange / broadcast / Python-node counts of one executed plan.

    Only the tree of the plan that ran is read: under adaptive
    execution that is the final (or current) plan, not the initial one.
    """
    lines = description.split("\n")
    tree: list[str] = []
    in_tree = False
    for ln in lines:
        if ln.startswith("== Physical Plan =="):
            in_tree = True
            continue
        if not in_tree:
            continue
        if not ln.strip() or "== Initial Plan ==" in ln:
            break
        tree.append(ln)
    out = {"exchanges": 0, "broadcasts": 0, "python_nodes": 0}
    for ln in tree:
        m = _NODE.match(ln)
        if not m:
            continue
        node = m.group(1)
        if node == "Exchange":
            out["exchanges"] += 1
        elif node == "BroadcastExchange":
            out["broadcasts"] += 1
        elif node in PYTHON_NODES:
            out["python_nodes"] += 1
    return out


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Tracer:
    """Span recorder plus per-request Spark counters."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.requests: list[Request] = []
        self._stack: list[Span] = []
        self._rid = 0
        self._patched: list[tuple[object, str, object]] = []

    @property
    def active(self) -> bool:
        return bool(self._patched)

    # ---------------------------------------------------------- spans

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, self._rid, name,
                 time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter()
        self._stack.pop()

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer._open(name)
            try:
                out = fn(*args, **kwargs)
                if name == "write_segment" and out is not None:
                    s.info["bytes"] = int(getattr(out, "bytes", 0) or 0)
                elif name == "run_merge":
                    s.info["merged"] = len(out or [])
                return out
            finally:
                tracer._close(s)

        return traced

    def install(self) -> None:
        import importlib

        for mod_name, attr, name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for p in path:
                owner = getattr(owner, p)
            orig = owner.__dict__[leaf] if isinstance(owner, type) else \
                getattr(owner, leaf)
            self._patched.append((owner, leaf, orig))
            setattr(owner, leaf, self._wrapper(orig, name))

    def uninstall(self) -> None:
        for owner, leaf, orig in reversed(self._patched):
            setattr(owner, leaf, orig)
        self._patched.clear()

    # ------------------------------------------------------- requests

    def request(self, kind: str, label: str, fn, *args):
        """Run ``fn(*args)`` as one traced request; returns its result."""
        self._rid += 1
        sc = self.spark.sparkContext
        group = f"perfbench-{self._rid}"
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        last_exec = self._last_execution(sql_store)
        sc.setJobGroup(group, label)
        s = self._open(kind)
        try:
            return fn(*args)
        finally:
            self._close(s)
            sc.setLocalProperty("spark.jobGroup.id", None)
            req = Request(self._rid, kind, label, s)
            req.spark = self._counters(group, sql_store, last_exec)
            self.requests.append(req)

    @staticmethod
    def _last_execution(sql_store) -> int:
        n = sql_store.executionsCount()
        if n == 0:
            return -1
        return int(sql_store.executionsList(n - 1, 1).apply(0).executionId())

    def _counters(self, group: str, sql_store, last_exec: int) -> dict:
        jsc = self.spark.sparkContext._jsc.sc()
        # the status stores are fed by the listener bus: drain it first
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        c = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0,
             "cpu_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0,
             "job_wall_ms": 0.0, "exchanges": 0, "broadcasts": 0,
             "python_nodes": 0}
        intervals = []
        for jid in self.spark.sparkContext.statusTracker() \
                .getJobIdsForGroup(group):
            jd = store.job(jid)
            c["jobs"] += 1
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((float(sub.get().getTime()),
                                  float(comp.get().getTime())))
            sids = jd.stageIds()
            for i in range(sids.size()):
                st = store.lastStageAttempt(sids.apply(i))
                if st.status().toString() == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += int(st.numCompleteTasks())
                c["run_ms"] += float(st.executorRunTime())
                c["cpu_ms"] += float(st.executorCpuTime()) / 1e6
                c["shuffle_bytes"] += int(st.shuffleWriteBytes())
                c["spill_bytes"] += int(st.memoryBytesSpilled()) + int(
                    st.diskBytesSpilled())
        c["job_wall_ms"] = _union_ms(intervals)
        now = self._last_execution(sql_store)
        for eid in range(last_exec + 1, now + 1):
            ex = sql_store.execution(eid)
            if ex.isDefined():
                for k, v in plan_counts(
                        ex.get().physicalPlanDescription()).items():
                    c[k] += v
        return c

    # -------------------------------------------------------- queries

    def under(self, span: Span, name: str) -> bool:
        """Whether a span enclosing ``span`` is called ``name``."""
        p = span.parent
        while p is not None:
            if self.spans[p].name == name:
                return True
            p = self.spans[p].parent
        return False

    def children(self, req: Request, name: str) -> list[Span]:
        """Outermost spans called ``name`` inside one request."""
        return [s for s in self.spans
                if s.request == req.rid and s.name == name
                and s is not req.span and not self.under(s, name)]

    def child_ms(self, req: Request, name: str) -> float:
        return sum(s.ms for s in self.children(req, name))

    def dump(self) -> dict:
        return {
            "spans": [vars(s) for s in self.spans],
            "requests": [{"rid": r.rid, "kind": r.kind, "label": r.label,
                          "ms": r.span.ms, "spark": r.spark}
                         for r in self.requests],
        }
