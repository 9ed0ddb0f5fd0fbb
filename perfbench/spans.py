"""Tracing from outside the library: call spans, Spark work counters,
Python-boundary plan nodes and table-directory byte accounting.

Nothing here edits the library. With tracing on, :meth:`Tracer.instrument`
replaces public module functions and ``Frame`` methods with wrappers that
record a span per call; with tracing off no wrapper is installed and
:meth:`Tracer.span` costs one attribute test. Spans stay in memory and are
written out once, at exit.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import json
import os
import time
from collections import defaultdict

# Physical operators that move rows across the JVM/Python boundary.
PYTHON_NODES = (
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "ArrowEvalPython", "BatchEvalPython",
    "AggregateInPandas", "WindowInPandas",
)


class Tracer:
    """In-memory span recorder. A span is (name, start, end, parent, op)."""

    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    def instrument(self, owner, layer: str) -> None:
        """Wrap the public callables of a module or class in spans named
        ``<layer>.<function>``. Only functions defined by ``owner`` itself
        are wrapped, not re-exports."""
        owner_mod = owner.__name__ if inspect.ismodule(owner) else owner.__module__
        for attr, value in list(vars(owner).items()):
            if attr.startswith("_"):
                continue
            if isinstance(value, (staticmethod, classmethod, property)):
                continue
            if not inspect.isfunction(value) or value.__module__ != owner_mod:
                continue
            self._patched.append((owner, attr, value))
            setattr(owner, attr, self._wrap(value, f"{layer}.{attr}"))

    def uninstrument(self) -> None:
        for owner, attr, value in reversed(self._patched):
            setattr(owner, attr, value)
        self._patched.clear()

    # -- reduction ---------------------------------------------------------

    def reduce(self) -> dict[str, dict]:
        """Per span name: inclusive seconds, self seconds (duration minus
        the time its direct children cover) and calls. A call nested in a
        call of the same name adds no inclusive time, so recursion does
        not count twice."""
        spans = self.spans
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, dict] = defaultdict(lambda: {"incl_s": 0.0, "self_s": 0.0, "calls": 0})
        for i, s in enumerate(spans):
            dur = s["end"] - s["start"]
            r = out[s["name"]]
            r["calls"] += 1
            r["self_s"] += dur - child[i]
            p = s["parent"]
            while p is not None and spans[p]["name"] != s["name"]:
                p = spans[p]["parent"]
            if p is None:
                r["incl_s"] += dur
        return dict(out)

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkCounters:
    """Work counters read from Spark's status store, from outside.

    Every timed call runs under its own job group; :meth:`window` returns
    what the jobs launched between two marks did. A stage shared by
    several jobs counts once; a skipped stage (its shuffle output reused)
    does not count."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def _settle(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(10_000)

    def mark(self) -> int:
        """Highest job id launched so far (-1 before the first job)."""
        self._settle()
        jobs = self._store.jobsList(None)
        n = jobs.size()
        return max(jobs.apply(0).jobId(), jobs.apply(n - 1).jobId()) if n else -1

    def group(self, name: str) -> None:
        self.sc.setJobGroup(name, name)

    def window(self, after: int, upto: int) -> dict:
        c = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
             "shuffle_write_bytes", "input_bytes", "spill_bytes"), 0)
        seen: set[int] = set()
        for jid in range(after + 1, upto + 1):
            job = self._store.job(jid)
            c["jobs"] += 1
            sids = job.stageIds()
            for k in range(sids.size()):
                sid = sids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                st = self._store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st.numCompleteTasks()
                c["executor_run_s"] += st.executorRunTime() / 1e3
                c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                c["input_bytes"] += st.inputBytes()
                c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return c

    def exec_seconds(self, after: int, upto: int) -> float:
        """Wall time during which at least one of the jobs ran (the union
        of their submission..completion intervals)."""
        spans = []
        for jid in range(after + 1, upto + 1):
            job = self._store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                spans.append((sub.get().getTime(), done.get().getTime()))
        total, end = 0, None
        for a, b in sorted(spans):
            if end is None or a > end:
                total += b - a
                end = b
            elif b > end:
                total += b - end
                end = b
        return total / 1e3


def _children(node) -> list:
    name = node.nodeName()
    if name.startswith("AdaptiveSparkPlan"):
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def python_nodes(df) -> int:
    """Python-boundary operators in ``df``'s executed plan. Cached
    relations are leaves: their plan ran in the step that cached them."""
    todo, n = [df._jdf.queryExecution().executedPlan()], 0
    while todo:
        node = todo.pop()
        if node.nodeName() in PYTHON_NODES:
            n += 1
        todo.extend(_children(node))
    return n


def dir_files(path: str) -> dict[str, int]:
    """Relative path -> size of every regular file under ``path``."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def written(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(bytes, files) that appeared or changed between two listings."""
    new = [k for k, v in after.items() if before.get(k) != v]
    return sum(after[k] for k in new), len(new)
