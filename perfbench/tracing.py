"""Hooks the traced run installs from outside the engine's package.

- :class:`Spans` replaces the public module-level functions of the package's
  layer modules with timing stand-ins. It must run before the plan modules
  are imported, so that their ``from ... import`` bindings pick the
  stand-ins up.
- :class:`StreamTrace` is a ``StreamingQueryListener`` that keeps each
  micro-batch's progress and maps each stream's ``runId`` to the benchmark
  query that started it.
- :func:`plan_counts`, :func:`catalyst_ms` and :func:`storage_mb` read a
  query's executed plan, its Catalyst phase times and the cached blocks.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import pkgutil
import re
import sys
import threading
import time
from collections import Counter, defaultdict

from pyspark.sql.streaming import StreamingQueryListener

PKG = "prosnet_prefect_pipelines_spark"

# Layer modules that get spans. A package entry covers its submodules.
SPAN_GROUPS = (
    "sources", "model", "render", "resolve",
    "operators.graph", "operators.relational", "operators.similarity",
    "operators.dedup", "streaming", "sinks",
)


def _resolve(module: str, name: str):
    return getattr(importlib.import_module(module), name)


class _Frame:
    __slots__ = ("child_s",)

    def __init__(self) -> None:
        self.child_s = 0.0


class _Span:
    """Callable stand-in that times each call of ``fn`` under ``group``."""

    def __init__(self, spans: "Spans", group: str, fn):
        functools.update_wrapper(self, fn)
        self._spans = spans
        self._group = group

    def __call__(self, *args, **kwargs):
        if not self._spans.active:
            return self.__wrapped__(*args, **kwargs)
        return self._spans.call(self._group, self.__wrapped__, args, kwargs)

    def __reduce__(self):
        # Python UDFs that close over a traced function are pickled for the
        # workers; they get the worker's own, untraced function.
        return _resolve, (self.__module__, self.__name__)


class Spans:
    """Calls and self time per layer group while ``active`` is true.

    Spans share one stack across threads: a streaming ``foreachBatch``
    callback runs on another thread while the caller's span waits for the
    stream, so it nests inside that span and self times never overlap."""

    def __init__(self) -> None:
        self.active = False
        self._lock = threading.Lock()
        self._stack: list[_Frame] = []
        self.reset()

    def reset(self) -> None:
        self.calls: Counter = Counter()
        self.self_s: dict[str, float] = defaultdict(float)
        self.fn_s: dict[str, float] = defaultdict(float)

    def call(self, group: str, fn, args, kwargs):
        frame = _Frame()
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            self._stack.append(frame)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter() - t0
            with self._lock:
                self._stack.remove(frame)
                if parent is not None:
                    parent.child_s += dt
                self.calls[group] += 1
                self.self_s[group] += dt - frame.child_s
                self.fn_s[f"{fn.__module__}.{fn.__name__}"] += dt

    def install(self) -> int:
        """Wrap every public function of the span groups' modules and
        rebind the names other loaded package modules imported; returns
        the number of functions wrapped."""
        modules = []
        for group in SPAN_GROUPS:
            mod = importlib.import_module(f"{PKG}.{group}")
            modules.append((group, mod))
            for info in pkgutil.iter_modules(getattr(mod, "__path__", [])):
                modules.append((group, importlib.import_module(f"{mod.__name__}.{info.name}")))
        wrapped: dict[int, tuple[object, _Span]] = {}
        for group, mod in modules:
            for name, obj in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                    and not inspect.isgeneratorfunction(obj)
                    and not hasattr(obj, "evalType")  # pandas_udf / udf objects
                ):
                    span = _Span(self, group, obj)
                    setattr(mod, name, span)
                    wrapped[id(obj)] = (obj, span)
        for modname, mod in list(sys.modules.items()):
            if modname.startswith(PKG) and mod is not None:
                for name, obj in list(vars(mod).items()):
                    hit = wrapped.get(id(obj))
                    if hit is not None and hit[0] is obj:
                        setattr(mod, name, hit[1])
        return len(wrapped)


class StreamTrace(StreamingQueryListener):
    """Micro-batch progress of the streams each benchmark query starts.

    Set ``query`` to the running benchmark query; ``onQueryStarted`` is
    delivered synchronously, so each ``runId`` maps to the right query.
    Progress arrives asynchronously: call :meth:`wait` before reading."""

    def __init__(self) -> None:
        self.query: str | None = None
        self.run_query: dict[str, str] = {}
        self.progress: list[dict] = []
        self._terminated: set[str] = set()
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            if self.query is not None:
                self.run_query[str(event.runId)] = self.query

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            if str(p.runId) not in self.run_query:
                return
            self.progress.append({
                "run": str(p.runId),
                "rows": p.numInputRows,
                "ms": dict(p.durationMs),
                "state": [
                    (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                    for s in p.stateOperators
                ],
            })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.runId))

    def wait(self, timeout: float = 15.0) -> bool:
        """Wait until every traced stream's termination has been delivered
        (progress events precede it on the same bus)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.run_query) <= self._terminated:
                    return True
            time.sleep(0.05)
        return False

    def metrics(self) -> dict[str, float]:
        batches = self.progress
        last_state: dict[str, list] = {}
        peak_mem: dict[str, int] = defaultdict(int)
        for b in batches:
            last_state[b["run"]] = b["state"]
            peak_mem[b["run"]] = max(peak_mem[b["run"]], sum(s[1] for s in b["state"]))
        trigger = [b["ms"].get("triggerExecution", 0) for b in batches]

        def ms(key: str) -> float:
            return float(sum(b["ms"].get(key, 0) for b in batches))

        return {
            "streaming.batches": len(batches),
            "streaming.input_rows": sum(b["rows"] for b in batches),
            "streaming.add_batch_ms": ms("addBatch"),
            "streaming.query_planning_ms": ms("queryPlanning"),
            "streaming.wal_commit_ms": ms("walCommit"),
            "streaming.commit_offsets_ms": ms("commitOffsets"),
            "streaming.state_rows": sum(s[0] for st in last_state.values() for s in st),
            "streaming.state_mb": sum(peak_mem.values()) / 2**20,
            "streaming.state_commit_ms": float(sum(s[2] for b in batches for s in b["state"])),
            "streaming.batch_p50_ms": float(sorted(trigger)[len(trigger) // 2]) if trigger else 0.0,
        }


_PLAN_OPS = {
    "Exchange": "plan.exchanges",  # shuffles; a broadcast is BroadcastExchange
    "Sort": "plan.sorts",
    "Window": "plan.windows",
    "BroadcastHashJoin": "plan.broadcast_joins",
    "BroadcastNestedLoopJoin": "plan.broadcast_joins",
    "SortMergeJoin": "plan.sort_merge_joins",
}
_PYTHON_OP = re.compile(r"EvalPython|InPandas|InArrow")
_NODE = re.compile(r"^[\s:|+-]*(?:\*\(\d+\)\s*)?([A-Za-z]\w*)")


def plan_counts(plan_text: str) -> dict[str, int]:
    """Operator counts in a physical plan's tree string."""
    out = dict.fromkeys([*_PLAN_OPS.values(), "plan.python_evals"], 0)
    for line in plan_text.splitlines():
        m = _NODE.match(line)
        if m is None:
            continue
        op = m.group(1)
        if op in _PLAN_OPS:
            out[_PLAN_OPS[op]] += 1
        elif _PYTHON_OP.search(op):
            out["plan.python_evals"] += 1
    return out


def catalyst_ms(query_execution) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded by a ``QueryExecution``."""
    names = {"analysis": "catalyst.analysis_ms", "optimization": "catalyst.optimization_ms",
             "planning": "catalyst.planning_ms"}
    out = dict.fromkeys(names.values(), 0.0)
    it = query_execution.tracker().phases().iterator()
    while it.hasNext():
        pair = it.next()
        if pair._1() in names:
            out[names[pair._1()]] += float(pair._2().durationMs())
    return out


def storage_mb(spark) -> float:
    """Memory plus disk held by cached RDD blocks, in MiB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 2**20
