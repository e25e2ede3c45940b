"""The traced run's instruments.

- ``Tracer`` keeps spans in memory and wraps the engine's public layer
  functions. The query modules import functions by name at load time,
  so a wrapper replaces the function under every name any engine
  module bound it to.
- ``ProgressListener`` collects Structured Streaming progress: the
  ``durationMs`` phases and the state-operator metrics.
- ``spark_counts`` reads jobs, stages and tasks of the traced ops from
  the status tracker; ``task_metrics`` reads task CPU, shuffle, spill
  and GC for those stages from the Spark event log.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import operator
import os
import sys
import threading
import time
from contextlib import contextmanager

from perfbench.stats import Span

ENGINE = "streaming_data_lake_spark"

# (module, attribute or Class.method, layer). Every public function
# defined in the modules of OPERATOR_MODULES is traced as
# "operators.build" as well.
LAYER_FUNCTIONS = [
    ("catalog", "load_table", "catalog.load_table"),
    ("plans.artifacts", "ensure", "artifacts.ensure"),
    ("sources.upsert", "merge_upsert", "upsert.merge"),
    ("plans.materialize", "Materializer.run", "materialize.run"),
    ("overlay", "atomic_swap", "overlay.swap"),
]
OPERATOR_MODULES = ["operators.similarity", "operators.dedup", "operators.corpus"]


class _Traced:
    """Callable stand-in for a traced function. Binds like a function
    when set on a class, and pickles as the function it wraps, so a
    plan that ships it to a Python worker ships the plain function."""

    def __init__(self, tracer: "Tracer", layer: str, fn):
        functools.update_wrapper(self, fn)
        self.tracer, self.layer, self.fn = tracer, layer, fn

    def __call__(self, *args, **kwargs):
        with self.tracer.span(self.layer):
            return self.fn(*args, **kwargs)

    def __get__(self, obj, objtype=None):
        return self if obj is None else functools.partial(self, obj)

    def __reduce__(self):
        return operator.itemgetter(0), ((self.fn,),)


class Tracer:
    """In-memory spans. A span opened on a thread with no open span of
    its own (a streaming ``foreachBatch`` callback) is a child of the
    innermost span open on the thread that created the tracer, which
    is blocked waiting for that callback."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._local = threading.local()
        self._main_stack = self._stack()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        sid = next(self._ids)
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, parent, layer, start, end))

    def install(self) -> None:
        """Wrap every layer function in every loaded engine module."""
        targets = [(m, a, layer) for m, a, layer in LAYER_FUNCTIONS]
        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"{ENGINE}.{m}")
            targets += [
                (m, name, "operators.build")
                for name, fn in vars(mod).items()
                if inspect.isfunction(fn) and not name.startswith("_") and fn.__module__ == mod.__name__
            ]
        engine_mods = [
            mod for name, mod in list(sys.modules.items())
            if mod is not None and (name == ENGINE or name.startswith(ENGINE + "."))
        ]
        for m, attr, layer in targets:
            owner = importlib.import_module(f"{ENGINE}.{m}")
            if "." in attr:  # a method: patch the class once
                cls_name, meth = attr.split(".")
                cls = getattr(owner, cls_name)
                self._patch(cls, meth, _Traced(self, layer, vars(cls)[meth]))
                continue
            orig = getattr(owner, attr)
            wrapped = _Traced(self, layer, orig)
            for mod in engine_mods:
                for name, value in list(vars(mod).items()):
                    if value is orig:
                        self._patch(mod, name, wrapped)

    def _patch(self, holder, name: str, value) -> None:
        self._patched.append((holder, name, getattr(holder, name)))
        setattr(holder, name, value)

    def uninstall(self) -> None:
        for holder, name, orig in reversed(self._patched):
            setattr(holder, name, orig)
        self._patched.clear()


def make_progress_listener():
    """A StreamingQueryListener that records each query's run id and
    every progress event. Built lazily so importing this module does
    not import pyspark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.run_ids: set[str] = set()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            self.run_ids.add(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            self.run_ids.add(str(p.runId))
            self.progress.append({
                "run_id": str(p.runId),
                "duration_ms": dict(p.durationMs or {}),
                "state": [
                    (s.numRowsTotal, s.memoryUsedBytes, s.commitTimeMs)
                    for s in (p.stateOperators or [])
                ],
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def stream_totals(progress: list[dict]) -> dict[str, float]:
    """Batch count, summed ``durationMs`` phases (seconds), summed
    state commit time, and the state rows and memory of each query's
    last batch, summed over queries."""
    out = {"batches": float(len(progress)), "state_commit_s": 0.0}
    for phase in ("addBatch", "walCommit", "commitOffsets", "queryPlanning"):
        out[f"{phase}_s"] = sum(p["duration_ms"].get(phase, 0) for p in progress) / 1000.0
    last: dict[str, list] = {}
    for p in progress:
        out["state_commit_s"] += sum(c for _r, _m, c in p["state"]) / 1000.0
        last[p["run_id"]] = p["state"]
    out["state_rows"] = float(sum(r for st in last.values() for r, _m, _c in st))
    out["state_mem_bytes"] = float(sum(m for st in last.values() for _r, m, _c in st))
    return out


def spark_counts(sc, groups: set[str]) -> tuple[int, int, int, set[int]]:
    """Jobs, stages that ran, completed tasks, and the ids of those
    stages, over the jobs of the given job groups."""
    st = sc.statusTracker()
    jobs = {j for g in groups for j in st.getJobIdsForGroup(g)}
    stage_ids: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    ran, tasks = set(), 0
    for s in stage_ids:
        info = st.getStageInfo(s)
        if info is not None and info.numCompletedTasks > 0:
            ran.add(s)
            tasks += info.numCompletedTasks
    return len(jobs), len(ran), tasks, ran


def task_metrics(log_dir: str, stage_ids: set[int]) -> dict[str, float]:
    """Summed task metrics of the given stages from the event log(s)
    under ``log_dir``."""
    out = {"task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                m = ev.get("Task Metrics")
                if ev.get("Stage ID") not in stage_ids or not m:
                    continue
                out["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                out["shuffle_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                out["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return out
