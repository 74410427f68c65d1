"""Traced mode: spans around the calls into each layer's public functions.

Wrappers are installed from the benchmark's side only; the program itself
carries no tracing. Each span records its name, start, end, parent span and
step id, is kept in memory, and is summarised when the step ends. A layer's
self time is its spans' duration minus the part of that interval their child
spans cover.

Streaming micro-batch phases come from a ``StreamingQueryListener``; Spark
job, stage and task counts come from the ``StatusTracker``, summed over the
step's own job group and the ``runId`` groups of the streaming queries the
step started (micro-batch jobs run under the query's group).
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
                 "commitOffsets", "triggerExecution")
TABLE_METHODS = ("append", "overwrite", "overwrite_partitions", "compact", "log_changes", "read")
# the registry entries the increment project runs
OPERATORS = (
    ("load", "sql"), ("load", "cloudfiles"),
    ("transform", "sql"), ("transform", "schema"), ("transform", "data_quality"),
    ("transform", "text"), ("transform", "dedup"), ("transform", "sample"),
    ("write", "materialized_view"), ("write", "streaming_table"),
    ("test", "uniqueness"), ("test", "range"),
)


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    step: int | None = None
    value: float = 0.0  # a count the wrapped call reported (e.g. flowgroups found)


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    step: int | None = None
    enabled: bool = False
    _local: threading.local = field(default_factory=threading.local)
    _main_stack: list[int] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, fn, name: str, count=None):
        """``fn`` recording one span per call while tracing is enabled.
        Calls from other threads (foreachBatch callbacks) nest under the
        main thread's open span, which is waiting for them."""
        if getattr(fn, "__traced__", None) is not None:
            return fn

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            stack = self._stack()
            parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
            span = Span(name, time.perf_counter(), parent=parent, step=self.step)
            with self._lock:  # callback threads append too
                self.spans.append(span)
                stack.append(len(self.spans) - 1)
            try:
                out = fn(*args, **kwargs)
                if count is not None:
                    span.value = count(out)
                return out
            finally:
                span.end = time.perf_counter()
                stack.pop()

        traced.__traced__ = fn
        return traced


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children.get(i, ())):
            lo, hi = max(lo, s.start), min(hi, s.end)
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


def layer_totals(spans: list[Span], step: int | None = None) -> dict[str, dict[str, float]]:
    """Per span name: calls, total time of the outermost spans of that name
    (a nested call of the same layer is not counted twice), self time, and
    the summed reported counts; over the spans of ``step`` when given."""
    selfs = self_times(spans)
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict(calls=0, s=0.0, self_s=0.0, value=0.0))
    for i, s in enumerate(spans):
        if step is not None and s.step != step:
            continue
        t = out[s.name]
        t["calls"] += 1
        t["self_s"] += selfs[i]
        t["value"] += s.value
        p = s.parent
        while p is not None and spans[p].name != s.name:
            p = spans[p].parent
        if p is None:
            t["s"] += s.end - s.start
    return dict(out)


def _patch(module, attr: str, wrapped) -> None:
    """Replace ``module.attr`` and every other loaded program module's
    reference to the same function (names bound by ``from ... import``)."""
    orig = getattr(module, attr)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("lakehouse_plumber_spark") and \
                getattr(mod, attr, None) is orig:
            setattr(mod, attr, wrapped)


def _public_functions(module):
    return [n for n, f in vars(module).items()
            if inspect.isfunction(f) and not n.startswith("_") and f.__module__ == module.__name__]


def install(tracer: Tracer) -> None:
    """Wrap the layer entry points named in BENCHMARK.json's per-layer map."""
    import importlib

    from pyspark.sql import DataFrame

    def mod(name):
        return importlib.import_module(f"lakehouse_plumber_spark.{name}")

    ops = mod("operators")
    for key, fn in list(ops.REGISTRY.items()):
        ops.REGISTRY[key] = tracer.wrap(fn, "operators." + ".".join(key))
    store_cls = mod("tables").ParquetTableStore
    for m in TABLE_METHODS:
        setattr(store_cls, m, tracer.wrap(getattr(store_cls, m), f"tables.{m}"))
    runner_cls = mod("runner").PipelineRunner
    runner_cls.run = tracer.wrap(runner_cls.run, "runner.run")
    parse_cache = mod("parse_cache").ParseCache
    parse_cache.load_yaml = tracer.wrap(parse_cache.load_yaml, "parse_cache.read")
    graph_cache = mod("graph_cache").GraphCache
    graph_cache.get = tracer.wrap(graph_cache.get, "graph_cache.get", count=lambda v: v is not None)
    for module, attr, name, count in (
        ("parsers", "discover_flowgroups", "parsers.discover", len),
        ("parsers", "load_flowgroup", "parsers.load_flowgroup", None),
        ("dag", "validate_flowgroup_graph", "dag.validate", None),
        ("dag", "validate_streaming_compaction", "dag.validate", None),
        ("dag", "validate_job_names", "dag.validate", None),
        ("dag", "cross_flowgroup_deps", "dag.deps", None),
        ("dag", "execution_stages", "dag.deps", None),
        ("codegen", "compile_flowgroup_result", "codegen.compile", lambda r: len(r[2] or "")),
        ("operators.cdc", "apply_changes", "cdc.apply_changes", None),
        ("operators.quarantine", "run_quarantine", "quarantine.run", None),
        ("operators.incremental", "incremental_update", "incremental.update", None),
        ("expectations", "apply_expectations", "expectations.apply", None),
        ("expectations", "check_failures", "expectations.check", None),
    ):
        m = mod(module)
        _patch(m, attr, tracer.wrap(getattr(m, attr), name, count))
    for module, name in (("llm.text", "llm.text"), ("llm.dedup", "llm.dedup"),
                         ("llm.sampling", "llm.sample")):
        m = mod(module)
        for attr in _public_functions(m):
            _patch(m, attr, tracer.wrap(getattr(m, attr), name))
    try:  # Spark 4 runs the classic DataFrame subclass, which overrides these
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:
        pass
    for attr in ("localCheckpoint", "checkpoint", "persist"):
        setattr(DataFrame, attr, tracer.wrap(getattr(DataFrame, attr), "materialize"))


class SparkProbe:
    """Streaming progress and Spark job counts for one step at a time."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.run_ids: list[str] = []
        self.progress: list = []
        probe = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                probe.run_ids.append(str(event.runId))

            def onQueryProgress(self, event):
                probe.progress.append(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()

    def begin(self, step: int) -> None:
        """Start counting for ``step``: listen to streaming progress and tag
        the caller's jobs with the step's job group."""
        self.run_ids, self.progress = [], []
        self.group = f"perfbench-step-{step}"
        self.spark.streams.addListener(self.listener)
        self.spark.sparkContext.setJobGroup(self.group, self.group)

    def end(self) -> dict[str, float]:
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        self.spark.streams.removeListener(self.listener)
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracker = sc.statusTracker()
        jobs = set(tracker.getJobIdsForGroup(self.group))
        for rid in self.run_ids:
            jobs.update(tracker.getJobIdsForGroup(rid))
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = failed = 0
        for s in stages:
            info = tracker.getStageInfo(s)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
        out = {"spark.jobs": len(jobs), "spark.stages": len(stages), "spark.tasks": tasks,
               "spark.failed_tasks": failed, "streaming.queries": len(self.run_ids),
               "streaming.batches": len(self.progress),
               "streaming.input_rows": sum(p.numInputRows for p in self.progress),
               "streaming.state_rows": sum(o.numRowsTotal for p in self.progress
                                           for o in p.stateOperators)}
        for phase in STREAM_PHASES:
            out[f"streaming.{phase}_ms"] = sum(p.durationMs.get(phase, 0) for p in self.progress)
        return out

    def gc_seconds(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0
