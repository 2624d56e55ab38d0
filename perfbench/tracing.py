"""Per-layer spans and Spark counters, installed from outside the program.

``Tracer.install`` wraps every public function of each layer module (and
``DataFrame.localCheckpoint``) so each call opens a span. While a span is
open, the Spark job group is the span's id, so every job Spark runs is
attributed to the innermost open span; jobs in no span are
``unattributed``. A DataFrame returned by a wrapped function remembers its
layer, and the benchmark's own action on it (``Tracer.action``) is billed
to that layer.

Counters are read after each op, never inside one: the job list of each
span's group from ``statusTracker``, and job and stage data from the
JVM ``statusStore``. Stages a job skipped are counted from the job record;
a stage that was never attempted raises ``NoSuchElementException`` on
lookup and is counted as skipped too.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import sys
import time
from collections import defaultdict

LAYER_MODULES = {
    "io.rest_source": "breweries_case_spark.io.rest_source",
    "io.snapshots": "breweries_case_spark.io.snapshots",
    "io.reader": "breweries_case_spark.io.reader",
    "pipelines.medallion": "breweries_case_spark.pipelines.medallion",
    "pipelines.corpus": "breweries_case_spark.pipelines.corpus",
    "operators.tpch": "breweries_case_spark.operators.tpch",
    "operators.dedup": "breweries_case_spark.operators.dedup",
    "operators.multimodal": "breweries_case_spark.operators.multimodal",
}
CHECKPOINT_LAYER = "spark.localCheckpoint"
LAYERS = (*LAYER_MODULES, CHECKPOINT_LAYER)

#: (name, unit, better) of the metrics every layer reports
LAYER_METRICS = (
    ("calls", "count", "lower"),
    ("self_s", "s", "lower"),
    ("driver_s", "s", "lower"),
    ("spark_jobs", "count", "lower"),
    ("spark_stages", "count", "lower"),
    ("spark_stages_skipped", "count", "higher"),
    ("spark_tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("shuffle_fetch_wait_s", "s", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("failed_tasks", "count", "lower"),
)

#: the entry points the workloads call; absent ones are reported, not fatal
ENTRY_POINTS = {
    "io.rest_source": ["fetch_paginated"],
    "io.snapshots": ["read_snapshot", "latest_version"],
    "io.reader": ["load_table"],
    "pipelines.medallion": ["run_medallion_snapshotted"],
    "pipelines.corpus": ["update_corpus", "read_corpus"],
    "operators.tpch": [f"q_tpch_q{i}" for i in range(1, 23)],
    "operators.dedup": ["minhash_signatures"],
    "operators.multimodal": ["q_dedup_video_cluster_incremental"],
}

_PROGRAM_MODULES = ("breweries_case_spark",)
_LAYER_TAG = "_perfbench_layer"


class Span:
    __slots__ = ("id", "layer", "billed", "t0", "t1", "children")

    def __init__(self, sid: str, layer: str | None, billed: bool):
        self.id = sid
        self.layer = layer
        #: a span billing the benchmark's own action to a layer, not a call
        self.billed = billed
        self.t0 = time.time()
        self.t1 = 0.0
        self.children: list[Span] = []


def _minus(intervals: list[tuple[float, float]], holes: list[tuple[float, float]]):
    """``intervals`` with every part covered by ``holes`` removed."""
    out = []
    for a, b in intervals:
        pieces = [(a, b)]
        for h0, h1 in holes:
            nxt = []
            for p0, p1 in pieces:
                if h1 <= p0 or h0 >= p1:
                    nxt.append((p0, p1))
                    continue
                if h0 > p0:
                    nxt.append((p0, h0))
                if h1 < p1:
                    nxt.append((h1, p1))
            pieces = nxt
        out.extend(pieces)
    return out


class NullTracer:
    """The untraced run: same interface, no spans, no job groups."""

    collect_s = 0.0

    @contextlib.contextmanager
    def op(self):
        yield

    @contextlib.contextmanager
    def action(self, df):
        yield

    def collect(self) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._ids = itertools.count()
        self.stack: list[Span] = []
        self.op_spans: list[Span] = []
        self.totals: dict[str, dict[str, float]] = {
            layer: defaultdict(float) for layer in LAYERS
        }
        self.unattributed_jobs = 0
        self.missing: list[str] = []
        self.bookkeeping_s = 0.0
        self.collect_s = 0.0
        self.unknown_stage_lookups = 0
        self._seen_stages: set[int] = set()

    # --- installation ---------------------------------------------------

    def install(self) -> None:
        wrapped_of: dict[int, object] = {}
        for layer, modname in LAYER_MODULES.items():
            try:
                mod = importlib.import_module(modname)
            except ImportError:
                self.missing.append(modname)
                continue
            for name in ENTRY_POINTS[layer]:
                if not callable(getattr(mod, name, None)):
                    self.missing.append(f"{modname}.{name}")
            for name, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == modname
                    and not name.startswith("_")
                ):
                    wrapped = self._wrap(layer, fn)
                    wrapped_of[id(fn)] = wrapped
                    setattr(mod, name, wrapped)
        self._rebind(wrapped_of)
        from pyspark.sql.classic.dataframe import DataFrame

        if hasattr(DataFrame, "localCheckpoint"):
            DataFrame.localCheckpoint = self._wrap(
                CHECKPOINT_LAYER, DataFrame.localCheckpoint
            )
        else:
            self.missing.append("DataFrame.localCheckpoint")

    @staticmethod
    def _rebind(wrapped_of: dict[int, object]) -> None:
        """Point every from-import and registry entry of the program at
        the wrapped functions."""
        for modname, mod in list(sys.modules.items()):
            if mod is None or not modname.startswith(_PROGRAM_MODULES):
                continue
            for name, value in list(vars(mod).items()):
                if id(value) in wrapped_of:
                    setattr(mod, name, wrapped_of[id(value)])
                elif isinstance(value, dict):
                    for k, v in list(value.items()):
                        if id(v) in wrapped_of:
                            value[k] = wrapped_of[id(v)]

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = tracer._enter(layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer._exit(span)
            tracer._tag(out, layer)
            return out

        return traced

    # --- spans ------------------------------------------------------------

    def _set_group(self, span: Span | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", span.id if span else None)
        self.sc.setLocalProperty(
            "spark.job.description", span.layer if span and span.layer else None
        )

    def _enter(self, layer: str | None, billed: bool = False) -> Span:
        t = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        span = Span(f"perfbench-{next(self._ids)}", layer, billed)
        if parent is not None:
            parent.children.append(span)
        self.stack.append(span)
        self._set_group(span)
        self.bookkeeping_s += time.perf_counter() - t
        return span

    def _exit(self, span: Span) -> None:
        t = time.perf_counter()
        span.t1 = time.time()
        self.stack.pop()
        self._set_group(self.stack[-1] if self.stack else None)
        self.bookkeeping_s += time.perf_counter() - t

    @staticmethod
    def _tag(out, layer: str) -> None:
        from pyspark.sql import DataFrame

        if isinstance(out, DataFrame):
            out.__dict__[_LAYER_TAG] = layer

    @contextlib.contextmanager
    def op(self):
        """One benchmark op: a root span whose own jobs are unattributed."""
        span = self._enter(None)
        try:
            yield
        finally:
            self._exit(span)
            self.op_spans.append(span)

    @contextlib.contextmanager
    def action(self, df):
        """Bill the benchmark's action on ``df`` to the layer that returned it."""
        layer = df.__dict__.get(_LAYER_TAG) if df is not None else None
        if layer is None:
            yield
            return
        span = self._enter(layer, billed=True)
        try:
            yield
        finally:
            self._exit(span)

    # --- counters ---------------------------------------------------------

    def collect(self) -> None:
        """Fold the spans of the ops run so far into the layer totals."""
        t = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for root in self.op_spans:
            todo = [root]
            while todo:
                span = todo.pop()
                todo.extend(span.children)
                self._fold(span, tracker, store)
        self.op_spans = []
        self.collect_s += time.perf_counter() - t

    def _fold(self, span: Span, tracker, store) -> None:
        from py4j.protocol import Py4JJavaError

        jobs = tracker.getJobIdsForGroup(span.id)
        if span.layer is None:
            self.unattributed_jobs += len(jobs)
            return
        tot = self.totals[span.layer]
        tot["calls"] += not span.billed
        busy = []
        for jid in jobs:
            job = store.job(jid)
            tot["spark_jobs"] += 1
            tot["spark_stages"] += job.numCompletedStages() + job.numFailedStages()
            tot["spark_stages_skipped"] += job.numSkippedStages()
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                busy.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            for sid in tracker.getJobInfo(jid).stageIds:
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError as exc:
                    if "NoSuchElementException" not in str(exc.java_exception):
                        raise
                    self.unknown_stage_lookups += 1
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                tot["spark_tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["executor_run_s"] += st.executorRunTime() / 1e3
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["shuffle_fetch_wait_s"] += st.shuffleFetchWaitTime() / 1e3
                tot["spill_bytes"] += st.diskBytesSpilled()
                tot["failed_tasks"] += st.numFailedTasks()
        own = _minus([(span.t0, span.t1)], [(c.t0, c.t1) for c in span.children])
        tot["self_s"] += sum(b - a for a, b in own)
        tot["driver_s"] += sum(b - a for a, b in _minus(own, busy))

    def layer_metrics(self) -> dict[str, float]:
        out = {}
        for layer in LAYERS:
            for name, _unit, _better in LAYER_METRICS:
                out[f"{layer}.{name}"] = float(self.totals[layer][name])
        return out


#: every per-layer metric of a traced run: (name, unit, better)
ALL_LAYER_METRICS = (
    *(
        (f"{layer}.{name}", unit, better)
        for layer in LAYERS
        for name, unit, better in LAYER_METRICS
    ),
    ("pipelines.corpus.accepted_per_input", "ratio", "higher"),
    ("io.snapshots.bytes_committed", "bytes", "lower"),
    ("session.log_error_lines", "count", "lower"),
    ("unattributed.spark_jobs", "count", "lower"),
    ("trace.wall_s", "s", "lower"),
    ("trace.span_overhead_s", "s", "lower"),
)
