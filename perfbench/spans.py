"""Spans around the program's public calls, measured from outside.

A ``Tracer`` records one span per call into a module boundary (name,
start, end, parent, run id) and keeps them in memory until the run ends.
Each span also runs its Spark actions under a job group of its own, so
after the op the status tracker gives exact job / stage / task counts per
span. ``instrument`` swaps the module attributes the CLI commands look up
for span-opening wrappers and returns a function that puts them back; the
program's code is not changed. An untraced run uses ``NullTracer``, whose
spans cost nothing, and instruments nothing.
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext
from importlib import import_module
from dataclasses import dataclass, field
from typing import Callable


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str | None  # None: opened before the SparkContext existed
    spark: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: s.duration - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


class NullTracer:
    """The untraced run's tracer: same interface, no spans, no wrappers."""

    enabled = False
    sc = None
    spans: list[Span] = []
    overhead = 0.0
    observed: dict = {}

    def span(self, name: str):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.sc = None  # the SparkContext, once the session exists
        self.overhead = 0.0  # seconds the tracer itself spent in the run
        self.observed: dict = {}  # values the wrappers saw the program compute

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None or span.group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.group, span.name)

    @contextmanager
    def span(self, name: str):
        t_enter = time.perf_counter()
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, 0.0, 0.0, parent.sid if parent else None,
                 self.run_id, None if self.sc is None else f"{self.run_id}:{self._next}")
        self._stack.append(s)
        self._set_group(s)
        s.start = time.perf_counter()
        self.overhead += s.start - t_enter
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)
            self.overhead += time.perf_counter() - s.end

    def collect_spark_counts(self, spans: list[Span]) -> None:
        """Fill ``span.spark`` from the status tracker. Waits for the
        listener bus first: job and stage events are delivered to the
        tracker asynchronously."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        tracker = self.sc.statusTracker()
        for s in spans:
            if s.group is None:
                continue
            jobs = stages = tasks = failed = 0
            for jid in tracker.getJobIdsForGroup(s.group):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is None:
                        continue
                    ran = st.numCompletedTasks + st.numFailedTasks
                    if ran:  # skipped stages keep their task count but run none
                        stages += 1
                        tasks += st.numCompletedTasks
                        failed += st.numFailedTasks
            s.spark = {"jobs": jobs, "stages": stages, "tasks": tasks,
                       "failed_tasks": failed}


def instrument(tracer: Tracer | NullTracer) -> Callable[[], None]:
    """Wrap the module functions the CLI commands call (``cli`` imports
    them by name, so the wrappers replace ``cli``'s attributes); returns
    the undo. Also records, without running anything extra, the scope
    size genic QC counts and the join route it then takes."""
    if not tracer.enabled:
        return lambda: None
    from hrdp_variant_load_pipeline_spark import cli

    # the modules themselves: ``plans`` re-exports functions of these names
    corpus_pipeline = import_module("hrdp_variant_load_pipeline_spark.plans.corpus_pipeline")
    qc_mod = import_module("hrdp_variant_load_pipeline_spark.plans.genic_qc")

    saved: list[tuple[object, str, object]] = []

    def replace(module, attr: str, fn) -> None:
        saved.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def wrap(attr: str, name, module=cli) -> None:
        fn = getattr(module, attr)

        def wrapped(*a, **kw):
            t0 = time.perf_counter()
            label = name(a) if callable(name) else name
            tracer.overhead += time.perf_counter() - t0
            with tracer.span(label):
                return fn(*a, **kw)

        replace(module, attr, wrapped)

    def append_name(args) -> str:
        kind = "details" if "sample_id" in args[0].columns else "variants"
        return f"sources.store.append_{kind}"

    wrap("read_vcf", "sources.vcf.read_vcf")
    wrap("read_store", "sources.store.read_store")
    wrap("run_load", "plans.load.run_load")
    wrap("append_to_store", append_name)
    wrap("load_metrics", "plans.load.load_metrics")
    wrap("scope_from_vcf", "plans.genic_qc.scope_from_vcf")
    wrap("merge_update", "operators.upsert.merge_update")
    wrap("commit_store_version", "sources.store.commit_store_version")
    # cmd_run_corpus imports the chain inside the function, from the module
    wrap("run_corpus_pipeline", "plans.corpus_pipeline.run_corpus_pipeline",
         module=corpus_pipeline)

    # genic_qc returns a lazy frame; the command's updates.count() is the
    # action where the interval join runs, so it gets a span of its own
    qc = cli.genic_qc

    def genic_qc(*a, **kw):
        with tracer.span("plans.genic_qc.genic_qc"):
            updates = qc(*a, **kw)
        count = updates.count

        def traced_count():
            with tracer.span("plans.genic_qc.updates_count"):
                return count()

        updates.count = traced_count
        return updates

    replace(cli, "genic_qc", genic_qc)

    # genic_qc persists the merged scope (persist returns the same frame)
    # and counts it to pick the route; the wrapper reads that count
    merge = qc_mod.merge_scope_ranges

    def merge_scope_ranges(*a, **kw):
        merged = merge(*a, **kw)
        count = merged.count

        def observed_count():
            n = count()
            tracer.observed["scope_ranges"] = n
            return n

        merged.count = observed_count
        return merged

    binned = qc_mod.interval_join_binned

    def interval_join_binned(*a, **kw):
        tracer.observed["route_binned"] = 1
        return binned(*a, **kw)

    replace(qc_mod, "merge_scope_ranges", merge_scope_ranges)
    replace(qc_mod, "interval_join_binned", interval_join_binned)

    def undo() -> None:
        for module, attr, fn in reversed(saved):
            setattr(module, attr, fn)

    return undo
