"""Span recorder for the traced run.

The engine is not modified: :meth:`Tracer.wrap` replaces a public
function or method with a wrapper that records a span (name, layer,
start, end, parent) around every call while tracing is on.  Spans stay
in memory and are reduced to per-layer numbers once the run ends.

Spark work is attributed by **id range**, not by job group: the
DAGScheduler hands out job and stage ids from two counters, so the jobs
and stages a call launched are exactly the ids allocated between its
entry and its exit.  Nested spans claim their own ranges, so each stage
belongs to the innermost span that was open when it was created.  Stage
metrics come from the application status store, which Spark keeps with
the UI off.  (The engine's own ``TraceStep`` sets a job group per
pipeline step, which replaces any group a caller sets around it.)
"""

from __future__ import annotations

import contextlib
import functools
import time
from collections import defaultdict
from typing import Any, Callable, Dict, List, Optional


class Span:
    __slots__ = ("name", "layer", "kind", "parent", "t0", "t1",
                 "job_lo", "job_hi", "stage_lo", "stage_hi", "counts", "children_s")

    def __init__(self, name, layer, kind, parent, t0, job_lo, stage_lo):
        self.name, self.layer, self.kind, self.parent = name, layer, kind, parent
        self.t0, self.t1 = t0, None
        self.job_lo, self.stage_lo = job_lo, stage_lo
        self.job_hi = self.stage_hi = None
        self.counts: Dict[str, float] = {}
        self.children_s = 0.0

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    @property
    def self_s(self) -> float:
        return self.dur - self.children_s


class Tracer:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.dag = self.sc.dagScheduler()
        self.spans: List[Span] = []
        self.stack: List[Span] = []
        self.enabled = False

    def ids(self) -> tuple:
        return int(self.dag.nextJobId()), int(self.dag.nextStageId())

    def open(self, name: str, layer: str, kind: str = "") -> Span:
        parent = self.stack[-1] if self.stack else None
        job, stage = self.ids()
        sp = Span(name, layer, kind, parent, time.perf_counter(), job, stage)
        self.stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.t1 = time.perf_counter()
        sp.job_hi, sp.stage_hi = self.ids()
        self.stack.pop()
        if sp.parent is not None:
            sp.parent.children_s += sp.dur
        self.spans.append(sp)

    @contextlib.contextmanager
    def span(self, name: str, layer: str, kind: str = ""):
        """Record a span around a ``with`` block while tracing is on."""
        if not self.enabled:
            yield None
            return
        sp = self.open(name, layer, kind)
        try:
            yield sp
        finally:
            self.close(sp)

    def wrap(self, owner: Any, attr: str, layer: str, kind: str = "",
             count: Optional[Callable] = None) -> None:
        """Record a span around every call of ``owner.attr``.  ``count``,
        if given, is called as ``count(span, result, args, kwargs)`` after
        the span has closed, to attach counters without timing them."""
        inner = getattr(owner, attr)  # a plain function: method or module-level
        name = f"{layer}.{getattr(inner, '__qualname__', attr)}"
        tracer = self

        @functools.wraps(inner)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return inner(*args, **kwargs)
            sp = tracer.open(name, layer, kind)
            try:
                out = inner(*args, **kwargs)
            finally:
                tracer.close(sp)
            if count is not None:
                count(sp, out, args, kwargs)
            return out

        setattr(owner, attr, wrapper)

    # -- reduction --

    def stage_metrics(self, stage_ids) -> Dict[int, Dict[str, float]]:
        """Per-stage totals from the status store (after the listener
        bus has drained, so finished stages are all recorded)."""
        self.sc.listenerBus().waitUntilEmpty()
        store = self.sc.statusStore()
        out = {}
        for sid in stage_ids:
            try:
                sd = store.stageAttempt(sid, 0, False, None, False, None)._1()
            except Exception:  # evicted or never submitted (skipped)
                continue
            out[sid] = {
                "executor_run_s": sd.executorRunTime() / 1e3,
                "executor_cpu_s": sd.executorCpuTime() / 1e9,
                "shuffle_mb": (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6,
                "output_rows": float(sd.outputRecords()),
            }
        return out

    def attribute(self) -> None:
        """Give every job and stage id to the innermost span whose range
        holds it, then add the stage totals to that span's counters."""
        job_owner: Dict[int, Span] = {}
        stage_owner: Dict[int, Span] = {}
        for sp in sorted(self.spans, key=lambda s: s.t0):  # parents first
            for j in range(sp.job_lo, sp.job_hi):
                job_owner[j] = sp
            for s in range(sp.stage_lo, sp.stage_hi):
                stage_owner[s] = sp
        for sp in job_owner.values():
            sp.counts["jobs"] = sp.counts.get("jobs", 0) + 1
        metrics = self.stage_metrics(sorted(stage_owner))
        for s, sp in stage_owner.items():
            sp.counts["stages"] = sp.counts.get("stages", 0) + 1
            for k, v in metrics.get(s, {}).items():
                sp.counts[k] = sp.counts.get(k, 0.0) + v


def by_layer(spans: List[Span]) -> Dict[str, Dict[str, float]]:
    """Sum self time and counters per layer, and per ``layer:kind``."""
    out: Dict[str, Dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for sp in spans:
        for key in {sp.layer, f"{sp.layer}:{sp.kind}"}:
            agg = out[key]
            agg["self_s"] += sp.self_s
            agg["incl_s"] += sp.dur
            agg["calls"] += 1
            for k, v in sp.counts.items():
                agg[k] += v
    return out
