"""Spans for the traced run, and readers for Spark's own status stores.

A span is (name, start, end, parent, query id).  Spans are opened by the
benchmark around its calls into the engine and, in the traced run, by
wrappers installed over engine module functions (``install``); Spark job
spans are added afterwards from the application status store.  Spans stay
in memory until the run ends.

``self_times`` derives each layer's self time: a span's duration minus
the part of it covered by its children.  Job spans of one parent may
overlap (adaptive execution submits query stages concurrently), so they
are merged first; the self times of one query then sum to its wall time.
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    query: int | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []
        self.query: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].id if self._stack else None
        sp = Span(len(self.spans), name, time.time(), 0.0, parent, self.query, attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: int, **attrs) -> Span:
        sp = Span(len(self.spans), name, start, end, parent, self.query, attrs)
        self.spans.append(sp)
        return sp

    def wrap(self, module: str, attr: str, span_name: str, on_call=None) -> None:
        """Replace ``module.attr``, and every loaded engine module's own
        reference to it (``from module import attr`` at import time), by a
        wrapper that records a span per call.  ``on_call(span, args,
        result)`` may add attributes."""
        orig = getattr(importlib.import_module(module), attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(span_name) as sp:
                out = orig(*args, **kwargs)
                if on_call is not None and sp is not None:
                    on_call(sp, args, out)
                return out

        for name, mod in list(sys.modules.items()):
            if name.startswith("prestodb_presto_spark") and getattr(mod, attr, None) is orig:
                setattr(mod, attr, traced)
                self._patched.append((mod, attr, orig))

    def unwrap(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()


def install(tracer: Tracer) -> None:
    """Wrap the engine functions that are called from inside other engine
    calls, so the traced run sees them as child spans."""

    def expansion(sp, args, out):
        sp.attrs["chars_in"] = len(args[0]) if args and isinstance(args[0], str) else 0
        sp.attrs["chars_out"] = len(out) if isinstance(out, str) else 0

    tracer.wrap("prestodb_presto_spark.dialect", "translate", "dialect.translate", expansion)
    tracer.wrap(
        "prestodb_presto_spark.operators.materialize", "materialize", "operators.materialize"
    )


# --- self time ------------------------------------------------------------


def _merge(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for s, e in sorted(intervals):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    return sum(e - s for s, e in _merge(intervals))


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time: duration minus the union of its children,
    each child clipped to its parent's interval."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out: dict[int, float] = {}
    for sp in spans:
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in children.get(sp.id, [])
            if c.end > sp.start and c.start < sp.end
        ]
        out[sp.id] = (sp.end - sp.start) - _covered(kids)
    return out


def attach_jobs(tracer: Tracer, root: Span, jobs: list[dict]) -> int:
    """Add one merged ``spark.job`` span per run of overlapping jobs, under
    the innermost span of ``root``'s query that contains the job's start.
    A job without an end time (the status store can miss one) is clipped
    to the end of the span it belongs to.  Returns how many were clipped."""
    own = [s for s in tracer.spans if s.query == root.query and s.name != "spark.job"]
    groups: dict[int, list[tuple[float, float, dict]]] = {}
    clipped = 0
    for job in jobs:
        start = max(job["start"], root.start)
        holder = min(
            (s for s in own if s.start <= start < s.end),
            key=lambda s: s.end - s.start,
            default=root,
        )
        end = job["end"]
        if end is None or end > holder.end:
            clipped += end is None
            end = holder.end
        groups.setdefault(holder.id, []).append((start, max(start, end), job))
    for parent, items in groups.items():
        merged = _merge([(s, e) for s, e, _ in items])
        for s, e in merged:
            inside = [j for js, je, j in items if s <= js and je <= e]
            tracer.add("spark.job", s, e, parent, jobs=len(inside))
    return clipped


# --- Spark status stores ----------------------------------------------------

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """A rendered SQL metric ('1.2 s', '4.6 MiB', '600,000', or the
    'total (min, med, max ...)\\n<total> (...)' form) as seconds, bytes or
    a count."""
    if not text:
        return 0.0
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.match(line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


PYTHON_METRICS = {
    "time to run Python workers": "python_s",
    "time to start Python workers": "python_boot_s",
    "time to initialize Python workers": "python_boot_s",
    "number of output rows": "python_rows",
}


class SparkState:
    """Reads jobs, stages and SQL executions of one query from the
    status stores (they stay live with the UI disabled)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        gw = self.sc._gateway
        self._no_status = gw.jvm.java.util.ArrayList()
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._seen_exec = self._executions()

    def _executions(self) -> int:
        return int(self._sql.executionsCount())

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def jobs(self, group: str) -> list[dict]:
        """Jobs of ``group`` with their stages' task counts, run time,
        input, shuffle and spill bytes."""
        out = []
        for jid in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            job = {
                "id": jid,
                "start": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
                "stages": 0, "tasks": 0, "task_run_s": 0.0, "input_bytes": 0,
                "input_rows": 0, "shuffle_bytes": 0, "spill_bytes": 0,
            }
            sids = jd.stageIds()
            for i in range(sids.size()):
                attempts = self._store.stageData(
                    sids.apply(i), False, self._no_status, False, self._no_quantiles
                )
                for k in range(attempts.size()):
                    sd = attempts.apply(k)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += sd.numCompleteTasks()
                    job["task_run_s"] += sd.executorRunTime() / 1000.0
                    job["input_bytes"] += sd.inputBytes()
                    job["input_rows"] += sd.inputRecords()
                    job["shuffle_bytes"] += sd.shuffleWriteBytes()
                    job["spill_bytes"] += sd.diskBytesSpilled()
            if job["start"] is not None:
                out.append(job)
        return out

    def executions(self) -> dict:
        """SQL executions since the last call, with the Python UDF metrics."""
        total = self._executions()
        new = self._sql.executionsList(self._seen_exec, total - self._seen_exec)
        self._seen_exec = total
        out = {"sql_executions": new.size(), "python_s": 0.0, "python_boot_s": 0.0,
               "python_rows": 0.0}
        for i in range(new.size()):
            eid = new.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if "Python" not in node.name() and "Pandas" not in node.name():
                    continue
                metrics = node.metrics()
                for k in range(metrics.size()):
                    metric = metrics.apply(k)
                    key = PYTHON_METRICS.get(metric.name())
                    v = values.get(metric.accumulatorId())
                    if key and v.isDefined():
                        out[key] += parse_metric(v.get())
        return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning seconds from the DataFrame's
    QueryPlanningTracker; phases that never ran read 0."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        p = phases.get(name)
        out[name] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
    return out
