"""Span tracing and Spark job attribution for the traced run.

A :class:`Tracer` records nested spans (name, start, end) on the driver.
:func:`wrap_modules` makes every call into a module's public functions a
span without touching the engine's source: it replaces each function
with a timing wrapper in its module and in every loaded module that
imported it by name.

Spark's jobs come from the event log (:func:`read_event_log`). Each job
is attributed to the innermost span open at its submission time, so
jobs started from helper threads (which carry no job group) land in the
span that launched them. Driver idle time is a span's wall minus the
union of the job intervals inside it.
"""

from __future__ import annotations

import functools
import inspect
import json
import os
import sys
import time
from dataclasses import dataclass, field


def quantile(values, q: float) -> float:
    """Linear-interpolation quantile of ``values`` (``q`` in [0, 1])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("quantile of an empty sample")
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return quantile(values, 0.5)


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, end = 0.0, lo
    for a, b in clipped:
        if b <= a:
            continue
        a = max(a, end)
        if b > a:
            total += b - a
            end = b
    return total


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    #: True for a call into an engine public function (made by
    #: :func:`wrap_modules`) or a Spark action the benchmark runs on the
    #: engine's result; False for the benchmark's grouping spans.
    call: bool = False
    children: list = field(default_factory=list)
    jobs: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.wall - sum(c.wall for c in self.children)


class Tracer:
    """Records a tree of spans; disabled tracers record nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.roots: list[Span] = []
        self._stack: list[Span] = []

    def span(self, name: str, call: bool = False):
        return _SpanContext(self, name, call)

    def _open(self, name: str, call: bool) -> "Span | None":
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.time(), call=call)
        (parent.children if parent else self.roots).append(s)
        self._stack.append(s)
        return s

    def _close(self, s: "Span | None") -> None:
        if s is not None:
            s.end = time.time()
            self._stack.pop()

    def walk(self):
        for root in self.roots:
            yield from descendants(root)


def descendants(span: Span):
    """``span`` and every span under it."""
    todo = [span]
    while todo:
        s = todo.pop()
        yield s
        todo.extend(s.children)


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str, call: bool):
        self.tracer, self.name, self.call = tracer, name, call

    def __enter__(self):
        self.span = self.tracer._open(self.name, self.call)
        return self.span

    def __exit__(self, *exc):
        self.tracer._close(self.span)
        return False


def wrap_modules(tracer: Tracer, module_names, prefix: str) -> int:
    """Make each public function of the named modules a span named
    ``<module minus prefix>.<function>``; returns how many were wrapped.
    Names bound by ``from module import function`` in any loaded module
    under ``prefix`` are rebound to the wrapper too."""
    wrapped: dict[int, object] = {}
    for mod_name in module_names:
        mod = sys.modules[mod_name]
        layer = mod_name[len(prefix):].lstrip(".")
        for attr, fn in list(vars(mod).items()):
            if (attr.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != mod_name):
                continue
            wrapper = _wrap(tracer, f"{layer}.{attr}", fn)
            setattr(mod, attr, wrapper)
            wrapped[id(fn)] = wrapper
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(prefix):
            continue
        for attr, value in list(vars(mod).items()):
            if id(value) in wrapped and inspect.isfunction(value):
                setattr(mod, attr, wrapped[id(value)])
    return len(wrapped)


def span_cost() -> float:
    """Seconds a traced call spends in span bookkeeping: a wrapped no-op
    on an enabled tracer minus the same no-op called directly."""
    calls = 20000

    def noop():
        return None

    wrapped = _wrap(Tracer(), "calibration", noop)
    t0 = time.perf_counter()
    for _ in range(calls):
        wrapped()
    t1 = time.perf_counter()
    for _ in range(calls):
        noop()
    t2 = time.perf_counter()
    return max(0.0, (t1 - t0) - (t2 - t1)) / calls


def _wrap(tracer: Tracer, name: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if not tracer.enabled:
            return fn(*args, **kwargs)
        with tracer.span(name, call=True):
            return fn(*args, **kwargs)

    return wrapper


@dataclass
class Job:
    job_id: int
    submitted: float
    completed: float = 0.0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    shuffle_bytes: int = 0
    input_bytes: int = 0


_ACC = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_bytes", 1),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
}


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of the single application logged under ``log_dir``, with the
    metrics of the stages that ran for them. Times are epoch seconds."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], ev["Submission Time"] / 1e3)
            jobs[job.job_id] = job
            for sid in ev["Stage IDs"]:
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]].completed = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            job = jobs.get(stage_job.get(info["Stage ID"]))
            if job is None:
                continue
            job.stages += 1
            job.tasks += info["Number of Tasks"]
            for acc in info.get("Accumulables", []):
                key = _ACC.get(acc.get("Name"))
                if key:
                    attr, scale = key
                    setattr(job, attr, getattr(job, attr) + int(acc["Value"]) * scale)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def _event_lines(log_dir: str):
    """Lines of the one uncompressed, non-rolling application log in
    ``log_dir``."""
    entries = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {entries}")
    with open(os.path.join(log_dir, entries[0])) as fh:
        yield from fh


def attribute(tracer: Tracer, jobs) -> list[Job]:
    """Attach each job to the innermost span open at its submission time;
    returns the jobs no span covers."""
    orphans = []
    for job in jobs:
        level, owner = tracer.roots, None
        while True:
            hit = next((s for s in level if s.start <= job.submitted < s.end), None)
            if hit is None:
                break
            owner, level = hit, hit.children
        if owner is None:
            orphans.append(job)
        else:
            owner.jobs.append(job)
    return orphans


def subtree_jobs(span: Span) -> list[Job]:
    out = list(span.jobs)
    for c in span.children:
        out.extend(subtree_jobs(c))
    return out


def call_coverage(span: Span) -> float:
    """Seconds of ``span``'s wall inside the call spans under it."""
    intervals = [(s.start, s.end) for s in descendants(span) if s.call]
    return union_length(intervals, span.start, span.end)


def driver_idle(span: Span) -> float:
    """Wall of ``span`` during which none of its jobs was running."""
    intervals = [(j.submitted, j.completed or span.end) for j in subtree_jobs(span)]
    return span.wall - union_length(intervals, span.start, span.end)
