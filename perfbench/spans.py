"""Spans around calls into the engine's layers, and Spark's event log
folded into them.

A span is (name, start, end, parent) in wall-clock epoch seconds, the
same clock Spark stamps its listener events with, so a job is attributed
to the innermost span whose interval contains its submission time. That
works for jobs submitted from any thread: ``SparkContext.setJobGroup``
is thread-local and misses the jobs ``cnpj.load.load_raw_parquet``
submits from its thread pool, a time window does not.

Spans are kept in memory and written out by the caller when the run ends.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    """In-memory span recorder. Parent is the innermost open span of the
    calling thread; a thread with no open span (a pool worker) inherits
    the innermost open span of the thread that created the tracer."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.attrs: dict = {}  # copied into every span opened from now on
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    def _parent(self) -> int | None:
        stack = self._stacks.get(threading.get_ident()) or self._stacks.get(self._main)
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            s = Span(len(self.spans), name, time.time(), parent=self._parent(),
                     attrs={**self.attrs, **attrs})
            self.spans.append(s)
            self._stacks.setdefault(threading.get_ident(), []).append(s.id)
        try:
            yield s
        except BaseException as exc:
            s.attrs["error"] = type(exc).__name__
            raise
        finally:
            s.end = time.time()
            with self._lock:
                self._stacks[threading.get_ident()].pop()

    def wrap(self, fn, name: str, probe=None):
        """fn wrapped in a span; probe(), if given, is called before the
        call and returns a callable that yields attrs after it."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                after = probe() if probe else None
                try:
                    return fn(*args, **kwargs)
                finally:
                    if after:
                        s.attrs.update(after())

        return traced

    def instrument(self, module, layer: str, probes: dict | None = None) -> list[str]:
        """Wrap every public function defined in `module` as span
        '<layer>.<fn>'. The wrapper also replaces the function in every
        loaded module of the same package that imported it by name
        (`from catalog import table`), so calls from anywhere are seen."""
        package = module.__name__.split(".")[0]
        names = []
        for attr, fn in list(vars(module).items()):
            if attr.startswith("_") or not callable(fn) or isinstance(fn, type):
                continue
            if getattr(fn, "__module__", None) != module.__name__:
                continue
            traced = self.wrap(fn, f"{layer}.{attr}", (probes or {}).get(attr))
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", None) or ""
                if name != package and not name.startswith(package + "."):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is fn:
                        setattr(mod, k, traced)
                        self._patched.append((mod, k, fn))
            names.append(attr)
        return names

    def restore(self) -> None:
        for mod, k, fn in reversed(self._patched):
            setattr(mod, k, fn)
        self._patched.clear()

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "self_s": round(self_time(self.spans, s), 6),
             **({"attrs": s.attrs} if s.attrs else {})}
            for s in self.spans
        ]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(spans: list[Span], span: Span) -> float:
    """Duration minus the part of the span's interval its children cover
    (children may overlap each other, e.g. pool threads: the union counts)."""
    end = span.end if span.end is not None else span.start
    kids = [
        (max(c.start, span.start), min(c.end, end))
        for c in spans
        if c.parent == span.id and c.end is not None and c.end > span.start and c.start < end
    ]
    return span.dur - _union_length(kids)


# --- Spark event log ----------------------------------------------------------


@dataclass
class Job:
    id: int
    app: str
    submit: float  # epoch seconds
    end: float | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    executor_cpu_s: float = 0.0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class SqlExecution:
    id: int
    app: str
    start: float
    broadcast_joins: int = 0


def event_log_files(log_dir: str) -> list[list[str]]:
    """One list of files per application: a plain log file, or the
    `eventlog_v2_*` directory of a rolling log (files in index order)."""
    apps = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        base = os.path.basename(entry)
        if os.path.isdir(entry) and base.startswith("eventlog_v2_"):
            parts = glob.glob(os.path.join(entry, "events_*"))
            parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
            apps.append(parts)
        elif os.path.isfile(entry) and not base.startswith("."):
            apps.append([entry])  # a plain log, or `.inprogress` while the app runs
    return apps


def _count_nodes(plan: dict, node: str) -> int:
    return (plan.get("nodeName") == node) + sum(
        _count_nodes(c, node) for c in plan.get("children", ())
    )


def fold_events(events: list[dict], app: str = "") -> tuple[list[Job], list[SqlExecution]]:
    """Jobs with their tasks' metrics summed (a task counts under the
    first job that listed its stage; later jobs list it as skipped), and
    SQL executions with the broadcast joins of their last (final) plan."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    sqls: dict[int, SqlExecution] = {}
    for ev in events:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = Job(ev["Job ID"], app, ev["Submission Time"] / 1000.0, stages=list(ev.get("Stage IDs", [])))
            jobs[job.id] = job
            for st in job.stages:
                stage_job.setdefault(st, job.id)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID")))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
            job.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
            job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            ex = SqlExecution(ev["executionId"], app, ev["time"] / 1000.0)
            ex.broadcast_joins = _count_nodes(ev.get("sparkPlanInfo", {}), "BroadcastHashJoin")
            sqls[ex.id] = ex
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            ex = sqls.get(ev["executionId"])
            if ex is not None:
                ex.broadcast_joins = _count_nodes(ev.get("sparkPlanInfo", {}), "BroadcastHashJoin")
    return list(jobs.values()), list(sqls.values())


def read_event_logs(log_dir: str) -> tuple[list[Job], list[SqlExecution]]:
    jobs, sqls = [], []
    for files in event_log_files(log_dir):
        events = []
        for path in files:
            with open(path, encoding="utf-8") as f:
                lines = f.read().splitlines()
            for line in lines:
                if line.strip():
                    try:
                        events.append(json.loads(line))
                    except ValueError:  # a torn last line of an in-progress log
                        continue
        j, s = fold_events(events, app=os.path.basename(files[0]))
        jobs += j
        sqls += s
    return jobs, sqls


def innermost(spans: list[Span], t: float) -> Span | None:
    """The span containing t that started last (the deepest open one)."""
    best = None
    for s in spans:
        if s.end is not None and s.start <= t <= s.end:
            if best is None or s.start >= best.start:
                best = s
    return best


def attribute(spans: list[Span], items, when=lambda x: x.submit) -> dict[int, list]:
    """span id → the items (jobs, SQL executions) whose time it contains
    innermost; items outside every span go under -1."""
    out: dict[int, list] = {}
    for it in items:
        s = innermost(spans, when(it))
        out.setdefault(s.id if s else -1, []).append(it)
    return out


def ancestors(spans: list[Span], span: Span):
    """span, its parent, its parent's parent, ..."""
    while span is not None:
        yield span
        span = spans[span.parent] if span.parent is not None else None
