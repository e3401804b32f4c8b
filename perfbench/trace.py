"""Spans around the package's public functions, and the Spark event-log
reader that attributes executor work to them.

Nothing here edits the package: ``install`` swaps module attributes for
wrappers that record a span per call, and ``uninstall`` puts the
originals back. Spans are kept in memory and summarised at exit.

Span parents: a span opened on a thread with no open span of its own
(a pool thread of ``Executor.prefetch`` or of the profiler) takes the
innermost span open on the main thread as its parent. The benchmark is
one closed-loop client, so that span is the request that caused it.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # wall clock seconds (aligned with event-log milliseconds)
    end: float = 0.0
    parent: int | None = None
    thread: int = 0
    sid: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[Span] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, **attrs) -> Span | None:
        if not self.enabled:
            return None
        stack = self._stack()
        if stack:
            parent = stack[-1].sid
        elif self._main_stack:
            parent = self._main_stack[-1].sid
        else:
            parent = None
        with self._lock:
            sp = Span(name, time.time(), parent=parent, thread=threading.get_ident(),
                      sid=len(self.spans), attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span | None) -> None:
        if sp is None:
            return
        sp.end = time.time()
        stack = self._stack()
        if stack and stack[-1] is sp:
            stack.pop()

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.sp: Span | None = None

    def __enter__(self) -> Span | None:
        self.sp = self.tracer.open(self.name, **self.attrs)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.sp)


# ---- wrappers ----


def _wrap(tracer: Tracer, name: str, fn, served: bool = False, candidates: bool = False):
    def wrapper(*args, **kwargs):
        sp = tracer.open(name)
        try:
            out = fn(*args, **kwargs)
        finally:
            tracer.close(sp)
        if sp is not None:
            if served:
                sp.attrs["served"] = out is not None
            if candidates:
                # Executor.prefetch(self, frame_jobs, bar_jobs, ...)
                jobs = [*args[1:3], *(kwargs[k] for k in ("frame_jobs", "bar_jobs") if k in kwargs)]
                sp.attrs["candidates"] = sum(len(j) for j in jobs)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


def install(tracer: Tracer) -> list[tuple[object, str, object]]:
    """Wrap the package's public per-layer functions; returns what
    ``uninstall`` needs to restore them."""
    from data_transformation_2022_spark import api, engine
    from data_transformation_2022_spark.ml import coret, coret_local

    targets = [
        (api, "profile_table", "profiler.profile", {}),
        (engine, "profile_table", "profiler.profile", {}),
        (api, "recommend", "engine.recommend", {}),
        (engine, "enumerate_tpaths", "plans.enumerate", {}),
        (engine.Executor, "prefetch", "engine.prefetch", {"candidates": True}),
        (engine.Executor, "channel_frame", "engine.frame", {}),
        (engine.Executor, "release", "engine.release", {}),
        (engine, "eval_steps_local", "steps_local.eval", {"served": True}),
        (coret_local, "eval_coret_local", "coret_local.eval", {"served": True}),
        (engine, "apply_tpath", "steps.apply_tpath", {}),
        (api, "apply_tpath", "api.replay", {}),
        (engine, "scagnostics", "scoring.scagnostics", {}),
        (engine, "_score_scatter", "scoring.score", {}),
        (engine, "_rank_dedup", "engine.rank_dedup", {}),
    ]
    saved = []
    for owner, attr, name, kw in targets:
        orig = getattr(owner, attr)
        saved.append((owner, attr, orig))
        setattr(owner, attr, _wrap(tracer, name, orig, **kw))
    for t, fn in list(coret.CORE_T_RUNNERS.items()):
        saved.append((coret.CORE_T_RUNNERS, t, fn))
        coret.CORE_T_RUNNERS[t] = _wrap(tracer, f"coret.{t}", fn)
    return saved


def uninstall(saved: list[tuple[object, str, object]]) -> None:
    for owner, attr, orig in reversed(saved):
        if isinstance(owner, dict):
            owner[attr] = orig
        else:
            setattr(owner, attr, orig)


# ---- span arithmetic ----


def union_len(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of intervals (overlaps counted once)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def busy(spans: list[Span]) -> float:
    """Busy time summed over threads: per thread, the union of the spans'
    intervals (a nested call of the same layer is not counted twice)."""
    by_thread: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        by_thread.setdefault(s.thread, []).append((s.start, s.end))
    return sum(union_len(iv) for iv in by_thread.values())


def residual(span: Span, spans: list[Span]) -> float:
    """The span's wall time not covered by any of its direct children."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.sid and c.end > c.start
    ]
    return span.dur - union_len([k for k in kids if k[1] > k[0]])


# ---- Spark event log ----

_PY_SITE = re.compile(r"at (\S+\.py):\d+")


def callsite_module(site: str | None) -> str | None:
    """Module bucket of a job's short call site, e.g. ``collect at
    /x/data_transformation_2022_spark/profiler.py:128`` -> ``profiler``;
    None when the call site names no Python file."""
    m = _PY_SITE.search(site or "")
    if not m:
        return None
    path = m.group(1).replace("\\", "/")
    base = os.path.basename(path)[:-3]
    if "data_transformation_2022_spark" not in path:
        return "other"
    if base in ("profiler", "api", "engine", "queries"):
        return base
    if base in ("steps", "steps_local"):
        return "steps"
    if base in ("coret", "coret_local"):
        return "coret"
    return "operators"


MODULES = ("profiler", "api", "engine", "steps", "coret", "queries", "operators", "other")
OPS = ("collect", "toPandas", "count", "save", "other")


@dataclass
class Job:
    job_id: int
    submit: float  # seconds, wall clock
    end: float = 0.0
    site: str | None = None
    module: str | None = None
    op: str = "other"
    stages: list[int] = field(default_factory=list)
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    wait_s: float = 0.0


def parse_event_log(path: str) -> list[Job]:
    """Jobs of an uncompressed, non-rolling Spark event log, each with
    its call site and the summed metrics of the tasks its stages ran.

    ``wait_s`` is, per stage, the time from stage submission to its
    first task launch: how long ready work waited for a slot."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    stage_submit: dict[int, float] = {}
    stage_first: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                site = props.get("callSite.short") or None
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, site=site,
                          module=callsite_module(site))
                # JVM-side actions (count, noop save) carry no Python call
                # site; their first stage is still named after the action
                infos = ev.get("Stage Infos") or [{}]
                word = (site or infos[0].get("Stage Name") or "").split(" at ", 1)[0]
                job.op = word if word in OPS else "other"
                job.stages = list(ev.get("Stage IDs") or [])
                for sid in job.stages:
                    stage_job.setdefault(sid, job.job_id)
                jobs[job.job_id] = job
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                if info.get("Submission Time") is not None:
                    stage_submit[info["Stage ID"]] = info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                job = jobs.get(stage_job.get(sid, -1))
                if job is None:
                    continue
                info = ev.get("Task Info") or {}
                launch = info.get("Launch Time")
                if launch is not None:
                    launch /= 1000.0
                    stage_first[sid] = min(stage_first.get(sid, launch), launch)
                m = ev.get("Task Metrics") or {}
                job.task_s += m.get("Executor Run Time", 0) / 1000.0
                job.gc_s += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                job.shuffle_mb += sw.get("Shuffle Bytes Written", 0) / 1e6
                job.spill_mb += m.get("Disk Bytes Spilled", 0) / 1e6
    for sid, first in stage_first.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None and sid in stage_submit:
            job.wait_s += max(0.0, first - stage_submit[sid])
    return sorted(jobs.values(), key=lambda j: j.job_id)


def jobs_in(jobs: list[Job], spans: list[Span]) -> list[Job]:
    """Jobs submitted inside any of the given (main-thread) spans."""
    iv = sorted((s.start, s.end) for s in spans)
    return [j for j in jobs if any(s <= j.submit <= e for s, e in iv)]


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])
