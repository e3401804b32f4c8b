"""Metric definitions: the end-to-end metrics every run reports, the
per-layer metrics of a traced run, and which end-to-end metric on which
workload each layer metric is expected to move.

``BENCHMARK.json`` lists the same names; ``test_perfbench.py`` checks
that the two agree.
"""

from __future__ import annotations

import math
import statistics

from .trace import MODULES, OPS, Job, Span, busy, jobs_in, residual
from .workloads import MIX, PassResult

# The benchmark's sessions and batch passes are "passes"; a pass is made
# of requests: ingest, search, re-search, add_t and add_v calls in a
# session, one registry query each in a batch pass.
END_TO_END = [
    # name, unit, bound, meaning
    ("setup_s", "s", 0.25,
     "Spark start + median of 3 input generations + the warm-up session or pass"),
    ("pass_s", "s", 0.25,
     "median wall of one pass: a whole session (session_s) or one batch pass (batch_s)"),
    ("geomean_ms", "ms", 0.25,
     "geometric mean of request latency over one pass, median over passes (batch_geomean_s);"
     " most of a session's requests are add_t / add_v refinements"),
]

SESSION_WORKLOADS = ("session_tall", "session_wide")
BATCH = "operator_batch"


def _both(metric: str) -> list[tuple[str, str]]:
    return [(metric, w) for w in SESSION_WORKLOADS]


# the engine's core-T runners (ml.coret.CORE_T_RUNNERS); a runner the
# package no longer has reads 0
CORE_T = ("pca", "kmeans", "lda", "lida", "mds", "tsne", "umap", "dbscan")


def layer_specs() -> list[tuple[str, str, list[tuple[str, str]]]]:
    """(name, unit, [(end-to-end metric, workload) it should move])."""
    tall, wide = [("pass_s", "session_tall")], [("pass_s", "session_wide")]
    refine = _both("geomean_ms")
    specs = [
        ("profiler.profile_s", "s", tall),
        ("profiler.jobs", "count", tall),
        ("profiler.task_s", "s", tall),
        ("api.sample_collect_s", "s", _both("pass_s")),
        ("api.replay_s", "s", refine),
        ("api.replay_calls", "count", refine),
        ("plans.enumerate_s", "s", wide),
        ("plans.candidates", "count", wide),
        ("engine.search_s", "s", _both("pass_s")),
        ("engine.research_s", "s", _both("pass_s")),
        ("engine.prefetch_s", "s", _both("pass_s")),
        ("engine.frame_calls", "count", _both("pass_s")),
        ("engine.frame_busy_s", "s", _both("pass_s")),
        ("engine.rank_dedup_s", "s", _both("pass_s")),
        ("engine.release_s", "s", _both("pass_s")),
        ("engine.residual_s", "s", _both("pass_s")),
        ("steps_local.calls", "count", wide),
        ("steps_local.served_ratio", "ratio", wide),
        ("steps_local.busy_s", "s", wide),
        ("coret_local.calls", "count", tall),
        ("coret_local.served_ratio", "ratio", tall),
        ("coret_local.busy_s", "s", tall),
    ]
    for t in CORE_T:
        specs += [(f"coret.{t}.calls", "count", wide), (f"coret.{t}.s", "s", wide)]
    specs += [
        ("steps.apply_tpath_calls", "count", _both("pass_s")),
        ("steps.apply_tpath_s", "s", _both("pass_s")),
        ("scoring.scagnostics_calls", "count", _both("pass_s")),
        ("scoring.scagnostics_s", "s", _both("pass_s")),
        ("scoring.score_s", "s", _both("pass_s")),
    ]
    every = [("pass_s", w) for w in (*SESSION_WORKLOADS, BATCH)]
    specs += [
        ("spark.jobs", "count", every),
        ("spark.task_s", "s", every),
        ("spark.shuffle_mb", "MB", every),
        ("spark.spill_mb", "MB", every),
        ("spark.gc_s", "s", every),
        ("spark.stage_wait_s", "s", every),
        ("spark.unattributed_jobs", "count", every),
        # peak RSS (VmHWM); not an end-to-end metric because the JVM's heap
        # growth makes it spread by up to a quarter between seeds
        ("mem.jvm_peak_rss_mb", "MB", every),
        ("mem.python_peak_rss_mb", "MB", every),
    ]
    for m in MODULES:
        specs += [(f"spark.{m}.jobs", "count", every), (f"spark.{m}.task_s", "s", every)]
    for op in OPS:
        specs.append((f"spark.op.{op}.jobs", "count", every))
    batch = [("pass_s", BATCH), ("geomean_ms", BATCH)]
    specs += [
        ("batch.build_s", "s", batch),
        ("batch.write_s", "s", batch),
        ("batch.plan_s", "s", batch),
        ("batch.jobs", "count", batch),
        ("batch.task_s", "s", batch),
        ("batch.shuffle_mb", "MB", batch),
    ]
    for q in MIX:
        specs += [
            (f"batch.{q}.build_s", "s", batch),
            (f"batch.{q}.write_s", "s", batch),
            (f"batch.{q}.task_s", "s", batch),
        ]
    specs += [
        ("trace.spans", "count", []),
        ("trace.pass_s", "s", []),
        ("trace.geomean_ms", "ms", []),
    ]
    return specs


# ---- statistics ----


def tail(values: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that still has at least ``beyond`` samples
    above it: (value, percentile). With fewer than ``beyond + 1``
    samples the maximum is returned as the 100th percentile."""
    xs = sorted(values)
    n = len(xs)
    if n <= beyond:
        return xs[-1], 100.0
    k = n - beyond - 1
    return xs[k], 100.0 * (k + 1) / n


def geomean(values: list[float]) -> float:
    return math.exp(statistics.fmean(math.log(max(v, 1e-9)) for v in values))


def summarize(passes: list[PassResult], light: tuple[str, ...]) -> dict:
    """End-to-end values over the timed passes (see END_TO_END), and the
    median and tail of the pooled light requests for the printed report."""
    pool = [r.latency_s * 1000 for p in passes for r in p.requests if r.kind in light and r.ok]
    pool = pool or [float("nan")]
    tail_ms, tail_pct = tail(pool)
    return {
        "pass_s": statistics.median(p.wall_s for p in passes),
        "geomean_ms": statistics.median(
            geomean([r.latency_s * 1000 for r in p.requests]) for p in passes
        ),
        "p50_ms": statistics.median(pool),
        "tail_ms": tail_ms,
        "tail_pct": tail_pct,
        "tail_n": len(pool),
    }


def by_kind(passes: list[PassResult]) -> dict[str, float]:
    """Median latency (s) of each request kind over the timed passes."""
    kinds: dict[str, list[float]] = {}
    for p in passes:
        for r in p.requests:
            kinds.setdefault(r.kind, []).append(r.latency_s)
    return {k: statistics.median(v) for k, v in kinds.items()}


# ---- per-layer values from spans + event log ----


def layer_values(specs, spans: list[Span], jobs: list[Job], passes: int,
                 window: tuple[float, float]) -> dict[str, float]:
    """Every per-layer metric, per pass (totals divided by ``passes``).
    Layers a workload never reaches read 0."""
    out = {name: 0.0 for name, _, _ in specs}
    jobs = [j for j in jobs if window[0] <= j.submit <= window[1]]

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def total(name: str) -> float:
        return sum(s.dur for s in named(name))

    prof = named("profiler.profile")
    pj = jobs_in(jobs, prof)
    out["profiler.profile_s"] = total("profiler.profile")
    out["profiler.jobs"] = len(pj)
    out["profiler.task_s"] = sum(j.task_s for j in pj)
    out["api.sample_collect_s"] = total("api.ingest") - out["profiler.profile_s"]
    out["api.replay_s"] = total("api.replay")
    out["api.replay_calls"] = len(named("api.replay"))
    out["plans.enumerate_s"] = total("plans.enumerate")
    out["plans.candidates"] = sum(s.attrs.get("candidates", 0) for s in named("engine.prefetch"))
    out["engine.search_s"] = total("api.search")
    out["engine.research_s"] = total("api.research")
    out["engine.prefetch_s"] = total("engine.prefetch")
    out["engine.frame_calls"] = len(named("engine.frame"))
    out["engine.frame_busy_s"] = busy(named("engine.frame"))
    out["engine.rank_dedup_s"] = total("engine.rank_dedup")
    out["engine.release_s"] = total("engine.release")
    out["engine.residual_s"] = sum(residual(s, spans) for s in named("engine.recommend"))
    for layer in ("steps_local", "coret_local"):
        ev = named(f"{layer}.eval")
        out[f"{layer}.calls"] = len(ev)
        out[f"{layer}.busy_s"] = busy(ev)
    for name, _, _ in specs:
        if name.startswith("coret.") and name.endswith(".calls"):
            t = name[len("coret."):-len(".calls")]
            out[name] = len(named(f"coret.{t}"))
            out[f"coret.{t}.s"] = total(f"coret.{t}")
    out["steps.apply_tpath_calls"] = len(named("steps.apply_tpath"))
    out["steps.apply_tpath_s"] = total("steps.apply_tpath")
    out["scoring.scagnostics_calls"] = len(named("scoring.scagnostics"))
    out["scoring.scagnostics_s"] = total("scoring.scagnostics")
    out["scoring.score_s"] = total("scoring.score")

    out["spark.jobs"] = len(jobs)
    out["spark.task_s"] = sum(j.task_s for j in jobs)
    out["spark.shuffle_mb"] = sum(j.shuffle_mb for j in jobs)
    out["spark.spill_mb"] = sum(j.spill_mb for j in jobs)
    out["spark.gc_s"] = sum(j.gc_s for j in jobs)
    out["spark.stage_wait_s"] = sum(j.wait_s for j in jobs)
    out["spark.unattributed_jobs"] = sum(1 for j in jobs if j.module is None)
    for j in jobs:
        if j.module is not None:
            out[f"spark.{j.module}.jobs"] += 1
            out[f"spark.{j.module}.task_s"] += j.task_s
        out[f"spark.op.{j.op}.jobs"] += 1

    queries = named("batch.query")
    for kind in ("build", "write"):
        for s in named(f"batch.{kind}"):
            q = s.attrs["query"]
            out[f"batch.{kind}_s"] += s.dur
            out[f"batch.{q}.{kind}_s"] += s.dur
    out["batch.plan_s"] = sum(s.attrs.get("plan_s", 0.0) for s in named("batch.build"))
    for s in queries:
        qj = jobs_in(jobs, [s])
        out["batch.jobs"] += len(qj)
        out["batch.task_s"] += sum(j.task_s for j in qj)
        out["batch.shuffle_mb"] += sum(j.shuffle_mb for j in qj)
        out[f"batch.{s.attrs['query']}.task_s"] += sum(j.task_s for j in qj)

    out = {k: v / passes for k, v in out.items()}
    # ratios are not per-pass quantities
    for layer in ("steps_local", "coret_local"):
        ev = named(f"{layer}.eval")
        out[f"{layer}.served_ratio"] = (
            sum(1 for s in ev if s.attrs.get("served")) / len(ev) if ev else 0.0
        )
    out["trace.spans"] = len(spans)
    return out
