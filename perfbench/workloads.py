"""The three workloads: two interactive sessions and an operator batch.

Each workload is driven from outside the package through its public
entry points (``EngineSession`` and the ``queries()`` registry), by one
closed-loop client: a request starts only after the previous returned.
A workload writes its generated inputs, runs one untimed warm-up, then
runs timed passes; every response of a timed pass is digested and must
equal the same response of the first timed pass.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import time
from dataclasses import dataclass, field

from . import gen

# Requests slower than this count as timed out (failed).
OP_TIMEOUT_S = 60.0


@dataclass
class Request:
    kind: str
    latency_s: float
    ok: bool
    digest: str = ""
    error: str = ""


@dataclass
class PassResult:
    wall_s: float
    requests: list[Request] = field(default_factory=list)


def _default(o):
    import decimal

    if isinstance(o, decimal.Decimal):
        return int(o) if o == o.to_integral_value() else float(o)
    if hasattr(o, "item"):
        return o.item()
    return str(o)


def canonical(payload) -> str:
    """Canonical JSON: sorted keys, floats rounded to 6 places (the
    rounding the recommend goldens use)."""

    def walk(o):
        if isinstance(o, float):
            return round(o, 6) if math.isfinite(o) else str(o)
        if isinstance(o, (list, tuple)):
            return [walk(v) for v in o]
        if isinstance(o, dict):
            return {str(k): walk(v) for k, v in o.items()}
        return o

    text = json.dumps(payload, default=_default)
    return json.dumps(walk(json.loads(text)), sort_keys=True, separators=(",", ":"))


def digest(payload) -> str:
    return hashlib.sha256(canonical(payload).encode()).hexdigest()[:16]


def _request(tracer, kind: str, fn) -> tuple[Request, object]:
    t0 = time.perf_counter()
    try:
        with tracer.span(f"api.{kind}"):
            out = fn()
    except Exception as e:  # a failed request is counted, not fatal
        return Request(kind, time.perf_counter() - t0, False, error=f"{type(e).__name__}: {e}"[:300]), None
    dt = time.perf_counter() - t0
    return Request(kind, dt, dt <= OP_TIMEOUT_S), out


# ---- interactive sessions ----


@dataclass
class SessionShape:
    rows: int
    warm_rows: int
    sample_cap: int
    per_family: int = 0  # wide table only


N_ADD_T = 12  # refinements per session: sum/rank pairs ...
N_ADD_V = 8  # ... and re-drawn line/bar charts


SESSIONS = {
    # lineitem-shaped: 11 columns, rows >> sample, table-side jobs dominate
    "session_tall": SessionShape(rows=100_000, warm_rows=2_000, sample_cap=1000),
    # training-log-shaped: 43 columns in 8 unit/name clusters, few rows
    "session_wide": SessionShape(rows=2_000, warm_rows=400, sample_cap=400, per_family=5),
}

# line/bar chart types add_v re-draws, with the channels it joins.
# rel_line / rel_cat_line are left out: their y channel replays a select
# that can repeat the x column, and add_v cannot join such frames.
_ADD_V_CHANNELS = {
    "ord_line": ("y",),
    "ord_cat_line": ("y",),
    "sum_bar": ("x", "y"),
    "count_bar": ("x",),
}


class SessionWorkload:
    light = ("add_t", "add_v")  # pooled for the printed p50 and tail

    def __init__(self, name: str, spark, seed: int, work: str, tracer):
        self.name, self.spark, self.seed, self.tracer = name, spark, seed, tracer
        self.shape = SESSIONS[name]
        self.dir = os.path.join(work, "input")
        self.path = os.path.join(self.dir, f"{name}.parquet")
        self.warm_path = os.path.join(self.dir, f"{name}_warm.parquet")
        self.script: list[dict] = []

    def _table(self, seed: int, rows: int):
        if self.name == "session_tall":
            return gen.tall_table(seed, rows)
        return gen.wide_table(seed, rows, self.shape.per_family)

    def generate(self) -> None:
        df = self._table(self.seed, self.shape.rows)
        gen.write_parquet(df, self.path)
        gen.write_parquet(self._table(self.seed + 1, self.shape.warm_rows), self.warm_path)
        numeric = [c for c in df.columns if df[c].dtype.kind in "if"]
        self.script = gen.refine_script(self.seed, numeric, N_ADD_T)

    def warm(self) -> None:
        """One whole untimed session on a small table of the same shape:
        JIT, codegen and the engine's fit caches fill here, not inside
        the first timed request."""
        res = self._session(self.warm_path)
        bad = [r for r in res.requests if not r.ok]
        if bad:
            raise RuntimeError(f"warm-up session failed: {bad[0].kind}: {bad[0].error}")

    def run_pass(self) -> PassResult:
        return self._session(self.path)

    def _session(self, path: str) -> PassResult:
        from data_transformation_2022_spark.api import EngineSession, path_id

        t0 = time.perf_counter()
        res = PassResult(0.0)
        s = EngineSession(self.spark, sample_cap=self.shape.sample_cap)

        def do(kind, fn):
            req, out = _request(self.tracer, kind, fn)
            if out is not None:
                req.digest = digest(out)
            res.requests.append(req)
            return out

        ing = do("ingest", lambda: s.ingest_path(path))
        if ing is None:
            res.wall_s = time.perf_counter() - t0
            return res
        first = do("search", lambda: s.search({}))
        # the reference UI's confirm step: the user resends the clusters
        do("research", lambda: s.search({"dim_clusters": ing["dim_clusters"]}))

        node = "root"
        for step in self.script:
            pid = node if step["extend"] else "root"
            para = {"i_type": "==", "i": step["i"], "o_type": "append", "index": step["index"]}
            out = do("add_t", lambda: s.add_t(pid, step["t"], para))
            node = out["highlight"] if out is not None else "root"

        # the first line/bar charts of the ranked answer
        charts = [c for c in (first or {}).get("charts", []) if c["chart_type"] in _ADD_V_CHANNELS]
        for c in charts[:N_ADD_V]:
            channels = {
                ch: path_id(c["channels"][ch]["steps"])
                for ch in _ADD_V_CHANNELS[c["chart_type"]]
            }
            do("add_v", lambda: s.add_v(c["chart_type"], channels))
        res.wall_s = time.perf_counter() - t0
        return res


# ---- operator batch ----

# One pass of registry queries through the noop sink. It reaches the
# relational operators (joins, cube), graph dedup, similarity, the ml
# core-T runners, profiling, sketches and the streaming layer.
MIX = [
    "tpch_q1",
    "tpch_q9_profit",
    "agg_cube",
    "join_skew_salted",
    "dedup_components",
    "sim_ivf_topk",
    "coret_pca",
    "coret_tsne",
    "profile_wasserstein",
    "sketch_kmv_distinct",
    "stream_running_totals",
]
BATCH_SCALE = 0.002  # 12,000 lineitem rows
# The batch tables are the same for every seed, so their query results
# can be checked against digests recorded once; the seed orders the pass.
BATCH_DATA_SEED = 0


def result_digest(rows) -> dict:
    """Row count + order-insensitive hash of a collected result."""
    hs = sorted(hashlib.sha256(canonical(list(r)).encode()).hexdigest() for r in rows)
    return {"rows": len(rows), "hash": hashlib.sha256("".join(hs).encode()).hexdigest()[:16]}


class BatchWorkload:
    light = tuple(MIX)

    def __init__(self, spark, seed: int, work: str, tracer, expected: dict | None = None):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.dir = os.path.join(work, "input", "batch")
        self.order = [MIX[i] for i in gen.pick(seed, "batch_order", len(MIX), len(MIX))]
        self.expected = expected or {}
        self.checked: dict[str, dict] = {}
        self.check_failures: list[str] = []

    def generate(self) -> None:
        for name, df in gen.batch_tables(BATCH_DATA_SEED, BATCH_SCALE).items():
            gen.write_parquet(df, os.path.join(self.dir, f"{name}.parquet"))

    def warm(self) -> None:
        """The untimed pass: collect every query once and check its rows
        against the recorded digest."""
        from data_transformation_2022_spark.queries import queries

        qs = queries()
        for q in self.order:
            try:
                got = result_digest(qs[q](self.spark, self.dir).collect())
            except Exception as e:
                self.check_failures.append(f"{q}: {type(e).__name__}: {str(e)[:200]}")
                continue
            self.checked[q] = got
            want = self.expected.get(q)
            if want is not None and want != got:
                self.check_failures.append(f"{q}: digest {got} != recorded {want}")

    def run_pass(self) -> PassResult:
        from data_transformation_2022_spark.queries import queries

        qs = queries()
        res = PassResult(0.0)
        t0 = time.perf_counter()
        for q in self.order:
            res.requests.append(self._query(qs, q))
        res.wall_s = time.perf_counter() - t0
        return res

    def _query(self, qs, q: str) -> Request:
        t0 = time.perf_counter()
        tr = self.tracer
        try:
            with tr.span("batch.query", query=q):
                with tr.span("batch.build", query=q) as sp:
                    df = qs[q](self.spark, self.dir)
                    if sp is not None:  # traced runs only
                        sp.attrs["plan_s"] = plan_seconds(df)
                with tr.span("batch.write", query=q):
                    df.write.format("noop").mode("overwrite").save()
        except Exception as e:
            return Request(q, time.perf_counter() - t0, False, error=f"{type(e).__name__}: {e}"[:300])
        dt = time.perf_counter() - t0
        return Request(q, dt, dt <= OP_TIMEOUT_S)



def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``, read
    from its QueryExecution's phase tracker (forces planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    total = 0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0
