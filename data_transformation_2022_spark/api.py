"""Session API: the reference's four HTTP endpoints re-expressed over a
Spark-backed session object (reference ``main.py:40-138``).

Framework-agnostic by design — ``EngineSession`` methods take and return
plain dicts with the same payload shapes as the reference endpoints, and
one route table serves them over HTTP: ``create_app()`` wires it to Flask
*if* Flask is importable (it is not required), and ``create_http_server()``
to the standard library's server.

Two deliberate deviations from the reference, per SURVEY watch-list:

* **Node ids are canonical JSON** of the step path (sorted keys), not
  ``str(dict)`` strings decoded with ``eval`` (reference
  ``utils.py:245-246`` — an injection hole and a correctness trap).
* **No global mutable module state** (reference ``main.py:24-28``
  clobbers the session on every upload); sessions are objects, many can
  coexist.

Session state is one ``engine.Executor`` per ingested table — the
reference's session-lived ``resdatabuffer`` (``search.py:293-298``) and
``nid2ndata`` (``search.py:1801-1810``). ``_ingest`` builds it and dumps
column values from its one collected sample; ``search`` hands it to
``recommend()``, so a re-search (same candidates, confirmed or changed
clusters, another ``vlist``) is served from the channel-frame and bar
memos and runs only what is new; ``add_t`` / ``add_v`` take each node's
full derived frame from ``Executor.steps_frame``, the same once-per-chain
sample frame the search's channel frames read. The memos live until the
Executor is released: on re-ingest and on ``close()``, which drop its
cached sample and derived bases.
"""

from __future__ import annotations

import json
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .engine import MAX_SERIES, Executor, RecommendResult, recommend
# apply_tpath is unused here but stays importable: perfbench/trace.py
# wraps api.apply_tpath by name (api.replay)
from .operators.steps import RID, Step, apply_tpath, step_from_dict  # noqa: F401
from .profiler import TableProfile, profile_table
from .sources.readers import read_csv, read_json, read_parquet, with_rid

ROOT_ID = "root"
VALUE_DUMP_CAP = 400  # reference dumps every value of its ≤400-row table


def _json_default(o):
    """JSON fallback for engine values: all-integral horizontal folds
    carry DECIMAL(38,0) (the chosen overflow policy, operators/steps.py)
    — serialize integral decimals as ints (lossless at any magnitude
    JSON can hold), non-integral as floats; numpy scalars via .item()."""
    import decimal

    if isinstance(o, decimal.Decimal):
        return int(o) if o == o.to_integral_value() else float(o)
    if hasattr(o, "item"):
        return o.item()
    raise TypeError(f"Object of type {type(o).__name__} is not JSON serializable")


def path_id(steps: list[dict[str, Any]]) -> str:
    """Canonical node id for a step path (deterministic JSON)."""
    if not steps:
        return ROOT_ID
    return json.dumps(steps, sort_keys=True, separators=(",", ":"))


def decode_path(nid: str) -> list[dict[str, Any]]:
    if nid in (None, "", ROOT_ID):
        return []
    steps = json.loads(nid)
    if not isinstance(steps, list):
        raise ValueError(f"node id must decode to a step list, got {type(steps)}")
    return steps


class EngineSession:
    """One ingested table + its profile + the Executor whose memos serve
    every search and refinement on it."""

    def __init__(self, spark: SparkSession, sample_cap: int = 1000):
        self.spark = spark
        self.sample_cap = sample_cap
        self.df: DataFrame | None = None
        self.profile: TableProfile | None = None
        self.result: RecommendResult | None = None
        self._ex: Executor | None = None

    def close(self) -> None:
        """Release the table's Executor (cached sample, derived bases)."""
        if self._ex is not None:
            self._ex.release()
            self._ex = None

    # ---- EP1: ingest + profile (reference /vis/csv, main.py:40-73) ----

    def ingest_records(self, headers: list[str], body: list[list]) -> dict[str, Any]:
        pdf = pd.DataFrame(body, columns=pd.Index(headers))
        df = self.spark.createDataFrame(pdf)
        return self._ingest(df)

    def ingest_path(self, path: str, fmt: str | None = None) -> dict[str, Any]:
        fmt = fmt or path.rsplit(".", 1)[-1].lower()
        if fmt == "csv":
            df = read_csv(self.spark, path)
        elif fmt == "json":
            df = read_json(self.spark, path)
        elif fmt == "parquet":
            df = read_parquet(self.spark, path)
        else:
            raise ValueError(f"unsupported format: {fmt!r}")  # reference raises too
        return self._ingest(df)

    def _ingest(self, df: DataFrame) -> dict[str, Any]:
        self.close()
        self.df = with_rid(df)
        self.profile = profile_table(self.df)
        self._ex = Executor(self.df, self.sample_cap, self.profile.quantiles)
        sample_pdf, _ = self._ex._sample_local()
        body = []
        for name, cp in self.profile.columns.items():
            if name == RID:
                continue
            vals = sample_pdf[name].head(VALUE_DUMP_CAP) if name in sample_pdf else []
            body.append(
                [
                    name,
                    cp.semantic,
                    str(cp.domain or ""),
                    str(cp.max_val if cp.max_val is not None else ""),
                    str(cp.min_val if cp.min_val is not None else ""),
                    "T" if cp.is_key else "",
                    ", ".join(str(v) for v in vals),
                ]
            )
        return {
            "columns": {
                "headers": ["attribute", "type", "domain", "max", "min", "iskey", "values"],
                "body": body,
            },
            "dim_clusters": self.profile.dim_clusters,
            "sem_clusters": self.profile.name_clusters,
        }

    # ---- EP2: search (reference /vis/search, main.py:76-109) ----

    _V_GROUPS = {
        "scatter": ["num_scatter", "cat_scatter"],
        "line": ["ord_line", "ord_cat_line", "rel_line", "rel_cat_line"],
        "bar": ["sum_bar", "count_bar"],
    }

    def search(self, payload: dict[str, Any] | None = None) -> dict[str, Any]:
        if self.df is None or self.profile is None:
            raise RuntimeError("ingest a table before searching")
        payload = payload or {}
        vl = payload.get("vlist", ["scatter", "line", "bar"])
        chart_types: list[str] = []
        for group in vl:
            chart_types.extend(self._V_GROUPS.get(group, [group]))
        # user-confirmed cluster overrides (reference main.py:98-99)
        if "dim_clusters" in payload:
            self.profile.dim_clusters = payload["dim_clusters"]
        if "sem_clusters" in payload:
            self.profile.name_clusters = payload["sem_clusters"]
        self.result = recommend(
            self.df,
            profile=self.profile,
            chart_types=chart_types,
            dm_ts=payload.get("dm_ts"),
            slist=payload.get("slist"),
            executor=self._ex,
        )
        ret = json.loads(self.result.to_json())
        # presentation reorder (reference BEAUTIFYCASEFLAG=True default,
        # config.py:23; utils.decorate applied at main.py:106-107)
        if payload.get("beautify", True):
            from .engine import decorate

            ret["provenance"] = decorate(ret["provenance"])
        return ret

    # ---- EP3a: addT (reference /vis/addT, main.py:111-125) ----

    def add_t(self, pid: str, t: str, para: dict[str, Any] | None = None) -> dict[str, Any]:
        """Append one basic transformation to the node ``pid`` and return
        the extended node with a preview of its first 20 rows in RID
        order (the reference's pandas ``head``)."""
        if self._ex is None:
            raise RuntimeError("ingest a table before refining")
        para = para or {}
        parent_steps = decode_path(pid)
        step = Step(
            t=t,
            i_type=para.get("i_type", "=="),
            i=para.get("i", []),
            o_type=para.get("o_type", "append"),
            index=para.get("index") or [],
            args=para.get("args") or [],
        )
        steps = parent_steps + [step.to_dict()]
        derived = self._frame(steps)
        nid = path_id(steps)
        cols = [c for c in derived.columns if c != RID]
        preview = derived[cols].head(20).to_dict(orient="list")
        node = {"id": nid, "node_type": "D", "label": t, "columns": cols}
        return {
            "result": {
                "nodes": [node],
                "edges": [{"source": path_id(parent_steps), "target": nid, "label": t}],
                "preview": preview,
            },
            "highlight": nid,
        }

    # ---- EP3b: addV (reference /vis/addV, main.py:127-138) ----

    def add_v(self, vtype: str, channels: dict[str, str]) -> dict[str, Any]:
        """Materialize a chart from chosen channel node ids, unscored
        (reference addvisualization, search.py:1495-1794)."""
        if self._ex is None:
            raise RuntimeError("ingest a table before refining")
        frames = {ch: self._frame(decode_path(nid)) for ch, nid in channels.items()}

        if vtype in ("num_scatter", "cat_scatter"):
            data = self._join_channels(frames, ["xy", "color"])
        elif vtype in ("rel_line", "rel_cat_line"):
            data = self._join_channels(frames, ["x", "y"])
            xcol = [c for c in frames["x"].columns if c != RID][0]
            data = data.sort_values(xcol)
        elif vtype in ("ord_line", "ord_cat_line"):
            data = self._join_channels(frames, ["y"]).sort_values(RID)
        elif vtype == "sum_bar":
            xcol = [c for c in frames["x"].columns if c != RID][0]
            merged = self._join_channels(frames, ["x", "y"])
            ys = [c for c in merged.columns if c not in (RID, xcol)][:MAX_SERIES]
            data = merged.groupby(xcol, sort=True)[ys].sum().reset_index()
            data.columns = [xcol] + [f"SUM({c})" for c in ys]
        elif vtype == "count_bar":
            xcol = [c for c in frames["x"].columns if c != RID][0]
            data = (
                frames["x"].groupby(xcol, sort=True)[RID].count().reset_index(name="COUNT")
            )
        else:
            raise ValueError(f"unknown chart type {vtype!r}")

        vid = f"V:{vtype}:{json.dumps(sorted(channels.items()), sort_keys=True)}"
        node = {"id": vid, "node_type": "V", "label": vtype}
        edges = [{"source": nid, "target": vid, "label": ch} for ch, nid in channels.items()]
        return {
            "result": {
                "nodes": [node],
                "edges": edges,
                "data": data.drop(columns=[RID], errors="ignore").to_dict(orient="list"),
            },
            "highlight": vid,
        }

    def _frame(self, steps: list[dict[str, Any]]) -> pd.DataFrame:
        """A node's full derived frame from the session memo (read-only)."""
        return self._ex.steps_frame([step_from_dict(s) for s in steps])

    @staticmethod
    def _join_channels(frames: dict[str, pd.DataFrame], order: list[str]) -> pd.DataFrame:
        out: pd.DataFrame | None = None
        for ch in order:
            if ch not in frames:
                continue
            f = frames[ch]
            out = f if out is None else out.merge(f, on=RID)
        if out is None:
            raise ValueError("no channel frames")
        return out


# reference main.py:31-38
_CORS = {
    "Access-Control-Allow-Origin": "*",
    "Access-Control-Allow-Method": "*",
    "Access-Control-Allow-Headers": "x-requested-with,content-type",
}


def _routes(get_session) -> dict[str, Any]:
    """The four endpoint routes (reference Flask ``main.py:40-138``),
    path → handler(payload), served by both front-ends. ``get_session()``
    returns the EngineSession the handlers call."""
    return {
        "/vis/csv": lambda d: get_session().ingest_records(d["headers"], d["body"]),
        "/vis/search": lambda d: get_session().search(d),
        "/vis/addT": lambda d: get_session().add_t(d.get("pid"), d.get("t"), d.get("para", {})),
        "/vis/addV": lambda d: get_session().add_v(d.get("vtype"), d.get("channels")),
    }


def _respond(handler, raw: bytes) -> tuple[int, bytes]:
    """Run a route handler on a raw JSON request body: (status, JSON
    body); an error is surfaced as JSON, not a stack dump."""
    try:
        payload = json.loads(raw.decode("utf-8")) if raw else {}
        return 200, json.dumps(handler(payload), default=_json_default).encode("utf-8")
    except Exception as e:
        return 500, json.dumps({"error": str(e)}).encode("utf-8")


def create_http_server(session: EngineSession, host: str = "127.0.0.1", port: int = 0):
    """Dependency-free live HTTP server over the four endpoint routes:
    stdlib ``ThreadingHTTPServer``, the same routes, JSON payloads and
    CORS headers as ``create_app``, so the serving surface runs where
    Flask is not installed. Returns the server; callers drive it with
    ``serve_forever()`` (typically on a daemon thread) and stop it with
    ``shutdown()``. Port 0 binds an ephemeral port (``server_address``
    reports the actual one).

    Spark note: handler threads call into one shared EngineSession; the
    driver is thread-safe for these calls (the engine's own prefetch
    pool already multi-threads the session), but this shim is a smoke/
    integration surface, not a production concurrency story."""
    import http.server

    routes = _routes(lambda: session)

    class Handler(http.server.BaseHTTPRequestHandler):
        def log_message(self, *args):  # quiet: tests/smoke only
            pass

        def _head(self, code: int, headers: dict[str, str] | None = None) -> None:
            self.send_response(code)
            for k, v in {**_CORS, **(headers or {})}.items():
                self.send_header(k, v)
            self.end_headers()

        def do_OPTIONS(self):
            self._head(200)

        def do_POST(self):
            fn = routes.get(self.path)
            if fn is None:
                self._head(404)
                return
            n = int(self.headers.get("Content-Length") or 0)
            code, body = _respond(fn, self.rfile.read(n))
            self._head(
                code,
                {"Content-Type": "application/json", "Content-Length": str(len(body))},
            )
            self.wfile.write(body)

    return http.server.ThreadingHTTPServer((host, port), Handler)


def create_app(session: EngineSession | None = None):
    """Optional Flask wiring for the four endpoints (the route table
    ``create_http_server`` serves). Returns the Flask app, or raises
    ImportError when Flask is absent (the session API itself never
    needs it). Without ``session`` the first request builds one."""
    from flask import Flask, request  # gated: not a dependency

    app = Flask(__name__)
    state = {"session": session}

    def _sess() -> EngineSession:
        if state["session"] is None:
            from .session import get_spark

            state["session"] = EngineSession(get_spark())
        return state["session"]

    @app.after_request
    def cors(resp):
        resp.headers.update(_CORS)
        return resp

    for path, fn in _routes(_sess).items():

        def view(fn=fn):
            code, body = _respond(fn, request.get_data())
            return body, code, {"Content-Type": "application/json"}

        app.add_url_rule(path, path, view, methods=["POST"])
    return app
