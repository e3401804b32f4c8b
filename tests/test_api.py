"""Session API tests: the four endpoint behaviors (ingest/profile,
search, addT, addV) driven as plain dict-in/dict-out calls."""

from __future__ import annotations

import json

import pytest

from data_transformation_2022_spark.api import EngineSession, decode_path, path_id


@pytest.fixture(scope="module")
def session(spark, sf_dir):
    s = EngineSession(spark, sample_cap=500)
    s.ingest_path(f"{sf_dir}/nation.parquet")
    return s


def test_ingest_profile_shape(session, sf_dir):
    s = EngineSession(session.spark, sample_cap=500)
    ret = s.ingest_path(f"{sf_dir}/region.parquet")
    assert ret["columns"]["headers"][0] == "attribute"
    names = [row[0] for row in ret["columns"]["body"]]
    assert "r_regionkey" in names and "r_name" in names
    key_rows = [row for row in ret["columns"]["body"] if row[5] == "T"]
    assert key_rows, "region must have a detected key column"


def test_search_returns_ranked_charts(spark, sf_dir):
    # customer: c_mktsegment is nominal (5 distinct / 1500 rows) → bars exist
    s = EngineSession(spark, sample_cap=500)
    s.ingest_path(f"{sf_dir}/customer.parquet")
    ret = s.search({"vlist": ["bar"]})
    assert "charts" in ret and "provenance" in ret
    assert len(ret["charts"]) >= 1
    scores = [c["score"] for c in ret["charts"]]
    assert scores == sorted(scores, reverse=True)
    assert all(c["chart_type"] in ("sum_bar", "count_bar") for c in ret["charts"])


def test_add_t_replays_and_extends(session):
    ret = session.add_t(
        "root",
        "sum",
        {"i_type": "==", "i": ["n_nationkey", "n_regionkey"], "o_type": "append", "index": ["keysum"]},
    )
    nid = ret["highlight"]
    steps = decode_path(nid)
    assert steps[-1]["t"] == "sum" and path_id(steps) == nid
    assert "keysum" in ret["result"]["nodes"][0]["columns"]
    ret2 = session.add_t(nid, "rank", {"i_type": "==", "i": ["keysum"], "o_type": "append"})
    assert len(decode_path(ret2["highlight"])) == 2
    prev = ret2["result"]["preview"]
    assert "rank keysum" in prev and len(prev["rank keysum"]) > 0


def test_add_v_count_bar(session):
    x_id = path_id(
        [{"t": "select", "i_type": "==", "i": ["n_regionkey"], "o_type": "new_table", "index": [], "args": []}]
    )
    ret = session.add_v("count_bar", {"x": x_id})
    data = ret["result"]["data"]
    assert set(data) == {"n_regionkey", "COUNT"}
    assert sum(data["COUNT"]) == 25  # nation has 25 rows at every SF


def test_node_ids_are_json_not_eval(session):
    nid = session.add_t("root", "rank", {"i_type": "==", "i": ["n_nationkey"], "o_type": "append"})[
        "highlight"
    ]
    parsed = json.loads(nid)  # must be plain JSON — no eval anywhere
    assert isinstance(parsed, list) and parsed[0]["t"] == "rank"


def test_search_cat_lines_present(session):
    ret = session.search({"vlist": ["line"]})
    types = {c["chart_type"] for c in ret["charts"]}
    assert types <= {"rel_line", "ord_line", "rel_cat_line", "ord_cat_line"}
    assert len(ret["charts"]) >= 1


# ---------------------------------------------------------------------------
# HTTP integration: the four routes served end-to-end by both front-ends,
# the stdlib server behind real sockets and the Flask app through its test
# client. Both read one route table (api._routes).
# ---------------------------------------------------------------------------

_CORS = {
    "Access-Control-Allow-Origin": "*",
    "Access-Control-Allow-Method": "*",
    "Access-Control-Allow-Headers": "x-requested-with,content-type",
}


def _drive_four_routes(post) -> None:
    """Post to every route, an unknown route and a bad payload through
    ``post(route, payload) -> (status, headers, JSON body or None)``;
    every answer carries the CORS headers."""

    def call(route: str, payload: dict, want: int = 200):
        code, headers, body = post(route, payload)
        assert code == want, (route, code, body)
        for k, v in _CORS.items():
            assert headers[k] == v, (route, k)
        return body

    # EP1: ingest via records (reference /vis/csv shape)
    ingest = call(
        "/vis/csv",
        {
            "headers": ["name", "grp", "v1", "v2"],
            "body": [[f"row{i}", "ab"[i % 2], i, i * 2] for i in range(40)],
        },
    )
    assert ingest["columns"]["headers"][0] == "attribute"
    assert {r[0] for r in ingest["columns"]["body"]} >= {"name", "grp", "v1"}

    # EP2: search
    found = call("/vis/search", {"vlist": ["bar"]})
    assert "charts" in found and "provenance" in found

    # EP3a: addT
    added = call(
        "/vis/addT",
        {"pid": "root", "t": "sum",
         "para": {"i_type": "==", "i": ["v1", "v2"], "o_type": "append",
                  "index": ["vsum"]}},
    )
    assert "vsum" in added["result"]["nodes"][0]["columns"]

    # EP3b: addV
    x_id = path_id(
        [{"t": "select", "i_type": "==", "i": ["grp"], "o_type": "new_table",
          "index": [], "args": []}]
    )
    chart = call("/vis/addV", {"vtype": "count_bar", "channels": {"x": x_id}})
    assert set(chart["result"]["data"]) == {"grp", "COUNT"}
    assert sum(chart["result"]["data"]["COUNT"]) == 40

    # unknown route → 404, bad payload → 500 JSON error (no crash)
    call("/vis/nope", {}, want=404)
    err = call("/vis/addV", {"vtype": "mystery", "channels": {}}, want=500)
    assert "error" in err


def test_http_server_all_four_routes(spark):
    import threading
    import urllib.error
    import urllib.request

    from data_transformation_2022_spark.api import create_http_server

    server = create_http_server(EngineSession(spark, sample_cap=500))
    port = server.server_address[1]
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()

    def post(route: str, payload: dict):
        req = urllib.request.Request(
            f"http://127.0.0.1:{port}{route}",
            data=json.dumps(payload).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                return resp.status, resp.headers, json.loads(resp.read().decode())
        except urllib.error.HTTPError as e:
            raw = e.read().decode()
            return e.code, e.headers, json.loads(raw) if raw else None

    try:
        _drive_four_routes(post)
    finally:
        server.shutdown()
        server.server_close()


def test_flask_app_all_four_routes(spark):
    pytest.importorskip("flask")
    from data_transformation_2022_spark.api import create_app

    client = create_app(EngineSession(spark, sample_cap=500)).test_client()

    def post(route: str, payload: dict):
        resp = client.post(route, data=json.dumps(payload), content_type="application/json")
        return resp.status_code, resp.headers, resp.get_json(silent=True)

    _drive_four_routes(post)
