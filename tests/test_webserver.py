"""REST facade: the reference's URL surface served over the golden
catalog, exercised through a real HTTP client (urllib, stdlib only)."""

from __future__ import annotations

import json
import urllib.request

import pytest

from fastdb_spark.api import FastdbAPI
from fastdb_spark.webserver import FastdbHTTPServer

from .conftest import write_golden_catalog


@pytest.fixture(scope="module")
def server(spark, golden, tmp_path_factory):
    root = tmp_path_factory.mktemp("catalog")
    write_golden_catalog(golden, root)
    api = FastdbAPI(spark, str(root), queue_root=str(root / "queue"))
    srv = FastdbHTTPServer(api).start()
    yield srv
    srv.stop()


def _post(server, path, body=None, expect_error=False):
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(body or {}).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read())
    except urllib.error.HTTPError as e:
        if not expect_error:
            raise
        return json.loads(e.read())


def test_getprocvers(server):
    out = _post(server, "/getprocvers")
    assert out["status"] == "ok"
    descs = {r["description"] for r in out["rows"]}
    assert {"pv1", "pv2", "default"} <= descs


def test_procver_detail_and_count(server):
    out = _post(server, "/procver/pv2")
    assert out["status"] == "ok" and out["description"] == "pv2"
    n = _post(server, "/count/diasource/pv2")
    assert n["status"] == "ok" and n["value"] > 0


def test_ltcv_endpoints(server):
    out = _post(server, "/getmanyltcvs/default", {"which": "patch"})
    assert out["status"] == "ok" and len(out["rows"]) > 0
    row = out["rows"][0]
    assert "rootid" in row and "midpointmjdtai" in row

    hot = _post(server, "/gethottransients/default", {"detected_since_mjd": 0.0})
    assert hot["status"] == "ok"
    # a missing required argument surfaces as a JSON 400, not a 500
    bad = _post(server, "/gethottransients/default", expect_error=True)
    assert bad["status"] == "error" and "detected_since_mjd" in bad["error"]


def test_object_search_with_body(server):
    out = _post(
        server,
        "/objectsearch/pv2",
        {"ra": 42.0, "dec": 13.0, "radius_deg": 25.0 / 3600.0, "ndets_min": 1},
    )
    assert out["status"] == "ok"
    assert len(out["rows"]) >= 1


def test_sql_passthrough_and_limit(server):
    out = _post(
        server,
        "/runsqlquery",
        {"query": "SELECT description FROM processing_version", "limit": 2},
    )
    assert out["status"] == "ok" and len(out["rows"]) == 2


def test_spectrum_cycle_over_http(server):
    ask = _post(
        server,
        "/askforspectrum",
        {
            "requester": "httptest",
            "rootids": ["00000000-0000-4000-8000-00000000aa01"],
            "priorities": [3],
            "ras": [42.0],
            "decs": [13.0],
        },
    )
    assert ask["status"] == "ok" and ask["value"] == 1
    wanted = _post(server, "/spectrawanted", {"requester": "httptest"})
    assert wanted["status"] == "ok" and len(wanted["rows"]) == 1


def test_unknown_endpoint_404_and_bad_body_400(server):
    out = _post(server, "/nosuchthing", expect_error=True)
    assert out["status"] == "error"
    out = _post(server, "/runsqlquery", {"not_query": 1}, expect_error=True)
    assert out["status"] == "error"


# --- bearer-token auth (reference rkauth gate analog) -----------------------


@pytest.fixture(scope="module")
def auth_server(spark, golden, tmp_path_factory):
    root = tmp_path_factory.mktemp("auth_catalog")
    write_golden_catalog(golden, root)
    api = FastdbAPI(spark, str(root), queue_root=str(root / "queue"))
    srv = FastdbHTTPServer(
        api, tokens={"tok-alice": "alice", "tok-bob": "bob"}
    ).start()
    yield srv
    srv.stop()


def _post_auth(server, path, body=None, token=None, expect_error=False):
    headers = {"Content-Type": "application/json"}
    if token:
        headers["Authorization"] = f"Bearer {token}"
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}{path}",
        data=json.dumps(body or {}).encode(),
        headers=headers,
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return json.loads(resp.read()), resp.status
    except urllib.error.HTTPError as e:
        if not expect_error:
            raise
        return json.loads(e.read()), e.code


def test_auth_401_without_or_with_bad_token(auth_server):
    out, code = _post_auth(auth_server, "/getprocvers", expect_error=True)
    assert code == 401 and out["status"] == "error"
    out, code = _post_auth(
        auth_server, "/getprocvers", token="wrong", expect_error=True
    )
    assert code == 401 and "unknown token" in out["error"]


def test_auth_valid_token_passes(auth_server):
    out, code = _post_auth(auth_server, "/getprocvers", token="tok-alice")
    assert code == 200 and out["status"] == "ok"


def test_auth_sql_queue_scoped_per_user(auth_server):
    sub, code = _post_auth(
        auth_server,
        "/submitsqlquery",
        {"queries": ["SELECT description FROM processing_version"],
         # userid in the body must be IGNORED under auth
         "userid": "mallory"},
        token="tok-alice",
    )
    assert code == 200
    qid = sub["value"]
    # alice can poll her own query
    own, code = _post_auth(
        auth_server, f"/checksqlquery/{qid}", token="tok-alice"
    )
    assert code == 200 and own["queryid"] == qid
    # bob polling alice's query gets a 403
    out, code = _post_auth(
        auth_server, f"/checksqlquery/{qid}", token="tok-bob", expect_error=True
    )
    assert code == 403
    out, code = _post_auth(
        auth_server,
        f"/getsqlqueryresults/{qid}",
        token="tok-bob",
        expect_error=True,
    )
    assert code == 403
