"""HTTP round-trip tests mirroring the reference's service tests
(reference http/src/service.rs:174-317): ping, 404, execute with the
ExecuteRequest envelope, plus the completed /db/query route."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from dust_spark.http_service import DustHttpService
from dust_spark.session import DustSession


@pytest.fixture()
def service(spark):
    s = DustSession(spark)
    svc = DustHttpService(s)
    svc.start()
    host, port = svc.listening_addr
    yield f"http://{host}:{port}"
    svc.stop()
    s.close()


def _post(base, path, doc):
    req = urllib.request.Request(
        base + path,
        data=json.dumps(doc).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, resp.read().decode()


def test_ping(service):
    with urllib.request.urlopen(service + "/ping") as resp:
        assert resp.status == 200
        assert resp.read() == b"pong"


def test_unknown_route_404(service):
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(service + "/nope")
    assert e.value.code == 404


def test_execute_roundtrip(service):
    # reference test_execute_query shape (service.rs:270-316)
    _post(service, "/db/execute", {
        "request": {"transaction": False, "statements": [
            {"sql": "CREATE TABLE foo (id INTEGER NOT NULL PRIMARY KEY, name TEXT)", "parameters": []}
        ]}
    })
    status, body = _post(service, "/db/execute", {
        "request": {"transaction": False, "statements": [
            {"sql": 'INSERT INTO foo(id, name) VALUES(1, "fiona")', "parameters": []},
            {"sql": "INSERT INTO foo(name) VALUES(?)", "parameters": ["dana"]},
        ]}
    })
    assert status == 200
    assert body == '[{"last_insert_id":1,"rows_affected":1},{"last_insert_id":2,"rows_affected":1}]'


def test_query_roundtrip(service):
    _post(service, "/db/execute", {"request": {"transaction": False, "statements": [
        {"sql": "CREATE TABLE t (id INTEGER NOT NULL PRIMARY KEY, v INT)", "parameters": []},
        {"sql": "INSERT INTO t(v) VALUES(7)", "parameters": []},
    ]}})
    status, body = _post(service, "/db/query", {"request": {"transaction": False, "statements": [
        {"sql": "SELECT * FROM t", "parameters": []}
    ]}})
    assert status == 200
    assert body == '[{"columns":["id","v"],"types":["integer","integer"],"values":[[1,7]]}]'


def test_bad_json_400(service):
    req = urllib.request.Request(
        service + "/db/execute", data=b"{not json", headers={"Content-Type": "application/json"}, method="POST"
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 400


def test_pragma_call_form_over_http(service):
    """Argument-form pragmas must answer 200 (known: table_info) or an
    empty result (unknown) — never a dropped connection/500 (the parse
    error wraps into DustError → the handler's 400 path)."""
    _post(service, "/db/execute", {"request": {"transaction": False, "statements": [
        {"sql": "CREATE TABLE ti (id INTEGER NOT NULL PRIMARY KEY, s TEXT)", "parameters": []},
    ]}})
    status, body = _post(service, "/db/query", {"request": {"transaction": False, "statements": [
        {"sql": "PRAGMA table_info(ti)", "parameters": []}
    ]}})
    assert status == 200
    assert '"columns":["cid","name","type","notnull","dflt_value","pk"]' in body

    status, body = _post(service, "/db/query", {"request": {"transaction": False, "statements": [
        {"sql": "PRAGMA mmap_size(268435456)", "parameters": []}
    ]}})
    assert status == 200
    assert body == '[{"columns":[],"types":[],"values":[]}]'


def test_unexpected_error_500(service, monkeypatch):
    """A failure that is not a DustError answers 500 with its message
    instead of closing the connection without a reply."""

    def boom(self, req):
        raise RuntimeError("engine fault")

    monkeypatch.setattr(DustSession, "execute", boom)
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(service, "/db/execute", {"request": {"transaction": False, "statements": [
            {"sql": "SELECT 1", "parameters": []},
        ]}})
    assert e.value.code == 500
    assert e.value.read() == b"engine fault"
