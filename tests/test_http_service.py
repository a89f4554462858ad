"""HTTP service surface (http_service.py) — the reference's Akka server
(http:Main.scala, service/Task.scala, service/Workspace.scala,
service/Cache.scala) driven end-to-end over real sockets with urllib.
"""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

from rdfrules_spark.http_service import TaskServer

from conftest import yago_tsv

YAGO = yago_tsv()


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    ws = tmp_path_factory.mktemp("workspace")
    s = TaskServer(spark, str(ws), port=0, idle_timeout_s=600)
    s.start()
    yield s
    s.stop()


def _req(server, method, path, data=None, headers=None):
    req = urllib.request.Request(
        server.url + path, data=data, method=method,
        headers=headers or {},
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, dict(resp.headers), resp.read()
    except urllib.error.HTTPError as e:
        return e.code, dict(e.headers), e.read()


def _submit(server, tasks):
    code, headers, body = _req(
        server, "POST", "/api/task", json.dumps(tasks).encode(),
        {"Content-Type": "application/json"},
    )
    assert code == 202
    obj = json.loads(body)
    assert headers["Location"] == f"/api/task/{obj['id']}"
    return obj["id"]


def _poll(server, task_id, timeout=180):
    deadline = time.time() + timeout
    while time.time() < deadline:
        code, _h, body = _req(server, "GET", f"/api/task/{task_id}")
        if code != 202:
            return code, json.loads(body)
        time.sleep(0.5)
    raise TimeoutError(f"task {task_id} did not finish")


def test_task_submit_poll_result_then_forgotten(server):
    tid = _submit(server, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Histogram", "parameters": {"predicate": True}},
    ])
    code, obj = _poll(server, tid)
    assert code == 200
    assert obj["id"] == tid and obj["started"] and obj["finished"]
    assert any("accepted" in m["message"] for m in obj["messages"])
    # GraphSpec histogram(p) golden: 33 predicates, total = 46,654 triples
    assert len(obj["result"]) == 33
    assert sum(r["cnt"] for r in obj["result"]) == 46654
    # the result was handed out once -> the task is forgotten (Task.scala
    # Behaviors.stopped): a second GET is 404
    code, _h, _b = _req(server, "GET", f"/api/task/{tid}")
    assert code == 404


def test_task_failure_is_500_with_message(server):
    tid = _submit(server, [
        {"name": "LoadGraph",
         "parameters": {"path": "/nonexistent.tsv", "settings": "tsvRaw"}},
        {"name": "DatasetSize"},
    ])
    code, obj = _poll(server, tid)
    assert code == 500
    assert obj["error"]


def test_invalid_first_task_rejected(server):
    tid = _submit(server, [{"name": "DatasetSize"}])
    code, obj = _poll(server, tid)
    assert code == 500
    assert "Invalid first task" in obj["error"]


def test_task_delete_interrupts(server):
    tid = _submit(server, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Index"},
        {"name": "Mine", "parameters": {"thresholds": [
            {"name": "MinHeadCoverage", "value": 0.01}]}},
        {"name": "RulesetSize"},
    ])
    code, _h, body = _req(server, "DELETE", f"/api/task/{tid}")
    assert code == 202 and json.loads(body) == "accepted"
    # interrupted (or completed first on a fast host) -> terminal GET;
    # afterwards the task is forgotten
    code, _obj = _poll(server, tid)
    assert code in (200, 500)
    code, _h, _b = _req(server, "GET", f"/api/task/{tid}")
    assert code == 404


def test_unknown_task_404(server):
    code, _h, _b = _req(server, "GET", "/api/task/deadbeef")
    assert code == 404
    code, _h, _b = _req(server, "DELETE", "/api/task/deadbeef")
    assert code == 404


def test_memorycache_headers_on_every_response(server):
    _code, headers, _b = _req(server, "GET", "/api/cache")
    for h in ("MemoryCache-Total", "MemoryCache-Free",
              "MemoryCache-Items"):
        assert h in headers
        int(headers[h])  # numeric


def test_cache_info_and_clear(server):
    code, _h, body = _req(server, "GET", "/api/cache")
    assert code == 200
    info = json.loads(body)
    assert set(info) == {"total", "free", "itemsInCache"}
    code, _h, body = _req(server, "GET", "/api/cache/clear")
    assert code == 200 and json.loads(body) == "cleared"
    code, _h, body = _req(server, "DELETE", "/api/cache/someid")
    assert code == 200 and json.loads(body) == "removed"
    code, _h, body = _req(
        server, "POST", "/api/cache/someid", b"alias=other",
        {"Content-Type": "application/x-www-form-urlencoded"},
    )
    assert code == 200 and json.loads(body) == "added"
    code, _h, body = _req(
        server, "POST", "/api/cache/someid", b"alias=",
        {"Content-Type": "application/x-www-form-urlencoded"},
    )
    assert code == 400


def test_workspace_upload_tree_download_delete(server):
    # JSON upload
    code, _h, body = _req(
        server, "POST", "/api/workspace",
        json.dumps({"directory": "sub", "filename": "hello.nt",
                    "content": "<a> <b> <c> .\n"}).encode(),
        {"Content-Type": "application/json"},
    )
    assert code == 200 and json.loads(body) == "uploaded"
    # multipart upload, reference field order: directory THEN file
    boundary = "xYzZY123"
    part = (
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="directory"\r\n\r\n'
        "sub\r\n"
        f"--{boundary}\r\n"
        'Content-Disposition: form-data; name="file"; '
        'filename="multi.nt"\r\n'
        "Content-Type: application/octet-stream\r\n\r\n"
        "<x> <y> <z> .\n\r\n"
        f"--{boundary}--\r\n"
    ).encode()
    code, _h, body = _req(
        server, "POST", "/api/workspace", part,
        {"Content-Type": f"multipart/form-data; boundary={boundary}"},
    )
    assert code == 200 and json.loads(body) == "uploaded"
    # tree lists both
    code, _h, body = _req(server, "GET", "/api/workspace")
    tree = json.loads(body)
    sub = next(f for f in tree["subfiles"] if f["name"] == "sub")
    names = {f["name"] for f in sub["subfiles"]}
    assert {"hello.nt", "multi.nt"} <= names
    # download round-trips bytes
    code, headers, body = _req(
        server, "GET", "/api/workspace/sub/hello.nt"
    )
    assert code == 200 and body == b"<a> <b> <c> .\n"
    assert headers["Content-Type"] == "application/octet-stream"
    # a workspace file is loadable by a task pipeline
    ws_file = server.ws_path("sub/hello.nt")
    tid = _submit(server, [
        {"name": "LoadGraph", "parameters": {"path": ws_file}},
        {"name": "DatasetSize"},
    ])
    code, obj = _poll(server, tid)
    assert code == 200 and obj["result"][0]["size"] == 1
    # delete
    code, _h, body = _req(
        server, "DELETE", "/api/workspace/sub/hello.nt"
    )
    assert code == 200 and json.loads(body) == "deleted"
    code, _h, _b = _req(server, "GET", "/api/workspace/sub/hello.nt")
    assert code == 404


def test_workspace_path_traversal_blocked(server):
    code, _h, _b = _req(
        server, "GET", "/api/workspace/../../../etc/hostname"
    )
    assert code in (404, 500)  # never serves a file outside the workspace
    code, obj = 0, None
    code, _h, body = _req(
        server, "POST", "/api/workspace",
        json.dumps({"directory": "../../evil", "filename": "x",
                    "content": "boom"}).encode(),
        {"Content-Type": "application/json"},
    )
    assert code == 500
    assert "escapes the workspace" in json.loads(body)["message"]


def test_upload_validation_errors(server):
    code, _h, body = _req(
        server, "POST", "/api/workspace",
        json.dumps({"filename": "x", "content": "y"}).encode(),
        {"Content-Type": "application/json"},
    )
    assert code == 400 and json.loads(body)["error"] == "NoDirectoryField"
    code, _h, body = _req(
        server, "POST", "/api/workspace",
        json.dumps({"directory": "d"}).encode(),
        {"Content-Type": "application/json"},
    )
    assert code == 400 and json.loads(body)["error"] == "NoUploadingFile"


def test_concurrent_tasks_independent(server):
    """Two pipelines in flight at once: independent ids, both complete."""
    t1 = _submit(server, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "DatasetSize"},
    ])
    t2 = _submit(server, [
        {"name": "LoadGraph",
         "parameters": {"path": YAGO, "settings": "tsvRaw"}},
        {"name": "Properties"},
    ])
    assert t1 != t2
    c1, o1 = _poll(server, t1)
    c2, o2 = _poll(server, t2)
    assert c1 == 200 and o1["result"][0]["size"] == 46654
    assert c2 == 200 and len(o2["result"]) == 33
