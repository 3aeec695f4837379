"""HTTP daemon tests: the reference's network surface over a real
socket — routing, spaces, streaming /read framing, chunked transfer,
and status codes (mirrors /root/reference/test/http-api.spec.js)."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from orestes_spark.server import serve

START = 1_700_000_000_000


def _post(port: int, path: str, body) -> tuple[int, object]:
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}",
        data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.status, json.loads(resp.read().decode())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read().decode())


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    engine = OrestesEngine(
        spark,
        str(tmp_path_factory.mktemp("http_wh")),
        spaces={"default": SpaceConfig(1), "other": SpaceConfig(7)},
    )
    srv = serve(engine)
    yield srv.server_address[1]
    srv.shutdown()


@pytest.fixture(scope="module")
def port(served):
    pts = [
        {"time": START + i, "value": float(i), "host": "ab"[i % 2]} for i in range(10)
    ]
    status, out = _post(served, "/write", pts)
    assert (status, out) == (200, {"errors": []})
    return served


def test_http_read_streams_series(port):
    status, out = _post(
        port, "/read", {"query": {"term": {"host": "a"}}, "start": 0, "end": START + 100}
    )
    assert status == 200
    (s,) = out["series"]
    assert s["tags"] == {"host": "a"}
    assert s["points"] == [[START + i, float(i)] for i in range(0, 10, 2)]


def test_http_read_count_aggregation(port):
    status, out = _post(
        port, "/read", {"aggregations": [{"type": "count"}], "end": START + 100}
    )
    assert status == 200
    counts = {s["tags"]["host"]: s["count"] for s in out["series"]}
    assert counts == {"a": 5, "b": 5}


def test_http_bad_aggregation_is_400_not_stream(port):
    status, out = _post(
        port, "/read", {"aggregations": [{"type": "avg"}], "end": START + 100}
    )
    assert status == 400
    assert out["code"] and "count" in out["message"]


def test_http_series_and_select_distinct(port):
    status, out = _post(port, "/series", {"end": START + 100})
    assert status == 200
    assert sorted(t["host"] for t in out["series"]) == ["a", "b"]

    status, out = _post(port, "/select_distinct", {"keys": ["host"]})
    assert status == 200
    assert sorted(r["host"] for r in out) == ["a", "b"]

    status, out = _post(port, "/select_distinct", {})
    assert status == 400


def test_http_space_routing_isolates(port):
    pts = [{"time": START, "value": 1.0, "host": "z"}]
    status, out = _post(port, "/write/other", pts)
    assert (status, out) == (200, {"errors": []})
    status, out = _post(port, "/read/other", {"end": START + 100})
    assert status == 200
    assert [s["tags"]["host"] for s in out["series"]] == ["z"]
    # default space unaffected
    status, out = _post(
        port, "/read", {"query": {"term": {"host": "z"}}, "end": START + 100}
    )
    assert out["series"] == []


def test_http_write_reports_per_point_errors(port):
    status, out = _post(port, "/write", [{"value": 1.0, "host": "x"}])
    assert status == 200
    assert len(out["errors"]) == 1 and "time" in out["errors"][0]["error"]


def test_http_unknown_endpoint_404_and_bad_json_400(port):
    status, out = _post(port, "/frobnicate", {})
    assert status == 404
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}/write", data=b"not json", method="POST"
    )
    with pytest.raises(urllib.error.HTTPError) as ei:
        urllib.request.urlopen(req, timeout=60)
    assert ei.value.code == 400


def test_http_delete_requires_keep_days(port):
    status, out = _post(port, "/delete", {})
    assert status == 400
    status, out = _post(port, "/delete", {"space": "other", "keep_days": 10000})
    assert status == 200
    assert out["ok"] is True


def test_http_malformed_aggregations_are_400(port):
    # dict instead of list, list of non-dicts, and the reference's
    # []-is-truthy 400 — all contract violations, none may crash the
    # handler or bypass validation.
    for aggs in ({"type": "count"}, ["count"], [], 5):
        status, out = _post(port, "/read", {"aggregations": aggs, "end": START + 100})
        assert status == 400, aggs
        assert "count" in out["message"]


def test_http_non_dict_read_body_is_400_before_commit(port):
    # A JSON array/scalar /read body is a shape violation: it must be
    # a REAL 400 before the 200 commits, never a mid-stream in-body
    # error terminator (the pre-r4 behavior: coerced to {} for
    # validation, then body.get on a list died after the 200).
    for body in ([1, 2], "q", 7):
        status, out = _post(port, "/read", body)
        assert status == 400, body
        assert out["code"] == "BAD_REQUEST"
        assert "JSON object" in out["message"]


def test_http_concurrent_reads(port):
    # ThreadingHTTPServer + Spark driver thread-safety: parallel
    # requests all complete with correct, independent results.
    import concurrent.futures

    def one(host):
        return _post(
            port, "/read", {"query": {"term": {"host": host}}, "end": START + 100}
        )

    with concurrent.futures.ThreadPoolExecutor(max_workers=4) as ex:
        results = list(ex.map(one, ["a", "b", "a", "b"]))
    for (status, out), host in zip(results, ["a", "b", "a", "b"]):
        assert status == 200
        (s,) = out["series"]
        assert s["tags"] == {"host": host} and len(s["points"]) == 5


def test_http_concurrent_writes_group_commit(spark, tmp_path):
    """The reference's perf-test shape: concurrent 500-point /writes to
    one space. Every reply is a 200 (no writer-lock 500s), fewer
    commits than requests land, one match-all /read returns every
    point exactly once, and a request carrying one invalid point gets
    exactly its own error while its group-mates get none."""
    import concurrent.futures
    import threading

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    engine = OrestesEngine(spark, str(tmp_path / "wh"), spaces={"default": SpaceConfig(1)})
    srv = serve(engine)
    http_port = srv.server_address[1]
    n_threads, writes_each, batch = 8, 2, 500
    start = threading.Barrier(n_threads)
    bad = (3, 1)  # (thread, write) whose batch carries one invalid time

    def body(thread, k):
        base = START + (thread * writes_each + k) * batch
        pts = [
            {"time": base + j, "value": float(thread * 1000 + j), "host": f"h{j % 10}"}
            for j in range(batch)
        ]
        if (thread, k) == bad:
            pts[7]["time"] = 2**63
        return pts

    def client(thread):
        start.wait()
        return [_post(http_port, "/write", body(thread, k)) for k in range(writes_each)]

    try:
        with concurrent.futures.ThreadPoolExecutor(max_workers=n_threads) as ex:
            replies = list(ex.map(client, range(n_threads)))
        for thread, outs in enumerate(replies):
            for k, (status, out) in enumerate(outs):
                assert status == 200, out
                if (thread, k) == bad:
                    assert [e["error"] for e in out["errors"]] == ["invalid timestamp"]
                    assert out["errors"][0]["point"]["tags"] == {"host": "h7"}
                else:
                    assert out == {"errors": []}
        commits = len(list(engine._deliveries_path("default").iterdir()))
        assert commits < n_threads * writes_each

        status, out = _post(http_port, "/read", {"end": START + 10**9})
        assert status == 200
        got = [
            (s["tags"]["host"], t, v) for s in out["series"] for t, v in s["points"]
        ]
        want = [
            (p["host"], p["time"], p["value"])
            for thread in range(n_threads)
            for k in range(writes_each)
            for p in body(thread, k)
            if p["time"] != 2**63
        ]
        assert len(got) == len(want) == n_threads * writes_each * batch - 1
        assert sorted(got) == sorted(want)
    finally:
        srv.shutdown()
        srv.server_close()
