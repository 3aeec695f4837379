"""The benchmark's answer checks catch wrong answers, and its ingest
clients resend only writer-lock refusals.

    python3 -m pytest perfbench/test_checks.py -q

No Spark or server needed: the checks are pure functions of the
generated inputs and the responses.
"""

from __future__ import annotations

import copy
import json
import random
from pathlib import Path

import checks
import datagen
import layers
import loadgen
import run
from spans import Span


def _read_response(batches: list[list[dict]]) -> dict:
    """A /read body holding exactly these points, grouped by series."""
    series: dict[tuple, list] = {}
    for batch in batches:
        for p in batch:
            tags = {k: v for k, v in p.items() if k not in ("time", "value")}
            series.setdefault(tuple(sorted(tags.items())), []).append([p["time"], p["value"]])
    return {"series": [{"tags": dict(k), "points": sorted(v)} for k, v in series.items()]}


def test_ingest_check_passes_exact_read_back():
    acked = [datagen.ingest_batch(7, b) for b in (0, 1, 5)]
    unacked = [datagen.ingest_batch(7, 2)]
    assert checks.check_ingest(acked, unacked, _read_response(acked)) == []


def test_ingest_check_fails_on_a_dropped_point():
    acked = [datagen.ingest_batch(7, b) for b in (0, 1)]
    back = _read_response(acked)
    back["series"][0]["points"].pop()
    assert any("missing" in p for p in checks.check_ingest(acked, [], back))


def test_ingest_check_fails_on_a_duplicate_or_leaked_point():
    acked = [datagen.ingest_batch(7, 0)]
    unacked = [datagen.ingest_batch(7, 1)]
    back = _read_response(acked + [unacked[0][:1]])
    assert any("unacknowledged" in p for p in checks.check_ingest(acked, unacked, back))
    back = _read_response(acked)
    back["series"][0]["points"].append(back["series"][0]["points"][0])
    assert any("more than once" in p for p in checks.check_ingest(acked, [], back))


def test_ingest_client_resends_only_writer_lock_refusals(monkeypatch):
    replies = [
        (500, b'{"code":500,"message":"space \'s\' is locked by a live writer (pid 1)"}'),
        (500, b'{"code":500,"message":"space \'s\' is locked by a live writer (pid 1)"}'),
        (200, b'{"errors":[]}'),
        (500, b'{"code":500,"message":"disk full"}'),
    ]
    sent = []

    def fake_post(conn, path, body, headers):
        sent.append(headers["X-Request-Id"])
        status, raw = replies[len(sent) - 1]
        return {"status": status, "raw": raw}

    monkeypatch.setattr(loadgen, "_post", fake_post)
    monkeypatch.setattr(loadgen, "RETRY_BACKOFF_S", (0.0, 0.0))
    rng = random.Random(0)
    acked = loadgen._deliver(None, "/write/s", [], {"X-Request-Id": "c0-0"}, rng)
    assert (acked["status"], acked["retries"], sent) == (200, 2, ["c0-0.0", "c0-0.1", "c0-0.2"])
    failed = loadgen._deliver(None, "/write/s", [], {"X-Request-Id": "c0-1"}, rng)
    assert (failed["status"], failed["retries"], sent[3:]) == (500, 0, ["c0-1.0"])


def _small_read_set():
    points = datagen.read_points(3)[:2000]
    return points, checks.ReadExpectations(points)


def test_read_checks_pass_exact_answers():
    points, expect = _small_read_set()
    end = datagen.READ_T0 + datagen.READ_DAYS * datagen.DAY_MS
    body = {"start": datagen.READ_T0, "end": end}
    full = _read_response([points])
    assert expect.check("read_all", body, full) == []
    counts = {"series": [{"tags": s["tags"], "count": len(s["points"])} for s in full["series"]]}
    assert expect.check("read_count", {**body, "aggregations": [{"type": "count"}]}, counts) == []
    assert expect.check("series", body, {"series": [s["tags"] for s in full["series"]]}) == []
    combos = {(p["t0"], p["t1"]) for p in points}
    sd = [{"t0": a, "t1": b} for a, b in combos]
    assert expect.check("select_distinct", {"keys": ["t0", "t1"]}, sd) == []


def test_read_checks_fail_on_wrong_answers():
    points, expect = _small_read_set()
    end = datagen.READ_T0 + datagen.READ_DAYS * datagen.DAY_MS
    body = {"start": datagen.READ_T0, "end": end}
    full = _read_response([points])

    altered = copy.deepcopy(full)
    altered["series"][0]["points"][0][1] += 1.0
    assert expect.check("read_all", body, altered)

    dropped = copy.deepcopy(full)
    dropped["series"].pop()
    assert expect.check("read_all", body, dropped)

    term = {"query": {"term": {"t0": "v1"}}, "start": datagen.READ_T0, "end": end}
    assert expect.check("read_recent", term, full)  # filter not applied

    counts = {"series": [{"tags": s["tags"], "count": len(s["points"]) + 1} for s in full["series"]]}
    assert expect.check("read_count", body, counts)
    assert expect.check("read_all", body, {"series": [], "error": "boom"})


def test_query_check_fails_on_an_altered_row():
    cols = ["k", "v"]
    rows = [("a", 1.0), ("b", 2.5), ("c", None)]
    assert checks.check_query("q", cols, rows, ["v", "k"], [(2.5, "b"), (None, "c"), (1.0, "a")]) == []
    assert checks.check_query("q", cols, [("a", 1.0), ("b", 2.6), ("c", None)], cols, rows)
    assert checks.check_query("q", cols, rows[:2], cols, rows)
    assert checks.check_query("q", ["k", "w"], rows, cols, rows)


def test_layer_times_charge_each_span_once():
    spans = []

    def span(name, parent, busy_s, **attrs):
        s = Span(len(spans) + 1, name, parent, "c0-0")
        s.busy, s.attrs = busy_s, attrs
        spans.append(s)
        return s

    root = span("server.request", None, 1.0, op="read_all", request_bytes=52)
    fetchers = span("engine.read_fetchers", root, 0.6)
    span("engine.read", fetchers, 0.2)
    span("spark.toLocalIterator", fetchers, 0.3)

    class Window:
        extra: dict = {}
        spark = type("Stages", (), {"group_totals": lambda self, group: {"input_records": 0}})()

    out = layers.span_layers(spans, Window(), datagen.READ_OPS, "read_recent")
    assert out["engine.plan_ms"] == 200.0
    assert out["engine.drain_ms"] == 300.0


def test_benchmark_json_names_what_the_run_prints():
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["unit"] for m in spec["end_to_end"]] == list(run.E2E_UNITS.values())
    assert [m["name"] for m in spec["per_layer"]] == layers.names()
    assert [m["unit"] for m in spec["per_layer"]] == [layers.unit(n) for n in layers.names()]
