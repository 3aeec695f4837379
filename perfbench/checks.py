"""Answer checks. Each returns a list of problems; an empty list passes.

Pure Python over plain values, so the checks themselves can be tested
without Spark or a server (see test_checks.py).
"""

from __future__ import annotations

import json
import math
from collections import Counter


def _tag_key(tags: dict) -> tuple:
    return tuple(sorted(tags.items()))


def _point_key(p: dict) -> tuple:
    tags = {k: v for k, v in p.items() if k not in ("time", "value")}
    return (int(p["time"]), float(p["value"]), _tag_key(tags))


def check_ingest(acked: list[list[dict]], unacked: list[list[dict]], read_back: dict) -> list[str]:
    """Every acknowledged point reads back exactly once, and nothing
    else does: no point of an unacknowledged request, no duplicate.
    ``read_back`` is a /read response body."""
    if "error" in read_back:
        return [f"read-back failed: {read_back['error']}"]
    got = Counter(
        (int(t), float(v), _tag_key(s["tags"]))
        for s in read_back.get("series", [])
        for t, v in s["points"]
    )
    want = {_point_key(p) for batch in acked for p in batch}
    unacked_keys = {_point_key(p) for batch in unacked for p in batch}
    missing = len(want - got.keys())
    dupes = sum(c - 1 for c in got.values() if c > 1)
    leaked = sum(1 for k in got if k not in want and k in unacked_keys)
    unknown = sum(1 for k in got if k not in want and k not in unacked_keys)
    problems = []
    if missing:
        problems.append(f"{missing} acknowledged points missing")
    if dupes:
        problems.append(f"{dupes} points read back more than once")
    if leaked:
        problems.append(f"{leaked} points of unacknowledged requests visible")
    if unknown:
        problems.append(f"{unknown} points that were never sent read back")
    return problems


class ReadExpectations:
    """Answers to the read_http requests, computed from the generated
    points: per series, its points within a time range and tag filter."""

    def __init__(self, points: list[dict]) -> None:
        self.points = [_point_key(p) for p in points]
        self._answers: dict[str, dict[tuple, list[tuple]]] = {}

    def _select(self, body: dict) -> dict[tuple, list[tuple]]:
        start, end = body.get("start", 0), body["end"]
        term = (body.get("query") or {}).get("term", {})
        key = repr((start, end, sorted(term.items())))
        if key in self._answers:
            return self._answers[key]
        out: dict[tuple, list[tuple]] = {}
        for t, v, tags in self.points:
            if start <= t < end and all(dict(tags).get(k) == val for k, val in term.items()):
                out.setdefault(tags, []).append((t, v))
        for pts in out.values():
            pts.sort()
        self._answers[key] = out
        return out

    def check(self, op: str, body: dict, resp: object) -> list[str]:
        if op == "select_distinct":
            keys = body["keys"]
            want = {tuple(dict(tags).get(k) for k in keys) for _, _, tags in self.points}
            got = [tuple(r.get(k) for k in keys) for r in resp]
            if len(got) != len(set(got)):
                return ["select_distinct returned duplicate combinations"]
            return [] if set(got) == want else [f"select_distinct: {len(got)} combos, want {len(want)}"]
        if not isinstance(resp, dict) or "error" in resp:
            return [f"{op}: error response {str(resp)[:200]}"]
        want = self._select(body)
        series = resp.get("series", [])
        if op == "series":
            got = [_tag_key(s) for s in series]
            if len(got) != len(set(got)):
                return ["series returned a tag set twice"]
            return [] if set(got) == set(want) else [f"series: {len(got)} tag sets, want {len(want)}"]
        got_keys = [_tag_key(s["tags"]) for s in series]
        if len(got_keys) != len(set(got_keys)):
            return [f"{op}: a series appears twice"]
        if set(got_keys) != set(want):
            return [f"{op}: {len(got_keys)} series, want {len(want)}"]
        for s in series:
            pts = want[_tag_key(s["tags"])]
            if op == "read_count":
                if s["count"] != len(pts):
                    return [f"{op}: series {s['tags']} count {s['count']}, want {len(pts)}"]
            elif [(int(t), float(v)) for t, v in s["points"]] != pts:
                return [f"{op}: series {s['tags']} has {len(s['points'])} points, want {len(pts)}"]
        return []


def check_read(expect: ReadExpectations, op: str, body: dict, raw: bytes) -> list[str]:
    """Check one raw read_http response body."""
    try:
        resp = json.loads(raw)
    except ValueError:
        return [f"{op}: response is not JSON: {raw[:200]!r}"]
    return expect.check(op, body, resp)


def plain(v):
    """A Spark result value as plain Python: Rows become dicts, so a
    struct compares equal to DuckDB's dict for the same struct."""
    if hasattr(v, "asDict"):
        return {k: plain(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [plain(x) for x in v]
    if isinstance(v, dict):
        return {k: plain(x) for k, x in v.items()}
    return v


def _norm_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm_value(x)) for k, x in v.items()))
    return v


def _norm_rows(rows: list[tuple], cols: list[str]) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_value(r[i]) for i in order) for r in rows), key=repr)


def check_query(name: str, cols: list[str], rows: list[tuple], oracle_cols: list[str], oracle_rows: list[tuple]) -> list[str]:
    """Spark's answer equals the DuckDB oracle's: the same column names
    and, in any order, the same rows (floats to 9 decimals)."""
    if sorted(cols) != sorted(oracle_cols):
        return [f"{name}: columns {sorted(cols)} != oracle {sorted(oracle_cols)}"]
    if len(rows) != len(oracle_rows):
        return [f"{name}: {len(rows)} rows, oracle {len(oracle_rows)}"]
    got, want = _norm_rows(rows, cols), _norm_rows(oracle_rows, oracle_cols)
    if got != want:
        diff = next((a, b) for a, b in zip(got, want) if a != b)
        return [f"{name}: values differ from oracle, first {diff}"]
    return []
