"""Request/response API layer with the reference's HTTP contract.

The reference exposes POST /write /read /series /select_distinct
/delete (/root/reference/lib/orestes.js:66-230). This module speaks the
same request/response *shapes* as plain dicts — an HTTP framework (none
ships in this container) would only add routing around
``handle_request``:

    write           → {"errors": [{point, error}, ...]} (this request's
                      errors only; concurrent writes to a space are
                      group-committed, see OrestesEngine.write)
    read            → {"series": [{"tags": {...}, "points": [[ms, v], ...]}]}
    read + count    → {"series": [{"tags": {...}, "count": N}]}
    /series         → {"series": [tags, ...]}
    /select_distinct→ bare array of combo objects
    /delete         → {"ok": true, "dropped_buckets": [...]}
    errors          → {"code", "message"} with an HTTP-ish status

Defaults mirror the reference: space 'default', query match_all,
start 0, end now (/root/reference/lib/orestes.js:20-22, 83-86); only
the ``count`` aggregation is accepted, anything else is a 400
(/root/reference/lib/orestes.js:143-150).
"""

from __future__ import annotations

import json
import re
import time as _time
from collections.abc import Iterator
from typing import Any

from orestes_spark.engine import OrestesEngine
from orestes_spark.esdsl import UnsupportedDslError


class ApiError(Exception):
    def __init__(self, status: int, message: str, code: str = "INTERNAL", info: dict | None = None) -> None:
        super().__init__(message)
        self.status = status
        self.message = message
        self.code = code
        self.info = info or {}

    def to_json(self) -> dict:
        """Reference error body shape
        (/root/reference/lib/middleware/error-handler.js:29-35)."""
        return {"code": self.code, "message": self.message, "info": self.info}


# Overload signals that map to 503, the analogue of the reference's
# Cassandra overload categorization
# (/root/reference/lib/cassandra/cassandra-errors.js:1-8): the backend
# is saturated, the client should back off and retry.
_OVERLOAD_PATTERNS = [
    re.compile(p)
    for p in (
        r"Cannot achieve consistency level",          # reference parity
        r"All connections on all I/O threads are busy",  # reference parity
        r"OutOfMemoryError",
        r"Total size of serialized results .* is bigger than",
        r"Futures timed out",
        r"ExecutorLostFailure",
    )
]


def categorize_error(err: Exception) -> ApiError:
    """Wrap an arbitrary engine exception in the reference's error
    contract: overload signatures become 503, everything else 500
    INTERNAL (/root/reference/lib/middleware/error-handler.js:25-35)."""
    if isinstance(err, ApiError):
        return err
    msg = str(err)
    status = 503 if any(p.search(msg) for p in _OVERLOAD_PATTERNS) else 500
    return ApiError(status, msg)


def error_response(err: Exception) -> tuple[int, dict]:
    """(status, body) for any exception — the error-handler middleware
    equivalent: status from the error when it has one, else 500; body
    {code, message, info}."""
    api_err = categorize_error(err)
    return api_err.status, api_err.to_json()


def _time_param(v, default_ms: float, name: str) -> int:
    """Reference parity (/root/reference/lib/orestes.js:85-86):
    ``new Date(req.body.start || 0).getTime()`` — so ANY falsy value
    (absent, null, 0, "", false) takes the default, numbers pass as
    epoch ms, true coerces to 1, and ISO-8601 strings parse.
    Divergence, documented: where JS yields NaN for garbage strings
    (silently emptying the read), this returns a real 400."""
    if not v:  # JS || fallback: absent/null/0/""/false → default
        return int(default_ms)
    if isinstance(v, bool):  # new Date(true) → 1 ms
        return int(v)
    if isinstance(v, (int, float)):
        return int(v)
    from orestes_spark.validation import time_key_ms

    ms = time_key_ms(v)
    if ms is None:
        raise ApiError(400, f"unparseable {name} time: {v!r}")
    return ms


def _read_params(body: dict) -> tuple[dict | None, int, int]:
    query = body.get("query") or {"match_all": {}}
    start = _time_param(body.get("start"), 0, "start")
    end = _time_param(body.get("end"), _time.time() * 1000, "end")
    return query, start, end


def validate_read_aggregations(body: dict) -> None:
    """Reference contract: when present, exactly ONE aggregation, of
    type count — two count aggs is a 400 too
    (/root/reference/lib/orestes.js:143-150 requires
    aggregations.length === 1 && type === 'count'). Request-shape
    validation, so HTTP callers can fail with a real 400 status BEFORE
    the streaming response commits 200. Malformed shapes (non-list,
    non-dict entries, empty list — [] is truthy in the reference's JS,
    so it 400s there too) are contract violations, not crashes."""
    aggregations = body.get("aggregations")
    if aggregations is None:
        return
    if (
        not isinstance(aggregations, list)
        or len(aggregations) != 1
        or not isinstance(aggregations[0], dict)
        or aggregations[0].get("type") != "count"
    ):
        raise ApiError(400, "the only supported aggregation type is count")


def stream_read(
    engine: OrestesEngine, body: dict, space: str = "default"
) -> Iterator[dict]:
    """Yield one series dict at a time — the /read incremental-delivery
    surface (/root/reference/lib/orestes.js:88-137: each series is
    written to the response as soon as its fetcher drains; the driver
    never assembles the full result). Series arrive via
    ``read_fetchers``'s toLocalIterator, one partition in flight."""
    query, start, end = _read_params(body)
    validate_read_aggregations(body)
    aggregations = body.get("aggregations")
    if aggregations:
        counts = engine.count_points(query, space, start, end)
        for row in counts.toLocalIterator():
            yield {"tags": dict(row["tags"]), "count": row["count"]}
        return
    for fetcher in engine.read_fetchers(query, space, start, end):
        points: list = []
        while True:
            result = fetcher.fetch(-1)
            points.extend([list(p) for p in result["points"]])
            if result["eof"]:
                break
        yield {"tags": fetcher.tags, "points": points}


def stream_read_response(
    engine: OrestesEngine, body: dict, space: str = "default"
) -> Iterator[str]:
    """JSON text chunks with the reference's exact wire framing
    (/root/reference/lib/orestes.js:88-97, 159-163): '{"series":[' is
    written before the first series, each series is a separate chunk,
    and a mid-stream failure terminates the ALREADY-DELIVERED partial
    results with '], "error": "..."}' instead of discarding them."""
    yield '{"series":['
    first = True
    try:
        for series in stream_read(engine, body, space):
            prefix = "" if first else ","
            first = False
            yield prefix + json.dumps(series, separators=(",", ":"))
    except Exception as err:  # noqa: BLE001 — partial-results contract
        # json.dumps, not f-string interpolation: Spark/Py4J error
        # messages routinely carry quotes, backslashes, and multi-line
        # stack traces, and a raw splice would make the terminator —
        # and the already-delivered partial results — unparseable.
        yield '], "error": ' + json.dumps(categorize_error(err).message) + "}"
        return
    yield "]}"


def handle_request(engine: OrestesEngine, endpoint: str, body: dict | list, space: str = "default") -> Any:
    """Dispatch one reference-shaped request. Raises ApiError(status,
    message) for contract violations."""
    try:
        if endpoint == "write":
            if not isinstance(body, list):
                raise ApiError(400, "write body must be an array of points")
            return {"errors": engine.write(body, space)}

        if endpoint == "read":
            # Assembled from the same incremental generator the
            # streaming response uses — series cross the driver one
            # partition at a time, never as one collect().
            return {"series": list(stream_read(engine, body, space))}

        if endpoint == "series":
            query, start, end = _read_params(body)
            rows = engine.get_stream_list(query, space, start, end).collect()
            return {"series": [dict(r["tags"]) for r in rows]}

        if endpoint == "select_distinct":
            keys = body.get("keys")
            if not keys:
                raise ApiError(400, "select_distinct requires keys")
            query = body.get("query") or {"match_all": {}}
            rows = engine.select_distinct(keys, query, space).collect()
            return [r.asDict() for r in rows]

        if endpoint == "delete":
            # Two delete modes: time-based expiry (keep_days, the
            # reference's remover contract, optionally tiered with
            # keep_rollup) or targeted series erasure (series_filter,
            # engine extension — GDPR delete).
            if "series_filter" in body:
                try:
                    n = engine.delete_series(body["series_filter"], body.get("space", space))
                except ValueError as e:  # unselective filter → contract 400
                    raise ApiError(400, str(e)) from e
                return {"ok": True, "series_removed": n}
            if "keep_days" not in body:
                raise ApiError(400, "delete requires keep_days or series_filter")
            dropped = engine.remove(
                body.get("space", space),
                int(body["keep_days"]),
                keep_rollup=bool(body.get("keep_rollup", False)),
            )
            return {"ok": True, "dropped_buckets": dropped}

        raise ApiError(404, f"unknown endpoint {endpoint!r}")
    except UnsupportedDslError as e:
        raise ApiError(400, str(e)) from e
