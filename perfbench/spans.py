"""Spans recorded around the calls into each layer's public entry points.

``install(recorder, spark)`` wraps, from outside the package, the
boundaries server -> api -> validation / esdsl -> engine -> Spark
actions (``DataFrame.collect`` / ``toLocalIterator``) and returns a
function that restores the originals. Only the traced run installs it;
the measured run executes the unmodified program.

A span has a name, start, end, parent, request id and ``busy`` time.
Calls that return generators are timed only while the caller is inside
``next()``, so a streaming layer is not charged for the time its
consumer spends writing to the socket. A span's self time is its busy
time minus its direct children's busy time.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from collections.abc import Callable


class Span:
    __slots__ = ("id", "name", "parent", "rid", "start", "end", "busy", "child", "attrs")

    def __init__(self, sid: int, name: str, parent: "Span | None", rid: str | None) -> None:
        self.id = sid
        self.name = name
        self.parent = parent
        self.rid = rid
        self.start = self.end = 0.0
        self.busy = 0.0  # seconds inside the span
        self.child = 0.0  # seconds inside direct children
        self.attrs: dict = {}

    @property
    def self_s(self) -> float:
        return self.busy - self.child

    def to_json(self) -> dict:
        return {
            "id": self.id,
            "name": self.name,
            "parent": self.parent.id if self.parent else None,
            "rid": self.rid,
            "start": self.start,
            "end": self.end,
            "busy_ms": self.busy * 1e3,
            "self_ms": self.self_s * 1e3,
            **self.attrs,
        }


class Recorder:
    """Spans kept in memory; written out once the run ends."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def rid(self) -> str | None:
        return getattr(self._local, "rid", None)

    @rid.setter
    def rid(self, value: str | None) -> None:
        self._local.rid = value

    def open(self, name: str) -> Span:
        stack = self._stack()
        span = Span(next(self._ids), name, stack[-1] if stack else None, self.rid)
        with self._lock:
            self.spans.append(span)
        return span

    def enter(self, span: Span) -> float:
        self._stack().append(span)
        t = time.perf_counter()
        if not span.start:
            span.start = t
        return t

    def exit(self, span: Span, t0: float) -> None:
        t = time.perf_counter()
        stack = self._stack()
        stack.pop()
        span.end = t
        span.busy += t - t0
        if stack:
            stack[-1].child += t - t0

    def call(self, name: str, fn: Callable, *args, **kwargs):
        span = self.open(name)
        t0 = self.enter(span)
        try:
            return fn(*args, **kwargs), span
        except BaseException as e:
            span.attrs["raised"] = type(e).__name__
            raise
        finally:
            self.exit(span, t0)

    def iterate(self, name: str, it, on_item: Callable | None = None):
        """Re-yield ``it``, timing each ``next()`` under one span."""
        span = self.open(name)
        it = iter(it)
        while True:
            t0 = self.enter(span)
            try:
                item = next(it)
            except StopIteration:
                return
            except BaseException as e:
                span.attrs["raised"] = type(e).__name__
                raise
            finally:
                self.exit(span, t0)
            if on_item is not None:
                on_item(span, item)
            yield item


def _patch(restore: list, owner, attr: str, make: Callable[[Callable], Callable]) -> None:
    original = getattr(owner, attr)
    restore.append((owner, attr, original))
    setattr(owner, attr, functools.wraps(original)(make(original)))


def install(rec: Recorder, spark) -> Callable[[], None]:
    """Wrap the layer boundaries; returns the undo function."""
    from orestes_spark import api, esdsl, server, validation
    from orestes_spark.engine import OrestesEngine

    restore: list = []
    sc = spark.sparkContext
    request_ids = itertools.count(1)

    def traced(name: str, on_return: Callable | None = None):
        def make(fn):
            def wrapper(*args, **kwargs):
                result, span = rec.call(name, fn, *args, **kwargs)
                if on_return is not None:
                    on_return(span, args, result)
                return result

            return wrapper

        return make

    def traced_gen(name: str, on_item: Callable | None = None):
        def make(fn):
            def wrapper(*args, **kwargs):
                return rec.iterate(name, fn(*args, **kwargs), on_item)

            return wrapper

        return make

    # server: one span per request; the request id tags the Spark job group.
    class _CountingWriter:
        def __init__(self, raw, span: Span) -> None:
            self._raw, self._span = raw, span

        def write(self, data) -> int:
            attrs = self._span.attrs
            if "ttfb_ms" not in attrs:
                attrs["ttfb_ms"] = (time.perf_counter() - self._span.start) * 1e3
            attrs["response_bytes"] = attrs.get("response_bytes", 0) + len(data)
            return self._raw.write(data)

        def __getattr__(self, name):
            return getattr(self._raw, name)

    def server_request(fn):
        def do_post(handler):
            rid = handler.headers.get("X-Request-Id") or f"r{next(request_ids)}"
            rec.rid = rid
            sc.setJobGroup(rid, handler.path)
            span = rec.open("server.request")
            span.attrs.update(
                path=handler.path,
                op=handler.headers.get("X-Op", ""),
                request_bytes=int(handler.headers.get("Content-Length") or 0),
            )
            raw = handler.wfile
            handler.wfile = _CountingWriter(raw, span)
            t0 = rec.enter(span)
            try:
                return fn(handler)
            finally:
                rec.exit(span, t0)
                handler.wfile = raw
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec.rid = None

        return do_post

    _patch(restore, server._Handler, "do_POST", server_request)

    # api: server.py imported these names, so patch them where it looks.
    def count_series(span: Span, item: dict) -> None:
        span.attrs["series"] = span.attrs.get("series", 0) + 1
        span.attrs["points"] = span.attrs.get("points", 0) + len(item.get("points", ()))

    _patch(restore, server, "handle_request", traced("api.handle_request"))
    _patch(restore, server, "stream_read_response", traced_gen("api.stream_read_response"))
    _patch(restore, api, "stream_read", traced_gen("api.stream_read", count_series))

    # validation and esdsl: the engine calls them through their modules.
    def count_points(span: Span, args, result) -> None:
        span.attrs["points_in"] = len(args[0])
        span.attrs["rejected"] = len(result[1])

    _patch(restore, validation, "validate_raw_rows", traced("validation.validate_raw_rows", count_points))
    _patch(restore, validation, "split_valid", traced("validation.split_valid"))
    _patch(restore, esdsl, "translate", traced("esdsl.translate"))

    # engine: write path, read planning, and the fetcher generator.
    def write_errors(span: Span, args, result) -> None:
        span.attrs["rejected"] = len(result)

    def sink_times(span: Span, args, result) -> None:
        span.attrs["sinks"] = dict(args[0].last_append_timings)

    _patch(restore, OrestesEngine, "write", traced("engine.write", write_errors))
    _patch(restore, OrestesEngine, "_append", traced("engine._append", sink_times))
    for name in ("read", "count_points", "get_stream_list", "select_distinct"):
        _patch(restore, OrestesEngine, name, traced(f"engine.{name}"))
    _patch(restore, OrestesEngine, "read_fetchers", traced_gen("engine.read_fetchers"))

    # Spark actions that drain a DataFrame to the driver, patched on the
    # session's concrete DataFrame class (Spark 4 subclasses the API one).
    frame = type(spark.range(0))
    _patch(restore, frame, "collect", traced("spark.collect"))
    _patch(restore, frame, "toLocalIterator", traced_gen("spark.toLocalIterator"))

    def undo() -> None:
        for owner, attr, original in reversed(restore):
            setattr(owner, attr, original)

    return undo
