"""Per-layer metrics of a traced window, from its spans and its Spark
stages. README.md maps each one to the end-to-end metric it moves."""

from __future__ import annotations

from collections import defaultdict

from spans import Span

import datagen
import workloads

SINKS = ("write_points", "write_series", "write_rollup", "write_hist")
VALIDATION_SPANS = ("validation.validate_raw_rows", "validation.split_valid")
PLAN_SPANS = ("engine.read", "engine.count_points", "engine.get_stream_list", "engine.select_distinct")
DRAIN_SPANS = ("spark.collect", "spark.toLocalIterator")
SPARK_METRICS = (
    "jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ms", "gc_ms",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
)
WORKLOAD_METRICS = ("write_pts_per_s", "store_bytes_per_pt", "suite_s") + tuple(
    f"{op}_p50_ms" for op in datagen.READ_OPS
)


def names() -> list[str]:
    """Every per-layer metric, in report order; each traced run reports
    all of them (0 where its workload does not reach that layer)."""
    out = [
        "validation.ms", "validation.points_in", "validation.points_rejected",
        "engine.write_ms", "engine.append_ms",
        *(f"engine.sink.{s}_ms" for s in SINKS),
        "engine.lock_conflicts", "engine.files_per_write",
        "engine.plan_ms", "engine.drain_ms", "engine.rows_scanned_per_row_returned",
        "esdsl.translate_ms", "api.self_ms", "api.series_emitted",
        "server.ttfb_ms", "server.request_bytes", "server.response_bytes",
        *(f"spark.{m}" for m in SPARK_METRICS), "spark.busy_share",
    ]
    for q in workloads.QUERY_SLICE:
        out += [f"queries.{q}.wall_ms", f"queries.{q}.cpu_ms", f"queries.{q}.jobs"]
    out += ["host.steal_ticks", "trace.overhead_ms", "trace.overhead_share", "failed_share"]
    return out + list(WORKLOAD_METRICS)


def unit(name: str) -> str:
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    return {
        "write_pts_per_s": "pts/s",
        "store_bytes_per_pt": "bytes/pt",
        "suite_s": "s",
        "host.steal_ticks": "ticks",
        "engine.files_per_write": "files/write",
        "engine.rows_scanned_per_row_returned": "rows/row",
    }.get(name, "share" if name.endswith("share") else "count")


def better(name: str) -> str:
    higher = ("validation.points_in", "api.series_emitted", "spark.busy_share", "write_pts_per_s")
    return "higher" if name in higher else "lower"


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def span_layers(spans: list[Span], m, read_ops, scan_op: str) -> dict[str, float]:
    """Layer metrics from the spans of a window. A root span is one
    request (``server.request``) or one query execution (``queries.*``);
    write-path figures average over write requests, read-path figures
    over ``read_ops``. Rows scanned per row returned is measured on the
    ``scan_op`` operations, through the Spark job group of each one."""
    by_rid: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        if s.rid is not None:
            by_rid[s.rid].append(s)
    roots = [s for s in spans if s.parent is None and s.rid is not None]
    op_of = {s.rid: s.attrs.get("op", "") for s in roots}
    writes = [r for r, op in op_of.items() if op == "write"]
    reads = [r for r, op in op_of.items() if op in read_ops]

    def busy(rid: str, names) -> float:
        return sum(s.busy for s in by_rid[rid] if s.name in names) * 1e3

    def of(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    servers = of("server.request")
    committed = [s for s in of("engine._append") if "raised" not in s.attrs]
    conflicts = [s for s in of("engine._append") if s.attrs.get("raised") == "ConcurrentWriterError"]
    scans = [s for s in roots if s.attrs.get("op") == scan_op]
    scanned = sum(m.spark.group_totals(s.rid)["input_records"] for s in scans)
    returned = sum(s.attrs.get("rows", 0) for s in scans) + sum(
        s.attrs.get("points", 0) for s in of("api.stream_read") if op_of.get(s.rid) == scan_op
    )

    out = {
        "validation.ms": _mean(busy(r, VALIDATION_SPANS) for r in writes),
        "validation.points_in": sum(s.attrs.get("points_in", 0) for s in of("validation.validate_raw_rows")),
        "validation.points_rejected": sum(s.attrs.get("rejected", 0) for s in of("validation.validate_raw_rows"))
        + sum(s.attrs.get("rejected", 0) for s in of("engine.write")),
        "engine.write_ms": _mean(s.busy * 1e3 for s in of("engine.write")),
        "engine.append_ms": _mean(s.busy * 1e3 for s in committed),
        "engine.lock_conflicts": len(conflicts),
        "engine.files_per_write": m.extra.get("files_per_write", 0.0),
        "engine.plan_ms": _mean(busy(r, PLAN_SPANS) for r in reads),
        "engine.drain_ms": _mean(busy(r, DRAIN_SPANS) for r in reads),
        "engine.rows_scanned_per_row_returned": scanned / returned if returned else 0.0,
        "esdsl.translate_ms": _mean(busy(r, ("esdsl.translate",)) for r in reads),
        "api.self_ms": _mean(sum(s.self_s for s in by_rid[r] if s.name.startswith("api.")) * 1e3 for r in op_of)
        if servers else 0.0,
        "api.series_emitted": _mean(s.attrs.get("series", 0) for s in of("api.stream_read")),
        "server.ttfb_ms": _mean(s.attrs.get("ttfb_ms", 0.0) for s in servers),
        "server.request_bytes": _mean(s.attrs["request_bytes"] for s in servers),
        "server.response_bytes": _mean(s.attrs.get("response_bytes", 0) for s in servers),
    }
    for sink in SINKS:
        out[f"engine.sink.{sink}_ms"] = _mean(s.attrs["sinks"].get(sink, 0.0) * 1e3 for s in committed)
    return out


def query_layers(spans: list[Span], m) -> dict[str, float]:
    """Per query: median wall time, and executor CPU and job count per
    execution from the job group each execution ran under."""
    groups: dict[str, list[str]] = defaultdict(list)
    for s in spans:
        if s.parent is None and s.name.startswith("queries."):
            groups[s.name.removeprefix("queries.")].append(s.rid)
    out = {}
    for q, rids in groups.items():
        tot = [m.spark.group_totals(r) for r in rids]
        out[f"queries.{q}.wall_ms"] = m.p50(q)
        out[f"queries.{q}.cpu_ms"] = _mean(t["executor_cpu_ms"] for t in tot)
        out[f"queries.{q}.jobs"] = _mean(t["jobs"] for t in tot)
    return out


def spark_layers(m, cores: int) -> dict[str, float]:
    """Spark totals of the window per operation attempted, and the share
    of the window's core time that executors were busy."""
    tot = m.spark.totals()
    n = max(len(m.ops), 1)
    out = {f"spark.{k}": tot[k] / n for k in SPARK_METRICS}
    out["spark.busy_share"] = tot["executor_run_ms"] / (m.window_s * 1e3 * cores)
    return out
