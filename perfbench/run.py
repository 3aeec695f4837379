"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload ingest_http --seed 1 --seconds 20 --trace 0

Run from a checkout: the program under test is the ``orestes_spark``
package next to this directory. With ``--trace 0`` the run sets up,
measures one window with the program unmodified, checks every answer
and prints the end-to-end metrics. With ``--trace 1`` it measures that
untraced window, then a second window with spans recorded around each
layer's entry points, and prints the per-layer metrics plus the tracing
overhead (traced minus untraced mean latency).

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The line before it is a full report (every metric, sample counts,
executor CPU and steal next to wall time). The report and the spans
are also written to ``.perfbench_out/``. A failed answer check prints
``"correct": false`` and exits 1.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import shutil
import statistics
import sys
import tempfile
from collections import defaultdict
from pathlib import Path

import datagen
import layers
import spans
import workloads

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

E2E_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "mean_ms": "ms",
    "cpu_ms_per_op": "ms",
}
EXTRA_UNITS = {
    "p50_ms": "ms",
    "tail_ms": "ms",
    "peak_rss_mb": "MiB",
    "failed_share": "share",
    "write_pts_per_s": "pts/s",
    "store_bytes_per_pt": "bytes/pt",
    "files_per_write": "files/write",
    "lock_retries_per_write": "count",
    "suite_s": "s",
}


def end_to_end(wl, m) -> dict[str, float]:
    acked = len(m.acked)
    cpu = m.spark.totals()["executor_cpu_ms"]
    return {
        "setup_s": statistics.median(wl.setup_s),
        "ops_per_s": acked / m.window_s,
        "mean_ms": m.mean(),
        "cpu_ms_per_op": cpu / acked if acked else cpu,
    }


def report(wl, m, workload: str) -> dict:
    totals = m.spark.totals()
    extra = {
        "p50_ms": m.p50(),
        "tail_ms": m.tail(),
        "peak_rss_mb": m.rss_mb,
        "failed_share": (len(m.ops) - len(m.acked)) / max(len(m.ops), 1),
        **m.extra,
    }
    statuses = defaultdict(int)
    for o in m.ops:
        statuses[str(o["status"])] += 1
    return {
        "workload": workload,
        "metrics": {
            k: {"value": v, "unit": E2E_UNITS.get(k) or EXTRA_UNITS.get(k, "ms")}
            for k, v in {**end_to_end(wl, m), **extra}.items()
        },
        "tail_percentile": workloads.TAIL_PCT,
        "acknowledged": len(m.acked),
        "lock_retries": sum(o.get("retries", 0) for o in m.ops),
        "attempted": len(m.ops),
        "status_counts": dict(statuses),
        "window_s": m.window_s,
        "setup_s_each": wl.setup_s,
        "executor_cpu_ms": totals["executor_cpu_ms"],
        "executor_run_ms": totals["executor_run_ms"],
        "wall_ms": m.window_s * 1e3,
        "host_steal_ticks": m.steal,
        "per_query_ms": getattr(m, "per_query_ms", None),
        "problems": m.problems,
    }


def traced_window(wl, workload: str):
    """Measure a second window with spans around every layer boundary."""
    rec = spans.Recorder()
    undo = spans.install(rec, wl.spark)
    try:
        if workload == "query_suite":
            sc, counter = wl.spark.sparkContext, itertools.count()

            def on_query(name, execute):
                # One job group and request id per execution, as the
                # server wrapper gives each HTTP request.
                rec.rid = f"q{next(counter)}:{name}"
                sc.setJobGroup(rec.rid, name)
                try:
                    (cols, rows), span = rec.call(f"queries.{name}", execute, name)
                    span.attrs.update(op=name, rows=len(rows))
                    return cols, rows
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    rec.rid = None

            mt = wl.window(on_query)
        else:
            mt = wl.window()
    finally:
        undo()
    return mt, rec


def per_layer(wl, m, mt, rec, workload: str) -> dict[str, float]:
    values = dict.fromkeys(layers.names(), 0.0)
    values.update(layers.spark_layers(mt, wl.cores))
    if workload == "query_suite":
        values.update(layers.span_layers(rec.spans, mt, workloads.QUERY_SLICE, "os_read_term"))
        values.update(layers.query_layers(rec.spans, mt))
    else:
        values.update(layers.span_layers(rec.spans, mt, datagen.READ_OPS, "read_recent"))
    # Workload-level figures come from the untraced window of this run.
    values["failed_share"] = (len(m.ops) - len(m.acked)) / max(len(m.ops), 1)
    values.update({k: v for k, v in m.extra.items() if k in values})
    values["host.steal_ticks"] = mt.steal
    values["trace.overhead_ms"] = mt.mean() - m.mean()
    values["trace.overhead_share"] = values["trace.overhead_ms"] / m.mean() if m.mean() else 0.0
    return values


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("ingest_http", "read_http", "query_suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not (ROOT / "orestes_spark" / "__init__.py").is_file():
        print(f"perfbench: no orestes_spark package in {ROOT}; run from a full checkout", file=sys.stderr)
        return 2

    # Everything the run writes stays in the checkout: the engine's
    # warehouses, Spark's scratch space and Python's temp files.
    work = ROOT / ".perfbench_work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark")
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    sys.path.insert(0, str(ROOT))

    wl = workloads.WORKLOADS[args.workload](args.seed, args.seconds, work)
    try:
        wl.set_up()
        m = wl.window()
        wl.check(m)
        problems = list(m.problems)
        rep = report(wl, m, args.workload)
        if args.trace:
            mt, rec = traced_window(wl, args.workload)
            wl.check(mt)
            problems += mt.problems
            values = per_layer(wl, m, mt, rec, args.workload)
            metrics = {k: {"value": values[k], "unit": layers.unit(k)} for k in layers.names()}
            rep = {**rep, "traced": report(wl, mt, args.workload), "per_layer": metrics}
            (out_dir / f"spans-{args.workload}-seed{args.seed}.json").write_text(
                json.dumps([s.to_json() for s in rec.spans])
            )
            result_window = mt
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in end_to_end(wl, m).items()}
            result_window = m
    finally:
        wl.close()
        shutil.rmtree(work, ignore_errors=True)

    rep["problems"] = problems
    (out_dir / f"report-{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({**rep, "ops": m.ops}, indent=1)
    )
    for problem in problems:
        print(f"perfbench: answer check failed: {problem}", file=sys.stderr)
    print(json.dumps({"report": rep}))
    ops = result_window.ops
    print(
        json.dumps(
            {
                "correct": not problems,
                "attempted": len(ops),
                "failed": len(ops) - len(result_window.acked),
                "metrics": metrics,
            }
        )
    )
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main())
