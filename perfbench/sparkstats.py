"""Counters read from outside the program: executor time from Spark's
status store, steal ticks from /proc/stat, peak RSS of a process tree
from /proc/<pid>/status."""

from __future__ import annotations

import json
import os
from pathlib import Path

# Stage fields summed over a window -> (metric suffix, scale to its unit).
_STAGE_FIELDS = {
    "numCompleteTasks": ("tasks", 1),
    "executorRunTime": ("executor_run_ms", 1),
    "executorCpuTime": ("executor_cpu_ms", 1e-6),  # ns -> ms
    "jvmGcTime": ("gc_ms", 1),
    "inputBytes": ("input_bytes", 1),
    "inputRecords": ("input_records", 1),
    "shuffleReadBytes": ("shuffle_read_bytes", 1),
    "shuffleWriteBytes": ("shuffle_write_bytes", 1),
}

# Session conf the benchmark adds so that every job and stage of a run
# stays in the status store until it is read, and stderr stays quiet.
SESSION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.showConsoleProgress": "false",
}


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


class StatusStore:
    """Jobs and stages as Spark's status store records them, read in one
    JSON dump per call. Job and stage ids only grow, so a window is
    every id above the largest one seen at its start."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))
        self._no_statuses = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def jobs(self) -> list[dict]:
        return json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))

    def stages(self) -> list[dict]:
        seq = self._store.stageList(None, False, False, self._no_quantiles, self._no_statuses)
        return json.loads(self._mapper.writeValueAsString(seq))

    def mark(self) -> tuple[int, int]:
        return (
            max((j["jobId"] for j in self.jobs()), default=-1),
            max((s["stageId"] for s in self.stages()), default=-1),
        )

    def since(self, mark: tuple[int, int]) -> "Window":
        jobs = [j for j in self.jobs() if j["jobId"] > mark[0]]
        stages = [s for s in self.stages() if s["stageId"] > mark[1]]
        return Window(jobs, stages)


class Window:
    """The jobs and stages of one measured interval."""

    def __init__(self, jobs: list[dict], stages: list[dict]) -> None:
        self.jobs = jobs
        self.stages = {s["stageId"]: s for s in stages}

    @staticmethod
    def _sum(stages) -> dict[str, float]:
        out = {name: 0.0 for name, _ in _STAGE_FIELDS.values()}
        for s in stages:
            for field, (name, scale) in _STAGE_FIELDS.items():
                out[name] += (s.get(field) or 0) * scale
        return out

    def totals(self) -> dict[str, float]:
        out = self._sum(self.stages.values())
        out["jobs"] = len(self.jobs)
        out["stages"] = len(self.stages)
        return out

    def group_totals(self, group: str) -> dict[str, float]:
        """Totals over the jobs tagged with one job group."""
        jobs = [j for j in self.jobs if j.get("jobGroup") == group]
        ids = {sid for j in jobs for sid in j["stageIds"]}
        out = self._sum(self.stages[i] for i in ids if i in self.stages)
        out["jobs"] = len(jobs)
        out["stages"] = len(ids & self.stages.keys())
        return out


def _children(pid: int) -> list[int]:
    out = []
    for task in Path(f"/proc/{pid}/task").glob("*"):
        try:
            out += [int(c) for c in (task / "children").read_text().split()]
        except OSError:
            pass
    return out


def peak_rss_mb(exclude: frozenset[int] = frozenset()) -> float:
    """Sum of VmHWM (peak resident set) over this process and its
    descendants, minus the ``exclude`` subtrees, in MiB."""
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        try:
            for line in Path(f"/proc/{pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
        except OSError:
            continue
        todo += _children(pid)
    return total_kb / 1024
