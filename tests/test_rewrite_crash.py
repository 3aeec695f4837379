"""Crash windows of the engine's one bucket rewrite (_rewrite_bucket).

Each rewrite runs once and the space is copied aside just before each
of its swap steps: the intent publish (the staged dir written, no
intent yet), the live→.old_ rename, the staged→live rename and the
drop of the .old_ backup. Each copy is the state a crash at that step
leaves (without the writer lock, which a dead process leaves stale). A
fresh engine on a copy ("restart") must serve every table as its old
rows or its new rows — both on a plain read and on a read after one
more write."""

from __future__ import annotations

import json
import os
import pathlib
import shutil
from concurrent.futures import ThreadPoolExecutor, wait

import pytest
from pyspark.sql import functions as F

from orestes_spark.commit_backend import SWAP_INTENT
from orestes_spark.config import SpaceConfig
from orestes_spark.engine import OrestesEngine

START = 1_700_000_000_000
HOUR = 3_600_000
LO = START // HOUR * HOUR
ROLLUP = SpaceConfig(1, rollup_step_ms=HOUR, rollup_hist=(10.0, 12))
STEPS = ("staged_write", "first_rename", "second_rename", "drop_backup")


class SimulatedCrash(RuntimeError):
    pass


def _step_snapshots(space: pathlib.Path, out: pathlib.Path, run) -> dict:
    """Run ``run()`` and copy ``space`` to ``out/<table>-<step>/<space
    name>`` just before each swap step of each bucket rewrite in it."""
    real = {"replace": os.replace, "rename": pathlib.Path.rename, "rmtree": shutil.rmtree}
    snaps: dict[tuple[str, str], pathlib.Path] = {}

    def snap(table, step):
        assert (table, step) not in snaps, (table, step)  # one bucket per table
        snaps[table, step] = out / f"{table}-{step}" / space.name
        shutil.copytree(space, snaps[table, step], ignore=shutil.ignore_patterns("_writer.lock"))

    def replace(src, dst, *args, **kwargs):
        if pathlib.Path(dst) == space / SWAP_INTENT:
            (live, _staged), = json.loads(pathlib.Path(src).read_text())["files"]
            snap(live.split("/")[0], "staged_write")
        return real["replace"](src, dst, *args, **kwargs)

    def rename(self, target):
        if self.parent.parent == space:
            snap(self.parent.name, "first_rename" if self.name.startswith("bucket=") else "second_rename")
        return real["rename"](self, target)

    def rmtree(path, *args, **kwargs):
        p = pathlib.Path(path)
        if p.parent.parent == space and p.name.startswith(".old_"):
            snap(p.parent.name, "drop_backup")
        return real["rmtree"](path, *args, **kwargs)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(os, "replace", replace)
        m.setattr(pathlib.Path, "rename", rename)
        m.setattr(shutil, "rmtree", rmtree)
        run()
    return snaps


def _crash_between_renames(monkeypatch, root: pathlib.Path) -> None:
    """Make a bucket rewrite under ``root`` raise at its staged→live
    rename."""
    real = pathlib.Path.rename

    def rename(self, target):
        if self.parent == root and self.name.startswith(".rewrite_"):
            raise SimulatedCrash("second_rename")
        return real(self, target)

    monkeypatch.setattr(pathlib.Path, "rename", rename)


def _points(n, start, host):
    return [{"time": start + i, "value": 1.0 + i, "host": host} for i in range(n)]


def _observe(spark, wh: str, skip: str | None = None) -> dict:
    """Restart on ``wh`` and read every table: the user-facing reads
    first (they run reader-side recovery), then each table's raw rows.
    Rows of series ``skip`` are left out."""
    eng = OrestesEngine(spark, wh, spaces={"default": ROLLUP})
    keep = (lambda df: df) if skip is None else (lambda df: df.where(F.col("series_id") != skip))

    def rows(df):  # by column name: compaction output orders columns differently
        df = keep(df).drop("tags")
        return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

    listed = eng.get_stream_list(None, "default", 0, START + 10**9).collect()
    out = {
        "series_list": sorted(h for h in (r["tags"]["host"] for r in listed) if f"host={h}" != skip),
        "read": rows(eng.read(None, "default", 0, START + 10**9, grouped=False)),
        "read_rollup": rows(eng.read_rollup(None, "default", LO, LO + HOUR, on_stale="ignore")),
        "read_quantile": rows(
            eng.read_rollup_quantile(None, "default", LO, LO + HOUR, on_stale="ignore")
        ),
    }
    for name, root in eng._tables("default").items():
        out[name] = rows(spark.read.parquet(str(root)))
    return out


def _restart_and_read(spark, snap: pathlib.Path, wh: str) -> tuple:
    """Restart on one copy of ``snap`` and read every table; restart on
    another, write one point of a new series z, and read again."""
    shutil.copytree(snap, wh)
    shutil.copytree(snap, wh + "_w")
    got = _observe(spark, wh)
    late = OrestesEngine(spark, wh + "_w", spaces={"default": ROLLUP})
    assert late.write([{"time": START + 500, "value": 5.0, "host": "z"}]) == []
    z = late.read({"term": {"host": "z"}}, "default", 0, START + 10**9, grouped=False).collect()
    return got, _observe(spark, wh + "_w", skip="host=z"), [(r["time_ms"], r["value"]) for r in z]


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """Three deliveries into one bucket of a rollup+histogram space —
    a new series each time and one overwritten point, so every table
    holds several files and the rollup over-counts until rebuilt —
    then one run of compact and one of rebuild_rollup, each from a copy
    of it, snapshotted at every swap step, and what each completed run
    makes of it. Every snapshot is restarted and read (_restart_and_read)
    on a few threads at once; each test case checks one."""
    root = tmp_path_factory.mktemp("rewrite_crash")
    wh = str(root / "base")
    eng = OrestesEngine(spark, wh, spaces={"default": ROLLUP})
    for i in range(3):
        assert eng.write(_points(10, START + 10 * i, f"h{i}")) == []
    assert eng.write([{"time": START, "value": 5.5, "host": "h0"}]) == []
    bucket = int(next(eng._points_path("default").glob("bucket=*")).name.split("=")[1])
    ops = {
        "compact": lambda e: e.compact("default", buckets=[bucket]),
        "rebuild_rollup": lambda e: e.rebuild_rollup("default"),
    }
    states, snaps = {"old": _observe(spark, wh)}, {}
    for op, run in ops.items():
        ref = root / f"ref_{op}"
        shutil.copytree(wh, ref)
        e = OrestesEngine(spark, str(ref), spaces={"default": ROLLUP})
        got = _step_snapshots(ref / "default", root / f"snap_{op}", lambda: run(e))
        snaps.update({(op, t, step): p.parent for (t, step), p in got.items()})
        states[op] = _observe(spark, str(ref))
    assert sorted(snaps) == sorted((o, t, step) for o, t in CASES for step in STEPS)
    # the rewrites change the rows (series rows only move between files)
    for table in ("points", "rollup", "rollup_hist"):
        assert states["compact"][table] != states["old"][table]
    assert states["rebuild_rollup"]["read_rollup"] != states["old"]["read_rollup"]
    with ThreadPoolExecutor(max_workers=4) as pool:
        seen = {
            key: pool.submit(_restart_and_read, spark, snap, str(root / "_".join(key)))
            for key, snap in snaps.items()
        }
        wait(seen.values())
    return {"seen": seen, "states": states}


CASES = [("compact", t) for t in ("points", "series", "rollup", "rollup_hist")] + [
    ("rebuild_rollup", t) for t in ("rollup", "rollup_hist")
]


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("op,table", CASES, ids=[f"{o}-{t}" for o, t in CASES])
def test_rewrite_crash_reads_old_or_new(base, op, table, step):
    got, got_w, z = base["seen"][op, table, step].result()
    old, new = base["states"]["old"], base["states"][op]
    for key in got:
        assert got[key] in (old[key], new[key]), key
    # restart, write, then read: the write lands beside old or new rows
    for key in got_w:
        assert got_w[key] in (old[key], new[key]), key
    assert z == [(START + 500, 5.0)]


def _model(eng):
    rows = eng.read(None, "default", 0, START + 10**9, grouped=False).collect()
    return sorted((r["series_id"], r["time_ms"], r["value"]) for r in rows)


def test_crashed_compact_keeps_every_point(spark, tmp_path, monkeypatch):
    """Three deliveries of 10 points, then compact() dies between the
    live→.old_ and the staged→live renames: a restarted engine still
    counts all 30 points, and a second compact() completes."""
    wh = str(tmp_path / "wh")
    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    for i in range(3):
        assert eng.write(_points(10, START + 10 * i, "a")) == []
    _crash_between_renames(monkeypatch, eng._points_path("default"))
    with pytest.raises(SimulatedCrash):
        eng.compact("default")
    monkeypatch.undo()

    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    counts = eng.count_points(None, "default", 0, START + 10**9).collect()
    assert [r["count"] for r in counts] == [30]
    eng.compact("default")
    counts = eng.count_points(None, "default", 0, START + 10**9).collect()
    assert [r["count"] for r in counts] == [30]


def test_write_after_crashed_erasure_keeps_survivors(spark, tmp_path, monkeypatch):
    """delete_series(b) dies between the two renames of the points
    bucket; the next write to the same bucket must first roll the
    erasure forward, so a's 10 points survive beside the new point."""
    wh = str(tmp_path / "wh")
    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert eng.write(_points(10, START, "a") + _points(10, START, "b")) == []
    _crash_between_renames(monkeypatch, eng._points_path("default"))
    with pytest.raises(SimulatedCrash):
        eng.delete_series({"term": {"host": "b"}})
    monkeypatch.undo()

    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert eng.write([{"time": START + 100, "value": 7.0, "host": "c"}]) == []
    want = [("host=a", START + i, 1.0 + i) for i in range(10)] + [("host=c", START + 100, 7.0)]
    assert _model(eng) == want


def test_crashed_retention_drop_reads_as_dropped(spark, tmp_path, monkeypatch):
    """remove() renames an expired bucket to .drop_bucket=N before
    deleting it: a crash while deleting never leaves a half-deleted
    live bucket, and recovery finishes the drop."""
    wh = str(tmp_path / "wh")
    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert eng.write(_points(10, START, "a")) == []
    real = shutil.rmtree

    def rmtree(path, *args, **kwargs):
        if pathlib.Path(path).name.startswith(".drop_"):
            raise SimulatedCrash("drop")
        return real(path, *args, **kwargs)

    monkeypatch.setattr(shutil, "rmtree", rmtree)
    with pytest.raises(SimulatedCrash):
        eng.remove("default", keep_days=0)
    monkeypatch.undo()

    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert _model(eng) == []
    assert not list(eng._points_path("default").iterdir())
