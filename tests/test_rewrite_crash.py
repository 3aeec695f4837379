"""Crash windows of the engine's one bucket rewrite (_rewrite_bucket).

A crash is simulated by making one filesystem step raise: the staged
Spark write, the live→.old_ rename, the staged→live rename, or the drop
of the .old_ backup. After the crash a fresh engine on the same
warehouse ("restart") must serve every table as its old rows or its
new rows — both on a plain read and on a read after one more write."""

from __future__ import annotations

import pathlib
import shutil

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from orestes_spark.config import SpaceConfig
from orestes_spark.engine import OrestesEngine

START = 1_700_000_000_000
HOUR = 3_600_000
LO = START // HOUR * HOUR
ROLLUP = SpaceConfig(1, rollup_step_ms=HOUR, rollup_hist=(10.0, 12))
STEPS = ("staged_write", "first_rename", "second_rename", "drop_backup")


class SimulatedCrash(RuntimeError):
    pass


def _crash_at(monkeypatch, root: pathlib.Path, step: str) -> None:
    """Make ``step`` of a bucket rewrite under ``root`` raise."""
    if step == "staged_write":
        real = DataFrameWriter.parquet

        def parquet(self, path, *args, **kwargs):
            real(self, path, *args, **kwargs)
            p = pathlib.Path(path)
            if p.parent == root and p.name.startswith(".rewrite_"):
                (p / "_SUCCESS").unlink()  # the job never committed
                raise SimulatedCrash(step)

        monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    elif step == "drop_backup":
        real = shutil.rmtree

        def rmtree(path, *args, **kwargs):
            p = pathlib.Path(path)
            if p.parent == root and p.name.startswith(".old_"):
                raise SimulatedCrash(step)
            return real(path, *args, **kwargs)

        monkeypatch.setattr(shutil, "rmtree", rmtree)
    else:
        real = pathlib.Path.rename
        src = "bucket=" if step == "first_rename" else ".rewrite_"

        def rename(self, target):
            if self.parent == root and self.name.startswith(src):
                raise SimulatedCrash(step)
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


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """Three deliveries into one bucket of a rollup+histogram space —
    a new series each time and one overwritten point, so every table
    holds several files and the rollup over-counts until rebuilt —
    plus what a completed compact and a completed rebuild_rollup make
    of it."""
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
    states = {"old": _observe(spark, wh)}
    for op, run in ops.items():
        ref = str(root / f"ref_{op}")
        shutil.copytree(wh, ref)
        run(OrestesEngine(spark, ref, spaces={"default": ROLLUP}))
        states[op] = _observe(spark, ref)
    # the rewrites change the rows (series rows only move between files)
    for table in ("points", "rollup", "rollup_hist"):
        assert states["compact"][table] != states["old"][table]
    assert states["rebuild_rollup"]["read_rollup"] != states["old"]["read_rollup"]
    return {"root": root, "wh": wh, "ops": ops, "states": states}


CASES = [("compact", t) for t in ("points", "series", "rollup", "rollup_hist")] + [
    ("rebuild_rollup", t) for t in ("rollup", "rollup_hist")
]


@pytest.mark.parametrize("step", STEPS)
@pytest.mark.parametrize("op,table", CASES, ids=[f"{o}-{t}" for o, t in CASES])
def test_rewrite_crash_reads_old_or_new(spark, base, monkeypatch, op, table, step):
    wh = str(base["root"] / f"{op}_{table}_{step}")
    shutil.copytree(base["wh"], wh)
    eng = OrestesEngine(spark, wh, spaces={"default": ROLLUP})
    _crash_at(monkeypatch, eng._tables("default")[table], step)
    with pytest.raises(SimulatedCrash):
        base["ops"][op](eng)
    monkeypatch.undo()
    shutil.copytree(wh, wh + "_w")

    old, new = base["states"]["old"], base["states"][op]
    got = _observe(spark, wh)
    for key in got:
        assert got[key] in (old[key], new[key]), key

    # restart, write, then read: the write lands beside old or new rows
    late = OrestesEngine(spark, wh + "_w", spaces={"default": ROLLUP})
    assert late.write([{"time": START + 500, "value": 5.0, "host": "z"}]) == []
    got = _observe(spark, wh + "_w", skip="host=z")
    for key in got:
        assert got[key] in (old[key], new[key]), key
    z = late.read({"term": {"host": "z"}}, "default", 0, START + 10**9, grouped=False).collect()
    assert [(r["time_ms"], r["value"]) for r in z] == [(START + 500, 5.0)]


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
    _crash_at(monkeypatch, eng._points_path("default"), "second_rename")
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
    _crash_at(monkeypatch, eng._points_path("default"), "second_rename")
    with pytest.raises(SimulatedCrash):
        eng.delete_series({"term": {"host": "b"}})
    monkeypatch.undo()

    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert eng.write([{"time": START + 100, "value": 7.0, "host": "c"}]) == []
    want = [("host=a", START + i, 1.0 + i) for i in range(10)] + [("host=c", START + 100, 7.0)]
    assert _model(eng) == want


def test_legacy_compact_staging_rolls_forward(spark, tmp_path):
    """Earlier versions of compact() deleted the live bucket before
    renaming `.compact_bucket=N` in: a complete one (Spark's _SUCCESS)
    with no live bucket is the only copy of the data and must come
    back on the next read."""
    wh = str(tmp_path / "wh")
    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert eng.write(_points(10, START, "a")) == []
    want = _model(eng)
    part = next(eng._points_path("default").glob("bucket=*"))
    staged = part.parent / f".compact_{part.name}"
    spark.read.parquet(str(part)).write.parquet(str(staged))
    shutil.rmtree(part)

    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert _model(eng) == want
    assert not staged.exists()


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
