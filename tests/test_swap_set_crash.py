"""Crash windows of the multi-path swap sets (commit_backend.swap_set):
engine erasure and retention across tables, the streaming stores'
offline jobs (gate retrain, requantize, corpus compaction) and the PQ
index retrain.

A crash at rename k is the state on disk just before that rename:
``_snapshots`` runs the operation once and copies the tree aside before
each rename (without the writer lock, which a dead process leaves
stale). Recovery of every copy must give back exactly the files of the
completed operation; one copy per operation is also restarted and read
through the user-facing paths."""

from __future__ import annotations

import pathlib
import shutil
import threading
import time

import pytest
from pyspark.sql import functions as F

from orestes_spark.commit_backend import SWAP_INTENT, PosixCommitBackend
from orestes_spark.config import SpaceConfig
from orestes_spark.engine import OrestesEngine
from orestes_spark.streaming.ingest import _recover_store

START = 1_700_000_000_000
HOUR = 3_600_000
DAY = 86_400_000
LO = START // HOUR * HOUR
END = LO + 3 * DAY
ROLLUP = SpaceConfig(1, rollup_step_ms=HOUR, rollup_hist=(10.0, 12))


class SimulatedCrash(RuntimeError):
    pass


def _snapshots(root: pathlib.Path, out: pathlib.Path, run) -> list[pathlib.Path]:
    """Run ``run()``; before each rename under ``root`` copy ``root`` to
    ``out/crash_<k>/<root name>`` — the state a crash at rename k leaves."""
    real = pathlib.Path.rename
    snaps: list[pathlib.Path] = []

    def rename(self, target):
        if root in self.parents:
            snaps.append(out / f"crash_{len(snaps)}" / root.name)
            shutil.copytree(root, snaps[-1], ignore=shutil.ignore_patterns("_writer.lock"))
        return real(self, target)

    with pytest.MonkeyPatch.context() as m:
        m.setattr(pathlib.Path, "rename", rename)
        run()
    return snaps


def _files(root: pathlib.Path) -> dict[str, bytes]:
    return {
        p.relative_to(root).as_posix(): p.read_bytes()
        for p in root.rglob("*")
        if p.is_file() and p.name != "_writer.lock"
    }


def _points(n, start, host):
    return [{"time": start + i, "value": 1.0 + i, "host": host} for i in range(n)]


def _observe(spark, wh: str, skip: str | None = None) -> dict:
    """Restart on ``wh`` and read what a user sees — /series, /read and
    both rollup reads over every slot — leaving out series ``skip``."""
    eng = OrestesEngine(spark, wh, spaces={"default": ROLLUP})
    keep = (lambda df: df) if skip is None else (lambda df: df.where(F.col("series_id") != skip))

    def rows(df):
        df = keep(df).drop("tags")
        return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())

    listed = eng.get_stream_list(None, "default", 0, END).collect()
    return {
        "series_list": sorted(h for h in (r["tags"]["host"] for r in listed) if f"host={h}" != skip),
        "read": rows(eng.read(None, "default", 0, END, grouped=False)),
        "read_rollup": rows(eng.read_rollup(None, "default", LO, END, on_stale="ignore")),
        "read_quantile": rows(eng.read_rollup_quantile(None, "default", LO, END, on_stale="ignore")),
    }


# ---------- engine: delete_series and remove ----------


@pytest.fixture(scope="module")
def erasure(spark, tmp_path_factory):
    """Series a and b over two day-buckets of a rollup+histogram space,
    delete_series(b) run once with a snapshot before each of its 16
    renames (4 tables x 2 buckets, two renames a pair), the files it
    leaves and what a user reads after it."""
    root = tmp_path_factory.mktemp("erasure")
    wh = root / "wh"
    eng = OrestesEngine(spark, str(wh), spaces={"default": ROLLUP})
    pts = [p for d in (0, DAY) for h in ("a", "b") for p in _points(10, START + d, h)]
    assert eng.write(pts) == []
    snaps = _snapshots(wh / "default", root, lambda: eng.delete_series({"term": {"host": "b"}}))
    after = _files(wh / "default")
    new = _observe(spark, str(wh))
    assert new["series_list"] == ["a"] and len(snaps) == 16
    return {"root": root, "snaps": snaps, "after": after, "new": new}


def test_delete_series_crash_recovers_to_the_erasure(spark, erasure):
    """A restart on the state before each of the 16 renames of a
    two-bucket erasure rolls it forward on the first read to exactly
    the files of the completed erasure, in all four tables."""
    for k, snap in enumerate(erasure["snaps"]):
        wh = erasure["root"] / f"files_{k}"
        shutil.copytree(snap, wh / "default")
        OrestesEngine(spark, str(wh), spaces={"default": ROLLUP}).get_stream_list(None, "default", 0, END)
        assert _files(wh / "default") == erasure["after"], k


def test_delete_series_crash_reads_as_erased(spark, erasure):
    """Crashed between the first pair's renames (points bucket moved
    aside, staged not yet in): /series, /read, read_rollup and
    read_rollup_quantile read as the completed erasure, after a
    restart and after a restart plus a write."""
    wh = erasure["root"] / "reads"
    shutil.copytree(erasure["snaps"][1], wh / "default")
    shutil.copytree(wh, str(wh) + "_w")
    assert _observe(spark, str(wh)) == erasure["new"]

    late = OrestesEngine(spark, str(wh) + "_w", spaces={"default": ROLLUP})
    assert late.write([{"time": START + 500, "value": 5.0, "host": "z"}]) == []
    assert _observe(spark, str(wh) + "_w", skip="host=z") == erasure["new"]


def test_racing_readers_roll_the_intent_forward_once(spark, erasure, monkeypatch):
    """Two reader threads find the crashed erasure's intent pending: the
    roll-forward runs in one of them at a time, under the writer lock,
    and the space ends as the completed erasure."""
    wh = erasure["root"] / "race"
    shutil.copytree(erasure["snaps"][2], wh / "default")
    eng = OrestesEngine(spark, str(wh), spaces={"default": ROLLUP})
    real, inside, overlap, errors = PosixCommitBackend.recover_swap_set, [], [], []

    def slow(root):
        inside.append(root)
        overlap.append(len(inside))
        time.sleep(0.5)  # hold the other reader inside the race window
        try:
            real(root)
        finally:
            inside.pop()

    def reader(start):
        start.wait()
        try:
            eng._recover("default", eng._points_path("default"))
        except BaseException as e:
            errors.append(e)

    monkeypatch.setattr(PosixCommitBackend, "recover_swap_set", staticmethod(slow))
    start = threading.Barrier(2)
    threads = [threading.Thread(target=reader, args=(start,)) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [] and overlap and max(overlap) == 1
    assert _files(wh / "default") == erasure["after"]


def _hosts_and_counts(eng):
    listed = sorted(r["tags"]["host"] for r in eng.get_stream_list(None, "default", 0, END).collect())
    counts = {}
    for r in eng.read(None, "default", 0, END, grouped=False).collect():
        counts[r["series_id"]] = counts.get(r["series_id"], 0) + 1
    return listed, counts


def test_crashed_erasure_is_listed_with_its_points_or_gone(spark, tmp_path, monkeypatch):
    """delete_series(b) dies between the two renames of the points
    bucket; after a restart b is either listed with its 10 points or
    gone from /series, and a keeps its 10 points."""
    wh = str(tmp_path / "wh")
    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert eng.write(_points(10, START, "a") + _points(10, START, "b")) == []
    proot = eng._points_path("default")
    real = pathlib.Path.rename

    def rename(self, target):
        if self.parent == proot and self.name.startswith(".rewrite_"):
            raise SimulatedCrash("second_rename")
        return real(self, target)

    monkeypatch.setattr(pathlib.Path, "rename", rename)
    with pytest.raises(SimulatedCrash):
        eng.delete_series({"term": {"host": "b"}})
    monkeypatch.undo()

    listed, counts = _hosts_and_counts(OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)}))
    assert (listed, counts) in (
        (["a", "b"], {"host=a": 10, "host=b": 10}),
        (["a"], {"host=a": 10}),
    )


def test_crashed_retention_agrees_across_tables(spark, tmp_path, monkeypatch):
    """remove() dies after the points bucket is dropped and before the
    series bucket is: after a restart /series and /read agree — the
    bucket is gone from both or kept in both."""
    wh = str(tmp_path / "wh")
    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert eng.write(_points(10, START, "a")) == []
    sroot = eng._series_path("default")
    real = pathlib.Path.rename

    def rename(self, target):
        if self.parent == sroot and self.name.startswith("bucket="):
            raise SimulatedCrash("series drop")
        return real(self, target)

    monkeypatch.setattr(pathlib.Path, "rename", rename)
    with pytest.raises(SimulatedCrash):
        eng.remove("default", keep_days=0)
    monkeypatch.undo()
    assert not any(eng._points_path("default").glob("bucket=*"))  # points already dropped

    listed, counts = _hosts_and_counts(OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)}))
    assert (listed, counts) in (([], {}), (["a"], {"host=a": 10}))


# ---------- streaming stores ----------
#
# Each job is snapshotted before every rename. A restarted gate opens the
# copy where the old intent-less swap left a mixed store (the first tree
# of the set swapped, the next one moved aside); every other copy is
# recovered as a job or a gate opening the store does (_recover_store).


def _ids(spark, path, col):
    return sorted(r[col] for r in spark.read.parquet(path).select(col).collect())


def _recovers_to(spark, snaps, after) -> None:
    for snap in snaps:
        _recover_store(str(snap))
        assert _files(snap) == after, snap


def test_crashed_compact_corpus_store_keeps_the_gate(spark, tmp_path):
    """compact_corpus_store crashed at each rename recovers to the
    compacted store; crashed with docs swapped and bands moved aside, a
    restarted corpus processor still rejects near-dup doc 20."""
    from orestes_spark.streaming.ingest import compact_corpus_store, make_corpus_batch_processor

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    other = "completely different content about spark query engines and shuffles"
    novel = "a recipe for sourdough bread with a long cold overnight proof"
    ddl = "doc_id LONG, text STRING"
    store = tmp_path / "corpus"
    process = make_corpus_batch_processor(str(store))
    process(spark.createDataFrame([(1, base)], ddl), 0)
    process(spark.createDataFrame([(10, other)], ddl), 1)
    snaps = _snapshots(store, tmp_path, lambda: compact_corpus_store(spark, str(store)))
    after = _files(store)
    assert len(snaps) == 4  # docs and bands, two renames each

    make_corpus_batch_processor(str(snaps[3]))(spark.createDataFrame([(20, near), (30, novel)], ddl), 2)
    assert _ids(spark, f"{snaps[3]}/docs", "doc_id") == [1, 10, 30]
    assert set(_ids(spark, f"{snaps[3]}/bands", "epoch")) == {-1, 2}
    _recovers_to(spark, snaps[:3], after)


def test_crashed_requantize_keeps_cents_beside_vecs(spark, tmp_path):
    """requantize_embedding_store crashed at each rename recovers to the
    requantized store; crashed with vecs swapped and cents moved aside,
    a restarted embedding processor finds the requantized 4-row cents
    next to the requantized vecs (no bootstrap) and judges a batch as
    on the uncrashed store."""
    from orestes_spark.streaming.ingest import (
        make_embedding_batch_processor,
        requantize_embedding_store,
    )

    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    dirs = [[10.0, 0.0, 0.0, 0.0], [0.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 0.0], [0.0, 0.0, 0.0, 10.0]]
    store = tmp_path / "emb"
    process = make_embedding_batch_processor(str(store), threshold=0.9)
    process(spark.createDataFrame([(i, i % 2, dirs[i]) for i in range(4)], ddl), 0)
    process(spark.createDataFrame([(4 + i, i % 2, dirs[i]) for i in range(4)], ddl), 1)
    snaps = _snapshots(store, tmp_path, lambda: requantize_embedding_store(spark, str(store), k=4))
    after = _files(store)
    assert len(snaps) == 4  # vecs and cents, two renames each

    batch = spark.createDataFrame([(100, 0, [9.99, 0.01, 0.0, 0.0]), (101, 0, [7.0, 7.0, 0.0, 0.0])], ddl)
    for path in (store, snaps[3]):
        make_embedding_batch_processor(str(path), threshold=0.9)(batch, 2)
    assert spark.read.parquet(f"{snaps[3]}/cents").count() == 4
    assert set(_ids(spark, f"{snaps[3]}/vecs", "epoch")) == {-1, 2}
    assert _ids(spark, f"{snaps[3]}/vecs", "vec_id") == _ids(spark, f"{store}/vecs", "vec_id")
    _recovers_to(spark, snaps[:3], after)


def test_crashed_gate_retrain_swaps_whole(spark, tmp_path):
    """text_gate_retrain_if crashed at each rename of the codebook swap
    recovers to the retrained store; crashed with the old codebook
    moved aside, a restarted DSIR-gated processor reads the new one and
    accepts the shifted batch, as on the uncrashed store."""
    from orestes_spark.streaming.ingest import (
        make_corpus_batch_processor,
        prepare_dsir_gate,
        text_gate_retrain_if,
    )

    ddl = "doc_id LONG, text STRING"
    voc_a = "alpha beta gamma delta epsilon zeta eta theta"
    voc_b = "nova quasar pulsar comet meteor nebula"
    raw_mix = spark.createDataFrame([(200, voc_a), (201, voc_b)], ddl)
    store = tmp_path / "drift"
    prepare_dsir_gate(spark.createDataFrame([(100 + i, voc_a) for i in range(5)], ddl), raw_mix, str(store))
    process = make_corpus_batch_processor(str(store), dsir_floor=0.0)
    process(spark.createDataFrame([(1, "alpha beta gamma"), (2, "delta epsilon zeta")], ddl), 0)
    process(spark.createDataFrame([(3, "nova quasar pulsar"), (4, "comet meteor nebula")], ddl), 1)
    process(spark.createDataFrame([(5, "pulsar nebula comet"), (6, "meteor nova quasar comet")], ddl), 2)
    target_b = spark.createDataFrame([(300 + i, voc_b) for i in range(5)], ddl)
    snaps = _snapshots(
        store, tmp_path,
        lambda: text_gate_retrain_if(spark, str(store), accept_floor=0.5, window=2, dsir=(target_b, raw_mix)),
    )
    after = _files(store)
    assert len(snaps) == 2

    batch = spark.createDataFrame([(7, "nova comet nebula"), (8, "quasar meteor pulsar nova")], ddl)
    make_corpus_batch_processor(str(snaps[1]), dsir_floor=0.0)(batch, 3)
    assert _ids(spark, f"{snaps[1]}/docs", "doc_id") == [1, 2, 7, 8]
    _recovers_to(spark, snaps[:1], after)


# ---------- PQ index ----------


def test_crashed_pq_retrain_answers_as_retrained(spark, tmp_path):
    """pq_requantize_if swaps the whole index directory as one set:
    restarted on the state before its intent or before either rename,
    it ends with one index that answers pq_index_topk as the completed
    retrain's does, and no backup, staging tree or intent beside it."""
    from orestes_spark.operators.similarity import pq_index_topk, pq_index_write, pq_requantize_if

    ddl = "vec_id LONG, embedding ARRAY<FLOAT>"
    base = [(i, [1.0 + 0.01 * (i % 7), 0.1 * (i % 3), 0.01 * i, 0.0]) for i in range(64)]
    drift = [(100 + i, [0.0, 0.01 * (i % 5), 1.0 + 0.02 * (i % 9), 2.0 + 0.03 * i]) for i in range(64)]
    corpus = spark.createDataFrame(base + drift, ddl).localCheckpoint()
    q = corpus.where(F.col("vec_id") % 10 == 0)
    idx = tmp_path / "idx"
    pq_index_write(spark.createDataFrame(base, ddl), str(idx / "pq"), m=4, ks=8)

    def retrain(root):
        return pq_requantize_if(spark, str(root / "pq"), corpus, recall_floor=0.95, probe_mod=7, m=4, ks=8)

    def answers(root):
        rows = pq_index_topk(spark, str(root / "pq"), q, k=3).collect()
        return {(r["query_id"], r["neighbor_id"], r["rank"]) for r in rows}

    snaps = _snapshots(idx, tmp_path, lambda: retrain(idx))
    assert len(snaps) == 2  # pq → .old_pq, pq.retrain → pq
    pre = tmp_path / "pre_intent" / "idx"
    shutil.copytree(snaps[0], pre)
    (pre / SWAP_INTENT).unlink()  # the state just before the intent's publish
    want = answers(idx)
    for root in (pre, *snaps):
        retrain(root)
        assert answers(root) == want, root
        assert [p.name for p in root.iterdir()] == ["pq"], root
