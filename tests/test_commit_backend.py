"""The commit-backend seam: the three rename-dependent durability
protocols (manifest, lock, swap set) on POSIX."""

from __future__ import annotations

import json
import os
import pathlib
import shutil

import pytest

from orestes_spark.commit_backend import POSIX_BACKEND, SWAP_INTENT


def test_manifest_roundtrip_and_legacy_formats(tmp_path):
    mk = tmp_path / "_epochs" / "epoch-7"
    POSIX_BACKEND.publish_manifest(mk, ["bucket=1/epoch7-a.parquet"], "stream", ns="file:/ck", seq=7)
    files, kind, meta = POSIX_BACKEND.read_manifest(mk)
    assert files == ["bucket=1/epoch7-a.parquet"]
    assert kind == "stream" and meta["ns"] == "file:/ck" and meta["seq"] == 7
    # v2 (no ns/seq)
    (tmp_path / "v2").write_text(json.dumps({"files": ["x"], "kind": "compact"}))
    assert POSIX_BACKEND.read_manifest(tmp_path / "v2") == (["x"], "compact", {"files": ["x"], "kind": "compact"})
    # v1 bare list
    (tmp_path / "v1").write_text(json.dumps(["a", "b"]))
    assert POSIX_BACKEND.read_manifest(tmp_path / "v1") == (["a", "b"], "stream", {})
    # legacy empty touch() marker → glob fallback signal
    (tmp_path / "v0").touch()
    assert POSIX_BACKEND.read_manifest(tmp_path / "v0") == (None, "stream", {})
    # no temp debris left behind
    assert not list((tmp_path / "_epochs").glob(".tmp-*"))


def test_lock_create_is_atomic_with_payload(tmp_path):
    lock = tmp_path / "locks" / "default.lock"
    lock.parent.mkdir(parents=True)
    assert POSIX_BACKEND.try_create_lock(lock, '{"token": "one"}') is True
    # the name is taken: a contender loses and the payload is intact
    assert POSIX_BACKEND.try_create_lock(lock, '{"token": "two"}') is False
    assert json.loads(POSIX_BACKEND.read_lock(lock))["token"] == "one"
    # no private temp debris either way
    assert list(lock.parent.glob(".lock_*")) == []
    POSIX_BACKEND.remove_lock(lock)
    assert not lock.exists()
    POSIX_BACKEND.remove_lock(lock)  # idempotent


class Crash(RuntimeError):
    pass


# a replace, a replace or bootstrap (no live dir), and a drop
PAIRS = [("t1/bucket=1", "t1/.rewrite_bucket=1"), ("t2/bucket=1", "t2/.rewrite_bucket=1"),
         ("t3/bucket=1", None)]


def _tree(root, name, tag):
    (root / name).mkdir(parents=True)
    (root / name / "part.parquet").write_text(tag)


def _state(root):
    files = {live: root / live / "part.parquet" for live, _ in PAIRS}
    return {live: f.read_text() if f.exists() else None for live, f in files.items()}


@pytest.mark.parametrize("bootstrap", [False, True], ids=["replace", "bootstrap"])
def test_swap_set_crash_matrix(tmp_path, monkeypatch, bootstrap):
    """A three-pair swap set crashed before each of its effects — the
    intent publish, every rename, every backup drop, the intent
    removal — then recovered: the pairs read all old (crash before the
    intent) or all new, and recovery leaves no backup, staged dir or
    intent behind. The uncrashed run replaces, bootstraps and drops."""
    old = {"t1/bucket=1": "old1", "t2/bucket=1": None if bootstrap else "old2",
           "t3/bucket=1": "old3"}
    new = {"t1/bucket=1": "new1", "t2/bucket=1": "new2", "t3/bucket=1": None}
    real = {"replace": os.replace, "rename": pathlib.Path.rename,
            "rmtree": shutil.rmtree, "unlink": pathlib.Path.unlink}

    def run(name, crash_at=None):
        root = tmp_path / name
        for live, staged in PAIRS:
            if old[live]:
                _tree(root, live, old[live])
            if staged:
                _tree(root, staged, new[live])
        effects = []

        def hook(kind):
            def call(*args, **kwargs):
                if len(effects) == crash_at:
                    raise Crash(kind)
                effects.append(kind)
                return real[kind](*args, **kwargs)
            return call

        with monkeypatch.context() as m:
            m.setattr(os, "replace", hook("replace"))
            m.setattr(pathlib.Path, "rename", hook("rename"))
            m.setattr(shutil, "rmtree", hook("rmtree"))
            m.setattr(pathlib.Path, "unlink", hook("unlink"))
            try:
                POSIX_BACKEND.swap_set(root, PAIRS)
            except Crash:
                pass
        return root, effects

    root, effects = run("clean")
    assert _state(root) == new
    n_live = sum(v is not None for v in old.values())
    assert effects == ["replace"] + ["rename"] * (n_live + 2) + ["rmtree"] * n_live + ["unlink"]

    for i, kind in enumerate(effects):
        root, _ = run(f"crash_{i}", crash_at=i)
        assert (root / SWAP_INTENT).exists() == (i > 0)  # the commit point
        # a backup exists only while the intent does: recovery with no
        # intent pending never has a backup to restore
        backups = [p for t in ("t1", "t2", "t3") if (root / t).exists()
                   for p in (root / t).iterdir() if p.name.startswith((".old_", ".drop_"))]
        assert not backups or (root / SWAP_INTENT).exists(), (i, kind, backups)
        for _ in range(2):  # idempotent
            POSIX_BACKEND.recover_swap_set(root)
            assert _state(root) == (old if i == 0 else new), (i, kind)
        assert not (root / SWAP_INTENT).exists()
        left = {p.name for t in ("t1", "t2", "t3") if (root / t).exists() for p in (root / t).iterdir()}
        want = {"bucket=1", ".rewrite_bucket=1"} if i == 0 else {"bucket=1"}
        assert left <= want, (i, kind, left)


def test_unreadable_swap_intent_stops_recovery(tmp_path):
    """Only a missing intent means no set is pending: one that cannot be
    read raises and leaves the staged dirs for a later recovery."""
    _tree(tmp_path, "t1/.rewrite_bucket=1", "new1")
    (tmp_path / SWAP_INTENT).write_text('{"files": [["t1/bucket=1", "t1/.rew')
    with pytest.raises(ValueError):
        POSIX_BACKEND.recover_swap_set(tmp_path)
    assert (tmp_path / "t1" / ".rewrite_bucket=1").exists()
    (tmp_path / SWAP_INTENT).unlink()
    POSIX_BACKEND.recover_swap_set(tmp_path)  # nothing pending: a no-op
    assert (tmp_path / "t1" / ".rewrite_bucket=1").exists()
