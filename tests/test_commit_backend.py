"""The commit-backend seam: the three rename-dependent durability
protocols (manifest, lock, partition swap) on POSIX."""

from __future__ import annotations

import json

from orestes_spark.commit_backend import POSIX_BACKEND


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


def test_swap_partition_replaces_and_bootstraps(tmp_path):
    live = tmp_path / "bucket=1"
    live.mkdir()
    (live / "old.parquet").write_text("old")
    tmp = tmp_path / ".delete_bucket=1"
    tmp.mkdir()
    (tmp / "new.parquet").write_text("new")
    POSIX_BACKEND.swap_partition(live, tmp)
    assert [f.name for f in live.glob("*.parquet")] == ["new.parquet"]
    assert not tmp.exists() and not (tmp_path / ".old_bucket=1").exists()
    # bootstrap: live absent (first rollup rebuild of a bucket)
    live2 = tmp_path / "bucket=2"
    tmp2 = tmp_path / ".rebuild_bucket=2"
    tmp2.mkdir()
    (tmp2 / "a.parquet").write_text("a")
    POSIX_BACKEND.swap_partition(live2, tmp2)
    assert (live2 / "a.parquet").exists()
