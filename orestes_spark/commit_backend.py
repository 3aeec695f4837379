"""Commit backend: the engine's three rename-dependent durability
protocols behind one small interface.

The engine guarantees exactly-once streaming epochs, single-writer
mutation, and crash-atomic erasure. On a POSIX filesystem those rest
on three primitives this module owns:

1. **Epoch commit log** — a JSON manifest per committed epoch,
   published with write-temp → fsync → ``os.replace`` → dir fsync
   (``publish_manifest`` / ``read_manifest``). Readers resolve
   committed files from manifests by per-path stat, never from racy
   directory listings.
2. **Writer mutex** — a lock file created atomically WITH its payload
   (write a private temp, ``os.link`` it into place; link fails if
   the name exists), heartbeated via mtime, fenced at release
   (``try_create_lock`` / ``read_lock`` / ``heartbeat_lock`` /
   ``remove_lock``). The *policy* — lease judgment, steal/retry,
   fencing — lives in ``engine._writer_lock``; only the atomic
   primitives live here.
3. **Partition swap** — crash-atomic two-phase replace of a live
   bucket directory (live → ``.old_*``, tmp → live, drop ``.old_*``)
   (``swap_partition``). Every engine bucket rewrite (compact,
   delete_series, rebuild_rollup) goes through it via
   ``engine._rewrite_bucket``. ``engine._recover_swaps`` rolls a crashed
   swap forward or back; it runs inside ``engine._writer_lock`` right
   after each acquisition, so every writer recovers before it touches
   a bucket, and on reads when no live writer holds the space.

``PosixCommitBackend`` is the only backend; the engine imports the
shared ``POSIX_BACKEND`` instance. ``engine._require_posix_warehouse``
refuses object-store warehouses because rename/link are not atomic
there.
"""

from __future__ import annotations

import json as _json
import os as _os
from pathlib import Path


class PosixCommitBackend:
    """POSIX atomic rename/link primitives. Stateless; one shared
    instance serves every engine in the process."""

    # ---------- protocol 1: epoch commit log ----------

    @staticmethod
    def publish_manifest(
        marker: Path,
        files: list[str],
        kind: str,
        ns: str | None = None,
        seq: int | None = None,
    ) -> None:
        """Atomically AND durably publish a commit manifest: write
        temp, fsync the data, os.replace, fsync the directory. Without
        the fsyncs a power loss can journal a later rename while the
        manifest bytes are still in cache — a committed-looking epoch
        with a missing/garbage manifest. ``ns``/``seq`` (streaming
        callers) let marker pruning protect the latest replayable
        epoch per stream by monotonic sequence instead of cross-host
        mtime ordering."""
        marker.parent.mkdir(parents=True, exist_ok=True)
        tmpm = marker.parent / f".tmp-{marker.name}"
        payload: dict = {"files": files, "kind": kind}
        if ns is not None:
            payload["ns"] = ns
        if seq is not None:
            payload["seq"] = int(seq)
        with open(tmpm, "w") as f:
            f.write(_json.dumps(payload))
            f.flush()
            _os.fsync(f.fileno())
        _os.replace(tmpm, marker)
        try:
            dfd = _os.open(marker.parent, _os.O_RDONLY)
            try:
                _os.fsync(dfd)
            finally:
                _os.close(dfd)
        except OSError:
            pass  # directory fsync unsupported on this FS: best effort

    @staticmethod
    def read_manifest(marker: Path) -> tuple[list[str] | None, str, dict]:
        """(files, kind, meta) from a commit marker. Formats: v3 dict
        {"files": [...], "kind": "stream"|"compact"|"batch", "ns": ...,
        "seq": ...}, v2 dict without ns/seq, v1 bare list (stream),
        legacy empty touch() marker (None files → the reader falls
        back to the tagged-file glob for that epoch). ``meta`` carries
        the stream namespace + per-stream sequence (absent keys for
        older formats)."""
        try:
            data = _json.loads(marker.read_text())
        except (ValueError, OSError):
            return None, "stream", {}
        if isinstance(data, dict):
            return list(data.get("files", [])), str(data.get("kind", "stream")), data
        return list(data), "stream", {}

    # ---------- protocol 2: writer-mutex primitives ----------

    @staticmethod
    def try_create_lock(path: Path, payload: str) -> bool:
        """Create the lock file atomically WITH its payload: write a
        private temp, ``os.link`` it into place — link fails if the
        name exists, so a contender can never observe an empty lock
        and misread a live writer as dead. Returns False when the
        name is already taken."""
        tmp = path.parent / f".lock_{_os.getpid()}_{id(payload)}"
        tmp.write_text(payload)
        try:
            _os.link(tmp, path)
            return True
        except FileExistsError:
            return False
        finally:
            tmp.unlink(missing_ok=True)

    @staticmethod
    def read_lock(path: Path) -> str:
        """Raw lock payload; propagates FileNotFoundError/OSError —
        the caller's policy distinguishes released vs unreadable."""
        return path.read_text()

    @staticmethod
    def heartbeat_lock(path: Path) -> None:
        """mtime heartbeat for cross-host lease observers."""
        _os.utime(path, None)

    @staticmethod
    def remove_lock(path: Path) -> None:
        path.unlink(missing_ok=True)

    # ---------- protocol 3: crash-atomic partition swap ----------

    @staticmethod
    def swap_partition(live: Path, tmp: Path) -> None:
        """Two-phase replace of a (possibly absent — rollup bootstrap)
        live partition dir with a fully written ``tmp``: live →
        .old_<name>, tmp → live, drop .old. A crash at any point is
        converged by engine._recover_swaps (roll forward when tmp had
        committed, roll back otherwise) — the partition is never
        lost. The backup removal is STRICT: an undeletable ``.old``
        (NFS silly-rename held open by a reader, EACCES) must raise,
        because for the erasure path "success" with the replaced bytes
        still on disk would be a silent GDPR violation — callers
        retry, and _recover_swaps converges the parked state."""
        import shutil

        old = live.parent / f".old_{live.name}"
        if live.exists():
            live.rename(old)
            tmp.rename(live)
            shutil.rmtree(old)
        else:
            tmp.rename(live)


#: process-wide default; engine call sites import this
POSIX_BACKEND = PosixCommitBackend()
