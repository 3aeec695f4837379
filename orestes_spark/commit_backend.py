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
3. **Swap set** — crash-atomic replace of several directories: an
   intent manifest lists the ``(live, staged)`` pairs, then live →
   ``.old_*``, staged → live, drop the backups, drop the intent
   (``swap_set`` / ``recover_swap_set``): every engine bucket rewrite,
   erasure and retention drop, every streaming-store job and the PQ
   index retrain. The intent is the commit point, so recovery has one
   rule: roll a pending intent forward, then discard every staging
   dir, which no intent committed. The engine recovers only under the
   writer lock, at each acquisition (a read that finds an intent
   pending takes the lock to get there), and
   ``engine._recover_swaps`` does the discard; a store recovers when a
   job or processor opens it, and each job discards its own staging.

``PosixCommitBackend`` is the only backend; the engine imports the
shared ``POSIX_BACKEND`` instance. ``engine._require_posix_warehouse``
refuses object-store warehouses because rename/link are not atomic
there.
"""

from __future__ import annotations

import json as _json
import os as _os
import shutil
from pathlib import Path

SWAP_INTENT = "_swap_intent"  # one per space dir / streaming store


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

    # ---------- protocol 3: intent-logged swap set ----------

    @staticmethod
    def swap_set(root: Path, pairs: list) -> None:
        """Swap the fully written ``(live, staged)`` pairs (relative to
        ``root``; ``staged=None`` drops ``live``) as one crash-atomic
        set; the intent is the commit point. Backup drops are STRICT:
        an erasure "succeeding" with the old bytes on disk is a GDPR
        violation."""
        PosixCommitBackend.publish_manifest(root / SWAP_INTENT, pairs, "swap")
        PosixCommitBackend.recover_swap_set(root)

    @staticmethod
    def recover_swap_set(root: Path) -> None:
        """Roll the set pending under ``root`` forward: per pair live →
        .old_<name> (.drop_ for a drop), staged → live; drop the
        backups, then the intent. Idempotent from any crash state, NOT
        against a concurrent recoverer (it can move the other's new
        live dir aside): callers serialize. An unreadable intent
        raises — only a missing one means nothing is pending."""
        try:
            pairs = _json.loads((root / SWAP_INTENT).read_text())["files"]
        except FileNotFoundError:
            return
        backups = []
        for live, staged in pairs:
            live = root / live
            backups.append(live.with_name((".drop_" if staged is None else ".old_") + live.name))
            if staged is not None and not (root / staged).exists():
                continue  # this pair already swapped
            if live.exists():
                live.rename(backups[-1])
            if staged is not None:
                (root / staged).rename(live)
        for backup in backups:
            if backup.exists():
                shutil.rmtree(backup)
        (root / SWAP_INTENT).unlink()


#: process-wide default; engine call sites import this
POSIX_BACKEND = PosixCommitBackend()
