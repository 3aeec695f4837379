"""The Orestes engine, Spark-first.

Storage layout (replaces Cassandra wide rows + ES metadata indices,
SURVEY.md §1.4-1.5):

    <warehouse>/<space>/points/bucket=<N>/*.parquet
        time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>, series_id STRING,
        _seq LONG (delivery stamp — Cassandra write-timestamp analogue:
        re-delivered (series, time) keys merge last-wins at read and
        collapse at compaction, gated by the _deliveries/ marker files
        — one atomically-created file per delivery)
        — written sorted by (series_id, time_ms) within partitions so
        parquet row-group min/max stats give per-series skipping, the
        Spark analogue of one-Cassandra-partition-per-(series,bucket)
        (/root/reference/lib/orestes-settings.js:8-14).
    <warehouse>/<space>/series/bucket=<N>/*.parquet
        series_id STRING, tags MAP — the metadata table, the analogue of
        the per-bucket ES index metadata-<space>@<day>
        (/root/reference/lib/orestes-utils.js:124-126).

Query semantics preserved from the reference:
  - time range is [start, end) — inclusive start, exclusive end
    (/root/reference/README.md:54, lib/orestes-query.js:70-83);
  - bucket pruning: only buckets overlapping the range are scanned; an
    explicit predicate on the ``bucket`` partition column makes Catalyst
    prune partition directories, replacing per-bucket table routing
    (/root/reference/lib/orestes-query.js:133-146);
  - cross-bucket series dedup on reads (D1,
    /root/reference/lib/orestes-query.js:300-311);
  - only-first-write-creates-metadata dedup on writes (D2, Bubo cache →
    here a per-(space, bucket) known-series set for driver commits and
    an anti-join against the existing series table on the Spark sinks,
    /root/reference/lib/orestes-inserter.js:98-116);
  - retention delete drops whole buckets, never rows (S9,
    /root/reference/lib/orestes-remover.js:16-53).

Scale notes (100 TB): the points table is the big one — all reads hit it
with (a) a partition-pruning bucket predicate, (b) a parquet-pushable
time predicate, and (c) either a direct tag predicate or a broadcast
semi-join against the (tiny) filtered series table. groupBy(series_id)
aggregations shuffle only matching series. The grouped (array-of-points)
read shape is an API-layer convenience; the flat shape is the one to use
at scale.
"""

from __future__ import annotations

import itertools
import json as _json_mod
import operator
import os
import re as _re
import shutil
import threading
import time as _time
import uuid
from contextlib import contextmanager, suppress
from pathlib import Path
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from orestes_spark import esdsl, schema, validation
from orestes_spark.commit_backend import POSIX_BACKEND as _BACKEND, SWAP_INTENT
from orestes_spark.config import MS_IN_DAY, EngineConfig, SpaceConfig



def _last_write_wins(pts: DataFrame, *keys: str) -> DataFrame:
    """One row per ``keys``: the later delivery (greater ``_seq``) wins
    and equal stamps fall to the greater value — the reference's
    Cassandra PRIMARY KEY (attrs, offset) upsert, with Cassandra's
    write-timestamp and same-timestamp rules
    (reference lib/orestes-settings.js:9-24). Output: ``keys``, value,
    tags and the winning ``_seq``."""
    return (
        pts.groupBy(*keys)
        .agg(
            F.max_by(F.struct("value", "tags"), F.struct("_seq", "value")).alias("_m"),
            F.max("_seq").alias("_seq"),
        )
        .select(*keys, "_m.value", "_m.tags", "_seq")
    )


def _slot(step: int) -> F.Column:
    """The rollup slot of a point: its time floored to ``step``."""
    return (F.floor(F.col("time_ms") / step) * step).cast("long").alias("slot_ms")


def _rollup_partials(pts: DataFrame, step: int, *keys: str) -> DataFrame:
    """Per-(``keys``, slot) partial moments of raw points: n, sum, sum
    of squares, min, max. Sums are DECIMAL, so partials merge
    associatively with no float drift: any merge order (appends,
    compaction, read groupings) yields the identical value — the same
    exactness the query oracles rely on."""
    v6 = F.col("value").cast("decimal(18,6)")
    return pts.groupBy(*keys, _slot(step)).agg(
        F.first("tags").alias("tags"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_value"),
        F.sum(v6 * v6).alias("sum_sq"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def _merge_rollup_partials(partials: DataFrame) -> DataFrame:
    """Fold rollup partials to one row per (series, slot): counts and
    sums add, min/max fold."""
    return partials.groupBy("series_id", "slot_ms").agg(
        F.first("tags").alias("tags"),
        F.sum("n").alias("n"),
        F.sum("sum_value").alias("sum_value"),
        F.sum("sum_sq").alias("sum_sq"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def _hist_partials(pts: DataFrame, step: int, hist: tuple, *keys: str) -> DataFrame:
    """Per-(``keys``, slot, bin) point counts at the fixed value bins of
    ``hist`` = (width, nbins), out-of-range values clamped into the end
    bins: the mergeable sketch read_rollup_quantile serves quantiles
    from. Counts are associative, so every merge order is exact."""
    width, nbins = hist
    b = F.least(F.greatest(F.floor(F.col("value") / width), F.lit(0)), F.lit(nbins - 1))
    return pts.groupBy(*keys, _slot(step), b.cast("int").alias("bin")).agg(
        F.first("tags").alias("tags"), F.count(F.lit(1)).alias("cnt")
    )


def _cap_points_per_series(pts: DataFrame, cap: int) -> DataFrame:
    """Guard the grouped read's per-series array build: number each
    series' points with a sort-based window (row_number is a running
    count over sorted spilled runs — memory-bounded even for a
    billion-point series) and fail LOUDLY on the first point past the
    cap. raise_error sits in the otherwise-branch of a per-row
    conditional, so it fires only when a series actually exceeds the
    cap — and it fires while the window STREAMS, before the
    downstream collect_list has materialized an over-cap array. The
    error names the offending series so the caller can switch that
    query to read_chunked/grouped=False."""
    if cap < 1:
        raise ValueError(f"max_group_points must be >= 1: {cap}")
    w = Window.partitionBy("series_id").orderBy("time_ms")
    return (
        pts.withColumn("_rn", F.row_number().over(w))
        .where(
            F.when(F.col("_rn") <= F.lit(cap), F.lit(True)).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit("grouped read exceeds max_group_points="),
                        F.lit(str(cap)),
                        F.lit(" for series "),
                        F.col("series_id"),
                        F.lit(
                            " — the per-series array would risk executor OOM;"
                            " use read_chunked (per-bucket arrays),"
                            " grouped=False, or raise the cap"
                        ),
                    )
                ).cast("boolean")
            )
        )
        .drop("_rn")
    )


# Uncapped grouped-read scale warning (round-7 verdict task): estimated
# average points per series in the requested range above which read()
# names the escape paths BEFORE the job runs, instead of letting the
# user discover the ~2 GiB single-row wall (measured, SCALING.md) as a
# mid-job executor failure. ~50M points × 16 B/struct ≈ 0.8 GiB per
# array — warning distance from the wall. Module-level so tests and
# operators can tune it; None disables.
GROUPED_READ_WARN_POINTS: int | None = 50_000_000
# Bytes-per-point floor for the stat-only gate below: sorted
# ts/value/series parquet compresses to well above 2 B/pt in every
# layout _append writes, so a range whose on-disk bytes are under
# warn_points × 2 cannot hold warn_points points for ANY series and
# the estimate (footer reads) is skipped — the common read costs a
# handful of os.stat calls, no footers, no Spark job.
_GROUPED_READ_GATE_BYTES_PER_POINT = 2


# probe memo: (points_root, bucket range) → (bucket-dir mtime_ns
# snapshot, estimate). Revalidated by O(buckets-in-range) dir stats
# per read — a file landing in a bucket bumps its dir mtime — so the
# steady-state probe cost is per-DAY, not per-FILE, and the footer
# walk reruns only when the range actually changed.
_GROUPED_PROBE_CACHE: dict[tuple[str, int, int, int], tuple[tuple, int | None]] = {}


def _grouped_read_series_estimate(
    points_root: Path, start_bucket: int, end_bucket: int, warn_points: int
) -> int | None:
    """Driver-side estimate of the average per-series point count a
    grouped read over [start_bucket, end_bucket] would materialize —
    pure metadata (os.stat gate, then parquet FOOTER row counts), no
    Spark job, so read() can warn before launching anything. Returns
    None when the stat gate proves the range cannot be heavy.

    Cost discipline: results are memoized against a snapshot of the
    range's bucket-DIR mtimes, so an unchanged warehouse pays
    O(buckets in range) stats per read — never the O(files) walk (let
    alone the footer reads) the first evaluation costs.

    Estimate shape: total point rows in range ÷ the largest per-bucket
    series count (series table footers), i.e. "as if every series
    spans the whole range" — the usual time-series shape. Skewed
    corpora can exceed the average silently (an exact per-series count
    IS the Spark job the warning exists to front-run); the hard
    backstop for those is ``max_group_points``."""
    parts = [
        p
        for p in points_root.glob("bucket=*")
        if start_bucket <= int(p.name.split("=", 1)[1]) <= end_bucket
    ]

    def dir_mtime_ns(p: Path) -> int:
        try:
            return p.stat().st_mtime_ns
        except OSError:
            return -1

    snapshot = tuple(sorted((p.name, dir_mtime_ns(p)) for p in parts))
    # warn_points is part of the key: a None result means "under the
    # gate FOR THIS threshold", not absolutely
    key = (str(points_root), start_bucket, end_bucket, warn_points)
    hit = _GROUPED_PROBE_CACHE.get(key)
    if hit is not None and hit[0] == snapshot:
        return hit[1]
    pfiles = [f for p in parts for f in p.glob("*.parquet")]
    gate = warn_points * _GROUPED_READ_GATE_BYTES_PER_POINT
    if sum(f.stat().st_size for f in pfiles) < gate:
        _GROUPED_PROBE_CACHE[key] = (snapshot, None)
        return None
    import pyarrow.parquet as pq

    def footer_rows(files) -> int:
        n = 0
        for f in files:
            try:
                n += pq.ParquetFile(f).metadata.num_rows
            except Exception:  # torn/in-flight file: skip, stay cheap
                continue
        return n

    total_points = footer_rows(pfiles)
    series_root = points_root.parent / "series"
    max_series = 1
    for p in series_root.glob("bucket=*") if series_root.exists() else []:
        if start_bucket <= int(p.name.split("=", 1)[1]) <= end_bucket:
            max_series = max(max_series, footer_rows(p.glob("*.parquet")))
    est = total_points // max_series
    _GROUPED_PROBE_CACHE[key] = (snapshot, est)
    return est


def _require_posix_warehouse(warehouse: str) -> None:
    """The engine's durability protocols — single-writer lock
    (os.link create-with-content), the bucket swap sets (Path.rename),
    and streaming's staged-epoch file moves
    (_append) — assume POSIX atomic rename/link on a filesystem both
    driver and executors can reach (local, NFS, or a FUSE mount).
    Object stores (s3a/gs/abfss/...) provide NONE of that: rename is
    copy+delete, so the exactly-once and crash-atomicity guarantees
    would silently not hold. Refuse LOUDLY instead — at that tier the
    commit log belongs to a lakehouse table format (Delta/Iceberg),
    whose transaction log does this job. The protocols are isolated
    behind commit_backend.PosixCommitBackend."""
    if "://" not in warehouse:
        return
    scheme = warehouse.split("://", 1)[0]
    if scheme == "file":
        raise ValueError(
            f"warehouse {warehouse!r}: pass the plain filesystem path"
            " (no file:// prefix) — the engine addresses the warehouse"
            " with POSIX path operations, not Hadoop URIs."
        )
    raise ValueError(
        f"warehouse {warehouse!r} uses scheme {scheme!r}: the engine's"
        " single-writer lock, erasure swap, and staged-epoch commit assume"
        " POSIX atomic rename/link, which object stores do not provide —"
        " the guarantees would silently not hold. Use a local/NFS path, or"
        " a lakehouse table format (Delta/Iceberg) whose transaction log"
        " owns the commit protocol at object-store scale."
    )


import socket as _socket

_HOSTNAME = _socket.gethostname()

# Streaming-epoch file tag (see _append.write_points): epochN-<part>.parquet
_EPOCH_TAG_RE = _re.compile(r"^epoch(-?\d+)-")


def _committed_epochs(points_root: Path) -> set[int]:
    return {
        int(m.name.split("-", 1)[1])
        for m in (points_root / "_epochs").glob("epoch-*")
    }


def _fresh_epoch_key() -> int:
    """Random positive int63 epoch key for compaction manifests —
    collision-free against stream keys (themselves hashes or small
    ints) by birthday bound."""
    return uuid.uuid4().int >> 65


def _publish_compact_manifest(points_root: Path, part_name: str, tmp: Path) -> None:
    """Tag a maintenance rewrite's output files and publish them under
    a kind=compact manifest — shared by compact() and delete_series():
    in a streaming space every point file must stay manifest-covered
    (resolved by per-path stat), or readers would fall back to the
    readdir glob that can transiently miss entries during concurrent
    epoch renames. Written BEFORE the directory swap: the listed paths
    don't exist yet (stat-filtered → invisible) and appear atomically
    at the swap. Never a replay key (prune treats kind=compact as a
    pure visibility record)."""
    key = _fresh_epoch_key()
    files = []
    for f in sorted(tmp.glob("*.parquet")):
        name = f"epoch{key}-{f.name}"
        f.rename(tmp / name)
        files.append(f"{part_name}/{name}")
    _write_manifest(points_root / "_epochs" / f"epoch-{key}", files, "compact")


# The hidden names a writer stages a table's files under until they
# are committed: a bucket rewrite (_stage_bucket), a driver commit
# (_publish_staged) and an epoch stage. _recover_swaps discards them.
_STAGING = (".rewrite_bucket=", ".append-", ".staging_epoch=")


def _stage_bucket(part: Path, df: DataFrame, partition_by: str | None = None) -> tuple[str, str]:
    """Write ``df`` as the whole new bucket ``part`` under a hidden
    staging name (Spark's ``_SUCCESS`` marks it complete), publish its
    compact manifest in an ``_epochs`` space, and return the
    ``(live, staged)`` swap_set pair, relative to the space dir."""
    tmp = part.parent / f".rewrite_{part.name}"
    writer = df.write.mode("overwrite")
    if partition_by is not None:
        writer = writer.partitionBy(partition_by)
    writer.parquet(str(tmp))
    if (part.parent / "_epochs").exists():
        _publish_compact_manifest(part.parent, part.name, tmp)
    return f"{part.parent.name}/{part.name}", f"{part.parent.name}/{tmp.name}"


def _rewrite_bucket(part: Path, df: DataFrame, partition_by: str | None = None) -> None:
    """Replace the bucket dir ``part`` (absent: a rollup bootstrap) by
    ``df`` as a one-pair swap_set — compact's and rebuild_rollup's."""
    _BACKEND.swap_set(part.parent.parent, [_stage_bucket(part, df, partition_by)])


_COMPACT_TARGET_BYTES = 128 << 20  # healthy parquet file size


def _compact_width(files: list[Path], target_bytes: int = _COMPACT_TARGET_BYTES) -> int:
    """Output-file count for a bucket rewrite: one range partition per
    ~target on-disk bytes. Compressed input size is the best available
    predictor of compressed output size, so a TB-scale bucket rewrites
    as thousands of parallel size-targeted tasks — never the one-task
    `.coalesce(1)` straggler/OOM a naive compaction would be."""
    total = sum(f.stat().st_size for f in files)
    return max(1, -(-total // target_bytes))


def _merge_partial_partitions(spark, root: Path, buckets, build_df) -> None:
    """Shared compaction scaffold for epoch-keyed partial tables
    (rollup, rollup_hist): per bucket partition, skip the already-
    canonical shape (≤1 file, all under epoch=-1) and otherwise
    rewrite it as ``build_df``'s merged partials under epoch=-1."""
    if not root.exists():
        return
    for part in sorted(root.glob("bucket=*")):
        if buckets is not None and int(part.name.split("=", 1)[1]) not in buckets:
            continue
        files = list(part.rglob("*.parquet"))
        epochs = sorted(d.name for d in part.glob("epoch=*"))
        if len(files) <= 1 and epochs in ([], ["epoch=-1"]):
            continue
        df = build_df(spark.read.parquet(str(part))).withColumn("epoch", F.lit(-1))
        _rewrite_bucket(part, df, "epoch")


# The manifest commit-log primitives live in commit_backend: engine
# code keeps these module names, so every call site and test is
# unchanged while the POSIX implementation is inspectable as one unit
# (see commit_backend.PosixCommitBackend).
_read_manifest = _BACKEND.read_manifest
_write_manifest = _BACKEND.publish_manifest


def _sweep_uncommitted_epoch_files(points_root: Path) -> None:
    """Drop tagged point files whose epoch never committed its points
    marker. They are invisible to readers (see _visible_points) and
    will be fully re-delivered by the epoch's replay, so physically
    they are crash debris — and maintenance rewrites (compact,
    delete_series) MUST NOT fold them into untagged output, which
    would both make an uncommitted epoch visible and duplicate it on
    replay. Same decommissioned-stream caveat as the staging discard
    at each writer-lock acquisition (_recover_swaps): a stream that
    never restarts loses its uncommitted (never acknowledged) final
    epoch."""
    if not points_root.exists():
        return
    committed = _committed_epochs(points_root)
    for f in points_root.glob("bucket=*/*.parquet"):
        m = _EPOCH_TAG_RE.match(f.name)
        if m and int(m.group(1)) not in committed:
            bdir = f.parent
            f.unlink()
            if not any(bdir.iterdir()):
                bdir.rmdir()


# GC bound on replay-key markers kept per warehouse: one per stream
# namespace for the N most recently written namespaces (see
# _prune_epoch_markers — eviction past the bound is recoverable, it
# reopens only the documented one-epoch replay window for a stream
# idle longer than N successors).
_MAX_PROTECTED_STREAM_NS = 32


def _prune_epoch_markers(points_root: Path) -> None:
    """Bound the points-epoch marker set: a marker is deletable once
    (a) no tagged file of its epoch remains anywhere (compaction
    folded them into untagged output — the marker no longer gates any
    visibility) AND (b) it is not the latest STREAM marker of its
    stream namespace (the only epoch that stream's restart can ever
    replay, where it is the idempotency key that prevents a duplicate
    re-append). Latest-per-namespace is judged by the MONOTONIC
    per-stream ``seq`` recorded in the manifest payload — epoch ids
    restart at 0 per checkpoint (max-id would protect the wrong
    marker) and marker mtimes are written by different hosts on a
    shared warehouse, where clock/attribute skew can rank a dead
    generation's marker "newer" than the actually-replayable one
    (round-7 ADVICE fix; mtime remains the fallback ONLY for legacy
    markers that predate the ns/seq payload, grouped under one
    namespace). kind=compact and kind=batch manifests are pure
    visibility records, never replay keys, and prune as soon as their
    files are superseded.

    The protected set is additionally BOUNDED to the
    ``_MAX_PROTECTED_STREAM_NS`` most recently written namespaces:
    without the bound, every checkpoint ever pointed at the warehouse
    (CI runs, ad-hoc backfills, recreated streams) would park its
    final marker forever and every read would pay to parse it —
    O(all namespaces ever seen), unbounded. Evicting a long-idle
    namespace's marker is RECOVERABLE by design: the only cost is
    that if that exact stream restarts later and replays its final
    epoch, the replay re-appends once (points collapse via the upsert
    merge; rollup partials over-count until ``compact()``/
    ``rebuild_rollup``, surfaced by ``rollup_stale``) — the same
    documented one-epoch window as a namespace respelling. Recency
    across namespaces is by marker mtime, acceptable here because a
    skewed eviction ranking degrades GC quality, not correctness.
    Keeps the marker dir at O(uncompacted epochs +
    min(live namespaces, bound))."""
    markers = list((points_root / "_epochs").glob("epoch-*"))
    if len(markers) <= 1:
        return
    live = set()
    for f in points_root.glob("bucket=*/*.parquet"):
        m = _EPOCH_TAG_RE.match(f.name)
        if m:
            live.add(int(m.group(1)))

    def mtime(mk: Path) -> float:
        try:
            return mk.stat().st_mtime
        except OSError:
            return float("inf")  # unreadable: treat as newest, keep

    by_ns: dict[str | None, list[tuple[Path, dict]]] = {}
    for mk in markers:
        _files, kind, meta = _read_manifest(mk)
        if kind == "stream":
            by_ns.setdefault(meta.get("ns"), []).append((mk, meta))
    candidates: list[Path] = []
    for ns, group in by_ns.items():
        if ns is None:
            # legacy / direct-_append markers: no recorded sequence,
            # recency-by-mtime is the only available order
            candidates.append(max((mk for mk, _m in group), key=mtime))
        else:
            candidates.append(max(group, key=lambda t: int(t[1].get("seq", -1)))[0])
    # bound across namespaces: most recently written first (see above)
    protected = set(sorted(candidates, key=mtime, reverse=True)[:_MAX_PROTECTED_STREAM_NS])
    for mk in markers:
        if mk not in protected and int(mk.name.split("-", 1)[1]) not in live:
            mk.unlink(missing_ok=True)


def _holder_alive(holder: dict, path: Path, lease_ms: int) -> bool:
    """Is the writer described by a lock payload live? Same-host
    holders are pid-probed (authoritative; a legacy lock without a
    host field gets the same treatment — it was written by a
    same-machine engine). A FOREIGN-host holder cannot be pid-probed:
    it is live while its mtime heartbeat is within the lease, dead
    once the heartbeat has gone stale (crashed remote writer — steal
    instead of wedging the space forever)."""
    pid = int(holder.get("pid", -1))
    if holder.get("host", _HOSTNAME) == _HOSTNAME:
        return pid > 0 and _pid_alive(pid)
    try:
        age_ms = (_time.time() - path.stat().st_mtime) * 1000.0
    except OSError:
        return False  # lock vanished: holder released
    # Judge the heartbeat against the HOLDER's recorded lease (it
    # beats at lease/3 of ITS config) — an observer configured with a
    # shorter lease must not steal a live writer that beats slower
    # than the observer expects. Observer's lease is the fallback for
    # legacy locks without the field.
    return age_ms < int(holder.get("lease_ms", lease_ms))


def _pid_alive(pid: int) -> bool:
    """Liveness probe for the writer lock. EPERM means the pid EXISTS
    under another uid — a live foreign writer sharing the warehouse —
    so it must read as alive (stealing its lock would cause the exact
    concurrent-mutation corruption the lock prevents, and the thief's
    recovery would discard its in-flight staging dirs). Only
    ESRCH proves death; any other kill(0) failure fails SAFE as
    alive (manual lock removal beats silent corruption)."""
    import os

    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except OSError:  # PermissionError (EPERM) and anything else
        return True


class ConcurrentWriterError(RuntimeError):
    """A second writer tried to mutate a space while another live
    writer holds its lock (single-writer contract, enforced loudly)."""


class _WriteRequest:
    """One list-input write waiting in its space's commit queue."""

    def __init__(self, rows: list[dict[str, Any]], max_errors: int) -> None:
        self.rows = rows
        self.max_errors = max_errors
        # Set when this request's group has committed, or when it is
        # handed leadership of the next group (``done`` tells which).
        self.turn = threading.Event()
        self.done = False
        self.errors: list[dict[str, Any]] = []
        self.exc: BaseException | None = None


# Largest |int| time the driver passes through unchecked: up to 2**53
# normalize_time_col's double round-trip is exact, and the bucket is
# far inside the INT partition column.
_EXACT_TIME_MS = 2**53


def _truncation_entry(total: int, max_errors: int) -> dict[str, Any]:
    return {
        "point": None,
        "error": f"error list truncated: {total} invalid points total,"
        f" first {max_errors} returned",
    }


def _proven_time_ms(t: Any) -> int | None:
    """Epoch ms of a time the driver can vouch for without Spark (an
    int, not a bool, within ±2**53); None sends the row through
    normalize_time_col and classify."""
    if type(t) is int and -_EXACT_TIME_MS <= t <= _EXACT_TIME_MS:
        return t
    return None


# The file schemas Spark writes for the points and series tables
# (bucket is the partition directory, not a column).
_TAGS_ARROW = pa.map_(pa.string(), pa.string())
_POINTS_ARROW = pa.schema(
    [
        ("time_ms", pa.int64()),
        ("value", pa.float64()),
        ("tags", _TAGS_ARROW),
        ("series_id", pa.string()),
        pa.field("_seq", pa.int64(), nullable=False),
    ]
)
_SERIES_ARROW = pa.schema([("series_id", pa.string()), ("tags", _TAGS_ARROW)])
# The encodings Spark's parquet writer settles on for these columns
# (dictionary for the strings and _seq, plain for time_ms and value),
# and no Arrow schema in the footer: the files come out the size of
# Spark's.
_PARQUET_WRITE = {
    "use_dictionary": ["tags.key_value.key", "tags.key_value.value", "series_id", "_seq"],
    "store_schema": False,
}


def _driver_points(
    rows: list[tuple[int, float, dict[str, str]]], granularity: int, seq: int
) -> dict[int, tuple[list[tuple], pa.Table]]:
    """The stored rows of a driver-committed delivery, per bucket: the
    (bucket, series_id, time_ms, value, tags) rows sorted by the first
    three, and the points file they make. Raises UnicodeEncodeError on
    a string UTF-8 cannot encode (a lone surrogate)."""
    keyed = sorted(
        ((schema.bucket_of(t, granularity), schema.series_id(tags), t, v, tags) for t, v, tags in rows),
        key=operator.itemgetter(0, 1, 2),
    )
    out = {}
    for b, grp in itertools.groupby(keyed, key=operator.itemgetter(0)):
        grp = list(grp)
        _b, sids, times, values, tags = zip(*grp)
        out[b] = (
            grp,
            pa.table(
                [times, values, [list(t.items()) for t in tags], sids, [seq] * len(grp)],
                schema=_POINTS_ARROW,
            ),
        )
    return out


def _publish_staged(root: Path, stage: Path) -> None:
    """Move the bucket=B dirs of a staged plain append into ``root``:
    file by file into a bucket that exists, as the whole dir into one
    that does not, so a crash never leaves a file-less bucket=*
    partition. The stage dir is dot-prefixed, invisible to readers."""
    for bdir in sorted(stage.glob("bucket=*")):
        tgt = root / bdir.name
        if tgt.exists():
            for f in bdir.iterdir():
                f.rename(tgt / f.name)
        else:
            bdir.rename(tgt)
    shutil.rmtree(stage)


class RollupStaleWarning(UserWarning):
    """Rollup tables may diverge from point reads until reconciled
    (cross-delivery overwrites counted per-delivery in the partials)."""


class RollupStaleError(RuntimeError):
    """Raised by rollup reads with on_stale='error' when the space has
    unreconciled multi-delivery writes."""


class OrestesEngine:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str | None = None,
        spaces: dict[str, SpaceConfig] | None = None,
        config: EngineConfig | None = None,
    ) -> None:
        """``config`` carries the full EngineConfig — the way the
        engine-level setting a reference-format JSON file carries
        (``writer_lease_ms``) reaches an engine: ``OrestesEngine(spark,
        config=engine_config_from_json(path, warehouse))``. The
        (warehouse, spaces) form stays for the common programmatic
        case; passing both ``config`` and ``spaces`` is ambiguous and
        refused."""
        if config is not None:
            if spaces is not None:
                raise ValueError("pass spaces inside config, not alongside it")
            if warehouse is not None and warehouse != config.warehouse:
                raise ValueError(
                    f"warehouse given twice and differing: {warehouse!r}"
                    f" vs config.warehouse={config.warehouse!r}"
                )
        elif warehouse is None:
            raise ValueError("warehouse (or config) is required")
        else:
            config = EngineConfig(warehouse=warehouse, spaces=spaces or {})
        _require_posix_warehouse(config.warehouse)
        self.spark = spark
        self.config = config
        # Per-sink wall times from the most recent _append (sinks run
        # concurrently — max is the critical path, not the sum).
        self.last_append_timings: dict[str, float] = {}
        # Monotonic delivery stamp for last-write-wins merge (see
        # _append); guards against wall-clock ties across fast appends.
        self._last_seq = 0
        # space -> holding thread id: makes the lock reentrant for the
        # SAME thread (compact() calls rebuild_rollup()); a different
        # thread of this engine contends like any foreign writer.
        self._held_locks: dict[str, int] = {}
        # Group commit of list-input writes (_group_commit): requests
        # queued per space, and the spaces whose leader is committing.
        self._commit_mutex = threading.Lock()
        self._commit_queues: dict[str, list[_WriteRequest]] = {}
        self._committing: set[str] = set()
        # (space, bucket) -> (series file names read, series ids in
        # them): the driver commit's series dedup (_known_series),
        # touched only under the space's writer lock.
        self._series_seen: dict[tuple[str, int], tuple[set[str], set[str]]] = {}

    # ---------- single-writer lock ----------

    def _lock_path(self, space: str) -> Path:
        return Path(self.config.warehouse) / space / "_writer.lock"

    @contextmanager
    def _writer_lock(self, space: str, op: str):
        """Per-space single-writer guard: every mutating entry point
        (write/_append, compact, remove, delete_series, rebuild_rollup)
        holds this advisory lock, so a second concurrent writer fails
        LOUDLY (ConcurrentWriterError) instead of corrupting the
        compaction/upsert markers that assume one writer. The lock file
        is created ATOMICALLY WITH ITS PAYLOAD (write a private temp
        file, ``os.link`` it into place — link fails if the name
        exists), so a contender can never observe an empty lock and
        misread a live writer as dead; a lock whose recorded pid is
        dead is stolen (crash recovery). Reentrancy is per (space,
        thread): a second THREAD of the same engine fails loudly like
        any other contender rather than silently sharing the lock.

        Cross-HOST holders (NFS-shared warehouse) cannot be
        pid-probed, so their liveness is a LEASE: the lock file's
        mtime is a heartbeat (a daemon thread touches it every
        lease/3 while held) and a foreign-host lock whose heartbeat
        is older than ``EngineConfig.writer_lease_ms`` reads as dead —
        a writer that crashed on another host stops wedging the space
        after one lease instead of forever. Same-host holders stay
        pid-probed (authoritative, mtime-independent; _pid_alive
        documents the EPERM rule). The release path FENCES: if the
        lock no longer carries this acquisition's token (a contender
        judged the lease expired mid-operation — a pathological GC
        pause — and stole it), release raises ConcurrentWriterError
        instead of silently unlinking the thief's lock. Mutations
        between the steal and the fence are the residual window,
        which is why the lease must exceed the longest plausible
        stall. In a lakehouse deployment this job is done by the
        table format's transaction log, same as the delivery
        markers."""
        import json as _json
        import os
        import threading
        import uuid as _uuid

        tid = threading.get_ident()
        if self._held_locks.get(space) == tid:  # reentrant, same thread only
            yield
            return
        lease_ms = self.config.writer_lease_ms
        path = self._lock_path(space)
        path.parent.mkdir(parents=True, exist_ok=True)
        token = _uuid.uuid4().hex
        payload = _json.dumps(
            {
                "pid": os.getpid(),
                "host": _HOSTNAME,
                "token": token,
                "op": op,
                "ts_ms": int(_time.time() * 1000),
                # Observers judge the mtime heartbeat against the
                # HOLDER's lease, not their own (_holder_alive).
                "lease_ms": lease_ms,
            }
        )
        acquired = False
        for attempt in (0, 1, 2):
            if _BACKEND.try_create_lock(path, payload):  # atomic create-with-content
                acquired = True
                break
            try:
                holder = _json.loads(_BACKEND.read_lock(path))
                pid = int(holder.get("pid", -1))
            except FileNotFoundError:
                continue  # released between create and read: retry
            except (ValueError, OSError):
                # Cannot happen for locks this code wrote (the create
                # carries the full payload); a mangled foreign file is
                # indistinguishable from a live writer — fail safe,
                # require manual removal.
                raise ConcurrentWriterError(
                    f"space {space!r} has an unreadable writer lock at {path};"
                    " remove it manually if no writer is running"
                )
            if _holder_alive(holder, path, lease_ms):
                raise ConcurrentWriterError(
                    f"space {space!r} is locked by a live writer"
                    f" (pid {pid} on {holder.get('host', '?')},"
                    f" op {holder.get('op')!r}): concurrent"
                    " mutation would corrupt the single-writer markers —"
                    " retry after it finishes"
                )
            if attempt == 2:  # stolen repeatedly and still losing
                raise ConcurrentWriterError(
                    f"space {space!r}: lost the lock race repeatedly to dead locks"
                )
            _BACKEND.remove_lock(path)  # dead/expired holder: steal
        if not acquired:
            # Every loop path must end in create-success or raise;
            # this guards the release-race `continue` exhausting
            # the attempts — proceeding lockless would be silent.
            raise ConcurrentWriterError(
                f"space {space!r}: could not acquire the writer lock after"
                " repeated release races — retry"
            )
        self._held_locks[space] = tid
        # mtime heartbeat for cross-host observers; verifies the token
        # before each beat so a stolen lock is never resurrected.
        stop = threading.Event()

        def _beat() -> None:
            while not stop.wait(max(lease_ms / 3000.0, 0.05)):
                try:
                    if _json.loads(_BACKEND.read_lock(path)).get("token") != token:
                        return  # stolen: stop beating, release will fence
                    _BACKEND.heartbeat_lock(path)
                except OSError:
                    return

        beater = threading.Thread(target=_beat, name=f"lock-heartbeat-{space}", daemon=True)
        beater.start()
        body_raised = False
        try:
            # Crash recovery, once per acquisition, so every writer
            # finds each bucket old or new before it touches one: roll
            # the pending swap set forward, then every staging dir left
            # is uncommitted.
            _BACKEND.recover_swap_set(path.parent)
            for root in self._tables(space).values():
                self._recover_swaps(root)
            yield
        except BaseException:
            body_raised = True
            raise
        finally:
            self._held_locks.pop(space, None)
            stop.set()
            beater.join(timeout=5)
            fenced = False
            unlink_ok = True
            try:
                fenced = _json.loads(_BACKEND.read_lock(path)).get("token") != token
            except FileNotFoundError:
                # Gone while we believed we held it: the only actor
                # that unlinks a held lock is a contender that judged
                # the lease expired and removed it mid-steal (before
                # re-linking its own). That is the same
                # expired-then-stolen condition as a token mismatch —
                # fence loudly instead of reporting success silently
                # (round-7 ADVICE fix; there is nothing of ours left
                # to unlink either way).
                fenced = True
                unlink_ok = False
            except (ValueError, OSError):
                # Present but unreadable: a foreign-uid thief's lock
                # (ours is always readable — we wrote it). Deleting it
                # would hand a third writer concurrent access; fence.
                fenced = True
            if fenced:
                msg = (
                    f"space {space!r}: writer lease expired mid-operation and the"
                    f" lock was stolen (op {op!r}) — this writer stalled past"
                    " writer_lease_ms and its writes may have raced the thief's;"
                    " run compact() to reconcile, and raise the lease beyond the"
                    " longest plausible stall"
                )
                if body_raised:
                    # The operation is already failing loudly; a raise
                    # here would MASK that original error. Surface the
                    # fence as a warning and leave the thief's lock.
                    import warnings

                    warnings.warn(msg, RuntimeWarning, stacklevel=2)
                else:
                    raise ConcurrentWriterError(msg)
            elif unlink_ok:
                _BACKEND.remove_lock(path)

    # ---------- paths ----------

    def _points_path(self, space: str) -> Path:
        return Path(self.config.warehouse) / space / "points"

    def _series_path(self, space: str) -> Path:
        return Path(self.config.warehouse) / space / "series"

    def _rollup_path(self, space: str) -> Path:
        return Path(self.config.warehouse) / space / "rollup"

    def _hist_path(self, space: str) -> Path:
        return Path(self.config.warehouse) / space / "rollup_hist"

    def _tables(self, space: str) -> dict[str, Path]:
        """The four bucketed tables of a space, by name."""
        return {
            "points": self._points_path(space),
            "series": self._series_path(space),
            "rollup": self._rollup_path(space),
            "rollup_hist": self._hist_path(space),
        }

    def _granularity(self, space: str) -> int:
        return self.config.space(space).granularity_days

    # ---------- delivery marker (upsert merge gate) ----------
    #
    # The reference's points table is a Cassandra PRIMARY KEY
    # (attrs, offset) (/root/reference/lib/orestes-settings.js:9-24):
    # re-writing a (series, time) is an UPSERT — the last write wins
    # and a read returns one point. Parquet appends keep every
    # delivery, so reads must merge — the LSM/Cassandra read-repair
    # shape. The marker below is the tiny driver-side txn-log that
    # lets the common case skip the merge: a space that has seen ≤1
    # delivery since its last compaction cannot hold cross-delivery
    # duplicates, so reads keep their merge-free plans. (In a
    # lakehouse deployment this bit comes free from table-format
    # metadata; single-writer assumption, same as compact().)

    def _deliveries_path(self, space: str) -> Path:
        return Path(self.config.warehouse) / space / "_deliveries"

    def _delivery_count(self, space: str) -> int:
        """Only the ≤1 vs >1 distinction matters to the merge gate, so
        the directory listing short-circuits after TWO entries —
        constant cost no matter how many micro-batch markers have
        accumulated (an unbounded listing would be a paged object-store
        LIST per read at scale)."""
        p = self._deliveries_path(space)
        if p.exists():
            return len(list(itertools.islice(p.iterdir(), 2)))
        # No markers beside live buckets (a crash inside
        # _reset_deliveries or _clear_deliveries): unknown history —
        # assume merge is needed (safe, never wrong). "Has data" means
        # live bucket partitions, not a leftover empty directory — a
        # space whose buckets were all expired holds nothing to merge.
        return 2 if any(self._points_path(space).glob("bucket=*")) else 0

    def _mark_delivery(self, space: str) -> None:
        """Append ONE marker file per delivery. File creation is
        atomic, so a racing writer cannot lose another's marker the
        way a read-modify-write counter would. (The gate's accounting
        is race-free, but same-space appends are still serialized,
        same as compact(): a Spark-sink append stages its files under
        a _temporary dir shared by every job writing that table, and
        a driver commit's series dedup holds only if no other append
        lands between its listing of the series bucket and its rename.
        Concurrent list writes in this engine are group-committed into
        one append (_group_commit), and any other writer fails loudly
        on the writer lock.)"""
        p = self._deliveries_path(space)
        p.mkdir(parents=True, exist_ok=True)
        (p / f"{self._last_seq}-{uuid.uuid4().hex}").touch()

    def _clear_deliveries(self, space: str) -> None:
        """Drop every delivery marker: the space holds no point
        buckets, so there is nothing left to merge and the gate must
        disarm (otherwise every read after a full retention sweep
        would pay the merge aggregation forever)."""
        p = self._deliveries_path(space)
        if p.exists():
            shutil.rmtree(p)

    def _reset_deliveries(self, space: str) -> None:
        """Post-full-compaction: collapse the marker set to one (the
        compacted state is a single logical delivery). Single-writer
        maintenance, same caveat as compact() itself."""
        p = self._deliveries_path(space)
        if p.exists():
            shutil.rmtree(p)
        self._mark_delivery(space)

    def _merge_needed(self, space: str) -> bool:
        if self.config.space(space).append_only:
            return False  # declared workload contract: keys never re-written
        return self._delivery_count(space) > 1

    def rollup_stale(self, space: str = "default") -> bool:
        """True when the continuous-rollup tables MAY disagree with
        point reads: the merge gate is armed, so a cross-delivery
        overwrite could exist whose every delivery the rollup partials
        still count, while read() serves last-write-wins. Conservative
        (gate armed ≠ overwrites actually happened); False is a
        guarantee of agreement. compact()/rebuild_rollup reconcile."""
        return self._merge_needed(space)

    def _check_rollup_fresh(self, space: str, on_stale: str) -> None:
        """Programmatic surface for the rollup/point divergence window
        (previously documented only in docstrings): ``on_stale`` is
        'warn' (default — RollupStaleWarning), 'error' (raise), or
        'ignore' (caller accepts eventual consistency)."""
        if on_stale not in ("warn", "error", "ignore"):
            # Validate unconditionally: a typo'd mode must fail on the
            # first call, not the first STALE call.
            raise ValueError(f"on_stale must be 'warn', 'error', or 'ignore': {on_stale!r}")
        if on_stale == "ignore" or not self.rollup_stale(space):
            return
        msg = (
            f"space {space!r} has unreconciled multi-delivery writes: rollup reads"
            " may count every delivery of an overwritten point while read() serves"
            " last-write-wins — run compact() or rebuild_rollup() to reconcile,"
            " or pass on_stale='ignore'"
        )
        if on_stale == "error":
            raise RollupStaleError(msg)
        import warnings

        warnings.warn(msg, RollupStaleWarning, stacklevel=3)

    def _rollup_step(self, space: str) -> int | None:
        return self.config.space(space).rollup_step_ms

    # ---------- write path (S1-S5, D2) ----------

    def write(
        self, points: Any, space: str = "default", max_errors: int = 10_000
    ) -> list[dict[str, Any]]:
        """Ingest points; returns the per-point error list (empty on full
        success), mirroring POST /write (/root/reference/lib/orestes.js:69-80).

        ``points`` may be a list of reference-style dicts
        (``{time, value, ...tags}``), a canonical DataFrame
        (time_ms, value, tags), or a wide DataFrame (time/value + one
        column per tag).

        List input (the reference's only write surface, and what
        ``/write`` sends) is group-committed: concurrent list writes to
        one space in this engine share one ``_append`` (see
        _group_commit), and each call returns once its group is
        committed, with its own errors.

        The collected error list is capped at ``max_errors`` rows: the
        reference returns every error, but a poisoned 100-TB batch
        would otherwise collect millions of rows to the driver. When
        truncated, a final summary entry (``point: None``) carries the
        TOTAL invalid count so callers still see the full damage.
        """
        if isinstance(points, list):
            valid_rows, errors = validation.validate_raw_rows(points)
            if not valid_rows:
                return errors
            return errors + self._group_commit(space, _WriteRequest(valid_rows, max_errors))
        if isinstance(points, DataFrame):
            df = points
            if "tags" not in df.columns:
                df = schema.points_from_wide(df)
            elif "time_ms" not in df.columns:
                df = df.select(
                    schema.normalize_time_col(F.col("time")).alias("time_ms"),
                    F.col("value").cast("double").alias("value"),
                    F.col("tags"),
                )
        else:
            raise TypeError(f"unsupported points input: {type(points).__name__}")

        valid, err_df = validation.split_valid(df.select("time_ms", "value", "tags"))
        # Per-point error reporting, never batch abort (S4). Collecting
        # the error side-output is an extra job; callers on the hot
        # path can pre-validate and use _append directly. The collect
        # is bounded (limit + count), never an unbounded driver pull.
        errors: list[dict[str, Any]] = []
        err_rows = err_df.limit(max_errors).collect()
        for row in err_rows:
            errors.append({"point": row.asDict(recursive=True), "error": row["error"]})
        if len(err_rows) == max_errors:
            total = err_df.count()
            if total > max_errors:
                errors.append(_truncation_entry(total, max_errors))

        self._append(valid, space)
        return errors

    def _group_commit(self, space: str, req: _WriteRequest) -> list[dict[str, Any]]:
        """Queue ``req`` for the space's next commit and return its
        errors once that commit is done (the micro-batch model of
        Structured Streaming, applied to the request path). The first
        request to arrive leads: it commits everything queued so far as
        one _append, then hands leadership to the first request still
        queued. A group is whatever arrived while the previous commit
        ran — no timer, no size cap. If the commit raises (a foreign
        writer holds the lock, a sink fails), every member of the group
        raises the same error. Only list writes of THIS engine queue
        here; any other writer still meets the writer lock and fails
        loudly."""
        with self._commit_mutex:
            self._commit_queues.setdefault(space, []).append(req)
            lead = space not in self._committing
            self._committing.add(space)
        if not lead:
            req.turn.wait()
        if not req.done:
            with self._commit_mutex:
                group = self._commit_queues.pop(space)
            try:
                self._commit_group(group, space)
            except BaseException as e:
                for r in group:
                    r.exc = e
            finally:
                with self._commit_mutex:
                    waiting = self._commit_queues.get(space)
                    if waiting:
                        waiting[0].turn.set()  # hand over leadership
                    else:
                        self._committing.discard(space)
                for r in group:
                    r.done = True
                    r.turn.set()
        if req.exc is not None:
            raise req.exc
        return req.errors

    def _commit_group(self, group: list[_WriteRequest], space: str) -> None:
        """Commit a group of validated list writes as ONE delivery and
        fill in each request's errors."""
        # Upsert: the reference's Cassandra batch writes the same
        # (series, time) twice as one row (last wins; at equal
        # write-timestamps the greater value, which is the
        # deterministic rule used here and by the read-side merge).
        # Across the requests of a group, the later request wins, as a
        # later serial delivery would. Driver-side, so a single
        # delivery is always duplicate-free and the merge gate can stay
        # off. DataFrame bulk loads (our extension surface) expect
        # in-batch-unique rows; cross-delivery upserts are handled for
        # both by the read-side merge + compaction.
        batches: list[dict[tuple, dict[str, Any]]] = []
        last_req: dict[tuple, int] = {}  # key -> last request carrying it
        raw_keyed = False
        for i, req in enumerate(group):
            merged_rows: dict[tuple, dict[str, Any]] = {}
            for r in req.rows:
                # Key on NORMALIZED epoch-ms (validation.time_key_ms),
                # not the raw representation: 1700000000000 and its
                # ISO form are the same Cassandra row. A proven int is
                # its own key (time_key_ms(t) == t within ±2**53).
                # Unparseable times keep a raw-tagged key and flow to
                # the Spark validation error path untouched.
                tk = _proven_time_ms(r["time"])
                if tk is None:
                    tk = validation.time_key_ms(r["time"])
                raw_keyed = raw_keyed or tk is None
                k = (tk if tk is not None else ("raw", str(r["time"])), tuple(sorted(r["tags"].items())))
                prev = merged_rows.get(k)
                if prev is None or r["value"] > prev["value"]:
                    merged_rows[k] = r
            batches.append(merged_rows)
            last_req.update(dict.fromkeys(merged_rows, i))
        # Rows whose time the driver proves valid carry time_ms and skip
        # Spark validation (validate_raw_rows already checked values
        # and tags); a group of only such rows is committed from the
        # driver (_append on a list). The rest are normalized and
        # classified in Spark, and a row a later request overwrote
        # stays in (keep = false) so it still reports its own error.
        rows = []
        unproven = False
        for i, merged_rows in enumerate(batches):
            for k, r in merged_rows.items():
                keep = last_req[k] == i
                ms = _proven_time_ms(r["time"])
                if ms is None:
                    unproven = True
                elif not keep:
                    continue
                rows.append((i, keep, None if ms is not None else r["time"], ms, r["value"], r["tags"]))
        if not unproven:
            self._append([r[3:] for r in rows], space)
            return
        if raw_keyed:
            # A time the driver parser could not key may still
            # parse executor-side (schema.normalize_time_col is
            # the wider parser), so THIS delivery might store
            # duplicate (series, time) rows the driver dedup
            # missed. Arm the merge gate up front (extra marker —
            # _append adds its own): reads merge, upsert parity
            # holds, and the only cost is merge-priced reads until
            # the next compaction. Never a duplicate served.
            self._mark_delivery(space)
        df = self.spark.createDataFrame(
            rows,
            "req INT, keep BOOLEAN, time STRING, time_ms LONG, value DOUBLE,"
            " tags MAP<STRING,STRING>",
        ).withColumn(
            "time_ms",
            F.coalesce(
                F.col("time_ms"),
                schema.bucketable_time_col(
                    schema.normalize_time_col(F.col("time")), self._granularity(space)
                ),
            ),
        )
        # The adapter already guaranteed the time KEY, so a NULL
        # time_ms is present-but-unparseable — the reference's
        # distinct 'invalid timestamp' error, not missing-keys.
        df, err_df = validation.split_valid(df, validation.ERR_INVALID_TIMESTAMP)
        # Per-point error reporting (S4). The error rows come from
        # list input already held in the driver, so collecting all
        # of them is bounded by the requests themselves.
        errs = err_df.select("req", "time_ms", "value", "tags", "error").collect()
        for row in errs:
            point = row.asDict(recursive=True)
            group[point.pop("req")].errors.append({"point": point, "error": row["error"]})
        for req in group:
            if len(req.errors) > req.max_errors:
                total = len(req.errors)
                req.errors[req.max_errors:] = [_truncation_entry(total, req.max_errors)]
        self._append(df.where("keep").select("time_ms", "value", "tags"), space)

    def _write_partitions(self, df: DataFrame) -> int:
        """Size-based shuffle width for the points write: one range
        partition per ~128 MB of input (the healthy parquet-file size),
        floored at a quarter of the cluster's core count so small
        batches still parallelize, and falling back to the session's
        shuffle-partition default when Catalyst has no size estimate
        (the unknown-size sentinel is ~Long.Max). At 100 TB the
        bytes/128 MB term dominates and yields ~800k write tasks; on a
        small batch it stops 32 near-empty parquet files per bucket."""
        size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        sc = df.sparkSession.sparkContext
        floor = max(1, sc.defaultParallelism // 4)
        if size <= 0 or size >= (1 << 60):  # stat unavailable/unknown
            return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
        return max(floor, -(-size // (128 << 20)))

    def _arrow_points(self, driver: dict[int, tuple[list, pa.Table]], staging: Path) -> None:
        """Points sink of a driver commit: one parquet file per bucket
        under ``staging/bucket=B/``, already sorted by (series_id,
        time_ms) like the Spark sink's range-partitioned layout."""
        for b, (_rows, table) in driver.items():
            bdir = staging / f"bucket={b}"
            bdir.mkdir(parents=True)
            pq.write_table(table, bdir / f"part-{uuid.uuid4().hex}.parquet", **_PARQUET_WRITE)

    def _arrow_series(self, space: str, driver: dict[int, tuple[list, pa.Table]]) -> None:
        """Series sink of a driver commit: append the (bucket, series)
        pairs missing from the known-series set (D2, the reference's
        Bubo cache in lib/bucket-bubo.js), one file per bucket."""
        root = self._series_path(space)
        new: dict[int, dict[str, dict[str, str]]] = {}
        for b, (rows, _table) in driver.items():
            known = self._known_series(space, b)
            fresh: dict[str, dict[str, str]] = {}
            for _b, sid, _t, _v, tags in rows:
                if sid not in known:
                    fresh.setdefault(sid, tags)
            if fresh:
                new[b] = fresh
        if not new:
            return
        staging = root / f".append-{uuid.uuid4().hex}"
        names = {}
        for b, fresh in new.items():
            bdir = staging / f"bucket={b}"
            bdir.mkdir(parents=True)
            names[b] = f"part-{uuid.uuid4().hex}.parquet"
            sids = sorted(fresh)
            table = pa.table(
                [sids, [list(fresh[s].items()) for s in sids]], schema=_SERIES_ARROW
            )
            pq.write_table(table, bdir / names[b], **_PARQUET_WRITE)
        _publish_staged(root, staging)
        for b, name in names.items():
            files, known = self._series_seen[(space, b)]
            files.add(name)
            known.update(new[b])

    def _known_series(self, space: str, bucket: int) -> set[str]:
        """The series ids in ``series/bucket=B``, remembered with the
        names of the files they were read from. Each call lists the
        bucket: only files it has not read yet are read (their
        series_id column), and if a file it read has vanished —
        delete_series, remove or compact rewrote the bucket — it
        reloads the whole bucket. Writes by the Spark sink or another
        process therefore need no hook."""
        bdir = self._series_path(space) / f"bucket={bucket}"
        try:
            names = {
                n for n in os.listdir(bdir) if n.endswith(".parquet") and n[0] not in "._"
            }
        except FileNotFoundError:
            names = set()
        files, known = self._series_seen.get((space, bucket), (set(), set()))
        if not files <= names:
            files, known = set(), set()
        for n in sorted(names - files):
            col = pq.ParquetFile(bdir / n).read(columns=["series_id"]).column(0)
            known.update(col.to_pylist())
            files.add(n)
        self._series_seen[(space, bucket)] = (files, known)
        return known

    def _append(
        self,
        valid: DataFrame | list[tuple[int, float, dict[str, str]]],
        space: str,
        epoch_id: int | None = None,
        stream_ns: str | None = None,
        stream_seq: int | None = None,
    ) -> None:
        """Commit one batch to the points / series / rollup sinks.

        ``valid`` is a canonical (time_ms, value, tags) DataFrame, or a
        list of (time_ms, value, tags) rows whose every time is an int
        within ±2**53 (the group commit of list writes). A list is
        committed from the driver: pyarrow writes the same files the
        Spark sinks would (same columns, derived series_id and bucket,
        one file per bucket sorted by (series_id, time_ms)), and the
        series sink checks a known-series set instead of running the
        anti-join. The lock, ``_seq``, the delivery marker and the
        epoch staging/manifest publish are shared by both.

        ``stream_ns`` / ``stream_seq`` (streaming callers only) are
        recorded in the epoch manifest so marker pruning can protect
        the latest replayable epoch PER STREAM by its monotonic
        sequence instead of by cross-host mtime ordering (see
        _prune_epoch_markers).

        ``epoch_id`` is the streaming-replay idempotency key: rollup
        partials land under ``bucket=*/epoch=<id>`` and a replayed
        epoch DYNAMICALLY OVERWRITES exactly its own (bucket, epoch)
        partitions — a mid-epoch crash therefore can never inflate
        the continuous aggregate's n/sum, with no repair call needed.
        Batch (non-streaming) appends use the constant epoch=-1
        partition in append mode. The key must be UNIQUE ACROSS THE
        SPACE'S LIFETIME, not just within one stream: a reused key
        reads as a replay (points skipped) and overwrites the old
        key's rollup partials. ``start_ingest`` guarantees this by
        hashing the checkpoint identity into the key
        (streaming.ingest._stream_epoch_key); direct callers juggling
        multiple stream generations must do the same.

        Re-delivering an existing (series, time) in a LATER append is
        an UPSERT at the points layer (reads merge on the ``_seq``
        delivery stamp; compaction collapses physically — Cassandra
        PRIMARY KEY parity), but the rollup's append-only partials
        count every delivery: after a cross-delivery overwrite the
        continuous aggregate over-counts until a full ``compact()``
        (which rebuilds the rollup from the collapsed points) or
        ``rebuild_rollup`` reconciles it. The window is surfaced
        programmatically — ``rollup_stale()`` and the rollup readers'
        ``on_stale`` parameter — never silent."""
        g = self._granularity(space)
        # Delivery stamp for Cassandra-parity upsert semantics: a later
        # delivery of the same (series, time) wins at read/compaction
        # time (the analogue of Cassandra's write timestamp). Within
        # one delivery every row shares the stamp, and ties resolve to
        # the greater value — Cassandra's own same-timestamp rule.
        points_path, series_path = self._points_path(space), self._series_path(space)
        epoch_marker = (
            points_path / "_epochs" / f"epoch-{epoch_id}" if epoch_id is not None else None
        )
        if epoch_marker is not None and epoch_marker.exists():
            # The marker commits the WHOLE epoch (written after every
            # sink finished — see the end of this method), so a replay
            # of a committed epoch is a TOTAL no-op: re-running the
            # series/rollup sinks here would resurrect state a
            # delete_series erased in between (the series anti-join
            # would re-insert the erased tags; the rollup overwrite
            # would re-add its partials), and re-bumping the delivery
            # gate would arm merges for data that never changed.
            return
        seq = max(int(_time.time() * 1000), self._last_seq + 1)
        self._last_seq = seq
        step = self._rollup_step(space)
        driver = None
        if not isinstance(valid, DataFrame):
            # List input commits from the driver with pyarrow: no Spark
            # job. A space with rollup partials, or a string UTF-8
            # cannot encode, takes the Spark sinks instead.
            try:
                driver = None if step else _driver_points(valid, g, seq)
            except UnicodeEncodeError:
                pass
            if driver is None:
                valid = self.spark.createDataFrame(
                    valid, "time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>"
                )
        epoch_moved: list[str] = []  # filled by write_points (streaming)

        if driver is not None:

            def stage_points(staging: Path) -> None:
                self._arrow_points(driver, staging)

            def append_points() -> None:
                staging = points_path / f".append-{uuid.uuid4().hex}"
                stage_points(staging)
                _publish_staged(points_path, staging)

            def write_series() -> None:
                self._arrow_series(space, driver)

        else:
            stored = schema.with_derived(valid, g).withColumn("_seq", F.lit(seq).cast("long"))

            def bucket_files():
                # Series-clustered layout: RANGE-partition by (bucket,
                # series_id) so series stay contiguous (row-group
                # min/max stats prune non-matching series at read time)
                # while a hot bucket can still split across tasks —
                # hash partitioning by (bucket, series) interleaves
                # series across files and tripled write time.
                laid_out = stored.repartitionByRange(
                    self._write_partitions(stored), F.col("bucket"), F.col("series_id")
                ).sortWithinPartitions("bucket", "series_id", "time_ms")
                return laid_out.write.partitionBy("bucket")

            def stage_points(staging: Path) -> None:
                bucket_files().mode("overwrite").parquet(str(staging))

            def append_points() -> None:
                bucket_files().mode("append").parquet(str(points_path))

            def write_series() -> None:
                # Metadata upsert with write-time dedup (D2): distinct
                # new (bucket, series) anti-joined against what's
                # already known.
                new_series = stored.select("bucket", "series_id", "tags").dropDuplicates(
                    ["bucket", "series_id"]
                )
                existing = self._read_series(space)
                if existing is not None:
                    new_series = new_series.join(
                        existing.select("bucket", "series_id"), ["bucket", "series_id"], "left_anti"
                    )
                new_series.write.mode("append").partitionBy("bucket").parquet(str(series_path))

        def write_points() -> None:
            if epoch_id is None:
                if not (points_path / "_epochs").exists():
                    # batch-only space: plain append, zero manifest
                    # overhead (Spark lists + prunes the dir itself)
                    append_points()
                    return
                # Mixed batch+stream space (round-7: closes the
                # documented transient-vanish race): a plain append's
                # files would be found by the readdir glob, which can
                # transiently MISS entries while a concurrent epoch
                # renames files into the same bucket dir. Route the
                # batch through the same stage→publish protocol under
                # a fresh random key and a kind=batch manifest — a
                # pure visibility record, never a replay key (prune
                # drops it once compaction folds the files away). The
                # manifest is written BEFORE the renames, compact-
                # style: its paths don't exist yet (stat-filtered →
                # invisible) and become visible as they land — the
                # same per-file visibility a plain batch append always
                # had, but resolved by stat, not by racy readdir; a
                # crash mid-rename leaves the moved prefix visible
                # and the rest staged-invisible (plain-append crash
                # parity), and the uncommitted-file sweep spares the
                # moved files because their manifest is already
                # committed.
                key = _fresh_epoch_key()
                tag = f"epoch{key}-"
                staging = points_path / f".staging_epoch={key}"
                stage_points(staging)
                moved: list[str] = []
                renames: list[tuple[Path, Path]] = []
                for bdir in sorted(staging.glob("bucket=*")):
                    for f in sorted(bdir.glob("*.parquet")):
                        renames.append((f, bdir.name + "/" + tag + f.name))
                        moved.append(f"{bdir.name}/{tag}{f.name}")
                _write_manifest(
                    points_path / "_epochs" / f"epoch-{key}", moved, "batch"
                )
                for src, rel in renames:
                    tgt = points_path / rel
                    tgt.parent.mkdir(parents=True, exist_ok=True)
                    src.rename(tgt)
                shutil.rmtree(staging)
                return
            # Streaming epochs are EXACTLY-ONCE at the points layer
            # too (the rollup sink always was): stage the epoch under
            # a dot-dir (invisible to Spark readers), then move each
            # file into its live bucket under an epoch-tagged name. A
            # replayed epoch (crash before the processor's commit
            # marker) first sweeps any files this epoch already moved,
            # so every crash window — mid-stage, mid-move, pre-marker
            # — converges to exactly one copy. Local-FS renames here;
            # on an object store this job belongs to the table
            # format's commit protocol, same as the other markers.
            tag = f"epoch{epoch_id}-"
            # Epoch-level READ ISOLATION: tagged files are invisible
            # to readers until this epoch's manifest exists, and the
            # manifest is written only after EVERY sink of the epoch
            # finished (end of _append) — a concurrent reader sees
            # either none of an epoch or all of it, never a partial
            # epoch mid-move; a replay of a manifested epoch is a
            # total no-op (top of _append). The marker DIR must exist
            # before any file of any epoch moves: readers key the
            # "has this space ever streamed" decision (and hence
            # epoch filtering) on its existence — created after the
            # moves, the very first epoch's renames would race the
            # plain directory scan.
            epoch_marker.parent.mkdir(parents=True, exist_ok=True)
            if points_path.exists():
                for leftover in points_path.glob(f"bucket=*/{tag}*"):
                    bdir = leftover.parent
                    leftover.unlink()
                    # A bucket the sweep emptied must not survive as a
                    # bare dir: readers treat any bucket=* as data and
                    # a file-less partition breaks schema inference.
                    if not any(bdir.iterdir()):
                        bdir.rmdir()
            staging = points_path / f".staging_epoch={epoch_id}"
            stage_points(staging)
            for bdir in staging.glob("bucket=*"):
                tgt = points_path / bdir.name
                tgt.mkdir(parents=True, exist_ok=True)
                for f in bdir.glob("*.parquet"):
                    name = tag + f.name
                    f.rename(tgt / name)
                    epoch_moved.append(f"{bdir.name}/{name}")
            shutil.rmtree(staging)
            # Commit happens at the END of _append (after every sink):
            # the manifest records the epoch's exact file list (the
            # lakehouse commit-log pattern) and readers resolve
            # committed-epoch files from manifests, never from
            # directory listings — readdir during concurrent renames
            # into a bucket dir may transiently MISS unrelated entries
            # (observed as partial-epoch counts in the soak test), and
            # a per-path stat has no such instability.

        def write_partials(partial: DataFrame, root: Path) -> None:
            writer = partial.withColumn(
                "epoch", F.lit(-1 if epoch_id is None else epoch_id)
            ).write.partitionBy("bucket", "epoch")
            if epoch_id is None:
                writer.mode("append").parquet(str(root))
            else:
                # Replay-idempotent: dynamic overwrite replaces ONLY
                # the (bucket, epoch) partitions present in this batch
                # — a re-offered epoch rewrites its own partials
                # instead of appending a second copy.
                writer.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).parquet(str(root))

        def write_rollup() -> None:
            # Continuous aggregate (hypertable-rollup analogue): each
            # batch appends its PARTIAL per-(series, slot) stats —
            # append-only, no upsert — and read_rollup merges partials
            # (sums add, min/max fold). The batch-local groupBy is one
            # small shuffle of the batch, never a read-modify-write of
            # the rollup table.
            write_partials(
                _rollup_partials(stored, step, "bucket", "series_id"), self._rollup_path(space)
            )

        hist = self.config.space(space).rollup_hist

        def write_hist() -> None:
            # Histogram partials (the quantile sketch, see
            # _hist_partials), with the same epoch-keyed replay
            # idempotency as the main rollup.
            write_partials(
                _hist_partials(stored, step, hist, "bucket", "series_id"), self._hist_path(space)
            )

        # The sinks are independent reads of the same input; submit
        # all jobs concurrently so their stages interleave across the
        # cluster (Spark's scheduler handles multi-threaded submission).
        # Atomicity caveat, same as the reference's paired
        # Cassandra-points + ES-metadata writes (lib/orestes-inserter.js):
        # if one side fails the other may have committed — a surviving
        # points-only write is invisible to metadata-routed reads; a
        # surviving series-only write lists a series whose read returns
        # no points until a retry lands.
        from concurrent.futures import ThreadPoolExecutor

        sinks = (
            [write_points, write_series]
            + ([write_rollup] if step else [])
            + ([write_hist] if step and hist else [])
        )

        def timed(fn):
            def run() -> None:
                t0 = _time.perf_counter()
                fn()
                self.last_append_timings[fn.__name__] = round(
                    _time.perf_counter() - t0, 3
                )

            return run

        # Per-sink wall times from the last _append, for throughput
        # attribution (the sinks run concurrently, so these overlap —
        # the max is the critical path, not the sum).
        self.last_append_timings = {}
        # Bump the delivery marker BEFORE the sinks run (reading it
        # first: once points exist on disk the missing-marker fallback
        # would misread a fresh space's very first append as unknown
        # legacy history). Pre-bumping fails SAFE: if a sink dies
        # mid-append with some files committed, the gate is already ON
        # and reads merge — a post-sink bump would leave the gate off
        # with cross-delivery duplicates visible. The false-positive
        # cost of a bumped-but-failed append is one unnecessary merge
        # until the next full compaction, never a wrong result.
        with self._writer_lock(space, "append"):
            self._mark_delivery(space)
            with ThreadPoolExecutor(max_workers=len(sinks)) as pool:
                futures = [pool.submit(timed(s)) for s in sinks]
                for f in futures:
                    f.result()
            if epoch_marker is not None:
                # WHOLE-EPOCH commit, after every sink returned: the
                # manifest both publishes the epoch's point files to
                # readers (atomic visibility) and marks the epoch
                # replay-complete — series metadata and rollup
                # partials included, so a replay after the marker can
                # never resurrect state (e.g. a delete_series between
                # crash and restart) by re-running those sinks.
                _write_manifest(
                    epoch_marker, epoch_moved, "stream", ns=stream_ns, seq=stream_seq
                )

    # ---------- raw readers ----------

    def _recover(self, space: str, root: Path) -> None:
        """Reader-side crash recovery: a reader never renames or deletes.
        When a swap set is pending it enters the writer lock with an
        empty body, whose acquisition recovers every table; a contender
        holding the lock recovers instead. (``root``: any table of the
        space.)"""
        if (root.parent / SWAP_INTENT).exists():
            with suppress(ConcurrentWriterError), self._writer_lock(space, "recover"):
                pass

    @staticmethod
    def _recover_swaps(root: Path) -> None:
        """Discard every staging dir in the table ``root``: run under the
        writer lock once no swap set is pending, none was committed."""
        try:
            names = os.listdir(root)
        except FileNotFoundError:
            return
        for n in names:
            if n.startswith(_STAGING):
                shutil.rmtree(root / n, ignore_errors=True)

    def _read_points(self, space: str) -> DataFrame | None:
        p = self._points_path(space)
        self._recover(space, p)
        # After a full retention sweep the directory exists but has no
        # bucket=* partitions left — treat as empty, not a schema error.
        if not p.exists() or not any(p.glob("bucket=*")):
            return None
        return self._visible_points(p)

    def _visible_points(self, p: Path) -> DataFrame | None:
        """Epoch-consistent point listing (read committed at EPOCH
        granularity): a streaming epoch's files carry an epochN- name
        tag and become visible only once the epoch's commit marker
        (``_epochs/epoch-N``, written after every file of the epoch
        has moved into its live bucket) exists — a read concurrent
        with an in-flight or replaying epoch sees either none of that
        epoch or all of it, never a mid-move prefix. Untagged files
        (batch appends, compaction output) are always visible: their
        writers hold the writer lock and Spark's own job commit makes
        the whole append visible atomically enough for the local-FS
        tier this engine targets. The common batch-only warehouse
        takes the zero-cost path (one glob, then the plain directory
        scan — Spark still does partition pruning on bucket=*).
        Residual: a reader that listed a replaying epoch's files just
        before the replay's sweep can fail transiently on a vanished
        file; the replay holds no reader locks by design (retry
        semantics, documented in the soak test)."""
        if not (p / "_epochs").exists():
            # ONE stat decides: no marker dir means the space has
            # never run the marker-committed streaming path (the
            # writer creates _epochs BEFORE its first epoch's moves),
            # so there are no in-flight epoch renames to race — take
            # the plain directory scan (Spark lists and
            # partition-prunes itself; the zero-overhead path for
            # batch warehouses). Pre-marker streaming warehouses also
            # land here, keeping their original everything-visible
            # semantics.
            return self.spark.read.parquet(str(p))
        # ORDER MATTERS: snapshot the committed manifests BEFORE
        # listing files. An epoch that commits between the two steps
        # is then simply absent from the snapshot and excluded whole;
        # the reverse order could catch a mid-move subset of its
        # files and then find its marker — a partial epoch visible.
        manifests: dict[int, list[str] | None] = {}
        for mk in (p / "_epochs").glob("epoch-*"):
            e = int(mk.name.split("-", 1)[1])
            manifests[e], _kind, _meta = _read_manifest(mk)
        tagged: list[tuple[int, str]] = []
        plain: list[str] = []
        for f in p.glob("bucket=*/*.parquet"):
            m = _EPOCH_TAG_RE.match(f.name)
            if m:
                tagged.append((int(m.group(1)), str(f)))
            else:
                plain.append(str(f))
        # Committed-epoch files come from their MANIFESTS, not the
        # glob: readdir racing concurrent renames into a bucket dir
        # can transiently miss unrelated entries, while a per-path
        # stat cannot. (The stat filter covers files a compaction
        # folded away under the still-kept newest marker; readers
        # racing compaction itself are the documented single-writer
        # maintenance exposure.) Legacy markers without a manifest
        # fall back to the glob for their epoch. set() because a
        # double-listed file would double-count.
        visible = set(plain)
        for e, names in manifests.items():
            if names is None:
                visible.update(f for (ee, f) in tagged if ee == e)
            else:
                visible.update(str(p / rel) for rel in names if (p / rel).exists())
        if not visible:
            return None
        return self.spark.read.option("basePath", str(p)).parquet(*sorted(visible))

    def _read_series(self, space: str) -> DataFrame | None:
        p = self._series_path(space)
        self._recover(space, p)
        if not p.exists() or not any(p.glob("bucket=*")):
            return None
        return self.spark.read.parquet(str(p))

    def _empty(self, ddl: str) -> DataFrame:
        return self.spark.createDataFrame([], ddl)

    # ---------- time/bucket predicates (F2, F3) ----------

    def _time_pred(self, start_ms: int, end_ms: int, granularity: int) -> F.Column:
        """[start, end) + explicit bucket-range predicate for partition
        pruning. end-exclusive means the bucket of (end-1) is the last
        bucket — when end falls exactly on a bucket boundary that bucket
        is not scanned (/root/reference/lib/orestes-query.js:137-141)."""
        g = granularity
        start_bucket = (start_ms // MS_IN_DAY) // g * g
        end_bucket = ((end_ms - 1) // MS_IN_DAY) // g * g
        return (
            (F.col("bucket") >= start_bucket)
            & (F.col("bucket") <= end_bucket)
            & (F.col("time_ms") >= start_ms)
            & (F.col("time_ms") < end_ms)
        )

    # ---------- read path (3.1) ----------

    def matching_points(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
        use_metadata: bool = True,
    ) -> DataFrame:
        """Flat points matching an ES-DSL tag filter and [start, end).

        This is the scalable read shape: bucket pruning + pushed time
        predicate + (metadata route) a semi-join on series_id, the
        Spark analogue of 'ES finds the series, Cassandra serves the
        points'. The join strategy is deliberately UNHINTED: a forced
        broadcast of the matching-series list is an OOM directive AQE
        cannot override once a low-selectivity filter meets a
        high-cardinality space (10M+ series at 100 TB). Unhinted,
        the static planner broadcasts when the size estimate is small
        and AQE upgrades SMJ→BHJ at runtime from the *actual*
        post-filter size — broadcast for selective filters, shuffle
        semi-join for unselective ones, decided per query from data.
        With ``use_metadata=False`` the tag predicate is applied
        directly to the points table instead (one scan, no join) —
        better when the filter is unselective.
        """
        if end_ms is None:
            end_ms = int(_time.time() * 1000)
        pred = esdsl.translate(es_filter)  # validate the DSL even if space is empty
        points = self._read_points(space)
        if points is None:
            # _seq must be present even in the empty frame: when the
            # merge gate is armed (multi-delivery space whose buckets
            # were all expired/erased) _merged_points, the grouped
            # read merge, and compaction still reference it.
            return self._empty(
                "time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>, series_id STRING, bucket INT, _seq LONG"
            )
        g = self._granularity(space)
        points = points.where(self._time_pred(start_ms, end_ms, g))
        if not use_metadata or es_filter in (None, {}) or es_filter == {"match_all": {}}:
            return points.where(pred)

        series = self._read_series(space)
        assert series is not None
        matching = (
            series.where(self._bucket_range_pred(start_ms, end_ms, g))
            .where(pred)
            .select("series_id")
            .distinct()  # D1: a series exists once per bucket
        )
        return points.join(matching, "series_id", "left_semi")

    def _merged_points(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
    ) -> DataFrame:
        """matching_points with last-write-wins merge: one row per
        (series, time), the later delivery (greater ``_seq``) winning —
        Cassandra PRIMARY KEY (attrs, offset) upsert parity
        (/root/reference/lib/orestes-settings.js:9-24). Equal-stamp
        ties (duplicates within one delivery) resolve to the greater
        value, Cassandra's own same-timestamp rule.

        The merge is GATED on the delivery marker: a space with ≤1
        delivery since its last compaction cannot hold duplicates, so
        the common case keeps the merge-free scan plan (zero extra
        exchange); after multiple deliveries the merge is one
        aggregation keyed (series, bucket, time) — partial-combinable
        map-side because the file layout is series-time sorted — and
        compact() collapses duplicates physically, restoring the
        merge-free path (the LSM read-repair / compaction cycle)."""
        pts = self.matching_points(es_filter, space, start_ms, end_ms)
        if not self._merge_needed(space):
            return pts.select("series_id", "tags", "time_ms", "value")
        return _last_write_wins(pts, "series_id", "bucket", "time_ms").select(
            "series_id", "tags", "time_ms", "value"
        )

    def _bucket_range_pred(self, start_ms: int, end_ms: int, g: int) -> F.Column:
        start_bucket = (start_ms // MS_IN_DAY) // g * g
        end_bucket = ((end_ms - 1) // MS_IN_DAY) // g * g
        return (F.col("bucket") >= start_bucket) & (F.col("bucket") <= end_bucket)

    def read(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
        grouped: bool = True,
        max_group_points: int | None = None,
    ) -> DataFrame:
        """POST /read equivalent. Grouped shape: one row per series —
        (tags, points ARRAY<STRUCT<time_ms,value>>), points
        time-ascending (Cassandra clustering-order parity,
        /root/reference/lib/orestes-settings.js:14).

        The grouped shape materializes one array per series, so a
        single pathological series (say 10⁸ points across full
        history) lands in ONE aggregation task — the likeliest OOM at
        100× scale. ``max_group_points`` bounds that: the read plan
        numbers each series' scanned points with a sort-based window
        (row_number streams over spilled sorted runs — itself
        memory-bounded) and the first point past the cap raises a
        loud, actionable error BEFORE collect_list materializes past
        it, instead of an opaque executor OOM. Off by default (one
        extra sort exchange when on; the common read stays
        zero-overhead); the count is of scanned pre-merge points —
        the actual memory driver. For series that legitimately exceed
        any cap, use ``read_chunked`` (per-bucket arrays, task memory
        bounded by one series-bucket) or ``grouped=False``.

        Uncapped grouped reads additionally get a FREE pre-flight
        scale probe (metadata only — stat gate + parquet footers, no
        Spark job): when the range's estimated per-series point count
        exceeds ``GROUPED_READ_WARN_POINTS``, a loud warning names the
        escape paths before the job runs instead of letting the user
        discover the ~2 GiB single-row wall mid-job (round-7 verdict
        task; see _grouped_read_series_estimate)."""
        if not grouped:
            return self._merged_points(es_filter, space, start_ms, end_ms)
        pts = self.matching_points(es_filter, space, start_ms, end_ms)
        if max_group_points is not None:
            pts = _cap_points_per_series(pts, int(max_group_points))
        elif GROUPED_READ_WARN_POINTS is not None:
            # Uncapped grouped read: metadata-only heavy-range probe
            # (stat gate + parquet footers, no Spark job) so the scale
            # escape paths are named BEFORE the job runs, not as a
            # mid-job executor OOM at the measured ~2 GiB array wall.
            g = self._granularity(space)
            end = end_ms if end_ms is not None else int(_time.time() * 1000)
            est = _grouped_read_series_estimate(
                self._points_path(space),
                (start_ms // MS_IN_DAY) // g * g,
                ((end - 1) // MS_IN_DAY) // g * g,
                GROUPED_READ_WARN_POINTS,
            )
            if est is not None and est > GROUPED_READ_WARN_POINTS:
                import logging

                logging.getLogger(__name__).warning(
                    "grouped read over space=%r estimates ~%d points per "
                    "series in range — one collect_list array per series "
                    "risks the ~2 GiB row wall; use read_chunked "
                    "(per-bucket arrays), grouped=False, or "
                    "max_group_points to bound it",
                    space,
                    est,
                )
        if not self._merge_needed(space):
            return (
                pts.groupBy("series_id")
                .agg(
                    F.first("tags").alias("tags"),
                    F.array_sort(F.collect_list(F.struct("time_ms", "value"))).alias("points"),
                )
                .drop("series_id")
            )
        # Upsert merge inside the SAME per-series aggregation (zero
        # extra exchange): collect (time, _seq, value), sort ascending,
        # keep the LAST entry per time — later delivery wins, equal
        # stamps fall to the greater value (see _merged_points).
        raw = F.array_sort(F.collect_list(F.struct("time_ms", "_seq", "value")))
        merged = F.element_at(
            F.transform(
                F.array(raw),
                lambda a: F.transform(
                    F.filter(
                        a,
                        lambda x, i: (i == F.size(a) - 1)
                        | (F.element_at(a, i + 2)["time_ms"] != x["time_ms"]),
                    ),
                    lambda s: F.struct(s["time_ms"].alias("time_ms"), s["value"].alias("value")),
                ),
            ),
            1,
        )
        return (
            pts.groupBy("series_id")
            .agg(F.first("tags").alias("tags"), merged.alias("points"))
            .drop("series_id")
        )

    def read_chunked(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
    ) -> DataFrame:
        """Grouped read, emitted in BUCKET chunks: one row per
        (series, bucket) — (series_id, tags, bucket, points
        ARRAY<STRUCT<time_ms,value>> time-ascending). The scale path
        for pathological series: where ``read(grouped=True)`` builds
        one array per series across full history (one task holds the
        whole series), here task memory is bounded by one series ×
        one time bucket regardless of how much history a series
        accumulates — chunk rows for the same series land in
        different tasks and stream to the consumer independently.
        ``series_id`` is kept (unlike the reference-parity grouped
        shape) so consumers can reassemble or window chunks; ordering
        chunks by (series_id, bucket) yields the exact grouped-read
        point order. Upsert merge (last delivery wins) applies per
        (series, bucket, time) exactly as in flat reads."""
        pts = self.matching_points(es_filter, space, start_ms, end_ms)
        if self._merge_needed(space):
            pts = _last_write_wins(pts, "series_id", "bucket", "time_ms")
        return (
            pts.groupBy("series_id", "bucket")
            .agg(
                F.first("tags").alias("tags"),
                F.array_sort(F.collect_list(F.struct("time_ms", "value"))).alias("points"),
            )
            .select("series_id", "tags", "bucket", "points")
        )

    def read_rollup(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
        on_stale: str = "warn",
    ) -> DataFrame:
        """Continuous-aggregate read: (tags, slot_ms, n, sum_value,
        sum_sq, min_value, max_value) per series per slot, served from the
        incrementally-maintained rollup table — raw points are never
        touched, so cost scales with #slots, not #points (the
        hypertable-rollup read path). Append partials merge here
        (sums add, min/max fold); start/end must be slot-aligned, the
        continuous-aggregate contract (a partially-covered slot cannot
        be served from pre-aggregated state).

        ``on_stale``: rollup partials count EVERY delivery of an
        overwritten (series, time) until compact()/rebuild_rollup —
        'warn' (default), 'error', or 'ignore' when the merge gate says
        such divergence is possible (see _check_rollup_fresh)."""
        self._check_rollup_fresh(space, on_stale)
        step = self._rollup_step(space)
        if step is None:
            raise ValueError(f"space {space!r} has no rollup_step_ms configured")
        if end_ms is None:
            end_ms = int(_time.time() * 1000) // step * step
        if start_ms % step or end_ms % step:
            raise ValueError(f"start/end must be multiples of rollup_step_ms={step}")
        pred = esdsl.translate(es_filter)
        rp = self._rollup_path(space)
        self._recover(space, rp)
        if not rp.exists() or not any(rp.glob("bucket=*")):
            return self._empty(
                "tags MAP<STRING,STRING>, slot_ms LONG, n LONG,"
                " sum_value DECIMAL(38,10), sum_sq DECIMAL(38,12),"
                " min_value DOUBLE, max_value DOUBLE"
            )
        g = self._granularity(space)
        rl = (
            self.spark.read.parquet(str(rp))
            .where(self._bucket_range_pred(start_ms, end_ms, g))
            .where((F.col("slot_ms") >= start_ms) & (F.col("slot_ms") < end_ms))
            .where(pred)
        )
        return _merge_rollup_partials(rl).select(
            "series_id", "tags", "slot_ms", "n", "sum_value", "sum_sq", "min_value", "max_value"
        )

    def read_rollup_quantile(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
        qs: tuple[int, ...] = (50, 95, 99),
        on_stale: str = "warn",
    ) -> DataFrame:
        """Quantiles from pre-aggregated state: per-series p-th
        percentiles over [start, end) served from the histogram
        partials the write path maintains (``rollup_hist``) — raw
        points are never touched, so cost scales with
        #series × #bins, not #points. PromQL histogram_quantile
        semantics: the target bin is picked by exact integer
        arithmetic (100·cum ≥ q·n) and the value interpolated linearly
        inside it; counts are associative partials, so any append /
        replay / compaction history yields the identical answer.
        Output (series_id, tags, quantile, n, value).
        ``on_stale``: same divergence surface as read_rollup."""
        self._check_rollup_fresh(space, on_stale)
        step = self._rollup_step(space)
        hist = self.config.space(space).rollup_hist
        if step is None or hist is None:
            raise ValueError(f"space {space!r} has no rollup_hist configured")
        bad_q = [q for q in qs if not 1 <= int(q) <= 100]
        if bad_q or len(set(qs)) != len(qs):
            raise ValueError(f"quantiles must be unique integers in [1, 100], got {qs}")
        width, nbins = hist
        if end_ms is None:
            end_ms = int(_time.time() * 1000) // step * step
        if start_ms % step or end_ms % step:
            raise ValueError(f"start/end must be multiples of rollup_step_ms={step}")
        pred = esdsl.translate(es_filter)
        hp = self._hist_path(space)
        self._recover(space, hp)
        if not hp.exists() or not any(hp.glob("bucket=*")):
            return self._empty(
                "series_id STRING, tags MAP<STRING,STRING>, quantile INT, n LONG, value DOUBLE"
            )
        g = self._granularity(space)
        counts = (
            self.spark.read.parquet(str(hp))
            .where(self._bucket_range_pred(start_ms, end_ms, g))
            .where((F.col("slot_ms") >= start_ms) & (F.col("slot_ms") < end_ms))
            .where(pred)
            .groupBy("series_id", "bin")
            .agg(F.first("tags").alias("tags"), F.sum("cnt").alias("cnt"))
        )
        wc = (
            Window.partitionBy("series_id")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wt = Window.partitionBy("series_id")
        cum = counts.withColumn("cum", F.sum("cnt").over(wc)).withColumn(
            "n", F.sum("cnt").over(wt)
        )
        cand = cum.select(
            "series_id", "tags", "bin", "cnt", "cum", "n",
            F.explode(F.array(*[F.lit(int(q)) for q in qs])).alias("q"),
        ).where(100 * F.col("cum") >= F.col("q") * F.col("n"))
        wq = Window.partitionBy("series_id", "q").orderBy("bin")
        return (
            cand.withColumn("_rn", F.row_number().over(wq))
            .where(F.col("_rn") == 1)
            .select(
                "series_id",
                "tags",
                F.col("q").cast("int").alias("quantile"),
                "n",
                F.round(
                    (F.col("bin") * width).cast("double")
                    + (
                        ((F.col("q") * F.col("n")).cast("double") / 100
                         - (F.col("cum") - F.col("cnt")).cast("double"))
                        / F.col("cnt").cast("double")
                    )
                    * width,
                    6,
                ).alias("value"),
            )
        )

    def read_rollup_with_tail(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
        on_stale: str = "warn",
    ) -> DataFrame:
        """Real-time continuous aggregate: slots up to the last
        completed boundary come from the rollup table; the un-rolled
        tail ([aligned_end, end)) is aggregated from raw points at the
        same step and unioned in — the TimescaleDB real-time-aggregate
        shape. end may be un-aligned; start must be aligned (history
        is always served pre-aggregated). The raw scan is bounded to
        the tail window by the usual bucket pruning + pushed time
        predicate, so its cost is one step's worth of points, not the
        history. ``on_stale``: same divergence surface as read_rollup
        (the tail side merges upserts; the rolled side can't until
        reconciliation)."""
        self._check_rollup_fresh(space, on_stale)
        step = self._rollup_step(space)
        if step is None:
            raise ValueError(f"space {space!r} has no rollup_step_ms configured")
        if end_ms is None:
            end_ms = int(_time.time() * 1000)
        aligned_end = end_ms // step * step
        rolled = self.read_rollup(
            es_filter, space, start_ms, min(aligned_end, end_ms), on_stale="ignore"
        )
        if aligned_end >= end_ms:
            return rolled
        tail = _rollup_partials(
            self._merged_points(es_filter, space, max(start_ms, aligned_end), end_ms), step, "series_id"
        ).select("series_id", "tags", "slot_ms", "n", "sum_value", "sum_sq", "min_value", "max_value")
        # sum_value/sum_sq precisions differ (merged partials widen) —
        # align before the union so the schema is stable.
        dec, dsq = "decimal(38,10)", "decimal(38,12)"

        def _aligned(df):
            return df.withColumn("sum_value", F.col("sum_value").cast(dec)).withColumn(
                "sum_sq", F.col("sum_sq").cast(dsq)
            )

        return _aligned(rolled).unionByName(_aligned(tail))

    def count_points(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
    ) -> DataFrame:
        """/read with aggregations:[{type:'count'}] (A1): per-series point
        count. Partial aggregation per partition + final merge is
        Catalyst's hash aggregate — the analogue of per-bucket COUNT(*)
        summed client-side (/root/reference/lib/orestes.js:120-139)."""
        pts = self.matching_points(es_filter, space, start_ms, end_ms)
        # Upsert parity: duplicate (series, time) deliveries count once
        # (Cassandra rows, not writes). count_distinct keeps the single
        # series_id exchange — the map-side partial dedups (series,
        # time) against the series-time-sorted file layout.
        counter = (
            F.count_distinct(F.col("time_ms"))
            if self._merge_needed(space)
            else F.count(F.lit(1))
        )
        return (
            pts.groupBy("series_id")
            .agg(F.first("tags").alias("tags"), counter.alias("count"))
            .drop("series_id")
        )

    def aggregate_points(
        self,
        aggs: list[str],
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
    ) -> DataFrame:
        """Generalized per-series aggregation (A4 made real): the
        reference's ES client had machinery for avg/min/max/sum/stdev
        metric aggs that nothing invoked
        (/root/reference/lib/elasticsearch/aggregation.js:76-100); here
        they are first-class. ``aggs`` ⊆ {count, avg, min, max, sum,
        stdev}."""
        fns = {
            "count": F.count(F.lit(1)),
            "avg": F.avg("value"),
            "min": F.min("value"),
            "max": F.max("value"),
            "sum": F.sum("value"),
            "stdev": F.stddev_samp("value"),
        }
        unknown = [a for a in aggs if a not in fns]
        if unknown:
            # 400-equivalent (/root/reference/lib/orestes.js:143-150).
            raise ValueError(f"unsupported aggregations: {unknown}")
        # Upsert parity: aggregate over merged rows, not deliveries —
        # _merged_points gates the dedup stage on the delivery marker,
        # so the single-delivery case keeps today's one-exchange plan.
        pts = self._merged_points(es_filter, space, start_ms, end_ms)
        return (
            pts.groupBy("series_id")
            .agg(F.first("tags").alias("tags"), *[fns[a].alias(a) for a in aggs])
            .drop("series_id")
        )

    # ---------- metadata queries (D3, A2, A3) ----------

    def get_stream_list(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
    ) -> DataFrame:
        """POST /series: distinct tag-sets matching the filter — scans
        only the series table, never the points
        (/root/reference/lib/orestes-query.js:250-271)."""
        if end_ms is None:
            end_ms = int(_time.time() * 1000)
        series = self._read_series(space)
        if series is None:
            return self._empty("tags MAP<STRING,STRING>")
        g = self._granularity(space)
        return (
            series.where(self._bucket_range_pred(start_ms, end_ms, g))
            .where(esdsl.translate(es_filter))
            .dropDuplicates(["series_id"])
            .select("tags")
        )

    def select_distinct(
        self,
        keys: list[str],
        es_filter: dict | None = None,
        space: str = "default",
    ) -> DataFrame:
        """POST /select_distinct: distinct value-combinations of ``keys``
        across matching series (/root/reference/lib/orestes.js:198-210).
        A key absent from every series yields NULL for that column rather
        than an error — the reference's remove-field-and-retry semantics
        (A3, /root/reference/lib/elasticsearch/aggregation.js:36-68)."""
        series = self._read_series(space)
        if series is None:
            return self._empty(", ".join(f"`{k}` STRING" for k in keys))
        return (
            series.where(esdsl.translate(es_filter))
            .select(*[F.col("tags").getItem(k).alias(k) for k in keys])
            .distinct()
        )

    def register_views(self, space: str = "default", prefix: str = "orestes") -> list[str]:
        """Expose the space to Spark SQL as temp views, so the whole
        engine surface composes with ad-hoc ``spark.sql`` analytics:

          <prefix>_points  — upsert-MERGED points (series_id, tags,
                             time_ms, value): the queryable truth, with
                             last-write-wins already applied (gated, so
                             single-delivery spaces pay nothing);
          <prefix>_series  — one row per series (series_id, tags);
          <prefix>_rollup  — merged continuous-aggregate slots (only
                             when the space has rollup_step_ms).

        Registering costs no Spark job, and every SQL query over the
        views inherits the same bucket pruning / predicate pushdown as
        the engine's own reads. The views are a POINT-IN-TIME SNAPSHOT:
        the parquet file listing and the upsert-merge decision are
        fixed at registration (Spark caches the file index in the
        plan), so data written afterwards — and a space that was empty
        at registration — is not visible until ``register_views`` is
        called again. Re-register after ingest; it is free. Returns
        the registered view names."""
        names: list[str] = []
        end = (1 << 62)
        pts = self._merged_points(None, space, 0, end)
        pts.createOrReplaceTempView(f"{prefix}_points")
        names.append(f"{prefix}_points")
        series = self._read_series(space)
        if series is None:
            sview = self._empty("series_id STRING, tags MAP<STRING,STRING>")
        else:
            sview = series.dropDuplicates(["series_id"]).select("series_id", "tags")
        sview.createOrReplaceTempView(f"{prefix}_series")
        names.append(f"{prefix}_series")
        step = self._rollup_step(space)
        if step is not None:
            self.read_rollup(None, space, 0, end // step * step).createOrReplaceTempView(
                f"{prefix}_rollup"
            )
            names.append(f"{prefix}_rollup")
        return names

    # ---------- retention (S9) ----------

    def remove(
        self, space: str = "default", keep_days: int = 0, keep_rollup: bool = False
    ) -> list[int]:
        """Drop every bucket whose last day is ≤ today - keep_days
        (/root/reference/lib/orestes-remover.js:29-39: bucket_end =
        min(bucket + granularity - 1, today)). Partition-directory drop —
        never a row-level delete; on a lakehouse table this is the
        metadata-only `DELETE WHERE bucket <= cutoff`. Returns the list
        of dropped buckets.

        ``keep_rollup=True`` is TIERED retention (the hypertable
        downsample-then-drop pattern): raw points and series metadata
        beyond the horizon are dropped but the continuous-rollup
        partials for those buckets survive, so slot-granularity
        aggregates (``read_rollup`` — count/avg/min/max/sum/stddev)
        stay queryable over history whose raw data is gone. At 100 TB
        this is the difference between retaining ~bytes-per-slot and
        ~bytes-per-point for cold history."""
        g = self._granularity(space)
        today = int(_time.time() * 1000) // MS_IN_DAY
        dropped: list[int] = []
        tables = self._tables(space)
        roots = [tables["points"], tables["series"]]
        if not keep_rollup:
            roots += [tables["rollup"], tables["rollup_hist"]]
        with self._writer_lock(space, "remove"):
            # One swap set over every table: a crash never leaves a
            # bucket's points dropped and its series live.
            pairs = []
            for root in roots:
                for part in sorted(root.glob("bucket=*")):
                    bucket = int(part.name.split("=", 1)[1])
                    if min(bucket + g - 1, today) <= today - keep_days:
                        pairs.append((f"{root.name}/{part.name}", None))
                        if bucket not in dropped:
                            dropped.append(bucket)
            if pairs:
                _BACKEND.swap_set(tables["points"].parent, pairs)
            # A sweep that emptied the space leaves nothing to merge —
            # disarm the gate so subsequent appends start on the
            # merge-free fast path instead of paying the upsert
            # aggregation forever (until a full compact()). EXCEPT
            # when keep_rollup retained rollup/hist partials: those
            # may still over-count cross-delivery overwrites, and with
            # the raw points gone they can never be reconciled — so
            # the gate stays armed and rollup_stale() keeps telling
            # the truth ("False is a guarantee of agreement"). The
            # armed gate is cheap here: the merge path over an empty
            # points table does no work.
            if not any(tables["points"].glob("bucket=*")):
                rollup_retained = keep_rollup and (
                    any(tables["rollup"].glob("bucket=*"))
                    or any(tables["rollup_hist"].glob("bucket=*"))
                )
                if not rollup_retained:
                    self._clear_deliveries(space)
        return dropped

    def delete_series(self, es_filter: dict, space: str = "default") -> int:
        """Targeted series erasure (the GDPR delete the reference
        cannot express — its remover only drops whole time buckets):
        remove every point, metadata row, and rollup slot belonging to
        series matching ``es_filter``, by rewriting ONLY the bucket
        partitions where those series exist (located via the tiny
        series table — the points table is never scanned outside the
        affected buckets). The lakehouse `DELETE WHERE` shape: read
        partition → anti-join on series_id → atomic swap; the rewrite
        preserves the (series_id, time_ms) sorted layout. Returns the
        number of series removed. Requires a selective filter —
        time-based expiry belongs to ``remove()``."""
        if es_filter in (None, {}, {"match_all": {}}):
            raise ValueError(
                "delete_series requires a selective filter; use remove() for time-based expiry"
            )
        pred = esdsl.translate(es_filter)  # validate before taking the lock
        with self._writer_lock(space, "delete_series"):
            # Snapshot the doomed set INSIDE the lock: computed before
            # it, a concurrent append committing new matching rows
            # between snapshot and acquisition would survive the
            # erasure while delete_series reports success — an
            # incomplete GDPR delete.
            series = self._read_series(space)
            if series is None:
                return 0
            doomed = series.where(pred).select("bucket", "series_id")
            buckets = sorted(
                r["bucket"] for r in doomed.select("bucket").distinct().collect()
            )
            if not buckets:
                return 0
            # Materialize the doomed-id set BEFORE any rewrite: the lazy
            # plan reads the series files the loop below replaces.
            doomed_ids = doomed.select("series_id").distinct().localCheckpoint(eager=True)
            n_removed = doomed_ids.count()
            proot = self._points_path(space)
            # Same rule as compact: never fold an uncommitted epoch's
            # (invisible) files into rewritten output.
            _sweep_uncommitted_epoch_files(proot)
            tables = self._tables(space)
            # One swap set over every table: the erasure lands whole.
            pairs = []
            for root, range_cols, partition_by in (
                (proot, ["series_id", "time_ms"], None),
                (tables["series"], ["series_id"], None),
                (tables["rollup"], ["series_id", "slot_ms"], "epoch"),
                (tables["rollup_hist"], ["series_id", "slot_ms"], "epoch"),
            ):
                for bucket in buckets:
                    part = root / f"bucket={bucket}"
                    if not part.exists():
                        continue
                    # Size the rewrite from the input bytes (same policy
                    # as compact) — a default-parallelism range shuffle
                    # would fragment a 128 MB-targeted bucket into dozens
                    # of tiny files on every erasure.
                    width = _compact_width(list(part.rglob("*.parquet")))
                    kept = (
                        self.spark.read.parquet(str(part))
                        .join(doomed_ids, "series_id", "left_anti")
                        .repartitionByRange(width, *[F.col(c) for c in range_cols])
                        .sortWithinPartitions(*range_cols)
                    )
                    pairs.append(_stage_bucket(part, kept, partition_by))
            _BACKEND.swap_set(proot.parent, pairs)
            if proot.exists():
                # Frequent erasures without compactions would otherwise
                # accumulate one kind=compact manifest per (bucket,
                # call), each stat-checked on every read — prune the
                # superseded ones here, same as compact() does.
                _prune_epoch_markers(proot)
        return n_removed

    # ---------- maintenance ----------

    def compact(
        self,
        space: str = "default",
        target_bytes: int = _COMPACT_TARGET_BYTES,
        buckets: list[int] | None = None,
    ) -> dict[int, int]:
        """Compact each bucket partition to its size-targeted file count —
        streaming ingest appends a file (or more) per micro-batch, and at
        scale the small-files problem is the first thing that kills scan
        throughput. Each bucket's points are rewritten range-partitioned
        and sorted by (series_id, time_ms) — the same series-clustered
        layout ``_append`` writes, restored across the whole bucket, in
        ~128 MB files (N > 1 when the bucket outgrows the target; at 100 TB
        a bucket is TBs and the rewrite stays a wide parallel job).
        ``buckets`` limits the rewrite to the named partitions (the
        compact_if policy path). Returns {bucket: files_before}."""
        with self._writer_lock(space, "compact"):
            before: dict[int, int] = {}
            # Decide ONCE, before the marker is reset below: collapse upserts
            # only when reads would merge them too.
            collapse_upserts = self._merge_needed(space)
            proot = self._points_path(space)
            # Uncommitted epoch files must not be folded into untagged
            # compacted output (visibility + replay-duplicate hazard); they
            # are debris the epoch's replay fully re-delivers — sweep them.
            _sweep_uncommitted_epoch_files(proot)
            for root, range_cols in (
                (proot, ["series_id", "time_ms"]),
                (self._series_path(space), ["series_id"]),
            ):
                if not root.exists():
                    continue
                for part in sorted(root.glob("bucket=*")):
                    bucket = int(part.name.split("=", 1)[1])
                    if buckets is not None and bucket not in buckets:
                        continue
                    files = list(part.glob("*.parquet"))
                    if len(files) <= 1:
                        continue
                    if root == proot:
                        before[bucket] = len(files)
                    df = self.spark.read.parquet(str(part))
                    if root == proot and collapse_upserts:
                        # Collapse cross-delivery upserts physically (the
                        # rule reads apply), so post-compaction reads take
                        # the merge-free plan again: the LSM compaction half
                        # of the merge-on-read cycle (see _merged_points).
                        # GATED on the same merge decision reads use: when
                        # the gate is off (single delivery, or a declared
                        # append_only space) reads preserve every stored
                        # row, and a maintenance call must never change what
                        # a query returns.
                        df = _last_write_wins(df, "series_id", "time_ms")
                    n = _compact_width(files, target_bytes)
                    df = df.repartitionByRange(n, *[F.col(c) for c in range_cols])
                    _rewrite_bucket(part, df.sortWithinPartitions(*range_cols))
            # rollup partitions: compaction also MERGES the append partials
            # (one row per (series, slot) afterwards) — the continuous
            # aggregate's state stays bounded regardless of micro-batch count.
            # Partials live under bucket=*/epoch=* (the streaming-replay
            # idempotency key); the merge collapses every epoch into the
            # canonical epoch=-1 partition. Run compaction only when no
            # streaming epoch is in flight for the space (single-writer
            # maintenance, same caveat as any lakehouse OPTIMIZE): compacting
            # an epoch whose replay is still pending would let the replay
            # re-add partials the merge already folded in.
            #
            # orderBy, not a fixed repartitionByRange width: the groupBy
            # MERGES partials, so pre-merge input bytes (_compact_width's
            # predictor) overestimate the output by the replay factor and
            # would fragment the rewrite into many tiny files. A global sort
            # keeps the clustering and lets AQE size range partitions from
            # post-merge bytes.
            _merge_partial_partitions(
                self.spark, self._rollup_path(space), buckets,
                lambda df: _merge_rollup_partials(df).orderBy("series_id", "slot_ms"),
            )
            _merge_partial_partitions(
                self.spark, self._hist_path(space), buckets,
                lambda df: df.groupBy("series_id", "slot_ms", "bin")
                .agg(F.first("tags").alias("tags"), F.sum("cnt").alias("cnt"))
                .orderBy("series_id", "slot_ms", "bin"),
            )
            # A FULL points compaction that actually collapsed upserts lets
            # the merge gate drop back to the fast path. Partial
            # (bucket-scoped) compactions keep the marker — other buckets may
            # still hold duplicates — and a gate-off compaction (append_only
            # space) must not rewrite history the marker describes.
            if buckets is None and collapse_upserts and proot.exists():
                # The rollup partials counted EVERY delivery of an overwritten
                # point; the points are now physically collapsed, so recompute
                # the rollup from them — compact() is the single reconciliation
                # call, and a disarmed gate (rollup_stale() False) must
                # guarantee rollup/point agreement. One extra scan of the
                # points table, on the maintenance path only. Order matters:
                # the rebuild runs BEFORE the marker reset, so a crash between
                # the two leaves the gate armed (rollup_stale() still True)
                # rather than falsely certifying an unreconciled rollup.
                if self._rollup_step(space) is not None:
                    self.rebuild_rollup(space)
                self._reset_deliveries(space)
            if proot.exists():
                _prune_epoch_markers(proot)
            return before

    def compact_if(
        self,
        space: str = "default",
        max_files: int = 16,
        target_bytes: int = _COMPACT_TARGET_BYTES,
    ) -> dict[int, int]:
        """Auto-compaction policy: rewrite only the buckets whose file
        count (any of points/series/rollup) exceeds ``max_files`` —
        stats() is pure listing metadata, so the common no-op case costs
        one directory walk and zero Spark jobs. This is the hook streaming
        ingest calls after each committed epoch so the small-files problem
        self-heals instead of waiting on a manual maintenance window.
        Returns compact()'s {bucket: files_before} for the rewritten
        buckets ({} when nothing crossed the threshold)."""
        st = self.stats(space)
        offenders = sorted(
            {
                b
                for table in st.values()
                for b, info in table.items()
                if info["files"] > max_files
            }
        )
        if not offenders:
            return {}
        return self.compact(space, target_bytes, buckets=offenders)

    def rebuild_rollup(self, space: str = "default", buckets: list[int] | None = None) -> list[int]:
        """Recompute rollup partitions from the points table. Streaming
        replays are already idempotent (epoch-keyed partials, see
        ``_append``), so this is no longer required for crash repair; it
        remains the bootstrap/repair path for enabling rollup on a space
        with pre-existing points, recovering from manual file surgery, or
        reconciling after the documented points-duplication window (the
        rebuilt aggregate always equals the points table exactly).
        ``buckets`` limits the rebuild to the affected partitions
        (default: all). Returns the buckets rebuilt."""
        step = self._rollup_step(space)
        if step is None:
            raise ValueError(f"space {space!r} has no rollup_step_ms configured")
        hist = self.config.space(space).rollup_hist
        with self._writer_lock(space, "rebuild_rollup"):
            proot = self._points_path(space)
            if not proot.exists():
                return []
            rebuilt: list[int] = []
            for part in sorted(proot.glob("bucket=*")):
                bucket = int(part.name.split("=", 1)[1])
                if buckets is not None and bucket not in buckets:
                    continue
                raw = self.spark.read.parquet(str(part))
                if self._merge_needed(space):
                    # Rebuild from MERGED rows (last delivery wins), not
                    # deliveries: the append-only partials count every
                    # delivery, so after a cross-delivery overwrite the
                    # rollup over-counts until this rebuild reconciles
                    # it. Gated exactly like reads: when the merge gate
                    # is off the rollup must keep matching the unmerged
                    # rows reads serve.
                    raw = _last_write_wins(raw, "series_id", "time_ms")
                # Global sort, not sortWithinPartitions: the groupBy
                # output is hash-partitioned, which would write
                # shuffle-partitions-many unclustered files; the repair
                # must restore the same range-clustered layout _append
                # and compact() maintain, with AQE sizing partitions
                # from the merged bytes. Rebuilt partials land in the
                # canonical epoch=-1 partition.
                df = _rollup_partials(raw, step, "series_id").orderBy("series_id", "slot_ms")
                df = df.withColumn("epoch", F.lit(-1))
                _rewrite_bucket(self._rollup_path(space) / part.name, df, "epoch")
                if hist is not None:
                    # The histogram partials are rebuilt from the SAME
                    # (possibly merged) source: counts have no _seq to
                    # collapse at read time, so rebuild is their only
                    # upsert repair.
                    hdf = _hist_partials(raw, step, hist, "series_id").orderBy(
                        "series_id", "slot_ms", "bin"
                    )
                    hdf = hdf.withColumn("epoch", F.lit(-1))
                    _rewrite_bucket(self._hist_path(space) / part.name, hdf, "epoch")
                rebuilt.append(bucket)
            return rebuilt

    def stats(self, space: str = "default") -> dict[str, dict[int, dict]]:
        """Operational table stats: per-bucket file count and on-disk bytes
        for the points / series / rollup tables — the numbers that drive
        compaction scheduling (many small files → compact()) and retention
        review (bytes per bucket over time). Pure filesystem metadata, no
        Spark job, no data scan; at cluster scale the same walk runs
        against the object store listing. Shape:
        {"points": {bucket: {"files": n, "bytes": b}}, "series": {...},
        "rollup": {...}, "rollup_hist": {...}} (tables absent from the
        warehouse are empty)."""
        out: dict[str, dict[int, dict]] = {}
        for name, root in self._tables(space).items():
            table: dict[int, dict] = {}
            if root.exists():
                for part in sorted(root.glob("bucket=*")):
                    # rglob: rollup files nest under epoch=* subpartitions
                    files = list(part.rglob("*.parquet"))
                    table[int(part.name.split("=", 1)[1])] = {
                        "files": len(files),
                        "bytes": sum(f.stat().st_size for f in files),
                    }
            out[name] = table
        return out

    def read_fetchers(
        self,
        es_filter: dict | None = None,
        space: str = "default",
        start_ms: int = 0,
        end_ms: int | None = None,
    ):
        """Iterate per-series fetchers — the embedded ``read`` callback
        surface. Series stream from executors incrementally via
        toLocalIterator (one partition in flight), so the driver never
        holds the full result set."""
        grouped = self.read(es_filter, space, start_ms, end_ms, grouped=True)
        for row in grouped.toLocalIterator():
            points = [(p["time_ms"], p["value"]) for p in row["points"]]
            yield SeriesFetcher(dict(row["tags"]), points)


class SeriesFetcher:
    """Embedded-API parity object: ``{tags, fetch(n)}`` with incremental
    paging, mirroring the reference fetcher surface
    (/root/reference/lib/orestes-query.js:68-131,
     /root/reference/test/embedded-api.spec.js:49-77 pages 2 at a time).
    ``fetch(-1)`` drains (autoPage)."""

    def __init__(self, tags: dict[str, str], points: list[tuple[int, float]]) -> None:
        self.tags = tags
        self._points = points
        self._pos = 0

    def fetch(self, n: int = -1) -> dict[str, Any]:
        if n < 0:
            n = len(self._points) - self._pos
        chunk = self._points[self._pos : self._pos + n]
        self._pos += n
        return {"points": chunk, "eof": self._pos >= len(self._points)}
