"""Structured Streaming ingest: the write path (S1-S5, D2) as a
continuous pipeline.

The reference ingests via request-driven HTTP batches
(/root/reference/lib/orestes.js:69-80); readers see data once both the
point write and the metadata write land. Here the same contract is a
streaming query:

    file/kafka source → normalize/validate → foreachBatch:
        append valid points (bucket-partitioned, series-sorted)
        upsert new (bucket, series) metadata with anti-join dedup
        append rejected points to an errors sink (per-point error
        strings, never batch abort)

``foreachBatch`` is at-least-once: after a restart the last epoch is
re-offered even when its writes landed. The processor therefore records
each fully-committed epoch as a marker file (Hadoop FileSystem API, so
it works on any checkpoint-capable store) and skips replayed epochs —
the standard idempotent-foreachBatch recipe. The marker itself is a
pure CREATE — never a rename — so marker visibility is atomic on any
store where create/PUT is atomic (POSIX and S3-class object stores
alike). The rename-atomicity boundary lives in the ENGINE's warehouse
(staged-epoch file moves in ``_append``, the erasure swap): those
assume POSIX semantics, which the engine now enforces loudly at
construction (``_require_posix_warehouse``) — an object-store
warehouse is refused with a pointer to lakehouse table formats rather
than silently weakening exactly-once. Every sink is idempotent
under mid-epoch replay, so ingest is EXACTLY-ONCE per epoch
end-to-end:

  - POINTS: the epoch is staged under a dot-dir and its files moved
    into the live buckets under epoch-tagged names; a replay first
    sweeps any files the crashed attempt already moved (see
    ``OrestesEngine._append``). No crash window duplicates a point.
  - SERIES metadata: the anti-join upsert against the durable series
    table makes replays no-ops for rows that already landed.
  - ROLLUP / histogram partials: keyed by epoch
    (``bucket=*/epoch=<id>``); a replayed epoch dynamically OVERWRITES
    exactly its own partitions, never appending a second copy.
  - ERRORS sink: plain append — a replayed epoch can repeat error
    rows (they carry the epoch column, so exact downstream dedup is
    one filter); per-point errors are diagnostics, not data.

``engine.rebuild_rollup`` remains available as a repair for manual
file surgery; it is no longer needed for crash recovery.
The Bubo write-time series-dedup cache
(/root/reference/lib/orestes-inserter.js:98-116) becomes the anti-join
in OrestesEngine._append — per micro-batch, against the durable series
table, instead of an in-memory hash set: restart-safe and shared
across writers.

The reference has no event-time semantics (no watermarks/windows —
SURVEY.md §2.5); ``streaming_rollup`` adds them as new surface:
watermarked tumbling-window aggregation with documented late-data
behavior (append mode drops events later than the watermark).
"""

from __future__ import annotations

import os
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from orestes_spark import schema, validation
from orestes_spark.commit_backend import POSIX_BACKEND
from orestes_spark.engine import OrestesEngine

# Raw input contract for file sources: reference-style points with a
# flexible time column plus a tags map.
RAW_DDL = "time STRING, value DOUBLE, tags MAP<STRING,STRING>"


def canonicalize(raw: DataFrame) -> DataFrame:
    """Raw (time, value, tags) → canonical (time_ms, value, tags)."""
    return raw.select(
        schema.normalize_time_col(F.col("time")).alias("time_ms"),
        F.col("value").cast("double").alias("value"),
        F.col("tags"),
    )


def _fs_and_path(spark, path: str):
    """Hadoop FileSystem + Path for ``path`` — FS-agnostic (local,
    HDFS, object store), same API the checkpoint itself uses."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _canonical_stream_ns(checkpoint: str) -> str:
    """Canonical stream namespace for a checkpoint location: two
    spellings of the same checkpoint (relative vs absolute path,
    trailing slash, symlinked parent) must produce the same namespace,
    or a re-launch with an equivalently-spelled checkpoint would hash
    its replayed final epoch to a fresh key and re-append it.
    Bare paths AND ``file:`` URIs (Spark treats ``/ck``, ``file:/ck``,
    ``file:///ck`` as the same checkpoint) all resolve to
    ``file:<realpath>`` — a local path has a realpath, so symlinked
    parents and the three spellings converge. Genuinely remote URIs
    (hdfs://, s3a://, ...) have no local realpath and are kept as
    written minus trailing slashes, with the authority preserved
    (hdfs://nn1/ck and hdfs://nn2/ck ARE different checkpoints).

    Upgrade caveat (documented, one-epoch window): warehouses whose
    markers predate this normalization (or the r6 raw-id → hashed-key
    change) carry keys under the OLD spelling — the first restart
    re-appends its single replayed final epoch under the new key
    (points upsert-merge absorbs it; rollup partials over-count until
    ``compact()``/``rebuild_rollup``, surfaced by ``rollup_stale``)."""
    s = checkpoint.rstrip("/") or "/"
    m = re.match(r"^file:(//)?(/.*)?$", s, re.IGNORECASE)
    if m:
        s = m.group(2) or "/"
    elif re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", s):
        return s
    return "file:" + os.path.realpath(os.path.abspath(s))


def _stream_epoch_key(stream_ns: str | None, epoch_id: int) -> int:
    """Globally-unique engine epoch key for a (stream, epoch) pair.

    Structured Streaming restarts epoch ids at 0 for every NEW
    checkpoint, but the engine's points-epoch markers and rollup
    ``epoch=<id>`` partials live in the WAREHOUSE and survive stream
    generations — raw ids would collide: a successor stream's epoch 0
    would read as a replay of its predecessor's (points silently
    skipped) and its rollup partials would OVERWRITE the old ones.
    Hashing the stream namespace (its CANONICAL checkpoint identity —
    stable across restarts and respellings of the same stream, fresh
    for a new one; see _canonical_stream_ns) with the epoch id into a
    positive int63 makes the key collision-free across generations
    while staying an integer everywhere the engine stores it. ``None``
    namespace keeps the raw id (direct engine callers manage their
    own uniqueness — documented in _append)."""
    if stream_ns is None:
        return epoch_id
    import hashlib

    h = hashlib.md5(f"{stream_ns}:{epoch_id}".encode()).digest()
    return int.from_bytes(h[:8], "big") >> 1


def _write_epoch_atomic(
    df: DataFrame, final_dir: str, partition_by: str | None = None
) -> None:
    """Stage-then-rename an epoch partition so a concurrent reader of
    the store never lists a HALF-WRITTEN epoch dir (the same
    all-or-nothing visibility class the engine's points manifests
    give its warehouse — here one atomic directory rename does it,
    because the whole epoch is a single partition dir).

    The staging dir is dot-prefixed, so parquet listings of the
    parent ignore it even mid-write; a crashed attempt's leftover is
    simply overwritten by the replay. On a replay over an existing
    committed epoch there is a delete→rename window where a reader
    sees the store WITHOUT that epoch — all-or-nothing per epoch,
    never partial. Rename atomicity is the usual POSIX/HDFS boundary
    (same contract as every rename in this repo; S3-class stores are
    refused at the engine level and documented throughout)."""
    spark = df.sparkSession
    parent, leaf = final_dir.rsplit("/", 1)
    staging = f"{parent}/.staging-{leaf}"
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(partition_by)
    w.parquet(staging)
    fs, fpath = _fs_and_path(spark, final_dir)
    _, spath = _fs_and_path(spark, staging)
    if fs.exists(fpath):
        fs.delete(fpath, True)
    if not fs.rename(spath, fpath):
        raise RuntimeError(f"epoch commit rename failed: {staging} -> {final_dir}")


class LatePointPolicy:
    """The engine's STANCE on late points, made explicit (round-10
    verdict #5 — SURVEY §2.5 leaves event-time semantics "ours to
    define"; the reference accepts any timestamp you post):

    - **accept (the default — no policy object at all)**: reference
      parity. A point whose ``time_ms`` lies far in the past is
      written into its (old) time bucket; reads see it immediately,
      retention/rollup treat it like any other point. Correct, but a
      deployment whose compaction/rollup assumes "old buckets stop
      changing" has no bound on how far back a writer can reach.
    - **bounded lateness (this object)**: a persisted per-stream
      event-time WATERMARK — ``wm = max(wm, batch_max_time_ms −
      delay_ms)``, advanced after each committed epoch — and points
      older than the watermark are REFUSED at ingest: routed to the
      errors sink as ``late point past watermark`` rows when an
      errors sink exists (auditable, replayable downstream), dropped
      otherwise. Old buckets then provably stop changing once the
      watermark passes them, which is what makes tiered retention and
      "compact once, final forever" policies sound at 100 TB.

    Semantics match Structured Streaming's lagging watermark: a batch
    is filtered against the watermark as of the END OF THE PREVIOUS
    epoch; its own max event time only advances the watermark for
    later epochs (so a single batch can never filter itself).
    Durability/replay: the watermark file is written atomically
    (write-temp → fsync → replace, the PosixCommitBackend manifest
    discipline) AFTER the epoch's commit marker, guarded by the epoch
    seq so a replay can never regress or double-advance it. A crash
    between marker and watermark write loses one advance — harmless:
    the watermark is a monotone lower bound and the next epoch's max
    re-advances it (documented-lag, never wrong filtering)."""

    def __init__(self, delay_ms: int, wm_dir: str):
        import pathlib

        if delay_ms < 0:
            raise ValueError(f"delay_ms must be >= 0: {delay_ms}")
        self.delay_ms = int(delay_ms)
        self.path = pathlib.Path(wm_dir) / "watermark.json"

    def current(self) -> int | None:
        """Watermark as of the last committed advance (None = no epoch
        has advanced it yet → nothing is late)."""
        import json

        try:
            return int(json.loads(self.path.read_text())["wm_ms"])
        except (OSError, ValueError, KeyError):
            return None

    def _state(self) -> tuple[int | None, int]:
        import json

        try:
            d = json.loads(self.path.read_text())
            return int(d["wm_ms"]), int(d.get("seq", -1))
        except (OSError, ValueError, KeyError):
            return None, -1

    def advance(self, batch_max_ms: int | None, epoch_id: int) -> None:
        """Monotone, epoch-guarded advance — idempotent under replay
        (a seq at or below the stored one is a no-op)."""
        import json

        wm, seq = self._state()
        if epoch_id <= seq or batch_max_ms is None:
            return
        new_wm = batch_max_ms - self.delay_ms
        if wm is not None:
            new_wm = max(wm, new_wm)
        self.path.parent.mkdir(parents=True, exist_ok=True)
        tmp = self.path.parent / f".tmp-{self.path.name}"
        with open(tmp, "w") as f:
            f.write(json.dumps({"wm_ms": int(new_wm), "seq": int(epoch_id)}))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self.path)


def make_batch_processor(
    engine: OrestesEngine,
    space: str = "default",
    errors_path: str | None = None,
    epochs_dir: str | None = None,
    auto_compact_files: int | None = None,
    stream_ns: str | None = None,
    late_policy: LatePointPolicy | None = None,
):
    """foreachBatch processor: validate → errors sink → append, with
    committed-epoch tracking. When ``epochs_dir`` is set, an epoch that
    already has a commit marker is skipped entirely — a replayed
    micro-batch (restart re-offering the last committed epoch) becomes
    a no-op instead of a duplicate append. The marker is written only
    after every write of the epoch has returned.

    ``auto_compact_files`` arms the self-healing small-files policy:
    after the epoch COMMITS (marker written — so a crash mid-compact
    can never cause the epoch's sinks to replay), any bucket whose
    file count exceeds the threshold is rewritten via
    engine.compact_if. The policy check itself is a directory listing,
    no Spark job, so idle epochs pay ~nothing."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        fs = marker = None
        if epochs_dir is not None:
            fs, d = _fs_and_path(batch_df.sparkSession, epochs_dir)
            marker = batch_df.sparkSession._jvm.org.apache.hadoop.fs.Path(
                d, f"epoch-{epoch_id}"
            )
            if fs.exists(marker):
                return
        valid, errors = validation.split_valid(canonicalize(batch_df))
        if late_policy is not None:
            wm = late_policy.current()
            if wm is not None:
                valid = valid.localCheckpoint(eager=True)  # one pass feeds both splits
                late_rows = valid.where(F.col("time_ms") < wm)
                if errors_path is not None:
                    # same (time_ms, value, tags, error, epoch) shape
                    # as the validation errors sink — late points are
                    # auditable data, not silent drops
                    (
                        late_rows.withColumn(
                            "error",
                            F.lit(f"late point past watermark ({wm})"),
                        )
                        .withColumn("epoch", F.lit(epoch_id))
                        .write.mode("append")
                        .parquet(errors_path)
                    )
                valid = valid.where(F.col("time_ms") >= wm)
        if errors_path is not None:
            (
                errors.withColumn("epoch", F.lit(epoch_id))
                .write.mode("append")
                .parquet(errors_path)
            )
        engine._append(
            valid,
            space,
            epoch_id=_stream_epoch_key(stream_ns, epoch_id),
            # recorded in the epoch manifest: pruning protects the
            # latest marker per stream by this monotonic seq instead
            # of by cross-host mtime (see engine._prune_epoch_markers)
            stream_ns=stream_ns,
            stream_seq=epoch_id,
        )
        if marker is not None:
            fs.mkdirs(d)
            fs.create(marker, True).close()
        if late_policy is not None:
            # AFTER the commit marker: a crash before this line loses
            # one advance (self-healing lag), never makes a replay
            # filter differently than the original run did
            mx = valid.agg(F.max("time_ms")).collect()[0][0]
            late_policy.advance(mx, epoch_id)
        if auto_compact_files is not None:
            engine.compact_if(space, max_files=auto_compact_files)

    return process_batch


def start_ingest(
    engine: OrestesEngine,
    source: DataFrame,
    space: str = "default",
    checkpoint: str | None = None,
    errors_path: str | None = None,
    trigger_once: bool = False,
    auto_compact_files: int | None = None,
    max_lateness_ms: int | None = None,
) -> StreamingQuery:
    """Run a streaming ingest into ``space``. ``source`` is any
    streaming DataFrame with (time, value, tags) — e.g.
    ``spark.readStream.schema(RAW_DDL).parquet(dir)`` or a mapped
    Kafka source. With a ``checkpoint``, committed epochs are tracked
    next to it and replayed epochs are skipped (see module docstring
    for the exact delivery guarantee). ``auto_compact_files`` arms
    post-commit auto-compaction of any bucket that accumulates more
    than that many files (micro-batch appends create a file or more
    per epoch; without a compaction policy scan throughput decays).
    ``max_lateness_ms`` arms the bounded-lateness stance (see
    LatePointPolicy — requires a checkpoint, since the watermark is
    per-stream state that must survive restarts); leaving it None
    keeps reference parity (every timestamp accepted into its
    bucket)."""
    epochs_dir = f"{checkpoint}/orestes_committed_epochs" if checkpoint else None
    late_policy = None
    if max_lateness_ms is not None:
        if checkpoint is None:
            raise ValueError(
                "max_lateness_ms needs a checkpoint: the late-point"
                " watermark is per-stream state and must survive restarts"
            )
        late_policy = LatePointPolicy(
            max_lateness_ms, f"{checkpoint}/orestes_watermark"
        )
    process_batch = make_batch_processor(
        engine,
        space,
        errors_path,
        epochs_dir,
        auto_compact_files,
        # Namespace the engine-side epoch keys by CANONICAL checkpoint
        # identity: stable across restarts of THIS stream (replays
        # keep their key, regardless of how the path is spelled),
        # collision-free against earlier streams' surviving
        # markers/rollup partials (see _stream_epoch_key /
        # _canonical_stream_ns, incl. the one-epoch upgrade caveat).
        stream_ns=_canonical_stream_ns(checkpoint) if checkpoint else None,
        late_policy=late_policy,
    )
    writer = source.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_dedup(
    docs: DataFrame,
    key_cols: tuple[str, ...] = ("fingerprint",),
    time_col: str = "ts",
    watermark: str = "1 hour",
    fingerprint_col: str | None = "text",
) -> DataFrame:
    """Streaming exact dedup: the first PROCESSED occurrence of each
    key wins; re-arrivals inside the watermark horizon are dropped.
    Within a single micro-batch the winner among equal keys is
    engine-arbitrary (processing order, not event-time order) — pick
    by event time downstream if the distinction matters.
    ``dropDuplicatesWithinWatermark`` bounds the dedup state to the
    watermark window — the property that makes continuous corpus
    ingest viable (an unbounded dropDuplicates grows state forever at
    100 TB/day). When ``fingerprint_col`` is set, a content md5 is
    added first so the state stores 16-byte hashes, never document
    text. Cross-horizon duplicates are handled downstream by the batch
    exact_dedup pass — the standard streaming+batch split."""
    out = docs
    if fingerprint_col is not None:
        out = out.withColumn(
            "fingerprint", F.md5(F.col(fingerprint_col).cast("binary"))
        )
    return out.withWatermark(time_col, watermark).dropDuplicatesWithinWatermark(
        list(key_cols)
    )


def streaming_near_dedup(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str = "ts",
    watermark: str = "1 hour",
    bits: int = 64,
) -> DataFrame:
    """Streaming NEAR-dup suppression: drop documents whose 64-bit
    SimHash collides with one already seen inside the watermark
    horizon. The signature is a pure column expression (no shuffle,
    no Python), so the only state is dropDuplicatesWithinWatermark's
    bounded (signature, window) store — 8 bytes per doc, never text.

    Signature equality ≈ Hamming distance 0: it catches boilerplate
    re-crawls and token-reordered copies, not paraphrases — the cheap
    first gate in front of the batch MinHash/verify pass (the standard
    streaming+batch near-dup split). xxhash64 path: production speed,
    no oracle twin (batch simhash_signatures has the md5 oracle)."""
    from orestes_spark.operators.dedup import simhash_column

    sig = simhash_column(text_col, bits=bits, hash_fn="xxhash64")
    return (
        docs.withColumn("simhash", sig)
        .withWatermark(time_col, watermark)
        .dropDuplicatesWithinWatermark(["simhash"])
    )


def streaming_rollup(
    points: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    time_col: str = "ts",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Watermarked tumbling-window rollup over a streaming points
    frame: (window, *group_cols, n, sum_value). Late events beyond the
    watermark are dropped (append-mode semantics) — the late-data
    policy the reference never had to define."""
    return (
        points.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window), *group_cols)
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_value"))
    )


def streaming_ohlc(
    points: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    time_col: str = "ts",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Watermarked tumbling-window OHLC — the continuous twin of
    ``timeseries.ohlc``: (window, *group_cols, open, high, low, close,
    n). Open/close resolve through struct-min/max on (time, value), an
    order-insensitive aggregate, so results are independent of
    micro-batch arrival order and of how many batches a window's data
    was split across; equal-time ties break on value, exactly like the
    batch operator's resample first/last discipline."""
    tv = F.struct(F.col(time_col), F.col("value"))
    return (
        points.withWatermark(time_col, watermark)
        .groupBy(F.window(F.col(time_col), window), *group_cols)
        .agg(
            F.min(tv)["value"].alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(tv)["value"].alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
    )


def prepare_dsir_gate(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 4096,
    salt: str = "dsir",
    bigrams: bool = False,
) -> None:
    """One-time setup for the corpus stream's DSIR quality gate
    (round-9, the FOURTH cross-batch modality): freeze the DSIR
    codebook — sampling.dsir_weight_table(target, raw) — at
    ``<store>/dsir_wq``, the frozen-quantizer pattern the embedding
    ingest uses. The table is ``buckets`` rows (~64 KiB at 4096) and
    self-describing (salt/buckets/bigrams ride as columns) so the
    per-batch gate needs no side-channel config. Freezing matters at
    scale: the alternative — recounting the accepted corpus's feature
    distribution every batch — is corpus-sized work per batch and a
    moving acceptance bar (docs drop or pass depending on WHEN they
    arrive); the frozen proposal keeps the gate a pure function of
    the document, replay-idempotent by construction."""
    from orestes_spark.operators import sampling as _s

    wdf = _s.dsir_weight_table(
        target_docs, raw_docs, id_col, text_col, buckets=buckets, salt=salt,
        bigrams=bigrams,
    )
    (
        wdf.withColumn("salt", F.lit(salt))
        .withColumn("buckets", F.lit(buckets))
        .withColumn("bigrams", F.lit(bigrams))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(f"{store}/dsir_wq")
    )


def prepare_quality_gate(
    docs: DataFrame,
    labels: DataFrame,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    label_col: str = "label",
    buckets: int = 4096,
    salt: str = "qm",
    bigrams: bool = False,
) -> None:
    """One-time setup for the corpus stream's MODEL-BASED quality gate
    (round-10, the FIFTH cross-batch modality): train the Naive-Bayes
    log-odds classifier (text.train_quality_model — the DCLM-style
    reference-vs-crawl scorer) on the labeled seed and FREEZE its
    self-describing artifact at ``<store>/quality_model`` — the same
    frozen-proposal pattern as prepare_dsir_gate, and for the same
    reason: a model retrained on the accepted corpus every batch is
    corpus-sized work per batch AND a moving acceptance bar. The
    frozen model keeps the gate a pure function of the document —
    replay-idempotent, ~64 KiB broadcast, zero corpus reads."""
    from orestes_spark.operators import text as _t

    model = _t.train_quality_model(
        docs, labels, id_col, text_col, label_col, buckets, salt, bigrams
    )
    model.coalesce(1).write.mode("overwrite").parquet(f"{store}/quality_model")


def prepare_ppl_gate(
    target_docs: DataFrame,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 256,
) -> None:
    """One-time setup for the corpus stream's PERPLEXITY gate (the
    SIXTH cross-batch modality): train the bigram LM on the reference
    corpus (text.train_bigram_lm — the CCNet KenLM stand-in) and
    FREEZE its codebook under ``<store>/bigram_lm`` as three frames:
    vocab (tok, id), pairs (p, c, wq), fb (p, fq). Same frozen-model
    discipline as the DSIR and classifier gates — a model retrained
    per batch is corpus-sized work and a moving acceptance bar; the
    frozen LM keeps the verdict a pure function of the document,
    replay-idempotent. Self-describing: vocab_size = |fb| - 1, so the
    per-batch gate needs no side-channel config. Total artifact size
    is <= (V+1)^2 pair rows — broadcastable."""
    from orestes_spark.operators.text import train_bigram_lm

    vocab, pairs_df, fb_df = train_bigram_lm(
        target_docs, id_col, text_col, vocab_size
    )
    spark = target_docs.sparkSession
    vdf = spark.createDataFrame(
        list(vocab.items()) or [("", 0)], "tok STRING, id INT"
    )
    if not vocab:
        vdf = vdf.where(F.lit(False))
    vdf.coalesce(1).write.mode("overwrite").parquet(f"{store}/bigram_lm/vocab")
    pairs_df.coalesce(1).write.mode("overwrite").parquet(f"{store}/bigram_lm/pairs")
    fb_df.coalesce(1).write.mode("overwrite").parquet(f"{store}/bigram_lm/fb")


def read_gate_stats(spark, store: str) -> DataFrame:
    """(epoch, gate, n_scored, n_dropped) — the per-epoch gate
    observability rows the corpus processor records when any frozen
    quality gate is armed. Raises if none exist: a drift policy
    silently reading an empty frame would never trigger."""
    fs, base = _fs_and_path(spark, f"{store}/gate_stats")
    if not fs.exists(base):
        raise RuntimeError(
            f"no gate stats at {store}/gate_stats — arm at least one"
            " quality gate (dsir_floor / quality_floor / ppl_ceiling)"
            " and ingest an epoch first"
        )
    return spark.read.parquet(f"{store}/gate_stats")


def text_gate_retrain_if(
    spark,
    store: str,
    accept_floor: float = 0.5,
    accept_ceiling: float = 1.0,
    window: int = 3,
    dsir: tuple | None = None,
    quality: tuple | None = None,
    ppl=None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Staleness policy for the FROZEN text-gate artifacts (round-11,
    VERDICT r10 #3 — the missing sibling of ``requantize_if``/
    ``pq_requantize_if``): a corpus whose distribution shifts under a
    frozen DSIR codebook / NB quality model / bigram LM silently
    degrades acceptance quality. The trigger is MEASURED, not
    assumed: per-gate acceptance rate over the last ``window``
    recorded epochs (``<store>/gate_stats``, written by the
    processor) — when a gate's rate leaves [accept_floor,
    accept_ceiling], its artifact retrains from the caller-supplied
    CURRENT reference data and swaps atomically.

    Retrain sources (a gate with no source reports triggered but
    does not retrain — the operator chose monitoring-only):

    - ``dsir=(target_docs, raw_docs)`` → prepare_dsir_gate
    - ``quality=(docs, labels)`` → prepare_quality_gate
    - ``ppl=target_docs`` → prepare_ppl_gate

    Retrain config (buckets/salt/bigrams/vocab_size) is read from
    the EXISTING artifact's self-describing columns, so a retrain can
    never silently change featurization. The new artifacts are written
    under ``<store>/.gate_retrain`` and swap in as one ``swap_set``.
    POSIX-local store required, single-writer (stream stopped /
    between epochs), like every offline job here.

    Returns {gate: {"rate": r, "epochs": k, "triggered": bool,
    "retrained": bool}} for every gate with recorded stats. A gate
    that scored ZERO docs across the window (earlier gates consumed
    everything — a fully-collapsed stream) reports rate=None and
    triggered=True with reason="no_scored_docs" instead of a healthy
    default (ADVICE r11: n=0 must surface drift, not mask it); it is
    never retrained, since the collapse is upstream of the gate."""
    _recover_store(store)
    stats = read_gate_stats(spark, store)
    out: dict[str, dict] = {}
    retrains: dict[str, tuple] = {}
    for r in (
        stats.where(F.col("gate") != "overall")
        .groupBy("gate")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(F.struct("epoch", "n_scored", "n_dropped")),
                    asc=False,
                ),
                1,
                int(window),
            ).alias("recent")
        )
        .select(
            "gate",
            F.size("recent").alias("k"),
            F.aggregate(
                "recent", F.lit(0).cast("long"), lambda a, s: a + s["n_scored"]
            ).alias("n"),
            F.aggregate(
                "recent", F.lit(0).cast("long"), lambda a, s: a + s["n_dropped"]
            ).alias("d"),
        )
        .collect()
    ):
        gate, n, d = r["gate"], int(r["n"]), int(r["d"])
        if n:
            rate = (n - d) / n
            triggered = rate < accept_floor or rate > accept_ceiling
            entry = {
                "rate": round(rate, 6),
                "epochs": int(r["k"]),
                "triggered": triggered,
                "retrained": False,
            }
        else:
            # Zero scored docs across the window (ADVICE r11): earlier
            # gates consumed everything before this one scored a single
            # document. Defaulting to a healthy rate here would MASK
            # drift in a fully-collapsed stream — exactly the state a
            # staleness policy exists to surface — so report rate=None
            # and trigger with a distinct reason instead.
            triggered = True
            entry = {
                "rate": None,
                "epochs": int(r["k"]),
                "triggered": True,
                "reason": "no_scored_docs",
                "retrained": False,
            }
        out[gate] = entry
        src = {"dsir": dsir, "quality": quality, "ppl": ppl}.get(gate)
        # no_scored_docs never retrains even with a source: the gate
        # saw zero documents, so the collapse is upstream of it and a
        # new artifact changes nothing — surface it, don't churn.
        if triggered and n and src is not None:
            retrains[gate] = src
    if not retrains:
        return out
    store = _require_posix_store(store, "text_gate_retrain_if")
    names = {"dsir": "dsir_wq", "quality": "quality_model", "ppl": "bigram_lm"}
    tmp = Path(store, ".gate_retrain")
    shutil.rmtree(tmp, ignore_errors=True)  # no intent named it: never committed
    for gate, src in retrains.items():
        if gate == "dsir":
            old = spark.read.parquet(f"{store}/dsir_wq").select(
                "salt", "buckets", "bigrams"
            ).first()
            prepare_dsir_gate(
                src[0], src[1], tmp, id_col, text_col,
                buckets=int(old["buckets"]), salt=old["salt"],
                bigrams=bool(old["bigrams"]),
            )
        elif gate == "quality":
            old = spark.read.parquet(f"{store}/quality_model").select(
                "nb", "bg", "salt"
            ).first()
            prepare_quality_gate(
                src[0], src[1], tmp, id_col, text_col,
                buckets=int(old["nb"]), salt=old["salt"], bigrams=bool(old["bg"]),
            )
        else:
            vs = spark.read.parquet(f"{store}/bigram_lm/fb").count() - 1
            prepare_ppl_gate(src, tmp, id_col, text_col, vocab_size=vs)
    POSIX_BACKEND.swap_set(Path(store), [(names[g], f"{tmp.name}/{names[g]}") for g in retrains])
    shutil.rmtree(tmp)
    for gate in retrains:
        out[gate]["retrained"] = True
    return out


def make_corpus_batch_processor(
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_size: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    span_k: int | None = None,
    span_max_frac: float = 0.5,
    dsir_floor: float | None = None,
    span_buckets: int | None = None,
    quality_floor: float | None = None,
    ppl_ceiling: float | None = None,
    rejects: bool = False,
):
    """foreachBatch processor for continuous corpus construction with
    CROSS-BATCH near-dedup (exposed as a factory so replay semantics
    are directly testable — see start_corpus_ingest for the contract).

    Each micro-batch is near-deduped (a) within itself
    (minhash_lsh_dedup, greedy keep-min — the dedup_keep_list policy)
    and (b) against everything accepted so far via
    ``incremental_neardup`` on the persisted band index; survivors
    append to ``<store>/docs`` and their band rows to
    ``<store>/bands``. Unlike the watermark gates above — whose
    in-memory state is bounded by forgetting old keys — this gate's
    state is the durable index itself: restart-safe, horizon-free,
    shared with the batch pipeline (it is exactly the
    ``minhash_band_index`` artifact), and per-batch cost stays ∝
    batch + candidates regardless of corpus size.

    ``span_k`` arms the third cross-batch modality (round 8): the
    SPAN gate. MinHash judges whole-document similarity; a document
    that verbatim-copies half its text from the corpus but pads the
    rest sails under any Jaccard threshold. With ``span_k = k``, each
    minhash-surviving doc is flagged against the persisted distinct
    k-gram index (``<store>/kgrams``, the ``dedup.span_index``
    artifact, epoch-partitioned like bands) via
    ``incremental_repeated_spans`` — map-side, zero corpus shuffles —
    and dropped when duplicated-token coverage reaches
    ``span_max_frac`` of its tokens (the RefinedWeb-style duplicated-
    text-fraction rule). Accepted docs append their distinct k-gram
    hashes for future batches; replay reads exclude the epoch's own
    partition, same as bands/docs. Within-batch span overlap is
    deliberately NOT judged here (the batch operator
    ``repeated_spans`` owns that analysis); the gate is strictly
    batch-vs-accepted-corpus, like the other two.

    ``span_buckets`` (round-9, the streaming twin of the batch span
    index's hash-range bucketing): the ``<store>/kgrams`` epochs are
    written ``partitionBy(hb)`` with the self-describing ``nb``
    modulus, and the per-batch probe partition-prunes the index scan
    to the buckets the batch touches — exactly where pruning matters
    most, because a streaming micro-batch is small relative to the
    accepted corpus, so per-batch index I/O drops to the touched
    fraction instead of re-scanning every epoch's k-grams. The tree's
    layout must be consistent: arming (or changing) span_buckets over
    an existing kgrams tree with a different layout raises loudly —
    migrate by running ``compact_corpus_store(span_buckets=...)``
    with the stream stopped, which rewrites the baseline bucketed.

    ``dsir_floor`` arms the FOURTH cross-batch modality (round 9):
    the QUALITY gate. The first three gates are all duplication
    judgments; this one drops documents whose content is
    off-TARGET-distribution however novel — per-feature mean DSIR
    log-ratio under the FROZEN codebook ``prepare_dsir_gate`` wrote
    at ``<store>/dsir_wq`` (arming without preparing raises: a
    quality gate that silently passes everything is worse than none).
    The mean (not the sum) is the floor statistic so long documents
    aren't privileged; documents with zero features pass (no
    evidence). Per-batch cost: one ~64 KiB broadcast join onto the
    batch token stream + one groupBy(id) — fixed-size state, zero
    corpus reads, so unlike the dedup gates it needs no epoch
    partitioning and no backfill when armed on a pre-existing store
    (the codebook is setup-time state, not accepted-corpus state).

    ``rejects`` (round-12, the streaming twin of doc_keep_manifest):
    record every dropped doc to ``<store>/rejects/epoch=<id>`` as
    (id, reason) — reason being the FIRST gate that dropped it, by
    construction: each gate only ever sees survivors of the gates
    before it, so its drop set IS the first-drop set and no
    precedence logic exists to get wrong. Reasons, in gate order:
    ``batch_neardup`` (within-batch minhash loser), ``redelivery``
    (already-accepted id re-sent), ``corpus_neardup`` (near-dup of an
    indexed doc), ``span_dup``, ``dsir``, ``quality``, ``ppl``.
    Epoch-keyed overwrite = replay-idempotent like every sink here;
    off by default (zero overhead), and when armed the added cost is
    one semi-join per firing gate over already-checkpointed frames
    plus one batch-sized write. This is the audit trail a curation
    pipeline owes its operators: every exclusion attributable to a
    named gate, queryable per epoch, without re-running anything.

    Epoch-keyed subdirectories written with mode("overwrite") make
    replays idempotent: a re-offered epoch overwrites its own output
    instead of appending duplicates (no marker file needed — the
    partition path IS the marker). Construction rolls the store's
    pending swap set forward: never build one while an offline job
    runs on the store."""
    from orestes_spark.operators import dedup as _d

    docs_path = f"{store}/docs"
    bands_path = f"{store}/bands"
    kgrams_path = f"{store}/kgrams"
    dsir_wq_path = f"{store}/dsir_wq"
    qmodel_path = f"{store}/quality_model"
    lm_path = f"{store}/bigram_lm"
    _recover_store(store)

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        batch = batch.select(id_col, text_col).dropDuplicates([id_col]).localCheckpoint()
        # Per-epoch gate observability (round-11, VERDICT r10 #3): when
        # any frozen-artifact quality gate is armed, record (gate,
        # n_scored, n_dropped) rows to <store>/gate_stats/epoch=<id> —
        # the measured signal text_gate_retrain_if's drift trigger
        # reads. Epoch-keyed overwrite = replay-idempotent, same as
        # every other sink here; cost is one tiny agg per armed gate
        # over the already-checkpointed scored frame.
        record_stats = (
            dsir_floor is not None
            or quality_floor is not None
            or ppl_ceiling is not None
        )
        stats_rows: list[tuple[str, int, int]] = []
        rej: list[DataFrame] = []

        def note_rejects(ids: DataFrame, reason: str) -> None:
            if rejects:
                rej.append(
                    ids.select(F.col(ids.columns[0]).alias(id_col))
                    .distinct()
                    .withColumn("reason", F.lit(reason))
                )

        n_in = batch.count() if record_stats else 0
        pairs_in = _d.minhash_lsh_dedup(
            batch, id_col, text_col, shingle_size, num_hashes, rows_per_band, threshold
        )
        in_drops = pairs_in.select(F.col("id_b").alias(id_col)).distinct()
        note_rejects(in_drops, "batch_neardup")
        kept = batch.join(in_drops, id_col, "left_anti")
        fs, base = _fs_and_path(spark, bands_path)
        if fs.exists(base):
            # Exclude THIS epoch's own partition from the index/corpus
            # reads: a replayed epoch may have written epoch=N before
            # the checkpoint committed, and dedup against its own
            # half-written output would empty `kept` and then
            # overwrite the epoch with nothing — silent data loss.
            # Replay must dedup against PRIOR epochs only and
            # regenerate its own partition from scratch. The epoch=N
            # directory name is a partition column under the root
            # read, so the filter prunes those files entirely.
            not_self = F.col("epoch") != epoch_id
            index = (
                spark.read.parquet(bands_path)
                .filter(not_self)
                .select("band", "bval", "_id")
            )
            corpus = (
                spark.read.parquet(docs_path)
                .filter(not_self)
                .select(id_col, text_col)
            )
            # Same-ID re-delivery first (at-least-once upstream
            # sources re-send accepted docs): incremental_neardup
            # requires disjoint id spaces — it drops same-id pairs as
            # self-matches — so an already-accepted id must be
            # filtered here or it would silently re-append.
            seen_ids = index.select(F.col("_id").alias(id_col)).distinct()
            note_rejects(kept.join(seen_ids, id_col, "left_semi"), "redelivery")
            kept = kept.join(seen_ids, id_col, "left_anti")
            pairs = _d.incremental_neardup(
                kept, corpus, index, id_col, text_col,
                shingle_size, num_hashes, rows_per_band, threshold,
            )
            cx_drops = pairs.select(F.col("id_new").alias(id_col)).distinct()
            note_rejects(cx_drops, "corpus_neardup")
            kept = kept.join(cx_drops, id_col, "left_anti")
        if span_k is not None:
            # Cut the lineage BEFORE the gate: it references `kept`
            # several times (batch k-grams twice, token counts, the
            # final anti-join), and each reference would otherwise
            # re-execute the whole minhash + incremental_neardup
            # subtree — the exact recompute the post-gate checkpoint
            # was added to prevent.
            kept = kept.localCheckpoint()
            kfs, kbase = _fs_and_path(spark, kgrams_path)
            dfs, dbase = _fs_and_path(spark, docs_path)
            if not kfs.exists(kbase) and dfs.exists(dbase):
                # Arming span_k on a PRE-EXISTING store: without a
                # backfill, every doc accepted before arming would be
                # invisible to the gate FOREVER (their k-grams never
                # got indexed) — copiers of the old corpus would sail
                # through silently. Backfill once into the epoch=-1
                # baseline (same convention as compaction; a replaying
                # batch never excludes it). Own-epoch rows are
                # excluded so a replay cannot self-gate.
                prior = (
                    spark.read.parquet(docs_path)
                    .filter(F.col("epoch") != epoch_id)
                    .select(id_col, text_col)
                )
                _write_epoch_atomic(
                    _d.span_index(prior, id_col, text_col, k=span_k, buckets=span_buckets),
                    f"{kgrams_path}/epoch=-1",
                    partition_by="hb" if span_buckets else None,
                )
            if kfs.exists(kbase):
                kdf = spark.read.parquet(kgrams_path)
                _d.check_tree_bucketing(
                    kdf, span_buckets, f"kgrams tree at {kgrams_path}",
                    "stop the stream and run compact_corpus_store(span_buckets=...)"
                    " to migrate the tree, then restart with matching settings",
                    error=RuntimeError,
                )
                kindex = kdf.filter(F.col("epoch") != epoch_id).select(
                    *[c for c in ("h", "hb", "nb", "kg") if c in kdf.columns]
                )
                spans = _d.incremental_repeated_spans(
                    kept, kindex, id_col, text_col, k=span_k, buckets=span_buckets
                )
                dup = spans.groupBy(id_col).agg(F.sum("span_len").alias("_dup"))
                ntok = kept.select(
                    id_col,
                    F.size(
                        F.split(_d.normalize_text(F.col(text_col)), r"\s+")
                    ).alias("_n"),
                )
                drops = (
                    ntok.join(dup, id_col)
                    .where(F.col("_dup") >= F.lit(span_max_frac) * F.col("_n"))
                    .select(id_col)
                )
                note_rejects(drops, "span_dup")
                kept = kept.join(drops, id_col, "left_anti")
        if dsir_floor is not None:
            from orestes_spark.operators import sampling as _s

            wfs, wbase = _fs_and_path(spark, dsir_wq_path)
            if not wfs.exists(wbase):
                raise RuntimeError(
                    f"dsir_floor is armed but no codebook exists at {dsir_wq_path};"
                    " run prepare_dsir_gate(target_docs, raw_docs, store) first —"
                    " a quality gate that silently passes everything is worse"
                    " than none"
                )
            # lineage cut for the same reason as the span gate: the
            # gate references `kept` twice (token stream + anti-join)
            kept = kept.localCheckpoint()
            wq = spark.read.parquet(dsir_wq_path)
            meta = wq.select("salt", "buckets", "bigrams").first()
            toks = _s._dsir_toks(kept, id_col, text_col, bool(meta["bigrams"]))
            scored = (
                toks.select(
                    "_id",
                    _s._hash_bucket(
                        F.col("tok"), meta["salt"], int(meta["buckets"])
                    ).alias("bucket"),
                )
                .join(F.broadcast(wq.select("bucket", "wq")), "bucket")
                .groupBy("_id")
                .agg((F.sum("wq") / F.count(F.lit(1)) / 1e9).alias("_mean_lr"))
            ).localCheckpoint()  # feeds the drop join AND the stats agg
            _cond = F.col("_mean_lr") < dsir_floor
            _st = scored.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(_cond, 1).otherwise(0)).alias("d"),
            ).first()
            stats_rows.append(("dsir", int(_st["n"]), int(_st["d"] or 0)))
            drops = scored.where(_cond).select(F.col("_id").alias(id_col))
            note_rejects(drops, "dsir")
            kept = kept.join(drops, id_col, "left_anti")
        if quality_floor is not None:
            # FIFTH modality (round-10): the MODEL-BASED quality gate.
            # dsir_floor judges distribution-closeness to a target
            # corpus; this one is the trained CLASSIFIER verdict
            # (reference-vs-crawl log-odds) — drop docs whose NB
            # log-odds under the FROZEN model falls below the floor
            # (floor 0.0 = the classifier's own keep boundary). Same
            # discipline as the DSIR gate: arming without preparing
            # raises; per-batch cost is one ~64 KiB broadcast join +
            # one integer groupBy(id); replay-idempotent because the
            # frozen model makes the verdict a pure function of the
            # document.
            from orestes_spark.operators import text as _t

            qfs, qbase = _fs_and_path(spark, qmodel_path)
            if not qfs.exists(qbase):
                raise RuntimeError(
                    f"quality_floor is armed but no model exists at"
                    f" {qmodel_path}; run prepare_quality_gate(docs, labels,"
                    " store) first — a quality gate that silently passes"
                    " everything is worse than none"
                )
            kept = kept.localCheckpoint()  # gate references kept twice
            scored = _t.score_quality_model(
                kept, spark.read.parquet(qmodel_path), id_col, text_col
            ).localCheckpoint()  # feeds the drop join AND the stats agg
            _cond = F.col("nb_logodds") < quality_floor
            _st = scored.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(_cond, 1).otherwise(0)).alias("d"),
            ).first()
            stats_rows.append(("quality", int(_st["n"]), int(_st["d"] or 0)))
            drops = scored.where(_cond).select(id_col)
            note_rejects(drops, "quality")
            kept = kept.join(drops, id_col, "left_anti")
        if ppl_ceiling is not None:
            # SIXTH modality: the PERPLEXITY gate. The classifier gate
            # judges reference-vs-crawl log-odds over hashed features;
            # this one is sequence fluency — drop docs whose average
            # negative log-likelihood under the FROZEN bigram LM
            # (prepare_ppl_gate) exceeds the ceiling, the CCNet tail
            # cut. Arming unprepared raises (same discipline as the
            # other quality gates); docs with < 2 tokens have no
            # bigrams and PASS (no evidence — the dsir gate's
            # zero-feature convention). Per-batch cost: one bounded
            # broadcast codebook join + one integer groupBy(id).
            from orestes_spark.operators import text as _t

            lfs, lbase = _fs_and_path(spark, f"{lm_path}/fb")
            if not lfs.exists(lbase):
                raise RuntimeError(
                    f"ppl_ceiling is armed but no bigram LM exists at"
                    f" {lm_path}; run prepare_ppl_gate(target_docs, store)"
                    " first — a quality gate that silently passes"
                    " everything is worse than none"
                )
            kept = kept.localCheckpoint()  # gate references kept twice
            vocab = {
                r["tok"]: r["id"]
                for r in spark.read.parquet(f"{lm_path}/vocab").collect()
            }
            model = (
                vocab,
                spark.read.parquet(f"{lm_path}/pairs"),
                spark.read.parquet(f"{lm_path}/fb"),
            )
            scored = _t.bigram_lm_nll(
                kept, None, id_col, text_col, model=model
            ).localCheckpoint()  # feeds the drop join AND the stats agg
            _cond = F.col("avg_nll") > ppl_ceiling
            _st = scored.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(_cond, 1).otherwise(0)).alias("d"),
            ).first()
            stats_rows.append(("ppl", int(_st["n"]), int(_st["d"] or 0)))
            drops = scored.where(_cond).select(id_col)
            note_rejects(drops, "ppl")
            kept = kept.join(drops, id_col, "left_anti")
        kept = kept.localCheckpoint()  # one compute, two/three sinks
        # stage-then-rename: each sink's epoch dir appears atomically
        # to concurrent readers (a reader can still observe docs'
        # epoch N before bands' — one-rename skew between sinks, the
        # documented residual; each sink alone is all-or-nothing)
        _write_epoch_atomic(kept, f"{docs_path}/epoch={epoch_id}")
        _write_epoch_atomic(
            _d.minhash_band_index(
                kept, id_col, text_col, shingle_size, num_hashes, rows_per_band
            ),
            f"{bands_path}/epoch={epoch_id}",
        )
        if span_k is not None:
            _write_epoch_atomic(
                _d.span_index(kept, id_col, text_col, k=span_k, buckets=span_buckets),
                f"{kgrams_path}/epoch={epoch_id}",
                partition_by="hb" if span_buckets else None,
            )
        if record_stats:
            stats_rows.append(("overall", n_in, n_in - kept.count()))
            _write_epoch_atomic(
                spark.createDataFrame(
                    stats_rows, "gate STRING, n_scored LONG, n_dropped LONG"
                ),
                f"{store}/gate_stats/epoch={epoch_id}",
            )
        if rejects:
            rejected = rej[0]
            for r in rej[1:]:
                rejected = rejected.unionByName(r)
            _write_epoch_atomic(rejected, f"{store}/rejects/epoch={epoch_id}")

    return process


def start_corpus_ingest(
    docs_stream: DataFrame,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    shingle_size: int = 3,
    num_hashes: int = 8,
    rows_per_band: int = 2,
    checkpoint: str | None = None,
    span_k: int | None = None,
    span_max_frac: float = 0.5,
    dsir_floor: float | None = None,
    span_buckets: int | None = None,
    quality_floor: float | None = None,
    ppl_ceiling: float | None = None,
    rejects: bool = False,
):
    """Continuous corpus construction with CROSS-BATCH near-dedup —
    see make_corpus_batch_processor for the per-batch algorithm, the
    optional ``span_k`` duplicated-text-fraction gate, the optional
    ``dsir_floor`` frozen-codebook quality gate, the optional
    ``quality_floor`` frozen-classifier gate (round-10), and the
    optional ``ppl_ceiling`` frozen-bigram-LM fluency gate.

    Delivery contract: epoch-keyed subdirectories written with
    mode("overwrite") make replays idempotent — a re-offered epoch
    overwrites its own output instead of appending duplicates (no
    marker file needed, the partition path IS the marker), and the
    index/corpus reads exclude the replaying epoch's own partition so
    a crash between the parquet writes and the checkpoint commit can
    never make the replay dedup the epoch against its own
    half-written output (which would silently empty it)."""
    process = make_corpus_batch_processor(
        store,
        id_col,
        text_col,
        threshold,
        shingle_size,
        num_hashes,
        rows_per_band,
        span_k,
        span_max_frac,
        dsir_floor,
        span_buckets,
        quality_floor,
        ppl_ceiling,
        rejects,
    )
    return (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint or f"{store}/_checkpoint")
        .start()
    )


def make_media_batch_processor(
    store: str,
    id_col: str = "media_id",
    content_col: str = "content",
    max_hamming: int = 3,
    bits: int = 64,
    band_bits: int = 16,
    modality: str = "image",
    min_matched: int = 2,
    index_buckets: int | None = None,
):
    """foreachBatch processor for continuous MEDIA ingest with
    cross-batch PERCEPTUAL dedup (round-11) — the dHash twin of the
    corpus stream's MinHash gate: each micro-batch of binary images is
    (a) near-deduped within itself (banded-Hamming pairs, greedy
    keep-min — the dedup_keep_list policy) and (b) probed against the
    durable banded signature index of everything accepted so far
    (``dedup.incremental_simhash_pairs`` — a re-encoded/resized copy
    of an indexed image never re-enters). Survivors append their
    media rows to ``<store>/media`` and their band rows
    (``dedup.simhash_band_index``) to ``<store>/phash_bands``.

    Replay/dedup contract is the corpus processor's verbatim:
    epoch-keyed partitions written atomically (stage-then-rename),
    index reads exclude the replaying epoch's own partition, and
    same-id re-deliveries drop against the index before the
    perceptual probe. Per-batch cost: one decode+dHash pass over the
    batch (8 bytes of signature per image thereafter — the payload
    never rides the dedup joins), one equi-join against the
    corpus-sized index. At 100 TB of images the index is
    |corpus| x 4 band rows of 24 bytes — TB-scale corpus, GB-scale
    index.

    Exactness caveat (ADVICE r11): the drop side is exact — pigeonhole
    banding + bit_count verify have no false negatives — ONLY while no
    band bucket exceeds the pair stages' ``max_bucket`` stop-key
    (default 10k); a batch whose every shared band is degenerate
    (e.g. millions of black frames) has those buckets dropped, and
    both pair stages log the cut when it happens.

    ``modality`` (round-12, VERDICT r11 #1 — completing the modality x
    streaming matrix): "image" is the banded-dHash path above;
    "video" and "audio" route to the ALIGNED-UNIT gate — per-frame
    dHash / per-window envelope RMS units (multimodal.video_frame_dhash
    / audio_envelope over the real decoded payloads), in-batch
    aligned_near_pairs keep-min, cross-batch
    incremental_aligned_pairs against the durable unit index at
    ``<store>/unit_sigs`` (a re-encoded/re-rendered copy of indexed
    media never re-enters; >= ``min_matched`` aligned units = a
    match, so 1-unit files never match anything). Replay/re-delivery
    contract identical; max_hamming/bits/band_bits apply to the image
    path only.

    ``index_buckets`` (round-13, VERDICT r12 #1 — the streaming twin
    of the batch span/minhash index bucket discipline): hash-range
    buckets the durable index on its probe key (xxhash64 of
    (band, bval) for images, (idx, sig) for aligned units) and writes
    each epoch ``partitionBy("hb")``; the per-batch probe then
    partition-prunes its index scan to the buckets the batch touches
    instead of reading the whole index per batch — the last
    O(corpus)-per-batch path in the streaming story. The layout must
    stay consistent per store (a mixed tree is unprunable and raises),
    like the corpus gate's ``span_buckets``."""
    if modality in ("video", "audio"):
        return _make_aligned_media_processor(
            store, id_col, content_col, modality, min_matched, index_buckets
        )
    if modality != "image":
        raise ValueError(
            f"unknown media modality {modality!r}: expected image, video,"
            " or audio"
        )
    from orestes_spark.operators import dedup as _d
    from orestes_spark.operators import multimodal as _mm

    media_path = f"{store}/media"
    bands_path = f"{store}/phash_bands"

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        batch = (
            batch.select(
                F.col(id_col).cast("long").alias("media_id"),
                F.col(content_col).alias("content"),
            )
            .dropDuplicates(["media_id"])
            .localCheckpoint()
        )
        sig = _mm.dhash_signatures(batch).localCheckpoint()
        pairs_in = _d.simhash_near_pairs(sig, max_hamming, bits, band_bits)
        kept_ids = sig.select("_id").join(
            pairs_in.select(F.col("id_b").alias("_id")).distinct(), "_id", "left_anti"
        )
        kept_sig = sig.join(kept_ids, "_id", "left_semi")
        fs, base = _fs_and_path(spark, bands_path)
        if fs.exists(base):
            index = spark.read.parquet(bands_path).filter(F.col("epoch") != epoch_id)
            _d.check_tree_bucketing(
                index, index_buckets, f"phash band index at {bands_path}",
                "keep index_buckets stable per store",
            )
            # same-id re-delivery first (at-least-once upstream)
            kept_sig = kept_sig.join(
                index.select("_id").distinct(), "_id", "left_anti"
            )
            pairs = _d.incremental_simhash_pairs(
                kept_sig, index, max_hamming, bits, band_bits, buckets=index_buckets
            )
            kept_sig = kept_sig.join(
                pairs.select(F.col("id_new").alias("_id")).distinct(),
                "_id",
                "left_anti",
            )
        kept_sig = kept_sig.localCheckpoint()  # one compute, two sinks
        kept_media = batch.join(
            kept_sig.select(F.col("_id").alias("media_id")), "media_id", "left_semi"
        )
        _write_epoch_atomic(kept_media, f"{media_path}/epoch={epoch_id}")
        _write_epoch_atomic(
            _d.simhash_band_index(kept_sig, bits, band_bits, buckets=index_buckets),
            f"{bands_path}/epoch={epoch_id}",
            partition_by="hb" if index_buckets else None,
        )

    return process


def _make_aligned_media_processor(
    store: str,
    id_col: str,
    content_col: str,
    modality: str,
    min_matched: int,
    index_buckets: int | None = None,
):
    """The aligned-unit media gate behind make_media_batch_processor's
    video/audio modalities (round-12): unit signatures — per-frame
    dHash64 or per-window envelope RMS, both from REAL decoded
    payloads — are this gate's whole dedup state, 12-16 bytes per
    unit. Survivors append media rows to ``<store>/media`` and unit
    rows to ``<store>/unit_sigs``; the durable unit index is what
    every later batch probes (multimodal.incremental_aligned_pairs:
    one equi-join on (idx, sig) — signature equality IS the band — so
    per-batch cost never touches corpus payload bytes). Epoch-atomic
    writes, replaying-epoch exclusion, and same-id re-delivery drops
    are the image path's contract verbatim. At 100 TB of video the
    unit index is |frames| x 16 B — TB-scale corpus, tens-of-GB-scale
    index, partitionable by epoch exactly like the band trees."""
    from orestes_spark.operators import dedup as _d
    from orestes_spark.operators import multimodal as _mm

    idx_col, sig_col = (
        ("frame_idx", "simhash") if modality == "video" else ("win_idx", "rms")
    )
    unit_fn = (
        _mm.video_frame_dhash if modality == "video" else _mm.audio_envelope
    )
    media_path = f"{store}/media"
    units_path = f"{store}/unit_sigs"

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        batch = (
            batch.select(
                F.col(id_col).cast("long").alias("media_id"),
                F.col(content_col).alias("content"),
            )
            .dropDuplicates(["media_id"])
            .localCheckpoint()
        )
        units = unit_fn(batch).localCheckpoint()
        pairs_in = _mm.aligned_near_pairs(units, idx_col, sig_col, min_matched)
        kept_ids = units.select("media_id").distinct().join(
            pairs_in.select(F.col("id_b").alias("media_id")).distinct(),
            "media_id",
            "left_anti",
        )
        kept_units = units.join(kept_ids, "media_id", "left_semi")
        fs, base = _fs_and_path(spark, units_path)
        if fs.exists(base):
            index = spark.read.parquet(units_path).filter(
                F.col("epoch") != epoch_id
            )
            _d.check_tree_bucketing(
                index, index_buckets, f"unit index at {units_path}",
                "keep index_buckets stable per store",
            )
            # same-id re-delivery first (at-least-once upstream)
            kept_units = kept_units.join(
                index.select("media_id").distinct(), "media_id", "left_anti"
            )
            pairs = _mm.incremental_aligned_pairs(
                kept_units, index, idx_col, sig_col, min_matched,
                buckets=index_buckets,
            )
            kept_units = kept_units.join(
                pairs.select(F.col("id_new").alias("media_id")).distinct(),
                "media_id",
                "left_anti",
            )
        kept_units = kept_units.localCheckpoint()  # one compute, two sinks
        kept_media = batch.join(
            kept_units.select("media_id").distinct(), "media_id", "left_semi"
        )
        _write_epoch_atomic(kept_media, f"{media_path}/epoch={epoch_id}")
        _write_epoch_atomic(
            _mm.unit_bucketize(kept_units, idx_col, sig_col, index_buckets)
            if index_buckets
            else kept_units,
            f"{units_path}/epoch={epoch_id}",
            partition_by="hb" if index_buckets else None,
        )

    return process


def start_media_ingest(
    media_stream: DataFrame,
    store: str,
    id_col: str = "media_id",
    content_col: str = "content",
    max_hamming: int = 3,
    checkpoint: str | None = None,
    modality: str = "image",
    min_matched: int = 2,
):
    """Continuous media-corpus construction with cross-batch
    perceptual dedup — see make_media_batch_processor (``modality``
    picks the image banded-dHash gate or the video/audio aligned-unit
    gate). Same delivery contract as start_corpus_ingest (epoch-keyed
    overwrite partitions, replay-safe index reads)."""
    process = make_media_batch_processor(
        store, id_col, content_col, max_hamming,
        modality=modality, min_matched=min_matched,
    )
    return (
        media_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint or f"{store}/_checkpoint")
        .start()
    )


def streaming_sessionize(
    points: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    time_col: str = "ts",
    key_cols: tuple[str, ...] = ("user_id",),
) -> DataFrame:
    """Event-time sessionization with ``session_window``: sessions close
    when no event arrives within ``gap``; late events beyond the
    watermark are dropped. Output: (session_window, *key_cols, n_events,
    sum_value) — the streaming twin of the batch lag+cumsum
    sessionization query."""
    return (
        points.withWatermark(time_col, watermark)
        .groupBy(F.session_window(F.col(time_col), gap), *key_cols)
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
    )


def make_embedding_batch_processor(
    store: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    threshold: float = 0.35,
    quantize: int | None = 1000,
    kernel: str = "expr",
    bootstrap_k: int = 8,
    auto_requantize_cell_rows: int | None = None,
):
    """foreachBatch processor for continuous EMBEDDING ingest with
    cross-batch semantic dedup — the SemDeDup twin of
    ``make_corpus_batch_processor``'s MinHash gate.

    ``auto_requantize_cell_rows`` arms the self-healing quantizer
    policy (round-8; the embedding-store mirror of
    ``auto_compact_files``): after each committed epoch,
    ``requantize_if`` checks per-cell occupancy from the store's own
    partition stats and — when a drifting stream has grown any cell
    past the cap — re-trains the quantizer offline IN the epoch gap
    (foreachBatch is serial, so the processor is the single writer
    between epochs, the same slot ``compact_if`` uses). POSIX stores
    only, like the manual job it calls.

    Quantizer contract: the coarse quantizer is FROZEN on the first
    batch and persisted at ``<store>/cents`` — label-centroid sums
    when ``label_col`` names a column, or a TRAINED
    ``similarity.kmeans_cosine`` quantizer with ``bootstrap_k`` cells
    when ``label_col=None`` (unlabeled streams; the stored ``label``
    column then carries the cell id). A bootstrap that freezes fewer
    than two cells warns loudly (one cell = every future pair
    compared — O(|batch| × corpus) per epoch until requantized).
    Every later batch assigns against the same cells, so the
    keep-lowest greedy rule stays exact w.r.t. that quantizer and
    per-batch work stays batch-sized (no per-epoch re-aggregation of
    a growing index; re-quantizing a drifted corpus is an offline
    compaction-style job, same operational slot as
    ``auto_compact_files``). Accepted vectors land as semantic-index
    rows (id, label, quantized vec, cluster) under
    ``<store>/vecs/epoch=N`` — exactly the persisted-index layout
    ``incremental_semantic_dedup`` consumes, shared with the batch
    pipeline.

    Per batch: same-id re-deliveries are dropped against the index
    (at-least-once upstream), then one ``incremental_semantic_dedup``
    call handles both in-batch pairs and batch-vs-index pairs on
    cell-local joins. Replay safety mirrors the corpus processor:
    epoch-keyed partitions written with overwrite, index/id reads
    exclude the replaying epoch's own partition.

    ``kernel='arrow'`` swaps in the GEMM fast path
    (``incremental_semantic_dedup_arrow`` — same rules, same output);
    use it once cells grow hot. Per-epoch cost is
    O(|batch| x cell-local index rows) plus one column-pruned
    map-side scan of the index's id column (the re-delivery gate —
    no corpus shuffle) under EITHER kernel — the
    frozen k must be sized for the expected corpus (cells ~ bounded),
    or the corpus periodically re-quantized offline with a finer
    trained quantizer (``similarity.kmeans_cosine``); see the
    SCALING.md soak for the measured growth when k is too coarse.
    Construction rolls the store's pending swap set forward: never
    build one while an offline job runs on the store."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from orestes_spark.operators import similarity as _s

    vecs_path = f"{store}/vecs"
    cents_path = f"{store}/cents"
    meta_path = f"{store}/meta"
    meta_checked = [False]
    cells_checked = [False]
    _recover_store(store)

    def _check_meta(spark) -> None:
        """The gate's semantics live in (threshold, quantize, labeled):
        a restart with different values would silently change what the
        store means (vectors accepted under one rule, judged under
        another). The bootstrap persists them as a one-row parquet;
        every later processor instance verifies ONCE and refuses a
        mismatch loudly. Stores predating the meta table get it
        backfilled from the current params (documented upgrade)."""
        fs, mbase = _fs_and_path(spark, meta_path)
        mine = (float(threshold), quantize if quantize is None else int(quantize), label_col is not None)
        if fs.exists(mbase):
            row = spark.read.parquet(meta_path).first()
            stored = (
                float(row["threshold"]),
                None if row["quantize"] is None else int(row["quantize"]),
                bool(row["labeled"]),
            )
            if stored != mine:
                raise RuntimeError(
                    f"embedding store {store!r} was built with"
                    f" (threshold, quantize, labeled)={stored} but this"
                    f" processor was constructed with {mine} — a silent"
                    " semantics change. Use the stored params, or rebuild"
                    " the store."
                )
        else:
            # stage-then-rename: a crash mid-write must not leave a
            # half-created meta/ dir that exists() would treat as
            # committed on restart (unrecoverable read-crash loop)
            _write_epoch_atomic(
                spark.createDataFrame(
                    [mine], "threshold DOUBLE, quantize BIGINT, labeled BOOLEAN"
                ),
                meta_path,
            )
        meta_checked[0] = True

    def process(batch: DataFrame, epoch_id: int) -> None:
        spark = batch.sparkSession
        cols = [id_col, label_col, vec_col] if label_col else [id_col, vec_col]
        batch = batch.select(*cols).dropDuplicates([id_col]).localCheckpoint()
        if not batch.take(1):
            # An empty micro-batch must not reach the bootstrap: it
            # would freeze an EMPTY quantizer, and every later batch
            # would assign against zero centroids and be dropped
            # whole. (Epoch emits no partition; replay is a no-op.)
            return
        if not meta_checked[0]:
            _check_meta(spark)
        fs, cbase = _fs_and_path(spark, cents_path)
        if not fs.exists(cbase):
            # bootstrap: freeze the quantizer on the first batch (a
            # replay recomputes the identical table from the same
            # epoch-0 data, so the crash window is idempotent)
            if label_col is None:
                assign = _s.kmeans_cosine(
                    batch, id_col=id_col, vec_col=vec_col, k=bootstrap_k, quantize=quantize
                )
                boot = _s.semantic_index_centroids(
                    batch.join(assign, id_col).select(
                        F.col("cluster").alias("label"),
                        _s.quantized(F.col(vec_col), quantize).alias("vec"),
                    )
                )
            else:
                boot = _s.label_centroid_sums(batch, id_col, vec_col, label_col, quantize)
            # same stage-then-rename as meta: a half-written cents/
            # would wedge every restart behind the exists() gate
            _write_epoch_atomic(boot, cents_path)
        cents = spark.read.parquet(cents_path)
        if not cells_checked[0]:
            # once per processor instance — the quantizer is frozen,
            # so re-counting the k-row table every epoch is pure waste
            cells_checked[0] = True
            n_cells = cents.count()
            if n_cells < 2:
                import warnings

                warnings.warn(
                    f"embedding ingest at {store!r}: quantizer has {n_cells} cell(s) —"
                    " every pair lands in one cell, so per-epoch dedup cost is"
                    " O(|batch| x corpus). Re-quantize offline"
                    " (requantize_embedding_store) with more cells.",
                    RuntimeWarning,
                    stacklevel=2,
                )
        vfs, vbase = _fs_and_path(spark, vecs_path)
        if vfs.exists(vbase):
            index = (
                spark.read.parquet(vecs_path)
                .filter(F.col("epoch") != epoch_id)
                .select(id_col, "vec", "cluster")
            )
            # Same-id re-delivery gate. Shape matters: a direct
            # left_anti against the index would shuffle the CORPUS id
            # set every epoch (anti-joins only broadcast their right
            # side). Instead, semi-join the index's id column against
            # the broadcast batch (map-side scan, ≤ |batch| rows out),
            # then anti-join the batch against that small hit set —
            # per-epoch cost is one column-pruned map-side id scan,
            # no corpus shuffle.
            redelivered = index.select(id_col).join(
                F.broadcast(batch.select(id_col)), id_col, "left_semi"
            )
            batch = batch.join(F.broadcast(redelivered), id_col, "left_anti")
        else:
            elem = LongType() if quantize is not None else DoubleType()
            b_schema = {f.name: f.dataType for f in batch.schema.fields}
            # cluster type: the label column's when labels drive the
            # cells; the id column's under a trained bootstrap (kmeans
            # cells are id-residue-typed)
            cluster_t = b_schema[label_col] if label_col else b_schema[id_col]
            index = spark.createDataFrame(
                [],
                StructType(
                    [
                        StructField(id_col, b_schema[id_col]),
                        StructField("vec", ArrayType(elem)),
                        StructField("cluster", cluster_t),
                    ]
                ),
            )
        dedup_fn = (
            _s.incremental_semantic_dedup_arrow
            if kernel == "arrow"
            else _s.incremental_semantic_dedup
        )
        res = dedup_fn(batch, index, id_col, vec_col, threshold, quantize, cents=cents)
        label_expr = (
            F.col(label_col).alias("label") if label_col else F.col("cluster").alias("label")
        )
        kept = batch.join(res.where(F.col("kept")).select(id_col, "cluster"), id_col).select(
            F.col(id_col),
            label_expr,
            _s.quantized(F.col(vec_col), quantize).alias("vec"),
            "cluster",
        )
        # cluster-PARTITIONED within the epoch: the per-batch index
        # read filters cluster ∈ batch-cells, and with cluster as a
        # partition column that isin is partition PRUNING at the scan
        # — a small batch over a huge index reads a handful of cells,
        # not the corpus (same layout contract as the batch
        # pipeline's persisted index; _prune_index_cells handles the
        # partition-inference type flip). The epoch×cluster dir
        # fan-out is the small-files pressure the compaction slot
        # already owns (see auto_compact_files / SCALING.md). The
        # epoch dir lands via stage-then-rename, so a concurrent
        # reader never sees a partial epoch.
        _write_epoch_atomic(
            kept, f"{vecs_path}/epoch={epoch_id}", partition_by="cluster"
        )
        if auto_requantize_cell_rows is not None:
            requantize_if(
                spark, store, max_cell_rows=auto_requantize_cell_rows, id_col=id_col
            )

    return process


def start_embedding_ingest(
    vec_stream: DataFrame,
    store: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    threshold: float = 0.35,
    quantize: int | None = 1000,
    checkpoint: str | None = None,
    kernel: str = "expr",
    bootstrap_k: int = 8,
    auto_requantize_cell_rows: int | None = None,
) -> StreamingQuery:
    """Continuous embedding ingest with cross-batch SEMANTIC dedup —
    see make_embedding_batch_processor for the per-batch algorithm and
    the frozen-quantizer / replay contract (and the
    ``auto_requantize_cell_rows`` self-healing quantizer policy). The
    accepted-vector store is a valid ``semantic_index`` (plus an epoch
    partition column), so batch consumers (emb_incremental_semdedup
    et al.) read it directly."""
    process = make_embedding_batch_processor(
        store,
        id_col,
        vec_col,
        label_col,
        threshold,
        quantize,
        kernel,
        bootstrap_k,
        auto_requantize_cell_rows,
    )
    return (
        vec_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint or f"{store}/_checkpoint")
        .start()
    )


def requantize_embedding_store(
    spark,
    store: str,
    k: int,
    iters: int = 2,
    id_col: str = "vec_id",
) -> dict:
    """Offline re-quantization of a ``start_embedding_ingest`` store —
    the documented fix for a frozen quantizer the corpus has outgrown
    (per-epoch dedup cost is O(|batch| x cell rows); see SCALING.md).

    Retrains a Lloyd k-means quantizer (``similarity.kmeans_cosine``)
    on ALL accepted vectors, reassigns every stored row to the new
    cells, collapses the epoch partitions into one ``epoch=-1``
    baseline (real epoch ids are >= 0, so the baseline is never
    excluded as 'own epoch' by a replaying batch), and swaps both
    trees in: new centroid-sum table at ``<store>/cents``, new
    cluster-partitioned rows at ``<store>/vecs``. Stored vectors pass
    through untouched (same integer arrays), and the new cents are
    exact integer sums over the final assignment — the same
    frozen-quantizer contract as bootstrap, just with earned cells.

    Single-writer contract: run with the stream STOPPED (the same
    operational slot as engine compaction). Both trees are written
    under ``<store>/.requant`` and swap in as one ``swap_set``.

    Returns {"rows": n, "cells": m} for the rewritten store."""
    from orestes_spark.operators import similarity as _s

    store = _require_posix_store(store, "requantize_embedding_store")
    _recover_store(store)
    tmp = Path(store, ".requant")
    shutil.rmtree(tmp, ignore_errors=True)  # no intent named it: never committed
    vecs = spark.read.parquet(f"{store}/vecs").select(id_col, "label", "vec").localCheckpoint()
    assign = _s.kmeans_cosine(vecs, id_col=id_col, vec_col="vec", k=k, iters=iters)
    rows = vecs.join(assign, id_col)
    # Unlabeled stores (meta.labeled = false) carry the CELL ID in the
    # label column — rewriting them with the old cells next to the new
    # cluster would silently hand consumers stale coarse cells. Labeled
    # stores keep their semantic labels untouched.
    meta_path = f"{store}/meta"
    if os.path.exists(meta_path):
        mrow = spark.read.parquet(meta_path).first()
        if mrow is not None and not bool(mrow["labeled"]):
            rows = rows.withColumn("label", F.col("cluster"))
    rows = rows.localCheckpoint()  # one compute, two sinks
    rows.write.partitionBy("cluster").parquet(f"{tmp}/vecs/epoch=-1")
    _s.semantic_index_centroids(
        rows.select(F.col("cluster").alias("label"), "vec")
    ).write.parquet(f"{tmp}/cents")
    n_rows = rows.count()
    n_cells = rows.select("cluster").distinct().count()
    POSIX_BACKEND.swap_set(Path(store), [(t, f"{tmp.name}/{t}") for t in ("vecs", "cents")])
    shutil.rmtree(tmp)
    return {"rows": n_rows, "cells": n_cells}


def requantize_if(
    spark,
    store: str,
    max_cell_rows: int,
    k: int | None = None,
    iters: int = 2,
    id_col: str = "vec_id",
) -> dict:
    """Self-healing quantizer policy (the embedding-store mirror of
    ``OrestesEngine.compact_if``): re-quantize ONLY when the store's
    own stats say a cell outgrew ``max_cell_rows`` — the skew signal
    that per-epoch dedup cost (O(|batch| x hottest-cell rows)) has
    left the flat band. The common no-op case is one column-pruned
    count over the ``cluster`` PARTITION column (answered from
    parquet footers/partition dirs — no data pages) and zero
    rewrites.

    When the trigger trips, the new cell count is chosen so the mean
    occupancy lands at half the cap (headroom before the next trip),
    never below the current cell count: ``k = max(2, cells,
    ceil(2 * rows / max_cell_rows))`` — deterministic from store
    state, so an auto-triggered requantize and a manual
    ``requantize_embedding_store`` call at the same epoch boundary
    produce byte-identical stores (the soak in
    tools/requantize_soak.py asserts exactly this). Same
    single-writer contract as the manual job: call it with the
    stream stopped, or from inside the foreachBatch epoch gap (what
    ``auto_requantize_cell_rows`` does).

    Returns {} when no cell is over the cap, else the manual job's
    {"rows", "cells"} plus the trigger evidence
    {"hot_cells", "k"}."""
    import math

    counts = [
        (r["cluster"], r["n"])
        for r in spark.read.parquet(f"{store}/vecs")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    hot = sorted(c for c, n in counts if n > max_cell_rows)
    if not hot:
        return {}
    total = sum(n for _, n in counts)
    new_k = k or max(2, len(counts), math.ceil(2 * total / max_cell_rows))
    res = requantize_embedding_store(spark, store, k=new_k, iters=iters, id_col=id_col)
    return {"hot_cells": hot, "k": new_k, **res}


def _require_posix_store(store: str, who: str) -> str:
    """Normalize a local store path, refusing remote URIs loudly: the
    offline-job swaps below are rename-based (everything STREAMING
    goes through the Hadoop FS API and works anywhere), so a remote
    store would pass the Spark writes and then die at the rename —
    the same POSIX boundary and pointer as the engine's
    _require_posix_warehouse."""
    low = store.lower()
    if low.startswith("file:"):
        # strip ONLY an empty authority: file:/p and file:///p are the
        # local path /p, but file://host/p names a REMOTE authority
        rest = store[len("file://"):] if low.startswith("file://") else store[len("file:"):]
        if rest.startswith("/"):
            return rest
    elif not re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*:", store):
        return store
    raise RuntimeError(
        f"{who} needs a POSIX-rename store, got {store!r} — run it against"
        " a local/NFS mount, or port commit_backend.PosixCommitBackend.swap_set"
        " to its store"
    )


def _recover_store(store: str) -> None:
    """Crash recovery when a job or a batch processor opens a corpus or
    embedding store: roll a pending swap set forward (each job discards
    its own uncommitted staging tree). The swaps are rename-based, so
    only a POSIX store can carry an intent."""
    try:
        root = Path(_require_posix_store(store, "store recovery"))
    except RuntimeError:
        return  # a remote store
    POSIX_BACKEND.recover_swap_set(root)


def compact_corpus_store(
    spark,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_buckets: int | None = None,
) -> dict:
    """Offline compaction for a ``start_corpus_ingest`` store: collapse
    the per-epoch docs/bands partitions into one ``epoch=-1`` baseline
    each (real epoch ids are >= 0, so a replaying batch never excludes
    the baseline as 'own epoch'). This is the small-files fix for
    long-running corpus streams — N epochs × band files shrink to one
    compacted tree per sink, same operational slot as the engine's
    ``auto_compact_files`` and the embedding store's
    ``requantize_embedding_store`` (which compacts as a side effect).
    Dedup state is untouched: the band index rows are rewritten
    verbatim, so the gate accepts/rejects exactly as before.

    Single-writer contract (stream stopped); crash safety identical to
    requantize: full staging write, then one ``swap_set``.

    Stores whose stream armed the ``span_k`` gate also carry a
    ``<store>/kgrams`` epoch tree; its partitions collapse to one
    DISTINCT-deduped ``epoch=-1`` baseline the same way (epochs can
    legitimately repeat a hash — distinct docs sharing a window — so
    compaction is also the dedup pass the per-epoch layout defers).
    ``span_buckets`` rewrites that baseline hash-range-bucketed
    (hb/nb, partitionBy) — the MIGRATION path for arming or changing
    a stream's ``span_buckets``: the whole tree becomes one
    consistent layout in one compaction; omit it to write (or revert
    to) the unbucketed layout.

    Returns {"docs": n, "bands": m} (+ "kgrams" when present)."""
    store = _require_posix_store(store, "compact_corpus_store")
    _recover_store(store)
    docs_path, bands_path = f"{store}/docs", f"{store}/bands"
    kgrams_path = f"{store}/kgrams"
    has_kgrams = os.path.exists(kgrams_path)
    tmp = Path(store, ".compact")
    shutil.rmtree(tmp, ignore_errors=True)  # no intent named it: never committed
    docs = spark.read.parquet(docs_path).select(id_col, text_col).localCheckpoint()
    bands = spark.read.parquet(bands_path).select("band", "bval", "_id").localCheckpoint()
    docs.write.parquet(f"{tmp}/docs/epoch=-1")
    bands.write.parquet(f"{tmp}/bands/epoch=-1")
    n_docs, n_bands = docs.count(), bands.count()
    out = {"docs": n_docs, "bands": n_bands}
    if has_kgrams:
        from orestes_spark.operators import dedup as _d

        kg_src = spark.read.parquet(kgrams_path)
        kgrams = kg_src.select("h").distinct().localCheckpoint()
        # preserve the self-describing k-gram size (round-12): the
        # compacted baseline must keep validating probes' k. A
        # mid-migration tree may hold pre-kg epochs (nulls) — one
        # surviving value is the stream's k; two distinct ones is real
        # corruption and raises, not compacts. The tree's moduli are
        # not checked: compaction is the rebucket path.
        kg = _d.check_layout(kg_src.drop("nb"), "corpus store kgrams tree")["kg"]
        if kg is not None:
            kgrams = kgrams.withColumn("kg", F.lit(kg))
        if span_buckets:
            # migration/rebucket path (round-9): the compacted baseline
            # is written hash-range-bucketed with the self-describing
            # modulus, so a stream restarted with span_buckets=N probes
            # it partition-pruned — and an unbucketed (or differently
            # bucketed) tree becomes consistent in one compaction.
            (
                _d.bucketize(kgrams, "h", span_buckets)
                .write.partitionBy("hb")
                .parquet(f"{tmp}/kgrams/epoch=-1")
            )
        else:
            kgrams.write.parquet(f"{tmp}/kgrams/epoch=-1")
        out["kgrams"] = kgrams.count()
    trees = ["docs", "bands"] + (["kgrams"] if has_kgrams else [])
    POSIX_BACKEND.swap_set(Path(store), [(t, f"{tmp.name}/{t}") for t in trees])
    shutil.rmtree(tmp)
    return out
