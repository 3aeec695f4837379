"""Structured Streaming ingest tests: stream two micro-batches through
start_ingest and assert the warehouse state equals a batch write of the
same points; plus watermark/rollup semantics."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from orestes_spark.streaming import start_ingest, streaming_rollup
from orestes_spark.streaming.ingest import RAW_DDL

START = 1_700_000_000_000


def _raw_rows(n, offset=0, tag="a"):
    return [
        (str(START + (offset + i) * 1000), float(i), {"host": tag, "idx": str(i % 3)})
        for i in range(n)
    ]


def test_streaming_ingest_matches_batch(spark, engine, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()
    errors_path = str(tmp_path / "errors")

    # batch 1 on disk before the query starts; batch 2 appended after.
    spark.createDataFrame(_raw_rows(20), RAW_DDL).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(RAW_DDL).parquet(str(src))
    q = start_ingest(
        engine, stream, checkpoint=str(tmp_path / "ckpt"), errors_path=errors_path
    )
    q.processAllAvailable()
    spark.createDataFrame(
        _raw_rows(20, offset=20, tag="b") + [("not-a-time", 1.0, {"host": "x"})], RAW_DDL
    ).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop()

    flat = engine.read(None, "default", 0, START + 10**9, grouped=False)
    assert flat.count() == 40
    # series metadata deduped across micro-batches (D2)
    series = engine.get_stream_list(None, "default", 0, START + 10**9)
    assert series.count() == 6  # 2 hosts x 3 idx
    # the bad point landed in the errors sink with the reference string
    errs = spark.read.parquet(errors_path)
    assert errs.count() == 1
    assert errs.first()["error"] == 'missing required keys: ["time"]'


def test_replayed_epoch_is_skipped(spark, engine, tmp_path):
    """foreachBatch replay safety: re-offering a committed epoch (the
    restart case) must be a no-op, not a duplicate append."""
    from orestes_spark.streaming.ingest import make_batch_processor

    process = make_batch_processor(
        engine, "default", epochs_dir=str(tmp_path / "epochs")
    )
    batch = spark.createDataFrame(_raw_rows(10), RAW_DDL)
    process(batch, 0)
    assert engine.read(None, "default", 0, START + 10**9, grouped=False).count() == 10
    process(batch, 0)  # replay of committed epoch → skipped
    assert engine.read(None, "default", 0, START + 10**9, grouped=False).count() == 10
    process(batch, 1)  # a NEW epoch with the same data still appends...
    # ...as a second DELIVERY (both stored), but the read merges the
    # re-delivered (series, time) keys — upsert semantics, one row each.
    assert engine._read_points("default").count() == 20
    assert engine.read(None, "default", 0, START + 10**9, grouped=False).count() == 10


def test_rollup_replay_cannot_inflate(spark, tmp_path):
    """Mid-epoch-crash replay safety for the continuous aggregate: the
    first attempt's sinks all land but the commit marker does not
    (crash window), and the epoch is re-offered. The replay overwrites
    its own epoch-keyed rollup partials instead of appending a second
    copy, so read_rollup equals the batch oracle with NO rebuild_rollup
    call — the exactly-once-per-epoch rollup contract."""
    from orestes_spark import validation
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine
    from orestes_spark.streaming.ingest import canonicalize, make_batch_processor

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark,
        str(tmp_path / "wh_roll"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    process = make_batch_processor(
        eng, "default", epochs_dir=str(tmp_path / "epochs")
    )
    batch = spark.createDataFrame(_raw_rows(20), RAW_DDL)
    # first attempt: all three sinks commit, marker never written
    valid, _ = validation.split_valid(canonicalize(batch))
    eng._append(valid, "default", epoch_id=7)
    # restart → foreachBatch re-offers epoch 7; no marker → full rerun
    process(batch, 7)

    lo = START // HOUR * HOUR
    roll = eng.read_rollup(None, "default", lo, lo + 24 * HOUR)
    agg = roll.agg(F.sum("n").alias("n"), F.sum("sum_value").alias("s")).first()
    # batch oracle: 20 points, sum of values 0..19 = 190 — NOT doubled
    assert agg["n"] == 20
    assert float(agg["s"]) == 190.0
    # the points side is ALSO exactly-once now (staged epoch commit):
    # the replay swept the crashed attempt's files before re-moving,
    # so the raw store holds one physical copy.
    assert eng._read_points("default").count() == 20
    assert eng.read(None, "default", 0, START + 10**9, grouped=False).count() == 20
    # a committed-epoch replay stays a full no-op
    process(batch, 7)
    roll2 = eng.read_rollup(None, "default", lo, lo + 24 * HOUR)
    assert roll2.agg(F.sum("n")).first()[0] == 20


def test_auto_compaction_policy_self_heals_small_files(spark, tmp_path):
    """auto_compact_files wires stats()→compact_if into the ingest
    loop: micro-batch appends fragment the bucket past the threshold,
    the post-commit policy rewrites it, and the data is identical.
    Below the threshold the policy is a no-op (returns {})."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine
    from orestes_spark.streaming.ingest import make_batch_processor

    eng = OrestesEngine(
        spark, str(tmp_path / "wh_ac"), spaces={"default": SpaceConfig(1)}
    )
    threshold = 4
    process = make_batch_processor(
        eng,
        "default",
        epochs_dir=str(tmp_path / "epochs_ac"),
        auto_compact_files=threshold,
    )
    # every batch lands in the same day-bucket → files accumulate there
    n_batches, per_batch = 6, 5
    for e in range(n_batches):
        process(
            spark.createDataFrame(_raw_rows(per_batch, offset=e * per_batch), RAW_DDL),
            e,
        )
    st = eng.stats("default")
    assert len(st["points"]) == 1  # single bucket by construction
    (bucket_stats,) = st["points"].values()
    assert bucket_stats["files"] <= threshold, st
    flat = eng.read(None, "default", 0, START + 10**9, grouped=False)
    assert flat.count() == n_batches * per_batch
    assert flat.agg(F.countDistinct("time_ms")).first()[0] == n_batches * per_batch
    # healthy warehouse → policy is a pure-listing no-op
    assert eng.compact_if("default", max_files=threshold) == {}


def test_streaming_series_dedup_no_duplicate_metadata(spark, engine, tmp_path):
    src = tmp_path / "s2"
    src.mkdir()
    # same series in both batches → series table must hold it once per bucket
    spark.createDataFrame(_raw_rows(5), RAW_DDL).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(RAW_DDL).parquet(str(src))
    q = start_ingest(engine, stream, checkpoint=str(tmp_path / "ckpt2"))
    q.processAllAvailable()
    spark.createDataFrame(_raw_rows(5), RAW_DDL).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop()
    series_raw = engine._read_series("default")
    assert (
        series_raw.groupBy("bucket", "series_id").count().where(F.col("count") > 1).count() == 0
    )


def test_streaming_rollup_watermark(spark, tmp_path):
    src = tmp_path / "s3"
    rows = [
        (1, "2024-01-01 00:01:00", 1.0),
        (2, "2024-01-01 00:02:00", 2.0),
        (3, "2024-01-01 00:07:00", 3.0),
        (4, "2024-01-01 01:00:00", 4.0),  # advances watermark far past the others
    ]
    ddl = "id LONG, ts_s STRING, value DOUBLE"
    spark.createDataFrame(rows, ddl).write.parquet(str(src))
    stream = (
        spark.readStream.schema(ddl)
        .parquet(str(src))
        .withColumn("ts", F.to_timestamp("ts_s"))
    )
    agg = streaming_rollup(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("rollup_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = {
        (r["window"]["start"].isoformat(), r["n"], r["sum_value"])
        for r in spark.sql("SELECT * FROM rollup_out").collect()
    }
    # windows sealed by the watermark: [00:00,00:05) n=2 sum=3, [00:05,00:10) n=1 sum=3
    assert ("2024-01-01T00:00:00", 2, 3.0) in out
    assert ("2024-01-01T00:05:00", 1, 3.0) in out


def test_stateful_series_stats(spark, tmp_path):
    from orestes_spark.streaming.stateful import series_stats_stream

    src = tmp_path / "s4"
    ddl = "series_id STRING, time_ms LONG, value DOUBLE"
    spark.createDataFrame(
        [("a", 1000, 1.0), ("a", 2000, 3.0), ("b", 1000, 5.0)], ddl
    ).write.parquet(str(src))
    stream = spark.readStream.schema(ddl).parquet(str(src))
    q = (
        series_stats_stream(stream)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("stats_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    # second micro-batch must ACCUMULATE into existing state
    spark.createDataFrame([("a", 5000, 10.0)], ddl).write.mode("append").parquet(str(src))
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY series_id ORDER BY last_time_ms DESC) rn FROM stats_out) WHERE rn = 1"
    ).collect()
    stats = {r["series_id"]: (r["count"], r["sum"], r["min"], r["max"], r["last_time_ms"]) for r in rows}
    assert stats["a"] == (3, 14.0, 1.0, 10.0, 5000)
    assert stats["b"] == (1, 5.0, 5.0, 5.0, 1000)


def test_streaming_sessionize(spark, tmp_path):
    from orestes_spark.streaming.ingest import streaming_sessionize

    src = tmp_path / "s5"
    ddl = "user_id LONG, ts_s STRING, value DOUBLE"
    rows = [
        (1, "2024-01-01 00:00:00", 1.0),
        (1, "2024-01-01 00:10:00", 2.0),   # same session (gap 30m)
        (1, "2024-01-01 01:00:00", 3.0),   # new session
        (2, "2024-01-01 00:00:00", 5.0),
        (1, "2024-01-01 06:00:00", 9.0),   # advances watermark, seals all
    ]
    spark.createDataFrame(rows, ddl).write.parquet(str(src))
    stream = (
        spark.readStream.schema(ddl).parquet(str(src)).withColumn("ts", F.to_timestamp("ts_s"))
    )
    q = (
        streaming_sessionize(stream, gap="30 minutes", watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], r["session_window"]["start"].isoformat()): (r["n_events"], r["sum_value"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }
    assert got[(1, "2024-01-01T00:00:00")] == (2, 3.0)
    assert got[(1, "2024-01-01T01:00:00")] == (1, 3.0)
    assert got[(2, "2024-01-01T00:00:00")] == (1, 5.0)


def test_streaming_dedup_drops_rearrivals(spark, tmp_path):
    from orestes_spark.streaming.ingest import streaming_dedup

    src = tmp_path / "s_dedup"
    rows = [
        (1, "2024-01-01 00:01:00", "same content"),
        (2, "2024-01-01 00:02:00", "same content"),     # dup within horizon
        (3, "2024-01-01 00:03:00", "other content"),
        (4, "2024-01-01 01:00:00", "late unique"),
    ]
    ddl = "doc_id LONG, ts_s STRING, text STRING"
    spark.createDataFrame(rows, ddl).write.parquet(str(src))
    stream = (
        spark.readStream.schema(ddl)
        .parquet(str(src))
        .withColumn("ts", F.to_timestamp("ts_s"))
    )
    out = streaming_dedup(stream, watermark="30 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    kept = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM dedup_out").collect())
    # exactly one of the identical docs 1/2 survives (within one
    # micro-batch the winner among equal keys is engine-arbitrary —
    # dropDuplicatesWithinWatermark keeps the first PROCESSED, not the
    # first by event time); 3 and 4 always survive.
    assert len(kept) == 3 and kept[0] in (1, 2) and kept[1:] == [3, 4]
    # state stores hashes: output carries the md5 fingerprint column
    assert "fingerprint" in spark.table("dedup_out").columns


def test_streaming_near_dedup_drops_reordered_copy(spark, tmp_path):
    """SimHash streaming gate: a token-permuted copy (identical
    signature — simhash is order-insensitive) is dropped; a genuinely
    different document survives."""
    from orestes_spark.streaming.ingest import streaming_near_dedup

    src = tmp_path / "s_neardup"
    base = "the quick brown fox jumps over the lazy dog again and again"
    reordered = "again and again the lazy dog jumps over the quick brown fox"
    rows = [
        (1, "2024-01-01 00:01:00", base),
        (2, "2024-01-01 00:02:00", reordered),  # same bag of tokens
        (3, "2024-01-01 00:03:00", "completely unrelated text about spark plans"),
    ]
    ddl = "doc_id LONG, ts_s STRING, text STRING"
    spark.createDataFrame(rows, ddl).write.parquet(str(src))
    stream = (
        spark.readStream.schema(ddl)
        .parquet(str(src))
        .withColumn("ts", F.to_timestamp("ts_s"))
    )
    q = (
        streaming_near_dedup(stream, watermark="30 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    kept = sorted(r["doc_id"] for r in spark.sql("SELECT doc_id FROM neardup_out").collect())
    # one of the signature-equal docs 1/2 survives (winner arbitrary
    # within a micro-batch); the unrelated doc always does.
    assert len(kept) == 2 and kept[0] in (1, 2) and kept[1] == 3


def test_streaming_ingest_maintains_rollup(spark, tmp_path):
    """The continuous rollup is maintained by the same _append the
    streaming sink uses: after a streamed ingest into a rollup-enabled
    space, read_rollup serves the aggregate without touching points."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark,
        str(tmp_path / "wh_stream_rollup"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    src = tmp_path / "stream_in_r"
    src.mkdir()
    spark.createDataFrame(_raw_rows(20), RAW_DDL).write.mode("append").parquet(str(src))
    stream = spark.readStream.schema(RAW_DDL).parquet(str(src))
    q = start_ingest(eng, stream, checkpoint=str(tmp_path / "ckpt_r"))
    q.processAllAvailable()
    q.stop()

    lo = START // HOUR * HOUR
    roll = eng.read_rollup(None, "default", lo, lo + 24 * HOUR)
    assert roll.agg({"n": "sum"}).first()[0] == 20
    direct = eng.matching_points(None, "default", lo, lo + 24 * HOUR).count()
    assert direct == 20


def test_ensure_min_parallelism_passes_streaming_through(spark, tmp_path):
    from orestes_spark.plans.parallelism import ensure_min_parallelism

    stream = spark.readStream.format("rate").load()
    out = ensure_min_parallelism(stream)
    assert out is stream  # untouched: df.rdd would raise on streaming


def test_corpus_ingest_cross_batch_neardedup(spark, tmp_path):
    """Index-backed cross-batch near-dedup: batch 2's near-copy of a
    batch-1 doc is rejected by the persisted band index (no watermark
    horizon), while its genuinely new doc is accepted; a within-batch
    near-pair keeps only the min id."""
    from orestes_spark.streaming.ingest import start_corpus_ingest

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    other = "completely different content about spark query engines and shuffles"
    third = "yet another unrelated document mentioning parquet row group statistics"

    src = tmp_path / "corpus_src"
    store = str(tmp_path / "corpus_store")
    ddl = "doc_id LONG, text STRING"
    src.mkdir()
    # batch 1: base + exact dup (within-batch: keep min id 1) + other
    spark.createDataFrame([(1, base), (2, base), (10, other)], ddl).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema(ddl).parquet(str(src / "*"))
    q = start_corpus_ingest(stream, store, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        # batch 2: near-dup of doc 1 (reject via index) + new doc (accept)
        spark.createDataFrame([(20, near), (30, third)], ddl).write.parquet(
            str(src / "b2")
        )
        q.processAllAvailable()
        # batch 3: at-least-once upstream re-sends an accepted doc with
        # the SAME id — must not re-append (same-id pairs are excluded
        # from the near-dup join, so this needs the explicit id gate)
        spark.createDataFrame([(1, base)], ddl).write.parquet(str(src / "b3"))
        q.processAllAvailable()
    finally:
        q.stop()

    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert accepted == [1, 10, 30]
    # the index covers exactly the accepted docs
    idx_ids = {r["_id"] for r in spark.read.parquet(f"{store}/bands").select("_id").collect()}
    assert idx_ids == {1, 10, 30}


def test_corpus_ingest_epoch_replay_keeps_data(spark, tmp_path):
    """Crash-replay safety: an epoch whose parquet writes landed but
    whose checkpoint never committed is re-offered on restart. The
    replay must NOT dedup the epoch against its own half-written
    output (that would empty `kept` via the same-id gate and then
    overwrite the epoch with nothing) — it regenerates its own
    partition and dedups only against PRIOR epochs."""
    from orestes_spark.streaming.ingest import make_corpus_batch_processor

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    other = "completely different content about spark query engines and shuffles"
    store = str(tmp_path / "replay_store")
    ddl = "doc_id LONG, text STRING"
    process = make_corpus_batch_processor(store)

    b0 = spark.createDataFrame([(1, base), (10, other)], ddl)
    process(b0, 0)
    # crash after epoch 0's writes, before checkpoint commit → replay
    process(b0, 0)
    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert accepted == [1, 10], "replayed epoch must keep its own docs"

    # a later epoch still dedups against epoch 0 (near-dup rejected),
    # and replaying IT leaves both epochs intact
    b1 = spark.createDataFrame([(20, near)], ddl)
    process(b1, 1)
    process(b1, 1)
    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert accepted == [1, 10]
    idx_ids = {r["_id"] for r in spark.read.parquet(f"{store}/bands").select("_id").collect()}
    assert idx_ids == {1, 10}


def test_streaming_ohlc_matches_batch_operator(spark, tmp_path):
    from orestes_spark.operators.timeseries import ohlc
    from orestes_spark.streaming.ingest import streaming_ohlc

    src = tmp_path / "s_ohlc"
    rows = [
        (1, "2024-01-01 00:01:00", 5.0),
        (2, "2024-01-01 00:02:00", 1.0),
        (3, "2024-01-01 00:04:00", 9.0),
        (4, "2024-01-01 00:01:00", 3.0),  # duplicate minute — tie on time
        (5, "2024-01-01 01:00:00", 4.0),  # advances watermark, seals window 1
    ]
    ddl = "id LONG, ts_s STRING, value DOUBLE"
    spark.createDataFrame(rows, ddl).write.parquet(str(src))
    stream = (
        spark.readStream.schema(ddl)
        .parquet(str(src))
        .withColumn("ts", F.to_timestamp("ts_s"))
    )
    agg = streaming_ohlc(stream, window="5 minutes", watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("ohlc_out")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    out = {
        r["window"]["start"].isoformat(): (r["open"], r["high"], r["low"], r["close"], r["n"])
        for r in spark.sql("SELECT * FROM ohlc_out").collect()
    }
    # equal-time tie at 00:01 → open takes the smaller value (3.0),
    # matching the batch operator's (time, value) struct-min discipline
    assert out["2024-01-01T00:00:00"] == (3.0, 9.0, 1.0, 9.0, 4)


def test_hist_partials_replay_cannot_inflate_quantiles(spark, tmp_path):
    """The histogram partials inherit the rollup's exactly-once-per-
    epoch contract: a crash-window replay overwrites its own epoch's
    (series, slot, bin) counts, so read_rollup_quantile equals the
    batch answer with no repair call."""
    from orestes_spark import validation
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine
    from orestes_spark.streaming.ingest import canonicalize, make_batch_processor

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark,
        str(tmp_path / "wh_hq_stream"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR, rollup_hist=(10.0, 10))},
    )
    process = make_batch_processor(eng, "default", epochs_dir=str(tmp_path / "epochs"))
    batch = spark.createDataFrame(_raw_rows(20), RAW_DDL)
    # crash window: sinks commit, marker doesn't; epoch re-offered
    valid, _ = validation.split_valid(canonicalize(batch))
    eng._append(valid, "default", epoch_id=3)
    process(batch, 3)

    lo = START // HOUR * HOUR
    rows = eng.read_rollup_quantile(None, "default", lo, lo + 24 * HOUR).collect()
    # _raw_rows(20) → 3 series (idx 0/1/2) with 7/7/6 points; the
    # replay must NOT double any count
    per_q_total = {}
    for r in rows:
        per_q_total[r["quantile"]] = per_q_total.get(r["quantile"], 0) + r["n"]
    assert per_q_total == {50: 20, 95: 20, 99: 20}
    # idx=0 series: values {0,3,..,18} → bins w=10: b0 has 4, b1 has 3;
    # p50 = 0 + ((0.5·7 − 0)/4)·10 = 8.75 (model-exact, not doubled)
    p50_idx0 = {r["series_id"]: r["value"] for r in rows if r["quantile"] == 50}[
        "host=a,idx=0"
    ]
    assert p50_idx0 == 8.75


def test_points_epoch_replay_is_exactly_once(spark, engine, tmp_path):
    """A crashed epoch (writes landed, no commit marker) is replayed
    in full by foreachBatch; the staged-move points sink must converge
    to exactly one copy — including the nastiest window, a crash
    MID-MOVE with some files already renamed into the live buckets."""
    rows = [
        (START + i, float(i), {"host": "a", "idx": str(i % 3)}) for i in range(20)
    ]
    valid = spark.createDataFrame(
        rows, "time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>"
    )

    # epoch 7 lands fully, but the marker was never written → replay
    engine._append(valid, "default", epoch_id=7)
    engine._append(valid, "default", epoch_id=7)
    flat = engine.read(None, "default", 0, START + 10**9, grouped=False)
    assert flat.count() == 20

    # mid-move crash of epoch 8: simulate by tagging a live file as if
    # one file had been moved before the crash, then replay epoch 8
    pp = engine._points_path("default")
    bucket = next(pp.glob("bucket=*"))
    victim = next(bucket.glob("*.parquet"))
    orphan = bucket / f"epoch8-{victim.name}"
    import shutil as _sh

    _sh.copy(victim, orphan)  # a half-moved duplicate from the "crash"
    rows8 = [
        (START + 100 + i, 50.0 + i, {"host": "a", "idx": str(i % 3)}) for i in range(10)
    ]
    valid8 = spark.createDataFrame(
        rows8, "time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>"
    )
    engine._append(valid8, "default", epoch_id=8)
    assert not list(pp.glob("bucket=*/epoch8-*")) or all(
        f.stat().st_size for f in pp.glob("bucket=*/epoch8-*")
    )
    # the orphan was swept before the replay re-moved epoch 8's files:
    # total = 20 epoch-7 rows + 10 epoch-8 rows, no duplicates — the
    # orphan (a copy of 20 old rows under an epoch8- name) is gone
    flat = engine.read(None, "default", 0, START + 10**9, grouped=False)
    got = sorted((r["time_ms"], r["value"]) for r in flat.collect())
    assert got == sorted(
        [(START + i, float(i)) for i in range(20)]
        + [(START + 100 + i, 50.0 + i) for i in range(10)]
    )
    # file-level proof (the merge gate would hide a failed sweep):
    # the RAW store holds exactly 30 physical rows
    assert spark.read.parquet(str(pp)).count() == 30


def test_read_while_write_soak_epoch_atomicity(spark, engine, tmp_path):
    """Read-while-write consistency contract: a batch read concurrent
    with streaming ingest sees a FULLY-COMMITTED EPOCH PREFIX — for
    every epoch either all of its points or none of them, never a
    mid-move subset of its files. Mechanism under test: epoch-tagged
    file names + the points-layer commit marker written only after
    every file of the epoch has moved (engine._visible_points gates
    on a marker snapshot taken BEFORE the file listing). Each epoch
    spans 3 daily buckets (multiple files per epoch), the value
    column labels the epoch, and a reader thread hammers the space
    for the whole run asserting per-epoch counts are all-or-nothing."""
    import threading

    src = tmp_path / "soak_in"
    src.mkdir()
    EPOCHS, K = 8, 30  # 30 points per epoch, spread over 3 buckets
    DAY = 86_400_000

    stream = spark.readStream.schema(RAW_DDL).parquet(str(src))
    q = start_ingest(engine, stream, checkpoint=str(tmp_path / "soak_ckpt"))

    violations: list[str] = []
    observed: set[int] = set()
    stop = threading.Event()

    def reader() -> None:
        while not stop.is_set():
            try:
                rows = (
                    engine.read(None, "default", 0, START + 10**10, grouped=False)
                    .groupBy("value")
                    .count()
                    .collect()
                )
            except Exception as e:  # noqa: BLE001 — a soak must report, not die
                violations.append(f"read failed: {e}")
                return
            for r in rows:
                epoch_label, n = int(r["value"]), r["count"]
                observed.add(epoch_label)
                if n != K:
                    violations.append(f"epoch {epoch_label}: partial count {n} != {K}")

    t = threading.Thread(target=reader, name="soak-reader")
    t.start()
    try:
        for b in range(EPOCHS):
            rows = [
                (str(START + (i % 3) * DAY + b * 1000 + i), float(b), {"host": f"h{i % 5}"})
                for i in range(K)
            ]
            # ONE source file per labeled batch: a multi-file append can
            # be caught mid-write by the file source's listing and split
            # across two micro-batches — then the label-based
            # all-or-nothing check would flag a SOURCE batching artifact,
            # not an engine atomicity violation. A single part file
            # appears atomically via the committer's rename, so label ↔
            # engine-epoch stays 1:1 (merging labels into one epoch
            # would still read full counts and is harmless).
            spark.createDataFrame(rows, RAW_DDL).coalesce(1).write.mode("append").parquet(
                str(src)
            )
            q.processAllAvailable()
    finally:
        stop.set()
        t.join(timeout=60)
        q.stop()

    assert violations == []
    # liveness: the reader genuinely raced the ingest (saw intermediate
    # states), and the final state holds every epoch in full
    assert observed  # at least one mid-run observation
    final = dict(
        (int(r["value"]), r["count"])
        for r in engine.read(None, "default", 0, START + 10**10, grouped=False)
        .groupBy("value")
        .count()
        .collect()
    )
    assert final == {b: K for b in range(EPOCHS)}


def test_read_while_write_soak_mixed_batch_stream(spark, engine, tmp_path):
    """Round-7 extension of the epoch-atomicity soak: a BATCH writer
    interleaves with streaming epochs into the SAME space. Contract
    under test (the closed transient-vanish race): batch appends into
    a streaming space route through the stage->manifest->rename
    protocol (kind=batch), so a reader racing a concurrent epoch's
    renames resolves batch files by per-path stat, never by racy
    readdir — a batch file, once observed, can never VANISH from a
    later read. Batch visibility stays per-file (plain-append parity,
    counts may grow mid-rename), so the assertion is monotonic
    non-decreasing per-label counts reaching full size; streaming
    epochs must remain strictly all-or-nothing throughout."""
    import threading

    src = tmp_path / "mixed_in"
    src.mkdir()
    EPOCHS, K = 6, 30
    DAY = 86_400_000

    stream = spark.readStream.schema(RAW_DDL).parquet(str(src))
    q = start_ingest(engine, stream, checkpoint=str(tmp_path / "mixed_ckpt"))

    violations: list[str] = []
    high_water: dict[int, int] = {}
    stop = threading.Event()

    def reader() -> None:
        while not stop.is_set():
            try:
                rows = (
                    engine.read(None, "default", 0, START + 10**10, grouped=False)
                    .groupBy("value")
                    .count()
                    .collect()
                )
            except Exception as e:  # noqa: BLE001 — a soak must report, not die
                violations.append(f"read failed: {e}")
                return
            seen = {int(r["value"]): r["count"] for r in rows}
            for label, n in seen.items():
                if label < 100 and n != K:
                    violations.append(f"stream epoch {label}: partial count {n} != {K}")
                if n < high_water.get(label, 0):
                    violations.append(
                        f"label {label}: count regressed {high_water[label]} -> {n}"
                    )
                high_water[label] = max(high_water.get(label, 0), n)
            # a batch label that VANISHED outright is the exact race
            for label, hw in high_water.items():
                if hw and label not in seen:
                    violations.append(f"label {label}: vanished after count {hw}")

    t = threading.Thread(target=reader, name="mixed-soak-reader")
    t.start()
    try:
        for b in range(EPOCHS):
            rows = [
                (str(START + (i % 3) * DAY + b * 1000 + i), float(b), {"host": f"h{i % 5}"})
                for i in range(K)
            ]
            spark.createDataFrame(rows, RAW_DDL).coalesce(1).write.mode("append").parquet(
                str(src)
            )
            q.processAllAvailable()
            # interleaved batch writer into the same (streaming) space:
            # distinct times per label, label space disjoint from epochs
            assert (
                engine.write(
                    [
                        {
                            "time": START + (i % 3) * DAY + 10**7 + b * 1000 + i,
                            "value": float(100 + b),
                            "host": "batch",
                        }
                        for i in range(K)
                    ]
                )
                == []
            )
    finally:
        stop.set()
        t.join(timeout=60)
        q.stop()

    assert violations == []
    final = dict(
        (int(r["value"]), r["count"])
        for r in engine.read(None, "default", 0, START + 10**10, grouped=False)
        .groupBy("value")
        .count()
        .collect()
    )
    expect = {b: K for b in range(EPOCHS)} | {100 + b: K for b in range(EPOCHS)}
    assert final == expect
    # the batch writes really took the manifested path: every point
    # file in the space is epoch-tagged and covered by a manifest
    proot = engine._points_path("default")
    assert all(f.name.startswith("epoch") for f in proot.glob("bucket=*/*.parquet"))
    from orestes_spark.engine import _read_manifest

    kinds = {_read_manifest(mk)[1] for mk in (proot / "_epochs").glob("epoch-*")}
    assert "batch" in kinds and "stream" in kinds


def test_compact_respects_epoch_commit_protocol(spark, engine, tmp_path):
    """Compaction vs the epoch commit protocol, three invariants:
    (1) an UNCOMMITTED epoch's tagged files are invisible to reads and
    swept (not folded into untagged output) by compact — folding them
    would publish an unacknowledged epoch AND duplicate it on replay;
    (2) replay of a points-COMMITTED epoch short-circuits on its
    marker even after compaction renamed its files (the old
    sweep-by-tag would find nothing and append a second copy);
    (3) compact prunes markers of fully-compacted epochs, keeping the
    newest (the only epoch a streaming restart can replay)."""
    import shutil as _sh

    mk = lambda rows: spark.createDataFrame(
        rows, "time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>"
    )
    e0 = [(START + i, float(i), {"host": "a"}) for i in range(10)]
    e1 = [(START + 100 + i, 50.0 + i, {"host": "a"}) for i in range(10)]
    engine._append(mk(e0), "default", epoch_id=0)
    engine._append(mk(e1), "default", epoch_id=1)
    pp = engine._points_path("default")
    assert len(list(pp.glob("_epochs/epoch-*"))) == 2

    # (1) plant an uncommitted epoch-2 file (copy of a live file)
    bucket = next(pp.glob("bucket=*"))
    victim = next(f for f in bucket.glob("*.parquet"))
    _sh.copy(victim, bucket / f"epoch2-{victim.name}")
    flat = engine.read(None, "default", 0, START + 10**9, grouped=False)
    assert flat.count() == 20  # uncommitted epoch invisible

    engine.compact("default")
    assert not list(pp.glob("bucket=*/epoch2-*"))  # swept, not folded
    assert engine.read(None, "default", 0, START + 10**9, grouped=False).count() == 20

    # (3) epoch-0's marker was pruned (files fully compacted), the
    # newest stream marker (epoch-1) survives as the replay
    # idempotency key; compaction's own kind=compact manifests (one
    # per rewritten bucket, covering the compacted files) remain
    import json as _json

    markers = {m.name: _json.loads(m.read_text()) for m in pp.glob("_epochs/epoch-*")}
    assert "epoch-1" in markers and "epoch-0" not in markers
    kinds = {
        name: (m.get("kind", "stream") if isinstance(m, dict) else "stream")
        for name, m in markers.items()
    }
    assert kinds.pop("epoch-1") == "stream"
    assert set(kinds.values()) <= {"compact"}  # all others are compact records
    # and the compacted files themselves are manifest-covered (tagged)
    assert not [f for f in pp.glob("bucket=*/*.parquet") if not f.name.startswith("epoch")]

    # (2) replay committed epoch-1 after compaction: marker
    # short-circuit, no second copy
    engine._append(mk(e1), "default", epoch_id=1)
    got = sorted(
        (r["time_ms"], r["value"])
        for r in engine.read(None, "default", 0, START + 10**9, grouped=False).collect()
    )
    assert got == sorted(
        [(t, v) for (t, v, _) in e0] + [(t, v) for (t, v, _) in e1]
    )


def test_two_stream_generations_do_not_collide(spark, engine, tmp_path):
    """A successor stream (fresh checkpoint) restarts epoch ids at 0;
    its engine-side epoch keys must not collide with the predecessor's
    surviving markers — colliding keys would silently skip the new
    stream's points as 'replays' and overwrite its rollup partials.
    start_ingest namespaces keys by checkpoint identity."""
    src1, src2 = tmp_path / "gen1", tmp_path / "gen2"
    src1.mkdir(), src2.mkdir()

    spark.createDataFrame(_raw_rows(10), RAW_DDL).write.mode("append").parquet(str(src1))
    q1 = start_ingest(
        engine,
        spark.readStream.schema(RAW_DDL).parquet(str(src1)),
        checkpoint=str(tmp_path / "ckpt1"),
    )
    q1.processAllAvailable()
    q1.stop()

    # generation 2: new source, NEW checkpoint → epoch ids restart at 0
    spark.createDataFrame(_raw_rows(10, offset=100, tag="b"), RAW_DDL).write.mode(
        "append"
    ).parquet(str(src2))
    q2 = start_ingest(
        engine,
        spark.readStream.schema(RAW_DDL).parquet(str(src2)),
        checkpoint=str(tmp_path / "ckpt2"),
    )
    q2.processAllAvailable()
    q2.stop()

    flat = engine.read(None, "default", 0, START + 10**10, grouped=False)
    assert flat.count() == 20  # both generations' points landed


def test_delete_series_keeps_streaming_space_manifest_covered(spark, engine, tmp_path):
    """Targeted erasure in a streaming space must leave the rewritten
    buckets manifest-covered (tagged + kind=compact manifest), not as
    plain files on the raced readdir path — and erase exactly the
    doomed series."""
    src = tmp_path / "del_in"
    src.mkdir()
    spark.createDataFrame(_raw_rows(10, tag="keep") + _raw_rows(10, tag="doom"),
                          RAW_DDL).coalesce(1).write.mode("append").parquet(str(src))
    q = start_ingest(
        engine,
        spark.readStream.schema(RAW_DDL).parquet(str(src)),
        checkpoint=str(tmp_path / "del_ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    n = engine.delete_series({"term": {"host": "doom"}})
    assert n == 3  # 3 idx values for host=doom
    flat = engine.read(None, "default", 0, START + 10**10, grouped=False)
    assert flat.count() == 10
    assert flat.where(F.col("tags")["host"] == "doom").count() == 0
    # every surviving point file is manifest-covered (epoch-tagged)
    pp = engine._points_path("default")
    assert not [f for f in pp.glob("bucket=*/*.parquet") if not f.name.startswith("epoch")]


def test_replay_cannot_resurrect_erased_series(spark, tmp_path):
    """The epoch marker commits the WHOLE epoch (all sinks), so a
    replay of a committed epoch is a total no-op — it must not
    re-insert series metadata or rollup partials that a delete_series
    erased between crash and restart (the resurrection window when
    the marker only covered the points sink)."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_resurrect"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    rows = [(START + i, float(i), {"host": "doom"}) for i in range(5)] + [
        (START + i, float(i), {"host": "keep"}) for i in range(5)
    ]
    batch = spark.createDataFrame(rows, "time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>")
    eng._append(batch, "default", epoch_id=3)  # committed (marker written)

    assert eng.delete_series({"term": {"host": "doom"}}) == 1
    eng._append(batch, "default", epoch_id=3)  # replay after erasure

    series = [r["tags"]["host"] for r in eng.get_stream_list(
        None, "default", 0, START + 10**9).collect()]
    assert series == ["keep"]  # doom NOT resurrected in metadata
    flat = eng.read(None, "default", 0, START + 10**9, grouped=False)
    assert flat.where(F.col("tags")["host"] == "doom").count() == 0
    lo = START // HOUR * HOUR
    roll = eng.read_rollup(None, "default", lo, lo + HOUR, on_stale="ignore")
    assert [r["tags"]["host"] for r in roll.collect()] == ["keep"]


def test_canonical_stream_ns_unifies_spellings(tmp_path):
    """Equivalent checkpoint spellings — bare path, trailing slash,
    file:/ and file:/// URIs, a symlinked parent — must map to ONE
    namespace, or a re-launch re-appends its replayed final epoch
    under a fresh key. Genuinely remote URIs keep their authority
    (different namenodes ARE different checkpoints)."""
    from orestes_spark.streaming.ingest import _canonical_stream_ns as ns

    ck = tmp_path / "ck"
    ck.mkdir()
    base = ns(str(ck))
    assert base == ns(str(ck) + "/") == ns(f"file:{ck}") == ns(f"file://{ck}")
    link = tmp_path / "link"
    link.symlink_to(ck)
    assert ns(str(link)) == base
    assert ns("hdfs://nn1/ck/") == "hdfs://nn1/ck"
    assert ns("hdfs://nn1/ck") != ns("hdfs://nn2/ck")


def test_prune_protects_latest_marker_per_namespace_bounded(tmp_path):
    """Marker pruning protects the max-seq stream marker of each
    namespace (replay idempotency key), but the protected set is
    BOUNDED to the most recently written namespaces — a warehouse fed
    by many short-lived checkpoints must not accumulate one immortal
    marker per namespace ever seen."""
    import os

    from orestes_spark.engine import (
        _MAX_PROTECTED_STREAM_NS,
        _prune_epoch_markers,
        _read_manifest,
        _write_manifest,
    )

    root = tmp_path / "points"
    (root / "bucket=0").mkdir(parents=True)
    n_ns = _MAX_PROTECTED_STREAM_NS + 8
    for i in range(n_ns):
        # two epochs per namespace: only the max-seq one is protected
        for seq in (0, 1):
            mk = root / "_epochs" / f"epoch-{i * 10 + seq}"
            _write_manifest(mk, [], "stream", ns=f"file:/ck{i}", seq=seq)
            os.utime(mk, (1_000_000 + i, 1_000_000 + i))
    _prune_epoch_markers(root)
    left = sorted((root / "_epochs").glob("epoch-*"), key=lambda p: p.name)
    assert len(left) == _MAX_PROTECTED_STREAM_NS
    metas = [_read_manifest(mk)[2] for mk in left]
    # every survivor is a max-seq marker of one of the NEWEST namespaces
    assert all(m["seq"] == 1 for m in metas)
    surviving_ns = {m["ns"] for m in metas}
    expected = {f"file:/ck{i}" for i in range(n_ns - _MAX_PROTECTED_STREAM_NS, n_ns)}
    assert surviving_ns == expected


def test_embedding_ingest_cross_batch_semantic_dedup(spark, tmp_path):
    """Streaming SemDeDup gate: batch 2's near-copy of a batch-1
    vector is rejected against the persisted index; an orthogonal
    vector is accepted; an exact in-batch dup keeps the min id; a
    re-sent accepted id does not re-append."""
    from orestes_spark.streaming.ingest import start_embedding_ingest

    src = tmp_path / "emb_src"
    store = str(tmp_path / "emb_store")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    src.mkdir()
    e1 = [1.0, 0.0]
    e1_near = [0.999, 0.001]
    e2 = [0.0, 1.0]
    e_anti = [-1.0, 0.0]  # cos vs e1 = -1 (no hit), assigns to cell 1
    spark.createDataFrame(
        [(1, 0, e1), (2, 0, e1), (10, 1, e2)], ddl
    ).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(ddl).parquet(str(src / "*"))
    q = start_embedding_ingest(stream, store, checkpoint=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        spark.createDataFrame(
            [(20, 0, e1_near), (30, 0, e_anti)], ddl
        ).write.parquet(str(src / "b2"))
        q.processAllAvailable()
        spark.createDataFrame([(1, 0, e1)], ddl).write.parquet(str(src / "b3"))
        q.processAllAvailable()
    finally:
        q.stop()

    accepted = sorted(
        r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").select("vec_id").collect()
    )
    assert accepted == [1, 10, 30]
    # the store is a consumable semantic_index: quantized vecs + cells
    row = {
        r["vec_id"]: r
        for r in spark.read.parquet(f"{store}/vecs").collect()
    }
    assert row[1]["vec"] == [1000, 0] and row[1]["cluster"] == 0
    assert row[10]["cluster"] == 1
    assert row[30]["cluster"] == 1  # anti-parallel: nearest cell is 1 (cos 0 beats -1)


def test_embedding_ingest_epoch_replay_keeps_data(spark, tmp_path):
    """Crash-replay: an epoch whose vecs/cents writes landed but whose
    checkpoint never committed must regenerate its own partition, not
    dedup itself to nothing."""
    from orestes_spark.streaming.ingest import make_embedding_batch_processor

    store = str(tmp_path / "emb_replay")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    process = make_embedding_batch_processor(store)

    b0 = spark.createDataFrame([(1, 0, [1.0, 0.0]), (10, 1, [0.0, 1.0])], ddl)
    process(b0, 0)
    process(b0, 0)  # replay
    accepted = sorted(
        r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").select("vec_id").collect()
    )
    assert accepted == [1, 10], "replayed epoch must keep its own vectors"

    b1 = spark.createDataFrame([(20, 0, [0.999, 0.001])], ddl)
    process(b1, 1)  # near-dup of vec 1 -> rejected against epoch-0 index
    process(b1, 1)  # replay of the rejection is also idempotent
    accepted = sorted(
        r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").select("vec_id").collect()
    )
    assert accepted == [1, 10]


def test_embedding_ingest_empty_first_batch_does_not_freeze_empty_quantizer(spark, tmp_path):
    """An empty epoch-0 batch must not bootstrap an empty centroid
    table (which would silently drop every later batch)."""
    from orestes_spark.streaming.ingest import make_embedding_batch_processor

    store = str(tmp_path / "emb_empty")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    process = make_embedding_batch_processor(store)
    process(spark.createDataFrame([], ddl), 0)
    process(spark.createDataFrame([(1, 0, [1.0, 0.0])], ddl), 1)
    accepted = [r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").collect()]
    assert accepted == [1]


def test_embedding_ingest_arrow_kernel_matches_expr(spark, tmp_path):
    """kernel='arrow' must accept/reject exactly the ids the
    expression kernel does across two epochs."""
    from orestes_spark.streaming.ingest import make_embedding_batch_processor

    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    b0 = spark.createDataFrame(
        [(1, 0, [1.0, 0.0]), (2, 0, [1.0, 0.0]), (10, 1, [0.0, 1.0])], ddl
    )
    b1 = spark.createDataFrame(
        [(20, 0, [0.999, 0.001]), (30, 0, [-1.0, 0.0])], ddl
    )
    accepted = {}
    for kern in ("expr", "arrow"):
        store = str(tmp_path / f"emb_{kern}")
        process = make_embedding_batch_processor(store, kernel=kern)
        process(b0, 0)
        process(b1, 1)
        accepted[kern] = sorted(
            r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").collect()
        )
    assert accepted["expr"] == accepted["arrow"] == [1, 10, 30]


def test_requantize_embedding_store_swaps_cells_and_keeps_dedup(spark, tmp_path):
    """Offline re-quantization: all accepted rows survive under a
    trained finer quantizer (epoch=-1 baseline), the cents table is
    replaced, and ingest continues — a near-dup of a pre-requantize
    vector is still rejected afterwards."""
    from orestes_spark.streaming.ingest import (
        make_embedding_batch_processor,
        requantize_embedding_store,
    )

    store = str(tmp_path / "emb_rq")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    # threshold 0.9: in 4-d every vector is within cos 0.5 of some
    # axis cell, so the default 0.35 would reject ANY genuinely new
    # vector in this tiny geometry
    process = make_embedding_batch_processor(store, threshold=0.9)
    # 2 coarse label-cells at bootstrap, 4 separated direction groups
    dirs = [
        [10.0, 0.0, 0.0, 0.0],
        [0.0, 10.0, 0.0, 0.0],
        [0.0, 0.0, 10.0, 0.0],
        [0.0, 0.0, 0.0, 10.0],
    ]
    rows = [(i, i % 2, dirs[i % 4]) for i in range(8)]
    process(spark.createDataFrame(rows[:4], ddl), 0)
    process(spark.createDataFrame(rows[4:], ddl), 1)
    before = sorted(
        r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").select("vec_id").collect()
    )
    assert before == [0, 1, 2, 3]  # 4..7 are exact dups of 0..3 (cos 1.0)

    out = requantize_embedding_store(spark, store, k=4)
    assert out["rows"] == 4 and out["cells"] == 4
    after = spark.read.parquet(f"{store}/vecs")
    assert sorted(r["vec_id"] for r in after.collect()) == [0, 1, 2, 3]
    assert {r["epoch"] for r in after.select("epoch").collect()} == {-1}
    assert spark.read.parquet(f"{store}/cents").count() == 4

    # ingest continues against the retrained cells
    process(
        spark.createDataFrame([(100, 0, [9.99, 0.01, 0.0, 0.0]), (101, 0, [7.0, 7.0, 0.0, 0.0])], ddl),
        2,
    )
    final = sorted(
        r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").select("vec_id").collect()
    )
    assert 100 not in final, "near-dup of vec 0 must still be rejected"
    assert 101 in final

    # A staging tree with no intent was never committed: it is
    # discarded, and the run matches one on a clean copy of the store.
    import shutil

    clean = shutil.copytree(store, str(tmp_path / "emb_rq_clean"))
    junk = tmp_path / "emb_rq" / ".requant" / "vecs"
    junk.mkdir(parents=True)
    (junk / "part-00000.parquet").write_bytes(b"not parquet")
    assert requantize_embedding_store(spark, store, k=4) == requantize_embedding_store(
        spark, clean, k=4
    )
    assert not os.path.exists(f"{store}/.requant")
    ids = [
        sorted(r["vec_id"] for r in spark.read.parquet(f"{s}/vecs").collect())
        for s in (store, clean)
    ]
    assert ids[0] == ids[1]


def test_embedding_ingest_unlabeled_bootstrap_trains_quantizer(spark, tmp_path):
    """label_col=None: the first batch trains a kmeans quantizer
    (bootstrap_k cells); dedup works against the earned cells and the
    stored label column carries the cell id."""
    from orestes_spark.streaming.ingest import make_embedding_batch_processor

    store = str(tmp_path / "emb_unlabeled")
    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    process = make_embedding_batch_processor(
        store, label_col=None, threshold=0.9, bootstrap_k=2
    )
    b0 = spark.createDataFrame(
        [(0, [10.0, 0.0]), (1, [0.0, 10.0]), (2, [9.9, 0.1])], ddl
    )
    process(b0, 0)  # 2 in-batch near-dups (0, 2) -> keep min id 0
    b1 = spark.createDataFrame([(10, [0.1, 9.9]), (11, [-10.0, 0.2])], ddl)
    process(b1, 1)  # 10 ~ vec 1 (rejected); 11 anti-parallel (kept)
    rows = {r["vec_id"]: r for r in spark.read.parquet(f"{store}/vecs").collect()}
    assert sorted(rows) == [0, 1, 11]
    assert spark.read.parquet(f"{store}/cents").count() == 2
    for r in rows.values():
        assert r["label"] == r["cluster"]  # unlabeled: label IS the cell


def test_embedding_ingest_single_cell_bootstrap_warns(spark, tmp_path):
    """A quantizer frozen with one cell must warn loudly (per-epoch
    cost degrades to O(|batch| x corpus))."""
    import warnings

    from orestes_spark.streaming.ingest import make_embedding_batch_processor

    store = str(tmp_path / "emb_onecell")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    process = make_embedding_batch_processor(store, threshold=0.9)
    b0 = spark.createDataFrame([(0, 5, [1.0, 0.0]), (1, 5, [0.0, 1.0])], ddl)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        process(b0, 0)
    assert any("cell" in str(x.message) for x in w), [str(x.message) for x in w]


def test_epoch_staging_dirs_invisible_to_readers(spark, tmp_path):
    """Stage-then-rename epoch commits: a leftover .staging dir from a
    crashed attempt is ignored by store readers, and a replay over the
    leftover commits the epoch normally."""
    from orestes_spark.streaming.ingest import make_embedding_batch_processor

    store = str(tmp_path / "emb_stage")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    process = make_embedding_batch_processor(store, threshold=0.9)
    b0 = spark.createDataFrame([(1, 0, [1.0, 0.0]), (2, 1, [0.0, 1.0])], ddl)
    process(b0, 0)
    # simulate a crashed attempt: leftover staging dir with junk data
    junk = spark.createDataFrame([(999, 0, [5.0, 5.0], 0)],
                                 "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>, cluster LONG")
    junk.write.parquet(f"{store}/vecs/.staging-epoch=1")
    ids = sorted(r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").collect())
    assert ids == [1, 2], "staging leftovers must be invisible"
    # replay of epoch 1 overwrites the leftover and commits atomically
    process(spark.createDataFrame([(3, 0, [-1.0, 0.0])], ddl), 1)
    ids = sorted(r["vec_id"] for r in spark.read.parquet(f"{store}/vecs").collect())
    assert ids == [1, 2, 3]
    import os
    assert not os.path.exists(f"{store}/vecs/.staging-epoch=1")


def test_embedding_store_read_while_write_all_or_nothing(spark, tmp_path):
    """Concurrent readers of the embedding store must only ever see
    complete epochs: with every epoch accepting exactly E vectors
    (threshold ~1 so nothing dedups), any observed count that is not
    a multiple of E is a torn read."""
    import random
    import threading

    from orestes_spark.streaming.ingest import make_embedding_batch_processor

    store = str(tmp_path / "emb_rww")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    E, dim, epochs = 40, 16, 5
    process = make_embedding_batch_processor(store, threshold=0.9999)
    rng = random.Random(3)

    def batch(ep):
        rows = [
            (
                ep * E + i,
                (ep * E + i) % 4,
                [rng.gauss(0.0, 1.0) for _ in range(dim)],
            )
            for i in range(E)
        ]
        return spark.createDataFrame(rows, ddl)

    torn, stop = [], [False]

    def reader():
        while not stop[0]:
            try:
                c = spark.read.parquet(f"{store}/vecs").count()
            except Exception:
                continue  # store may not exist yet / epoch mid-swap listing
            if c % E:
                torn.append(c)

    t = threading.Thread(target=reader)
    t.start()
    try:
        for ep in range(epochs):
            process(batch(ep), ep)
    finally:
        stop[0] = True
        t.join()
    assert not torn, f"torn reads observed: {torn[:5]}"
    final = spark.read.parquet(f"{store}/vecs").count()
    assert final == E * epochs, final


def test_compact_corpus_store_preserves_dedup_state(spark, tmp_path):
    """Offline corpus compaction: epochs collapse to epoch=-1, file
    count shrinks, and the gate still rejects a near-dup of a
    pre-compaction doc (band index rewritten verbatim)."""
    import os

    from orestes_spark.streaming.ingest import (
        compact_corpus_store,
        make_corpus_batch_processor,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    other = "completely different content about spark query engines and shuffles"
    store = str(tmp_path / "corpus_compact")
    ddl = "doc_id LONG, text STRING"
    process = make_corpus_batch_processor(store)
    process(spark.createDataFrame([(1, base)], ddl), 0)
    process(spark.createDataFrame([(10, other)], ddl), 1)

    out = compact_corpus_store(spark, store)
    assert out["docs"] == 2 and out["bands"] > 0
    assert sorted(os.listdir(f"{store}/docs")) == ["epoch=-1"]
    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert accepted == [1, 10]

    # the gate still works against the compacted index
    process(spark.createDataFrame([(20, near), (30, base + " extra words here")], ddl), 2)
    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert 20 not in accepted, "near-dup must still be rejected post-compaction"


def test_embedding_store_refuses_mismatched_gate_params(spark, tmp_path):
    """A restarted processor with a different threshold/quantize must
    refuse the store loudly instead of silently changing semantics."""
    import pytest as _pytest

    from orestes_spark.streaming.ingest import make_embedding_batch_processor

    store = str(tmp_path / "emb_meta")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    b = spark.createDataFrame([(1, 0, [1.0, 0.0])], ddl)
    make_embedding_batch_processor(store, threshold=0.9)(b, 0)
    # same params: fine (fresh processor instance, meta re-verified)
    make_embedding_batch_processor(store, threshold=0.9)(
        spark.createDataFrame([(2, 0, [0.0, 1.0])], ddl), 1
    )
    with _pytest.raises(RuntimeError, match="semantics"):
        make_embedding_batch_processor(store, threshold=0.5)(
            spark.createDataFrame([(3, 0, [1.0, 1.0])], ddl), 2
        )
    with _pytest.raises(RuntimeError, match="semantics"):
        make_embedding_batch_processor(store, threshold=0.9, quantize=None)(
            spark.createDataFrame([(3, 0, [1.0, 1.0])], ddl), 2
        )


def test_requantize_unlabeled_store_relabels_to_new_cells(spark, tmp_path):
    """On an unlabeled store (meta.labeled = false) the label column
    carries the CELL id — re-quantization must rewrite it to the new
    cluster, not leave stale cells next to fresh ones."""
    from orestes_spark.streaming.ingest import (
        make_embedding_batch_processor,
        requantize_embedding_store,
    )

    store = str(tmp_path / "emb_rq_unlab")
    ddl = "vec_id LONG, embedding ARRAY<DOUBLE>"
    process = make_embedding_batch_processor(
        store, label_col=None, threshold=0.9, bootstrap_k=2
    )
    rows = [
        (0, [10.0, 0.0, 0.0, 0.0]),
        (1, [0.0, 10.0, 0.0, 0.0]),
        (2, [0.0, 0.0, 10.0, 0.0]),
        (3, [0.0, 0.0, 0.0, 10.0]),
    ]
    process(spark.createDataFrame(rows, ddl), 0)
    out = requantize_embedding_store(spark, store, k=4)
    assert out["cells"] == 4
    for r in spark.read.parquet(f"{store}/vecs").collect():
        assert r["label"] == r["cluster"], (r["vec_id"], r["label"], r["cluster"])


def _drifting_batches(dim=16, seed=3):
    """Epoch 0 balanced over two directions (bootstraps 2 cells);
    epochs 1-2 pile distinct vectors onto direction 0 (accepted as
    non-dups at threshold 0.9, all landing in one cell → skew)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    d0 = np.zeros(dim); d0[0] = 1.0
    d1 = np.zeros(dim); d1[1] = 1.0
    batches, next_id = [], 0

    def mk(direction, n):
        nonlocal next_id
        rows = []
        for _ in range(n):
            v = direction + rng.normal(scale=0.5, size=dim)
            rows.append((next_id, 0, [float(x) for x in v]))
            next_id += 1
        return rows

    batches.append(mk(d0, 5) + mk(d1, 5))
    batches.append(mk(d0, 30))
    batches.append(mk(d0, 30))
    return batches


def test_requantize_if_triggers_on_hot_cell_and_noop_otherwise(spark, tmp_path):
    """The self-healing quantizer policy: no-op (zero rewrites) while
    every cell is under the cap; a drifted store trips the trigger,
    retrains, and splits the hot cell — same row set, finer cells."""
    from orestes_spark.streaming.ingest import make_embedding_batch_processor, requantize_if

    store = str(tmp_path / "emb_rq")
    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    process = make_embedding_batch_processor(
        store, label_col=None, threshold=0.9, bootstrap_k=2
    )
    for ep, rows in enumerate(_drifting_batches()):
        process(spark.createDataFrame(rows, ddl), ep)

    before = {
        r["cluster"]: r["n"]
        for r in spark.read.parquet(f"{store}/vecs").groupBy("cluster").count()
        .withColumnRenamed("count", "n").collect()
    }
    n_rows = sum(before.values())
    assert max(before.values()) > 30  # the drift really did skew a cell

    # under-cap: pure no-op, nothing rewritten
    assert requantize_if(spark, store, max_cell_rows=1000) == {}

    res = requantize_if(spark, store, max_cell_rows=30)
    assert res["hot_cells"] and res["k"] >= 2 and res["rows"] == n_rows
    after = {
        r["cluster"]: r["n"]
        for r in spark.read.parquet(f"{store}/vecs").groupBy("cluster").count()
        .withColumnRenamed("count", "n").collect()
    }
    assert sum(after.values()) == n_rows  # no vector lost or duplicated
    assert max(after.values()) < max(before.values())  # hot cell split
    # epochs collapsed into the epoch=-1 baseline
    import os
    assert os.path.isdir(f"{store}/vecs/epoch=-1")


def test_auto_requantize_matches_manual_run_byte_for_byte(spark, tmp_path):
    """auto_requantize_cell_rows fires requantize_if in the epoch gap;
    an operator running the same policy by hand after every epoch must
    end with a BYTE-IDENTICAL store (same kept ids, same quantized
    vectors, same cells) — the trigger changes when maintenance runs,
    never what the gate decides."""
    from orestes_spark.streaming.ingest import make_embedding_batch_processor, requantize_if

    ddl = "vec_id LONG, label LONG, embedding ARRAY<DOUBLE>"
    batches = _drifting_batches()
    auto_store = str(tmp_path / "emb_auto")
    man_store = str(tmp_path / "emb_man")
    auto = make_embedding_batch_processor(
        auto_store, label_col=None, threshold=0.9, bootstrap_k=2,
        auto_requantize_cell_rows=30,
    )
    manual = make_embedding_batch_processor(
        man_store, label_col=None, threshold=0.9, bootstrap_k=2
    )
    for ep, rows in enumerate(batches):
        auto(spark.createDataFrame(rows, ddl), ep)
        manual(spark.createDataFrame(rows, ddl), ep)
        requantize_if(spark, man_store, max_cell_rows=30)

    def snapshot(store):
        vecs = sorted(
            (r["vec_id"], r["label"], tuple(r["vec"]), r["cluster"])
            for r in spark.read.parquet(f"{store}/vecs").collect()
        )
        cents = sorted(
            (r["label"], tuple(r["csum"]))
            for r in spark.read.parquet(f"{store}/cents").collect()
        )
        return vecs, cents

    import os
    assert os.path.isdir(f"{auto_store}/vecs/epoch=-1")  # it really fired
    assert snapshot(auto_store) == snapshot(man_store)


def test_corpus_ingest_span_gate_drops_verbatim_copiers(spark, tmp_path):
    """Third cross-batch modality: a doc that verbatim-copies a big
    span from the accepted corpus but pads the rest sails under the
    MinHash Jaccard threshold — the span gate catches it by
    duplicated-token fraction. Small copies below the fraction pass;
    accepted docs' k-grams guard FUTURE batches; replay is idempotent
    (index reads exclude the epoch's own partition)."""
    from orestes_spark.streaming.ingest import make_corpus_batch_processor

    store = str(tmp_path / "span_store")
    ddl = "doc_id LONG, text STRING"
    process = make_corpus_batch_processor(store, span_k=6, span_max_frac=0.5)

    a_toks = [f"a{i}" for i in range(30)]
    a = " ".join(a_toks)
    process(spark.createDataFrame([(1, a)], ddl), 0)

    # b: 16 contiguous tokens copied from a + 10 unique (coverage 0.62,
    # Jaccard vs a ~0.37 — under the 0.5 minhash threshold); c: 6
    # copied + 20 unique (coverage 0.23 — passes); d: unrelated.
    b = " ".join(a_toks[5:21] + [f"b{i}" for i in range(10)])
    c = " ".join(a_toks[0:6] + [f"c{i}" for i in range(20)])
    d = " ".join(f"d{i}" for i in range(20))
    process(spark.createDataFrame([(2, b), (3, c), (4, d)], ddl), 1)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert kept == [1, 3, 4]

    # c's k-grams are now indexed: a batch-2 doc copying c's UNIQUE
    # run heavily gets dropped even though it never saw doc 1
    e = " ".join([f"c{i}" for i in range(20)] + ["e0", "e1"])
    process(spark.createDataFrame([(5, e)], ddl), 2)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert kept == [1, 3, 4]

    # crash-replay of epoch 1: same decisions, no duplicates, no
    # self-dedup data loss
    process(spark.createDataFrame([(2, b), (3, c), (4, d)], ddl), 1)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert kept == [1, 3, 4]


def test_corpus_ingest_span_gate_off_by_default(spark, tmp_path):
    """span_k=None must leave the store layout unchanged (no kgrams
    sink) and admit the padded copier the gate exists to catch."""
    import os

    from orestes_spark.streaming.ingest import make_corpus_batch_processor

    store = str(tmp_path / "no_span_store")
    ddl = "doc_id LONG, text STRING"
    process = make_corpus_batch_processor(store)
    a_toks = [f"a{i}" for i in range(30)]
    process(spark.createDataFrame([(1, " ".join(a_toks))], ddl), 0)
    b = " ".join(a_toks[5:21] + [f"b{i}" for i in range(10)])
    process(spark.createDataFrame([(2, b)], ddl), 1)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert kept == [1, 2]  # minhash alone does not catch the copier
    assert not os.path.exists(f"{store}/kgrams")


def test_compact_corpus_store_collapses_kgrams_and_keeps_span_gate(spark, tmp_path):
    """A span-gated store's kgrams tree compacts to one distinct
    epoch=-1 baseline, and the gate's decisions are unchanged after:
    a verbatim copier of a pre-compaction doc is still dropped."""
    import os

    from orestes_spark.streaming.ingest import (
        compact_corpus_store,
        make_corpus_batch_processor,
    )

    store = str(tmp_path / "span_compact")
    ddl = "doc_id LONG, text STRING"
    process = make_corpus_batch_processor(store, span_k=6, span_max_frac=0.5)
    a_toks = [f"a{i}" for i in range(30)]
    process(spark.createDataFrame([(1, " ".join(a_toks))], ddl), 0)
    process(spark.createDataFrame([(2, " ".join(f"b{i}" for i in range(20)))], ddl), 1)
    n_distinct = spark.read.parquet(f"{store}/kgrams").select("h").distinct().count()

    out = compact_corpus_store(spark, store)
    assert out["docs"] == 2 and out["kgrams"] == n_distinct
    eps = {p for p in os.listdir(f"{store}/kgrams") if p.startswith("epoch=")}
    assert eps == {"epoch=-1"}
    # round-12: the self-describing k-gram size survives compaction,
    # so post-compaction probes still validate k (ADVICE r11 class)
    kgs = {
        r[0]
        for r in spark.read.parquet(f"{store}/kgrams").select("kg").distinct().collect()
    }
    assert kgs == {6}

    # the copier is still caught against the compacted baseline
    copier = " ".join(a_toks[5:21] + [f"z{i}" for i in range(10)])
    process(spark.createDataFrame([(9, copier)], ddl), 2)
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert kept == [1, 2]


def test_corpus_ingest_span_gate_backfills_pre_existing_store(spark, tmp_path):
    """Arming span_k on a store built WITHOUT it must backfill the
    k-gram index from the already-accepted docs (epoch=-1 baseline) —
    otherwise copiers of the pre-arming corpus would sail through the
    gate forever."""
    import os

    from orestes_spark.streaming.ingest import make_corpus_batch_processor

    store = str(tmp_path / "arm_later")
    ddl = "doc_id LONG, text STRING"
    a_toks = [f"a{i}" for i in range(30)]
    # epochs 0-1 run WITHOUT the gate
    ungated = make_corpus_batch_processor(store)
    ungated(spark.createDataFrame([(1, " ".join(a_toks))], ddl), 0)
    ungated(spark.createDataFrame([(2, " ".join(f"b{i}" for i in range(20)))], ddl), 1)
    assert not os.path.exists(f"{store}/kgrams")

    # restart with span_k armed: the copier of the EPOCH-0 doc must be
    # caught via the backfilled baseline
    gated = make_corpus_batch_processor(store, span_k=6, span_max_frac=0.5)
    copier = " ".join(a_toks[5:21] + [f"c{i}" for i in range(10)])
    gated(spark.createDataFrame([(3, copier)], ddl), 2)
    assert os.path.isdir(f"{store}/kgrams/epoch=-1")
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").select("doc_id").collect()
    )
    assert kept == [1, 2]


def test_corpus_ingest_dsir_gate_drops_off_target_docs(spark, tmp_path):
    """Fourth cross-batch modality (round 9): the QUALITY gate. The
    three dedup gates all pass a document that is merely off-target —
    novel junk sails through. With a frozen DSIR codebook and a
    dsir_floor, junk drops by per-feature mean log-ratio while
    target-like docs pass, replays are idempotent (the gate is a pure
    function of doc + frozen codebook), and the decision is identical
    whenever the doc arrives (no moving acceptance bar)."""
    from orestes_spark.streaming.ingest import (
        make_corpus_batch_processor,
        prepare_dsir_gate,
    )

    store = str(tmp_path / "dsir_store")
    ddl = "doc_id LONG, text STRING"
    tvoc = "alpha beta gamma delta epsilon zeta eta theta"
    target = spark.createDataFrame([(100 + i, tvoc) for i in range(5)], ddl)
    raw = spark.createDataFrame(
        [(200, tvoc), (201, "xray yankee zulu quebec victor whiskey foxtrot golf")],
        ddl,
    )
    prepare_dsir_gate(target, raw, store)
    process = make_corpus_batch_processor(store, dsir_floor=0.0)

    b0 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"),          # target-like: passes
         (2, "xray yankee zulu quebec victor")],          # off-target: drops
        ddl,
    )
    process(b0, 0)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1]

    # a LATER batch gets the same bar (frozen codebook, no drift) and
    # mixed docs judge by MEAN, not length
    b1 = spark.createDataFrame(
        [(3, "zeta eta theta alpha"),                     # target-like: passes
         (4, "whiskey foxtrot golf yankee zulu quebec victor xray")],  # drops
        ddl,
    )
    process(b1, 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1, 3]

    # crash-replay of epoch 1: same decisions, no duplicates
    process(b1, 1)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1, 3]


def test_corpus_ingest_dsir_gate_requires_prepared_codebook(spark, tmp_path):
    """Arming dsir_floor without prepare_dsir_gate must fail LOUDLY on
    the first batch — a quality gate that silently passes everything
    is worse than none (the engine's loud-failure convention)."""
    import pytest as _pytest

    from orestes_spark.streaming.ingest import make_corpus_batch_processor

    store = str(tmp_path / "dsir_unprepared")
    process = make_corpus_batch_processor(store, dsir_floor=0.0)
    batch = spark.createDataFrame([(1, "alpha beta")], "doc_id LONG, text STRING")
    with _pytest.raises(RuntimeError, match="prepare_dsir_gate"):
        process(batch, 0)


def test_corpus_ingest_span_gate_bucketed_matches_unbucketed(spark, tmp_path):
    """span_buckets (round-9): the bucketed kgrams layout makes the
    SAME gate decisions as the unbucketed one — pruning only skips
    buckets the batch has no k-grams in — and the tree is written
    partitioned by hb with the self-describing nb modulus."""
    import os

    from orestes_spark.streaming.ingest import make_corpus_batch_processor

    ddl = "doc_id LONG, text STRING"
    a_toks = [f"a{i}" for i in range(30)]
    a = " ".join(a_toks)
    b = " ".join(a_toks[5:21] + [f"b{i}" for i in range(10)])  # padded copier
    c = " ".join(a_toks[0:6] + [f"c{i}" for i in range(20)])   # small copy: passes
    d = " ".join(f"d{i}" for i in range(20))                    # unrelated

    kept_by_mode = {}
    for mode, buckets in (("plain", None), ("bucketed", 8)):
        store = str(tmp_path / f"span_{mode}")
        p = make_corpus_batch_processor(
            store, span_k=6, span_max_frac=0.5, span_buckets=buckets
        )
        p(spark.createDataFrame([(1, a)], ddl), 0)
        p(spark.createDataFrame([(2, b), (3, c), (4, d)], ddl), 1)
        p(spark.createDataFrame([(2, b), (3, c), (4, d)], ddl), 1)  # replay
        kept_by_mode[mode] = sorted(
            r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect()
        )
    assert kept_by_mode["plain"] == kept_by_mode["bucketed"] == [1, 3, 4]
    # bucketed layout is real: hb partition dirs + nb rides the rows
    bk = str(tmp_path / "span_bucketed/kgrams")
    assert any(e.startswith("hb=") for e in os.listdir(f"{bk}/epoch=0"))
    kdf = spark.read.parquet(bk)
    assert {"h", "hb", "nb"} <= set(kdf.columns)
    assert kdf.select("nb").first()["nb"] == 8


def test_corpus_ingest_span_buckets_layout_mismatch_raises(spark, tmp_path):
    """Arming span_buckets over an existing UNBUCKETED kgrams tree (or
    vice versa) must fail loudly — a mixed tree is unreadable — and
    compact_corpus_store(span_buckets=) is the migration: after it,
    the bucketed stream restarts cleanly and still drops a copier of
    a pre-migration doc."""
    import pytest as _pytest

    from orestes_spark.streaming.ingest import (
        compact_corpus_store,
        make_corpus_batch_processor,
    )

    ddl = "doc_id LONG, text STRING"
    store = str(tmp_path / "span_migrate")
    a_toks = [f"a{i}" for i in range(30)]
    plain = make_corpus_batch_processor(store, span_k=6, span_max_frac=0.5)
    plain(spark.createDataFrame([(1, " ".join(a_toks))], ddl), 0)

    armed = make_corpus_batch_processor(
        store, span_k=6, span_max_frac=0.5, span_buckets=8
    )
    batch1 = spark.createDataFrame(
        [(2, " ".join(a_toks[5:21] + [f"b{i}" for i in range(10)]))], ddl
    )
    with _pytest.raises(RuntimeError, match="compact_corpus_store"):
        armed(batch1, 1)

    compact_corpus_store(spark, store, span_buckets=8)
    armed(batch1, 1)  # copier of the epoch<=-1 doc: still dropped
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1]


def test_corpus_ingest_span_k_mismatch_raises_before_write(spark, tmp_path):
    """Reopening a span_k=6 store with span_k=5 must raise inside the
    probe, before the epoch writes anything: the kgrams tree keeps only
    kg=6, the docs sink gains no epoch, and compact_corpus_store still
    succeeds on the untouched store (a kg=5 epoch beside kg=6 would make
    it raise "mixes k-gram sizes")."""
    from orestes_spark.streaming.ingest import (
        compact_corpus_store,
        make_corpus_batch_processor,
    )

    ddl = "doc_id LONG, text STRING"
    store = str(tmp_path / "span_k_reopen")
    a_toks = [f"a{i}" for i in range(30)]
    k6 = make_corpus_batch_processor(store, span_k=6, span_max_frac=0.5)
    k6(spark.createDataFrame([(1, " ".join(a_toks))], ddl), 0)

    k5 = make_corpus_batch_processor(store, span_k=5, span_max_frac=0.5)
    copier = " ".join(a_toks[5:21] + [f"b{i}" for i in range(10)])
    with pytest.raises(ValueError, match="k=6"):
        k5(spark.createDataFrame([(2, copier)], ddl), 1)
    kgs = {r[0] for r in spark.read.parquet(f"{store}/kgrams").select("kg").distinct().collect()}
    assert kgs == {6}
    assert not os.path.exists(f"{store}/kgrams/epoch=1")
    assert not os.path.exists(f"{store}/docs/epoch=1")

    assert compact_corpus_store(spark, store)["docs"] == 1


def test_late_point_policy_bounded_lateness(spark, engine, tmp_path):
    """Round-10 verdict #5: the bounded-lateness stance. Epoch 0's max
    event time sets the watermark for LATER epochs (lagging, so a
    batch never filters itself — epoch 0's own old point lands);
    epoch 1's too-late point is refused and lands in the errors sink
    with the late-point reason; an on-time old point (inside the
    delay) is still accepted into its old bucket; the watermark file
    survives and is monotone + epoch-guarded under replay."""
    from orestes_spark.streaming.ingest import LatePointPolicy, make_batch_processor

    errors = str(tmp_path / "errs")
    policy = LatePointPolicy(delay_ms=60_000, wm_dir=str(tmp_path / "wm"))
    process = make_batch_processor(
        engine,
        "default",
        errors_path=errors,
        epochs_dir=str(tmp_path / "epochs"),
        late_policy=policy,
    )
    hour = 3_600_000
    # epoch 0: current points up to START+hour, plus one VERY old point
    # — no watermark exists yet, so even it is accepted (lagging rule)
    b0 = spark.createDataFrame(
        [(str(START + hour), 1.0, {"host": "a"}),
         (str(START), 0.5, {"host": "a"}),
         (str(START - 10 * hour), 0.1, {"host": "a"})],
        RAW_DDL,
    )
    process(b0, 0)
    assert policy.current() == START + hour - 60_000
    n_after_b0 = engine.read(None, "default", 0, START + 10 * hour, grouped=False).count()
    assert n_after_b0 == 3  # all three accepted — including the very old point
    # epoch 1: one too-late point (before wm), one inside-delay point,
    # one current point
    b1 = spark.createDataFrame(
        [(str(START), 9.9, {"host": "late"}),                     # < wm: refused
         (str(START + hour - 30_000), 2.0, {"host": "a"}),        # >= wm: accepted
         (str(START + 2 * hour), 3.0, {"host": "a"})],
        RAW_DDL,
    )
    process(b1, 1)
    assert policy.current() == START + 2 * hour - 60_000
    got = {
        (r["time_ms"], r["value"])
        for r in engine.read(None, "default", 0, START + 10 * hour, grouped=False)
        .select("time_ms", "value")
        .collect()
    }
    assert (START, 9.9) not in got  # refused
    assert (START + hour - 30_000, 2.0) in got  # inside delay: accepted
    assert (START + 2 * hour, 3.0) in got
    errs = spark.read.parquet(errors)
    late = errs.where(F.col("error").startswith("late point past watermark")).collect()
    assert len(late) == 1 and late[0]["value"] == 9.9 and late[0]["epoch"] == 1
    # replay of epoch 1: marker skips it, watermark unchanged
    process(b1, 1)
    assert policy.current() == START + 2 * hour - 60_000
    # direct advance with a stale seq is a no-op; a regressive max too
    policy.advance(START, 1)
    assert policy.current() == START + 2 * hour - 60_000
    policy.advance(START, 2)  # newer epoch, older max: monotone hold
    assert policy.current() == START + 2 * hour - 60_000


def test_late_policy_default_is_reference_parity(spark, engine, tmp_path):
    """No policy → the reference stance: any timestamp is accepted
    into its (old) bucket, no watermark state appears anywhere."""
    from orestes_spark.streaming.ingest import make_batch_processor

    process = make_batch_processor(engine, "default", epochs_dir=str(tmp_path / "e2"))
    process(spark.createDataFrame([(str(START + 10**9), 1.0, {"h": "x"})], RAW_DDL), 0)
    process(spark.createDataFrame([(str(START - 10**9), 2.0, {"h": "x"})], RAW_DDL), 1)
    assert (
        engine.read(None, "default", START - 2 * 10**9, START + 2 * 10**9, grouped=False).count()
        == 2
    )
    assert not list(tmp_path.glob("**/watermark.json"))


def test_start_ingest_late_policy_requires_checkpoint(spark, engine):
    import pytest

    from orestes_spark.streaming import start_ingest

    stream = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
        .selectExpr("CAST(timestamp AS STRING) AS time", "CAST(value AS DOUBLE) AS value",
                    "map('h', 'x') AS tags")
    )
    with pytest.raises(ValueError, match="checkpoint"):
        start_ingest(engine, stream, max_lateness_ms=1000)


def test_late_point_soak_matches_lagging_watermark_spec(spark, engine, tmp_path):
    """20-epoch late-point soak: each epoch carries one current point
    and one straggler reaching ever further back. Accepted/refused per
    epoch must match a pure-Python mirror of the documented lagging
    watermark (filter with the PREVIOUS epoch's wm, then advance) —
    pinning the stance, not just one boundary."""
    from orestes_spark.streaming.ingest import LatePointPolicy, make_batch_processor

    delay = 5_000
    policy = LatePointPolicy(delay_ms=delay, wm_dir=str(tmp_path / "wm3"))
    errors = str(tmp_path / "errs3")
    process = make_batch_processor(
        engine, "default", errors_path=errors,
        epochs_dir=str(tmp_path / "e3"), late_policy=policy,
    )
    wm_spec = None
    expect_accept, expect_late = [], []
    for e in range(20):
        cur = START + e * 10_000
        straggler = cur - e * 3_000 - 1  # distinct ts, further back each epoch
        rows = [(str(cur), float(e), {"h": "s"}), (str(straggler), float(e) + 0.5, {"h": "s"})]
        for t, v, _ in rows:
            (expect_late if wm_spec is not None and int(t) < wm_spec else expect_accept).append((int(t), v))
        batch_max = max(int(t) for t, _, _ in rows if wm_spec is None or int(t) >= wm_spec)
        wm_spec = max(wm_spec or -(10**18), batch_max - delay)
        process(spark.createDataFrame(rows, RAW_DDL), e)
        assert policy.current() == wm_spec, f"epoch {e}"
    got = {
        (r["time_ms"], r["value"])
        for r in engine.read(None, "default", 0, START + 10**9, grouped=False)
        .select("time_ms", "value").collect()
    }
    assert got == set(expect_accept)
    late_rows = {
        (int(r["time_ms"]), r["value"])
        for r in spark.read.parquet(errors)
        .where(F.col("error").startswith("late point")).collect()
    }
    assert late_rows == set(expect_late) and late_rows  # stragglers really refused


def test_corpus_ingest_quality_model_gate(spark, tmp_path):
    """FIFTH cross-batch modality (round-10): the MODEL-BASED quality
    gate. A frozen NB classifier trained on a labeled prose-vs-spam
    seed drops spam-like docs at the keep boundary (floor 0.0) while
    prose-like docs pass; later batches get the SAME bar (frozen
    model); replays are idempotent; arming without preparing raises."""
    import pytest

    from orestes_spark.streaming.ingest import (
        make_corpus_batch_processor,
        prepare_quality_gate,
    )

    store = str(tmp_path / "qm_store")
    ddl = "doc_id LONG, text STRING"
    prose = "the quick study found that careful reading of the report improves results"
    spam = "buy cheap pills casino winner click here free money jackpot prize claim"
    seed = spark.createDataFrame(
        [(100, prose), (101, prose + " again"), (102, spam), (103, spam + " now")],
        ddl,
    )
    labels = spark.createDataFrame(
        [(100, True), (101, True), (102, False), (103, False)],
        "doc_id LONG, label BOOLEAN",
    )
    # arming before preparing fails loudly
    unprepared = make_corpus_batch_processor(store, quality_floor=0.0)
    with pytest.raises(RuntimeError, match="prepare_quality_gate"):
        unprepared(spark.createDataFrame([(1, prose)], ddl), 0)

    prepare_quality_gate(seed, labels, store)
    process = make_corpus_batch_processor(store, quality_floor=0.0)
    b0 = spark.createDataFrame(
        [(1, "careful reading of the report improves the study results"),  # prose-like
         (2, "free casino pills jackpot click winner money prize")],        # spam-like
        ddl,
    )
    process(b0, 0)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1]
    # same frozen bar for a later batch; replay idempotent
    b1 = spark.createDataFrame(
        [(3, "the team report and the careful study"),
         (4, "cheap pills casino claim winner jackpot")],
        ddl,
    )
    process(b1, 1)
    process(b1, 1)  # replay
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1, 3]


def test_corpus_ingest_ppl_gate(spark, tmp_path):
    """SIXTH cross-batch modality: the PERPLEXITY gate. A frozen
    bigram LM trained on a reference corpus drops high-avg-NLL
    (non-fluent) docs at the ceiling while target-like docs pass;
    later batches see the SAME frozen bar; replays are idempotent;
    short (<2-token) docs pass on no evidence; arming without
    preparing raises."""
    import pytest

    from orestes_spark.streaming.ingest import (
        make_corpus_batch_processor,
        prepare_ppl_gate,
    )

    store = str(tmp_path / "ppl_store")
    ddl = "doc_id LONG, text STRING"
    ref = "the cat sat on the mat and the dog ran to the cat on the mat"
    target = spark.createDataFrame([(i, ref) for i in range(100, 105)], ddl)

    unprepared = make_corpus_batch_processor(store, ppl_ceiling=5.0)
    with pytest.raises(RuntimeError, match="prepare_ppl_gate"):
        unprepared(spark.createDataFrame([(1, ref)], ddl), 0)

    prepare_ppl_gate(target, store, vocab_size=16)
    # fluent doc scores ~1.28, pure-OOV noise ~2.83 (= ln(V+1) with
    # ctx(0)=0): the ceiling sits between them
    process = make_corpus_batch_processor(store, ppl_ceiling=2.0)
    b0 = spark.createDataFrame(
        [(1, "the cat sat on the mat"),                    # fluent under the LM
         (2, "zzz qqq www uuu vvv kkk yyy xxx ppp"),       # OOV noise: high NLL
         (3, "solo")],                                       # no bigrams: passes
        ddl,
    )
    process(b0, 0)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1, 3]
    # frozen bar for a later batch + idempotent replay
    b1 = spark.createDataFrame(
        [(4, "the dog ran to the mat"),
         (5, "jjj hhh ggg fff ddd sss aaa lll mmm")],
        ddl,
    )
    process(b1, 1)
    process(b1, 1)  # replay
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1, 3, 4]


def test_gate_stats_recorded_per_epoch(spark, tmp_path):
    """Round-11 (VERDICT r10 #3): arming any frozen quality gate makes
    the processor record per-epoch (gate, n_scored, n_dropped) rows —
    the measured signal the drift trigger reads — replay-idempotent
    like every other sink."""
    from orestes_spark.streaming.ingest import (
        make_corpus_batch_processor,
        prepare_dsir_gate,
        read_gate_stats,
    )

    store = str(tmp_path / "stats_store")
    ddl = "doc_id LONG, text STRING"
    tvoc = "alpha beta gamma delta epsilon zeta eta theta"
    target = spark.createDataFrame([(100 + i, tvoc) for i in range(5)], ddl)
    raw = spark.createDataFrame(
        [(200, tvoc), (201, "nova quasar pulsar comet meteor nebula")], ddl
    )
    prepare_dsir_gate(target, raw, store)
    process = make_corpus_batch_processor(store, dsir_floor=0.0)
    process(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "nova quasar pulsar")], ddl
        ),
        0,
    )
    stats = {
        (r["epoch"], r["gate"]): (r["n_scored"], r["n_dropped"])
        for r in read_gate_stats(spark, store).collect()
    }
    assert stats[(0, "dsir")] == (2, 1)
    assert stats[(0, "overall")] == (2, 1)
    # replay overwrites its own epoch partition — no duplicate rows
    process(
        spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "nova quasar pulsar")], ddl
        ),
        0,
    )
    assert read_gate_stats(spark, store).count() == 2


def test_text_gate_retrain_if_trigger_noop_and_recovery(spark, tmp_path):
    """The frozen-gate staleness policy (round-11, VERDICT r10 #3,
    mirroring requantize_if): a distribution shift drives the DSIR
    gate's measured acceptance to ~0 → the trigger fires; with no
    retrain source it reports only; with one it retrains from the
    CURRENT reference data, swaps the codebook atomically, and the
    shifted distribution is accepted again (recovery)."""
    from orestes_spark.streaming.ingest import (
        make_corpus_batch_processor,
        prepare_dsir_gate,
        text_gate_retrain_if,
    )

    store = str(tmp_path / "drift_store")
    ddl = "doc_id LONG, text STRING"
    voc_a = "alpha beta gamma delta epsilon zeta eta theta"
    voc_b = "nova quasar pulsar comet meteor nebula"
    target_a = spark.createDataFrame([(100 + i, voc_a) for i in range(5)], ddl)
    raw_mix = spark.createDataFrame([(200, voc_a), (201, voc_b)], ddl)
    prepare_dsir_gate(target_a, raw_mix, store)
    process = make_corpus_batch_processor(store, dsir_floor=0.0)

    process(spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")], ddl), 0)
    # the corpus SHIFTS: epochs 1-2 are all vocabulary-B docs
    process(spark.createDataFrame(
        [(3, "nova quasar pulsar"), (4, "comet meteor nebula")], ddl), 1)
    process(spark.createDataFrame(
        [(5, "pulsar nebula comet"), (6, "meteor nova quasar comet")], ddl), 2)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert kept == [1, 2], kept  # the frozen gate rejects the shift

    # no-op: recent acceptance 0/4 is still above a 0.0-floor band
    res = text_gate_retrain_if(spark, store, accept_floor=0.0, window=2)
    assert res["dsir"]["triggered"] is False and res["dsir"]["retrained"] is False

    # trigger without a source: reported, not retrained
    res = text_gate_retrain_if(spark, store, accept_floor=0.5, window=2)
    assert res["dsir"]["rate"] == 0.0 and res["dsir"]["triggered"] is True
    assert res["dsir"]["retrained"] is False

    # trigger WITH a source: retrain on the current reference and swap
    target_b = spark.createDataFrame([(300 + i, voc_b) for i in range(5)], ddl)
    res = text_gate_retrain_if(
        spark, store, accept_floor=0.5, window=2, dsir=(target_b, raw_mix)
    )
    assert res["dsir"]["retrained"] is True
    import os

    assert not os.path.exists(f"{store}/dsir_wq.old")  # swap completed clean
    assert not os.path.exists(f"{store}/.gate_retrain")

    # recovery: the SAME shifted distribution now passes the gate
    process(spark.createDataFrame(
        [(7, "nova comet nebula"), (8, "quasar meteor pulsar nova")], ddl), 3)
    kept = sorted(r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect())
    assert 7 in kept and 8 in kept


def test_text_gate_retrain_if_ppl_and_quality_paths(spark, tmp_path):
    """The drift trigger's OTHER two artifact paths (round-11): a
    shifted corpus under the frozen bigram LM (all-OOV → ceiling
    drops) and under the frozen NB quality model both trigger on
    measured acceptance, retrain from current reference data with the
    config read from the OLD artifact (featurization can't silently
    change), and atomically swap — the bigram_lm swap moves the whole
    three-frame directory as a unit."""
    from orestes_spark.streaming.ingest import (
        make_corpus_batch_processor,
        prepare_ppl_gate,
        prepare_quality_gate,
        text_gate_retrain_if,
    )

    ddl = "doc_id LONG, text STRING"
    ref_a = "the cat sat on the mat and the dog ran to the cat on the mat"
    ref_b = "nova quasar comet nova pulsar comet nova quasar comet nova"

    # --- ppl path ---
    store = str(tmp_path / "ppl_drift")
    target_a = spark.createDataFrame([(100 + i, ref_a) for i in range(5)], ddl)
    prepare_ppl_gate(target_a, store, vocab_size=16)
    process = make_corpus_batch_processor(store, ppl_ceiling=2.0)
    process(spark.createDataFrame(
        [(1, "nova quasar comet nova"), (2, "comet nova pulsar comet quasar")],
        ddl), 0)
    assert spark.read.parquet(f"{store}/docs").count() == 0  # all dropped
    res = text_gate_retrain_if(spark, store, accept_floor=0.5, window=2)
    assert res["ppl"]["rate"] == 0.0 and res["ppl"]["triggered"]
    assert not res["ppl"]["retrained"]  # no source supplied
    target_b = spark.createDataFrame([(200 + i, ref_b) for i in range(5)], ddl)
    res = text_gate_retrain_if(spark, store, accept_floor=0.5, window=2, ppl=target_b)
    assert res["ppl"]["retrained"]
    # vocab_size carried from the old artifact: 16 + 1 fallback rows
    assert spark.read.parquet(f"{store}/bigram_lm/fb").count() == 17
    process(spark.createDataFrame(
        [(3, "nova quasar comet nova pulsar")], ddl), 1)
    kept = [r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect()]
    assert kept == [3]  # recovery under the retrained LM

    # --- quality (NB classifier) path ---
    qstore = str(tmp_path / "q_drift")
    docs = spark.createDataFrame(
        [(i, ref_a + f" v{i}") for i in range(6)]
        + [(10 + i, ref_b + f" w{i}") for i in range(6)], ddl)
    labels = spark.createDataFrame(
        [(i, True) for i in range(6)] + [(10 + i, False) for i in range(6)],
        "doc_id LONG, label BOOLEAN",
    )
    prepare_quality_gate(docs, labels, qstore, buckets=512, salt="qdrift")
    qproc = make_corpus_batch_processor(qstore, quality_floor=0.0)
    qproc(spark.createDataFrame(
        [(20, "nova quasar comet pulsar"), (21, "comet pulsar nova quasar nova")],
        ddl), 0)
    assert spark.read.parquet(f"{qstore}/docs").count() == 0
    flipped = labels.select("doc_id", (~labels["label"]).alias("label"))
    res = text_gate_retrain_if(
        spark, qstore, accept_floor=0.5, window=1, quality=(docs, flipped)
    )
    assert res["quality"]["triggered"] and res["quality"]["retrained"]
    # featurization pinned from the old artifact
    m = spark.read.parquet(f"{qstore}/quality_model").select("nb", "salt").first()
    assert (m["nb"], m["salt"]) == (512, "qdrift")
    qproc(spark.createDataFrame(
        [(22, "nova quasar comet pulsar nebula")], ddl), 1)
    kept = [r["doc_id"] for r in spark.read.parquet(f"{qstore}/docs").collect()]
    assert kept == [22]


def test_media_ingest_cross_batch_perceptual_dedup(spark, tmp_path):
    """Round-11: the MEDIA ingest gate — within-batch banded-Hamming
    keep-min, cross-batch probe of the durable dHash band index (a
    2x-resized re-encode of an accepted image never re-enters),
    same-id re-delivery drop, and epoch-replay idempotence."""
    from orestes_spark.operators import multimodal as mm
    from orestes_spark.streaming.ingest import make_media_batch_processor

    store = str(tmp_path / "media_store")
    process = make_media_batch_processor(store)

    def img(text):
        return mm.synth_ppm_img(text)

    def up(payload):
        m = mm.decode_image(payload)
        return mm.resize_ppm(payload, 2 * m["width"], 2 * m["height"])

    ddl = "media_id LONG, content BINARY"
    a, b = img("first image"), img("second image")
    # batch 0: two originals + an in-batch near-dup of A under a
    # higher id -> keep-min keeps 1, drops 3
    process(spark.createDataFrame([(1, a), (2, b), (3, up(a))], ddl), 0)
    kept = sorted(
        r["media_id"] for r in spark.read.parquet(f"{store}/media").collect()
    )
    assert kept == [1, 2]

    # batch 1: a resized re-encode of B (new id) -> cross-batch drop;
    # a same-id re-delivery of 1 -> drop; a novel image -> accepted
    c = img("third, novel image")
    process(spark.createDataFrame([(10, up(b)), (1, a), (11, c)], ddl), 1)
    kept = sorted(
        r["media_id"] for r in spark.read.parquet(f"{store}/media").collect()
    )
    assert kept == [1, 2, 11]

    # crash-replay of epoch 1: same decisions, no duplicates
    process(spark.createDataFrame([(10, up(b)), (1, a), (11, c)], ddl), 1)
    kept = sorted(
        r["media_id"] for r in spark.read.parquet(f"{store}/media").collect()
    )
    assert kept == [1, 2, 11]
    # the band index carries exactly the accepted ids
    idx_ids = sorted(
        r["_id"]
        for r in spark.read.parquet(f"{store}/phash_bands").select("_id").distinct().collect()
    )
    assert idx_ids == [1, 2, 11]


def test_start_media_ingest_matches_batch_processor(spark, tmp_path):
    """start_media_ingest streams parquet files of attach_ppm_pair
    media through the image gate: each base/upscale pair keeps its
    base, a later re-delivery and re-encode of an accepted image is
    dropped, and the stored media ids equal those the batch processor
    stores from the same rows."""
    from orestes_spark.operators import multimodal as mm
    from orestes_spark.streaming.ingest import (
        make_media_batch_processor,
        start_media_ingest,
    )

    def pairs(rows):
        docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
        return mm.attach_ppm_pair(docs, "doc_id", "text").select("media_id", "content")

    batches = [
        pairs([(i, f"streamed image {i} {'q ' * i}") for i in range(4)]),
        pairs([(0, "streamed image 0 "), (5, "a later, novel image")]),
    ]
    src = tmp_path / "media_src"
    stream = spark.readStream.schema("media_id LONG, content BINARY").parquet(
        str(src / "*")
    )
    store = str(tmp_path / "stream_store")
    q = start_media_ingest(stream, store, checkpoint=str(tmp_path / "ckpt"))
    try:
        for k, batch in enumerate(batches):
            batch.write.parquet(str(src / f"b{k}"))
            q.processAllAvailable()
    finally:
        q.stop()

    def stored(root):
        return sorted(r["media_id"] for r in spark.read.parquet(f"{root}/media").collect())

    twin = str(tmp_path / "batch_store")
    process = make_media_batch_processor(twin)
    for epoch, batch in enumerate(batches):
        process(batch, epoch)
    assert stored(store) == stored(twin) == [0, 2, 4, 6, 10]


def test_text_gate_retrain_if_zero_scored_window_surfaces(spark, tmp_path):
    """Round-12 (ADVICE r11): a gate that scored ZERO docs across the
    window (everything consumed upstream — a fully-collapsed stream)
    must surface, not report a healthy 1.0: rate=None, triggered=True
    with reason="no_scored_docs", and never retrained (the collapse
    is upstream of the gate, so a new artifact changes nothing)."""
    from orestes_spark.streaming.ingest import text_gate_retrain_if

    store = str(tmp_path / "collapsed_store")
    spark.createDataFrame(
        [("quality", 0, 0), ("dsir", 4, 1)],
        "gate STRING, n_scored LONG, n_dropped LONG",
    ).write.parquet(f"{store}/gate_stats/epoch=0")

    docs = spark.createDataFrame([(1, "a b c")], "doc_id LONG, text STRING")
    labels = spark.createDataFrame([(1, 1)], "doc_id LONG, label INT")
    res = text_gate_retrain_if(
        spark, store, accept_floor=0.5, window=3, quality=(docs, labels)
    )
    q = res["quality"]
    assert q["rate"] is None
    assert q["triggered"] is True
    assert q["reason"] == "no_scored_docs"
    assert q["retrained"] is False
    # the scored gate still evaluates normally (3/4 above the floor)
    assert res["dsir"]["rate"] == 0.75 and res["dsir"]["triggered"] is False
    import os

    assert not os.path.exists(f"{store}/.gate_retrain")  # no churn


def test_media_ingest_video_modality_cross_batch_dedup(spark, tmp_path):
    """Round-12 (VERDICT r11 #1): the VIDEO media gate — within-batch
    aligned-frame keep-min, cross-batch probe of the durable unit
    index (a frame-by-frame 2x upscale of an accepted container never
    re-enters), same-id re-delivery drop, epoch-replay idempotence."""
    from orestes_spark.operators import multimodal as mm
    from orestes_spark.streaming.ingest import make_media_batch_processor

    store = str(tmp_path / "video_store")
    process = make_media_batch_processor(store, modality="video")

    def upv(payload):
        # a real re-encode: demux, 2x-upscale every frame through the
        # real resize kernel, remux into a fresh PV container
        frames = mm.decode_video(payload)
        outs = []
        for fr in frames:
            m = mm.decode_image(fr)
            outs.append(mm.resize_ppm(fr, 2 * m["width"], 2 * m["height"]))
        return f"PV{len(outs)}\n".encode() + b"".join(outs)

    ddl = "media_id LONG, content BINARY"
    a, b = mm.synth_video("first clip"), mm.synth_video("second clip")
    # batch 0: two originals + an in-batch upscaled dup of A
    process(spark.createDataFrame([(1, a), (2, b), (3, upv(a))], ddl), 0)
    kept = sorted(r["media_id"] for r in spark.read.parquet(f"{store}/media").collect())
    assert kept == [1, 2]

    # batch 1: upscaled re-encode of B (new id) -> cross-batch drop;
    # same-id re-delivery of 1 -> drop; novel clip -> accepted
    c = mm.synth_video("third, novel clip")
    process(spark.createDataFrame([(10, upv(b)), (1, a), (11, c)], ddl), 1)
    kept = sorted(r["media_id"] for r in spark.read.parquet(f"{store}/media").collect())
    assert kept == [1, 2, 11]

    # crash-replay of epoch 1: same decisions, no duplicates
    process(spark.createDataFrame([(10, upv(b)), (1, a), (11, c)], ddl), 1)
    kept = sorted(r["media_id"] for r in spark.read.parquet(f"{store}/media").collect())
    assert kept == [1, 2, 11]
    idx_ids = sorted(
        r["media_id"]
        for r in spark.read.parquet(f"{store}/unit_sigs")
        .select("media_id").distinct().collect()
    )
    assert idx_ids == [1, 2, 11]


def test_media_ingest_audio_modality_cross_batch_dedup(spark, tmp_path):
    """Round-12 (VERDICT r11 #1): the AUDIO media gate — a re-render
    with different waveform micro-structure (same loudness envelope)
    is dropped in-batch and cross-batch; novel audio is accepted;
    replay is idempotent."""
    from orestes_spark.operators import multimodal as mm
    from orestes_spark.streaming.ingest import make_media_batch_processor

    store = str(tmp_path / "audio_store")
    process = make_media_batch_processor(store, modality="audio")

    ddl = "media_id LONG, content BINARY"
    a1 = mm.synth_wav_segments("first track", "h1")
    a2 = mm.synth_wav_segments("first track", "h2")  # re-render of a1
    b1 = mm.synth_wav_segments("second track", "h1")
    process(spark.createDataFrame([(1, a1), (2, b1), (3, a2)], ddl), 0)
    kept = sorted(r["media_id"] for r in spark.read.parquet(f"{store}/media").collect())
    assert kept == [1, 2]

    b2 = mm.synth_wav_segments("second track", "h2")
    c1 = mm.synth_wav_segments("third, novel track", "h1")
    process(spark.createDataFrame([(10, b2), (1, a1), (11, c1)], ddl), 1)
    kept = sorted(r["media_id"] for r in spark.read.parquet(f"{store}/media").collect())
    assert kept == [1, 2, 11]

    process(spark.createDataFrame([(10, b2), (1, a1), (11, c1)], ddl), 1)
    kept = sorted(r["media_id"] for r in spark.read.parquet(f"{store}/media").collect())
    assert kept == [1, 2, 11]


def test_corpus_rejects_manifest_records_first_drop_reason(spark, tmp_path):
    """The rejects sink (round-12, streaming twin of doc_keep_manifest):
    every dropped doc lands in <store>/rejects with the FIRST gate
    that dropped it — within-batch minhash loser, re-delivered
    accepted id, and cross-batch near-dup each get their named
    reason; accepted docs never appear."""
    from orestes_spark.streaming.ingest import make_corpus_batch_processor

    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = "the quick brown fox jumps over the lazy cat again and again today"
    other = "completely different content about spark query engines and shuffles"
    store = str(tmp_path / "store")
    ddl = "doc_id LONG, text STRING"
    process = make_corpus_batch_processor(store, rejects=True)

    # epoch 0: exact in-batch dup (2 loses to 1) + an unrelated accept
    process(spark.createDataFrame([(1, base), (2, base), (10, other)], ddl), 0)
    # epoch 1: near-copy of accepted doc 1 + re-delivery of id 10
    process(spark.createDataFrame([(20, near), (10, other)], ddl), 1)

    rej = {
        (r["doc_id"], r["epoch"]): r["reason"]
        for r in spark.read.parquet(f"{store}/rejects").collect()
    }
    assert rej == {
        (2, 0): "batch_neardup",
        (10, 1): "redelivery",
        (20, 1): "corpus_neardup",
    }
    accepted = sorted(
        r["doc_id"] for r in spark.read.parquet(f"{store}/docs").collect()
    )
    assert accepted == [1, 10]


def test_corpus_rejects_manifest_replay_idempotent_and_gate_reasons(spark, tmp_path):
    """A replayed epoch overwrites its own rejects partition (no
    duplicate audit rows), and a frozen-gate drop carries the gate's
    name as its reason."""
    from orestes_spark.streaming.ingest import (
        make_corpus_batch_processor,
        prepare_dsir_gate,
    )

    tgt = [(100 + i, f"spark shuffle partition join optimizer stage {i}") for i in range(8)]
    raw = tgt + [(200 + i, f"casino bonus lottery jackpot winner prize {i}") for i in range(8)]
    ddl = "doc_id LONG, text STRING"
    store = str(tmp_path / "store")
    prepare_dsir_gate(
        spark.createDataFrame(tgt, ddl), spark.createDataFrame(raw, ddl), store
    )
    process = make_corpus_batch_processor(store, dsir_floor=0.0, rejects=True)
    batch = spark.createDataFrame(
        [(1, "spark shuffle partition join optimizer stage work"),
         (2, "casino bonus lottery jackpot winner prize money")],
        ddl,
    )
    process(batch, 0)
    process(batch, 0)  # replay: same epoch re-offered
    rows = spark.read.parquet(f"{store}/rejects").collect()
    assert [(r["doc_id"], r["reason"], r["epoch"]) for r in rows] == [(2, "dsir", 0)]


def test_media_ingest_bucketized_index_same_decisions(spark, tmp_path):
    """Round-13 (VERDICT r12 #1): arming ``index_buckets`` on the
    media gates changes the durable index LAYOUT (hb-partitioned
    epochs, partition-pruned probes), never the DECISIONS — video
    aligned-unit gate and image banded-dHash gate both make the
    bucketed store's keep set identical to the plain store's, across
    cross-batch dedup, re-delivery and replay; and a mixed layout
    (re-opening the store with a different setting) raises."""
    import pytest

    from orestes_spark.operators import multimodal as mm
    from orestes_spark.streaming.ingest import make_media_batch_processor

    ddl = "media_id LONG, content BINARY"

    def upv(payload):
        frames = mm.decode_video(payload)
        outs = []
        for fr in frames:
            m = mm.decode_image(fr)
            outs.append(mm.resize_ppm(fr, 2 * m["width"], 2 * m["height"]))
        return f"PV{len(outs)}\n".encode() + b"".join(outs)

    a, b, c = (
        mm.synth_video("first clip"),
        mm.synth_video("second clip"),
        mm.synth_video("third, novel clip"),
    )
    kept_by_mode = {}
    for buckets in (None, 8):
        store = str(tmp_path / f"video_store_{buckets}")
        process = make_media_batch_processor(
            store, modality="video", index_buckets=buckets
        )
        process(spark.createDataFrame([(1, a), (2, b), (3, upv(a))], ddl), 0)
        process(spark.createDataFrame([(10, upv(b)), (1, a), (11, c)], ddl), 1)
        process(spark.createDataFrame([(10, upv(b)), (1, a), (11, c)], ddl), 1)
        kept_by_mode[buckets] = sorted(
            r["media_id"]
            for r in spark.read.parquet(f"{store}/media").collect()
        )
        if buckets:
            idx = spark.read.parquet(f"{store}/unit_sigs")
            assert "hb" in idx.columns and "nb" in idx.columns
            # layout flip on an existing store must refuse, not scan wrong
            bad = make_media_batch_processor(store, modality="video")
            with pytest.raises(ValueError, match="mixed layout"):
                bad(spark.createDataFrame([(99, c)], ddl), 2)
    assert kept_by_mode[None] == kept_by_mode[8] == [1, 2, 11]

    # image gate: same parity on the banded-dHash store
    ia, ib = mm.synth_ppm_img("image one"), mm.synth_ppm_img("image two")
    iup = mm.resize_ppm(ia, 2 * mm.decode_image(ia)["width"], 2 * mm.decode_image(ia)["height"])
    kept_by_mode = {}
    for buckets in (None, 8):
        store = str(tmp_path / f"img_store_{buckets}")
        process = make_media_batch_processor(store, index_buckets=buckets)
        process(spark.createDataFrame([(1, ia), (2, ib)], ddl), 0)
        process(spark.createDataFrame([(10, iup), (1, ia)], ddl), 1)
        kept_by_mode[buckets] = sorted(
            r["media_id"]
            for r in spark.read.parquet(f"{store}/media").collect()
        )
    assert kept_by_mode[None] == kept_by_mode[8] == [1, 2]


@pytest.mark.parametrize(
    "modality,tree", [("image", "phash_bands"), ("video", "unit_sigs"), ("audio", "unit_sigs")]
)
def test_media_ingest_reopen_with_other_modulus_raises_before_write(
    spark, tmp_path, modality, tree
):
    """A media store built with index_buckets=8 and reopened with 16
    must refuse the next batch inside the probe, before the epoch
    writes anything: the tree keeps nb={8} alone (a second modulus
    would make every later probe raise), and the store still commits
    under its own setting."""
    from orestes_spark.operators import multimodal as mm
    from orestes_spark.streaming.ingest import make_media_batch_processor

    synth = {
        "image": mm.synth_ppm_img,
        "video": mm.synth_video,
        "audio": mm.synth_wav_segments,
    }[modality]
    ddl = "media_id LONG, content BINARY"
    store = str(tmp_path / f"{modality}_store")
    make_media_batch_processor(store, modality=modality, index_buckets=8)(
        spark.createDataFrame([(1, synth("first item")), (2, synth("second item"))], ddl), 0
    )
    reopened = make_media_batch_processor(store, modality=modality, index_buckets=16)
    with pytest.raises(ValueError, match="was built with buckets=8"):
        reopened(spark.createDataFrame([(3, synth("third item"))], ddl), 1)
    for sink in ("media", tree):
        assert not os.path.exists(f"{store}/{sink}/epoch=1")
    nbs = {r["nb"] for r in spark.read.parquet(f"{store}/{tree}").select("nb").distinct().collect()}
    assert nbs == {8}

    make_media_batch_processor(store, modality=modality, index_buckets=8)(
        spark.createDataFrame([(3, synth("third item"))], ddl), 1
    )
    assert os.path.exists(f"{store}/{tree}/epoch=1")
    kept = sorted(r["media_id"] for r in spark.read.parquet(f"{store}/media").collect())
    assert kept == [1, 2, 3]
