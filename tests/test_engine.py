"""Model-based engine tests — the reference's own test strategy
(SURVEY.md §5): generate synthetic points, compute expected answers with
a plain-Python model, write via the engine, assert reads match."""

from __future__ import annotations

import random
from collections import defaultdict

import pytest

MS_IN_DAY = 86_400_000
START = 1_700_000_000_000  # fixed epoch-ms base → deterministic buckets


def generate_points(count, start=START, interval=1, tag_values=None):
    """Port of the reference generator semantics
    (/root/reference/test/orestes-test-utils.js:26-53): tag k of point i
    = values[i % len(values)], value = randint(0,100)."""
    tag_values = tag_values or {"name": ["test"]}
    rng = random.Random(42)
    pts = []
    for i in range(count):
        pt = {"time": start + i * interval, "value": float(rng.randint(0, 100))}
        for k, vals in tag_values.items():
            pt[k] = vals[i % len(vals)]
        pts.append(pt)
    return pts


def series_id(tags):
    return ",".join(f"{k}={v}" for k, v in sorted(tags.items()))


def model_series(points, pred=lambda t: True, start=0, end=None):
    """Expected read output: series_id -> (tags, [(ms, value)...])."""
    out = defaultdict(list)
    tag_of = {}
    for p in points:
        tags = {k: str(v) for k, v in p.items() if k not in ("time", "value")}
        if not pred(tags):
            continue
        if p["time"] < start or (end is not None and p["time"] >= end):
            continue
        sid = series_id(tags)
        tag_of[sid] = tags
        out[sid].append((p["time"], p["value"]))
    return {sid: (tag_of[sid], sorted(pts)) for sid, pts in out.items()}


def read_as_model(engine, es_filter=None, space="default", start=0, end=None):
    rows = engine.read(es_filter, space, start, end if end is not None else START + 10**10).collect()
    return {
        series_id(r["tags"]): (dict(r["tags"]), [(p["time_ms"], p["value"]) for p in r["points"]])
        for r in rows
    }


THREE_TAGS = {"host": ["a", "b", "c"], "pop": ["d", "e", "f", "g"], "bananas": ["one", "two", "three", "four", "five"]}


def test_single_point_roundtrip(engine):
    errors = engine.write([{"time": START, "value": 1.0, "name": "test"}])
    assert errors == []
    got = read_as_model(engine)
    assert got == {"name=test": ({"name": "test"}, [(START, 1.0)])}


def test_multi_series_roundtrip(engine):
    pts = generate_points(120, tag_values=THREE_TAGS)
    assert engine.write(pts) == []
    assert read_as_model(engine) == model_series(pts)
    # 3*4*5 = 60 distinct series
    assert engine.get_stream_list().count() == 60


def test_filtered_read(engine):
    pts = generate_points(100, tag_values=THREE_TAGS)
    engine.write(pts)
    got = read_as_model(engine, {"term": {"host": "a"}})
    assert got == model_series(pts, pred=lambda t: t.get("host") == "a")


def test_time_range_inclusive_exclusive(engine):
    pts = generate_points(10, interval=1000)
    engine.write(pts)
    # [start+2s, start+5s) → points 2,3,4
    got = read_as_model(engine, start=START + 2000, end=START + 5000)
    exp = model_series(pts, start=START + 2000, end=START + 5000)
    assert got == exp
    assert len(next(iter(got.values()))[1]) == 3


def test_multi_day_bucketing_and_dedup(engine):
    # 100 points over 10 days → series span many buckets; read must
    # return each series exactly once (D1).
    pts = generate_points(100, start=START - 10 * MS_IN_DAY, interval=MS_IN_DAY // 10, tag_values={"host": ["a", "b", "c"]})
    engine.write(pts)
    got = read_as_model(engine)
    assert got == model_series(pts)
    assert len(got) == 3


def test_count_aggregation(engine):
    pts = generate_points(1000, tag_values=THREE_TAGS)
    engine.write(pts)
    exp = {sid: len(p) for sid, (_, p) in model_series(pts).items()}
    got = {series_id(r["tags"]): r["count"] for r in engine.count_points().collect()}
    assert got == exp
    # filtered count
    exp_f = {sid: len(p) for sid, (_, p) in model_series(pts, pred=lambda t: t.get("host") == "a").items()}
    got_f = {series_id(r["tags"]): r["count"] for r in engine.count_points({"term": {"host": "a"}}).collect()}
    assert got_f == exp_f


def test_generalized_aggregations(engine):
    import statistics

    pts = generate_points(200, tag_values={"host": ["a", "b"]})
    engine.write(pts)
    rows = engine.aggregate_points(["count", "avg", "min", "max", "sum", "stdev"]).collect()
    model = model_series(pts)
    for r in rows:
        sid = series_id(r["tags"])
        vals = [v for _, v in model[sid][1]]
        assert r["count"] == len(vals)
        assert abs(r["avg"] - sum(vals) / len(vals)) < 1e-9
        assert r["min"] == min(vals) and r["max"] == max(vals)
        assert abs(r["sum"] - sum(vals)) < 1e-9
        assert abs(r["stdev"] - statistics.stdev(vals)) < 1e-9
    import pytest

    with pytest.raises(ValueError):
        engine.aggregate_points(["median"])


def test_series_and_select_distinct(engine):
    pts = generate_points(100, tag_values=THREE_TAGS)
    engine.write(pts)
    series = engine.get_stream_list()
    assert sorted(tuple(sorted(r["tags"].items())) for r in series.collect()) == sorted(
        tuple(sorted(t.items())) for t, _ in model_series(pts).values()
    )
    hosts = {r["host"] for r in engine.select_distinct(["host"]).collect()}
    assert hosts == {"a", "b", "c"}
    combos = {(r["host"], r["pop"]) for r in engine.select_distinct(["host", "pop"]).collect()}
    assert combos == {(t["host"], t["pop"]) for t, _ in model_series(pts).values()}
    # missing key → NULL column, not an error (A3)
    rows = engine.select_distinct(["host", "nope"]).collect()
    assert {r["nope"] for r in rows} == {None}
    assert {r["host"] for r in rows} == {"a", "b", "c"}


def test_write_validation_errors(engine):
    errs = engine.write(
        [
            {"value": 1, "name": "dave"},
            {"time": 1, "name": "dave"},
            {"time": 1, "value": 1},
            {"time": 1, "value": float("nan"), "name": "x"},
            {"time": 1, "value": 1, "name": {"nested": True}},
            {"time": START, "value": 2.0, "name": "ok"},
        ]
    )
    msgs = [e["error"] for e in errs]
    assert msgs == [
        'missing required keys: ["time"]',
        'missing required keys: ["value"]',  # absent value = missing key, not invalid value
        "metrics must have at least one tag",
        "invalid value NaN",  # JS spelling
        "invalid tag - value is an object or array name : [object Object]",
    ]
    assert engine.read().count() == 1  # the good point landed


def test_space_isolation_and_granularity(engine):
    # space 'other' has granularity 7 (conftest); data 100 days back
    pts_default = generate_points(50, tag_values={"host": ["a"]})
    pts_other = generate_points(100, start=START - 100 * MS_IN_DAY, interval=MS_IN_DAY // 10, tag_values={"pop": ["x", "y"]})
    engine.write(pts_default, "default")
    engine.write(pts_other, "other")
    assert read_as_model(engine, space="default") == model_series(pts_default)
    assert read_as_model(engine, space="other") == model_series(pts_other)
    # granularity-7 buckets are multiples of 7
    buckets = [int(p.name.split("=")[1]) for p in (engine._points_path("other")).glob("bucket=*")]
    assert buckets and all(b % 7 == 0 for b in buckets)


def test_engine_from_json_config(spark, tmp_path):
    """Multi-space engine driven from a reference-format config file
    (/root/reference/conf/orestes-config.json): per-space
    table_granularity_days controls bucket layout; backend blocks are
    ignored."""
    import json

    from orestes_spark.config import load_space_configs

    conf = {
        "port": 9668,
        "cassandra": {"host": "127.0.0.1", "native_transport_port": 9042},
        "elasticsearch": {"host": "localhost", "port": 9200},
        "spaces": {
            "default": {"table_granularity_days": 1},
            "weekly": {"table_granularity_days": 7},
        },
    }
    cfg_path = tmp_path / "orestes-config.json"
    cfg_path.write_text(json.dumps(conf))
    spaces = load_space_configs(cfg_path)
    assert spaces["default"].granularity_days == 1
    assert spaces["weekly"].granularity_days == 7

    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh"), spaces=spaces)
    pts = generate_points(30, start=START - 30 * MS_IN_DAY, interval=MS_IN_DAY, tag_values={"host": ["a"]})
    eng.write(pts, "weekly")
    eng.write(pts, "default")
    buckets_w = [int(p.name.split("=")[1]) for p in eng._points_path("weekly").glob("bucket=*")]
    assert buckets_w and all(b % 7 == 0 for b in buckets_w)
    assert read_as_model(eng, space="weekly") == model_series(pts)
    assert len([p for p in eng._points_path("default").glob("bucket=*")]) > len(buckets_w)


def test_remove_retention(engine):
    import time as _t

    now = int(_t.time() * 1000)
    old = generate_points(10, start=now - 50 * MS_IN_DAY, tag_values={"host": ["a"]})
    new = generate_points(10, start=now - 1000, tag_values={"host": ["a"]})
    engine.write(old + new)
    dropped = engine.remove("default", keep_days=10)
    assert dropped  # the 50-day-old bucket went away
    got = read_as_model(engine, end=now + MS_IN_DAY)
    (tags, pts), = got.values()
    assert pts == sorted((p["time"], p["value"]) for p in new)


def test_embedded_fetcher_paging(engine):
    # embedded-api.spec parity: page 2 points at a time; concatenation
    # must equal the full read.
    pts = generate_points(20, tag_values={"host": ["a", "b"]})
    engine.write(pts)
    model = model_series(pts)
    seen = {}
    for fetcher in engine.read_fetchers(None, "default", 0, START + 10**9):
        acc, eof = [], False
        while not eof:
            page = fetcher.fetch(2)
            assert len(page["points"]) <= 2
            acc.extend(page["points"])
            eof = page["eof"]
        seen[series_id(fetcher.tags)] = acc
    assert seen == {sid: pts_ for sid, (_, pts_) in model.items()}
    # fetch(-1) drains in one call
    f = next(engine.read_fetchers({"term": {"host": "a"}}, "default", 0, START + 10**9))
    page = f.fetch(-1)
    assert page["eof"] and page["points"] == model["host=a"][1]


def test_compact_preserves_data(engine, spark):
    # three separate writes → multiple files per bucket
    for i in range(3):
        engine.write(generate_points(30, start=START + i, tag_values={"host": ["a", "b"]}))
    pre = read_as_model(engine)
    compacted = engine.compact("default")
    assert compacted and all(n > 1 for n in compacted.values())
    assert read_as_model(engine) == pre
    files = list((engine._points_path("default")).glob("bucket=*/*.parquet"))
    assert len(files) == len(list((engine._points_path("default")).glob("bucket=*")))


def test_json_and_csv_sources(engine, spark, tmp_path):
    from orestes_spark.sources.points_files import read_points_csv, read_points_json

    jdir, cdir = tmp_path / "pj", tmp_path / "pc"
    jdir.mkdir(), cdir.mkdir()
    (jdir / "points.json").write_text(
        '{"time": "1700000000000", "value": 1.5, "tags": {"host": "a"}}\n'
        '{"time": "2023-11-14T22:13:20Z", "value": 2.5, "tags": {"host": "b"}}\n'
        '{"value": 3.0, "tags": {"host": "c"}}\n'  # missing time → error path
    )
    (cdir / "points.csv").write_text("time,value,host\n1700000000000,9.5,a\n1700000001000,8.5,b\n")

    jdf = read_points_json(spark, str(jdir))
    assert engine.write(jdf, "default") != []  # the timeless point is reported
    cdf = read_points_csv(spark, str(cdir))
    assert engine.write(cdf, "default") == []
    got = read_as_model(engine, end=1700000002000)
    # host=a was written at the same timestamp by both deliveries: the
    # later (CSV) delivery wins — upsert semantics, not double rows.
    assert got["host=a"][1] == [(1700000000000, 9.5)]
    assert got["host=b"][1] == [(1700000000000, 2.5), (1700000001000, 8.5)]
    assert "host=c" not in got


def test_orc_source_wide_and_canonical(engine, spark, tmp_path):
    from orestes_spark.sources.points_files import read_points_orc

    wide, canon = str(tmp_path / "po_w"), str(tmp_path / "po_c")
    spark.createDataFrame(
        [("1700000000000", 4.5, "a"), ("1700000001000", 5.5, "b")],
        "time STRING, value DOUBLE, host STRING",
    ).write.orc(wide)
    spark.sql(
        "SELECT '1700000002000' AS time, 6.5 AS value, map('host', 'a') AS tags"
    ).write.orc(canon)

    assert engine.write(read_points_orc(spark, wide), "default") == []
    assert engine.write(read_points_orc(spark, canon), "default") == []
    got = read_as_model(engine, end=1700000003000)
    assert got["host=a"][1] == [(1700000000000, 4.5), (1700000002000, 6.5)]
    assert got["host=b"][1] == [(1700000001000, 5.5)]
    # streaming read shares the same adapter (schema probed from footer)
    sdf = read_points_orc(spark, wide, streaming=True)
    assert sdf.isStreaming and set(sdf.columns) == {"time_ms", "value", "tags"}


def test_continuous_rollup_matches_direct_aggregation(spark, tmp_path):
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark,
        str(tmp_path / "wh_rollup"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    t0 = 1_700_000_400_000  # NOT hour-aligned: slots snap to the grid
    batch1 = [
        {"time": t0 + i * 600_000, "value": float(i), "host": "a"} for i in range(12)
    ]
    batch2 = [
        {"time": t0 + i * 600_000, "value": 100.0 + i, "host": "b"} for i in range(12)
    ] + [{"time": t0, "value": -5.0, "host": "a"}]  # second partial, same slot
    assert eng.write(batch1, "default") == []
    assert eng.write(batch2, "default") == []

    lo = t0 // HOUR * HOUR
    hi = lo + 4 * HOUR
    got = {
        (r["tags"]["host"], r["slot_ms"]): (r["n"], r["sum_value"], r["min_value"], r["max_value"])
        for r in eng.read_rollup(None, "default", lo, hi).collect()
    }
    # direct aggregation of raw points at the same step
    from pyspark.sql import functions as F

    direct = {
        (r["host"], r["slot_ms"]): (r["n"], r["s"], r["mn"], r["mx"])
        for r in eng.matching_points(None, "default", lo, hi)
        .groupBy(
            F.col("tags").getItem("host").alias("host"),
            (F.floor(F.col("time_ms") / HOUR) * HOUR).cast("long").alias("slot_ms"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got == direct and got  # partials merged, multi-append correct

    # tag-filtered rollup read
    only_a = eng.read_rollup({"term": {"host": "a"}}, "default", lo, hi).collect()
    assert {r["tags"]["host"] for r in only_a} == {"a"}

    # slot alignment is contractual
    import pytest

    with pytest.raises(ValueError, match="multiples of rollup_step_ms"):
        eng.read_rollup(None, "default", lo + 1, hi)

    # compaction merges partials to one row per (series, slot) AND
    # reconciles the cross-delivery overwrite (batch2 re-wrote (a, t0)):
    # post-compact the rollup agrees with the collapsed points exactly
    eng.compact("default")
    rollup_rows = spark.read.parquet(str(eng._rollup_path("default"))).collect()
    keys = [(r["series_id"], r["slot_ms"]) for r in rollup_rows]
    assert len(keys) == len(set(keys))
    got2 = {
        (r["tags"]["host"], r["slot_ms"]): (r["n"], r["sum_value"], r["min_value"], r["max_value"])
        for r in eng.read_rollup(None, "default", lo, hi).collect()
    }
    direct2 = {
        (r["host"], r["slot_ms"]): (r["n"], r["s"], r["mn"], r["mx"])
        for r in eng.matching_points(None, "default", lo, hi)
        .groupBy(
            F.col("tags").getItem("host").alias("host"),
            (F.floor(F.col("time_ms") / HOUR) * HOUR).cast("long").alias("slot_ms"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("s"),
            F.min("value").alias("mn"),
            F.max("value").alias("mx"),
        )
        .collect()
    }
    assert got2 == direct2 and got2
    # the overwritten (a, t0) row now counts ONCE (last write, -5.0)
    assert got2[("a", lo)][0] == direct[("a", lo)][0] - 1

    # retention drops rollup buckets alongside points/series
    eng.remove("default", keep_days=0)
    assert not any(eng._rollup_path("default").glob("bucket=*"))


def test_rollup_with_tail_serves_unaligned_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark,
        str(tmp_path / "wh_tail"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    t0 = 1_700_000_000_000 // HOUR * HOUR
    pts = [
        {"time": t0 + i * 15 * 60_000, "value": float(i), "host": "a"} for i in range(12)
    ]  # 3 hours of quarter-hourly points
    assert eng.write(pts, "default") == []

    end = t0 + 2 * HOUR + 30 * 60_000  # mid-slot end: tail needed
    got = {
        r["slot_ms"]: (r["n"], float(r["sum_value"]), r["min_value"], r["max_value"])
        for r in eng.read_rollup_with_tail(None, "default", t0, end).collect()
    }
    exp = {}
    for p in pts:
        if p["time"] >= end:
            continue
        slot = p["time"] // HOUR * HOUR
        n, s, mn, mx = exp.get(slot, (0, 0.0, float("inf"), float("-inf")))
        exp[slot] = (n + 1, s + p["value"], min(mn, p["value"]), max(mx, p["value"]))
    assert got == exp
    # the tail slot is partial: only 2 of 4 quarter-hours present
    assert got[t0 + 2 * HOUR][0] == 2
    # aligned end → pure rollup path, same rows minus the tail slot
    aligned = {
        r["slot_ms"] for r in eng.read_rollup_with_tail(None, "default", t0, t0 + 2 * HOUR).collect()
    }
    assert aligned == {t0, t0 + HOUR}


def test_compact_size_targeted_splits_large_bucket(engine, spark):
    # enough data that a tiny byte target forces >1 output file
    for i in range(3):
        engine.write(
            generate_points(2000, start=START + i * 7, tag_values={"host": ["a", "b", "c", "d"]})
        )
    pre = read_as_model(engine)
    engine.compact("default", target_bytes=4096)
    parts = sorted(engine._points_path("default").glob("bucket=*"))
    assert parts
    for part in parts:
        files = list(part.glob("*.parquet"))
        assert len(files) > 1  # size-targeted, never a coalesce(1) rewrite
        # layout: every file individually sorted by (series_id, time_ms),
        # and files cover disjoint (series_id, time_ms) ranges (range
        # partitioning), so the bucket as a whole stays series-clustered
        spans = []
        for f in sorted(files):
            rows = spark.read.parquet(str(f)).select("series_id", "time_ms").collect()
            keys = [(r["series_id"], r["time_ms"]) for r in rows]
            assert keys == sorted(keys)
            if keys:
                spans.append((keys[0], keys[-1]))
        spans.sort()
        for (_, hi), (lo, _) in zip(spans, spans[1:]):
            assert hi <= lo
    assert read_as_model(engine) == pre


def test_write_error_list_is_capped(engine, spark):
    from pyspark.sql import functions as F

    n_bad = 37
    bad = spark.range(n_bad).select(
        F.lit(None).cast("long").alias("time_ms"),  # missing time → invalid
        (F.col("id") * 1.0).alias("value"),
        F.create_map(F.lit("host"), F.col("id").cast("string")).alias("tags"),
    )
    errors = engine.write(bad, "default", max_errors=10)
    # 10 real entries + 1 truncation summary carrying the total
    assert len(errors) == 11
    assert errors[-1]["point"] is None
    assert f"{n_bad} invalid points total" in errors[-1]["error"]
    # under the cap: full list, no summary entry
    errors_full = engine.write(bad, "default", max_errors=1000)
    assert len(errors_full) == n_bad
    assert all(e["point"] is not None for e in errors_full)


def test_rebuild_rollup_repairs_inflated_partials(spark, tmp_path):
    import shutil as _sh

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark,
        str(tmp_path / "wh_repair"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    t0 = 1_700_000_000_000 // HOUR * HOUR
    pts = [{"time": t0 + i * 60_000, "value": float(i), "host": "a"} for i in range(60)]
    assert eng.write(pts, "default") == []
    lo, hi = t0, t0 + 2 * HOUR
    clean = {
        (r["tags"]["host"], r["slot_ms"]): (r["n"], r["sum_value"])
        for r in eng.read_rollup(None, "default", lo, hi).collect()
    }
    # simulate corrupted/duplicated partials (e.g. manual file surgery
    # or a pre-epoch-keyed warehouse): duplicate the partial files
    # in-place (partials nest under bucket=*/epoch=*)
    part = next(eng._rollup_path("default").glob("bucket=*"))
    for f in list(part.rglob("*.parquet")):
        _sh.copy(f, f.with_name("replayed-" + f.name))
    inflated = {
        (r["tags"]["host"], r["slot_ms"]): (r["n"], r["sum_value"])
        for r in eng.read_rollup(None, "default", lo, hi).collect()
    }
    assert all(inflated[k][0] == 2 * clean[k][0] for k in clean)  # corrupted
    rebuilt = eng.rebuild_rollup("default")
    assert rebuilt == [int(part.name.split("=")[1])]
    repaired = {
        (r["tags"]["host"], r["slot_ms"]): (r["n"], r["sum_value"])
        for r in eng.read_rollup(None, "default", lo, hi).collect()
    }
    assert repaired == clean


def test_stats_reports_buckets_and_tracks_compaction(engine, spark):
    import pyspark.sql.functions as F

    day = 86_400_000
    pts = spark.createDataFrame(
        [(float(i), i % 2 * day + i) for i in range(40)], "value DOUBLE, time_ms LONG"
    ).select(
        "time_ms", "value", F.create_map(F.lit("h"), F.lit("x")).alias("tags")
    )
    # two separate appends → multiple files per bucket
    engine._append(pts, "default")
    engine._append(pts, "default")
    st = engine.stats()
    assert sorted(st["points"]) == [0, 1]
    assert all(v["files"] >= 2 and v["bytes"] > 0 for v in st["points"].values())
    assert sorted(st["series"]) == [0, 1]
    assert st["rollup"] == {}  # default space has no rollup configured

    engine.compact()
    st2 = engine.stats()
    assert all(v["files"] == 1 for v in st2["points"].values())
    assert all(v["bytes"] > 0 for v in st2["points"].values())

def test_tiered_retention_keeps_rollup_drops_raw(spark, tmp_path):
    """remove(keep_rollup=True): raw points past the horizon are gone,
    but the continuous rollup still serves slot aggregates over the
    dropped history (hypertable downsample-then-drop)."""
    import time as _t

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import MS_IN_DAY, OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark,
        str(tmp_path / "wh_tier"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    now = int(_t.time() * 1000)
    old_day = (now - 50 * MS_IN_DAY) // HOUR * HOUR
    old = [{"time": old_day + i * 60_000, "value": float(i), "host": "a"} for i in range(10)]
    new = [{"time": now - 1000, "value": 7.0, "host": "a"}]
    assert eng.write(old, "default") == []
    assert eng.write(new, "default") == []

    dropped = eng.remove("default", keep_days=10, keep_rollup=True)
    assert dropped  # the 50-day-old bucket's raw data went away
    # raw read over the old window: empty
    assert eng.read(None, "default", old_day, old_day + MS_IN_DAY).count() == 0
    # rollup read over the same window: still serves the aggregates
    slots = eng.read_rollup(None, "default", old_day, old_day + HOUR).collect()
    assert len(slots) == 1
    r = slots[0]
    assert r["n"] == 10 and r["sum_value"] == sum(float(i) for i in range(10))
    assert r["min_value"] == 0.0 and r["max_value"] == 9.0
    # full remove (default) also clears the rollup partition
    eng.remove("default", keep_days=10)
    assert eng.read_rollup(None, "default", old_day, old_day + HOUR).count() == 0

def test_overwrite_last_write_wins(engine):
    """Cassandra PRIMARY KEY (attrs, offset) parity: re-writing a
    (series, time) in a later delivery replaces the point everywhere
    — grouped read, flat read, count, and aggregates."""
    t = START
    engine.write([{"time": t, "value": 1.0, "host": "a"},
                  {"time": t + 1000, "value": 5.0, "host": "a"}])
    engine.write([{"time": t, "value": 2.0, "host": "a"}])  # upsert
    got = read_as_model(engine)
    assert got == {"host=a": ({"host": "a"}, [(t, 2.0), (t + 1000, 5.0)])}
    flat = engine.read(None, "default", 0, START + 10**9, grouped=False).collect()
    assert sorted((r["time_ms"], r["value"]) for r in flat) == [(t, 2.0), (t + 1000, 5.0)]
    assert engine.count_points().collect()[0]["count"] == 2
    aggs = engine.aggregate_points(["count", "sum", "max"]).collect()[0]
    assert aggs["count"] == 2 and aggs["sum"] == 7.0 and aggs["max"] == 5.0


def test_in_batch_duplicate_resolves_to_greater_value(engine):
    """Within one delivery (equal write stamps) duplicates resolve to
    the greater value — Cassandra's same-timestamp cell rule — at the
    driver adapter, so a single delivery is stored duplicate-free."""
    t = START
    engine.write([
        {"time": t, "value": 3.0, "host": "a"},
        {"time": t, "value": 9.0, "host": "a"},
        {"time": t, "value": 4.0, "host": "a"},
    ])
    assert not engine._merge_needed("default")  # one clean delivery
    got = read_as_model(engine)
    assert got == {"host=a": ({"host": "a"}, [(t, 9.0)])}
    assert engine.count_points().collect()[0]["count"] == 1
    assert engine._read_points("default").count() == 1  # stored once


def test_compaction_collapses_upserts_and_restores_fast_path(engine):
    t = START
    engine.write([{"time": t, "value": 1.0, "host": "a"}])
    engine.write([{"time": t, "value": 2.0, "host": "a"}])
    assert engine._merge_needed("default")  # two deliveries overlap
    engine.compact("default")
    assert not engine._merge_needed("default")  # physically collapsed
    assert engine._read_points("default").count() == 1
    got = read_as_model(engine)
    assert got == {"host=a": ({"host": "a"}, [(t, 2.0)])}
    # a fresh delivery after compaction re-arms the merge gate
    engine.write([{"time": t, "value": 7.0, "host": "a"}])
    assert engine._merge_needed("default")
    assert read_as_model(engine) == {"host=a": ({"host": "a"}, [(t, 7.0)])}

def test_append_only_contract_keeps_merge_free_plans(spark, tmp_path):
    """A space declared append_only never pays the upsert merge: after
    multiple deliveries the merge gate stays off (the caller contracts
    that keys are never re-written, e.g. streaming metric samples)."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(
        spark, str(tmp_path / "wh_ao"), spaces={"default": SpaceConfig(1, append_only=True)}
    )
    eng.write([{"time": START, "value": 1.0, "host": "a"}])
    eng.write([{"time": START + 1000, "value": 2.0, "host": "a"}])
    assert eng._delivery_count("default") == 2
    assert not eng._merge_needed("default")
    got = read_as_model(eng)
    assert got == {"host=a": ({"host": "a"}, [(START, 1.0), (START + 1000, 2.0)])}

def test_register_views_sql_surface(spark, tmp_path):
    """register_views exposes upsert-consistent SQL views: points are
    merged (overwrite visible once), series deduped, rollup servable."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_views"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    eng.write([{"time": START, "value": 1.0, "host": "a"},
               {"time": START + 1000, "value": 2.0, "host": "b"}])
    eng.write([{"time": START, "value": 5.0, "host": "a"}])  # upsert
    names = eng.register_views()
    assert names == ["orestes_points", "orestes_series", "orestes_rollup"]
    rows = spark.sql(
        "SELECT tags['host'] h, time_ms, value FROM orestes_points ORDER BY h, time_ms"
    ).collect()
    assert [(r["h"], r["time_ms"], r["value"]) for r in rows] == [
        ("a", START, 5.0), ("b", START + 1000, 2.0)]
    assert spark.sql("SELECT count(*) c FROM orestes_series").first()["c"] == 2
    # rollup joins against series via SQL on series_id
    j = spark.sql(
        "SELECT s.tags['host'] h, r.n FROM orestes_rollup r "
        "JOIN orestes_series s ON s.series_id = r.series_id ORDER BY h"
    ).collect()
    assert [(r["h"], r["n"]) for r in j] == [("a", 2), ("b", 1)]

def test_delete_series_erases_everywhere(spark, tmp_path):
    """GDPR-style targeted erasure: matching series vanish from
    points, series metadata, and the rollup; other series untouched."""
    import pytest
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_del"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    pts = [{"time": START + i * 60_000, "value": float(i), "host": h, "user": u}
           for i, (h, u) in enumerate([("a", "u1"), ("a", "u2"), ("b", "u1"), ("b", "u2")] * 5)]
    assert eng.write(pts) == []
    with pytest.raises(ValueError, match="selective"):
        eng.delete_series({"match_all": {}})
    n = eng.delete_series({"term": {"user": "u1"}})
    assert n == 2  # (a,u1) and (b,u1)
    got = read_as_model(eng)
    assert set(got) == {"host=a,user=u2", "host=b,user=u2"}
    assert got == model_series([p for p in pts if p["user"] == "u2"])
    # metadata gone too
    assert {r["tags"]["user"] for r in eng.get_stream_list().collect()} == {"u2"}
    # rollup slots for the erased series gone; survivors intact
    lo = START // HOUR * HOUR
    roll = eng.read_rollup(None, "default", lo, lo + 24 * HOUR).collect()
    assert roll and all(r["tags"]["user"] == "u2" for r in roll)
    assert sum(r["n"] for r in roll) == 10

def test_in_batch_duplicate_across_time_representations(engine):
    """The same instant written as epoch-ms and as its ISO form within
    one delivery is ONE Cassandra row — the in-batch dedup keys on
    normalized time, not the raw representation."""
    engine.write([
        {"time": 1700000000000, "value": 1.0, "host": "a"},
        {"time": "2023-11-14T22:13:20Z", "value": 2.0, "host": "a"},
    ])
    got = read_as_model(engine, end=1700000001000)
    assert got == {"host=a": ({"host": "a"}, [(1700000000000, 2.0)])}
    assert engine._read_points("default").count() == 1


def _iso(ms):
    """The ISO-8601 form of an epoch-ms time: the driver cannot prove
    it, so a write carrying it takes the Spark sinks."""
    import datetime

    t = datetime.datetime.fromtimestamp(ms / 1000, tz=datetime.timezone.utc)
    return t.isoformat(timespec="milliseconds").replace("+00:00", "Z")


def _assert_failed_sink_leaves_gate_on(engine, monkeypatch, sink, time):
    """Fail the series sink of the second of two writes of one
    (series, time) and check the merge gate is left ON (the delivery
    marker is bumped before the sinks run), so duplicates a
    half-committed delivery left behind are still merged at read."""
    import orestes_spark.engine as eng_mod

    engine.write([{"time": time, "value": 1.0, "host": "a"}])

    def boom(self, *args):
        raise RuntimeError("transient metadata-store failure")

    monkeypatch.setattr(eng_mod.OrestesEngine, sink, boom)
    with pytest.raises(RuntimeError):
        engine.write([{"time": time, "value": 9.0, "host": "a"}])
    monkeypatch.undo()
    # gate is ON even though the append failed
    assert engine._merge_needed("default")
    # the points sink may have committed before the series sink died:
    # whatever landed, the read must show ONE row per (series, time)
    rows = engine.read(None, "default", 0, START + 10**9, grouped=False).collect()
    assert len(rows) == 1 and rows[0]["time_ms"] == START


def test_marker_bumps_before_sinks_fail_safe(engine, monkeypatch):
    """A partially-failed Spark-sink append (ISO times) must leave the
    merge gate ON; the Spark series sink dies reading the series
    table."""
    _assert_failed_sink_leaves_gate_on(engine, monkeypatch, "_read_series", _iso(START))


def test_marker_bumps_before_sinks_fail_safe_driver_path(engine, monkeypatch):
    """The same for a driver commit (int times): its series sink dies."""
    _assert_failed_sink_leaves_gate_on(engine, monkeypatch, "_arrow_series", START)


def test_append_only_compaction_preserves_rows(spark, tmp_path):
    """compact() must not collapse rows reads preserve: in an
    append_only space (merge gate off by contract) every stored row
    survives compaction byte-for-byte."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(
        spark, str(tmp_path / "wh_ao2"), spaces={"default": SpaceConfig(1, append_only=True)}
    )
    # contract violation on purpose: same (series, time) twice
    eng.write([{"time": START, "value": 1.0, "host": "a"}])
    eng.write([{"time": START, "value": 2.0, "host": "a"}])
    assert eng._read_points("default").count() == 2
    eng.compact("default")
    assert eng._read_points("default").count() == 2  # nothing destroyed

def test_validation_reference_order_and_spellings(engine):
    """Exact reference semantics for the subtle cases: error check
    ORDER (no-tags before invalid-value), non-dict points report both
    keys missing, unparseable-but-present time is 'invalid timestamp'
    (distinct from missing-keys)."""
    errs = engine.write([
        {"time": 1, "value": "bogus"},                    # tagless + bad value → no-tags wins
        "not-a-point",                                    # non-dict → both keys
        {"time": "garbage-time", "value": 1.0, "h": "a"}, # present, unparseable
        {"time": START, "value": 1.0, "h": "ok"},
    ])
    assert [e["error"] for e in errs] == [
        "metrics must have at least one tag",
        'missing required keys: ["time","value"]',
        "invalid timestamp",
    ]
    assert engine.read().count() == 1

def test_two_writer_instances_arm_merge_gate(spark, tmp_path):
    """Two engine INSTANCES appending to the same space: the
    per-delivery marker files mean neither instance can lose the
    other's delivery record (atomic file creates, no read-modify-write
    counter — exercised concurrently below), so the merge gate is ON
    and the overwrite merges. The parquet appends themselves are
    serialized: Spark's file committer stages every job for one table
    under a shared _temporary dir, so same-space data writes are
    single-writer by contract (documented in _mark_delivery)."""
    from concurrent.futures import ThreadPoolExecutor

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    wh = str(tmp_path / "wh_conc")
    a = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    b = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    assert a.write([{"time": START, "value": 1.0, "host": "a"}]) == []
    assert b.write([{"time": START, "value": 2.0, "host": "a"}]) == []
    assert a._delivery_count("default") == 2  # capped listing: reads as >1
    assert a._merge_needed("default") and b._merge_needed("default")
    got = read_as_model(a)
    (tags, pts), = got.values()
    assert pts == [(START, 2.0)]  # b's later delivery wins
    # the marker mechanism itself is race-free: concurrent marks from
    # both instances all land (atomic creates cannot clobber)
    with ThreadPoolExecutor(4) as pool:
        for f in [pool.submit(e._mark_delivery, "default") for e in (a, b, a, b)]:
            f.result()
    assert sum(1 for _ in a._deliveries_path("default").iterdir()) == 6


def test_rollup_quantile_from_histogram_partials(spark, tmp_path):
    """Quantiles served from pre-aggregated histogram partials match a
    Python model of the fixed-bin interpolation — across multiple
    appends, after compaction, and after tiered raw-data removal."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_hq"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR, rollup_hist=(10.0, 10))},
    )
    t0 = 1_700_000_400_000
    vals1 = [float(v) for v in range(0, 60)]
    vals2 = [float(v) for v in range(40, 99)]  # overlap + clamp into top bin
    eng.write([{"time": t0 + i, "value": v, "host": "a"} for i, v in enumerate(vals1)])
    eng.write([{"time": t0 + 1000 + i, "value": v, "host": "a"} for i, v in enumerate(vals2)])

    def model(vals, q, width=10.0, nbins=10):
        from collections import Counter
        bins = Counter(min(int(v // width), nbins - 1) for v in vals)
        n = len(vals)
        cum = 0
        for b in sorted(bins):
            cnt = bins[b]
            cum += cnt
            if 100 * cum >= q * n:
                return round(b * width + ((q * n / 100 - (cum - cnt)) / cnt) * width, 6)

    lo = t0 // HOUR * HOUR
    all_vals = vals1 + vals2

    def got():
        rows = eng.read_rollup_quantile(None, "default", lo, lo + HOUR).collect()
        assert all(r["tags"]["host"] == "a" and r["n"] == len(all_vals) for r in rows)
        return {r["quantile"]: r["value"] for r in rows}

    expected = {q: model(all_vals, q) for q in (50, 95, 99)}
    assert got() == expected
    eng.compact("default")  # partials collapse to epoch=-1, answer identical
    assert got() == expected
    # tiered retention: raw points gone, quantiles still served
    eng.remove("default", keep_days=0, keep_rollup=True)
    assert eng._read_points("default") is None
    assert got() == expected


def test_read_empty_space_with_armed_merge_gate(engine):
    """An armed merge gate over a space with NO point buckets (e.g.
    deliveries that died before their sinks committed — _mark_delivery
    bumps first, fail-safe) must yield EMPTY reads, not an
    unresolved-_seq AnalysisException: the empty-frame schema carries
    _seq for the merge paths."""
    engine._mark_delivery("default")
    engine._mark_delivery("default")
    assert engine._merge_needed("default")
    assert engine.read(None, "default", 0, START + 10**9).collect() == []
    assert engine.read(None, "default", 0, START + 10**9, grouped=False).collect() == []
    assert engine.aggregate_points(
        ["avg", "stdev"], {"term": {"host": "a"}}, "default", 0, START + 10**9
    ).collect() == []
    assert engine.count_points(None, "default", 0, START + 10**9).collect() == []


def test_full_retention_sweep_disarms_merge_gate(engine):
    """remove() that drops every points bucket clears the delivery
    markers: the next append starts back on the merge-free fast path
    instead of paying the upsert aggregation until a full compact()."""
    engine.write([{"time": START, "value": 1.0, "host": "a"}])
    engine.write([{"time": START + 1, "value": 2.0, "host": "a"}])
    assert engine._merge_needed("default")
    engine.remove("default", keep_days=0)
    assert not engine._merge_needed("default")
    engine.write([{"time": START + 2, "value": 3.0, "host": "a"}])
    assert not engine._merge_needed("default")  # one delivery since sweep
    got = read_as_model(engine)
    assert got == {"host=a": ({"host": "a"}, [(START + 2, 3.0)])}


def test_delete_series_swap_is_crash_atomic(spark, tmp_path, monkeypatch):
    """Simulate a crash at the worst point of delete_series' swap —
    after live→.old, before staged→live, its intent pending — and
    assert the next read rolls FORWARD without losing the bucket; also
    the pure roll-back case (a staged dir with no intent, live intact):
    the read serves the live bucket and the next writer discards it."""
    import pathlib
    import shutil as _sh

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh_crash"), spaces={"default": SpaceConfig(1)})
    pts = [{"time": START + i, "value": float(i), "host": h}
           for i, h in enumerate(["a", "b"] * 10)]
    assert eng.write(pts) == []
    proot = eng._points_path("default")

    # Roll-forward crash: exactly between the two renames of the points
    # bucket.
    real = pathlib.Path.rename

    def rename(self, target):
        if self.parent == proot and self.name.startswith(".rewrite_"):
            raise RuntimeError("simulated crash")
        return real(self, target)

    monkeypatch.setattr(pathlib.Path, "rename", rename)
    with pytest.raises(RuntimeError, match="simulated"):
        eng.delete_series({"term": {"host": "a"}})
    monkeypatch.undo()
    assert list(proot.glob(".old_*")) and not list(proot.glob("bucket=*"))
    kept = [p for p in pts if p["host"] == "b"]
    got = read_as_model(eng)  # read triggers recovery
    assert got == model_series(kept)
    assert not list(proot.glob(".old_*")) and not list(proot.glob(".rewrite_*"))

    # Roll-back crash: live intact, a (possibly partial) staged dir left
    # over — the live bucket is served untouched, the write discards it.
    part = next(proot.glob("bucket=*"))
    junk = proot / f".rewrite_{part.name}"
    junk.mkdir()
    (junk / "part-00000.parquet").write_bytes(b"not parquet")
    assert read_as_model(eng) == model_series(kept)
    assert junk.exists()
    late = {"time": START + 100, "value": 7.0, "host": "b"}
    assert eng.write([late]) == []
    assert not junk.exists()

    # And the real delete still works end-to-end after recoveries.
    n = eng.delete_series({"term": {"host": "b"}})
    assert n == 1
    assert read_as_model(eng) == {}
    _sh.rmtree(tmp_path / "wh_crash", ignore_errors=True)


def test_driver_parser_gap_arms_merge_gate(engine):
    """A time format the driver-side dedup key can't parse but the
    executor parser can ("yyyy-MM-dd HH:mm:ss" parses via
    try_to_timestamp; RFC-ish junk doesn't key) must arm the merge
    gate so a potential in-delivery duplicate is merged at read —
    upsert parity without the shared-parser requirement."""
    from orestes_spark import validation

    # micros-truncation parity: >6 fractional digits key identically
    assert validation.time_key_ms("2023-11-14T22:13:20.1234567Z") == \
        validation.time_key_ms("2023-11-14T22:13:20.123456Z")

    # leading whitespace: try_to_timestamp trims, fromisoformat rejects —
    # the SAME instant as the epoch row below, invisible to driver dedup
    weird = " 2023-11-14T22:13:20Z"
    assert validation.time_key_ms(weird) is None
    engine.write([
        {"time": 1700000000000, "value": 1.0, "host": "a"},
        {"time": weird, "value": 2.0, "host": "a"},
    ])
    assert engine._merge_needed("default")
    # the in-delivery duplicate merges at read: one row, greater value
    got = read_as_model(engine, end=1700000001000)
    assert got == {"host=a": ({"host": "a"}, [(1700000000000, 2.0)])}


def test_rollup_staleness_surface(spark, tmp_path):
    """After a cross-delivery overwrite, rollup reads expose the
    documented divergence programmatically: rollup_stale() is True,
    the default read warns (RollupStaleWarning), on_stale='error'
    raises, and compact() reconciles — after which reads are silent
    and rollup agrees with read() again."""
    import warnings

    import pytest
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine, RollupStaleError, RollupStaleWarning

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_stale"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    eng.write([{"time": START, "value": 1.0, "host": "a"}])
    assert not eng.rollup_stale()
    eng.write([{"time": START, "value": 5.0, "host": "a"}])  # overwrite
    assert eng.rollup_stale()

    lo = START // HOUR * HOUR
    with pytest.warns(RollupStaleWarning):
        rows = eng.read_rollup(None, "default", lo, lo + HOUR).collect()
    assert rows[0]["n"] == 2  # the divergence itself: both deliveries counted
    with pytest.raises(RollupStaleError):
        eng.read_rollup(None, "default", lo, lo + HOUR, on_stale="error")
    with pytest.raises(RollupStaleError):
        eng.read_rollup_with_tail(None, "default", lo, START + 1, on_stale="error")
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # 'ignore' must be silent
        eng.read_rollup(None, "default", lo, lo + HOUR, on_stale="ignore")

    eng.compact("default")
    assert not eng.rollup_stale()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rows = eng.read_rollup(None, "default", lo, lo + HOUR).collect()
    assert rows[0]["n"] == 1 and float(rows[0]["sum_value"]) == 5.0


def test_source_type_one_schema_per_insert(engine):
    """Reference parity (/root/reference/lib/orestes-inserter.js:62-66):
    the batch schema latches at the first truthy source_type; a
    different one gets a per-point error with the reference string,
    the rest of the batch proceeds. source_type is otherwise a normal
    tag (only time/value are stripped, orestes-utils.js:153)."""
    errs = engine.write([
        {"time": START, "value": 1.0, "host": "a"},                          # pre-latch, no source_type: ok
        {"time": START + 1, "value": 2.0, "host": "a", "source_type": "m"},  # latches "m"
        {"time": START + 2, "value": 3.0, "host": "a", "source_type": "n"},  # mismatch
        {"time": START + 3, "value": 4.0, "host": "a", "source_type": "m"},  # ok
        {"time": START + 4, "value": 5.0, "host": "a"},                      # post-latch absent: mismatch
    ])
    assert [e["error"] for e in errs] == [
        "Can only import to one schema per insert",
        "Can only import to one schema per insert",
    ]
    assert {e["point"]["time"] - START for e in errs} == {2, 4}
    # stored points: 1 (no source_type tag) + 2 with source_type=m as a TAG
    got = read_as_model(engine)
    assert set(got) == {"host=a", "host=a,source_type=m"}
    assert [v for _, v in got["host=a,source_type=m"][1]] == [2.0, 4.0]


def test_concurrent_writer_guard(spark, tmp_path):
    """Single-writer contract enforced loudly: a live foreign lock
    makes write/compact/remove/delete_series raise
    ConcurrentWriterError; a dead holder's lock is stolen; the lock is
    reentrant (compact() calls rebuild_rollup() under its own) and
    always released."""
    import json
    import os

    import pytest
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import ConcurrentWriterError, OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_lock"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    eng.write([{"time": START, "value": 1.0, "host": "a"}])
    lock = eng._lock_path("default")
    assert not lock.exists()  # released after the write

    # live foreign writer (our own pid, but not held by this engine)
    lock.write_text(json.dumps({"pid": os.getpid(), "op": "append", "ts_ms": 0}))
    with pytest.raises(ConcurrentWriterError, match="live writer"):
        eng.write([{"time": START + 1, "value": 2.0, "host": "a"}])
    with pytest.raises(ConcurrentWriterError):
        eng.compact("default")
    with pytest.raises(ConcurrentWriterError):
        eng.remove("default", keep_days=0)
    with pytest.raises(ConcurrentWriterError):
        eng.delete_series({"term": {"host": "a"}})
    assert eng.read(None, "default", 0, 2**50).count() == 1  # reads unaffected

    # dead holder: stolen, operation proceeds, lock released
    dead = 0x3FFFFFF  # beyond any default pid_max
    lock.write_text(json.dumps({"pid": dead, "op": "append", "ts_ms": 0}))
    assert eng.write([{"time": START + 2, "value": 3.0, "host": "a"}]) == []
    assert not lock.exists()

    # reentrancy: compact reconciles rollup via rebuild_rollup under
    # the same lock without deadlocking/raising
    eng.write([{"time": START, "value": 9.0, "host": "a"}])  # arm gate
    eng.compact("default")
    assert not lock.exists()
    # merged points: START (last write 9.0) and START+2
    rows = eng.read(None, "default", 0, 2**50, grouped=False).collect()
    assert sorted((r["time_ms"], r["value"]) for r in rows) == [
        (START, 9.0), (START + 2, 3.0)]


def _wait_until(cond, timeout=120.0):
    import time

    deadline = time.monotonic() + timeout
    while not cond():
        assert time.monotonic() < deadline, "timed out"
        time.sleep(0.01)


def _write_as_one_group(eng, batches, space="default"):
    """Run each batch as a concurrent ``eng.write``, queued in list
    order behind a leader that is held until all of them are queued,
    so the batches commit as ONE group. Returns each batch's outcome
    (its error list, or the exception it raised) and the sizes of the
    groups committed after the held one."""
    import threading

    commit = eng._commit_group
    entered, release, sizes = threading.Event(), threading.Event(), []

    def held(group, sp):
        if not entered.is_set():
            entered.set()
            release.wait(120)
        sizes.append(len(group))
        return commit(group, sp)

    outcomes = [None] * (len(batches) + 1)  # the last slot is the held leader's

    def run(i, pts):
        try:
            outcomes[i] = eng.write(pts, space)
        except Exception as e:  # noqa: BLE001 — the outcome under test
            outcomes[i] = e

    eng._commit_group = held
    try:
        threads = [threading.Thread(
            target=run, args=(-1, [{"time": START, "value": 0.0, "blocker": "x"}]))]
        threads[0].start()
        assert entered.wait(120)
        for i, pts in enumerate(batches):
            threads.append(threading.Thread(target=run, args=(i, pts)))
            threads[-1].start()
            _wait_until(lambda: len(eng._commit_queues.get(space, [])) == i + 1)
        release.set()
        for t in threads:
            t.join(300)
        assert not any(t.is_alive() for t in threads)
    finally:
        release.set()
        del eng._commit_group
    return outcomes[:-1], sizes[1:]


def _write_or_hang(eng, pts):
    """eng.write in a thread: fails instead of hanging if the space's
    commit leadership was never released."""
    import threading

    out = []
    t = threading.Thread(target=lambda: out.append(eng.write(pts)))
    t.start()
    t.join(120)
    assert not t.is_alive(), "write waited forever for commit leadership"
    return out[0]


def test_group_commit_queue_stress(spark, tmp_path):
    """More writers than cores with a shortened switch interval: every
    request is committed in exactly one group, no two groups of a space
    commit at once, and each call returns its own result."""
    import sys
    import threading
    import time

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh"), spaces={"default": SpaceConfig(1)})
    committed, active, overlaps, sizes = [], [0], [], []

    def fake_commit(group, space):
        active[0] += 1
        overlaps.append(active[0] > 1)
        time.sleep(0.0005)
        for r in group:
            committed.append(r.rows[0]["tags"]["n"])
            r.errors = [r.rows[0]["tags"]["n"]]
        sizes.append(len(group))
        active[0] -= 1

    eng._commit_group = fake_commit
    n_threads, writes_each = 16, 40
    results = {}

    def client(t):
        for k in range(writes_each):
            n = f"{t}-{k}"
            results[n] = eng.write([{"time": START, "value": 1.0, "n": n}])

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=client, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
    want = sorted(f"{t}-{k}" for t in range(n_threads) for k in range(writes_each))
    assert sorted(committed) == want
    assert all(results[n] == [n] for n in want)
    assert not any(overlaps)
    assert max(sizes) > 1  # writers did share commits
    assert not eng._committing and not eng._commit_queues


def test_group_commit_foreign_lock_fails_every_member(spark, tmp_path):
    """A live foreign lock fails every member of a group with
    ConcurrentWriterError, and the next write still commits."""
    import json
    import os

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import ConcurrentWriterError, OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh"), spaces={"default": SpaceConfig(1)})
    lock = eng._lock_path("default")
    lock.parent.mkdir(parents=True)
    lock.write_text(json.dumps({"pid": os.getpid(), "op": "append", "ts_ms": 0}))
    batches = [[{"time": START + i, "value": 1.0, "host": str(i)}] for i in range(3)]
    outcomes, sizes = _write_as_one_group(eng, batches)
    assert sizes == [3]
    for o in outcomes:
        assert isinstance(o, ConcurrentWriterError) and "live writer" in str(o)
    lock.unlink()
    assert _write_or_hang(eng, [{"time": START, "value": 2.0, "host": "z"}]) == []
    assert read_as_model(eng) == {"host=z": ({"host": "z"}, [(START, 2.0)])}


def _assert_failed_sink_fails_every_member(eng, sink, time):
    """A points sink that raises fails every member of its group; the
    writer lock and the commit leadership are released, so the next
    write commits."""

    def broken_points_sink(*args):
        raise RuntimeError("points sink down")

    setattr(eng, sink, broken_points_sink)
    batches = [[{"time": time(START + i), "value": 1.0, "host": str(i)}] for i in range(3)]
    outcomes, sizes = _write_as_one_group(eng, batches)
    assert sizes == [3]
    for o in outcomes:
        assert isinstance(o, RuntimeError) and "points sink down" in str(o)
    delattr(eng, sink)
    assert not eng._lock_path("default").exists()
    assert _write_or_hang(eng, [{"time": time(START), "value": 2.0, "host": "z"}]) == []
    assert read_as_model(eng, {"term": {"host": "z"}}) == {
        "host=z": ({"host": "z"}, [(START, 2.0)])
    }


def test_group_commit_failed_sink_fails_every_member(spark, tmp_path):
    """Spark sinks (ISO times): the points sink's width probe raises."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh"), spaces={"default": SpaceConfig(1)})
    _assert_failed_sink_fails_every_member(eng, "_write_partitions", _iso)


def test_group_commit_failed_sink_fails_every_member_driver_path(spark, tmp_path):
    """Driver commit (int times): the pyarrow points sink raises."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh"), spaces={"default": SpaceConfig(1)})
    _assert_failed_sink_fails_every_member(eng, "_arrow_points", lambda ms: ms)


def test_group_commit_later_request_wins_like_serial_writes(spark, tmp_path):
    """Two requests of one group carrying the same (series, time) read
    back as one point with the later request's value — what two serial
    writes give. Inside one request the greater value still wins."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    first = [
        {"time": START, "value": 9.0, "host": "a"},
        {"time": START + 1, "value": 1.0, "host": "a"},
    ]
    second = [
        {"time": START, "value": 2.0, "host": "a"},
        {"time": START, "value": 3.0, "host": "a"},
    ]
    grouped = OrestesEngine(spark, str(tmp_path / "g"), spaces={"default": SpaceConfig(1)})
    outcomes, sizes = _write_as_one_group(grouped, [first, second])
    assert outcomes == [[], []] and sizes == [2]
    serial = OrestesEngine(spark, str(tmp_path / "s"), spaces={"default": SpaceConfig(1)})
    assert serial.write(first) == [] and serial.write(second) == []
    want = {"host=a": ({"host": "a"}, [(START, 3.0), (START + 1, 1.0)])}
    assert read_as_model(grouped, {"term": {"host": "a"}}) == want
    assert read_as_model(serial) == want


@pytest.mark.parametrize(
    "op", ["delete_series", "remove", "compact", "spark_write", "second_engine"]
)
def test_known_series_set_follows_other_series_writers(spark, tmp_path, op):
    """A driver commit dedups series against a known-series set, not an
    anti-join. Whatever changes the series table between two driver
    commits (an erasure, a retention drop, a compaction, a Spark-sink
    write, another engine on the warehouse), the table afterwards holds
    every (bucket, series) exactly once, and /series and
    /select_distinct match a model."""
    import time

    from orestes_spark.api import handle_request
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    wh = str(tmp_path / "wh")
    eng = OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)})
    today = int(time.time() * 1000) // MS_IN_DAY * MS_IN_DAY
    days = (today - 10 * MS_IN_DAY, today)  # remove(keep_days=5) drops the first
    model: set[tuple[int, str]] = set()  # (day, host)

    def write(e, hosts, iso=False):
        pts = [
            {"time": _iso(t) if iso else t, "value": 1.0, "host": h} for t in days for h in hosts
        ]
        assert e.write(pts) == []
        model.update((t, h) for t in days for h in hosts)

    write(eng, "ab")
    write(eng, "bc")  # two series files per bucket
    if op == "delete_series":
        assert eng.delete_series({"term": {"host": "a"}}) == 1
        model -= {(t, "a") for t in days}
    elif op == "remove":
        assert eng.remove(keep_days=5) == [days[0] // MS_IN_DAY]
        model -= {(days[0], h) for h in "abc"}
    elif op == "compact":
        eng.compact()
    elif op == "spark_write":
        write(eng, "cd", iso=True)
    else:
        write(OrestesEngine(spark, wh, spaces={"default": SpaceConfig(1)}), "de")
    write(eng, "abde")
    counts = eng._read_series("default").groupBy("bucket", "series_id").count().collect()
    assert all(r["count"] == 1 for r in counts)
    assert sorted((r["bucket"], r["series_id"]) for r in counts) == sorted(
        (t // MS_IN_DAY, f"host={h}") for t, h in model
    )
    hosts = sorted({h for _t, h in model})
    span = {"start": days[0], "end": days[1] + MS_IN_DAY}
    assert sorted(s["host"] for s in handle_request(eng, "series", span)["series"]) == hosts
    assert sorted(r["host"] for r in handle_request(eng, "select_distinct", {"keys": ["host"]})) == hosts


def test_unencodable_tag_takes_spark_sinks(engine):
    """A lone surrogate (a JSON "\\ud800" escape) has no UTF-8 form, so
    pyarrow cannot write it: that write commits through the Spark sinks,
    which store U+FFFD, as every list write did before driver commits."""
    assert engine.write([{"time": START, "value": 1.0, "host": "\ud800"}]) == []
    assert read_as_model(engine) == {"host=\ufffd": ({"host": "\ufffd"}, [(START, 1.0)])}


def test_config_ignores_reference_client_knobs(tmp_path):
    """A reference-format config still carrying the ES/Cassandra
    client-pool knobs (which have no Spark counterpart) loads with
    those keys ignored and keeps every space's granularity."""
    import json

    from orestes_spark.config import EngineConfig, engine_config_from_json

    cfg = tmp_path / "orestes-config.json"
    cfg.write_text(json.dumps({
        "metadata_fetch_size": 5000,
        "max_concurrent_count_requests": 7,
        "scroll_ttl_ms": "10m",
        "spaces": {
            "default": {"table_granularity_days": 1, "read_request_concurrency": 64},
            "weekly": {"table_granularity_days": 7},
        },
    }))
    ec = engine_config_from_json(cfg, str(tmp_path / "wh"))
    assert ec.space("default").granularity_days == 1
    assert ec.space("weekly").granularity_days == 7
    assert ec == EngineConfig(warehouse=str(tmp_path / "wh"), spaces=ec.spaces)


def test_recover_swaps_full_crash_matrix(tmp_path):
    """Every state a crashed one-bucket rewrite can leave converges, at
    the next writer-lock acquisition, to exactly one live bucket with
    the right contents and no hidden dirs: with no intent pending the
    staged dir was never committed and is discarded; with one pending
    the swap rolls forward."""
    import json

    from orestes_spark.commit_backend import SWAP_INTENT
    from orestes_spark.engine import OrestesEngine

    pair = ["points/bucket=1", "points/.rewrite_bucket=1"]
    states = {  # dirs present, intent pending, contents of the result
        "live": ({"bucket=1": "old"}, False, "old"),
        "live_staged": ({"bucket=1": "old", ".rewrite_bucket=1": "new"}, False, "old"),
        "intent_live_staged": ({"bucket=1": "old", ".rewrite_bucket=1": "new"}, True, "new"),
        "intent_old_staged": ({".old_bucket=1": "old", ".rewrite_bucket=1": "new"}, True, "new"),
        "intent_old_live": ({".old_bucket=1": "old", "bucket=1": "new"}, True, "new"),
    }
    for state, (dirs, intent, want) in states.items():
        eng = OrestesEngine(None, str(tmp_path / state))
        root = eng._points_path("default")
        for name, tag in dirs.items():
            (root / name).mkdir(parents=True)
            (root / name / "part.parquet").write_text(tag)
        if intent:
            (root.parent / SWAP_INTENT).write_text(json.dumps({"files": [pair], "kind": "swap"}))
        for _ in range(2):  # idempotent
            with eng._writer_lock("default", "test"):
                pass
            assert sorted(p.name for p in root.iterdir()) == ["bucket=1"], state
            assert (root / "bucket=1" / "part.parquet").read_text() == want, state
            assert not (root.parent / SWAP_INTENT).exists(), state


def test_compact_sweeps_orphan_staging(engine, spark):
    """An uncommitted epoch staging dir from a decommissioned stream is
    invisible to readers but leaks disk — a reader leaves it, and the
    next writer of the space (any op, here a compact()) removes it."""
    engine.write([{"time": START, "value": 1.0, "host": "a"},
                  {"time": START + 1, "value": 2.0, "host": "a"}])
    pp = engine._points_path("default")
    orphan = pp / ".staging_epoch=99"
    orphan.mkdir()
    (orphan / "junk").write_text("x")
    assert engine.read(None, "default", 0, 2**50).count() == 1  # invisible
    assert orphan.exists()
    engine.compact("default")
    assert not orphan.exists()


def test_driver_and_executor_time_parsers_agree(engine, spark):
    """Every format BOTH parsers accept must yield the same epoch-ms —
    the property the in-batch dedup key relies on (formats only the
    executor parses are covered by the gate-arming fallback)."""
    from pyspark.sql import functions as F

    from orestes_spark import schema, validation

    forms = []
    for base in ("2023-11-14T22:13:20", "2023-11-14 22:13:20", "1999-01-02T03:04:05",
                 "2040-12-31T23:59:59"):
        for frac in ("", ".5", ".123", ".123456", ".1234567", ".123456789"):
            for tz in ("Z", "+00:00", "+05:30", "-08:00", ""):
                forms.append(base + frac + tz)
    forms += ["1700000000000", "0", "-1000", "1.5"]
    df = spark.createDataFrame([(s,) for s in forms], "s STRING").select(
        "s", schema.normalize_time_col(F.col("s")).alias("ms")
    )
    spark_ms = {r["s"]: r["ms"] for r in df.collect()}
    checked = 0
    for s in forms:
        k = validation.time_key_ms(s)
        if k is not None and spark_ms[s] is not None:
            assert k == spark_ms[s], (s, k, spark_ms[s])
            checked += 1
    assert checked > 100  # the agreement set is the overwhelming majority


def test_reader_recovery_defers_to_live_writer(spark, tmp_path):
    """A reader must NOT treat a writer's staged dir as crash debris
    (destroying it would corrupt the rewrite in progress), whether or
    not a live writer holds the lock: only the next writer, under the
    lock, discards it."""
    import json
    import os

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh_rw"), spaces={"default": SpaceConfig(1)})
    eng.write([{"time": START, "value": 1.0, "host": "a"}])
    pp = eng._points_path("default")
    part = next(pp.glob("bucket=*"))
    staged = pp / f".rewrite_{part.name}"
    staged.mkdir()
    (staged / "part-0.parquet").write_bytes(b"in-flight")

    # live foreign writer holds the lock: reader leaves the staging alone
    eng._lock_path("default").write_text(
        json.dumps({"pid": os.getpid(), "op": "delete_series", "ts_ms": 0})
    )
    assert eng.read(None, "default", 0, 2**50).count() == 1
    assert staged.exists()

    # writer gone: a reader still leaves it, the next writer sweeps it
    eng._lock_path("default").unlink()
    assert eng.read(None, "default", 0, 2**50).count() == 1
    assert staged.exists()
    assert eng.write([{"time": START + 1, "value": 2.0, "host": "a"}]) == []
    assert not staged.exists()
    assert eng.read(None, "default", 0, 2**50).count() == 1


def test_readers_never_rename_or_delete(spark, tmp_path, monkeypatch):
    """With no swap intent pending, a staged dir of each kind the engine
    writes (a bucket rewrite, a driver commit, an epoch stage) is left
    alone by /read, /series and read_rollup — they call no rename and
    no rmtree — and the next write discards all three."""
    import pathlib
    import shutil

    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    hour = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_ro"), spaces={"default": SpaceConfig(1, rollup_step_ms=hour)}
    )
    assert eng.write([{"time": START, "value": 1.0, "host": "a"}]) == []
    pp, sp = eng._points_path("default"), eng._series_path("default")
    part = next(pp.glob("bucket=*")).name
    orphans = [pp / f".rewrite_{part}", sp / ".append-0123abcd", pp / ".staging_epoch=7"]
    for o in orphans:
        (o / part).mkdir(parents=True)
        (o / part / "part-0.parquet").write_bytes(b"not parquet")

    def refuse(*args, **kwargs):
        raise AssertionError(f"a reader mutated the warehouse: {args}")

    lo = START // hour * hour
    with monkeypatch.context() as m:
        m.setattr(pathlib.Path, "rename", refuse)
        m.setattr(shutil, "rmtree", refuse)
        assert eng.read(None, "default", 0, 2**50).count() == 1
        assert eng.get_stream_list(None, "default", 0, 2**50).count() == 1
        assert eng.read_rollup(None, "default", lo, lo + hour).count() == 1
    assert all(o.exists() for o in orphans)
    assert eng.write([{"time": START + 1, "value": 2.0, "host": "a"}]) == []
    assert not any(o.exists() for o in orphans)


def test_remove_recovers_parked_bucket_before_sweep_and_disarm(spark, tmp_path, monkeypatch):
    """A bucket parked at .old_bucket=N by a crashed erasure (its swap
    intent pending) must be rolled forward BEFORE remove() decides the
    space is empty: the retention decision covers it, and the merge
    gate cannot be disarmed while recoverable duplicates exist."""
    import pathlib

    from orestes_spark.commit_backend import SWAP_INTENT
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh_park"), spaces={"default": SpaceConfig(1)})
    eng.write([{"time": START, "value": 1.0, "host": "a"}, {"time": START, "value": 2.0, "host": "b"}])
    eng.write([{"time": START, "value": 5.0, "host": "a"}])  # overwrite, gate armed
    pp = eng._points_path("default")
    real = pathlib.Path.rename

    def rename(self, target):
        if self.parent == pp and self.name.startswith(".rewrite_"):
            raise RuntimeError("simulated crash")
        return real(self, target)

    monkeypatch.setattr(pathlib.Path, "rename", rename)
    with pytest.raises(RuntimeError, match="simulated"):
        eng.delete_series({"term": {"host": "b"}})
    monkeypatch.undo()
    assert not list(pp.glob("bucket=*")) and list(pp.glob(".old_*"))  # parked
    assert (pp.parent / SWAP_INTENT).exists()

    # keep_days large: nothing should be swept, erasure finished, gate kept
    eng.remove("default", keep_days=10**6)
    assert list(pp.glob("bucket=*")) and not list(pp.glob(".old_*"))
    assert eng._merge_needed("default")
    got = read_as_model(engine=eng, end=START + 1000)
    assert got == {"host=a": ({"host": "a"}, [(START, 5.0)])}  # still merged


def test_compact_failure_before_reset_keeps_gate_armed(spark, tmp_path, monkeypatch):
    """compact() reconciles the rollup BEFORE resetting the delivery
    markers: if the rebuild dies, rollup_stale() must stay True (a
    disarmed gate is a guarantee of rollup/point agreement)."""
    import pytest
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_cg"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    eng.write([{"time": START, "value": 1.0, "host": "a"}])
    eng.write([{"time": START, "value": 5.0, "host": "a"}])
    assert eng.rollup_stale()

    def boom(self, space="default", buckets=None):
        raise RuntimeError("simulated rebuild crash")

    monkeypatch.setattr(OrestesEngine, "rebuild_rollup", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        eng.compact("default")
    assert eng.rollup_stale()  # gate still armed: no false certification
    monkeypatch.undo()
    eng.compact("default")  # real reconcile disarms and agrees
    assert not eng.rollup_stale()
    lo = START // HOUR * HOUR
    rows = eng.read_rollup(None, "default", lo, lo + HOUR).collect()
    assert rows[0]["n"] == 1 and float(rows[0]["sum_value"]) == 5.0


def test_writer_liveness_eperm_means_alive(spark, tmp_path, monkeypatch):
    """EPERM from kill(pid, 0) means the pid EXISTS (under another
    uid): the holder must read as ALIVE — a contender must not steal
    its lock. Only ESRCH proves death."""
    import json
    import os

    import pytest
    from orestes_spark.engine import ConcurrentWriterError, OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh_eperm"))
    eng.write([{"time": START, "value": 1.0, "host": "a"}])
    lock = eng._lock_path("default")
    foreign = 4242
    lock.write_text(json.dumps({"pid": foreign, "op": "append", "ts_ms": 0}))

    real_kill = os.kill

    def eperm_kill(pid, sig):
        if pid == foreign and sig == 0:
            raise PermissionError("EPERM")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", eperm_kill)
    with pytest.raises(ConcurrentWriterError, match="live writer"):
        eng.write([{"time": START + 1, "value": 2.0, "host": "a"}])

    def esrch_kill(pid, sig):
        if pid == foreign and sig == 0:
            raise ProcessLookupError("ESRCH")
        return real_kill(pid, sig)

    monkeypatch.setattr(os, "kill", esrch_kill)
    assert eng.write([{"time": START + 1, "value": 2.0, "host": "a"}]) == []
    assert not lock.exists()  # stolen and released


def test_writer_active_unreadable_lock_fails_safe(spark, tmp_path, monkeypatch):
    """A lock file readers cannot parse is a FOREIGN writer's (locks
    this code writes are atomic with their payload): with a crashed
    erasure's intent pending, a reader fails safe — it cannot take the
    lock, so it leaves the tree untouched for the holder to recover."""
    import pathlib

    from orestes_spark.commit_backend import SWAP_INTENT
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh_mangled"), spaces={"default": SpaceConfig(1)})
    eng.write([{"time": START, "value": 1.0, "host": "a"}, {"time": START, "value": 2.0, "host": "b"}])
    pp = eng._points_path("default")
    real = pathlib.Path.rename

    def rename(self, target):
        if self.parent == pp and self.name.startswith(".rewrite_"):
            raise RuntimeError("simulated crash")
        return real(self, target)

    monkeypatch.setattr(pathlib.Path, "rename", rename)
    with pytest.raises(RuntimeError, match="simulated"):
        eng.delete_series({"term": {"host": "b"}})
    monkeypatch.undo()
    space = pp.parent
    lock = eng._lock_path("default")
    lock.write_text("not json {{{")

    def tree():
        return sorted(p.relative_to(space).as_posix() for p in space.rglob("*"))

    before = tree()
    assert (space / SWAP_INTENT).exists()
    eng.read(None, "default", 0, 2**50).count()
    assert tree() == before
    lock.unlink()  # the foreign holder is gone: the next read recovers
    assert read_as_model(eng) == {"host=a": ({"host": "a"}, [(START, 1.0)])}
    assert not (space / SWAP_INTENT).exists()


def test_remove_keep_rollup_keeps_gate_armed(spark, tmp_path):
    """Tiered retention must NOT disarm the merge gate: the surviving
    rollup partials may over-count cross-delivery overwrites that can
    never be reconciled once the raw points are gone, so
    rollup_stale() must keep returning True ("False is a guarantee of
    agreement"). Sweeping the rollup too (keep_rollup=False) disarms."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    HOUR = 3_600_000
    eng = OrestesEngine(
        spark, str(tmp_path / "wh_tiergate"),
        spaces={"default": SpaceConfig(1, rollup_step_ms=HOUR)},
    )
    # two deliveries overwriting the same key: rollup counts both
    eng.write([{"time": START, "value": 1.0, "host": "a"}])
    eng.write([{"time": START, "value": 5.0, "host": "a"}])
    assert eng.rollup_stale()

    dropped = eng.remove("default", keep_days=0, keep_rollup=True)
    assert dropped
    assert not any(eng._points_path("default").glob("bucket=*"))
    assert any(eng._rollup_path("default").glob("bucket=*"))
    assert eng.rollup_stale()  # retained partials still over-count

    eng.remove("default", keep_days=0, keep_rollup=False)
    assert not any(eng._rollup_path("default").glob("bucket=*"))
    assert not eng.rollup_stale()  # nothing survives: gate may disarm


def test_scroll_ttl_duration_strings(tmp_path):
    """Durations accept the reference's duration-string syntax (the
    reference hardcodes scroll: '10m' — elasticsearch/query.js:30) as
    well as plain ms numbers, and fail loudly otherwise; a config
    file's writer_lease_ms goes through the same parser."""
    import json

    import pytest
    from orestes_spark.config import engine_config_from_json, parse_duration_ms

    assert parse_duration_ms("10m") == 600_000
    assert parse_duration_ms("30s") == 30_000
    assert parse_duration_ms("500ms") == 500
    assert parse_duration_ms("1.5h") == 5_400_000
    assert parse_duration_ms("2d") == 172_800_000
    assert parse_duration_ms(1234) == 1234
    assert parse_duration_ms("1234") == 1234
    with pytest.raises(ValueError):
        parse_duration_ms("10 parsecs")
    with pytest.raises(ValueError):
        parse_duration_ms(None)
    with pytest.raises(ValueError):
        parse_duration_ms(True)

    cfg = tmp_path / "c.json"
    cfg.write_text(json.dumps({"writer_lease_ms": "10m"}))
    assert engine_config_from_json(cfg, "wh").writer_lease_ms == 600_000


def test_object_store_warehouse_refused_loudly(spark):
    """The durability protocols (writer lock via os.link, erasure swap
    via Path.rename, staged-epoch moves) assume POSIX atomic
    rename/link. An object-store warehouse would silently lose
    exactly-once and crash-atomicity — construction must refuse it
    loudly, pointing at the lakehouse-table-format story."""
    import pytest
    from orestes_spark.engine import OrestesEngine

    for uri in ("s3a://bucket/wh", "gs://bucket/wh", "abfss://c@a.dfs.core.windows.net/wh",
                "hdfs://nn:8020/wh"):
        with pytest.raises(ValueError, match="atomic rename"):
            OrestesEngine(spark, uri)
    with pytest.raises(ValueError, match="plain filesystem path"):
        OrestesEngine(spark, "file:///tmp/wh")


def test_read_chunked_matches_grouped(spark, tmp_path):
    """read_chunked is the grouped read emitted per (series, bucket):
    reassembling its chunks in bucket order must reproduce exactly the
    grouped read's per-series time-ascending points — including under
    the upsert merge gate (multi-delivery overwrites)."""
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh_chunk"))
    DAY = 86_400_000
    rows = []
    for d in range(3):  # three buckets
        for i in range(5):
            rows.append({"time": START + d * DAY + i, "value": float(d * 10 + i), "host": "a"})
            rows.append({"time": START + d * DAY + i, "value": float(100 + i), "host": "b"})
    eng.write(rows)
    # second delivery overwrites one key: merge gate arms, b's first
    # point in bucket 1 becomes 999
    eng.write([{"time": START + DAY, "value": 999.0, "host": "b"}])

    grouped = {
        tuple(sorted(r["tags"].items())): [(p["time_ms"], p["value"]) for p in r["points"]]
        for r in eng.read(None, "default", 0, 2**50).collect()
    }
    chunks = eng.read_chunked(None, "default", 0, 2**50).collect()
    reassembled: dict = {}
    for r in sorted(chunks, key=lambda r: (r["series_id"], r["bucket"])):
        key = tuple(sorted(r["tags"].items()))
        reassembled.setdefault(key, []).extend(
            (p["time_ms"], p["value"]) for p in r["points"]
        )
    assert reassembled == grouped
    # chunk rows: 2 series x 3 buckets
    assert len(chunks) == 6
    # the overwrite is merged inside its chunk
    b1 = [r for r in chunks if r["tags"]["host"] == "b" and r["bucket"] == (START + DAY) // DAY]
    assert [(p["time_ms"], p["value"]) for p in b1[0]["points"]][0] == (START + DAY, 999.0)


def test_read_max_group_points_cap(spark, tmp_path):
    """max_group_points fails LOUDLY (naming the series) when a series
    would exceed the per-series array cap, and is a no-op for series
    under the cap. Off by default."""
    import pytest
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(spark, str(tmp_path / "wh_cap"))
    eng.write(
        [{"time": START + i, "value": float(i), "host": "big"} for i in range(50)]
        + [{"time": START + i, "value": float(i), "host": "small"} for i in range(5)]
    )
    # under the cap: both series come back whole
    got = eng.read(None, "default", 0, 2**50, max_group_points=50).collect()
    assert {len(r["points"]) for r in got} == {50, 5}
    # over the cap: loud, actionable, names the series
    with pytest.raises(Exception, match="max_group_points"):
        eng.read(None, "default", 0, 2**50, max_group_points=10).collect()
    with pytest.raises(ValueError, match=">= 1"):
        eng.read(None, "default", 0, 2**50, max_group_points=0)


def test_writer_lock_two_real_processes(tmp_path):
    """Two real OS processes contending on one warehouse: the second
    fails loudly while the first lives; SIGKILL of the holder (crash)
    lets the contender steal and proceed. Lock acquisition needs no
    SparkSession, so the helper process is plain Python."""
    import signal
    import subprocess
    import sys
    import time

    import pytest
    from orestes_spark.engine import ConcurrentWriterError, OrestesEngine

    wh = str(tmp_path / "wh_2proc")
    helper = tmp_path / "hold_lock.py"
    helper.write_text(
        "import sys, time\n"
        "sys.path.insert(0, sys.argv[2])\n"
        "from orestes_spark.engine import OrestesEngine\n"
        "eng = OrestesEngine(None, sys.argv[1])\n"
        "with eng._writer_lock('default', 'hold'):\n"
        "    print('HELD', flush=True)\n"
        "    time.sleep(60)\n"
    )
    import orestes_spark

    pkg_root = str(tmp_path / "..")  # placeholder, replaced below
    pkg_root = orestes_spark.__file__.rsplit("/orestes_spark/", 1)[0]
    proc = subprocess.Popen(
        [sys.executable, str(helper), wh, pkg_root],
        stdout=subprocess.PIPE,
        text=True,
    )
    try:
        assert proc.stdout.readline().strip() == "HELD"
        eng = OrestesEngine(None, wh)
        with pytest.raises(ConcurrentWriterError, match="live writer"):
            with eng._writer_lock("default", "contend"):
                pass
        proc.send_signal(signal.SIGKILL)
        proc.wait(timeout=10)
        time.sleep(0.1)
        with eng._writer_lock("default", "contend"):  # dead holder: stolen
            assert eng._lock_path("default").exists()
        assert not eng._lock_path("default").exists()  # released
    finally:
        if proc.poll() is None:
            proc.kill()


def test_writer_lock_foreign_host_lease(tmp_path):
    """A holder on ANOTHER host cannot be pid-probed: it is live while
    its mtime heartbeat is within writer_lease_ms and dead once the
    heartbeat goes stale — a crashed remote writer stops wedging the
    space after one lease instead of forever."""
    import json
    import os
    import time

    import pytest
    from orestes_spark.engine import ConcurrentWriterError, OrestesEngine

    eng = OrestesEngine(None, str(tmp_path / "wh_lease"))
    eng.config.writer_lease_ms = 60_000
    lock = eng._lock_path("default")
    lock.parent.mkdir(parents=True, exist_ok=True)
    payload = {"pid": os.getpid(), "host": "some-other-host", "token": "t1",
               "op": "append", "ts_ms": 0}
    lock.write_text(json.dumps(payload))  # fresh mtime: within lease

    with pytest.raises(ConcurrentWriterError, match="live writer"):
        with eng._writer_lock("default", "contend"):
            pass

    stale = time.time() - 120  # heartbeat older than the lease
    os.utime(lock, (stale, stale))
    with eng._writer_lock("default", "contend"):  # expired: stolen
        pass
    assert not lock.exists()


def test_writer_lock_heartbeat_and_fencing(tmp_path):
    """While held, the lock's mtime is heartbeat-refreshed (foreign
    hosts keep seeing it alive across many lease periods); if a thief
    replaces the lock mid-operation, release FENCES — raises instead
    of silently unlinking the thief's lock."""
    import json
    import time

    import pytest
    from orestes_spark.engine import ConcurrentWriterError, OrestesEngine, _holder_alive

    eng = OrestesEngine(None, str(tmp_path / "wh_beat"))
    eng.config.writer_lease_ms = 300  # beat every ~0.1 s
    lock = eng._lock_path("default")

    with eng._writer_lock("default", "long-op"):
        time.sleep(1.0)  # > 3 lease periods
        holder = json.loads(lock.read_text())
        # a foreign-host observer still sees a live heartbeat
        assert _holder_alive({**holder, "host": "remote"}, lock, 300)

    # fencing: thief replaces the lock while we "stall"
    with pytest.raises(ConcurrentWriterError, match="lease expired mid-operation"):
        with eng._writer_lock("default", "stalled-op"):
            lock.write_text(json.dumps({"pid": 1, "host": "thief", "token": "not-ours",
                                        "op": "steal", "ts_ms": 0}))
    # the thief's lock must survive our failed release
    assert json.loads(lock.read_text())["token"] == "not-ours"


def test_writer_lock_vanished_at_release_fences(tmp_path):
    """A held lock that has VANISHED at release can only mean a
    contender judged the lease expired and unlinked it mid-steal
    (before re-linking its own) — the same expired-then-stolen
    condition as a token mismatch, so release fences loudly instead
    of reporting success silently."""
    import pytest
    from orestes_spark.engine import ConcurrentWriterError, OrestesEngine

    eng = OrestesEngine(None, str(tmp_path / "wh_vanish"))
    lock = eng._lock_path("default")
    with pytest.raises(ConcurrentWriterError, match="lease expired mid-operation"):
        with eng._writer_lock("default", "op"):
            lock.unlink()


def test_engine_config_rejects_zero_lease():
    """writer_lease_ms=0 parses as a valid duration but is never a
    valid config (every foreign lock would read instantly expired and
    the heartbeat would spin) — EngineConfig must refuse it loudly."""
    import pytest
    from orestes_spark.config import EngineConfig

    for kw in ({"writer_lease_ms": 0}, {"writer_lease_ms": -5}):
        with pytest.raises(ValueError, match="must be > 0"):
            EngineConfig(warehouse="/tmp/x", **kw)


def test_grouped_read_heavy_range_prewarns(engine, monkeypatch, caplog):
    """An uncapped grouped read over a range whose footer metadata
    implies a heavy per-series array warns BEFORE the job runs, naming
    read_chunked / grouped=False / max_group_points (round-7 verdict
    task). The probe is metadata-only; a capped read and a light range
    stay silent."""
    import logging

    from orestes_spark import engine as eng_mod

    engine.write([{"time": START + i, "value": float(i), "name": "hot"} for i in range(50)])
    monkeypatch.setattr(eng_mod, "GROUPED_READ_WARN_POINTS", 10)
    with caplog.at_level(logging.WARNING, logger="orestes_spark.engine"):
        engine.read(None, "default", 0, START + 10**6, grouped=True)
    assert any("read_chunked" in r.message for r in caplog.records), caplog.records
    # capped read: the backstop is explicit, the warning is not emitted
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="orestes_spark.engine"):
        engine.read(None, "default", 0, START + 10**6, grouped=True, max_group_points=10**6)
    assert not any("read_chunked" in r.message for r in caplog.records)
    # light range (default threshold): the stat gate skips the footers
    caplog.clear()
    monkeypatch.setattr(eng_mod, "GROUPED_READ_WARN_POINTS", 50_000_000)
    with caplog.at_level(logging.WARNING, logger="orestes_spark.engine"):
        engine.read(None, "default", 0, START + 10**6, grouped=True)
    assert not any("read_chunked" in r.message for r in caplog.records)


def test_foreign_holder_lease_uses_holders_lease(tmp_path):
    """A foreign-host holder is judged by ITS recorded lease, not the
    observer's: an observer configured with a shorter lease must not
    steal a live remote writer that heartbeats on a longer cadence."""
    import json
    import os
    import time

    import pytest
    from orestes_spark.engine import ConcurrentWriterError, OrestesEngine

    eng = OrestesEngine(None, str(tmp_path / "wh_lease2"))
    eng.config.writer_lease_ms = 60_000  # observer: 1 min
    lock = eng._lock_path("default")
    lock.parent.mkdir(parents=True, exist_ok=True)
    lock.write_text(json.dumps({
        "pid": 1, "host": "remote", "token": "t", "op": "append",
        "ts_ms": 0, "lease_ms": 3_600_000,  # holder: 1 hour
    }))
    stale = time.time() - 120  # older than observer's lease, within holder's
    os.utime(lock, (stale, stale))
    with pytest.raises(ConcurrentWriterError, match="live writer"):
        with eng._writer_lock("default", "contend"):
            pass


def test_engine_accepts_engine_config(spark, tmp_path):
    """The JSON-config knobs actually reach an engine: OrestesEngine
    accepts a full EngineConfig (the engine_config_from_json product),
    including writer_lease_ms with duration-string syntax."""
    import json

    import pytest
    from orestes_spark.config import engine_config_from_json
    from orestes_spark.engine import OrestesEngine

    cfg = tmp_path / "conf.json"
    cfg.write_text(json.dumps({
        "writer_lease_ms": "30m",
        "spaces": {"default": {"table_granularity_days": 7}},
    }))
    ec = engine_config_from_json(cfg, str(tmp_path / "wh_cfg"))
    eng = OrestesEngine(spark, config=ec)
    assert eng.config.writer_lease_ms == 1_800_000
    assert eng._granularity("default") == 7
    with pytest.raises(ValueError, match="spaces inside config"):
        OrestesEngine(spark, config=ec, spaces={})
    with pytest.raises(ValueError, match="warehouse given twice"):
        OrestesEngine(spark, "elsewhere", config=ec)
    with pytest.raises(ValueError, match="required"):
        OrestesEngine(spark)


def test_duration_rejects_negative_and_inf():
    import pytest
    from orestes_spark.config import parse_duration_ms

    for bad in ("-10m", -5, "inf", "infms", "nan", float("inf")):
        with pytest.raises(ValueError):
            parse_duration_ms(bad)


def test_mutation_state_machine_random_walk(spark, tmp_path):
    """Model-based integration walk over the full mutation surface:
    a seeded random sequence of batch appends, epoch appends,
    committed-epoch replays, compactions, targeted erasures, and full
    retention sweeps — after EVERY op the engine's flat read must
    equal a pure-Python last-write-wins model. This is the
    cross-feature net under the epoch-manifest/upsert/erasure
    machinery: any interaction bug between the protocols (a replay
    double-append after compact, an erasure resurrecting swept rows, a
    sweep leaving the merge gate wrong) surfaces as a model mismatch
    at the exact op index."""
    import random

    from orestes_spark.engine import OrestesEngine

    rng = random.Random(77)
    eng = OrestesEngine(spark, str(tmp_path / "wh_walk"))
    HOSTS = ["a", "b", "c"]
    TIMES = [START + i for i in range(6)]  # few keys → upsert collisions

    model: dict[tuple[str, int], tuple[int, float]] = {}  # (host,t) -> (seq, value)
    seq = 0
    epoch_payloads: dict[int, list[tuple[str, int, float]]] = {}
    next_epoch = 0

    def mk(rows):
        return spark.createDataFrame(
            [(t, v, {"host": h}) for (h, t, v) in rows],
            "time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>",
        )

    def apply_model(rows):
        nonlocal seq
        seq += 1
        for h, t, v in rows:
            old = model.get((h, t))
            # engine rule: later delivery wins; equal stamps fall to
            # the greater value — within one delivery seq is shared
            if old is None or old[0] < seq or (old[0] == seq and v > old[1]):
                model[(h, t)] = (seq, v)

    def rand_rows():
        # Unique (host, time) per batch: with the merge gate OFF (sole
        # delivery since a sweep) the engine preserves raw duplicate
        # rows — reference parity — while the model's same-stamp
        # greater-value rule only applies when reads MERGE. Dedup
        # keeps the walk meaningful under both gate states.
        picked = {}
        for _ in range(rng.randint(1, 5)):
            h, t, v = rng.choice(HOSTS), rng.choice(TIMES), float(rng.randint(0, 99))
            old = picked.get((h, t))
            picked[(h, t)] = v if old is None else max(old, v)
        return [(h, t, v) for (h, t), v in picked.items()]

    def check(step):
        got = {
            (r["tags"]["host"], r["time_ms"]): r["value"]
            for r in eng.read(None, "default", 0, 2**50, grouped=False).collect()
        }
        want = {k: v for k, (_, v) in model.items()}
        assert got == want, f"divergence after op {step}"

    for step in range(28):
        op = rng.choice(
            ["batch", "batch", "epoch", "epoch", "replay", "compact", "erase", "sweep"]
        )
        if op == "batch":
            rows = rand_rows()
            eng.write([{"time": t, "value": v, "host": h} for (h, t, v) in rows])
            apply_model(rows)
        elif op == "epoch":
            rows = rand_rows()
            eng._append(mk(rows), "default", epoch_id=next_epoch)
            epoch_payloads[next_epoch] = rows
            apply_model(rows)
            next_epoch += 1
        elif op == "replay" and epoch_payloads:
            # Only the NEWEST epoch: Structured Streaming re-offers at
            # most the last epoch after a restart, and the engine's
            # idempotency bound matches exactly that surface (marker
            # pruning keeps only the newest stream marker once older
            # epochs' files are compacted — an out-of-contract replay
            # of an ancient epoch would re-append).
            e = max(epoch_payloads)
            eng._append(mk(epoch_payloads[e]), "default", epoch_id=e)
            # committed replay: model unchanged
        elif op == "compact":
            eng.compact("default")
        elif op == "erase" and model:
            h = rng.choice(HOSTS)
            eng.delete_series({"term": {"host": h}})
            model = {k: v for k, v in model.items() if k[0] != h}
        elif op == "sweep":
            eng.remove("default", keep_days=0)
            model = {}
            # dropped buckets take their epoch files with them; replay
            # of an old epoch would re-append — mirror the engine's
            # marker behavior: markers survive remove(), so committed
            # replays stay no-ops. Keep payloads.
        check(step)


def test_fence_does_not_mask_operation_error(tmp_path):
    """When the guarded operation is already raising AND the lease was
    stolen mid-operation, release must propagate the ORIGINAL error
    (with a RuntimeWarning for the fence) — a fence raise replacing it
    would hide the real failure; the thief's lock stays untouched."""
    import json
    import warnings

    import pytest
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(None, str(tmp_path / "wh_fencemask"))
    lock = eng._lock_path("default")

    with pytest.raises(RuntimeError, match="operation exploded"):
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            with eng._writer_lock("default", "doomed-op"):
                lock.write_text(json.dumps({"pid": 1, "host": "thief",
                                            "token": "not-ours", "op": "steal",
                                            "ts_ms": 0}))
                raise RuntimeError("operation exploded")
    assert any("lease expired" in str(w.message) for w in caught)
    assert json.loads(lock.read_text())["token"] == "not-ours"  # untouched
