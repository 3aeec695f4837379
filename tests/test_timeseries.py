"""As-of join / resample / gap-fill unit tests."""

from __future__ import annotations

import pytest

from orestes_spark.operators import timeseries


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "a", 4), (4, "b", 15), (5, "c", 7)],
        "event_id LONG, k STRING, time_ms LONG",
    )
    right = spark.createDataFrame(
        [("a", 5, 1.0), ("a", 20, 2.0), ("a", 25, 9.9), ("b", 1, 3.0)],
        "k STRING, time_ms LONG, v DOUBLE",
    )
    return left, right


def test_asof_semantics(frames):
    left, right = frames
    out = {
        r["event_id"]: r["v"]
        for r in timeseries.asof_join(left, right, on="k").collect()
    }
    assert out[1] == 1.0   # latest at-or-before 10 is t=5
    assert out[2] == 2.0   # tie: t=20 row included (inclusive <=)
    assert out[3] is None  # t=4 predates all right rows
    assert out[4] == 3.0
    assert out[5] is None  # key with no right rows at all


def test_asof_tolerance(frames):
    left, right = frames
    out = {
        r["event_id"]: r["v"]
        for r in timeseries.asof_join(left, right, on="k", tolerance_ms=6).collect()
    }
    assert out[1] == 1.0   # 10-5=5 within tolerance
    assert out[2] == 2.0   # exact match
    assert out[4] is None  # 15-1=14 too old


def test_resample_and_gap_fill(spark):
    pts = spark.createDataFrame(
        [("s1", 0, 1.0), ("s1", 500, 3.0), ("s1", 2500, 5.0)],
        "sid STRING, time_ms LONG, value DOUBLE",
    )
    res = timeseries.resample(pts, 1000, ["sid"], aggs=["avg", "count", "last"])
    rows = {r["bucket_ms"]: r for r in res.collect()}
    assert rows[0]["avg_value"] == 2.0 and rows[0]["n"] == 2 and rows[0]["last_value"] == 3.0
    assert rows[2000]["n"] == 1
    assert 1000 not in rows  # gap

    filled = timeseries.gap_fill(res, 1000, ["sid"])
    frows = {r["bucket_ms"]: r for r in filled.collect()}
    assert frows[1000]["n"] is None  # densified, not filled

    ffilled = timeseries.gap_fill(res, 1000, ["sid"], forward_fill=True)
    ffrows = {r["bucket_ms"]: r for r in ffilled.collect()}
    assert ffrows[1000]["n"] == 2  # carried forward from bucket 0

    with pytest.raises(ValueError):
        timeseries.resample(pts, 1000, ["sid"], aggs=["median"])


def test_range_join_matches_naive_theta_join(spark):
    from orestes_spark.operators import timeseries

    pts = spark.createDataFrame(
        [(u, t) for u in (1, 2) for t in (0, 50, 99, 100, 150, 999, 1000)],
        "user_id LONG, time_ms LONG",
    )
    ivs = spark.createDataFrame(
        [
            (1, 0, 100, "a"),      # [0,100): catches 0,50,99 not 100
            (1, 100, 100, "zero"), # empty interval: catches nothing
            (1, 900, 2000, "b"),   # spans several buckets
            (2, 100, 200, "c"),    # other key
        ],
        "user_id LONG, start_ms LONG, end_ms LONG, label STRING",
    )
    got = sorted(
        (r["user_id"], r["time_ms"], r["label"])
        for r in timeseries.range_join(pts, ivs, on="user_id", bucket_ms=100).collect()
    )
    naive = sorted(
        (r["user_id"], r["time_ms"], r["label"])
        for r in pts.join(
            ivs,
            (pts.user_id == ivs.user_id)
            & (pts.time_ms >= ivs.start_ms)
            & (pts.time_ms < ivs.end_ms),
        )
        .select(pts.user_id, pts.time_ms, ivs.label)
        .collect()
    )
    assert got == naive
    assert (1, 0, "a") in got and (1, 100, "a") not in got  # end exclusive
    assert (1, 999, "b") in got and (1, 1000, "b") in got
    assert all(lbl != "zero" for _, _, lbl in got)


def test_ohlc_tiebreaks_equal_timestamps_by_id(spark):
    from orestes_spark.operators.timeseries import ohlc

    pts = spark.createDataFrame(
        [
            ("a", 1000, 5.0, 2),
            ("a", 1000, 1.0, 1),  # same ts as id 2 — open must take id 1
            ("a", 2000, 9.0, 3),
            ("b", 1500, 7.0, 4),
        ],
        "key STRING, time_ms LONG, value DOUBLE, event_id LONG",
    )
    out = {r["key"]: r for r in ohlc(pts, 3600_000, ["key"], tiebreak_col="event_id").collect()}
    a = out["a"]
    assert (a["open"], a["high"], a["low"], a["close"], a["n"]) == (1.0, 9.0, 1.0, 9.0, 3)
    b = out["b"]
    assert (b["open"], b["close"], b["n"]) == (7.0, 7.0, 1)


def test_interpolate_linear_fills_interior_gaps_only(spark):
    from orestes_spark.operators.timeseries import gap_fill, interpolate_linear

    resampled = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 3000, 4.0), ("b", 1000, 2.0)],
        "key STRING, bucket_ms LONG, avg_value DOUBLE",
    )
    dense = gap_fill(resampled, 1000, ["key"])
    out = {(r["key"], r["bucket_ms"]): r for r in interpolate_linear(dense, ["key"]).collect()}
    assert out[("a", 0)]["value"] == 1.0 and out[("a", 0)]["observed"] is True
    assert out[("a", 1000)]["value"] == 2.0 and out[("a", 1000)]["observed"] is False
    assert out[("a", 2000)]["value"] == 3.0
    assert out[("a", 3000)]["value"] == 4.0
    assert out[("b", 1000)]["value"] == 2.0
    assert len(out) == 5


def test_interpolate_linear_matches_numpy_on_random_series(spark):
    """Batched model check: 20 random observed/missing patterns, each
    compared to numpy.interp over the observed anchors (edges NULL)."""
    import numpy as np

    from orestes_spark.operators.timeseries import interpolate_linear

    rng = np.random.default_rng(5)
    rows, expected = [], {}
    for s in range(20):
        n = int(rng.integers(4, 15))
        vals = np.round(rng.normal(size=n) * 10, 6)
        observed = rng.random(n) < 0.6
        observed[int(rng.integers(0, n))] = True  # at least one anchor
        key = f"s{s}"
        for i in range(n):
            rows.append((key, i * 1000, float(vals[i]) if observed[i] else None))
        obs_idx = np.flatnonzero(observed)
        for i in range(n):
            if observed[i]:
                expected[(key, i * 1000)] = round(float(vals[i]), 6)
            elif obs_idx[0] < i < obs_idx[-1]:
                expected[(key, i * 1000)] = round(
                    float(np.interp(i, obs_idx, vals[obs_idx])), 6
                )
            else:
                expected[(key, i * 1000)] = None
    dense = spark.createDataFrame(rows, "key STRING, bucket_ms LONG, avg_value DOUBLE")
    got = {
        (r["key"], r["bucket_ms"]): r["value"]
        for r in interpolate_linear(dense, ["key"]).collect()
    }
    assert len(got) == len(expected)
    for k, e in expected.items():
        if e is None:
            assert got[k] is None, k
        else:
            assert got[k] == pytest.approx(e, abs=2e-6), k


def test_asof_join_forward_direction(spark):
    from orestes_spark.operators.timeseries import asof_join

    left = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 250), (3, "a", 600), (4, "b", 50)],
        "id LONG, k STRING, time_ms LONG",
    )
    right = spark.createDataFrame(
        [("a", 250, 10.0), ("a", 400, 20.0), ("b", 40, 5.0)],
        "k STRING, time_ms LONG, v DOUBLE",
    )
    out = {r["id"]: r["v"] for r in asof_join(left, right, on="k", direction="forward").collect()}
    assert out[1] == 10.0   # next right at 250
    assert out[2] == 10.0   # equal time ties take the right row (inclusive >=)
    assert out[3] is None   # nothing after 600
    assert out[4] is None   # b's only right row is in the past
    # tolerance measured forward
    tol = {r["id"]: r["v"]
           for r in asof_join(left, right, on="k", direction="forward", tolerance_ms=100).collect()}
    assert tol[1] is None and tol[2] == 10.0


def test_asof_join_null_value_does_not_splice_rows(spark):
    """A NULL field in the matched right row must come through as NULL,
    not be back-filled from an older right row; the tolerance gap must
    be measured against the matched row's own timestamp."""
    from orestes_spark.operators.timeseries import asof_join

    left = spark.createDataFrame([(1, "k", 300)], "id LONG, k STRING, time_ms LONG")
    right = spark.createDataFrame(
        [("k", 100, 1.0, 5.0), ("k", 200, None, 9.0)],
        "k STRING, time_ms LONG, v1 DOUBLE, v2 DOUBLE",
    )
    row = asof_join(left, right, on="k").collect()[0]
    assert row["v1"] is None and row["v2"] == 9.0  # the t=200 row, atomically
    # tolerance 150: matched row (t=200) is 100ms away → both fields kept
    row = asof_join(left, right, on="k", tolerance_ms=150).collect()[0]
    assert row["v1"] is None and row["v2"] == 9.0
    # forward direction, same atomicity
    fwd_left = spark.createDataFrame([(2, "k", 50)], "id LONG, k STRING, time_ms LONG")
    row = asof_join(fwd_left, right, on="k", direction="forward").collect()[0]
    assert row["v1"] == 1.0 and row["v2"] == 5.0  # the t=100 row

def test_m4_coordinates_and_ties(spark):
    from orestes_spark.operators.timeseries import m4

    pts = spark.createDataFrame(
        [
            # one hourly bucket for key 'a': min value 1.0 appears twice
            # (ids 2 and 4) — t_min must take the EARLIER point; max 9.0
            # once; first/last resolve by (ts, id).
            ("a", 1000, 5.0, 1),
            ("a", 2000, 1.0, 2),
            ("a", 2500, 9.0, 3),
            ("a", 3000, 1.0, 4),
            ("a", 3000, 7.0, 5),  # same ts as id 4 — last must take id 5
            ("b", 1500, 2.0, 6),
        ],
        "key STRING, time_ms LONG, value DOUBLE, event_id LONG",
    )
    out = {r["key"]: r for r in m4(pts, 3_600_000, ["key"], tiebreak_col="event_id").collect()}
    a = out["a"]
    assert (a["t_first"], a["v_first"]) == (1000, 5.0)
    assert (a["t_min"], a["v_min"]) == (2000, 1.0)
    assert (a["t_max"], a["v_max"]) == (2500, 9.0)
    assert (a["t_last"], a["v_last"]) == (3000, 7.0)
    assert a["n"] == 5
    b = out["b"]
    assert (b["t_first"], b["v_first"], b["t_last"], b["v_last"], b["n"]) == (
        1500, 2.0, 1500, 2.0, 1,
    )


def test_m4_without_tiebreak_returns_raw_timestamps(spark):
    from orestes_spark.operators.timeseries import m4

    pts = spark.createDataFrame(
        [("a", 1000, 3.0), ("a", 4000, 8.0)],
        "key STRING, time_ms LONG, value DOUBLE",
    )
    (row,) = m4(pts, 3_600_000, ["key"]).collect()
    assert (row["t_first"], row["t_last"], row["t_min"], row["t_max"]) == (
        1000, 4000, 1000, 4000,
    )


def test_cross_corr_perfectly_correlated_and_anticorrelated(spark):
    """ts_cross_corr registry entry: y = 2x + 1 across one shared hour
    grid must give r = 1; y = -x gives r = -1."""
    from orestes_spark.queries import QUERIES
    import tempfile, os

    rows = []
    base = 1_704_067_200_000
    for h in range(30):
        v = float((h * 7) % 13)
        rows.append((h * 3 + 1, base + h * 3_600_000, "up", v))
        rows.append((h * 3 + 2, base + h * 3_600_000, "linear", 2.0 * v + 1.0))
        rows.append((h * 3 + 3, base + h * 3_600_000, "zneg", -v))
    df = spark.createDataFrame(
        [(i, ts, et, val, "0", "{}") for (i, ts, et, val) in rows],
        "event_id LONG, ts_ms LONG, event_type STRING, value DOUBLE, user_id STRING, props STRING",
    ).selectExpr(
        "event_id", "timestamp_millis(ts_ms) AS ts", "CAST(user_id AS LONG) AS user_id",
        "event_type", "value", "props",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {(r["src"], r["dst"]): r["r"] for r in QUERIES["ts_cross_corr"](spark, d).collect()}
    assert out[("linear", "up")] == 1.0
    assert out[("linear", "zneg")] == -1.0
    assert out[("up", "zneg")] == -1.0


def test_ewma_constant_series_and_latest_dominance(spark):
    """ts_ewma registry entry: a constant series smooths to itself; a
    single spike at the latest hour pulls the EWMA more than half way
    (alpha = 1/2 gives the newest point weight >= the entire tail)."""
    import os
    import tempfile

    from orestes_spark.queries import QUERIES

    base = 1_704_067_200_000
    rows = []
    for h in range(20):
        rows.append((h * 2 + 1, base + h * 3_600_000, "flat", 5.0))
        rows.append((h * 2 + 2, base + h * 3_600_000, "spike", 100.0 if h == 19 else 0.0))
    df = spark.createDataFrame(
        [(i, ts, et, v, "0", "{}") for (i, ts, et, v) in rows],
        "event_id LONG, ts_ms LONG, event_type STRING, value DOUBLE, user_id STRING, props STRING",
    ).selectExpr(
        "event_id", "timestamp_millis(ts_ms) AS ts", "CAST(user_id AS LONG) AS user_id",
        "event_type", "value", "props",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {(r["event_type"], r["hour"]): r["ewma"] for r in QUERIES["ts_ewma"](spark, d).collect()}
    flat_vals = {v for (et, _), v in out.items() if et == "flat"}
    assert flat_vals == {5.0}
    last_hour = max(h for (et, h) in out if et == "spike")
    assert out[("spike", last_hour)] > 50.0  # newest point carries >= half the mass
    assert out[("spike", last_hour - 1)] == 0.0


def test_bollinger_constant_series_and_large_magnitude(spark):
    """ts_bollinger registry entry. Two regressions pinned: (1) a
    constant series gives sd 0 and bands == ma; (2) hourly averages
    around 2,000 — where each micro-unit square fits int64 but an
    8-row window SUM of squares does not — must compute, not overflow
    (the squares run in DECIMAL(38,0); pre-fix this threw
    ARITHMETIC_OVERFLOW under ANSI)."""
    import os
    import tempfile

    from orestes_spark.queries import QUERIES

    base = 1_704_067_200_000
    rows = []
    for h in range(12):
        rows.append((h * 2 + 1, base + h * 3_600_000, "flat", 7.25))
        rows.append((h * 2 + 2, base + h * 3_600_000, "big", 2000.0 + (h % 3)))
    df = spark.createDataFrame(
        [(i, ts, et, v, "0", "{}") for (i, ts, et, v) in rows],
        "event_id LONG, ts_ms LONG, event_type STRING, value DOUBLE, user_id STRING, props STRING",
    ).selectExpr(
        "event_id", "timestamp_millis(ts_ms) AS ts", "CAST(user_id AS LONG) AS user_id",
        "event_type", "value", "props",
    )
    d = tempfile.mkdtemp()
    df.write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {(r["event_type"], r["hour"]): r for r in QUERIES["ts_bollinger"](spark, d).collect()}
    flat = [v for (et, _), v in out.items() if et == "flat"]
    assert all(r["sd"] == 0.0 and r["ma"] == 7.25 for r in flat)
    assert all(r["upper_band"] == r["lower_band"] == 7.25 for r in flat)
    big = [v for (et, _), v in out.items() if et == "big"]
    assert len(big) == 12  # no overflow abort
    assert all(1999.0 < r["ma"] < 2003.0 and 0.0 <= r["sd"] < 2.0 for r in big)
    for r in big:
        assert r["upper_band"] >= r["ma"] >= r["lower_band"]


def test_sessionization_splits_on_exact_sub_second_gap(spark, tmp_path):
    """A 1800.5 s gap opens a new session (the oracle compares exact
    intervals); 1800 s exactly does not. Casting ts to whole seconds
    before the > 1800 test merged the first user's two sessions."""
    import datetime as dt

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from orestes_spark.queries import ORACLES, QUERIES

    t0 = dt.datetime(2024, 1, 5)
    gaps = {1: [1800.5, 1800.0], 2: [1800.0, 0.25], 3: [1799.999999, 1800.000001]}
    rows = []
    for user, steps in gaps.items():
        t = t0
        rows.append((len(rows), user, t))
        for s in steps:
            t = t + dt.timedelta(seconds=s)
            rows.append((len(rows), user, t))
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "ts": pa.array([r[2] for r in rows], pa.timestamp("us")),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")

    got = sorted(tuple(r) for r in QUERIES["events_sessionization"](spark, str(tmp_path))
                 .select("user_id", "session_id", "n_events").collect())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'")
    want = sorted(con.execute(
        f"SELECT user_id, session_id, n_events FROM ({ORACLES['events_sessionization']})"
    ).fetchall())
    assert got == want
    assert got == [(1, 0, 1), (1, 1, 2), (2, 0, 3), (3, 0, 2), (3, 1, 1)]
