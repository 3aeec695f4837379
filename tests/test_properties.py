"""Property-based tests (hypothesis): the ES-DSL translator against a
pure-Python evaluation model, validation totality, and series-id
canonicalization invariants. Strategies are kept small (data-light) —
each case builds predicates, not DataFrames, except a final batched
DataFrame check."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from orestes_spark import esdsl

KEYS = ["host", "pop", "extra"]
VALUES = ["a", "b", "c", "d", ""]

tag_sets = st.dictionaries(st.sampled_from(KEYS), st.sampled_from(VALUES), max_size=3)


def leaf_queries():
    return st.one_of(
        st.just({"match_all": {}}),
        st.builds(lambda k, v: {"term": {k: v}}, st.sampled_from(KEYS), st.sampled_from(VALUES)),
        st.builds(
            lambda k, vs: {"terms": {k: vs}},
            st.sampled_from(KEYS),
            st.lists(st.sampled_from(VALUES), min_size=1, max_size=3),
        ),
        st.builds(lambda k: {"exists": {"field": k}}, st.sampled_from(KEYS)),
        st.builds(lambda k: {"missing": {"field": k}}, st.sampled_from(KEYS)),
        st.builds(lambda k, v: {"prefix": {k: v}}, st.sampled_from(KEYS), st.sampled_from(["a", "b", ""])),
        st.builds(
            lambda k, lo, hi: {"range": {k: {"gte": lo, "lt": hi}}},
            st.sampled_from(KEYS),
            st.sampled_from(VALUES),
            st.sampled_from(VALUES),
        ),
    )


queries = st.recursive(
    leaf_queries(),
    lambda children: st.one_of(
        st.builds(lambda qs: {"bool": {"must": qs}}, st.lists(children, min_size=1, max_size=3)),
        st.builds(lambda qs: {"bool": {"should": qs}}, st.lists(children, min_size=1, max_size=3)),
        st.builds(lambda q: {"bool": {"must_not": [q]}}, children),
        st.builds(lambda q: {"not": q}, children),
        st.builds(lambda qs: {"and": qs}, st.lists(children, min_size=1, max_size=3)),
        st.builds(lambda qs: {"or": qs}, st.lists(children, min_size=1, max_size=3)),
        st.builds(lambda q: {"filtered": {"filter": q}}, children),
    ),
    max_leaves=6,
)


def model_eval(query, tags: dict) -> bool:
    """Pure-Python ES-filter-context semantics over a tag dict."""
    if query is None or query == {}:
        return True
    (kind, body), = query.items() if len(query) == 1 else [(None, None)]
    if kind is None:
        return all(model_eval({k: v}, tags) for k, v in query.items())
    if kind == "match_all":
        return True
    if kind == "filtered":
        return all(model_eval(body[k], tags) for k in ("filter", "query") if k in body)
    if kind == "term":
        (k, v), = body.items()
        return tags.get(k) == str(v)
    if kind == "terms":
        (k, vs), = body.items()
        return tags.get(k) in [str(x) for x in vs]
    if kind == "exists":
        return tags.get(body["field"]) is not None
    if kind == "missing":
        return tags.get(body["field"]) is None
    if kind == "prefix":
        (k, v), = body.items()
        return tags.get(k) is not None and tags[k].startswith(v)
    if kind == "range":
        (k, spec), = body.items()
        val = tags.get(k)
        if val is None:
            return False
        ok = True
        for op, bound in spec.items():
            b = str(bound)
            ok &= {"gt": val > b, "gte": val >= b, "lt": val < b, "lte": val <= b}[op]
        return ok
    if kind == "bool":
        ok = True
        for clause in ("must", "filter"):
            if clause in body:
                qs = body[clause] if isinstance(body[clause], list) else [body[clause]]
                ok &= all(model_eval(q, tags) for q in qs)
        if "should" in body:
            qs = body["should"] if isinstance(body["should"], list) else [body["should"]]
            ok &= any(model_eval(q, tags) for q in qs)
        if "must_not" in body:
            qs = body["must_not"] if isinstance(body["must_not"], list) else [body["must_not"]]
            ok &= not any(model_eval(q, tags) for q in qs)
        return ok
    if kind == "not":
        inner = body.get("filter", body) if isinstance(body, dict) and "filter" in body else body
        return not model_eval(inner, tags)
    if kind in ("and", "or"):
        qs = body["filters"] if isinstance(body, dict) and "filters" in body else body
        results = [model_eval(q, tags) for q in qs]
        return all(results) if kind == "and" else any(results)
    raise AssertionError(kind)


@pytest.fixture(scope="module")
def prop_rows(spark):
    rows = [
        {"host": h, "pop": p} | e
        for h in VALUES
        for p in VALUES
        for e in ({}, {"extra": "a"})
    ]
    df = spark.createDataFrame([(t,) for t in rows], "tags MAP<STRING,STRING>")
    return df.localCheckpoint(), rows


@settings(max_examples=60, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(q=queries)
def test_translator_matches_model(prop_rows, q):
    df, rows = prop_rows
    got = df.where(esdsl.translate(q)).count()
    exp = sum(1 for t in rows if model_eval(q, t))
    assert got == exp, f"query {q}: spark={got} model={exp}"


@given(tag_sets)
@settings(max_examples=50, deadline=None)
def test_validate_raw_rows_total(tags):
    from orestes_spark.validation import validate_raw_rows

    pt = {"time": 1000, "value": 1.0, **tags}
    valid, errors = validate_raw_rows([pt])
    assert len(valid) + len(errors) == 1
    if tags:
        assert valid and valid[0]["tags"] == {k: str(v) for k, v in tags.items()}
    else:
        assert errors and errors[0]["error"] == "metrics must have at least one tag"


@given(tag_sets.filter(lambda t: len(t) > 0))
@settings(max_examples=30, deadline=None)
def test_series_id_canonical_order_insensitive(spark, tags):
    from orestes_spark.schema import series_id_col
    from pyspark.sql import functions as F

    items = list(tags.items())
    reversed_tags = dict(reversed(items))
    df = spark.createDataFrame([(tags,), (reversed_tags,)], "tags MAP<STRING,STRING>")
    ids = [r[0] for r in df.select(series_id_col(F.col("tags"))).collect()]
    assert ids[0] == ids[1]
    assert ids[0] == ",".join(f"{k}={v}" for k, v in sorted(tags.items()))


# --------------------------- candidate_pairs vs brute-force model ---

bucket_assignments = st.lists(
    st.tuples(st.integers(0, 5), st.integers(0, 9)),  # (bucket_key, doc_id)
    min_size=0,
    max_size=25,
    unique=True,
)


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(rows=bucket_assignments, min_cooccur=st.integers(1, 3))
def test_candidate_pairs_matches_bruteforce_model(spark, rows, min_cooccur):
    """The self-join candidate generator equals the brute-force model:
    distinct (a, b), a < b, co-bucketed in >= min_cooccur buckets."""
    from collections import defaultdict

    from orestes_spark.operators.dedup import candidate_pairs

    members = defaultdict(set)
    for key, _id in rows:
        members[key].add(_id)
    counts = defaultdict(int)
    for ids in members.values():
        for a in ids:
            for b in ids:
                if a < b:
                    counts[(a, b)] += 1
    want = {p for p, n in counts.items() if n >= min_cooccur}

    banded = spark.createDataFrame(rows or [(0, 0)], "bval INT, _id INT")
    if not rows:
        banded = banded.where("1 = 0")
    got = {
        (r.id_a, r.id_b)
        for r in candidate_pairs(banded, ["bval"], min_cooccur=min_cooccur).collect()
    }
    assert got == want


# ----------------------------------------------------- upsert model ---

_UPSERT_START = 1_700_000_000_000

write_batches = st.lists(  # batches of (time_slot, value_int, host)
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=-50, max_value=50),
            st.sampled_from(["a", "b"]),
        ),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=4,
)


@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(batches=write_batches)
def test_upsert_merge_matches_python_model(spark, tmp_path_factory, batches):
    """Random write sequences with overlapping (series, time) keys:
    the engine's merged read must equal the pure-Python model —
    per key, the LAST batch containing it wins; within a batch the
    max value wins."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(
        spark,
        str(tmp_path_factory.mktemp("wh_prop")),
        spaces={"default": SpaceConfig(1)},
    )
    model: dict[tuple[str, int], float] = {}
    for batch in batches:
        pts = []
        in_batch: dict[tuple[str, int], float] = {}
        for slot, v, host in batch:
            t = _UPSERT_START + slot * 60_000
            pts.append({"time": t, "value": float(v), "host": host})
            k = (host, t)
            in_batch[k] = max(in_batch.get(k, float("-inf")), float(v))
        assert eng.write(pts) == []
        model.update(in_batch)
    got = {}
    for r in eng.read(None, "default", 0, _UPSERT_START + 10**9, grouped=False).collect():
        got[(r["tags"]["host"], r["time_ms"])] = r["value"]
    assert got == model


# -------------------------------------------- driver-proven times ---

_EDGE_TIMES = [
    0, 1_700_000_000_000, -1,
    2**53 - 1, 2**53, 2**53 + 1, -(2**53) - 1,
    2**63 - 1, -(2**63 - 1), 2**63, -(2**63), 2**63 + 4096, 10**30,
    150_000_000_000_000_000, 200_000_000_000_000_000,
    True, False,
    1.7e12, 1_700_000_000_000.5, -0.5, 2e17,
    "2024-01-01T00:00:00Z", "2024-01-01T00:00:00.123+05:00", "1700000000000", "soon",
]

write_times = st.lists(
    st.one_of(st.sampled_from(_EDGE_TIMES), st.integers(-(2**64), 2**64)),
    min_size=1,
    max_size=8,
)


def _all_spark_write_model(spark, points, granularity_days):
    """The list-input write path before driver-proven times: every
    row's time normalized and classified in Spark. Returns (errors,
    {point index: stored time_ms}). A stored time whose day bucket
    overflows the INT partition column made that path's _append abort
    the whole batch (CAST_OVERFLOW); such a point is now reported as
    an invalid timestamp, which the model applies."""
    import math

    from pyspark.sql import functions as F

    from orestes_spark import schema, validation

    valid_rows, errors = validation.validate_raw_rows(points)
    df = spark.createDataFrame(
        [(r["time"], r["value"], r["tags"]) for r in valid_rows],
        "time STRING, value DOUBLE, tags MAP<STRING,STRING>",
    ).select(
        schema.normalize_time_col(F.col("time")).alias("time_ms"), "value", "tags"
    )
    stored = {}
    for r in validation.classify(df, validation.ERR_INVALID_TIMESTAMP).collect():
        point = r.asDict(recursive=True)
        # the bucket's day index, in doubles as Spark computes it
        day = None if r["time_ms"] is None else math.floor(float(r["time_ms"]) / 86_400_000)
        if day is not None and not -(2**31) <= day // granularity_days * granularity_days < 2**31:
            point.update(time_ms=None, error=validation.ERR_INVALID_TIMESTAMP)
        if point["error"] is None:
            stored[point["tags"]["i"]] = point["time_ms"]
        else:
            errors.append({"point": point, "error": point["error"]})
    return errors, stored


@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(times=write_times)
@example(times=_EDGE_TIMES)
def test_driver_proven_times_match_all_spark_path(spark, tmp_path_factory, times):
    """engine.write passes int times within ±2**53 straight through as
    time_ms and sends every other time through Spark: the error list
    and the stored time_ms match the all-Spark model for ints, bools,
    floats, ISO strings and the long-range edges."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    eng = OrestesEngine(
        spark, str(tmp_path_factory.mktemp("wh_times")), spaces={"default": SpaceConfig(1)}
    )
    points = [{"time": t, "value": 1.5, "i": str(i)} for i, t in enumerate(times)]
    want_errors, want_stored = _all_spark_write_model(spark, points, 1)
    assert eng.write(points) == want_errors
    got_stored = {}
    if any(eng._points_path("default").rglob("*.parquet")):
        got_stored = {
            r["tags"]["i"]: r["time_ms"]
            for r in spark.read.parquet(str(eng._points_path("default"))).collect()
        }
    assert got_stored == want_stored


def test_time_two_to_the_63_is_invalid_timestamp(engine):
    errs = engine.write([{"time": 2**63, "value": 1.0, "host": "a"}])
    assert [e["error"] for e in errs] == ["invalid timestamp"]
    assert errs[0]["point"]["time_ms"] is None


# ------------------------------- driver-committed derived columns ---

_DAY_MS = 86_400_000
# Code points whose UTF-16 order differs from their UTF-8 byte order
# (U+E000 and U+FFFF sort after an astral character in UTF-16), the
# separators of the series id, and plain ASCII. No lone surrogates:
# UTF-8 cannot encode them, so such a write takes the Spark sinks
# (tests/test_engine.py::test_unencodable_tag_takes_spark_sinks).
_TAG_CHARS = st.one_of(
    st.sampled_from(["a", "b", "Z", " ", "=", ",", "\u00e9", "\ue000", "\uffff", "\U0001f600"]),
    st.characters(codec="utf-8"),
)
_tag_text = st.text(_TAG_CHARS, max_size=4)
_day_edges = st.integers(-(2**53) // _DAY_MS, 2**53 // _DAY_MS).flatmap(
    lambda k: st.sampled_from([k * _DAY_MS - 1, k * _DAY_MS, k * _DAY_MS + 1])
)
_derived_cases = st.lists(
    st.tuples(
        st.dictionaries(_tag_text, _tag_text, min_size=1, max_size=4),
        st.one_of(st.integers(-(2**53), 2**53), _day_edges).filter(lambda t: abs(t) <= 2**53),
    ),
    min_size=1,
    max_size=20,
)
_PINNED_TIMES = [
    2**53, -(2**53), 2**53 // _DAY_MS * _DAY_MS - 1, 2**53 // _DAY_MS * _DAY_MS,
    -(2**53 // _DAY_MS) * _DAY_MS - 1, -(2**53 // _DAY_MS) * _DAY_MS, -1, 0,
    -_DAY_MS, -_DAY_MS - 1, -7 * _DAY_MS + 1,
]


@settings(max_examples=25, deadline=None)
@given(cases=_derived_cases)
@example(cases=[({"k": "v", "a=b": "c,d"}, t) for t in _PINNED_TIMES])
@example(cases=[({"\ue000": "1", "\U0001f600": "2", "\u00e9": "=", "\uffff": ","}, -1)])
def test_driver_series_id_and_bucket_match_spark(spark, cases):
    """The driver commit's series id and bucket equal
    schema.series_id_col and schema.bucket_col evaluated in Spark, for
    non-ASCII tags, separators inside keys and values, every
    granularity 1-7 and times across ±2**53 (day edges included)."""
    from pyspark.sql import functions as F

    from orestes_spark import schema

    df = spark.createDataFrame(
        [(i, tags, t) for i, (tags, t) in enumerate(cases)], "i INT, tags MAP<STRING,STRING>, t LONG"
    )
    rows = df.select(
        "i",
        schema.series_id_col(F.col("tags")).alias("sid"),
        *[schema.bucket_col(F.col("t"), g).alias(f"b{g}") for g in range(1, 8)],
    ).collect()
    assert len(rows) == len(cases)
    for r in rows:
        tags, t = cases[r["i"]]
        assert schema.series_id(tags) == r["sid"]
        assert [schema.bucket_of(t, g) for g in range(1, 8)] == [r[f"b{g}"] for g in range(1, 8)]


# ------------------------------------ driver vs Spark commit parity ---

_PARITY_T0 = 1_700_000_000_000
_PARITY_STEP_MS = 9_876_543  # 25 steps span ~3 day buckets; ms fractions
_parity_points = st.lists(
    st.tuples(
        st.integers(0, 24),
        st.integers(-3, 3),
        st.sampled_from(["a", "b", "\u00fc"]),
        st.sampled_from([None, "x", "y,z"]),
    ),
    min_size=1,
    max_size=6,
)
_parity_requests = st.lists(_parity_points, min_size=1, max_size=4)


def _iso_ms(ms):
    import datetime

    t = datetime.datetime.fromtimestamp(ms / 1000, tz=datetime.timezone.utc)
    return t.isoformat(timespec="milliseconds").replace("+00:00", "Z")


def _parity_answers(eng, space):
    """What a client sees of ``space`` through the HTTP surface, in a
    canonical order, then the stored rows after compact()."""
    import json

    from orestes_spark.api import handle_request

    def canon(items):
        return sorted(items, key=lambda x: json.dumps(x, sort_keys=True))

    span = {"start": _PARITY_T0, "end": _PARITY_T0 + 3 * _DAY_MS}
    out = {
        "read": canon(handle_request(eng, "read", span, space)["series"]),
        "read_term": canon(
            handle_request(eng, "read", {**span, "query": {"term": {"host": "a"}}}, space)["series"]
        ),
        "count": canon(
            handle_request(eng, "read", {**span, "aggregations": [{"type": "count"}]}, space)["series"]
        ),
        "series": canon(handle_request(eng, "series", span, space)["series"]),
        "select_distinct": canon(
            handle_request(eng, "select_distinct", {"keys": ["host", "dc"]}, space)
        ),
    }
    eng.compact(space)
    out["compacted_points"] = sorted(
        (r["bucket"], r["series_id"], r["time_ms"], r["value"], sorted(r["tags"].items()))
        for r in eng._read_points(space).collect()
    )
    out["compacted_series"] = sorted(
        (r["bucket"], r["series_id"], sorted(r["tags"].items()))
        for r in eng._read_series(space).collect()
    )
    return out


@settings(max_examples=3, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(requests=_parity_requests)
@example(
    requests=[
        [(0, 1, "a", None), (0, 2, "a", None), (9, 1, "b", "x"), (20, 0, "\u00fc", "y,z")],
        [(0, -1, "a", None), (9, 3, "b", "x"), (24, 1, "a", "x")],
        [(0, -2, "a", None), (24, -3, "a", "x"), (24, 3, "a", "x")],
    ]
)
def test_driver_commit_matches_spark_sinks(spark, tmp_path_factory, requests):
    """One request stream written with int times (driver commits) and
    with the same instants as ISO strings (Spark sinks) answers /read,
    /count, /series and /select_distinct identically and compacts to
    the same rows. Also for a space whose requests alternate between
    the two (both kinds of file in one bucket), and for a driver-written
    space that has streamed before (_epochs: staged, manifest-published
    batches)."""
    from orestes_spark.config import SpaceConfig
    from orestes_spark.engine import OrestesEngine

    spaces = ["iso", "int", "mixed", "epochs"]
    eng = OrestesEngine(
        spark,
        str(tmp_path_factory.mktemp("wh_parity")),
        spaces={s: SpaceConfig(1) for s in spaces},
    )
    # A streamed epoch of one point makes the space publish every later
    # batch through the _epochs manifests; the other spaces get the
    # same point as a first write.
    eng._append(
        spark.createDataFrame([(_PARITY_T0, 0.5, {"host": "s"})], "time_ms LONG, value DOUBLE, tags MAP<STRING,STRING>"),
        "epochs",
        epoch_id=1,
    )
    assert (eng._points_path("epochs") / "_epochs").exists()
    for s in ("iso", "int", "mixed"):
        t = _iso_ms(_PARITY_T0) if s == "iso" else _PARITY_T0
        assert eng.write([{"time": t, "value": 0.5, "host": "s"}], s) == []
    for i, req in enumerate(requests):
        for s in spaces:
            iso = s == "iso" or (s == "mixed" and i % 2 == 1)
            pts = []
            for step, v, host, dc in req:
                t = _PARITY_T0 + step * _PARITY_STEP_MS
                p = {"time": _iso_ms(t) if iso else t, "value": float(v), "host": host}
                if dc is not None:
                    p["dc"] = dc
                pts.append(p)
            assert eng.write(pts, s) == []
    want = _parity_answers(eng, "iso")
    for s in ("int", "mixed", "epochs"):
        assert _parity_answers(eng, s) == want, s


# ------------------------------------------------- rag-chunk model ---

_WORDS = ["alpha", "Beta", "g", "δ", "12"]

rag_texts = st.lists(
    st.lists(st.sampled_from(_WORDS), min_size=1, max_size=17).map(" ".join),
    min_size=1,
    max_size=4,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(texts=rag_texts, window=st.integers(2, 6), stride=st.integers(1, 5))
def test_rag_chunks_matches_python_model(spark, texts, window, stride):
    """rag_chunks vs a pure-Python model of the same windowing: chunk
    offsets, lengths, and md5s for arbitrary texts/window/stride."""
    import hashlib
    import re

    from orestes_spark.operators import text as text_ops

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_token"], r["n_tokens"], r["chunk_md5"])
        for r in text_ops.rag_chunks(df, "doc_id", "text", window=window, stride=stride).collect()
    )
    exp = []
    for i, t in enumerate(texts):
        toks = re.split(r"\s+", t.strip().lower())
        for ci, s in enumerate(range(0, len(toks), stride)):
            sl = toks[s : s + window]
            exp.append((i, ci, s, len(sl), hashlib.md5(" ".join(sl).encode()).hexdigest()))
    assert got == sorted(exp)


# ---- incremental SemDeDup vs a pure-Python model ---------------------

import math

vec3 = st.lists(st.integers(-4, 4), min_size=3, max_size=3)


def _r6_half_up(x: float) -> float:
    scaled = x * 1e6
    return (math.floor(scaled + 0.5) if x >= 0 else math.ceil(scaled - 0.5)) / 1e6


def _model_incremental(corpus, batch, tau):
    """Pure-Python incremental SemDeDup: integer-valued vectors make
    every dot/norm exact in float64, so scores are bit-identical to
    the Spark expression path and ties break the same way."""
    q = 1000
    csums: dict[int, list[int]] = {}
    for _id, label, v in corpus:
        c = csums.setdefault(label, [0, 0, 0])
        for i, x in enumerate(v):
            c[i] += x * q

    def assign(v):
        best = None  # (score_or_inf_key, label)
        for label in sorted(csums):
            c = csums[label]
            cn = math.sqrt(sum(x * x for x in c))
            key = math.inf if cn == 0 else -(sum(a * b * q for a, b in zip(v, c)) / cn)
            if best is None or (key, label) < best:
                best = (key, label)
        return best[1]

    def hit(va, vb):
        da = sum((x * q) ** 2 for x in va)
        db = sum((x * q) ** 2 for x in vb)
        if da == 0 or db == 0:
            return False  # NULL cosine never hits (oracle semantics)
        dot = sum(a * q * b * q for a, b in zip(va, vb))
        return _r6_half_up(dot / (math.sqrt(da) * math.sqrt(db))) >= tau

    cell_of = {bid: assign(v) for bid, v in batch}
    corpus_cells: dict[int, list] = {}
    for _id, _label, v in corpus:
        corpus_cells.setdefault(assign(v), []).append(v)
    out = {}
    for bid, v in sorted(batch):
        cell = cell_of[bid]
        dropped = any(hit(cv, v) for cv in corpus_cells.get(cell, []))
        if not dropped:
            dropped = any(
                hit(av, v) for aid, av in batch if aid < bid and cell_of[aid] == cell
            )
        out[bid] = (cell, not dropped)
    return out


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    corpus_vecs=st.lists(vec3, min_size=2, max_size=8),
    batch_vecs=st.lists(vec3, min_size=1, max_size=5),
    n_labels=st.integers(1, 3),
)
def test_incremental_semdedup_matches_python_model(spark, corpus_vecs, batch_vecs, n_labels):
    from orestes_spark.operators import similarity

    tau = 0.8
    corpus = [(i, i % n_labels, v) for i, v in enumerate(corpus_vecs)]
    batch = [(100 + i, v) for i, v in enumerate(batch_vecs)]
    cdf = spark.createDataFrame(
        [(i, lb, [float(x) for x in v]) for i, lb, v in corpus],
        "vec_id LONG, label LONG, embedding ARRAY<FLOAT>",
    )
    bdf = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in batch],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    index = similarity.semantic_index(cdf, quantize=1000)
    got = {
        r["vec_id"]: (r["cluster"], r["kept"])
        for r in similarity.incremental_semantic_dedup(
            bdf, index, threshold=tau, quantize=1000
        ).collect()
    }
    assert got == _model_incremental(corpus, batch, tau)


# --------------------------------------------- span-dedup invariants ---

# Small alphabet + short docs force heavy window overlap and frequent
# duplicated k-grams — exactly the regime where the round-8 canonical-
# protection bug lived.
span_corpora = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12).map(" ".join),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(texts=span_corpora)
def test_keep_first_strip_preserves_every_duplicated_kgram(spark, texts):
    """ExactSubstr invariant (model-checked): for EVERY k-gram that
    occurs >= 2 times in the original corpus, at least one verbatim
    copy survives strip_repeated_spans(keep_first=True) — the
    canonical-window protection guarantee, under adversarially
    overlapping windows. Also: n_tokens is exact, n_removed is
    consistent with clean_text, and keep_first never removes MORE
    than the remove-all default."""
    from collections import Counter

    from orestes_spark.operators.dedup import strip_repeated_spans

    k = 3
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id LONG, text STRING")
    kept = {
        r["doc_id"]: r
        for r in strip_repeated_spans(docs, "doc_id", "text", k=k, keep_first=True).collect()
    }
    both = {
        r["doc_id"]: r
        for r in strip_repeated_spans(docs, "doc_id", "text", k=k).collect()
    }

    grams = Counter()
    for t in texts:
        toks = t.split()
        for i in range(len(toks) - k + 1):
            grams[" ".join(toks[i : i + k])] += 1
    duplicated = {g for g, c in grams.items() if c >= 2}

    kept_texts = [kept[d]["clean_text"] for d in kept]
    for g in duplicated:
        assert any(
            g in " ".join(ct.split()[i : i + k])
            for ct in kept_texts
            for i in range(max(0, len(ct.split()) - k + 1))
        ), f"duplicated k-gram {g!r} lost from the corpus"

    for d, r in kept.items():
        toks = texts[d].split()
        assert r["n_tokens"] == len(toks)
        n_kept = len(r["clean_text"].split()) if r["clean_text"] else 0
        assert r["n_removed"] == len(toks) - n_kept
        # protection can only SAVE tokens relative to remove-all
        assert r["n_removed"] <= both[d]["n_removed"]


# ----------------------------------------------------- detmath spec ---


def _py_detln(x: float) -> float:
    """Auditable pure-Python SPEC of detmath's generated expression:
    the same branch boundaries, the same operation order, the same
    double literals — so any engine that evaluates the SQL text with
    correctly-rounded IEEE doubles must reproduce these exact bits."""
    import math

    from orestes_spark.detmath import LN2, _E_HI, _E_LO

    rsqrt2 = math.sqrt(0.5)
    e = _E_LO
    for k in range(_E_HI, _E_LO, -1):
        if x >= float(repr(2.0 ** k * rsqrt2)):
            e = k
            break
    m = x * float(repr(2.0 ** -e))
    z = (m - 1.0) / (m + 1.0)
    zz = z * z
    c = [float(repr(2.0 / (2 * j + 1))) for j in range(7)]
    horner = c[-1]
    for cj in reversed(c[:-1]):
        horner = cj + zz * horner
    return z * horner + float(e) * float(LN2)


@given(
    st.floats(
        min_value=2.0 ** -60, max_value=2.0 ** 20, allow_nan=False, allow_infinity=False
    )
)
@settings(max_examples=300, deadline=None)
def test_detln_python_spec_tracks_libm(x):
    """The spec's approximation error stays noise-grade across the
    full supported range (relative to max(1, |ln x|) so x near 1 —
    where ln crosses 0 — is judged on absolute error)."""
    import math

    got, want = _py_detln(x), math.log(x)
    assert abs(got - want) <= 1e-9 * max(1.0, abs(want))


def test_detln_duckdb_matches_python_spec_bitwise():
    """20k log-uniform points: DuckDB's evaluation of the generated
    expression text is BIT-identical to the Python spec — with the
    existing Spark-vs-DuckDB test this pins all three pairwise."""
    import math
    import random
    import struct

    import duckdb

    from orestes_spark.detmath import detln_steps, wrap_steps_sql

    rng = random.Random(9)
    xs = [2.0 ** rng.uniform(-60, 20) for _ in range(20_000)]
    inner = "SELECT UNNEST(?) AS x"
    q = f"SELECT x, lnx FROM {wrap_steps_sql(inner, detln_steps('x', 'lnx'))}"
    rows = duckdb.execute(q, [xs]).fetchall()
    assert len(rows) == len(xs)
    for x, lnx in rows:
        assert struct.pack("<d", lnx) == struct.pack("<d", _py_detln(x)), x
        assert abs(lnx - math.log(x)) <= 1e-9 * max(1.0, abs(math.log(x)))
