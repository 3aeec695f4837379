"""Seeded inputs for the three workloads.

Everything here is a pure function of the seed, so the load generator,
the server launcher and the answer checks can each rebuild the same
inputs without passing data between processes. Nothing here imports
``orestes_spark``: the program under test receives only what these
functions produce.
"""

from __future__ import annotations

import random
from pathlib import Path

DAY_MS = 86_400_000
CLIENTS = 4  # closed-loop HTTP clients, one per core of a 4-core host; the reference used 10

# ingest_http: 500-point batches over 3 tags x 10 values = 1,000 series.
INGEST_T0 = 1_704_067_200_000  # 2024-01-01T00:00:00Z, start of one day-bucket
INGEST_BATCH = 500
INGEST_TAGS = 3
TAG_VALUES = 10

# read_http: 100k points over 4 tags x 10 values = 10,000 series, 30 days.
READ_T0 = 1_706_745_600_000  # 2024-02-01T00:00:00Z
READ_DAYS = 30
READ_POINTS = 100_000
READ_TAGS = 4
READ_DELIVERIES = 4
READ_OPS = ("read_all", "read_recent", "read_count", "series", "select_distinct")


def _tags(rng: random.Random, n_tags: int) -> dict[str, str]:
    return {f"t{k}": f"v{rng.randrange(TAG_VALUES)}" for k in range(n_tags)}


def ingest_batch(seed: int, block: int) -> list[dict]:
    """The ``block``-th 500-point /write body. Times are consecutive
    milliseconds, and block b owns [T0 + 500b, T0 + 500b + 500), so
    every point in the run has a distinct time and every batch lies in
    the day-bucket that starts at INGEST_T0 (blocks < 172,800)."""
    rng = random.Random(seed * 1_000_003 + block)
    t0 = INGEST_T0 + block * INGEST_BATCH
    return [
        {"time": t0 + j, "value": round(rng.uniform(0, 1000), 3), **_tags(rng, INGEST_TAGS)}
        for j in range(INGEST_BATCH)
    ]


def read_points(seed: int) -> list[dict]:
    """100k points, point i at READ_T0 + i * 25,920 ms plus a jitter
    below that step, so times are distinct and spread evenly over
    READ_DAYS day-buckets."""
    rng = random.Random(seed)
    step = READ_DAYS * DAY_MS // READ_POINTS
    return [
        {
            "time": READ_T0 + i * step + rng.randrange(step),
            "value": round(rng.uniform(-500, 500), 3),
            **_tags(rng, READ_TAGS),
        }
        for i in range(READ_POINTS)
    ]


def read_requests(seed: int, client: int) -> list[tuple[str, dict]]:
    """One client's op cycle: a seeded order of the five ops, each with
    its request body. The client repeats the cycle until time is up."""
    rng = random.Random(seed * 7919 + client)
    ops = list(READ_OPS)
    rng.shuffle(ops)
    end = READ_T0 + READ_DAYS * DAY_MS
    out = []
    for op in ops:
        if op == "read_all":
            body = {"start": READ_T0, "end": end}
        elif op == "read_recent":
            body = {
                "query": {"term": {"t0": f"v{rng.randrange(TAG_VALUES)}"}},
                "start": end - DAY_MS,
                "end": end,
            }
        elif op == "read_count":
            body = {"start": READ_T0, "end": end, "aggregations": [{"type": "count"}]}
        elif op == "series":
            body = {"start": READ_T0, "end": end}
        else:
            body = {"keys": ["t0", "t1"]}
        out.append((op, body))
    return out


def read_endpoint(op: str) -> str:
    return {"series": "series", "select_distinct": "select_distinct"}.get(op, "read")


# ---------- query_suite: sf0.1-shaped tables ----------

_WORDS = (
    "a the data spark stream batch table row column key value hash scan"
    " filter group agg join sort merge window query vector line part order"
    " customer fast slow big small"
).split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.14), ("fr", 0.15), ("es", 0.15))
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def write_tables(seed: int, out_dir: Path, sf: float) -> None:
    """Write events, lineitem, documents and embeddings parquet files
    with the same names, column types and value ranges as the test
    tables the registered queries are written against, at scale ``sf``
    (sf0.1: 100k events, 600k line items, 5k documents, 2k vectors)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    g = np.random.default_rng(seed)

    def put(name: str, table: pa.Table) -> None:
        pq.write_table(table, out_dir / f"{name}.parquet")

    # events: 1M x sf rows over the 30 days of January 2024.
    n = int(1_000_000 * sf)
    jan1_us = 1_704_067_200_000_000
    ts = np.sort(g.integers(jan1_us, jan1_us + 30 * DAY_MS * 1000, n))
    put(
        "events",
        pa.table(
            {
                "event_id": pa.array(np.arange(n), pa.int64()),
                "ts": pa.array(ts, pa.timestamp("us")),
                "user_id": pa.array(g.integers(0, int(15_000 * sf), n), pa.int64()),
                "event_type": pa.array(np.array(_EVENT_TYPES)[g.integers(0, 5, n)]),
                "value": pa.array(np.round(g.uniform(0, 200, n), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n)]),
            }
        ),
    )

    # lineitem: 6M x sf rows, TPC-H value ranges.
    n = int(6_000_000 * sf)
    qty = g.integers(1, 51, n).astype("float64")
    day0 = np.datetime64("1995-01-02", "us")
    ship = day0 + g.integers(0, 2498, n).astype("timedelta64[D]")
    put(
        "lineitem",
        pa.table(
            {
                "l_orderkey": pa.array(g.integers(1, int(1_500_000 * sf) + 1, n), pa.int64()),
                "l_partkey": pa.array(g.integers(1, int(200_000 * sf) + 1, n), pa.int64()),
                "l_suppkey": pa.array(g.integers(1, int(10_000 * sf) + 1, n), pa.int64()),
                "l_linenumber": pa.array(g.integers(1, 8, n), pa.int32()),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * g.uniform(900, 2100, n), 2)),
                "l_discount": pa.array(g.integers(0, 11, n) / 100.0),
                "l_tax": pa.array(g.integers(0, 9, n) / 100.0),
                "l_returnflag": pa.array(np.array(["A", "N", "R"])[g.integers(0, 3, n)]),
                "l_linestatus": pa.array(np.array(["O", "F"])[g.integers(0, 2, n)]),
                "l_shipdate": pa.array(ship, pa.timestamp("us")),
            }
        ),
    )

    # documents: 50k x sf word-salad texts; about 10% are near-copies of
    # an earlier document with a few words changed, a few exact copies.
    n = int(50_000 * sf)
    rng = random.Random(seed)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i and r < 0.002:
            text = texts[rng.randrange(i)]
        elif i and r < 0.1:
            words = texts[rng.randrange(i)].split()
            for _ in range(max(1, len(words) // 20)):
                words[rng.randrange(len(words))] = rng.choice(_WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(8, 100)))[:577]
        texts.append(text)
    langs = rng.choices([lang for lang, _ in _LANGS], [w for _, w in _LANGS], k=n)
    put(
        "documents",
        pa.table(
            {
                "doc_id": pa.array(np.arange(n), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(langs),
                "source": pa.array([f"src{i % 20}" for i in range(n)]),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
    )

    # embeddings: 20k x sf unit vectors, 64 dims, 10 labelled clusters.
    n = int(20_000 * sf)
    labels = g.integers(0, 10, n)
    centers = g.normal(0, 1, (10, 64))
    vecs = centers[labels] + g.normal(0, 1.5, (n, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    put(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(np.arange(n), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(labels, pa.int32()),
            }
        ),
    )
