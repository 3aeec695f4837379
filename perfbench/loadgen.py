"""Closed-loop HTTP load generator, run as its own process.

Each client thread keeps one keep-alive connection and sends its next
request only after the previous reply is fully read. A /write refused
because another write holds the space's writer lock
(``ConcurrentWriterError``, HTTP 500) is sent again after a short
seeded back-off until it is acknowledged, as a batch writer that must
deliver its batch does: the operation's latency runs from its first
attempt to its acknowledgement, and its refused attempts are counted in
``retries``. Any other refusal is recorded as failed and the client
moves on. Requests start until ``--seconds`` have passed; those in
flight then finish.

Prints one JSON line: the per-request log and, for read_http, the
answer-check problems found after the window.

    python3 perfbench/loadgen.py --port P --workload ingest_http \
        --seed 1 --seconds 15 --space ingest
"""

from __future__ import annotations

import argparse
import http.client
import json
import random
import sys
import threading
import time

import datagen


def _post(conn: http.client.HTTPConnection, path: str, body, headers: dict) -> dict:
    data = json.dumps(body, separators=(",", ":")).encode()
    t0 = time.perf_counter()
    conn.request("POST", path, data, {"Content-Type": "application/json", **headers})
    resp = conn.getresponse()
    t_first = time.perf_counter()
    raw = resp.read()
    t1 = time.perf_counter()
    return {
        "status": resp.status,
        "start": t0,
        "ttfb_ms": (t_first - t0) * 1e3,
        "ms": (t1 - t0) * 1e3,
        "req_bytes": len(data),
        "resp_bytes": len(raw),
        "raw": raw,
    }


# The writer-lock refusal's message (ConcurrentWriterError); only this
# refusal is retried.
LOCK_REFUSAL = b"locked by a live writer"
RETRY_BACKOFF_S = (0.02, 0.08)
RETRY_GIVE_UP_S = 120.0


def _deliver(conn: http.client.HTTPConnection, path: str, body, headers: dict, rng: random.Random) -> dict:
    """POST until the reply is anything but the writer-lock refusal.
    Each attempt is a request of its own, with its own request id."""
    t0 = time.perf_counter()
    retries = 0
    while True:
        rec = _post(conn, path, body, {**headers, "X-Request-Id": f"{headers['X-Request-Id']}.{retries}"})
        if rec["status"] != 500 or LOCK_REFUSAL not in rec["raw"]:
            break
        if time.perf_counter() - t0 > RETRY_GIVE_UP_S:
            break
        retries += 1
        time.sleep(rng.uniform(*RETRY_BACKOFF_S))
    rec.update(start=t0, ms=(time.perf_counter() - t0) * 1e3, retries=retries)
    return rec


def _client(args, c: int, deadline: float, log: list) -> None:
    conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=300)
    rng = random.Random(args.seed * 1000 + c)
    cycle = datagen.read_requests(args.seed, c) if args.workload == "read_http" else None
    k = 0
    while time.perf_counter() < deadline:
        rid = f"c{c}-{k}"
        if cycle is None:
            block = k * datagen.CLIENTS + c
            rec = {"op": "write", "block": block}
            path, body = f"/write/{args.space}", datagen.ingest_batch(args.seed, block)
        else:
            op, body = cycle[k % len(cycle)]
            rec = {"op": op, "body": body}
            path = f"/{datagen.read_endpoint(op)}/{args.space}"
        try:
            headers = {"X-Request-Id": rid, "X-Op": rec["op"]}
            rec.update(_deliver(conn, path, body, headers, rng) if cycle is None else _post(conn, path, body, headers))
        except (OSError, http.client.HTTPException) as e:
            rec.update(status=0, error=repr(e))
            conn.close()
            conn = http.client.HTTPConnection("127.0.0.1", args.port, timeout=300)
        log.append(rec)
        k += 1
    conn.close()


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--workload", choices=("ingest_http", "read_http"), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--space", required=True)
    args = p.parse_args()

    logs: list[list] = [[] for _ in range(datagen.CLIENTS)]
    t0 = time.perf_counter()
    deadline = t0 + args.seconds
    threads = [
        threading.Thread(target=_client, args=(args, c, deadline, logs[c]))
        for c in range(datagen.CLIENTS)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    window_s = time.perf_counter() - t0
    ops = [r for log in logs for r in log]

    problems: list[str] = []
    if args.workload == "read_http":
        import checks

        expect = checks.ReadExpectations(datagen.read_points(args.seed))
        for r in ops:
            if r["status"] == 200:
                problems += checks.check_read(expect, r["op"], r["body"], r["raw"])
    for r in ops:
        raw = r.pop("raw", b"")
        if r["status"] != 200:
            r["error"] = r.get("error") or raw[:300].decode(errors="replace")
        r.pop("body", None)
        r["start"] -= t0
    print(json.dumps({"window_s": window_s, "ops": ops, "problems": problems}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
