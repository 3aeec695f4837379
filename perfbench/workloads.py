"""The server side of each workload: set-up, measured windows and the
answer checks.

ingest_http and read_http serve ``orestes_spark.serve`` from this
process and drive it from a separate load-generator process
(loadgen.py). query_suite runs a fixed slice of the registered queries
in this process. README.md says why each workload exists and which
layers it stresses.
"""

from __future__ import annotations

import gc
import http.client
import json
import os
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import checks
import datagen
import sparkstats

HERE = Path(__file__).resolve().parent
TAIL_PCT = 90  # tail_ms is this percentile on every workload
INGEST_SETUPS = 3

QUERY_SF = 0.02
# events_sessionization is left out: its Spark side truncates event
# times to whole seconds before the 30-minute gap test while its DuckDB
# oracle compares exact intervals, so a gap just over 1800 s splits a
# session in one engine and not the other. Generated data hits such a
# gap on most seeds (README.md, "Known defects").
QUERY_SLICE = (
    "os_count_points os_read_grouped os_read_term os_series_list os_select_distinct"
    " tpch_q1 doc_simhash_pairs doc_incremental_neardup multimodal_incremental_phash"
    " multimodal_incremental_video multimodal_incremental_audio emb_topk_cosine"
    " ts_asof_join doc_decontam_report"
).split()
QUERY_TABLES = ("events", "lineitem", "documents", "embeddings")
MIN_ROUNDS = 2  # one execution per query is too few: single runs vary 10-25%


class Measured:
    """What one window produced: a log of operations with latency and
    outcome, the Spark jobs and stages it spanned, and host steal."""

    def __init__(self, ops: list[dict], window_s: float, spark: sparkstats.Window, steal: int) -> None:
        self.ops = ops
        self.window_s = window_s
        self.spark = spark
        self.steal = steal
        self.rss_mb = sparkstats.peak_rss_mb()
        self.problems: list[str] = []
        self.extra: dict[str, float] = {}

    @property
    def acked(self) -> list[dict]:
        return [o for o in self.ops if o["status"] == 200]

    def latencies(self, op: str | None = None) -> list[float]:
        return sorted(o["ms"] for o in self.acked if op is None or o["op"] == op)

    def mean(self) -> float:
        """Mean latency. In a closed loop it is clients / throughput
        (Little's law), so unlike p50 it does not depend on which
        client the writer lock happens to serve first."""
        lat = self.latencies()
        return statistics.fmean(lat) if lat else 0.0

    def p50(self, op: str | None = None) -> float:
        lat = self.latencies(op)
        return statistics.median(lat) if lat else 0.0

    def tail(self) -> float:
        lat = self.latencies()
        if len(lat) < 2:
            return lat[0] if lat else 0.0
        return statistics.quantiles(lat, n=100, method="inclusive")[TAIL_PCT - 1]


class QueryMeasured(Measured):
    """A query_suite window. Every query runs the same number of times,
    so mean, p50 and tail are taken over the per-query medians: over the raw
    executions the median falls between two clusters of query costs and
    jumps between them from run to run."""

    def latencies(self, op: str | None = None) -> list[float]:
        if op is not None:
            return super().latencies(op)
        return sorted(statistics.median(Measured.latencies(self, q)) for q in {o["op"] for o in self.acked})


class Workload:
    """set_up() once, then window() per measured interval, then check()
    on each window's result, then close()."""

    def __init__(self, seed: int, seconds: float, work: Path) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.spark = None
        self.store: sparkstats.StatusStore | None = None
        self.setup_s: list[float] = []
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def start_session(self) -> None:
        from orestes_spark.session import get_spark

        conf = dict(sparkstats.SESSION_CONF)
        conf["spark.driver.extraJavaOptions"] = f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData"
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.store = sparkstats.StatusStore(self.spark)

    def close(self) -> None:
        """Stop Spark and wait for its JVM (and the Python workers it
        started) to exit."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)


class _HttpWorkload(Workload):
    name = ""
    srv = None

    def _serve(self, eng) -> None:
        from orestes_spark import serve

        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()
        self.eng = eng
        self.srv = serve(eng)
        self.port = self.srv.server_address[1]

    def post(self, path: str, body) -> tuple[int, object]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=300)
        try:
            conn.request("POST", path, json.dumps(body), {"Content-Type": "application/json"})
            resp = conn.getresponse()
            return resp.status, json.loads(resp.read())
        finally:
            conn.close()

    def run_loadgen(self, space: str) -> Measured:
        mark = self.store.mark()
        s0 = sparkstats.steal_ticks()
        cmd = [
            sys.executable, str(HERE / "loadgen.py"), "--port", str(self.port),
            "--workload", self.name, "--seed", str(self.seed), "--seconds", str(self.seconds),
            "--space", space,
        ]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=self.seconds + 150, check=False)
        steal = sparkstats.steal_ticks() - s0
        if proc.returncode != 0 or not proc.stdout.strip():
            raise RuntimeError(f"load generator exited {proc.returncode}: {proc.stderr[-2000:]}")
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        m = Measured(out["ops"], out["window_s"], self.store.since(mark), steal)
        m.problems += out["problems"]
        return m

    def close(self) -> None:
        if self.srv is not None:
            self.srv.shutdown()
            self.srv.server_close()
        super().close()


class IngestHttp(_HttpWorkload):
    """Empty space; 4 closed-loop clients POST 500-point /write batches
    over 1,000 series. Each window writes a space of its own."""

    name = "ingest_http"
    windows = 0

    def set_up(self) -> None:
        from orestes_spark import OrestesEngine

        # Several set-ups, each a fresh warehouse, engine and server
        # warmed by one write and one read; the last one is measured.
        for i in range(INGEST_SETUPS):
            t0 = time.perf_counter()
            if self.spark is None:
                self.start_session()
            self._serve(OrestesEngine(self.spark, str(self.work / f"wh{i}")))
            status, body = self.post("/write/warmup", datagen.ingest_batch(self.seed, 1_000_000 + i))
            if status != 200 or body != {"errors": []}:
                raise RuntimeError(f"warm-up write failed: {status} {body}")
            self.post("/read/warmup", {"start": 0, "end": 2 * 10**12})
            self.setup_s.append(time.perf_counter() - t0)

    def window(self) -> Measured:
        self.windows += 1
        m = self.run_loadgen(space=f"ingest{self.windows}")
        m.space = f"ingest{self.windows}"
        return m

    def check(self, m: Measured) -> None:
        acked = [datagen.ingest_batch(self.seed, o["block"]) for o in m.acked]
        unacked = [datagen.ingest_batch(self.seed, o["block"]) for o in m.ops if o["status"] != 200]
        t0 = datagen.INGEST_T0
        status, back = self.post(f"/read/{m.space}", {"start": t0, "end": t0 + datagen.DAY_MS})
        m.problems += checks.check_ingest(acked, unacked, back if status == 200 else {"error": back})
        root = Path(self.eng.config.warehouse) / m.space
        files = [p for p in root.rglob("*") if p.is_file()]
        n_pts = len(acked) * datagen.INGEST_BATCH
        m.extra = {
            "write_pts_per_s": n_pts / m.window_s,
            "store_bytes_per_pt": sum(p.stat().st_size for p in files) / n_pts if n_pts else 0.0,
            "files_per_write": sum(p.suffix == ".parquet" for p in files) / len(acked) if acked else 0.0,
            "lock_retries_per_write": sum(o.get("retries", 0) for o in m.acked) / len(acked) if acked else 0.0,
        }


class ReadHttp(_HttpWorkload):
    """100k points over 10,000 series in 30 day-buckets, written in four
    list deliveries; 4 closed-loop clients cycle through five read ops."""

    name = "read_http"

    def set_up(self) -> None:
        from orestes_spark import OrestesEngine

        t0 = time.perf_counter()
        self.start_session()
        eng = OrestesEngine(self.spark, str(self.work / "wh"))
        points = datagen.read_points(self.seed)
        step = -(-len(points) // datagen.READ_DELIVERIES)
        for i in range(0, len(points), step):
            errors = eng.write(points[i : i + step], "read")
            if errors:
                raise RuntimeError(f"set-up write rejected points: {errors[:3]}")
        self._serve(eng)
        for op, body in datagen.read_requests(self.seed, 0):
            status, resp = self.post(f"/{datagen.read_endpoint(op)}/read", body)
            if status != 200:
                raise RuntimeError(f"warm-up {op} failed: {status} {resp}")
        self.setup_s.append(time.perf_counter() - t0)

    def window(self) -> Measured:
        return self.run_loadgen(space="read")

    def check(self, m: Measured) -> None:
        m.extra = {f"{op}_p50_ms": m.p50(op) for op in datagen.READ_OPS}


class QuerySuite(Workload):
    """One client runs the registered-query slice in order, in as many
    whole rounds as fit in the window, at least MIN_ROUNDS. Whole rounds
    keep every query's share of the latency sample fixed."""

    name = "query_suite"

    def set_up(self) -> None:
        t0 = time.perf_counter()
        self.start_session()
        from orestes_spark.queries import QUERIES

        self.queries = QUERIES
        self.sf_dir = self.work / "sf"
        datagen.write_tables(self.seed, self.sf_dir, QUERY_SF)
        # One untimed round, four queries at a time: it builds the lazily
        # built indexes and the engine warehouse and compiles every
        # query's code, so each measured round is a warm one.
        with ThreadPoolExecutor(datagen.CLIENTS) as pool:
            runs = [pool.submit(self._execute, name) for name in QUERY_SLICE]
            for run in runs:
                run.result()
        self.setup_s.append(time.perf_counter() - t0)
        self.answers: dict[str, tuple[list[str], list[tuple]]] = {}

    def _execute(self, name: str) -> tuple[list[str], list]:
        df = self.queries[name](self.spark, str(self.sf_dir))
        return df.columns, df.collect()

    def window(self, on_query=None) -> Measured:
        """``on_query(name, fn)`` wraps each execution (the traced run
        records a span and a job group there)."""
        mark = self.store.mark()
        s0 = sparkstats.steal_ticks()
        ops: list[dict] = []
        t_start = time.perf_counter()
        deadline = t_start + self.seconds
        round_s = 0.0
        while len(ops) < MIN_ROUNDS * len(QUERY_SLICE) or time.perf_counter() + round_s < deadline:
            t_round = time.perf_counter()
            for name in QUERY_SLICE:
                rec = {"op": name, "start": time.perf_counter() - t_start}
                t0 = time.perf_counter()
                try:
                    answer = on_query(name, self._execute) if on_query else self._execute(name)
                except Exception as e:  # noqa: BLE001 — a failed query is counted, not fatal
                    rec.update(status=500, error=repr(e)[:300])
                else:
                    rec["status"] = 200
                    self.answers.setdefault(name, answer)
                rec["ms"] = (time.perf_counter() - t0) * 1e3
                ops.append(rec)
            # Drop this round's dead DataFrames now, between rounds: left to
            # pile up, their cleanup lands inside some later query.
            gc.collect()
            self.spark.sparkContext._jvm.System.gc()
            round_s = time.perf_counter() - t_round
        window_s = time.perf_counter() - t_start
        steal = sparkstats.steal_ticks() - s0
        return QueryMeasured(ops, window_s, self.store.since(mark), steal)

    def check(self, m: Measured) -> None:
        import duckdb

        from orestes_spark.queries import ORACLES

        con = duckdb.connect(config={"temp_directory": str(self.work / "tmp")})
        for table in QUERY_TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{self.sf_dir / table}.parquet'")
        for name in QUERY_SLICE:
            if name not in self.answers:
                continue
            cols, rows = self.answers.pop(name)
            res = con.execute(ORACLES[name])
            oracle_cols = [d[0] for d in res.description]
            spark_rows = [tuple(checks.plain(v) for v in r) for r in rows]
            m.problems += checks.check_query(name, cols, spark_rows, oracle_cols, res.fetchall())
        con.close()
        per_query = {
            name: statistics.median(o["ms"] for o in m.acked if o["op"] == name)
            for name in QUERY_SLICE
            if any(o["op"] == name for o in m.acked)
        }
        m.extra = {"suite_s": sum(per_query.values()) / 1e3}
        m.per_query_ms = per_query


WORKLOADS = {w.name: w for w in (IngestHttp, ReadHttp, QuerySuite)}
