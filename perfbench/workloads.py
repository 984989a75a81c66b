"""The workloads: ``ingest``, ``query`` and ``analytics``.

``ingest`` and ``query`` start the server as users do and drive it from
one client over one connection in a closed loop (one op at a time, each
waiting for its reply). ``analytics`` runs bench.py's headline queries in
a Spark process of its own (``analytics.py``). Every workload warms up
with a fixed number of ops, then times a fixed number of ops sized from
the run's ``seconds``, so that every commit measures the same ops at the
same point of the JIT curve. Every answer is checked outside the timed
phase.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import sys
import time
from dataclasses import dataclass, field

import eventlog
import gen
import layers
import procfs
import stats
from server import HERE, Client, Server, spawn, stop
from tracing import OP_HEADER

INGEST_WARMUP = 6  # writes
QUERY_WARMUP = 2  # cycles of read, range, binop
# about one op (or cycle, or pass) on a 4-CPU host at 2 Spark cores; sizes
# the timed phase from --seconds
WRITE_S = 1.25
CYCLE_S = 5.0
PASS_S = 8.0
WINDOW_S = 5.0

# (name, unit, better, bound) of every end-to-end metric
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("cpu_ms_per_op", "ms", "lower", 0.25),
    ("p50_gmean_ms", "ms", "lower", 0.25),
)


@dataclass
class Op:
    id: int
    shape: str
    timed: bool
    t0: float  # perf_counter at send (the analytics process's, on analytics)
    latency_s: float
    status: int
    body: bytes = field(repr=False, default=b"")
    problem: str | None = None
    extra: dict = field(default_factory=dict)  # analytics: build/exec split

    @property
    def ok(self) -> bool:
        return 200 <= self.status < 300 and self.problem is None


def timed_count(seconds: float, op_s: float) -> int:
    """How many ops (cycles, passes) of about ``op_s`` seconds fill the
    timed phase."""
    return max(1, round(seconds / op_s))


class Driver:
    """The client side of one run: sends ops, keeps every response for the
    checks, and reads the server's process tree around the timed phase."""

    def __init__(self, server: Server) -> None:
        self.server = server
        self.client = Client(server.port)
        self.ops: list[Op] = []
        self.meter = procfs.PhaseMeter(server.proc.pid)

    def do(self, shape: str, timed: bool, method: str, path: str, body: bytes, headers: dict) -> Op:
        headers = {**headers, OP_HEADER: str(len(self.ops))}
        t0 = time.perf_counter()
        try:
            status, data = self.client.request(method, path, body, headers)
        except (OSError, http.client.HTTPException) as e:
            status, data = 0, str(e).encode()
        op = Op(len(self.ops), shape, timed, t0, time.perf_counter() - t0, status, data)
        self.ops.append(op)
        return op


def summarize(ops: list[Op], t_start: float, reading: dict, setup_s: float) -> tuple[dict, dict]:
    """End-to-end metrics of the timed ops, and per-shape detail (with
    latency by window over the whole run, warm-up at negative offsets)."""
    timed = [op for op in ops if op.timed]
    good = [op for op in timed if op.ok]
    shapes: dict[str, dict] = {}
    for shape in dict.fromkeys(op.shape for op in ops):
        lats = [op.latency_s * 1000 for op in good if op.shape == shape]
        d: dict = {"n": len(lats)}
        if lats:
            d["p50_ms"] = stats.median(lats)
            d["mean_ms"] = sum(lats) / len(lats)
            if stats.tail_ok(len(lats), 90):
                d["p90_ms"] = stats.percentile(lats, 90)
        d["windows"] = [
            [t, n, round(m, 1)]
            for t, n, m in stats.windows(
                [(op.t0 - t_start, op.latency_s * 1000)
                 for op in ops if op.shape == shape and op.ok],
                WINDOW_S,
            )
        ]
        shapes[shape] = d
    p50s = [d["p50_ms"] for d in shapes.values() if "p50_ms" in d]
    busy = sum(op.latency_s for op in timed)
    metrics = {
        "setup_s": setup_s,
        # ops per second of busy time: the closed loop's rate without the
        # client's own request-building time between ops
        "ops_per_s": len(good) / busy if busy else 0.0,
        "cpu_ms_per_op": 1000.0 * reading["cpu_s"] / len(good) if good else 0.0,
        # each shape's median separately, then their geometric mean: no
        # percentile is taken over a mix of shapes
        "p50_gmean_ms": math.exp(sum(map(math.log, p50s)) / len(p50s)) if p50s else 0.0,
    }
    return metrics, shapes


# ---------------------------------------------------------------- ingest


def _rawsql(client: Client, sql: str) -> list[tuple[dict, float]]:
    """One raw-SQL remote read (the escape hatch); rows as (labels, value)."""
    from promhouse_spark.edge import prompb, snappy_codec
    from promhouse_spark.models import Query, make_matchers
    from promhouse_spark.plans.rawsql import RAWSQL_JOB

    q = Query(0, 1, make_matchers(("job", "=", RAWSQL_JOB), ("query", "=", sql)))
    body = snappy_codec.compress(prompb.encode_read_request_full([q]))
    status, data = client.request("POST", "/read", body, gen.READ_HEADERS)
    if status != 200:
        return [({"error": f"{status} {data[:200]!r}"}, math.nan)]
    (series,) = prompb.decode_read_response(snappy_codec.decompress(data))
    return [({l.name: l.value for l in ts.labels}, ts.samples[0].value) for ts in series]


def check_ingest(client: Client, seed: int, acked: list[int]) -> str | None:
    """Every acknowledged sample and series is in the store: counts and the
    value sum through the raw-SQL escape hatch, which scans the tables on
    disk."""
    want = gen.ingest_totals(seed, acked)
    rows = _rawsql(
        client,
        "SELECT count(*) AS value, CAST(count(DISTINCT fingerprint) AS STRING) AS series, "
        "CAST(sum(value) AS STRING) AS total FROM samples",
    )
    rows += _rawsql(client, "SELECT count(*) AS value FROM time_series")
    try:
        (labels, samples), (_, registry) = rows
        got = (int(samples), int(labels["series"]), float(labels["total"]), int(registry))
    except (ValueError, KeyError, TypeError):
        return f"unexpected raw-SQL answer {rows}"
    exp = (want.samples, want.series, want.value_sum, want.series)
    if got != exp:
        return f"store holds (samples, series, sum, registry) {got}, expected {exp}"
    return None


def run_ingest(root: str, work: str, seed: int, seconds: float, traced: bool) -> dict:
    warm = [gen.ingest_request(seed, r) for r in range(INGEST_WARMUP)]
    store = os.path.join(work, "store")
    srv = Server(root, work, store, traced=traced)
    try:
        srv.start()
        drv = Driver(srv)
        for body in warm:  # request r is op r
            drv.do("write", False, "POST", "/write", body, gen.WRITE_HEADERS)
        drv.meter.start()
        for _ in range(timed_count(seconds, WRITE_S)):
            body = gen.ingest_request(seed, len(drv.ops))
            drv.do("write", True, "POST", "/write", body, gen.WRITE_HEADERS)
        reading = drv.meter.stop()
        acked = [op.id for op in drv.ops if op.ok]
        try:
            problem = check_ingest(drv.client, seed, acked)
        except (OSError, http.client.HTTPException) as e:
            problem = f"raw-SQL check failed: {e}"
        drv.client.close()
    finally:
        srv.stop()
    if problem:  # the store is checked as a whole: no op can be trusted
        for op in drv.ops:
            op.problem = op.problem or problem
    return finish(drv.ops, drv.meter.t_start, reading, srv.start_s,
                  {"server_start_s": srv.start_s}, srv.trace_dir,
                  layers.store_counts(store, len(acked), len(acked) * gen.SERIES_PER_WRITE))


# ----------------------------------------------------------------- query


def run_query(root: str, work: str, seed: int, seconds: float, traced: bool) -> dict:
    backfill = gen.backfill_request(seed)
    cycles = gen.query_cycles(seed)
    store = os.path.join(work, "store")
    srv = Server(root, work, store, traced=traced)
    try:
        srv.start()
        client = Client(srv.port)
        t0 = time.perf_counter()
        status, data = client.request("POST", "/write", backfill, gen.WRITE_HEADERS)
        if status != 200:
            raise RuntimeError(f"backfill write answered {status}: {data[:200]!r}")
        client.close()
        backfill_s = time.perf_counter() - t0
        drv = Driver(srv)
        for _ in range(QUERY_WARMUP):
            for op in next(cycles):
                drv.do(op.shape, False, op.method, op.path, op.body, op.headers)
        drv.meter.start()
        for _ in range(timed_count(seconds, CYCLE_S)):
            for op in next(cycles):
                drv.do(op.shape, True, op.method, op.path, op.body, op.headers)
        reading = drv.meter.stop()
        drv.client.close()
    finally:
        srv.stop()
    # replay the seeded sequence to pair each response with its expectation
    replay = gen.query_cycles(seed)
    for i in range(0, len(drv.ops), 3):
        for op, spec in zip(drv.ops[i : i + 3], next(replay)):
            if 200 <= op.status < 300:
                try:
                    op.problem = gen.check_answer(spec, op.body)
                except (ValueError, KeyError, TypeError) as e:
                    op.problem = f"{op.shape}: undecodable answer: {e}"
    samples = (gen.QUERY_METRICS * gen.QUERY_JOBS * gen.QUERY_INSTANCES
               * len(gen.query_points(seed)))
    return finish(drv.ops, drv.meter.t_start, reading, srv.start_s + backfill_s,
                  {"server_start_s": srv.start_s, "backfill_s": backfill_s},
                  srv.trace_dir, layers.store_counts(store, 1, samples))


# ------------------------------------------------------------- analytics


def run_analytics(root: str, work: str, seed: int, seconds: float, traced: bool) -> dict:
    """bench.py's headline queries in a Spark process of their own, over
    testdata generated from the seed; see ``analytics.py``."""
    launch = time.monotonic()
    trace_dir = os.path.join(work, "trace") if traced else None
    argv = [sys.executable, os.path.join(HERE, "analytics.py"), "--work", work,
            "--seed", str(seed), "--passes", str(timed_count(seconds, PASS_S)),
            "--launch", repr(launch)]
    if trace_dir:
        argv += ["--trace-dir", trace_dir]
    proc = spawn(argv, root, work, "analytics.log")
    try:
        code = proc.wait(timeout=160)
    finally:
        stop(proc)
    try:
        with open(os.path.join(work, "analytics.json")) as f:
            res = json.load(f)
    except OSError:
        with open(os.path.join(work, "analytics.log"), errors="replace") as f:
            tail = "".join(f.readlines()[-30:])
        raise RuntimeError(f"analytics process exited with {code}\n{tail}") from None
    ops = []
    for i, o in enumerate(res["ops"]):
        problem = o.get("problem") or res["problems"].get(o["shape"])
        extra = {k: o[k] for k in ("build_s", "exec_s", "build_end_ms") if k in o}
        # no HTTP here: status 200 stands for "ran", a failure is a problem
        ops.append(Op(i, o["shape"], o["timed"], o["t0"], o["latency_s"], 200,
                      problem=problem, extra=extra))
    return finish(ops, res["t_start"], res["phase"], res["setup_s"],
                  {"sf": res["sf"], "passes": res["passes"]}, trace_dir, {})


# ---------------------------------------------------------------- result


def finish(ops: list[Op], t_start: float, reading: dict, setup_s: float,
           setup_detail: dict, trace_dir: str | None, store: dict[str, float]) -> dict:
    """The run's result; with ``trace_dir``, its per-layer figures too."""
    metrics, shapes = summarize(ops, t_start, reading, setup_s)
    failed = [op for op in ops if not op.ok]
    detail = {
        "setup": setup_detail,
        "phase": reading,
        "shapes": shapes,
        "problems": sorted({op.problem or f"{op.shape}: HTTP {op.status}" for op in failed})[:10],
    }
    out = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "e2e": metrics,
        "detail": detail,
    }
    if trace_dir:
        try:
            with open(os.path.join(trace_dir, "spans.json")) as f:
                trace = json.load(f)
        except FileNotFoundError:  # analytics records no spans
            trace = {"spans": [], "op_agg": {}}
        jobs = eventlog.read_jobs(os.path.join(trace_dir, "eventlog"))
        rows = [{"id": op.id, "shape": op.shape, "timed": op.timed and op.ok,
                 "latency_s": op.latency_s, **op.extra} for op in ops]
        out["layers"], detail["layers_by_shape"] = layers.per_layer(rows, trace, jobs, store)
    return out


WORKLOADS = {"ingest": run_ingest, "query": run_query, "analytics": run_analytics}
