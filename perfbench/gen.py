"""Seeded inputs for the served workloads, and their expected answers.

Everything here is a pure function of the seed: the same seed gives the
same requests byte for byte (``tests/test_gen.py``). Requests are built
with the program's own protobuf encoders and snappy codec, as a Prometheus
sender would build them; the program only ever sees the encoded bytes.
"""

from __future__ import annotations

import math
import random
import urllib.parse
from dataclasses import dataclass

from promhouse_spark.edge import prompb, snappy_codec
from promhouse_spark.models import Label, Query, Sample, TimeSeries, make_matchers

DAY_MS = 86_400_000
# 2026-01-01T00:00:00Z; every sample of a run falls on one day partition
EPOCH_MS = 1_767_225_600_000
SCRAPE_MS = 15_000

WRITE_HEADERS = {
    "Content-Type": "application/x-protobuf",
    "Content-Encoding": "snappy",
    "X-Prometheus-Remote-Write-Version": "0.1.0",
}
READ_HEADERS = {
    "Content-Type": "application/x-protobuf",
    "Content-Encoding": "snappy",
    "X-Prometheus-Remote-Read-Version": "0.1.0",
}


def base_ms(seed: int) -> int:
    """Start of the run's data: 01:00 on one of seven days picked by seed."""
    return EPOCH_MS + (seed % 7) * DAY_MS + 3_600_000


def write_request(series: list[TimeSeries]) -> bytes:
    """A snappy-compressed WriteRequest, as a Prometheus sender posts it."""
    return snappy_codec.compress(prompb.encode_write_request(series))


# ---------------------------------------------------------------- ingest

SERIES_PER_WRITE = 2000  # Prometheus's default max_samples_per_send
NEW_PER_WRITE = 200  # a fixed 10 % of each request's series are new


def ingest_labels(seed: int, sid: int) -> list[Label]:
    """Node-exporter-shaped labels of ingest series ``sid``."""
    return [
        Label("__name__", f"node_metric_{(sid + seed) % 50}"),
        Label("env", ("prod", "staging", "dev")[sid % 3]),
        Label("instance", f"host-{sid // 50:05d}:9100"),
        Label("job", "node"),
    ]


def ingest_value(seed: int, sid: int, r: int) -> float:
    """A sample value that is exact in binary (a multiple of 1/8)."""
    return float(((sid * 7919 + r * 104_729 + seed * 31) % 100_000) / 8)


def ingest_series_ids(r: int) -> range:
    """Request ``r`` covers a window of series ids that slides by
    NEW_PER_WRITE: its last NEW_PER_WRITE series are new, the rest were
    written by request ``r - 1``."""
    return range(r * NEW_PER_WRITE, r * NEW_PER_WRITE + SERIES_PER_WRITE)


def ingest_request(seed: int, r: int) -> bytes:
    """Request ``r`` of the ingest sequence: one sample per series at the
    r-th scrape, series in a seeded order (the shard's arrival order)."""
    ids = list(ingest_series_ids(r))
    random.Random(seed * 1_000_003 + r).shuffle(ids)
    ts_ms = base_ms(seed) + r * SCRAPE_MS
    return write_request([
        TimeSeries(ingest_labels(seed, sid), [Sample(ingest_value(seed, sid, r), ts_ms)])
        for sid in ids
    ])


@dataclass(frozen=True)
class IngestTotals:
    samples: int
    series: int
    value_sum: float


def ingest_totals(seed: int, acked: list[int]) -> IngestTotals:
    """What the store must hold after the requests ``acked`` succeeded."""
    sids: set[int] = set()
    total = 0.0
    for r in acked:
        ids = ingest_series_ids(r)
        sids.update(ids)
        total += sum(ingest_value(seed, sid, r) for sid in ids)
    return IngestTotals(len(acked) * SERIES_PER_WRITE, len(sids), total)


# ----------------------------------------------------------------- query

QUERY_METRICS = 3
QUERY_JOBS = 5
QUERY_INSTANCES = 20
# data span: the queried hour plus the 5m rate window before it, rounded up
QUERY_MINUTES = 66
RANGE_STEP_S = 60


def query_slope(seed: int, m: int, j: int, i: int) -> float:
    """Per-second increase of counter series (m, j, i): a multiple of 1/4,
    so sums of slopes are exact."""
    return (1 + (m * 31 + j * 7 + i * 13 + seed) % 16) / 4.0


def query_labels(m: int, j: int, i: int) -> list[Label]:
    return [
        Label("__name__", f"http_requests_total_{m}"),
        Label("instance", f"web-{i:02d}:8080"),
        Label("job", f"svc{j}"),
    ]


def query_points(seed: int) -> list[int]:
    b = base_ms(seed)
    return [b + k * SCRAPE_MS for k in range(QUERY_MINUTES * 60_000 // SCRAPE_MS)]


def counter_value(seed: int, slope: float, ts_ms: int) -> float:
    """Counter value at ``ts_ms``: slope × seconds since the data start."""
    return slope * (ts_ms - base_ms(seed)) / 1000.0


def backfill_request(seed: int) -> bytes:
    """One remote-write request that loads the whole query store (300
    series x 264 points)."""
    points = query_points(seed)
    return write_request([
        TimeSeries(
            query_labels(m, j, i),
            [Sample(counter_value(seed, query_slope(seed, m, j, i), t), t) for t in points],
        )
        for m in range(QUERY_METRICS)
        for j in range(QUERY_JOBS)
        for i in range(QUERY_INSTANCES)
    ])


def query_window(seed: int) -> tuple[int, int]:
    """[start, end] of every query: the last hour of the data."""
    end = query_points(seed)[-1]
    return end - 3_600_000, end


@dataclass(frozen=True)
class QueryOp:
    shape: str
    method: str
    path: str
    body: bytes
    headers: dict
    expect: tuple  # what check_answer compares the response with


def _read_op(seed: int, m: int, j: int) -> QueryOp:
    start, end = query_window(seed)
    q = Query(start, end, make_matchers(
        ("__name__", "=", f"http_requests_total_{m}"), ("job", "=", f"svc{j}")
    ))
    body = snappy_codec.compress(prompb.encode_read_request_full(
        [q], accepted_response_types=[prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS]
    ))
    slopes = {
        tuple((l.name, l.value) for l in query_labels(m, j, i)): query_slope(seed, m, j, i)
        for i in range(QUERY_INSTANCES)
    }
    points = [t for t in query_points(seed) if start <= t <= end]
    expect = {
        key: [(t, counter_value(seed, slope, t)) for t in points]
        for key, slope in slopes.items()
    }
    return QueryOp("read", "POST", "/read", body, READ_HEADERS, (expect,))


def _sum_rate(m: int) -> str:
    return f"sum by (job) (rate(http_requests_total_{m}[5m]))"


def _slope_sums(seed: int, m: int) -> dict[str, float]:
    return {
        f"svc{j}": sum(query_slope(seed, m, j, i) for i in range(QUERY_INSTANCES))
        for j in range(QUERY_JOBS)
    }


def _range_op(seed: int, shape: str, expr: str, expect: dict[str, float]) -> QueryOp:
    start, end = query_window(seed)
    body = urllib.parse.urlencode({
        "query": expr, "start": start / 1000, "end": end / 1000,
        "step": RANGE_STEP_S,
    }).encode()
    steps = (end - start) // (RANGE_STEP_S * 1000) + 1
    return QueryOp(
        shape, "POST", "/api/v1/query_range", body,
        {"Content-Type": "application/x-www-form-urlencoded"}, (steps, expect),
    )


def query_cycles(seed: int):
    """Endless rounds of (read, range, binop); each op's metrics (and, for
    a read, its job) are drawn from the seed."""
    rng = random.Random(seed)
    while True:
        m = rng.randrange(QUERY_METRICS)
        read = _read_op(seed, m, rng.randrange(QUERY_JOBS))
        m = rng.randrange(QUERY_METRICS)
        rng_op = _range_op(seed, "range", _sum_rate(m), _slope_sums(seed, m))
        a = rng.randrange(QUERY_METRICS)
        b = (a + 1 + rng.randrange(QUERY_METRICS - 1)) % QUERY_METRICS
        num, den = _slope_sums(seed, a), _slope_sums(seed, b)
        binop = _range_op(
            seed, "binop", f"{_sum_rate(a)} / {_sum_rate(b)}",
            {job: num[job] / den[job] for job in num},
        )
        yield [read, rng_op, binop]


def check_answer(op: QueryOp, data: bytes) -> str | None:
    """None when the response is the closed-form answer, else what differs."""
    import json

    from promhouse_spark.edge import chunkenc

    if op.shape == "read":
        (expect,) = op.expect
        got = {}
        for payload in chunkenc.iter_frames(data):
            series, _ = prompb.decode_chunked_read_response(payload)
            for labels, chunks in series:
                key = tuple((l.name, l.value) for l in labels)
                pts = got.setdefault(key, [])
                for _, _, _, chunk in chunks:
                    pts.extend(chunkenc.decode_xor_chunk(chunk))
        if set(got) != set(expect):
            return f"read: {len(got)} series, expected {len(expect)}"
        for key, pts in got.items():
            if pts != expect[key]:
                return f"read: series {dict(key)} has {len(pts)} wrong or missing samples"
        return None
    steps, expect = op.expect
    doc = json.loads(data)
    result = doc.get("data", {}).get("result", [])
    got = {r["metric"].get("job"): r["values"] for r in result}
    if set(got) != set(expect):
        return f"{op.shape}: jobs {sorted(got)}, expected {sorted(expect)}"
    for job, values in got.items():
        if len(values) != steps:
            return f"{op.shape}: {job} has {len(values)} steps, expected {steps}"
        for _, v in values:
            if not math.isclose(float(v), expect[job], rel_tol=1e-9):
                return f"{op.shape}: {job} = {v}, expected {expect[job]}"
    return None
