"""ChunkedParquetStorage specifics: at-rest Gorilla compression wins,
chunk-envelope pruning BEFORE decode, tombstone clean via re-encode,
chunk compaction, retention. Protocol behavior is covered by the
backend-parametrized storages spec (tests/test_storages.py
spark_chunked)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from promhouse_spark.models import Label, Query, Sample, TimeSeries, make_matchers
from promhouse_spark.storage import fs
from promhouse_spark.storage.chunked import ChunkedParquetStorage
from promhouse_spark.storage.parquet import SparkParquetStorage

# slow tier (r12): chunked-tier integration (~3 min). The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow


T0 = 1767225600000  # 2026-01-01T00:00:00Z
DAY = 86_400_000


def _dense_series(n_series=4, days=3, per_day=200):
    out = []
    for k in range(n_series):
        samples = []
        for d in range(days):
            for i in range(per_day):
                samples.append(
                    Sample(
                        value=100.0 + k + (i % 7),
                        timestamp_ms=T0 + d * DAY + i * 15_000,
                    )
                )
        out.append(
            TimeSeries(
                labels=[Label("__name__", "dense"), Label("k", str(k))],
                samples=samples,
            )
        )
    return out


def _tree_bytes(root):
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _read_all(store, matchers=None, lo=0, hi=T0 + 100 * DAY):
    matchers = matchers or make_matchers(("__name__", "=", "dense"))
    res = store.read([Query(lo, hi, matchers)])[0]
    return sorted(
        (ts.labels_map().get("k", ""), s.timestamp_ms, s.value)
        for ts in res
        for s in ts.samples
    )


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    data = _dense_series()
    flat = SparkParquetStorage(spark, str(tmp_path_factory.mktemp("flat")))
    chunked = ChunkedParquetStorage(spark, str(tmp_path_factory.mktemp("chunked")))
    flat.write(data)
    chunked.write(data)
    flat.flush()  # bytes on disk are measured below
    chunked.flush()
    return flat, chunked


def test_chunked_equals_flat(stores):
    flat, chunked = stores
    assert _read_all(chunked) == _read_all(flat)


def test_chunked_is_much_smaller_at_rest(stores):
    flat, chunked = stores
    n_samples = 4 * 3 * 200
    flat_b = _tree_bytes(flat.samples_path)
    chunk_b = _tree_bytes(chunked.chunks_path)
    # regular 15s cadence, small value alphabet: Gorilla crushes it.
    # parquet's own encodings make flat smaller than 24B/sample raw, but
    # the chunk tier must still win by a clear margin.
    assert chunk_b < flat_b / 2, (flat_b, chunk_b, flat_b / n_samples)
    # and the codec itself: payload bits ≈ ≤2.5 B/sample for this shape
    rows = chunked.chunks_df().select(F.sum(F.length("chunk"))).first()[0]
    assert rows / n_samples < 2.5


def test_restricted_scan_prunes_before_decode(stores, spark):
    _, chunked = stores
    q = Query(
        T0 + DAY, T0 + DAY + 3600_000, make_matchers(("__name__", "=", "dense"))
    )
    fps = chunked._resolve_fingerprints(q)
    plan = chunked._restricted_scan(None, q, fps)._jdf.queryExecution().toString()
    # the envelope predicates sit below the Arrow decode in the physical
    # plan: pushed to the parquet scan of the CHUNK table
    assert "PushedFilters:" in plan
    assert "min_ms" in plan and "max_ms" in plan
    # day-partition pruning on the chunk table as well
    assert "date" in plan


def test_chunk_rows_carry_sample_counts(stores):
    _, chunked = stores
    rows = chunked.chunks_df().select("n").collect()
    assert sum(r["n"] for r in rows) == 4 * 3 * 200
    assert all(1 <= r["n"] <= 120 for r in rows)


def test_delete_and_clean_reencode(spark, tmp_path):
    store = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    store.write(_dense_series(n_series=2, days=2, per_day=50))
    n_before = store.chunks_df().count()
    store.delete_series(
        make_matchers(("k", "=", "0")), start_ms=T0 + DAY, end_ms=T0 + 2 * DAY
    )
    masked = _read_all(store)
    assert all(not (k == "0" and ts >= T0 + DAY) for k, ts, _ in masked)
    cleaned = store.clean_tombstones()
    assert cleaned.get("chunks") == 1  # only the day-1 partition rewrote
    assert not fs.exists(spark, store.tombstones_path)
    assert _read_all(store) == masked
    # day-0 chunks untouched, day-1 lost series k=0
    assert store.chunks_df().count() < n_before


def test_compact_merges_minichunks(spark, tmp_path):
    store = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    # 10 micro-batches of 20 samples each → 10 mini-chunks per series-day
    # (each flushed on its own: the head would batch them into one)
    for b in range(10):
        store.flush()
        store.write(
            [
                TimeSeries(
                    labels=[Label("__name__", "dense"), Label("k", "0")],
                    samples=[
                        Sample(value=float(i), timestamp_ms=T0 + (b * 20 + i) * 15_000)
                        for i in range(20)
                    ],
                )
            ]
        )
    store.flush()
    before = _read_all(store)
    assert store.chunks_df().count() == 10
    store.compact_samples()
    assert store.chunks_df().count() == 2  # 200 samples → 120 + 80
    assert _read_all(store) == before


def test_retention_sweeps_chunks(spark, tmp_path):
    store = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    store.write(_dense_series(n_series=1, days=3, per_day=10))
    now_ms = T0 + 3 * DAY
    dropped = store.retention_sweep(keep_days=2, now_ms=now_ms)
    d0 = dt.datetime.fromtimestamp(T0 / 1000, tz=dt.timezone.utc).date()
    assert f"date={d0.isoformat()}" in dropped
    got = _read_all(store)
    assert all(ts >= T0 + DAY for _, ts, _ in got)


def _streamed_read(client, q):
    from promhouse_spark.edge import chunkenc, prompb, snappy_codec

    rq = snappy_codec.compress(
        prompb.encode_read_request_full(
            [q], [prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS]
        )
    )
    resp = client.post("/read", data=rq)
    assert resp.status_code == 200
    got = []
    for payload in chunkenc.iter_frames(resp.data):
        series, _qi = prompb.decode_chunked_read_response(payload)
        for labels, chunks in series:
            samples = [
                s
                for _, _, _, d in chunks
                for s in chunkenc.decode_xor_chunk(d)
            ]
            got.append(
                (tuple((l.name, l.value) for l in labels), tuple(samples))
            )
    return sorted(got)


def test_streamed_read_zero_decode_fast_path(spark, tmp_path):
    """A streamed read from the chunked tier serves the at-rest chunks
    verbatim — and equals the flat tier's streamed response sample-for-
    sample (whole intersecting chunks; the querier trims by time)."""
    flask = pytest.importorskip("flask")  # noqa: F841
    from promhouse_spark.edge.http import create_app

    store = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    data = _dense_series(n_series=2, days=1, per_day=150)
    store.write(data)
    app = create_app(store)
    app.testing = True
    client = app.test_client()

    q = Query(T0, T0 + DAY, make_matchers(("__name__", "=", "dense")))
    got = _streamed_read(client, q)
    want = sorted(
        (
            tuple((l.name, l.value) for l in ts.labels),
            tuple((s.timestamp_ms, s.value) for s in ts.samples),
        )
        for ts in data
    )
    assert got == want
    # the served bytes ARE the stored bytes: compare against chunks_df
    stored = sorted(bytes(r["chunk"]) for r in store.chunks_df().collect())
    from promhouse_spark.edge import chunkenc, prompb, snappy_codec

    rq = snappy_codec.compress(
        prompb.encode_read_request_full(
            [q], [prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS]
        )
    )
    resp = client.post("/read", data=rq)
    served = sorted(
        d
        for payload in chunkenc.iter_frames(resp.data)
        for _, chunks in prompb.decode_chunked_read_response(payload)[0]
        for _, _, _, d in chunks
    )
    assert served == stored


def test_streamed_read_falls_back_under_tombstones(spark, tmp_path):
    """Pending deletes make raw chunks unsound — the handler must fall
    back to the decode path and mask the deleted interval."""
    flask = pytest.importorskip("flask")  # noqa: F841
    from promhouse_spark.edge.http import create_app

    store = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    store.write(_dense_series(n_series=1, days=1, per_day=50))
    store.delete_series(
        make_matchers(("__name__", "=", "dense")),
        start_ms=T0,
        end_ms=T0 + 10 * 15_000,
    )
    app = create_app(store)
    app.testing = True
    client = app.test_client()
    q = Query(T0, T0 + DAY, make_matchers(("__name__", "=", "dense")))
    got = _streamed_read(client, q)
    assert len(got) == 1
    ts_values = [t for t, _ in got[0][1]]
    assert min(ts_values) > T0 + 10 * 15_000
    assert len(ts_values) == 50 - 11  # inclusive interval masked


def test_promql_over_chunked_prunes_and_matches_flat(stores, spark):
    """The PromQL serving path over the chunked tier: results identical to
    the flat tier, and the compiled plan carries the chunk-envelope
    predicates below the Arrow decode (find_min_max_time →
    samples_window_df)."""
    from promhouse_spark.promql.engine import PromQLEngine

    flat, chunked = stores
    start, end, step = T0 + DAY, T0 + DAY + 3600_000, 60_000
    expr = 'sum(rate(dense[5m]))'
    out_flat = PromQLEngine.from_storage(flat, start, end, step).eval(expr)
    out_chunk = PromQLEngine.from_storage(chunked, start, end, step).eval(expr)
    rows_f = sorted(map(tuple, out_flat.collect()))
    rows_c = sorted(map(tuple, out_chunk.collect()))
    assert rows_f == rows_c and len(rows_f) > 0

    eng = PromQLEngine.from_storage(chunked, start, end, step)
    plan = eng.explain(expr)
    assert "min_ms" in plan and "max_ms" in plan  # envelope pruning fired
    # offsets reaching outside the window stay correct (window extends)
    o_flat = PromQLEngine.from_storage(flat, start, end, step).eval(
        "sum(dense offset 1d)"
    )
    o_chunk = PromQLEngine.from_storage(chunked, start, end, step).eval(
        "sum(dense offset 1d)"
    )
    assert sorted(map(tuple, o_flat.collect())) == sorted(
        map(tuple, o_chunk.collect())
    )


def test_snapshot_includes_chunks(spark, tmp_path):
    store = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    store.write(_dense_series(n_series=1, days=1, per_day=10))
    name = store.snapshot()
    snap = ChunkedParquetStorage(
        spark, os.path.join(store.root, "snapshots", name)
    )
    assert _read_all(snap) == _read_all(store)


def test_rawsql_window_pushdown(stores, spark):
    """A time-bounded rawsql over the chunked backend registers the
    ``samples`` view from the window-pruned decoded frame: the WHERE's own
    timestamp bounds reach the parquet scan of the CHUNK table (envelope
    PushedFilters + day pruning) BELOW the decode barrier."""
    flat, chunked = stores
    lo, hi = T0 + DAY, T0 + DAY + 3600_000
    sql = (
        "SELECT fingerprint, timestamp_ms, value FROM samples "
        f"WHERE timestamp_ms >= {lo} AND timestamp_ms <= {hi} "
        "ORDER BY fingerprint, timestamp_ms"
    )
    chunked._register_views_for_sql(sql)
    plan = spark.table("samples")._jdf.queryExecution().toString()
    assert "PushedFilters:" in plan
    assert "min_ms" in plan and "max_ms" in plan  # envelope prune pre-decode
    # and the results match the flat tier's rawsql byte-for-byte
    def run(store):
        res = store.read(
            [Query(0, T0, make_matchers(("job", "=", "rawsql"), ("query", "=", sql)))]
        )[0]
        return [(ts.labels_map(), ts.samples[0].value) for ts in res]

    got, want = run(chunked), run(flat)
    assert got == want
    # day-1's full 200-sample span (50 min) fits the hour window: 4 series
    assert len(got) == 4 * 200


def test_rawsql_unbounded_still_full_view(stores, spark):
    """Bound-less SQL keeps the decode-everything view (correctness first)."""
    _, chunked = stores
    sql = "SELECT count(*) AS value FROM samples"
    res = chunked.read(
        [Query(0, T0, make_matchers(("job", "=", "rawsql"), ("query", "=", sql)))]
    )[0]
    assert res[0].samples[0].value == 4 * 3 * 200


def test_streamed_serve_is_lazy_and_never_collects(spark, tmp_path, monkeypatch):
    """The streamed serve paths (chunked read_chunks + flat iter_series)
    stream series off toLocalIterator — a full-result DataFrame.collect
    anywhere while consuming them is a driver-memory regression. Enforced
    by making collect() fail during consumption."""
    from pyspark.sql import DataFrame

    data = _dense_series(n_series=3, days=1, per_day=150)
    chunked = ChunkedParquetStorage(spark, str(tmp_path / "c"))
    flat = SparkParquetStorage(spark, str(tmp_path / "f"))
    chunked.write(data)
    flat.write(data)
    q = Query(T0, T0 + DAY, make_matchers(("__name__", "=", "dense")))
    gen = chunked.read_chunks(q)
    # lazy iterator, not a materialized list (the first series is pulled
    # eagerly so Spark failures beat the 200 header — see read_chunks)
    assert iter(gen) is gen and not isinstance(gen, (list, tuple))
    it = flat.iter_series(q)

    def boom(self):
        raise AssertionError("collect() called in a streamed serve path")

    monkeypatch.setattr(DataFrame, "collect", boom)
    series = list(gen)
    assert len(series) == 3
    assert all(chunks for _, chunks in series)
    # unsigned-fingerprint order, labels resolved
    ks = [labels["k"] for labels, _ in series]
    assert sorted(ks) == ["0", "1", "2"]
    flat_series = list(it)
    assert len(flat_series) == 3
    assert all(len(ts.samples) == 150 for ts in flat_series)


def test_streamed_read_serves_histogram_chunks(spark, tmp_path):
    """A store holding native-histogram data answers a
    STREAMED_XOR_CHUNKS request with STREAMED frames: histogram series
    ride as native-histogram chunks (tsdb/chunkenc type 2/3) next to the
    float series' XOR chunks, instead of forcing the whole response down
    the sampled fallback (the r9 behavior this replaces). Covers both
    streamed fast paths: chunked read_chunks (sidecar merged by
    fingerprint) and flat iter_series."""
    flask = pytest.importorskip("flask")  # noqa: F841
    from promhouse_spark.edge import chunkenc, prompb, snappy_codec
    from promhouse_spark.edge.http import create_app
    from promhouse_spark.models import NativeHistogram

    hist_series = TimeSeries(
        labels=[Label("__name__", "lat"), Label("job", "h")],
        histograms=[
            NativeHistogram(
                timestamp_ms=T0 + 1000,
                count=3,
                sum=6.0,
                schema=0,
                positive=[(1, 3.0)],
            )
        ],
    )
    for cls, sub in ((ChunkedParquetStorage, "c"), (SparkParquetStorage, "f")):
        store = cls(spark, str(tmp_path / sub))
        store.write(_dense_series(n_series=1, days=1, per_day=30) + [hist_series])
        app = create_app(store)
        app.testing = True
        client = app.test_client()
        rq = snappy_codec.compress(
            prompb.encode_read_request_full(
                [Query(T0, T0 + DAY, make_matchers(("job", "=", "h")))],
                [prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS],
            )
        )
        resp = client.post("/read", data=rq)
        assert resp.status_code == 200, sub
        assert "x-streamed-protobuf" in resp.headers["Content-Type"], sub
        got_hists = []
        for payload in chunkenc.iter_frames(resp.data):
            for labels, chunks in prompb.decode_chunked_read_response(payload)[0]:
                for _mn, _mx, ct, d in chunks:
                    assert ct in (
                        chunkenc.CHUNK_TYPE_HISTOGRAM,
                        chunkenc.CHUNK_TYPE_FLOAT_HISTOGRAM,
                    ), sub
                    dec = (
                        chunkenc.decode_histogram_chunk(d)[0]
                        if ct == chunkenc.CHUNK_TYPE_HISTOGRAM
                        else chunkenc.decode_float_histogram_chunk(d)[0]
                    )
                    got_hists.extend(dec)
        assert len(got_hists) == 1, sub
        h = got_hists[0]
        assert h.timestamp_ms == T0 + 1000 and h.count == 3 and h.sum == 6.0
        assert dict(h.positive).get(1) == 3.0

        # a matcher spanning float AND histogram series streams BOTH
        # chunk kinds in one response
        rq2 = snappy_codec.compress(
            prompb.encode_read_request_full(
                [Query(T0, T0 + DAY, ())],
                [prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS],
            )
        )
        resp2 = client.post("/read", data=rq2)
        assert resp2.status_code == 200, sub
        assert "x-streamed-protobuf" in resp2.headers["Content-Type"], sub
        types = set()
        n_float_samples = 0
        n_hist = 0
        for payload in chunkenc.iter_frames(resp2.data):
            for labels, chunks in prompb.decode_chunked_read_response(payload)[0]:
                for _mn, _mx, ct, d in chunks:
                    types.add(ct)
                    if ct == chunkenc.CHUNK_TYPE_XOR:
                        n_float_samples += len(chunkenc.decode_xor_chunk(d))
                    elif ct == chunkenc.CHUNK_TYPE_HISTOGRAM:
                        n_hist += len(chunkenc.decode_histogram_chunk(d)[0])
        assert chunkenc.CHUNK_TYPE_XOR in types, sub
        assert chunkenc.CHUNK_TYPE_HISTOGRAM in types, sub
        assert n_float_samples == 30 and n_hist == 1, sub
