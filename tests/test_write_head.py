"""The WAL-backed write head of SparkParquetStorage: acked writes survive
a crash exactly once, a flush cut short resumes where it stopped, an idle
head flushes by age, the cache-off registry stays deduplicated across
flushes, writes racing a flush are neither lost nor doubled, and a root
without a WAL commits each write before its ack."""

from __future__ import annotations

import gc
import os
import signal
import socket
import subprocess
import sys
import threading
import time

import pytest

from promhouse_spark.models import Label, Query, Sample, TimeSeries, make_matchers
from promhouse_spark.storage import fs
from promhouse_spark.storage.parquet import SparkParquetStorage
from promhouse_spark.storage.wal import SEALED, WriteAheadLog

T0 = 1_767_225_600_000
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _batch(r: int, series: range) -> list[TimeSeries]:
    """One sample per series at scrape ``r``."""
    return [
        TimeSeries(
            [Label("__name__", "head_probe"), Label("sid", str(i))],
            [Sample(float(r * 1000 + i), T0 + r * 15_000)],
        )
        for i in series
    ]


def _stored(store: SparkParquetStorage) -> tuple[int, int]:
    """(sample rows, distinct (fingerprint, ts) keys) in the store."""
    df = store.samples_df()
    return df.count(), df.select("fingerprint", "timestamp_ms").distinct().count()


def _segments(root: str) -> list[str]:
    return sorted(os.listdir(os.path.join(root, "wal")))


def test_write_acks_without_spark_and_empty_flush_is_free(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    store.write(_batch(0, range(20)))
    assert not os.path.exists(os.path.join(root, "samples"))
    assert len(store._head.fps) == 20 and len(_segments(root)) == 1
    store.flush()
    assert _segments(root) == [] and _stored(store) == (20, 20)

    def no_fs(*args, **kwargs):
        raise AssertionError("empty flush touched the filesystem")

    monkeypatch.setattr(fs, "exists", no_fs)
    store.flush()


def test_acked_writes_replay_exactly_once_after_a_crash(spark, tmp_path):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    for r in range(3):
        store.write(_batch(r, range(r * 5, r * 5 + 10)))
    del store  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    again = SparkParquetStorage(spark, root)
    assert again.wal_replay_status() == {"min": 1, "max": 1, "current": 1, "state": "done"}
    assert _stored(again) == (30, 30)
    res = again.read([Query(T0, T0 + 10**6, make_matchers(("__name__", "=", "head_probe")))])[0]
    assert len(res) == 20 and sum(len(ts.samples) for ts in res) == 30
    # a second restart finds nothing left to replay
    del again  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    third = SparkParquetStorage(spark, root)
    assert third.wal_replay_status()["max"] == 0 and _stored(third) == (30, 30)


def test_histograms_and_exemplars_replay_after_a_crash(spark, tmp_path):
    from promhouse_spark.models import Exemplar, NativeHistogram

    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    hist = NativeHistogram(
        timestamp_ms=T0, count=6.0, sum=2.5, schema=1, zero_threshold=1e-3,
        zero_count=1.0, positive=[(0, 2.0), (1, 3.0)], negative=[(-1, 1.0)],
    )
    store.write([
        TimeSeries([Label("__name__", "lat")], histograms=[hist]),
        TimeSeries(
            [Label("__name__", "req")],
            [Sample(1.0, T0)],
            exemplars=[Exemplar([Label("trace_id", "ab")], 0.25, T0)],
        ),
    ])
    del store  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    again = SparkParquetStorage(spark, root)
    q = Query(T0, T0, make_matchers(("__name__", "=", "lat")))
    [[got]] = again.read([q])
    assert got.histograms == [hist]
    (ex,) = again.read_exemplars(
        Query(T0, T0, make_matchers(("__name__", "=", "req")))
    ).collect()
    assert (ex["value"], dict(ex["exemplar_labels"])) == (0.25, {"trace_id": "ab"})


def test_torn_tail_is_dropped_and_later_appends_survive(spark, tmp_path):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root, cache_registry=False)
    store.write(_batch(0, range(4)))
    (seg,) = _segments(root)
    with open(os.path.join(root, "wal", seg), "ab") as f:
        f.write(b"\x02\xff\xff")  # a record header cut short by the crash
    del store  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    again = SparkParquetStorage(spark, root, cache_registry=False)
    again.write(_batch(1, range(4)))
    del again  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    third = SparkParquetStorage(spark, root, cache_registry=False)
    assert _stored(third) == (8, 8)


def test_crash_after_append_before_segment_delete_leaves_no_duplicates(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    store.write(_batch(0, range(10)))
    store.write(_batch(1, range(5, 15)))

    def die(self, segment):
        raise RuntimeError("crash before the sealed segment is deleted")

    monkeypatch.setattr(WriteAheadLog, "release", die)
    with pytest.raises(RuntimeError, match="crash before"):
        store.flush()
    monkeypatch.undo()
    assert [s.endswith(SEALED) for s in _segments(root)] == [True]
    del store  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    again = SparkParquetStorage(spark, root)  # its reload flushes the recovery
    assert _segments(root) == []
    assert _stored(again) == (20, 20)
    assert spark.read.parquet(again.registry_path).count() == 15


def test_crash_inside_an_append_recommits_only_the_missing_rows(
    spark, tmp_path, monkeypatch
):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    store.write(_batch(0, range(10)))
    orig = SparkParquetStorage.ingest_df

    def append_then_die(self, df, files_per_day=None):
        orig(self, df.limit(4), files_per_day)  # a partial Spark commit
        raise RuntimeError("crash inside the samples append")

    monkeypatch.setattr(SparkParquetStorage, "ingest_df", append_then_die)
    with pytest.raises(RuntimeError, match="crash inside"):
        store.flush()
    monkeypatch.undo()
    del store  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    again = SparkParquetStorage(spark, root)
    assert _segments(root) == [] and _stored(again) == (10, 10)
    assert spark.read.parquet(again.registry_path).count() == 10


def test_crash_before_an_append_keeps_a_resent_batch(spark, tmp_path, monkeypatch):
    """Identical (fingerprint, ts) rows are legal: a batch the sender
    resends after its first copy was stored keeps both copies when the
    flush carrying the resend dies before its samples append, as it does
    without a crash."""
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    store.write(_batch(0, range(10)))
    store.flush()
    store.write(_batch(0, range(11)))  # the resend, plus one new series

    def die(self, reg_df):
        raise RuntimeError("crash inside the registry append")

    monkeypatch.setattr(SparkParquetStorage, "_append_registry", die)
    with pytest.raises(RuntimeError, match="crash inside"):
        store.flush()
    monkeypatch.undo()
    del store  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    again = SparkParquetStorage(spark, root)
    assert _segments(root) == [] and _stored(again) == (21, 11)
    assert spark.read.parquet(again.registry_path).count() == 11


def test_idle_head_flushes_by_age_without_another_write(spark, tmp_path):
    from promhouse_spark.storage.parquet import HEAD_MAX_AGE_S

    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    store.write(_batch(0, range(5)))
    deadline = time.monotonic() + HEAD_MAX_AGE_S + 60
    while _segments(root) and time.monotonic() < deadline:
        time.sleep(0.2)
    assert _segments(root) == []
    other = SparkParquetStorage(spark, root, cache_registry=False)
    assert _stored(other) == (5, 5)


def test_writes_ack_while_a_flush_commits(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    store.write(_batch(0, range(8)))
    entered, release = threading.Event(), threading.Event()
    orig = SparkParquetStorage.ingest_df

    def held(self, df, files_per_day=None):
        entered.set()
        assert release.wait(120)
        orig(self, df, files_per_day)

    monkeypatch.setattr(SparkParquetStorage, "ingest_df", held)
    flusher = threading.Thread(target=store.flush)
    flusher.start()
    try:
        assert entered.wait(120)
        store.write(_batch(1, range(8)))  # acks with the commit still held
        assert len(store._head.fps) == 8
    finally:
        release.set()
        flusher.join(120)
    monkeypatch.undo()
    assert _stored(store) == (16, 16)


def test_root_without_wal_retries_a_failed_commit_whole(spark, monkeypatch):
    """A JDBC root has no WAL: each write commits its own rows before it
    acks. A failed commit reaches that write's caller and leaves the hot
    dict without the series, so the retry registers it."""
    import uuid

    from promhouse_spark.storage.jdbc import DERBY_DRIVER, JdbcStorage, derby_memory_url

    store = JdbcStorage(
        spark, derby_memory_url(f"nowal{uuid.uuid4().hex[:8]}"), driver=DERBY_DRIVER
    )
    assert store._wal is None
    store.write(_batch(0, range(3)))
    orig, calls = JdbcStorage._append_registry, []

    def fail_once(self, reg_df):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("transient")
        return orig(self, reg_df)

    monkeypatch.setattr(JdbcStorage, "_append_registry", fail_once)
    with pytest.raises(OSError):
        store.write(_batch(1, range(3, 5)))
    assert not store._head and len(store._registry) == 3
    store.write(_batch(1, range(3, 5)))  # the sender's retry
    monkeypatch.undo()
    assert store.registry_df().count() == 5 and len(store._registry) == 5
    res = store.read([Query(T0, T0 + 10**6, make_matchers(("__name__", "=", "head_probe")))])[0]
    assert sorted(len(ts.samples) for ts in res) == [1, 1, 1, 1, 1]


def test_failed_flush_recommits_on_the_same_instance(spark, tmp_path, monkeypatch):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    store.write(_batch(0, range(6)))
    calls = []
    orig = WriteAheadLog.release

    def fail_once(self, segment):
        calls.append(segment)
        if len(calls) == 1:
            raise OSError("transient")
        return orig(self, segment)

    monkeypatch.setattr(WriteAheadLog, "release", fail_once)
    with pytest.raises(OSError):
        store.flush()
    store.write(_batch(1, range(6)))
    store.flush()
    assert _segments(root) == [] and _stored(store) == (12, 12)


def test_cache_off_flushes_keep_one_registry_row_per_series(spark, tmp_path):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root, cache_registry=False)
    store.write(_batch(0, range(0, 30)))
    store.write(_batch(1, range(10, 40)))  # overlaps inside one head
    store.flush()
    store.write(_batch(2, range(20, 50)))  # overlaps the persisted registry
    store.flush()
    assert spark.read.parquet(store.registry_path).count() == 50
    assert store._registry == {}


def test_writes_racing_flushes_are_neither_lost_nor_doubled(spark, tmp_path):
    root = str(tmp_path / "s")
    store = SparkParquetStorage(spark, root)
    writers, rounds, errors = 6, 8, []  # more writer threads than cores

    def writer(w):
        try:
            for r in range(rounds):
                store.write(_batch(r, range(w * 25, w * 25 + 25)))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(writers)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        deadline = time.monotonic() + 120
        while any(t.is_alive() for t in threads) and time.monotonic() < deadline:
            store.flush()
        for t in threads:
            t.join(timeout=max(deadline - time.monotonic(), 1))
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors
    n = writers * rounds * 25
    assert _stored(store) == (n, n)
    assert spark.read.parquet(store.registry_path).count() == writers * 25


def test_walreplay_status_reports_the_replayed_segments(spark, tmp_path):
    from promhouse_spark.edge.http import create_app

    root = str(tmp_path / "s")
    fresh = SparkParquetStorage(spark, root)
    body = create_app(fresh).test_client().get("/api/v1/status/walreplay").get_json()
    assert body["data"] == {"min": 0, "max": 0, "current": 0, "state": "done"}
    fresh.write(_batch(0, range(3)))
    del fresh  # unflushed: its segment locks go, as with a killed process
    gc.collect()
    again = SparkParquetStorage(spark, root, cache_registry=False)
    body = create_app(again).test_client().get("/api/v1/status/walreplay").get_json()
    assert body["data"] == {"min": 1, "max": 1, "current": 1, "state": "done"}


# ------------------------------------------------------------ SIGKILL


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _start_server(root: str, work: str) -> tuple[subprocess.Popen, str]:
    port = _free_port()
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    with open(os.path.join(work, "server.log"), "ab") as log:
        proc = subprocess.Popen(
            [sys.executable, "-m", "promhouse_spark.server",
             "--listen-prom-addr", f"127.0.0.1:{port}",
             "--listen-debug-addr", f"127.0.0.1:{_free_port()}",
             "--storage-path", root],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, start_new_session=True,
        )
    import requests

    base = f"http://127.0.0.1:{port}"
    deadline = time.monotonic() + 120
    while True:
        assert proc.poll() is None, open(os.path.join(work, "server.log")).read()[-3000:]
        try:
            if requests.get(f"{base}/-/ready", timeout=2).status_code == 200:
                return proc, base
        except requests.RequestException:
            pass
        assert time.monotonic() < deadline, "server not ready"
        time.sleep(0.2)


def _kill(proc: subprocess.Popen, sig: int) -> None:
    """SIGKILL takes the whole process group down at once, as a crash
    would; SIGTERM goes to the server alone, which stops its JVM."""
    if sig == signal.SIGKILL:
        os.killpg(proc.pid, sig)
    else:
        proc.send_signal(sig)
    proc.wait(timeout=120)
    try:
        os.killpg(proc.pid, signal.SIGKILL)  # the Spark JVM of the group
    except ProcessLookupError:
        pass


def _rawsql(base: str, sql: str) -> list[TimeSeries]:
    import requests

    from promhouse_spark.edge import prompb, snappy_codec
    from promhouse_spark.plans.rawsql import RAWSQL_JOB

    q = Query(0, 1, make_matchers(("job", "=", RAWSQL_JOB), ("query", "=", sql)))
    body = snappy_codec.compress(prompb.encode_read_request_full([q]))
    r = requests.post(f"{base}/read", data=body, timeout=120)
    assert r.status_code == 200, r.text
    (series,) = prompb.decode_read_response(snappy_codec.decompress(r.content))
    return series


@pytest.mark.slow
def test_sigkilled_server_restarts_with_every_acked_sample_once(tmp_path):
    import requests

    from promhouse_spark.edge import prompb, snappy_codec

    root, work = str(tmp_path / "store"), str(tmp_path)
    proc, base = _start_server(root, work)
    try:
        for r in range(4):
            body = snappy_codec.compress(prompb.encode_write_request(_batch(r, range(50))))
            assert requests.post(f"{base}/write", data=body, timeout=60).status_code == 200
    finally:
        _kill(proc, signal.SIGKILL)
    assert _segments(root)  # acked, never flushed
    proc, base = _start_server(root, work)
    try:
        replay = requests.get(f"{base}/api/v1/status/walreplay", timeout=10).json()["data"]
        assert replay["max"] >= 1 and replay["state"] == "done"
        (row,) = _rawsql(
            base,
            "SELECT count(*) AS value, "
            "CAST(count(DISTINCT fingerprint, timestamp_ms) AS STRING) AS keys "
            "FROM samples",
        )
        labels = {l.name: l.value for l in row.labels}
        assert row.samples[0].value == 200 and labels["keys"] == "200"
        # one more acked write, then a clean stop: it reaches parquet
        body = snappy_codec.compress(prompb.encode_write_request(_batch(9, range(50))))
        assert requests.post(f"{base}/write", data=body, timeout=60).status_code == 200
    finally:
        _kill(proc, signal.SIGTERM)
    assert _segments(root) == []
