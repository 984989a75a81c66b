"""promload-equivalent migration/load CLI (S8-S12, C5).

``python -m promhouse_spark.edge.promload copy <source> <destination>``

Endpoints use the reference's ``type:addr`` syntax
(``cmd/promload/main.go:53-70``):

- ``file:/path``        framed snappy/protobuf dump (S8/S9)
- ``store:/path``       a SparkParquetStorage root (read via step-sliced
                        empty-matcher queries — S11 — write via the engine
                        write pipeline)
- ``exporter:URL``      scrape a Prometheus exporter's /metrics once (S10)
- ``remote:URL``        a remote-read/-write server (this engine's /read
                        and /write, or any Prometheus remote endpoint):
                        reads negotiate STREAMED_XOR_CHUNKS and fall back
                        to sampled; writes speak Remote-Write 1.0, or 2.0
                        with ``--rw2``
- ``null:``             discard writes / empty reads (S12)

Reads are sliced into ``--step`` windows over ``--last`` (defaults 1 m /
30 d, ``cmd/promload/main.go:92-94``), streamed through a bounded queue of
10 chunks (``main.go:201-241``) with progress logging every 10 s.
"""

from __future__ import annotations

import argparse
import queue
import sys
import threading
import time
import urllib.request
from typing import Iterable, Iterator, Sequence

from promhouse_spark.edge import framed
from promhouse_spark.edge.exposition import parse_exposition
from promhouse_spark.models import Query, TimeSeries

CHANNEL_CAP = 10  # main.go:201-202
_SENTINEL = object()


# ------------------------------------------------------------------ readers


def read_file(path: str) -> Iterator[list[TimeSeries]]:
    with open(path, "rb") as f:
        for ts in framed.read_frames(f):
            yield [ts]


def read_store(path: str, step_ms: int, last_ms: int, end_ms: int) -> Iterator[list[TimeSeries]]:
    """S11/C5: step-sliced dump of a store (promhouse.go:82-165), as ONE
    partition-pruned scan instead of a Spark job per window: rows get a
    window index, are globally sorted by (window, fingerprint, ts), and
    stream through ``toLocalIterator`` while consecutive runs are cut into
    per-window series — same chunk semantics, O(1) jobs."""
    if step_ms <= 0:
        raise ValueError(f"step_ms must be > 0, got {step_ms}")
    from pyspark.sql import functions as F

    from promhouse_spark.functions.fingerprint import to_unsigned64
    from promhouse_spark.models import Label, Sample
    from promhouse_spark.plans.read import samples_in_range
    from promhouse_spark.session import get_spark
    from promhouse_spark.storage.parquet import SparkParquetStorage

    storage = SparkParquetStorage(get_spark(app_name="promload"), path)
    start = end_ms - last_ms
    rows = (
        samples_in_range(storage.samples_df(), start, end_ms)
        .withColumn("w", ((F.col("timestamp_ms") - start) / step_ms).cast("long"))
        .orderBy("w", "fingerprint", "timestamp_ms")
        .select("w", "fingerprint", "timestamp_ms", "value")
    )

    def label_list(fp: int) -> list[Label]:
        labels = storage._registry.get(to_unsigned64(fp), {})
        return [Label(n, v) for n, v in sorted(labels.items())]

    cur_key: tuple[int, int] | None = None
    cur_ts: TimeSeries | None = None
    cur_window: int | None = None
    window_series: list[TimeSeries] = []
    for r in rows.toLocalIterator():
        key = (r["w"], r["fingerprint"])
        if key != cur_key:
            if cur_window is not None and r["w"] != cur_window and window_series:
                yield window_series
                window_series = []
            cur_ts = TimeSeries(labels=label_list(r["fingerprint"]), samples=[])
            window_series.append(cur_ts)
            cur_key = key
            cur_window = r["w"]
        cur_ts.samples.append(Sample(value=r["value"], timestamp_ms=r["timestamp_ms"]))
    if window_series:
        yield window_series


def read_remote(
    url: str, step_ms: int, last_ms: int, end_ms: int
) -> Iterator[list[TimeSeries]]:
    """Step-sliced remote read over HTTP. Each window issues one
    empty-matcher ReadRequest advertising STREAMED_XOR_CHUNKS; a streamed
    answer decodes Gorilla chunks client-side (whole intersecting chunks
    come back, so samples trim to the window — the querier-side contract),
    a sampled answer falls back to the classic decode. Works against this
    engine's /read and any Prometheus-compatible remote endpoint."""
    from promhouse_spark.edge import chunkenc, prompb, snappy_codec
    from promhouse_spark.models import Sample

    start = end_ms - last_ms
    w_start = start
    while w_start <= end_ms:
        w_end = min(w_start + step_ms - 1, end_ms)
        body = snappy_codec.compress(
            prompb.encode_read_request_full(
                [Query(w_start, w_end, ())],
                [prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS],
            )
        )
        req = urllib.request.Request(
            url,
            data=body,
            headers={
                "Content-Type": "application/x-protobuf",
                "Content-Encoding": "snappy",
                "X-Prometheus-Remote-Read-Version": "0.1.0",
            },
        )
        with urllib.request.urlopen(req, timeout=60) as resp:  # noqa: S310
            ctype = resp.headers.get("Content-Type", "")
            data = resp.read()
        series: list[TimeSeries] = []
        if "x-streamed-protobuf" in ctype:
            for payload in chunkenc.iter_frames(data):
                for labels, chunks in prompb.decode_chunked_read_response(payload)[0]:
                    samples = sorted(
                        (t, v)
                        for _mn, _mx, ct, d in chunks
                        if ct == chunkenc.CHUNK_TYPE_XOR
                        for t, v in chunkenc.decode_xor_chunk(d)
                        if w_start <= t <= w_end
                    )
                    hists = []
                    for _mn, _mx, ct, d in chunks:
                        if ct == chunkenc.CHUNK_TYPE_HISTOGRAM:
                            decoded_h = chunkenc.decode_histogram_chunk(d)[0]
                        elif ct == chunkenc.CHUNK_TYPE_FLOAT_HISTOGRAM:
                            decoded_h = chunkenc.decode_float_histogram_chunk(d)[0]
                        else:
                            continue
                        hists.extend(
                            h
                            for h in decoded_h
                            if w_start <= h.timestamp_ms <= w_end
                        )
                    hists.sort(key=lambda h: h.timestamp_ms)
                    if samples or hists:
                        series.append(
                            TimeSeries(
                                labels=list(labels),
                                samples=[Sample(value=v, timestamp_ms=t) for t, v in samples],
                                histograms=hists,
                            )
                        )
        else:
            results = prompb.decode_read_response(snappy_codec.decompress(data))
            series = list(results[0]) if results else []
        if series:
            yield series
        w_start += step_ms


class RemoteWriter:
    """Remote-write client: 1.0 by default, 2.0 (symbol-interned, 204 +
    stats headers) with ``v2=True``. Raises on any non-2xx answer."""

    def __init__(self, url: str, v2: bool = False) -> None:
        self.url = url
        self.v2 = v2

    def write(self, series: Sequence[TimeSeries]) -> None:
        from promhouse_spark.edge import prompb, prompb2, snappy_codec

        if self.v2:
            body = prompb2.encode_write_request_v2(series)
            ctype = prompb2.CONTENT_TYPE_V2
        else:
            body = prompb.encode_write_request(series)
            ctype = "application/x-protobuf"
        req = urllib.request.Request(
            self.url,
            data=snappy_codec.compress(body),
            headers={
                "Content-Type": ctype,
                "Content-Encoding": "snappy",
                "X-Prometheus-Remote-Write-Version": "2.0.0" if self.v2 else "0.1.0",
            },
        )
        with urllib.request.urlopen(req, timeout=60) as resp:  # noqa: S310
            if not 200 <= resp.status < 300:
                raise RuntimeError(f"remote write failed: HTTP {resp.status}")


def read_exporter(url: str) -> Iterator[list[TimeSeries]]:
    """Single scrape (the replay loop below calls this per fresh fetch)."""
    with urllib.request.urlopen(url, timeout=10) as resp:  # noqa: S310
        text = resp.read().decode()
    now_ms = int(time.time() * 1000)
    yield list(parse_exposition(text, default_timestamp_ms=now_ms))


def _restamp(series: Sequence[TimeSeries], ts_ms: int) -> list[TimeSeries]:
    """Fresh copies with every sample stamped at the window start
    (``exporter.go:207-211`` mutates in place; copying keeps the cached
    scrape reusable without the reference's proto.Clone dance)."""
    from promhouse_spark.models import Sample

    return [
        TimeSeries(
            labels=list(ts.labels),
            samples=[Sample(value=s.value, timestamp_ms=ts_ms) for s in ts.samples],
        )
        for ts in series
    ]


def read_exporter_replay(
    url: str,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    cache: bool = False,
) -> Iterator[list[TimeSeries]]:
    """S10 complete: continuous exporter replay
    (``cmd/promload/exporter.go:160-241``).

    A background thread scrapes the exporter in a loop, handing each result
    over a 1-slot queue (mirrors ``runFreshReader``'s unbuffered channel).
    The window walker restamps the current scrape's samples to each window
    start across ``[start_ms, end_ms)``:

    - ``cache=False``: every window blocks for a fresh scrape
      (``exporter.go:238``) — window cadence is scrape-bound.
    - ``cache=True``: a non-blocking poll takes fresh data when available
      and otherwise replays the last scrape (``exporter.go:229-237``) — a
      slow upstream never stalls the walk.

    Divergence from the reference: its boundary check
    (``readCurrent.After(end)``, ``exporter.go:194``) re-emits the final
    window forever once ``readCurrent`` clamps to ``end``; we terminate
    after the last window start before ``end_ms``.
    """
    if step_ms <= 0:
        raise ValueError(f"step_ms must be > 0, got {step_ms}")  # endless window loop otherwise
    fresh: queue.Queue = queue.Queue(maxsize=1)
    stop = threading.Event()

    def _put(item) -> bool:
        while not stop.is_set():
            try:
                fresh.put(item, timeout=0.05)
                return True
            except queue.Full:
                continue
        return False

    def scraper() -> None:
        while not stop.is_set():
            try:
                data = next(read_exporter(url))
            except Exception as e:  # noqa: BLE001 — surfaced to the walker
                _put(e)
                return
            if not _put(data):
                return

    threading.Thread(target=scraper, daemon=True).start()
    try:
        data = fresh.get()
        if isinstance(data, Exception):
            raise data
        w = start_ms
        while w < end_ms:
            yield _restamp(data, w)
            w += step_ms
            if w >= end_ms:
                break
            if cache:
                try:
                    nxt = fresh.get_nowait()
                except queue.Empty:
                    nxt = None
            else:
                nxt = fresh.get()
            if nxt is not None:
                if isinstance(nxt, Exception):
                    raise nxt
                data = nxt
        # cache mode never blocks on the queue, so a scraper error enqueued
        # during the final window would be silently dropped — drain once so
        # a failing upstream is reported (ADVICE r2). Cache mode ONLY: the
        # blocking mode surfaces errors at each get(), and draining there
        # could fail a replay whose every window was already delivered.
        if cache:
            try:
                pending = fresh.get_nowait()
            except queue.Empty:
                pending = None
            if isinstance(pending, Exception):
                raise pending
    finally:
        stop.set()


# ------------------------------------------------------------------ writers


class NullWriter:
    def write(self, series: Sequence[TimeSeries]) -> None:  # S12
        pass


class FileWriter:
    def __init__(self, path: str) -> None:
        self.f = open(path, "wb")  # noqa: SIM115

    def write(self, series: Sequence[TimeSeries]) -> None:
        framed.write_frames(self.f, series)

    def close(self) -> None:
        self.f.close()


class StoreWriter:
    def __init__(self, path: str) -> None:
        from promhouse_spark.session import get_spark
        from promhouse_spark.storage.parquet import SparkParquetStorage

        self.storage = SparkParquetStorage(get_spark(app_name="promload"), path)

    def write(self, series: Sequence[TimeSeries]) -> None:
        self.storage.write(series)

    def close(self) -> None:
        self.storage.flush()  # the restore ends with every sample in parquet


# --------------------------------------------------------------------- copy


def _make_reader(spec: str, args) -> Iterator[list[TimeSeries]]:
    kind, _, addr = spec.partition(":")
    end_ms = getattr(args, "end_ms", 0) or int(time.time() * 1000)
    start_ms = getattr(args, "start_ms", 0)
    last_ms = (end_ms - start_ms) if start_ms else args.last_ms
    if kind == "file":
        return read_file(addr)
    if kind == "store":
        return read_store(addr, args.step_ms, last_ms, end_ms)
    if kind == "exporter":
        return read_exporter_replay(
            addr,
            end_ms - last_ms,
            end_ms,
            args.step_ms,
            cache=getattr(args, "cache", False),
        )
    if kind == "remote":
        return read_remote(addr, args.step_ms, last_ms, end_ms)
    if kind == "null":
        return iter(())
    raise SystemExit(f"unknown source type: {spec!r}")


def _make_writer(spec: str, args=None):
    kind, _, addr = spec.partition(":")
    if kind == "file":
        return FileWriter(addr)
    if kind == "store":
        return StoreWriter(addr)
    if kind == "remote":
        return RemoteWriter(addr, v2=bool(getattr(args, "rw2", False)))
    if kind == "null":
        return NullWriter()
    raise SystemExit(f"unknown destination type: {spec!r}")


def copy(source: str, destination: str, args) -> int:
    """Reader thread → bounded queue → writer loop (main.go:205-241)."""
    ch: queue.Queue = queue.Queue(maxsize=CHANNEL_CAP)
    errors: list[BaseException] = []

    def reader() -> None:
        try:
            for chunk in _make_reader(source, args):
                ch.put(chunk)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)
        finally:
            ch.put(_SENTINEL)

    threading.Thread(target=reader, daemon=True).start()
    writer = _make_writer(destination, args)
    n_series = n_samples = 0
    last_log = time.time()
    while True:
        chunk = ch.get()
        if chunk is _SENTINEL:
            break
        writer.write(chunk)
        n_series += len(chunk)
        n_samples += sum(len(ts.samples) for ts in chunk)
        if time.time() - last_log >= 10:
            print(f"promload: {n_series} series / {n_samples} samples copied", file=sys.stderr)
            last_log = time.time()
    if hasattr(writer, "close"):
        writer.close()
    if errors:
        raise errors[0]
    print(f"promload: done — {n_series} series / {n_samples} samples", file=sys.stderr)
    return n_series


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="promload", description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("copy", help="copy time series between endpoints")
    c.add_argument("source")
    c.add_argument("destination")
    c.add_argument("--step-ms", type=int, default=60_000)  # main.go default 1m
    c.add_argument("--last-ms", type=int, default=30 * 24 * 3600 * 1000)  # 30d
    # Backfill bounds: historical copies would otherwise slice [now-last, now]
    # and walk millions of empty windows to reach old data.
    c.add_argument("--start-ms", type=int, default=0)
    c.add_argument("--end-ms", type=int, default=0)
    # exporter source: replay the last scrape when the upstream is slower
    # than the step cadence (main.go cacheF / exporter.go:229-237)
    c.add_argument("--cache", action="store_true")
    # remote destination: speak Remote-Write 2.0 instead of 1.0
    c.add_argument("--rw2", action="store_true")
    args = p.parse_args(argv)
    if args.cmd == "copy" and args.step_ms <= 0:
        raise SystemExit(f"--step-ms must be > 0, got {args.step_ms}")
    if args.cmd == "copy":
        copy(args.source, args.destination, args)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
