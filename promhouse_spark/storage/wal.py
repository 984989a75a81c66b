"""Write-ahead log and in-memory head of the parquet storage's write path.

A remote write is acknowledged once its rows are in the head and fsynced
to a local log segment; parquet is written later, once per batch, by
``SparkParquetStorage.flush``. This is Prometheus TSDB's head + WAL
(public ``tsdb/wlog``, ``tsdb/record``) and the offset-log plus idempotent
sink of Structured Streaming (Armbrust et al., SIGMOD 2018):

- a segment is a sequence of records, each ``type u8 | length u32 |
  crc32 u32 | payload``. Record types follow the TSDB ones: ``SERIES``
  (fingerprint + labels of each series new to the head), ``SAMPLES``
  (fingerprint, timestamp and value arrays), plus ``HISTOGRAMS`` and
  ``EXEMPLARS`` rows. Payloads are raw machine arrays or JSON; the write
  path never re-encodes protobuf;
- the newest segment of a head is *open*. A flush renames it to
  ``<name>.sealed``, appends the head to parquet tier by tier, then
  deletes it. Before and after each tier's append it adds a ``BEGIN`` /
  ``DONE`` record naming the tier. An open segment left by a dead
  process was never committed and replays into the head. A sealed one
  was being committed when the process died: its tiers marked done are
  skipped, those never begun are appended whole, and only a tier whose
  append was cut short goes in minus the rows the store already holds;
- each segment a live head owns carries an exclusive ``flock``. Storage
  instances sharing a root only claim segments whose owner is gone, and
  the kernel drops the lock of a killed process.
"""

from __future__ import annotations

import fcntl
import json
import os
import struct
import time
import uuid
import zlib
from array import array

SERIES, SAMPLES, HISTOGRAMS, EXEMPLARS = 1, 2, 3, 4
BEGIN, DONE = 5, 6  # a flush's progress through one tier (payload: its name)
SEALED = ".sealed"
_HEADER = struct.Struct("<BII")  # record type, payload bytes, crc32 of payload
_COUNT = struct.Struct("<I")


def record(kind: int, payload: bytes) -> bytes:
    return _HEADER.pack(kind, len(payload), zlib.crc32(payload)) + payload


def read_records(path: str) -> list[tuple[int, bytes]]:
    """The intact records of a segment, oldest first. A torn tail (a
    record cut short or failing its checksum, left by a crash during an
    unacknowledged append) is truncated away so later appends follow the
    last good record."""
    with open(path, "rb") as f:
        data = f.read()
    out: list[tuple[int, bytes]] = []
    off = 0
    while off + _HEADER.size <= len(data):
        kind, n, crc = _HEADER.unpack_from(data, off)
        body = data[off + _HEADER.size : off + _HEADER.size + n]
        if len(body) < n or zlib.crc32(body) != crc:
            break
        out.append((kind, body))
        off += _HEADER.size + n
    if off < len(data):
        os.truncate(path, off)
    return out


class Head:
    """Rows acknowledged but not yet in parquet. Samples are columnar
    (signed fingerprint, timestamp, value arrays) so a flush hands Spark
    one Arrow table; histogram and exemplar rows keep the tuple shape of
    their nested schemas (bucket lists, label maps)."""

    def __init__(self) -> None:
        self.series: dict[int, dict[str, str]] = {}  # unsigned fp -> labels
        self.fps = array("q")
        self.ts = array("q")
        self.values = array("d")
        self.histograms: list[tuple] = []
        self.exemplars: list[tuple] = []
        self.since = 0.0  # monotonic time of the oldest row

    def __len__(self) -> int:
        return len(self.series) + len(self.fps) + len(self.histograms) + len(self.exemplars)

    def add(self, series: dict, fps, ts, values, histograms, exemplars) -> None:
        if not self:
            self.since = time.monotonic()
        self.series.update(series)
        self.fps.extend(fps)
        self.ts.extend(ts)
        self.values.extend(values)
        self.histograms.extend(histograms)
        self.exemplars.extend(exemplars)

    @staticmethod
    def records(series: dict, fps, ts, values, histograms, exemplars) -> bytes:
        """One write as log records: only the kinds it carries."""
        out = []
        if series:
            out.append(record(SERIES, _json([[fp, l] for fp, l in series.items()])))
        if fps:
            payload = _COUNT.pack(len(fps)) + fps.tobytes() + ts.tobytes() + values.tobytes()
            out.append(record(SAMPLES, payload))
        if histograms:
            out.append(record(HISTOGRAMS, _json(histograms)))
        if exemplars:
            out.append(record(EXEMPLARS, _json(exemplars)))
        return b"".join(out)

    def replay(self, records: list[tuple[int, bytes]]) -> None:
        for kind, body in records:
            series, cols, hists, exemplars = {}, [array(t) for t in "qqd"], [], []
            if kind == SERIES:
                series = {fp: labels for fp, labels in json.loads(body)}
            elif kind == SAMPLES:
                (n,) = _COUNT.unpack_from(body)
                for i, col in enumerate(cols):
                    off = _COUNT.size + 8 * n * i
                    col.frombytes(body[off : off + 8 * n])
            elif kind == HISTOGRAMS:  # JSON turned the bucket tuples into lists
                hists = [(*r[:7], [tuple(b) for b in r[7]], [tuple(b) for b in r[8]])
                         for r in json.loads(body)]
            elif kind == EXEMPLARS:
                exemplars = [tuple(r) for r in json.loads(body)]
            else:  # BEGIN / DONE: see progress()
                continue
            self.add(series, *cols, hists, exemplars)


def progress(records: list[tuple[int, bytes]]) -> dict[str, int]:
    """How far a sealed segment's commit got: tier name -> its last mark,
    ``BEGIN`` (the append may be partly stored) or ``DONE``."""
    return {body.decode(): kind for kind, body in records if kind in (BEGIN, DONE)}


def _json(obj) -> bytes:
    return json.dumps(obj, separators=(",", ":")).encode()


class WriteAheadLog:
    """The segments of one head, in ``directory`` on the local disk."""

    def __init__(self, directory: str) -> None:
        self.dir = directory
        os.makedirs(directory, exist_ok=True)
        self.open: list[tuple[str, int]] = []  # (path, locked fd), appends go to the last
        self.sealed: list[tuple[str, int]] = []
        for name in sorted(os.listdir(directory)):
            path = os.path.join(directory, name)
            try:
                fd = os.open(path, os.O_WRONLY | os.O_APPEND)
            except FileNotFoundError:  # committed or sealed meanwhile
                continue
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                # its owner may have renamed or deleted it before unlocking
                if os.stat(path).st_ino != os.fstat(fd).st_ino:
                    raise FileNotFoundError(path)
            except (BlockingIOError, FileNotFoundError):  # a live head owns it
                os.close(fd)
                continue
            (self.sealed if name.endswith(SEALED) else self.open).append((path, fd))

    def append(self, data: bytes) -> None:
        """Write ``data`` at the end of the open segment and fsync it."""
        if not self.open:
            name = f"{time.time_ns():020d}-{uuid.uuid4().hex[:8]}"
            path = os.path.join(self.dir, name)
            fd = os.open(path, os.O_WRONLY | os.O_APPEND | os.O_CREAT | os.O_EXCL, 0o644)
            fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            self.open.append((path, fd))
            self._sync_dir()
        fd = self.open[-1][1]
        view = memoryview(data)
        while view:
            view = view[os.write(fd, view) :]
        os.fsync(fd)

    def seal(self) -> list[tuple[str, int]]:
        """Mark every open segment as being committed; returns them."""
        sealed = []
        for path, fd in self.open:
            os.rename(path, path + SEALED)
            sealed.append((path + SEALED, fd))
        self.open = []
        self._sync_dir()
        self.sealed += sealed
        return sealed

    def mark(self, segments: list[tuple[str, int]], kind: int, tier: str) -> None:
        """Record a commit's progress in each of its sealed segments."""
        data = record(kind, tier.encode())
        for _, fd in segments:
            os.write(fd, data)
            os.fsync(fd)

    def release(self, segment: tuple[str, int]) -> None:
        """Delete a committed segment and drop its lock."""
        path, fd = segment
        os.unlink(path)
        os.close(fd)
        self.sealed.remove(segment)

    def close(self) -> None:
        """Drop every lock without deleting anything (process exit)."""
        for _, fd in self.open + self.sealed:
            os.close(fd)
        self.open, self.sealed = [], []

    def _sync_dir(self) -> None:
        fd = os.open(self.dir, os.O_RDONLY)
        try:
            os.fsync(fd)
        finally:
            os.close(fd)
