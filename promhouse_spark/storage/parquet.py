"""SparkParquetStorage — the Spark-native engine backend.

Re-expresses the reference's ClickHouse backend
(``storages/clickhouse/clickhouse.go``) on Parquet + DataFrames:

- write head: ``write()`` runs no Spark job. It fingerprints, diffs the
  series against the hot dict, appends one fsynced record batch to the
  local write-ahead log (``<root>/wal/``, ``storage/wal.py``) and to the
  driver-side head, and acks. ``flush()`` writes the whole head at once:
  one registry append and one samples append per batch instead of three
  Spark jobs per request. It runs when
  the head holds ``HEAD_MAX_SAMPLES`` samples, when its oldest row is
  ``HEAD_MAX_AGE_S`` old (a daemon thread watches the age, so an idle
  writer's last batch still lands), on demand, and before every read
  that scans files. So an ack means "fsynced to the local WAL", where
  the reference acks after its ClickHouse insert commits
  (``clickhouse.go:450-505``); a restart replays the WAL, and a flush cut
  short by a crash resumes at the tier it was appending (``storage/wal.py``);
- ``time_series`` registry: parquet, plus an in-memory fingerprint→labels
  dict as the hot cache with read-your-own-writes
  (``clickhouse.go:51-52,437-447``). The dict is the new-series diff;
  with it off, each flush anti-joins its series against the persisted
  registry instead. Readers collapse duplicate fingerprints that
  concurrent writers leave (the ReplacingMergeTree equivalent,
  ``clickhouse.go:88``);
- ``samples`` fact table: parquet, append-only, partitioned by day
  (``PARTITION BY toDate(timestamp_ms/1000)``, ``clickhouse.go:100``), rows
  sorted by (fingerprint, timestamp_ms) within files for delta-encoding
  compression and row-group min/max pruning (the MergeTree ORDER BY analog,
  ``clickhouse.go:99-101``);
- reads: matcher resolution → IN-list or left-semi strategy at
  ``max_series_inlist`` series (default ``DEFAULT_MAX_SERIES_INLIST`` =
  200; the reference's is 50, ``cmd/promhouse/main.go:198``) →
  group-into-series (``clickhouse.go:235-280``);
- raw-SQL passthrough (``clickhouse.go:372-388``) against the registered
  ``time_series`` / ``samples`` temp views.

Scale notes: all heavy lifting stays in JVM/Tungsten; the head reaches
Spark as one Arrow table per flush. The registry dict is a driver-side
cache of series *cardinality* (not sample volume); for cardinalities
beyond driver memory set ``cache_registry=False`` and series resolution
runs fully distributed (``plans.read.select_series``). A root with no
local directory for the WAL (a JDBC URL, a remote filesystem) has no
head: each ``write()`` commits its own rows before it returns, so its
ack still means "in the store".
"""

from __future__ import annotations

import logging
import os
import threading
import time
import weakref
from array import array
from typing import Sequence
from urllib.parse import urlparse

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from promhouse_spark.functions.fingerprint import fingerprint, to_signed64, to_unsigned64
from promhouse_spark.functions.labels import sort_labels
from promhouse_spark.models import Label, Query, Sample, TimeSeries
from promhouse_spark.plans.read import (
    DEFAULT_MAX_SERIES_INLIST,
    group_into_series,
    restrict_to_series,
    samples_in_range,
    select_series,
)
from promhouse_spark.plans.rawsql import rawsql_text, run_rawsql
from promhouse_spark.schemas import (
    DATE,
    EXEMPLARS_SCHEMA,
    FINGERPRINT,
    HISTOGRAMS_SCHEMA,
    LABELS,
    SAMPLES_DISK_SCHEMA,
    SAMPLES_SCHEMA,
    TIME_SERIES_SCHEMA,
    TIMESTAMP_MS,
    VALUE,
)
from promhouse_spark.storage import fs
from promhouse_spark.storage.base import Storage
from promhouse_spark.storage.wal import (
    BEGIN,
    DONE,
    Head,
    WriteAheadLog,
    progress,
    read_records,
)


#: Cardinality above which the driver-side registry dict auto-disables and
#: series resolution stays distributed (plans.read.select_series). Measured
#: (tools/cardinality_gate.py → tools/cardinality_gate_r11.json, BASELINE.md
#: "registry cardinality" table): the dict costs ~1.2 GB driver RSS per 1M
#: series and the Python matcher pass ~0.7 s per 1M (linear), while the
#: distributed resolution is a ~0.8-2.5 s Spark job roughly independent of
#: cardinality — at 1M the two matcher paths tie (0.62 s vs 0.76 s), at 5M
#: the dict loses outright (3.6 s vs 2.3 s match, 7.5 s vs 2.5 s full read,
#: 5.9 GB RSS, 106 s reload). 2M keeps the driver under ~2.4 GB and inside
#: the regime where the cache still wins.
DEFAULT_REGISTRY_CACHE_MAX_SERIES = 2_000_000

#: The head flushes to parquet once it holds this many samples: Prometheus's
#: remote-write batch of up to 100k samples per send (SURVEY C3) ...
HEAD_MAX_SAMPLES = 100_000
#: ... or once its oldest row is this many seconds old: the sender's batch
#: deadline (C3). Readers flush it regardless.
HEAD_MAX_AGE_S = 5.0

_SAMPLES_ARROW = to_arrow_schema(SAMPLES_SCHEMA)


def _time_window(rows: list[tuple]) -> tuple[int, int]:
    """(min, max) timestamp of head rows keyed (fingerprint, ts, ...)."""
    ts = [r[1] for r in rows]
    return min(ts), max(ts)


def _not_in(df: DataFrame, stored: DataFrame) -> DataFrame:
    """Rows of ``df`` whose (fingerprint, timestamp) ``stored`` lacks."""
    keys = [FINGERPRINT, TIMESTAMP_MS]
    return df.join(stored.select(*keys), keys, "left_anti")


def _time_series(labels: dict, samples=(), histograms=None) -> TimeSeries:
    """A read result series: labels sorted by name, samples from a grouped
    row's (timestamp_ms, value) structs."""
    return TimeSeries(
        labels=[Label(n, v) for n, v in sorted(labels.items())],
        samples=[Sample(value=s[VALUE], timestamp_ms=s[TIMESTAMP_MS]) for s in samples],
        histograms=histograms or [],
    )


def _with_histograms(series, hseries: list[tuple[int, dict, list]]):
    """Float series, as (unsigned fingerprint, TimeSeries) pairs, merged
    with ``histogram_series`` entries, both in unsigned-fingerprint order
    and staying in it: a series in both carries its histograms, and a
    histogram-only series is an entry of its own."""
    hi = 0
    for ufp, ts in series:
        while hi < len(hseries) and hseries[hi][0] < ufp:
            yield _time_series(hseries[hi][1], histograms=hseries[hi][2])
            hi += 1
        if hi < len(hseries) and hseries[hi][0] == ufp:
            ts.histograms = hseries[hi][2]
            hi += 1
        yield ts
    for _, labels, hists in hseries[hi:]:
        yield _time_series(labels, histograms=hists)


def _age_flusher(ref: weakref.ref) -> None:
    """One storage's age rule: flush its head once the oldest row is
    ``HEAD_MAX_AGE_S`` old, with or without further writes. Holds the
    storage only weakly, and exits once the head is empty (the next write
    starts a new one; a failed commit's sealed segment goes in with the
    next flush) or the storage is gone. It starts beside a head that has
    just begun, so it sleeps before its first look: a strong reference
    taken while ``write()`` returns would keep a storage its caller
    dropped alive, with its WAL segment locked against a new instance."""
    wait = HEAD_MAX_AGE_S
    while True:
        time.sleep(max(wait, 0.0))
        storage = ref()
        if storage is None:
            return
        with storage._lock:
            if not storage._head:
                storage._flusher = None
                return
            wait = storage._head.since + HEAD_MAX_AGE_S - time.monotonic()
        if wait <= 0:
            try:
                storage.flush()
            except Exception:  # noqa: BLE001 — the rows stay in a sealed segment
                logging.getLogger(__name__).exception(
                    "head flush failed; its WAL segment stays sealed and the "
                    "next flush commits it"
                )
                wait = HEAD_MAX_AGE_S
        del storage


class SparkParquetStorage(Storage):
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        max_series_inlist: int = DEFAULT_MAX_SERIES_INLIST,
        cache_registry: bool = True,
        registry_cache_max_series: int | None = DEFAULT_REGISTRY_CACHE_MAX_SERIES,
    ) -> None:
        self.spark = spark
        self.root = root
        self.samples_path = os.path.join(root, "samples")
        self.registry_path = os.path.join(root, "time_series")
        self.histograms_path = os.path.join(root, "histograms")
        self.exemplars_path = os.path.join(root, "exemplars")
        self.tombstones_path = os.path.join(root, "tombstones")
        self.max_series_inlist = max_series_inlist
        self.cache_registry = cache_registry
        # user intent, distinct from the effective flag: the reloader flips
        # cache_registry off above the cardinality cutover and back on if
        # retention brings the registry back under it
        self._want_cache = cache_registry
        self.registry_cache_max_series = registry_cache_max_series
        # fingerprint (unsigned) -> labels dict; the reference's in-memory
        # index (clickhouse.go:51-52), refreshed from disk on construction
        # (the 5 s reloader's job, clickhouse.go:155-204).
        self._registry: dict[int, dict[str, str]] = {}
        # the registry tier's _registry_version the dict holds all of:
        # set by reload_registry, advanced past this instance's own appends
        # (see _commit), compared by the reloader
        self._registry_loaded = None
        # the write head and its WAL (storage/wal.py). _lock guards the
        # head and the WAL appends and is never held across a Spark job, so
        # writes ack while a flush runs; _flush_lock serializes commits
        self._lock = threading.Lock()
        self._flush_lock = threading.RLock()
        self._flushing = False
        self._flusher: threading.Thread | None = None
        self._head = Head()
        self._wal = None
        local = urlparse(root)
        if local.scheme in ("", "file"):
            self._wal = WriteAheadLog(os.path.join(local.path, "wal"))
            # a GC'd instance drops its segment locks like a dead process
            weakref.finalize(self, self._wal.close)
            for path, _ in self._wal.open:
                self._head.replay(read_records(path))
            if cache_registry:
                self._registry.update(self._head.series)
            if self._head:
                self._start_flusher()
        self._replayed_segments = (
            len(self._wal.open) + len(self._wal.sealed) if self._wal else 0
        )
        if cache_registry:
            self.reload_registry()

    # ---------------------------------------------------------------- utils

    def _stored(self, path: str) -> bool:
        """Flush the head, then report whether ``path`` holds a tier: the
        check every reader that scans files makes first, so none misses an
        acked row."""
        self.flush()
        return fs.exists(self.spark, path)

    def _read_or_empty(self, path: str, schema) -> DataFrame:
        if not self._stored(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(path)

    def registry_df(self) -> DataFrame:
        df = self._read_or_empty(self.registry_path, TIME_SERIES_SCHEMA)
        # ReplacingMergeTree semantics: collapse duplicate fingerprints that
        # concurrent writers may have appended (clickhouse.go:88).
        return df.dropDuplicates([FINGERPRINT])

    def samples_df(self) -> DataFrame:
        if not self._stored(self.samples_path):
            return self.spark.createDataFrame([], SAMPLES_SCHEMA)
        # the on-disk schema is fixed: declaring it skips the footer-read
        # job Spark's parquet schema inference runs on every scan build
        return self._apply_tombstones(
            self.spark.read.schema(SAMPLES_DISK_SCHEMA).parquet(self.samples_path)
        )

    def tombstones_df(self) -> DataFrame:
        """Pending delete intervals: (fingerprint, min_ms, max_ms) — the
        Prometheus-TSDB tombstone model (public tsdb/tombstones): a delete
        marks, a later clean rewrites. Empty frame when none pending."""
        from pyspark.sql.types import LongType, StructField, StructType

        schema = StructType(
            [
                StructField(FINGERPRINT, LongType(), False),
                StructField("min_ms", LongType(), False),
                StructField("max_ms", LongType(), False),
            ]
        )
        if not fs.exists(self.spark, self.tombstones_path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(self.tombstones_path)

    def _apply_tombstones(self, df: DataFrame) -> DataFrame:
        """Mask tombstoned (fingerprint, time-range) cells out of a fact
        frame. Equi-keyed left-anti join on fingerprint with the interval
        test as the residual condition — Catalyst auto-broadcasts the
        (normally tiny) tombstone side, so the mask costs one hash probe
        per fact row and adds NO shuffle; a pathologically large pending
        delete set degrades to a sort-merge anti-join instead of OOMing
        the driver. When no deletes are pending the frame passes through
        untouched (zero plan change for the common case)."""
        from promhouse_spark.plans.read import apply_tombstones

        if not fs.exists(self.spark, self.tombstones_path):
            return df
        return apply_tombstones(df, self.tombstones_df())

    def _write_histograms(self, hdf: DataFrame) -> None:
        """Persist one write-batch of native-histogram rows
        (HISTOGRAMS_SCHEMA, no date column). The chunked tier overrides
        this with histogram-chunk encoding (at-rest ≡ wire)."""
        (
            hdf.withColumn(
                DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS)))
            )
            .sortWithinPartitions(FINGERPRINT, TIMESTAMP_MS)
            .write.partitionBy(DATE)
            .mode("append")
            .parquet(self.histograms_path)
        )

    def has_histograms(self) -> bool:
        """True when the native-histogram tier holds data — the seam the
        HTTP layer and read attachment check (the chunked tier stores
        histograms under a different layout/path)."""
        return self._stored(self.histograms_path)

    def histograms_df(self) -> DataFrame:
        if not self._stored(self.histograms_path):
            return self.spark.createDataFrame([], HISTOGRAMS_SCHEMA)
        return self._apply_tombstones(self.spark.read.parquet(self.histograms_path))

    def histograms_range_df(self, start_ms: int, end_ms: int) -> DataFrame:
        """Time-bounded histogram frame — the pruning seam: the flat tier
        filters rows (+ the derived date predicate for partition
        pruning); the chunked tier prunes whole chunks by envelope BEFORE
        its decode barrier."""
        return samples_in_range(self.histograms_df(), start_ms, end_ms)

    def read_histograms(self, query) -> DataFrame:
        """Native-histogram read: the same matcher-resolution +
        partition-pruned time-range shape as the float-sample path (F2 +
        J1/J2), returning the labelled columnar frame
        operators/nativehist.wire_hist_quantile consumes."""
        matched = select_series(self.registry_df(), query.matchers)
        hf = self.histograms_range_df(query.start_ms, query.end_ms)
        hf = restrict_to_series(hf, matched.select(FINGERPRINT))
        return hf.join(matched, FINGERPRINT).select(
            LABELS,
            TIMESTAMP_MS,
            "schema",
            "zero_threshold",
            "zero_count",
            "count",
            "sum",
            "positive",
            "negative",
        )

    def exemplars_df(self) -> DataFrame:
        if not self._stored(self.exemplars_path):
            return self.spark.createDataFrame([], EXEMPLARS_SCHEMA)
        return self._apply_tombstones(self.spark.read.parquet(self.exemplars_path))

    def read_exemplars(self, query) -> DataFrame:
        """Exemplar read (web/api/v1 query_exemplars shape): matcher
        resolution + partition-pruned time range, labelled with the owning
        series' labels. Same F2 + J1/J2 plan as the float path."""
        matched = select_series(self.registry_df(), query.matchers)
        ef = samples_in_range(self.exemplars_df(), query.start_ms, query.end_ms)
        ef = restrict_to_series(ef, matched.select(FINGERPRINT))
        return ef.join(matched, FINGERPRINT).select(
            LABELS, TIMESTAMP_MS, VALUE, "exemplar_labels"
        )

    def reload_registry(self) -> None:
        """S7: re-read the registry into the in-memory index
        (``SELECT DISTINCT fingerprint, labels``, ``clickhouse.go:159``).

        High-cardinality guard: a parquet-footer count runs first (cheap —
        no row materialization) and when the registry exceeds
        ``registry_cache_max_series`` the dict cache auto-disables instead
        of collecting millions of label maps to the driver. Every read
        path already degrades: matcher resolution runs distributed
        (``plans.read.select_series``), the streamed chunked read joins
        labels onto the frame distributed-side, and the iter_series fast
        path steps aside for the materialized read. The flag flips back
        on a later reload if retention brings cardinality under the
        cutover. Pass ``registry_cache_max_series=None`` to force the
        reference-parity always-cache behavior."""
        if not self._want_cache:
            # constructed cache-off: a stray reload (manual or reloader)
            # must not build the dict behind the caller's back
            self.cache_registry = False
            self._registry = {}
            return
        # the read below covers this version; appends of this instance's own
        # during its flush advance it (_commit)
        self._registry_loaded = self._registry_version()
        try:
            reg = self.registry_df().select(FINGERPRINT, LABELS)
            cap = self.registry_cache_max_series
            n = 0 if cap is None else reg.count()
            rows = None if cap is not None and n > cap else reg.collect()
        except BaseException:
            self._registry_loaded = None
            raise
        if rows is None:
            if self.cache_registry:
                logging.getLogger(__name__).warning(
                    "registry cardinality %d > %d: driver-side registry "
                    "cache disabled, series resolution stays distributed",
                    n,
                    cap,
                )
            self.cache_registry = False
            self._registry = {}
            return
        merged = {to_unsigned64(r[FINGERPRINT]): dict(r[LABELS]) for r in rows}
        # keep read-your-own-writes for series written after the scan started
        with self._lock:
            merged.update(self._registry)
            self._registry = merged
        self.cache_registry = self._want_cache

    def _registry_version(self):
        """What changes when the registry tier gains a file — its file count
        and bytes — or None where no cheap check exists (reload always)."""
        return fs.content_summary(self.spark, self.registry_path)

    def start_reloader(self, interval_seconds: float = 5.0):
        """Background registry refresh (the reference's 5 s reloader
        goroutine, ``clickhouse.go:146-204``) — converges series written by
        other engine instances sharing the same storage root. A tick
        reloads only when ``_registry_version`` moved past what the dict
        holds, so a store no other instance appends to runs no Spark job.
        The loop holds the storage weakly and ends once it is dropped.
        Returns a ``threading.Event``; set it to stop the loop."""
        stop = threading.Event()
        ref = weakref.ref(self)

        def loop() -> None:
            while not stop.wait(interval_seconds):
                storage = ref()
                if storage is None:
                    return
                try:
                    version = storage._registry_version()
                    if version is None or version != storage._registry_loaded:
                        storage.reload_registry()
                except Exception:  # noqa: BLE001 — keep refreshing (logged upstream)
                    pass
                del storage

        threading.Thread(target=loop, daemon=True, name="registry-reloader").start()
        return stop

    # ---------------------------------------------------------------- write

    def write(self, timeseries: Sequence[TimeSeries]) -> None:
        """O6 (``clickhouse.go:423-512``): canonicalize → fingerprint →
        registry diff against the hot dict → one fsynced WAL append → the
        head; returns (acks) without running Spark. :meth:`flush` writes
        the head to parquet once per batch, registry before samples
        (readers must always resolve labels, SURVEY §3.2). A root with no
        local WAL directory (a JDBC URL, a remote filesystem) commits this
        write's rows alone before returning, so its ack still means "in
        the store", and a failed commit leaves the hot dict untouched for
        the sender's retry."""
        if not timeseries:
            return
        new_series: dict[int, dict[str, str]] = {}
        fps, tss, vals = array("q"), array("q"), array("d")
        hist_rows: list[tuple] = []
        exemplar_rows: list[tuple] = []
        # cache off: the dict is empty, so every series not already in the
        # head is new, and the flush anti-joins them against the registry
        known = self._registry if self.cache_registry else self._head.series
        for ts in timeseries:
            labels = sort_labels(ts.labels)  # clickhouse.go:428
            fp = fingerprint((l.name, l.value) for l in labels)
            if fp not in known and fp not in new_series:
                new_series[fp] = {l.name: l.value for l in labels}
            sfp = to_signed64(fp)
            # Coerce at the boundary: protocol callers may hand ints where the
            # schema says float64 (and vice versa for timestamps).
            for s in ts.samples:
                fps.append(sfp)
                tss.append(int(s.timestamp_ms))
                vals.append(float(s.value))
            hist_rows.extend(
                (
                    sfp,
                    int(h.timestamp_ms),
                    int(h.schema),
                    float(h.zero_threshold),
                    float(h.zero_count),
                    float(h.count),
                    float(h.sum),
                    [(int(i), float(c)) for i, c in sorted(h.positive)],
                    [(int(i), float(c)) for i, c in sorted(h.negative)],
                )
                for h in getattr(ts, "histograms", ()) or ()
            )
            exemplar_rows.extend(
                (
                    sfp,
                    int(e.timestamp_ms),
                    float(e.value),
                    {l.name: l.value for l in e.labels},
                )
                for e in getattr(ts, "exemplars", ()) or ()
            )
        rows = (new_series, fps, tss, vals, hist_rows, exemplar_rows)
        if self._wal is None:
            head = Head()
            head.add(*rows)
            with self._flush_lock:
                self._commit(head)
            if self.cache_registry:
                with self._lock:
                    self._registry.update(new_series)
            return
        with self._lock:
            self._wal.append(Head.records(*rows))
            self._head.add(*rows)
            if self.cache_registry:  # read-your-own-writes via the hot dict
                self._registry.update(new_series)
            if self._flusher is None:
                self._start_flusher()
            full = len(self._head.fps) >= HEAD_MAX_SAMPLES
        if full:  # the writer waits for this flush: backpressure on the head
            try:
                self.flush()
            except Exception:  # noqa: BLE001 — the rows are in the WAL already
                logging.getLogger(__name__).exception(
                    "head flush failed; its WAL segment stays sealed and the "
                    "next flush commits it"
                )

    def _start_flusher(self) -> None:
        self._flusher = threading.Thread(
            target=_age_flusher, args=(weakref.ref(self),), daemon=True,
            name="head-flusher",
        )
        self._flusher.start()

    def flush(self) -> None:
        """Write the head to parquet: seal its WAL segment, append the new
        series through ``_append_registry`` and the samples through
        ``ingest_df`` (one job each, plus the sidecars), then delete the
        segment. Sealed segments left by a crash or a failed flush are
        committed first, from the tier their commit reached. Writes keep
        acking into a fresh head meanwhile. Every reader calls this before
        it scans; on an empty head it returns without a filesystem call or
        a Spark job."""
        if not self._head and not (self._wal and self._wal.sealed):
            return
        with self._flush_lock:
            if self._flushing:  # a reader inside this flush's own commit
                return
            self._flushing = True
            try:
                for seg in list(self._wal.sealed):
                    records = read_records(seg[0])
                    head = Head()
                    head.replay(records)
                    self._commit(head, [seg], progress(records))
                    self._wal.release(seg)
                with self._lock:
                    sealed = self._wal.seal() if self._head else []
                    head, self._head = self._head, Head()
                if head:
                    self._commit(head, sealed)
                    for seg in sealed:
                        self._wal.release(seg)
            finally:
                self._flushing = False

    def _commit(self, head: Head, segments=(), marks: dict | None = None) -> None:
        """Append one head to the store, tier by tier, recording each
        tier's start and end in the head's sealed WAL ``segments``.
        ``marks`` is what a recovered segment recorded before its process
        died: a tier marked done is skipped, one never begun is appended
        whole, and only one whose append was cut short goes in minus the
        (fingerprint, timestamp) keys the store already holds within the
        head's series and time window. Only that last case can merge a
        re-sent row into an identical stored one."""
        marks = marks or {}

        def tier(name, df, missing, write) -> None:
            if marks.get(name) == DONE:
                return
            if marks.get(name) == BEGIN:  # cut short: part may be stored
                df = missing(df)
            if segments:
                self._wal.mark(segments, BEGIN, name)
            write(df)
            if segments:
                self._wal.mark(segments, DONE, name)

        def series() -> list[int]:
            return list({*head.fps, *(r[0] for r in head.histograms + head.exemplars)})

        if head.series:
            reg_df = (
                self.spark.createDataFrame(
                    [(to_signed64(fp), labels) for fp, labels in head.series.items()],
                    f"{FINGERPRINT} long, {LABELS} map<string,string>",
                )
                .withColumn(DATE, F.current_date())
                .select(DATE, FINGERPRINT, LABELS)
            )

            def new_series(df: DataFrame) -> DataFrame:
                return df.join(
                    self._existing_fingerprints(), FINGERPRINT, "left_anti"
                ).select(DATE, FINGERPRINT, LABELS)

            if not self.cache_registry:
                # no hot dict to diff against: drop the persisted series once
                # per flush (ReplacingMergeTree-style, A3)
                reg_df = new_series(reg_df)
            # new series are a small table: one registry file per flush
            def append_registry(df: DataFrame) -> None:
                before = self._registry_version() if self._registry_loaded else None
                self._append_registry(df.coalesce(1))
                if before is not None and before == self._registry_loaded:
                    after = self._registry_version()
                    # our file and nothing else (a first append also writes
                    # the _SUCCESS marker): the dict holds its series
                    # already, so the reloader need not read them again
                    if after[0] == before[0] + (1 if before[0] else 2):
                        self._registry_loaded = after

            tier("registry", reg_df, new_series, append_registry)
        if head.fps:
            df = self.spark.createDataFrame(
                pa.table(
                    [
                        np.frombuffer(head.fps, np.int64),
                        np.frombuffer(head.ts, np.int64),
                        np.frombuffer(head.values, np.float64),
                    ],
                    schema=_SAMPLES_ARROW,
                )
            )
            # Arrow arrives as one partition per 10k-row batch: write at most
            # one file per core per flush, as many as reads scan in parallel
            par = self.spark.sparkContext.defaultParallelism
            tier(
                "samples", df,
                lambda df: _not_in(df, self._restricted_scan(
                    self.samples_df(), Query(min(head.ts), max(head.ts), ()), series()
                )),
                lambda df: self.ingest_df(df.coalesce(par)),
            )
        if head.histograms:
            tier(
                "histograms",
                self.spark.createDataFrame(head.histograms, HISTOGRAMS_SCHEMA),
                lambda df: _not_in(df, restrict_to_series(
                    self.histograms_range_df(*_time_window(head.histograms)),
                    series(), self.max_series_inlist,
                )),
                self._write_histograms,
            )
        if head.exemplars:
            tier(
                "exemplars",
                self.spark.createDataFrame(head.exemplars, EXEMPLARS_SCHEMA),
                lambda df: _not_in(df, restrict_to_series(
                    samples_in_range(self.exemplars_df(), *_time_window(head.exemplars)),
                    series(), self.max_series_inlist,
                )),
                self._append_exemplars,
            )

    def _append_exemplars(self, edf: DataFrame) -> None:
        (
            edf.withColumn(DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS))))
            .sortWithinPartitions(FINGERPRINT, TIMESTAMP_MS)
            .write.partitionBy(DATE)
            .mode("append")
            .parquet(self.exemplars_path)
        )

    def wal_replay_status(self) -> dict:
        """``/api/v1/status/walreplay``: the WAL segments this instance
        claimed at start (open ones replayed into the head, sealed ones
        re-committed). Replay runs inside the constructor, so it is done
        by the time anything can ask."""
        n = self._replayed_segments
        return {"min": 1 if n else 0, "max": n, "current": n, "state": "done"}

    def _existing_fingerprints(self) -> DataFrame:
        """Persisted fingerprints (for the new-series anti-join) — the
        backend-specific seam JdbcStorage overrides."""
        return self._read_or_empty(self.registry_path, TIME_SERIES_SCHEMA).select(
            FINGERPRINT
        )

    def _append_registry(self, reg_df: DataFrame) -> None:
        """Persist new registry rows (DATE, FINGERPRINT, LABELS-map) — the
        backend-specific seam JdbcStorage overrides."""
        reg_df.write.mode("append").parquet(self.registry_path)

    def ingest_df(self, samples_df: DataFrame, files_per_day: int | None = None) -> None:
        """Bulk/streaming samples append: derive the day partition, cluster
        rows by (fingerprint, ts) within partitions (compression + row-group
        pruning), append. No sample dedup — append-only by contract.

        ``files_per_day`` consolidates output files per day partition —
        without it, every upstream partition × day combination writes its
        own (possibly tiny) file. Use for bulk loads/compaction; leave None
        for latency-sensitive micro-batches (compact later)."""
        df = samples_df.withColumn(
            DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS)))
        )
        if files_per_day:
            # hash-cluster on (day, series-bucket): each day lands in exactly
            # files_per_day cells, so partitionBy(DATE) emits that many files
            df = df.repartition(
                max(files_per_day * 8, 200),
                F.col(DATE),
                F.pmod(F.col(FINGERPRINT), F.lit(files_per_day)),
            )
        (
            df.sortWithinPartitions(FINGERPRINT, TIMESTAMP_MS)
            .write.partitionBy(DATE)
            .mode("append")
            .parquet(self.samples_path)
        )

    def compact_samples(self, files_per_day: int = 1) -> None:
        """Rewrite the fact table with consolidated, fully-clustered files —
        the MergeTree background-merge equivalent. Run out-of-band.

        WARNING: a live rollup stream (``streaming/rollup.py``) tracks
        consumed sample *files*; compaction rewrites them, so the rewritten
        files would be re-ingested as new data (double-counted partials).
        Stop the rollup stream and reset its checkpoint (or compact the
        rollup from scratch afterwards) around a samples compaction."""
        if not self._stored(self.samples_path):
            return  # nothing ingested yet
        old = self.samples_path + ".old"
        if fs.exists(self.spark, old):
            # Hadoop rename into an existing dir NESTS src inside dst (mv
            # semantics) — a stale .old from a crashed run would silently
            # swallow the live table on the next swap. Fail loudly instead.
            raise RuntimeError(
                f"stale {old} exists — previous compaction crashed mid-swap; "
                "inspect/remove it before compacting again"
            )
        current = self.samples_df().select(FINGERPRINT, TIMESTAMP_MS, VALUE)
        tmp = self.samples_path + ".compact"
        (
            current.withColumn(
                DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS)))
            )
            .repartition(
                max(files_per_day * 8, 200),
                F.col(DATE),
                F.pmod(F.col(FINGERPRINT), F.lit(files_per_day)),
            )
            .sortWithinPartitions(FINGERPRINT, TIMESTAMP_MS)
            .write.partitionBy(DATE)
            .mode("overwrite")
            .parquet(tmp)
        )
        # swap via rename-aside so a crash between steps leaves the old table
        # recoverable (never delete the live table first); Hadoop FS renames
        # are atomic on HDFS/POSIX — see storage/fs.py for the object-store
        # caveat under this method's single-writer contract
        fs.rename(self.spark, self.samples_path, old)
        fs.rename(self.spark, tmp, self.samples_path)
        fs.delete(self.spark, old)

    def retention_sweep(
        self, keep_days: int, now_ms: int | None = None
    ) -> list[str]:
        """Drop whole ``date=`` partitions of the fact table older than
        ``now - keep_days`` — the ClickHouse ``ALTER TABLE … DROP
        PARTITION`` / table-TTL analog for the date-partitioned layout
        (`clickhouse.go:70` partitions samples by date for exactly this).

        O(#partitions) filesystem metadata ops through the Hadoop FS API —
        no data scan, no rewrite; works unchanged on HDFS/object stores.
        The registry is deliberately untouched: series identity outlives
        its samples (matching the reference, which never deletes from
        ``time_series``), and a later write to an old series needs no
        re-registration. Returns the dropped partition names.
        """
        import datetime as _dt
        import time as _time

        if now_ms is None:
            now_ms = int(_time.time() * 1000)
        cutoff = _dt.datetime.fromtimestamp(
            (now_ms - keep_days * 86_400_000) / 1000.0, tz=_dt.timezone.utc
        ).date()
        dropped: list[str] = []
        # sweep every date-partitioned tier the same way: samples plus the
        # native-histogram and exemplar sidecars (exemplars especially are
        # high-churn short-retention data in production Prometheus)
        for root in self._date_partitioned_tiers():
            if not self._stored(root):
                continue
            for name in fs.list_names(self.spark, root):
                if not name.startswith(f"{DATE}="):
                    continue  # _SUCCESS markers etc.
                try:
                    part_date = _dt.date.fromisoformat(name.split("=", 1)[1])
                except ValueError:
                    continue
                if part_date < cutoff:
                    fs.delete(self.spark, os.path.join(root, name))
                    dropped.append(name)
        return dropped

    def _date_partitioned_tiers(self) -> tuple[str, ...]:
        """Every date-partitioned tier retention must sweep — subclasses
        with extra tiers (the chunked layout) extend this."""
        return (self.samples_path, self.histograms_path, self.exemplars_path)

    # ------------------------------------------------------- admin (TSDB)

    def delete_series(
        self,
        matchers,
        start_ms: int | None = None,
        end_ms: int | None = None,
    ) -> int:
        """Prometheus admin ``delete_series`` semantics (public web/api/v1
        + tsdb/tombstones model): resolve matchers against the registry,
        append one (fingerprint, min_ms, max_ms) tombstone per matched
        series, and let every read path mask the interval immediately; the
        bytes are reclaimed later by :meth:`clean_tombstones`. The registry
        itself is untouched — series identity outlives its samples, exactly
        as the reference never deletes from ``time_series``.

        Scale: resolution and the tombstone append are both distributed
        (no driver-side collect of the matched set); a matcher hitting
        millions of series writes millions of 24-byte rows, not samples.
        Returns the number of series tombstoned.
        """
        matched = select_series(self.registry_df(), matchers).select(FINGERPRINT)
        lo = -(2**62) if start_ms is None else int(start_ms)
        hi = (2**62) if end_ms is None else int(end_ms)
        t = matched.withColumn("min_ms", F.lit(lo).cast("long")).withColumn(
            "max_ms", F.lit(hi).cast("long")
        )
        n = matched.count()
        if n:
            t.coalesce(1).write.mode("append").parquet(self.tombstones_path)
        return n

    def clean_tombstones(self, files_per_day: int = 1) -> dict[str, int]:
        """Apply pending tombstones physically and clear them — the
        Prometheus ``clean_tombstones`` analog, done the columnar way:
        rewrite ONLY the day partitions that actually intersect a pending
        delete (partition-pruned by the tombstones' global time bounds,
        then narrowed by a distributed semi-join), leaving the rest of a
        100 TB table's partitions untouched. Affected partitions come back
        consolidated and re-clustered by (fingerprint, ts), so a clean
        doubles as local compaction. Returns {tier: partitions rewritten}.

        Same single-writer/offline contract as :meth:`compact_samples`
        (partition swaps are rename-based).
        """
        if not self._stored(self.tombstones_path):
            return {}
        t = self.tombstones_df().select(
            F.col(FINGERPRINT).alias("__t_fp"), "min_ms", "max_ms"
        )
        bounds = t.agg(
            F.min("min_ms").alias("lo"), F.max("max_ms").alias("hi")
        ).first()
        # Clamp the unbounded-delete sentinels (±2^62) into timestamp_millis'
        # domain (ms→µs multiply overflows int64 beyond ~±2^53 ms anyway);
        # ±4e15 ms is ±125k years — outside any real partition.
        lo_ms = max(int(bounds["lo"]), -4_000_000_000_000_000)
        hi_ms = min(int(bounds["hi"]), 4_000_000_000_000_000)
        rewritten: dict[str, int] = {}
        for root in (self.samples_path, self.histograms_path, self.exemplars_path):
            if not fs.exists(self.spark, root):
                continue
            raw = self.spark.read.parquet(root)
            if DATE not in raw.columns:
                continue
            # partition-prune to the tombstones' global envelope first —
            # a bounded delete never scans partitions outside its window
            cand = raw.filter(
                (F.col(DATE) >= F.to_date(F.timestamp_millis(F.lit(lo_ms))))
                & (F.col(DATE) <= F.to_date(F.timestamp_millis(F.lit(hi_ms))))
            )
            cond = (
                (cand[FINGERPRINT] == t["__t_fp"])
                & (cand[TIMESTAMP_MS] >= t["min_ms"])
                & (cand[TIMESTAMP_MS] <= t["max_ms"])
            )
            affected = [
                r[DATE]
                for r in cand.join(t, cond, "left_semi").select(DATE).distinct().collect()
            ]
            if not affected:
                continue
            keep = cand.filter(F.col(DATE).isin(affected))
            cond2 = (
                (keep[FINGERPRINT] == t["__t_fp"])
                & (keep[TIMESTAMP_MS] >= t["min_ms"])
                & (keep[TIMESTAMP_MS] <= t["max_ms"])
            )
            surviving = keep.join(t, cond2, "left_anti")
            tmp = root + ".clean"
            if fs.exists(self.spark, tmp):
                raise RuntimeError(
                    f"stale {tmp} exists — previous clean crashed mid-swap; "
                    "inspect/remove it before cleaning again"
                )
            (
                surviving.repartition(
                    max(files_per_day * len(affected), 1),
                    F.col(DATE),
                    F.pmod(F.col(FINGERPRINT), F.lit(files_per_day)),
                )
                .sortWithinPartitions(FINGERPRINT, TIMESTAMP_MS)
                .write.partitionBy(DATE)
                .mode("overwrite")
                .parquet(tmp)
            )
            for d in affected:
                part = f"{DATE}={d.isoformat()}"
                fs.delete(self.spark, os.path.join(root, part))
                if fs.exists(self.spark, os.path.join(tmp, part)):
                    fs.rename(
                        self.spark,
                        os.path.join(tmp, part),
                        os.path.join(root, part),
                    )
                # else: the whole partition was deleted — stays dropped
            fs.delete(self.spark, tmp)
            if not any(
                n.startswith(f"{DATE}=") for n in fs.list_names(self.spark, root)
            ):
                # every partition of this tier was deleted — drop the root so
                # readers take the empty-frame path instead of failing schema
                # inference on a partitionless directory
                fs.delete(self.spark, root)
            rewritten[os.path.basename(root)] = len(affected)
        fs.delete(self.spark, self.tombstones_path)
        return rewritten

    def snapshot(self, name: str | None = None) -> str:
        """Copy every tier (registry, facts, sidecars, pending tombstones)
        into ``<root>/snapshots/<name>`` — the Prometheus admin ``snapshot``
        analog. Copies go to a staging dir first and rename into place, so
        a crashed snapshot never looks complete. Returns the snapshot name.

        O(bytes) copy through the Hadoop FS API (works on HDFS/object
        stores); on snapshot-capable stores mount the result read-only —
        the engine can open it directly as a storage root.
        """
        import time as _time
        import uuid as _uuid

        if name is None:
            name = (
                _time.strftime("%Y%m%dT%H%M%SZ", _time.gmtime())
                + "-"
                + _uuid.uuid4().hex[:8]
            )
        dest = os.path.join(self.root, "snapshots", name)
        if fs.exists(self.spark, dest):
            raise ValueError(f"snapshot {name!r} already exists")
        staging = dest + ".tmp"
        fs.delete(self.spark, staging)
        fs.mkdirs(self.spark, staging)
        for sub in ("time_series", "samples", "histograms", "exemplars", "tombstones"):
            src = os.path.join(self.root, sub)
            if self._stored(src):
                fs.copy(self.spark, src, os.path.join(staging, sub))
        fs.rename(self.spark, staging, dest)
        return name

    # ----------------------------------------------------------------- read

    def _registry_snapshot(self) -> dict[int, dict[str, str]]:
        """A copy of the hot dict, taken under ``_lock``, which every writer
        holds while it adds series: a pass over the copy cannot break on a
        concurrent write. The copy holds the lock for ~5 ms per 100k
        series (~0.11 s at the 2M-series cache cutover)."""
        with self._lock:
            return self._registry.copy()

    def _resolve_series(
        self, q: Query, registry: dict[int, dict[str, str]] | None = None
    ) -> list[tuple[int, dict[str, str]]]:
        """O2: (signed fingerprint, labels) of every series ``q`` matches.
        Against the hot cache — ``registry`` (a snapshot of the dict) or a
        fresh snapshot — when Python reads each of its regexes exactly as
        Java does (``Query.java_exact``); else over ``registry_df()`` with
        Java's matcher, as PromQL's distributed selection does, so remote
        read answers one dialect whatever the registry's size."""
        if not q.java_exact():
            rows = select_series(self.registry_df(), q.matchers).collect()
            return [(r[FINGERPRINT], dict(r[LABELS])) for r in rows]
        if registry is None:
            registry = self._registry_snapshot()
        return [
            (to_signed64(fp), labels)
            for fp, labels in registry.items()
            if q.matches(labels)
        ]

    def _resolve_fingerprints(self, q: Query) -> list[int]:
        """O2 against the hot cache (signed fingerprints)."""
        return [fp for fp, _ in self._resolve_series(q)]

    def attach_rollup(self, rollup_path: str, step_ms: int) -> None:
        """Register a continuously-maintained rollup table
        (``streaming/rollup.py`` partials format) so hint-aware reads can
        serve coarse queries without scanning raw samples."""
        self._rollup_path = rollup_path
        self._rollup_step_ms = step_ms

    #: PromQL functions the rollup can answer faithfully, mapped to the
    #: merged-rollup column whose one-value-per-window is exactly what the
    #: function would compute over the window. rate/increase/delta & friends
    #: are deliberately ABSENT: they need raw intra-window timestamps and
    #: counter resets, so serving them downsampled would silently corrupt
    #: client-side math — those always take the raw path. count_over_time
    #: and avg_over_time are ABSENT for the same composition reason (ADVICE
    #: r2): a real client re-applies the function over the returned samples,
    #: and count over one-sample-per-window windows counts windows (not raw
    #: samples) while avg-of-window-avgs is wrong when window sample counts
    #: differ. min/max/sum/last compose (f(f(w1), f(w2)) == f(raw)); count
    #: and avg do not.
    ROLLUP_SERVABLE_FUNCS = {
        "": "last_value",  # instant vector selector: step-sampled last value
        "last_over_time": "last_value",
        "min_over_time": "min_value",
        "max_over_time": "max_value",
        "sum_over_time": "sum_value",
    }

    def read_with_hints(
        self, queries: Sequence[Query], hints: Sequence[dict | None]
    ) -> list[list[TimeSeries]]:
        """Hint-aware read: queries whose ``step_ms`` hint is at least the
        attached rollup resolution AND whose ``func`` hint the rollup can
        answer faithfully (:data:`ROLLUP_SERVABLE_FUNCS`) are served from the
        rollup (one sample per window, stamped at the window start) — the
        upgrade the reference leaves on its roadmap (it logs-and-drops hints,
        handlers/prom.go:184-186). Everything else — finer steps, hint-less
        queries, and crucially rate()/increase()/delta() — takes the raw
        path, because those funcs need intra-window timestamps and counter
        resets that downsampling destroys."""
        rollup_path = getattr(self, "_rollup_path", None)
        step = getattr(self, "_rollup_step_ms", None)
        results: list[list[TimeSeries] | None] = [None] * len(queries)
        raw_queries: list[tuple[int, Query]] = []
        rollup_ready = (
            rollup_path is not None
            and fs.exists(self.spark, rollup_path)  # stream may not have written yet
            and self.cache_registry  # series resolution needs the hot dict
        )
        for i, q in enumerate(queries):
            h = hints[i] if i < len(hints) else None
            if (
                rollup_ready
                and h
                and h.get("step_ms", 0) >= (step or 0) > 0
                and h.get("func", "") in self.ROLLUP_SERVABLE_FUNCS
            ):
                results[i] = self._read_from_rollup(
                    q, self.ROLLUP_SERVABLE_FUNCS[h.get("func", "")]
                )
            else:
                raw_queries.append((i, q))
        if raw_queries:
            raw_results = self.read([q for _, q in raw_queries])
            for (i, _), res in zip(raw_queries, raw_results):
                results[i] = res
        return [r if r is not None else [] for r in results]

    def _read_from_rollup(self, q: Query, value_col: str = "last_value") -> list[TimeSeries]:
        from promhouse_spark.streaming.rollup import merge_rollup

        fps = self._resolve_fingerprints(q)
        if not fps:
            return []
        partials = self.spark.read.parquet(self._rollup_path)
        windowed = partials.filter(
            (F.col("window_start_ms") >= q.start_ms)
            & (F.col("window_start_ms") <= q.end_ms)
        )
        restricted = restrict_to_series(windowed, fps, self.max_series_inlist)
        rows = merge_rollup(restricted).collect()
        rows.sort(key=lambda r: (to_unsigned64(r[FINGERPRINT]), r["window_start_ms"]))
        out: dict[int, TimeSeries] = {}
        for r in rows:
            fp = r[FINGERPRINT]
            ts = out.get(fp)
            if ts is None:
                labels = self._registry.get(to_unsigned64(fp), {})
                ts = TimeSeries(
                    labels=[Label(n, v) for n, v in sorted(labels.items())], samples=[]
                )
                out[fp] = ts
            ts.samples.append(
                Sample(value=float(r[value_col]), timestamp_ms=r["window_start_ms"])
            )
        return list(out.values())

    def distributed_read_plan(self, q: Query, samples=None):
        """Build the fully-distributed read plan for one query: matcher
        filter on the registry DF, semi-join restriction, group-into-series,
        label attach (J5). No forced broadcast anywhere — this branch exists
        for registries beyond driver memory, and an empty-matcher select-all
        makes the matched set the whole registry; AQE picks broadcast vs
        shuffle from runtime sizes (asserted on the plan in test_plans.py)."""
        if samples is None:
            samples = self.samples_df()
        series = select_series(self.registry_df(), q.matchers)
        restricted = restrict_to_series(
            samples_in_range(samples, q.start_ms, q.end_ms), series
        )
        return group_into_series(restricted).join(series, FINGERPRINT, "inner")

    def _histograms_for(self, q: Query, fps=None) -> list[tuple]:
        """(fingerprint, labels, NativeHistogram) rows in range for
        read() attachment — empty when the tier is absent. Bounded by
        matched native-series cardinality (API-edge contract).

        ``fps``: the fingerprints a cached-registry caller (``read``,
        ``iter_series``) already resolved — the matchers are not resolved
        again and labels come from the registry cache, so no Java regex
        or distributed matcher error can fire from inside a streaming
        generator after response headers are out."""
        if not self.has_histograms():
            return []
        hf = self.histograms_range_df(q.start_ms, q.end_ms)
        if fps is not None:
            if not fps:
                return []
            hf = restrict_to_series(hf, fps, self.max_series_inlist)
            rows = hf.collect()
            rows.sort(
                key=lambda r: (to_unsigned64(r[FINGERPRINT]), r[TIMESTAMP_MS])
            )
            return [
                (
                    r[FINGERPRINT],
                    dict(self._registry.get(to_unsigned64(r[FINGERPRINT]), {})),
                    self._histogram_from_row(r),
                )
                for r in rows
            ]
        matched = select_series(self.registry_df(), q.matchers)
        hf = restrict_to_series(hf, matched.select(FINGERPRINT))
        rows = hf.join(matched, FINGERPRINT).collect()
        rows.sort(key=lambda r: (to_unsigned64(r[FINGERPRINT]), r[TIMESTAMP_MS]))
        return [
            (r[FINGERPRINT], dict(r[LABELS]), self._histogram_from_row(r))
            for r in rows
        ]

    @staticmethod
    def _histogram_from_row(r):
        from promhouse_spark.models import NativeHistogram

        return NativeHistogram(
            timestamp_ms=r[TIMESTAMP_MS],
            count=r["count"],
            sum=r["sum"],
            schema=r["schema"],
            zero_threshold=r["zero_threshold"],
            zero_count=r["zero_count"],
            positive=[(b["idx"], b["cnt"]) for b in r["positive"]],
            negative=[(b["idx"], b["cnt"]) for b in r["negative"]],
        )

    def histogram_series(self, q: Query, fps=None) -> list[tuple[int, dict, list]]:
        """One query's native-histogram data grouped per series, in
        unsigned-fingerprint order: ``[(ufp, labels_dict,
        [NativeHistogram...])]`` with each series' histograms
        timestamp-sorted. The streamed remote-read path merges this
        (driver-resident, bounded by matched native-series cardinality —
        the `_histograms_for` API-edge contract) against its
        fingerprint-ordered float stream so histogram series ride the
        chunked response instead of forcing a sampled fallback."""
        out: list[tuple[int, dict, list]] = []
        for fp, labels, hist in self._histograms_for(q, fps):
            ufp = to_unsigned64(fp)
            if out and out[-1][0] == ufp:
                out[-1][2].append(hist)
            else:
                out.append((ufp, labels, [hist]))
        return out

    def read(self, queries: Sequence[Query]) -> list[list[TimeSeries]]:
        sql = rawsql_text(queries)
        if sql is not None:
            self._register_views_for_sql(sql)
            return [run_rawsql(self.spark, sql, queries[0].end_ms)]
        if self.cache_registry and len(queries) > 1:
            # multi-query requests collapse into ONE Spark job (union of
            # per-query restricted scans tagged with the slot index) —
            # Prometheus remote-read latency scales with jobs, not rows
            return self._read_batched(queries)

        results: list[list[TimeSeries]] = []
        samples = self.samples_df()
        for q in queries:
            if self.cache_registry:
                fps = self._resolve_fingerprints(q)
                if not fps:  # O3 short-circuit (clickhouse.go:405-407)
                    results.append([])
                    continue
                # through _restricted_scan so a chunked tier prunes whole
                # chunks below the decode barrier on this path too
                rows = group_into_series(self._restricted_scan(samples, q, fps)).collect()
                labels = [self._registry[to_unsigned64(r[FINGERPRINT])] for r in rows]
                hseries = self.histogram_series(q, fps)
            else:
                rows = self.distributed_read_plan(q, samples).collect()
                labels = [r[LABELS] for r in rows]
                hseries = self.histogram_series(q)
            floats = sorted(
                (
                    (to_unsigned64(r[FINGERPRINT]), _time_series(ls, r["samples"]))
                    for r, ls in zip(rows, labels)
                ),
                key=lambda e: e[0],
            )
            results.append(list(_with_histograms(floats, hseries)))
        return results

    def iter_series(self, q: Query):
        """Memory-bounded streamed serve of one query: the grouped-series
        frame range-sorted in unsigned-fingerprint order and pulled with
        ``toLocalIterator`` — ONE series on the driver at a time, framed
        incrementally by the already-streaming remote-read generator
        (edge/http.py). ``read()`` keeps the reference's materialize-all
        contract (clickhouse.go:235-280); this is the path a month-wide
        high-cardinality streamed read takes instead. Requires the cached
        registry (matcher resolution in Python — no lazily-raised Java
        regex errors after the 200 header is sent); uncached callers use
        ``read()``."""
        if not self.cache_registry:
            raise ValueError("iter_series requires cache_registry")
        fps = self._resolve_fingerprints(q)
        if not fps:
            return
        # native-histogram series for the same fingerprints, merged into
        # the float stream by unsigned fingerprint (driver-resident but
        # bounded by native cardinality); no Java-regex matcher runs after
        # headers
        hseries = self.histogram_series(q, fps)
        restricted = self._restricted_scan(self.samples_df(), q, fps)
        grouped = group_into_series(restricted).sort(
            (F.col(FINGERPRINT) < 0).cast("int"), FINGERPRINT
        )

        def floats():
            for r in grouped.toLocalIterator():
                ufp = to_unsigned64(r[FINGERPRINT])
                yield ufp, _time_series(self._registry[ufp], r["samples"])

        yield from _with_histograms(floats(), hseries)

    def _restricted_scan(self, samples: DataFrame, q: Query, fps) -> DataFrame:
        """One query's restricted fact scan (F2 + J1/J2) — the layout seam:
        the flat tier filters rows; a chunked tier prunes whole chunks by
        their (min_ms, max_ms) envelope before decoding a byte."""
        return restrict_to_series(
            samples_in_range(samples, q.start_ms, q.end_ms),
            fps,
            self.max_series_inlist,
        )

    def _read_batched(self, queries: Sequence[Query]) -> list[list[TimeSeries]]:
        """O1 as a single job: per-query restricted scans, each tagged with
        its slot index, unioned and grouped once. Order preserved; empty
        slots stay empty."""
        samples = self.samples_df()
        fps_of = [self._resolve_fingerprints(q) for q in queries]
        branches = [
            self._restricted_scan(samples, q, fps).select(
                F.lit(idx).alias("qidx"), FINGERPRINT, TIMESTAMP_MS, VALUE
            )
            for idx, (q, fps) in enumerate(zip(queries, fps_of))
            if fps
        ]
        floats: list[list] = [[] for _ in queries]
        if branches:
            union = branches[0]
            for b in branches[1:]:
                union = union.unionByName(b)
            grouped = union.groupBy("qidx", FINGERPRINT).agg(
                F.sort_array(F.collect_list(F.struct(TIMESTAMP_MS, VALUE))).alias("samples")
            )
            for r in grouped.collect():
                ufp = to_unsigned64(r[FINGERPRINT])
                floats[r["qidx"]].append(
                    (ufp, _time_series(self._registry.get(ufp, {}), r["samples"]))
                )
        return [
            list(_with_histograms(sorted(f, key=lambda e: e[0]), self.histogram_series(q, fps)))
            for f, q, fps in zip(floats, queries, fps_of)
        ]

    # ------------------------------------------------------------ analytics

    def register_views(self, samples: DataFrame | None = None) -> None:
        """Expose the two tables to Spark SQL (rawsql + analytics).

        ``samples`` carries exactly the reference's three logical columns
        (clickhouse.go:93-101); the day-partitioned physical layout is also
        exposed as ``samples_physical`` for partition-pruned analytics SQL.
        ``samples`` may be overridden with a pre-restricted frame (the
        chunked tier's window-pruned view, `_register_views_for_sql`).
        """
        registry = self.registry_df()
        registry.createOrReplaceTempView("time_series")
        # labels also exposed as canonical JSON so the reference's documented
        # analytics (visitParamExtractString over the JSON string,
        # README.md:85-98) port as get_json_object over labels_json
        from promhouse_spark.functions.labels import labels_map_to_json

        registry.withColumn(
            "labels_json", labels_map_to_json(LABELS)
        ).createOrReplaceTempView("time_series_json")
        physical = samples if samples is not None else self.samples_df()
        physical.createOrReplaceTempView("samples_physical")
        physical.select(FINGERPRINT, TIMESTAMP_MS, VALUE).createOrReplaceTempView(
            "samples"
        )

    def _register_views_for_sql(self, sql: str) -> None:
        """View registration for one rawsql request. The flat tier's
        parquet scan already gets its time filter pushed down by Catalyst;
        the chunked tier overrides this to prune chunks below the decode
        barrier from the SQL's own WHERE bounds."""
        self.register_views()
