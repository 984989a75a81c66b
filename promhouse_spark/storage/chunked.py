"""ChunkedParquetStorage — the samples tier stored as Gorilla XOR chunks.

The reference quotes ~1.4-5.3 bytes/sample for its ClickHouse layout
(README.md:63-67); Prometheus's own TSDB reaches ~1.37 B/sample because
of the Gorilla XOR chunk encoding (Pelkonen et al., VLDB 2015). This
backend stores exactly that: instead of flat (fingerprint, ts, value)
rows, the fact tier is

  chunks(fingerprint long, date date-partition,
         min_ms long, max_ms long, n int, chunk binary)

one row per ≤120-sample XOR chunk (``edge/chunkenc.py`` — the same codec
the streamed remote-read path serves over the wire, so a chunk can go
from disk to the wire without re-encoding).

Scale design:

- **Write**: the incoming batch groups by (fingerprint, day) and encodes
  per group in an Arrow-batched ``applyInPandas`` — one shuffle keyed
  exactly like the table layout, Python cost O(samples) with ~µs/sample
  bit-packing, output 10-100× smaller than the flat rows it replaces.
- **Read**: matcher-resolved fingerprints restrict the CHUNK frame
  (IN-list / semi-join, same J1/J2 strategies), the day-partition
  predicate prunes directories, and the (min_ms, max_ms) envelope
  columns prune chunks via parquet row-group min/max stats — all BEFORE
  a single chunk byte is decoded. Only surviving chunks pass through the
  ``mapInPandas`` decoder, then the exact [start, end] row filter
  applies. A 5-minute read over a 100 TB table touches minutes' worth of
  chunks, not days'.
- **Everything else inherits**: registry, matchers, histogram/exemplar
  sidecars, tombstone masking (applied post-decode), retention (the
  chunks tier joins the date-partition sweep), admin APIs, remote
  read/write — the whole storages spec runs against this backend
  unchanged.

Trade-offs vs the flat tier, stated: a rawsql query whose WHERE carries
provable ``timestamp_ms`` bounds gets them pushed below the decode
barrier (``_register_views_for_sql`` → ``extract_time_window`` →
``samples_window_df``); bound-less analytics SQL still sees a
decode-everything frame — analytics-heavy deployments keep the flat
tier, ingest-heavy long-retention ones take the 10× storage win.
``clean_tombstones`` decodes, masks, and re-encodes only the affected
day partitions.
"""

from __future__ import annotations

import itertools
import os
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from promhouse_spark.models import Query
from promhouse_spark.plans.read import restrict_to_series
from promhouse_spark.schemas import DATE, FINGERPRINT, SAMPLES_SCHEMA, TIMESTAMP_MS, VALUE
from promhouse_spark.storage import fs
from promhouse_spark.storage.parquet import SparkParquetStorage

CHUNK_SCHEMA = (
    f"{FINGERPRINT} long, {DATE} date, min_ms long, max_ms long, "
    "n int, chunk binary"
)
_DECODED_SCHEMA = f"{FINGERPRINT} long, {TIMESTAMP_MS} long, {VALUE} double"


def _encode_group(pdf):
    """(fingerprint, date) group → XOR chunk rows. Runs on executors."""
    import pandas as pd

    from promhouse_spark.edge.chunkenc import chunk_samples

    pdf = pdf.sort_values(TIMESTAMP_MS)
    fp = int(pdf[FINGERPRINT].iloc[0])
    date = pdf[DATE].iloc[0]
    rows = []
    for min_ms, max_ms, data in chunk_samples(
        zip(pdf[TIMESTAMP_MS].astype("int64"), pdf[VALUE].astype("float64"))
    ):
        rows.append((fp, date, min_ms, max_ms, 0, data))
    out = pd.DataFrame(
        rows, columns=[FINGERPRINT, DATE, "min_ms", "max_ms", "n", "chunk"]
    )
    # n is informative (sample count per chunk); recompute from sizes
    out["n"] = [
        int.from_bytes(bytes(c[:2]), "big") if len(c) >= 2 else 0
        for c in out["chunk"]
    ]
    return out


def _decode_chunks(batches: Iterator) -> Iterator:
    """Chunk rows → flat sample rows. Runs on executors."""
    import pandas as pd

    from promhouse_spark.edge.chunkenc import decode_xor_chunk

    for pdf in batches:
        fps: list[int] = []
        ts: list[int] = []
        vals: list[float] = []
        for fp, chunk in zip(pdf[FINGERPRINT], pdf["chunk"]):
            for t, v in decode_xor_chunk(bytes(chunk)):
                fps.append(int(fp))
                ts.append(t)
                vals.append(v)
        yield pd.DataFrame({FINGERPRINT: fps, TIMESTAMP_MS: ts, VALUE: vals})


class ChunkedParquetStorage(SparkParquetStorage):
    def __init__(self, spark: SparkSession, root: str, **kwargs) -> None:
        # set before the base constructor, whose registry reload flushes a
        # replayed head through this tier's ingest
        self.chunks_path = os.path.join(root, "chunks")
        # native histograms as tsdb/chunkenc histogram chunks (types 2/3)
        # — same at-rest ≡ wire contract as the float chunks tier
        self.hist_chunks_path = os.path.join(root, "hist_chunks")
        super().__init__(spark, root, **kwargs)

    # ---------------------------------------------------------------- write

    def ingest_df(self, samples_df: DataFrame, files_per_day: int | None = None) -> None:
        """Encode-and-append: one shuffle on (fingerprint, day), Arrow-
        batched Gorilla encoding per group, day-partitioned parquet out.
        Append-only like the flat tier — a re-sent batch adds overlapping
        chunks, and reads tolerate them (decode → sort; the protocol is
        duplicate-tolerant, SURVEY §7 risk 6)."""
        df = samples_df.withColumn(
            DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS)))
        )
        chunks = df.groupBy(FINGERPRINT, DATE).applyInPandas(
            _encode_group, schema=CHUNK_SCHEMA
        )
        chunks.write.partitionBy(DATE).mode("append").parquet(self.chunks_path)

    # ----------------------------------------------------------------- read

    def chunks_df(self) -> DataFrame:
        if not self._stored(self.chunks_path):
            return self.spark.createDataFrame([], CHUNK_SCHEMA)
        return self.spark.read.parquet(self.chunks_path)

    def samples_df(self) -> DataFrame:
        """The decoded flat view (rawsql/views/compat): every surviving
        chunk through the Arrow decoder. Correct everywhere the flat frame
        is expected; time-range pushdown happens in :meth:`_restricted_scan`
        instead, where chunk envelopes can prune before decode."""
        if not self._stored(self.chunks_path):
            return self.spark.createDataFrame([], SAMPLES_SCHEMA)
        par = self.spark.sparkContext.defaultParallelism
        decoded = (
            self.chunks_df()
            .repartition(par)
            .mapInPandas(_decode_chunks, schema=_DECODED_SCHEMA)
        )
        return self._apply_tombstones(decoded)

    def _register_views_for_sql(self, sql: str) -> None:
        """Rawsql over the chunked tier: parse provable [lo, hi] bounds out
        of the SQL's own WHERE conjuncts (plans/rawsql.extract_time_window)
        and register the ``samples`` views from the window-pruned decoded
        frame instead of the decode-everything one — day partitions and
        chunk envelopes prune BEFORE the mapInPandas decode barrier, which
        Catalyst could never push a filter through. The SQL still applies
        its exact predicates above; a too-wide window is never wrong, and
        un-parseable bounds fall back to the full view."""
        from promhouse_spark.plans.rawsql import extract_time_window

        lo, hi = extract_time_window(sql)
        if lo is None and hi is None:
            return super()._register_views_for_sql(sql)
        self.register_views(
            samples=self.samples_window_df(
                -4_000_000_000_000_000 if lo is None else lo,
                4_000_000_000_000_000 if hi is None else hi,
            )
        )

    def samples_window_df(self, start_ms: int, end_ms: int) -> DataFrame:
        """Time-bounded decoded view — the hook the PromQL engine uses
        (``PromQLEngine.from_storage`` + ``find_min_max_time``): chunk
        envelopes and day partitions prune to the query's reachable
        window BEFORE the decode barrier, which a filter above
        ``mapInPandas`` could never push down. Returns a superset of
        [start_ms, end_ms] at chunk granularity; callers apply their own
        exact time predicates."""
        if not self._stored(self.chunks_path):
            return self.spark.createDataFrame([], SAMPLES_SCHEMA)
        lo = max(int(start_ms), -4_000_000_000_000_000)
        hi = min(int(end_ms), 4_000_000_000_000_000)
        chunks = self.chunks_df()
        cond = (F.col("max_ms") >= lo) & (F.col("min_ms") <= hi)
        cond = cond & (
            F.col(DATE) >= F.to_date(F.timestamp_millis(F.lit(lo)))
        ) & (F.col(DATE) <= F.to_date(F.timestamp_millis(F.lit(hi))))
        par = self.spark.sparkContext.defaultParallelism
        decoded = (
            chunks.filter(cond)
            .select(FINGERPRINT, "chunk")
            .repartition(par)
            .mapInPandas(_decode_chunks, schema=_DECODED_SCHEMA)
        )
        return self._apply_tombstones(decoded)

    def _restricted_scan(self, samples: DataFrame, q: Query, fps) -> DataFrame:
        """Chunk-granularity pushdown: fingerprint restriction + day
        pruning + (min_ms, max_ms) envelope overlap run on the 6-column
        chunk frame (parquet row-group stats prune on the envelope
        columns); ONLY surviving chunks decode. The passed flat frame is
        ignored — pruning below the decode barrier beats any cached
        decoded view."""
        chunks = self.chunks_df()
        cond = (F.col("max_ms") >= q.start_ms) & (F.col("min_ms") <= q.end_ms)
        start_d = F.to_date(F.timestamp_millis(F.lit(int(q.start_ms))))
        end_d = F.to_date(F.timestamp_millis(F.lit(int(q.end_ms))))
        cond = cond & (F.col(DATE) >= start_d) & (F.col(DATE) <= end_d)
        pruned = restrict_to_series(
            chunks.filter(cond), fps, self.max_series_inlist
        )
        # spread the Python decode across every core: the surviving chunk
        # frame is tiny (≤120 samples per row), but a single parquet file
        # would otherwise pin the whole decode on one task
        par = self.spark.sparkContext.defaultParallelism
        decoded = (
            pruned.select(FINGERPRINT, "chunk")
            .repartition(par)
            .mapInPandas(_decode_chunks, schema=_DECODED_SCHEMA)
        )
        decoded = decoded.filter(
            (F.col(TIMESTAMP_MS) >= q.start_ms) & (F.col(TIMESTAMP_MS) <= q.end_ms)
        )
        return self._apply_tombstones(decoded)

    def read_chunks(self, q: Query):
        """Zero-decode read for the streamed remote-read path: the pruned
        CHUNK rows go to the wire verbatim — storage format ≡ wire format
        (both are tsdb/chunkenc XOR), so a streamed read does NO per-sample
        work at all: prune, stream, frame. Chunks intersecting the range
        are returned whole (the remote-read streamed contract: the querier
        trims by time).

        Returns a LAZY generator of ``(labels_dict, [(min_ms, max_ms,
        chunk_bytes), ...])`` in unsigned-fingerprint order, or ``None``
        when the fast path is unsound (pending tombstones — deleted
        samples may hide inside a chunk, so the caller must fall back to
        the decode-and-re-encode path), or ``[]`` when nothing matches.
        Driver memory is bounded by ONE series at a time: the chunk frame
        is range-sorted distributed and pulled with ``toLocalIterator``,
        so a month-wide high-cardinality read streams through the
        already-streaming HTTP generator (edge/http.py) with flat RSS —
        the reference, by contrast, materializes every series at the
        driver (clickhouse.go:235-280)."""
        if fs.exists(self.spark, self.tombstones_path):
            return None
        fps = self._resolve_fingerprints(q)
        if not fps:
            return []
        chunks = self.chunks_df()
        cond = (F.col("max_ms") >= q.start_ms) & (F.col("min_ms") <= q.end_ms)
        start_d = F.to_date(F.timestamp_millis(F.lit(int(q.start_ms))))
        end_d = F.to_date(F.timestamp_millis(F.lit(int(q.end_ms))))
        cond = cond & (F.col(DATE) >= start_d) & (F.col(DATE) <= end_d)
        pruned = restrict_to_series(
            chunks.filter(cond), fps, self.max_series_inlist
        ).select(FINGERPRINT, "min_ms", "max_ms", "chunk")

        from promhouse_spark.functions.fingerprint import to_unsigned64
        from promhouse_spark.schemas import LABELS

        if self.cache_registry:
            registry = self._registry  # driver dict lookup at yield time
        else:  # labels ride the frame: distributed resolution, no collect
            registry = None
            pruned = pruned.join(
                self.registry_df().select(FINGERPRINT, LABELS), FINGERPRINT, "left"
            )
        # unsigned-fp total order: non-negative signed fps (0..2^63-1
        # unsigned) before negative ones (2^63..2^64-1) — a range sort,
        # so toLocalIterator yields globally ordered rows one partition
        # at a time instead of collecting the whole result
        ordered = pruned.sort(
            (F.col(FINGERPRINT) < 0).cast("int"), FINGERPRINT, "min_ms", "max_ms"
        )

        def series_iter():
            cur_fp = None
            cur_labels: dict = {}
            cur_chunks: list = []
            for r in ordered.toLocalIterator():
                fp = r[FINGERPRINT]
                if fp != cur_fp:
                    if cur_fp is not None:
                        yield (cur_labels, cur_chunks)
                    cur_fp = fp
                    cur_chunks = []
                    if registry is not None:
                        cur_labels = registry.get(to_unsigned64(fp), {})
                    else:
                        cur_labels = dict(r[LABELS]) if r[LABELS] else {}
                cur_chunks.append((r["min_ms"], r["max_ms"], bytes(r["chunk"])))
            if cur_fp is not None:
                yield (cur_labels, cur_chunks)

        # Pull the first series EAGERLY, then chain it back: a Spark-side
        # failure (the distributed label join when cache_registry is off,
        # a corrupt chunk file) must surface as a clean 500 BEFORE the
        # HTTP layer commits a 200 header — a lazy failure mid-stream
        # reads to the client as a truncated chunked body.
        it = series_iter()
        try:
            first = next(it)
        except StopIteration:
            return []
        return itertools.chain([first], it)

    # ------------------------------------------------- histogram chunk tier

    def hist_chunks_df(self) -> DataFrame:
        if not self._stored(self.hist_chunks_path):
            return self.spark.createDataFrame([], HIST_CHUNK_SCHEMA)
        return self.spark.read.parquet(self.hist_chunks_path)

    def has_histograms(self) -> bool:
        return self._stored(self.hist_chunks_path)

    def _write_histograms(self, hdf: DataFrame) -> None:
        """Histogram ingest: one shuffle keyed (fingerprint, day), Arrow-
        batched chunk encoding per group (edge/chunkenc histogram/
        floathistogram formats), day-partitioned parquet out — the exact
        write shape of the float chunks tier."""
        df = hdf.withColumn(
            DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS)))
        )
        chunks = df.groupBy(FINGERPRINT, DATE).applyInPandas(
            _encode_hist_group, schema=HIST_CHUNK_SCHEMA
        )
        chunks.write.partitionBy(DATE).mode("append").parquet(
            self.hist_chunks_path
        )

    def histograms_df(self) -> DataFrame:
        """The decoded flat view (HISTOGRAMS_SCHEMA) — correct everywhere
        the flat frame is expected; time-window pruning happens in
        :meth:`histograms_range_df` where chunk envelopes can prune
        before the decode barrier."""
        from promhouse_spark.schemas import HISTOGRAMS_SCHEMA

        if not self._stored(self.hist_chunks_path):
            return self.spark.createDataFrame([], HISTOGRAMS_SCHEMA)
        par = self.spark.sparkContext.defaultParallelism
        decoded = (
            self.hist_chunks_df()
            .repartition(par)
            .mapInPandas(_decode_hist_chunks, schema=HISTOGRAMS_SCHEMA)
        )
        return self._apply_tombstones(decoded)

    def histograms_range_df(self, start_ms: int, end_ms: int) -> DataFrame:
        """Time-bounded decode: day partitions and (min_ms, max_ms)
        envelopes prune whole chunks BEFORE a histogram byte is decoded,
        then the exact row filter applies above the decode."""
        from promhouse_spark.schemas import HISTOGRAMS_SCHEMA

        if not self._stored(self.hist_chunks_path):
            return self.spark.createDataFrame([], HISTOGRAMS_SCHEMA)
        cond = (F.col("max_ms") >= start_ms) & (F.col("min_ms") <= end_ms)
        start_d = F.to_date(F.timestamp_millis(F.lit(int(start_ms))))
        end_d = F.to_date(F.timestamp_millis(F.lit(int(end_ms))))
        cond = cond & (F.col(DATE) >= start_d) & (F.col(DATE) <= end_d)
        decoded = (
            self.hist_chunks_df()
            .filter(cond)
            .mapInPandas(_decode_hist_chunks, schema=HISTOGRAMS_SCHEMA)
            .filter(
                (F.col(TIMESTAMP_MS) >= int(start_ms))
                & (F.col(TIMESTAMP_MS) <= int(end_ms))
            )
        )
        return self._apply_tombstones(decoded)

    def histogram_series_chunks(self, q: Query, fps=None):
        """Zero-decode histogram serve for the streamed remote-read path:
        pruned at-rest chunk rows ARE the wire chunks. Returns
        ``[(ufp, labels_dict, [(min_ms, max_ms, ctype, bytes), ...])]``
        in unsigned-fingerprint order, ``None`` when unsound (pending
        tombstones — deleted histograms may hide inside a chunk, callers
        fall back to the decoding ``histogram_series`` which masks), or
        ``[]`` when nothing matches. Driver memory is bounded by matched
        native-series cardinality — the same API-edge contract as
        ``histogram_series``."""
        from promhouse_spark.functions.fingerprint import to_unsigned64
        from promhouse_spark.schemas import LABELS

        stored = self._stored(self.hist_chunks_path)
        if fs.exists(self.spark, self.tombstones_path):
            return None
        if not stored:
            return []
        if fps is None and self.cache_registry:
            fps = self._resolve_fingerprints(q)
            if not fps:
                return []
        chunks = self.hist_chunks_df()
        cond = (F.col("max_ms") >= q.start_ms) & (F.col("min_ms") <= q.end_ms)
        start_d = F.to_date(F.timestamp_millis(F.lit(int(q.start_ms))))
        end_d = F.to_date(F.timestamp_millis(F.lit(int(q.end_ms))))
        pruned = chunks.filter(
            cond & (F.col(DATE) >= start_d) & (F.col(DATE) <= end_d)
        ).select(FINGERPRINT, "min_ms", "max_ms", "ctype", "chunk")
        if fps is not None:
            pruned = restrict_to_series(pruned, fps, self.max_series_inlist)
            registry = self._registry
        else:  # cache off: matchers + labels resolve distributed
            from promhouse_spark.plans.read import select_series

            matched = select_series(self.registry_df(), q.matchers).select(
                FINGERPRINT, LABELS
            )
            pruned = pruned.join(matched, FINGERPRINT)
            registry = None
        rows = pruned.collect()
        rows.sort(
            key=lambda r: (to_unsigned64(r[FINGERPRINT]), r["min_ms"], r["max_ms"])
        )
        out = []
        for r in rows:
            ufp = to_unsigned64(r[FINGERPRINT])
            labels = (
                dict(registry.get(ufp, {}))
                if registry is not None
                else dict(r[LABELS] or {})
            )
            entry = (r["min_ms"], r["max_ms"], int(r["ctype"]), bytes(r["chunk"]))
            if out and out[-1][0] == ufp:
                out[-1][2].append(entry)
            else:
                out.append((ufp, labels, [entry]))
        return out

    # ------------------------------------------------------------ lifecycle

    def _date_partitioned_tiers(self) -> tuple[str, ...]:
        return super()._date_partitioned_tiers() + (
            self.chunks_path,
            self.hist_chunks_path,
        )

    def clean_tombstones(self, files_per_day: int = 1) -> dict[str, int]:
        """Flat sidecars clean via the inherited rewrite; the chunks tier
        decodes → masks → re-encodes ONLY the day partitions whose chunk
        envelopes intersect a pending tombstone, then the tombstones clear."""
        if not self._stored(self.tombstones_path):
            return {}
        t = self.tombstones_df()
        rewritten: dict[str, int] = {}
        if fs.exists(self.spark, self.chunks_path):
            chunks = self.chunks_df()
            tt = t.select(
                F.col(FINGERPRINT).alias("__t_fp"), "min_ms", "max_ms"
            )
            hit = (
                (chunks[FINGERPRINT] == tt["__t_fp"])
                & (chunks["max_ms"] >= tt["min_ms"])
                & (chunks["min_ms"] <= tt["max_ms"])
            )
            affected = [
                r[DATE]
                for r in chunks.join(tt, hit, "left_semi").select(DATE).distinct().collect()
            ]
            if affected:
                keep = chunks.filter(F.col(DATE).isin(affected))
                decoded = keep.select(FINGERPRINT, "chunk").mapInPandas(
                    _decode_chunks, schema=_DECODED_SCHEMA
                )
                surviving = self._apply_tombstones(decoded).withColumn(
                    DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS)))
                )
                reencoded = surviving.groupBy(FINGERPRINT, DATE).applyInPandas(
                    _encode_group, schema=CHUNK_SCHEMA
                )
                tmp = self.chunks_path + ".clean"
                if fs.exists(self.spark, tmp):
                    raise RuntimeError(
                        f"stale {tmp} exists — previous clean crashed mid-swap; "
                        "inspect/remove it before cleaning again"
                    )
                reencoded.write.partitionBy(DATE).mode("overwrite").parquet(tmp)
                for d in affected:
                    part = f"{DATE}={d.isoformat()}"
                    fs.delete(self.spark, os.path.join(self.chunks_path, part))
                    if fs.exists(self.spark, os.path.join(tmp, part)):
                        fs.rename(
                            self.spark,
                            os.path.join(tmp, part),
                            os.path.join(self.chunks_path, part),
                        )
                fs.delete(self.spark, tmp)
                if not any(
                    n.startswith(f"{DATE}=")
                    for n in fs.list_names(self.spark, self.chunks_path)
                ):
                    fs.delete(self.spark, self.chunks_path)
                rewritten["chunks"] = len(affected)
        n_hist = self._clean_hist_chunk_tombstones(t)
        if n_hist:
            rewritten["hist_chunks"] = n_hist
        rewritten.update(super().clean_tombstones(files_per_day))
        return rewritten

    def _clean_hist_chunk_tombstones(self, t: DataFrame) -> int:
        """Histogram-chunk analog of the float-chunk rewrite: decode,
        mask, re-encode ONLY the day partitions whose chunk envelopes
        intersect a pending tombstone."""
        from promhouse_spark.schemas import HISTOGRAMS_SCHEMA

        if not fs.exists(self.spark, self.hist_chunks_path):
            return 0
        chunks = self.hist_chunks_df()
        tt = t.select(F.col(FINGERPRINT).alias("__t_fp"), "min_ms", "max_ms")
        hit = (
            (chunks[FINGERPRINT] == tt["__t_fp"])
            & (chunks["max_ms"] >= tt["min_ms"])
            & (chunks["min_ms"] <= tt["max_ms"])
        )
        affected = [
            r[DATE]
            for r in chunks.join(tt, hit, "left_semi")
            .select(DATE)
            .distinct()
            .collect()
        ]
        if not affected:
            return 0
        keep = chunks.filter(F.col(DATE).isin(affected))
        decoded = keep.mapInPandas(_decode_hist_chunks, schema=HISTOGRAMS_SCHEMA)
        surviving = self._apply_tombstones(decoded).withColumn(
            DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS)))
        )
        reencoded = surviving.groupBy(FINGERPRINT, DATE).applyInPandas(
            _encode_hist_group, schema=HIST_CHUNK_SCHEMA
        )
        tmp = self.hist_chunks_path + ".clean"
        if fs.exists(self.spark, tmp):
            raise RuntimeError(
                f"stale {tmp} exists — previous clean crashed mid-swap; "
                "inspect/remove it before cleaning again"
            )
        reencoded.write.partitionBy(DATE).mode("overwrite").parquet(tmp)
        for d in affected:
            part = f"{DATE}={d.isoformat()}"
            fs.delete(self.spark, os.path.join(self.hist_chunks_path, part))
            if fs.exists(self.spark, os.path.join(tmp, part)):
                fs.rename(
                    self.spark,
                    os.path.join(tmp, part),
                    os.path.join(self.hist_chunks_path, part),
                )
        fs.delete(self.spark, tmp)
        if not any(
            n.startswith(f"{DATE}=")
            for n in fs.list_names(self.spark, self.hist_chunks_path)
        ):
            fs.delete(self.spark, self.hist_chunks_path)
        return len(affected)

    def snapshot(self, name: str | None = None) -> str:
        name = super().snapshot(name)
        dest = os.path.join(self.root, "snapshots", name)
        if fs.exists(self.spark, self.chunks_path):
            fs.copy(self.spark, self.chunks_path, os.path.join(dest, "chunks"))
        if fs.exists(self.spark, self.hist_chunks_path):
            fs.copy(
                self.spark,
                self.hist_chunks_path,
                os.path.join(dest, "hist_chunks"),
            )
        return name

    def compact_samples(self, files_per_day: int = 1) -> None:
        """Chunk-tier compaction: decode, re-group per (fingerprint, day),
        re-encode full-size chunks, swap — merges the overlapping mini-
        chunks micro-batch ingestion accumulates (the Prometheus head-
        compaction analog). Same offline/single-writer contract as the
        flat tier's compaction."""
        self._compact_hist_chunks(files_per_day)
        if not self._stored(self.chunks_path):
            return
        old = self.chunks_path + ".old"
        if fs.exists(self.spark, old):
            raise RuntimeError(
                f"stale {old} exists — previous compaction crashed mid-swap; "
                "inspect/remove it before compacting again"
            )
        decoded = self.chunks_df().select(FINGERPRINT, "chunk").mapInPandas(
            _decode_chunks, schema=_DECODED_SCHEMA
        ).withColumn(DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS))))
        reencoded = decoded.groupBy(FINGERPRINT, DATE).applyInPandas(
            _encode_group, schema=CHUNK_SCHEMA
        )
        tmp = self.chunks_path + ".compact"
        (
            reencoded.repartition(
                max(files_per_day * 8, 32),
                F.col(DATE),
                F.pmod(F.col(FINGERPRINT), F.lit(files_per_day)),
            )
            .sortWithinPartitions(FINGERPRINT, "min_ms")
            .write.partitionBy(DATE)
            .mode("overwrite")
            .parquet(tmp)
        )
        fs.rename(self.spark, self.chunks_path, old)
        fs.rename(self.spark, tmp, self.chunks_path)
        fs.delete(self.spark, old)

    def _compact_hist_chunks(self, files_per_day: int = 1) -> None:
        """Merge the overlapping histogram mini-chunks micro-batch
        ingestion accumulates — decode, re-group per (fingerprint, day),
        re-encode full-size chunks, swap."""
        from promhouse_spark.schemas import HISTOGRAMS_SCHEMA

        if not self._stored(self.hist_chunks_path):
            return
        old = self.hist_chunks_path + ".old"
        if fs.exists(self.spark, old):
            raise RuntimeError(
                f"stale {old} exists — previous compaction crashed mid-swap; "
                "inspect/remove it before compacting again"
            )
        decoded = (
            self.hist_chunks_df()
            .mapInPandas(_decode_hist_chunks, schema=HISTOGRAMS_SCHEMA)
            .withColumn(DATE, F.to_date(F.timestamp_millis(F.col(TIMESTAMP_MS))))
        )
        reencoded = decoded.groupBy(FINGERPRINT, DATE).applyInPandas(
            _encode_hist_group, schema=HIST_CHUNK_SCHEMA
        )
        tmp = self.hist_chunks_path + ".compact"
        (
            reencoded.repartition(
                max(files_per_day * 8, 32),
                F.col(DATE),
                F.pmod(F.col(FINGERPRINT), F.lit(files_per_day)),
            )
            .sortWithinPartitions(FINGERPRINT, "min_ms")
            .write.partitionBy(DATE)
            .mode("overwrite")
            .parquet(tmp)
        )
        fs.rename(self.spark, self.hist_chunks_path, old)
        fs.rename(self.spark, tmp, self.hist_chunks_path)
        fs.delete(self.spark, old)


# --------------------------------------------------- histogram chunk tier
# Native histograms stored AS tsdb/chunkenc histogram chunks (types 2/3,
# edge/chunkenc.py) instead of flat parquet rows — the same at-rest ≡ wire
# design as the float chunks tier, so a streamed remote read ships
# histogram chunk bytes without re-encoding. Layout mirrors CHUNK_SCHEMA
# plus the chunk type.

HIST_CHUNK_SCHEMA = (
    f"{FINGERPRINT} long, {DATE} date, min_ms long, max_ms long, "
    "n int, ctype int, chunk binary"
)


def _bucket_pairs(cell):
    """array<struct<idx,cnt>> cell as Arrow hands it to pandas — a
    sequence of dicts (or Rows); None for missing."""
    if cell is None:
        return []
    return [
        (int(b["idx"]), float(b["cnt"]))
        if isinstance(b, dict)
        else (int(b[0]), float(b[1]))
        for b in cell
    ]


def _encode_hist_group(pdf):
    """(fingerprint, date) group of HISTOGRAMS_SCHEMA(+date) rows →
    histogram chunk rows. Runs on executors."""
    import pandas as pd

    from promhouse_spark.edge.chunkenc import chunk_native_histograms
    from promhouse_spark.models import NativeHistogram

    pdf = pdf.sort_values(TIMESTAMP_MS)
    fp = int(pdf[FINGERPRINT].iloc[0])
    date = pdf[DATE].iloc[0]
    hists = [
        NativeHistogram(
            timestamp_ms=int(t),
            count=float(cnt),
            sum=float(s),
            schema=int(sch),
            zero_threshold=float(zt),
            zero_count=float(zc),
            positive=_bucket_pairs(pos),
            negative=_bucket_pairs(neg),
        )
        for t, cnt, s, sch, zt, zc, pos, neg in zip(
            pdf[TIMESTAMP_MS],
            pdf["count"],
            pdf["sum"],
            pdf["schema"],
            pdf["zero_threshold"],
            pdf["zero_count"],
            pdf["positive"],
            pdf["negative"],
        )
    ]
    rows = [
        (fp, date, mn, mx, int.from_bytes(data[:2], "big"), ctype, data)
        for mn, mx, ctype, data in chunk_native_histograms(hists)
    ]
    return pd.DataFrame(
        rows,
        columns=[FINGERPRINT, DATE, "min_ms", "max_ms", "n", "ctype", "chunk"],
    )


def _decode_hist_chunks(batches: Iterator) -> Iterator:
    """Histogram chunk rows → flat HISTOGRAMS_SCHEMA rows. Zero-count
    union-layout padding buckets are dropped: absent ≡ zero for absolute
    bucket counts, and the flat tier's canonical form omits them."""
    import pandas as pd

    from promhouse_spark.edge.chunkenc import (
        CHUNK_TYPE_HISTOGRAM,
        decode_float_histogram_chunk,
        decode_histogram_chunk,
    )

    cols = [
        FINGERPRINT,
        TIMESTAMP_MS,
        "schema",
        "zero_threshold",
        "zero_count",
        "count",
        "sum",
        "positive",
        "negative",
    ]
    for pdf in batches:
        rows = []
        for fp, ctype, data in zip(pdf[FINGERPRINT], pdf["ctype"], pdf["chunk"]):
            hs = (
                decode_histogram_chunk(bytes(data))[0]
                if int(ctype) == CHUNK_TYPE_HISTOGRAM
                else decode_float_histogram_chunk(bytes(data))[0]
            )
            for h in hs:
                rows.append(
                    (
                        int(fp),
                        int(h.timestamp_ms),
                        int(h.schema),
                        float(h.zero_threshold),
                        float(h.zero_count),
                        float(h.count),
                        float(h.sum),
                        [
                            {"idx": int(i), "cnt": float(c)}
                            for i, c in h.positive
                            if c != 0.0
                        ],
                        [
                            {"idx": int(i), "cnt": float(c)}
                            for i, c in h.negative
                            if c != 0.0
                        ],
                    )
                )
        yield pd.DataFrame(rows, columns=cols)
