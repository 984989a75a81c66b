"""Structured Streaming ingestion (C1/C2 — SURVEY §2.7, §3.2).

The reference ingests via HTTP micro-batches: each ``/write`` request is
decoded, fingerprinted, registry-diffed, and appended — append-only,
unordered, no watermark, any timestamp accepted at any time
(``storages/clickhouse/clickhouse.go:423-512``). The Spark-native equivalent
is a file/queue streaming source feeding ``foreachBatch``, where each
micro-batch runs the exact write pipeline of
:meth:`~promhouse_spark.storage.parquet.SparkParquetStorage.ingest_df` plus
the registry anti-join diff.

Input batches arrive row-oriented as (labels map, timestamp_ms, value) — the
in-flight TimeSeries shape flattened — and the fingerprint is computed
in-stream by the Pandas UDF (the only Python kernel on the hot path).

The HTTP remote-write path no longer runs this pipeline per request: it
acks from the WAL-backed head of ``SparkParquetStorage`` and flushes one
batch at a time (``storage/wal.py``). A micro-batch here is already a
batch, so it appends straight to the tables and keeps its per-batch
registry anti-join; its ``registry_df()`` call flushes the storage's head
first, so both paths see each other's series.

No watermark is configured, matching the reference's "late data is just
data" contract (C1). Exactly-once: parquet appends inside foreachBatch are
idempotent per epoch only if the sink dedupes; like the reference (which can
write duplicate samples on retry, SURVEY §7 risk 6), we accept at-least-once
for samples while the registry stays deduplicated by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T
from pyspark.sql.streaming import StreamingQuery

from promhouse_spark.functions.fingerprint import fingerprint_map_udf, to_unsigned64
from promhouse_spark.schemas import FINGERPRINT, LABELS, TIMESTAMP_MS, VALUE
from promhouse_spark.storage.parquet import SparkParquetStorage

# Flattened wire schema for streamed writes: one row per sample.
WIRE_SCHEMA = T.StructType(
    [
        T.StructField(LABELS, T.MapType(T.StringType(), T.StringType()), False),
        T.StructField(TIMESTAMP_MS, T.LongType(), False),
        T.StructField(VALUE, T.DoubleType(), False),
    ]
)


def fingerprint_batch(batch_df: DataFrame) -> DataFrame:
    """labels → fingerprint, producing (fingerprint, timestamp_ms, value,
    labels); labels are canonical under the UDF (sorted fold), so no
    pre-sort is needed."""
    return batch_df.withColumn(FINGERPRINT, fingerprint_map_udf(F.col(LABELS)))


def ingest_batch(storage: SparkParquetStorage, batch_df: DataFrame) -> None:
    """One micro-batch of the write pipeline (O6): fingerprint → registry
    diff (anti-join, ReplacingMergeTree-equivalent) → samples append.

    Malformed input lines surface as all-null rows from the PERMISSIVE JSON
    reader — they are dropped here (the reference's equivalent is rejecting
    the HTTP request at decode, handlers/prom.go:287-292; in a file stream
    we skip the bad line rather than poison the store or kill the query).
    """
    batch_df = batch_df.filter(
        F.col(LABELS).isNotNull()
        & F.col(TIMESTAMP_MS).isNotNull()
        & F.col(VALUE).isNotNull()
    )
    fp = fingerprint_batch(batch_df).cache()
    try:
        new_series = (
            fp.select(FINGERPRINT, LABELS)
            .dropDuplicates([FINGERPRINT])
            .join(
                storage.registry_df().select(FINGERPRINT),
                FINGERPRINT,
                "left_anti",
            )
            .withColumn("date", F.current_date())
            .select("date", FINGERPRINT, LABELS)
        )
        # registry before samples, so readers can always resolve labels
        # (SURVEY §3.2 ordering note)
        if storage.cache_registry:
            # opt-in hot dict: the delta is needed driver-side anyway
            new_rows = new_series.collect()
            if new_rows:
                storage.spark.createDataFrame(
                    new_rows, new_series.schema
                ).write.mode("append").parquet(storage.registry_path)
                storage._registry.update(
                    {to_unsigned64(r[FINGERPRINT]): dict(r[LABELS]) for r in new_rows}
                )
        else:
            # high-cardinality path: the series delta stays on the executors
            # end-to-end — a label-churn storm never lands on the driver.
            # localCheckpoint breaks the lineage through registry_df() so the
            # append never scans the path it is writing to.
            delta = new_series.localCheckpoint(eager=True)
            if not delta.isEmpty():
                delta.write.mode("append").parquet(storage.registry_path)
        storage.ingest_df(fp.select(FINGERPRINT, TIMESTAMP_MS, VALUE))
    finally:
        fp.unpersist()


def start_ingest(
    spark: SparkSession,
    storage: SparkParquetStorage,
    source_dir: str,
    checkpoint_dir: str,
    trigger_seconds: int = 5,
    compact_every: int = 0,
) -> StreamingQuery:
    """Stream JSON-lines files from ``source_dir`` into the storage.

    Each line: ``{"labels": {...}, "timestamp_ms": 123, "value": 1.0}``.
    The 5 s default trigger mirrors the reference's registry refresh /
    remote-write send deadline cadence (BASELINE.md).

    ``compact_every=N`` (N > 0) runs ``storage.compact_samples()`` after
    every Nth micro-batch — the Prometheus head-compaction analog for the
    chunked tier, whose per-batch appends otherwise accumulate unbounded
    overlapping mini-chunks (a 20-sample batch makes a 20-sample chunk;
    compaction merges them back to full ≤120-sample chunks). Safe inside
    ``foreachBatch`` because the streaming query is the tier's single
    writer between triggers; storages without ``compact_samples`` ignore
    the option. Compaction is idempotent-per-state, so a retry after a
    crash between ingest and compact just compacts a little later.
    """
    counter = {"batches": 0}

    def _process(batch_df: DataFrame, _epoch: int) -> None:
        ingest_batch(storage, batch_df)
        if compact_every > 0 and hasattr(storage, "compact_samples"):
            counter["batches"] += 1
            if counter["batches"] % compact_every == 0:
                storage.compact_samples()

    stream = (
        spark.readStream.schema(WIRE_SCHEMA)
        .json(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )
