"""Persistent two-table schema (columnar at rest).

Reference schema: ``storages/clickhouse/clickhouse.go:82-101`` /
``README.md:14-32``:

- ``time_series(date Date, fingerprint UInt64, labels String-JSON)`` —
  ReplacingMergeTree, the series registry (dimension table);
- ``samples(fingerprint UInt64, timestamp_ms Int64, value Float64)`` —
  MergeTree partitioned by day, ordered by (fingerprint, timestamp_ms).

Spark mapping (SURVEY §1.4): labels become a real ``MapType`` (JSON only at
API edges); ``UInt64`` fingerprints are stored in ``LongType`` carrying the
same 64 bits in two's complement; the day partition is an explicit ``date``
column derived as ``to_date(timestamp_millis(timestamp_ms))`` so Catalyst
partition pruning fires on day-ranged scans at 100 TB scale.
"""

from __future__ import annotations

from pyspark.sql import types as T

FINGERPRINT = "fingerprint"
TIMESTAMP_MS = "timestamp_ms"
VALUE = "value"
LABELS = "labels"
DATE = "date"

# Series registry (dimension). New series are diffed on write against the
# hot registry dict (or anti-joined once per flush with the dict off), and
# readers collapse leftover duplicates: the ReplacingMergeTree equivalent
# (clickhouse.go:88,437-447).
TIME_SERIES_SCHEMA = T.StructType(
    [
        T.StructField(DATE, T.DateType(), False),
        T.StructField(FINGERPRINT, T.LongType(), False),
        T.StructField(LABELS, T.MapType(T.StringType(), T.StringType()), False),
    ]
)

# Append-only fact table. 24 bytes/sample raw (README.md:63-64); Parquet with
# delta encoding + zstd on data sorted by (fingerprint, timestamp_ms) beats the
# reference's ~5.3 B/sample compressed figure.
SAMPLES_SCHEMA = T.StructType(
    [
        T.StructField(FINGERPRINT, T.LongType(), False),
        T.StructField(TIMESTAMP_MS, T.LongType(), False),
        T.StructField(VALUE, T.DoubleType(), False),
    ]
)

# Samples as written to disk carry the derived day-partition column.
SAMPLES_DISK_SCHEMA = T.StructType(list(SAMPLES_SCHEMA) + [T.StructField(DATE, T.DateType(), False)])

# Native-histogram samples (remote-write >= Prometheus 2.40; decoded from
# the prompb Histogram message into explicit bucket arrays). Same
# (fingerprint, timestamp_ms) keying and day partitioning as samples.
_BUCKETS_T = T.ArrayType(
    T.StructType(
        [
            T.StructField("idx", T.IntegerType(), False),
            T.StructField("cnt", T.DoubleType(), False),
        ]
    )
)
HISTOGRAMS_SCHEMA = T.StructType(
    [
        T.StructField(FINGERPRINT, T.LongType(), False),
        T.StructField(TIMESTAMP_MS, T.LongType(), False),
        T.StructField("schema", T.IntegerType(), False),
        T.StructField("zero_threshold", T.DoubleType(), False),
        T.StructField("zero_count", T.DoubleType(), False),
        T.StructField("count", T.DoubleType(), False),
        T.StructField("sum", T.DoubleType(), False),
        T.StructField("positive", _BUCKETS_T, False),
        T.StructField("negative", _BUCKETS_T, False),
    ]
)

# Exemplars (remote-write >= Prometheus 2.27): trace-annotated sampled
# observations. Keyed to the owning series by fingerprint; the exemplar's
# own correlation labels (trace_id, span_id, ...) ride as a map column.
# Same day partitioning as samples so time-range reads prune.
EXEMPLARS_SCHEMA = T.StructType(
    [
        T.StructField(FINGERPRINT, T.LongType(), False),
        T.StructField(TIMESTAMP_MS, T.LongType(), False),
        T.StructField(VALUE, T.DoubleType(), False),
        T.StructField("exemplar_labels", T.MapType(T.StringType(), T.StringType()), False),
    ]
)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
