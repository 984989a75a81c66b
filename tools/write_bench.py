"""Write-path throughput: samples/second through (a) the row-oriented
protocol write (the reference's benchmarked path, ``storages_test.go:460-495``)
and (b) the bulk DataFrame ingest.

The protocol write acks once its rows are in the WAL-backed head, so (a)
prints two figures: the ack alone, and the ack plus the ``flush()`` that
puts the rows in parquet. A write that fills the head (``HEAD_MAX_SAMPLES``,
100k samples: the default size here) flushes before it acks, so then the
two figures agree.

Usage: python3 tools/write_bench.py [n_series] [samples_per_series]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from promhouse_spark.models import Label, Sample, TimeSeries  # noqa: E402
from promhouse_spark.schemas import FINGERPRINT, TIMESTAMP_MS, VALUE  # noqa: E402
from promhouse_spark.session import get_spark  # noqa: E402
from promhouse_spark.storage.parquet import SparkParquetStorage  # noqa: E402

T0 = 1767225600000


def main() -> None:
    n_series = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    per_series = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    n = n_series * per_series
    spark = get_spark(app_name="write-bench")

    # (a) protocol write: python TimeSeries objects through the full O6 path
    series = [
        TimeSeries(
            labels=[Label("__name__", "bench_metric"), Label("instance", f"i{i}")],
            samples=[Sample(float(j), T0 + j * 15_000) for j in range(per_series)],
        )
        for i in range(n_series)
    ]
    root = tempfile.mkdtemp(prefix="phs-wb-")
    store = SparkParquetStorage(spark, root)
    t0 = time.time()
    store.write(series)
    ack = time.time() - t0
    store.flush()
    dt = time.time() - t0
    print(f"protocol write (ack):         {n} samples in {ack:.2f}s -> {n / ack:,.0f} samples/s")
    print(f"protocol write (ack + flush): {n} samples in {dt:.2f}s -> {n / dt:,.0f} samples/s")
    shutil.rmtree(root, ignore_errors=True)

    # (b) bulk DataFrame ingest (the scale path: JVM-generated, no python rows)
    df = (
        spark.range(n_series)
        .select(
            F.col("id").alias(FINGERPRINT),
            F.explode(F.sequence(F.lit(0), F.lit(per_series - 1))).alias("j"),
        )
        .select(
            FINGERPRINT,
            (F.lit(T0) + F.col("j") * 15_000).alias(TIMESTAMP_MS),
            F.col("j").cast("double").alias(VALUE),
        )
    )
    root = tempfile.mkdtemp(prefix="phs-wb2-")
    store = SparkParquetStorage(spark, root)
    t0 = time.time()
    store.ingest_df(df, files_per_day=4)
    dt = time.time() - t0
    print(f"bulk ingest:    {n} samples in {dt:.2f}s -> {n / dt:,.0f} samples/s")
    shutil.rmtree(root, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
