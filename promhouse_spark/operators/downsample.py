"""Downsampling / rollup operators (C4 — the reference's #1 roadmap item,
``README.md:71``: "Better compression, downsampling").

Tumbling-window rollups over the samples fact table into a ``samples_<res>``
table carrying avg/min/max/last per (fingerprint, window). Expressed as a
plain groupBy on a derived window-start column — at 100 TB this is one
map-side-combinable shuffle keyed by (fingerprint, bucket), and the output
inherits day partitioning so rollup reads prune exactly like raw reads.

``last`` uses ``max_by(value, timestamp_ms)`` (the Prometheus-correct "most
recent sample wins" semantics).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from promhouse_spark.schemas import DATE, FINGERPRINT, TIMESTAMP_MS, VALUE


def window_start_ms(step_ms: int) -> F.Column:
    return (F.col(TIMESTAMP_MS) - F.pmod(F.col(TIMESTAMP_MS), F.lit(step_ms))).alias(
        "window_start_ms"
    )


def downsample(samples_df: DataFrame, step_ms: int = 300_000) -> DataFrame:
    """Roll raw samples up to ``step_ms`` resolution per series.

    Output schema: fingerprint, window_start_ms, n, avg_value, min_value,
    max_value, last_value, date (derived from the window start so writes stay
    partition-aligned).
    """
    return (
        samples_df.groupBy(FINGERPRINT, window_start_ms(step_ms))
        .agg(
            F.count("*").alias("n"),
            F.avg(VALUE).alias("avg_value"),
            F.min(VALUE).alias("min_value"),
            F.max(VALUE).alias("max_value"),
            F.max_by(VALUE, F.col(TIMESTAMP_MS)).alias("last_value"),
        )
        .withColumn(DATE, F.to_date(F.timestamp_millis(F.col("window_start_ms"))))
    )

