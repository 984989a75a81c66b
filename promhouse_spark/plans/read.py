"""Read-path plan builders (O1-O5) as DataFrame compositions.

The reference's read path (``storages/clickhouse/clickhouse.go:390-420``):
matchers → fingerprint set over the registry, then either an ``IN``-list
(≤ 50 series, ``clickhouse.go:282-308``) or a temp-table ``ANY INNER JOIN``
semi-join (``clickhouse.go:310-370``), always with the inclusive time-range
predicate and ``ORDER BY fingerprint, timestamp_ms``.

Spark-first shape: every step is declarative so Catalyst keeps predicate
pushdown / partition pruning / broadcast decisions; the hand-rolled strategy
switch at threshold 50 (``clickhouse.go:409-412``) maps onto ``isin`` literal
pushdown for tiny sets (reaches parquet row-group pruning) and a left-semi
broadcast join otherwise (AQE picks shuffle variants if the series set is ever
huge). At 100 TB the win comes from the derived day-partition predicate:
``timestamp_ms`` bounds are re-derived as ``date`` bounds so the scan prunes
day partitions before reading a byte.
"""

from __future__ import annotations

import json
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, functions as F

from promhouse_spark.models import Matcher
from promhouse_spark.operators.matchers import matchers_to_column
from promhouse_spark.schemas import DATE, FINGERPRINT, LABELS, TIMESTAMP_MS

# The IN-list ↔ semi-join switch for remote read and PromQL alike (the
# reference defaults to 50, cmd/promhouse/main.go:198). The IN filter is
# one SQL expression; a remote read over a 5k-series store (local[2],
# warm median) took 0.41/0.39 s at 50 series (IN/semi-join), 0.35/0.40 s
# at 200, 0.66/0.57 s at 1k and 1.88/1.70 s at 5k.
DEFAULT_MAX_SERIES_INLIST = 200


def select_series(registry_df: DataFrame, matchers: Sequence[Matcher]) -> DataFrame:
    """O2: matcher resolution over the registry → [fingerprint, labels].

    Distributed equivalent of the reference's in-memory map scan
    (``clickhouse.go:396-404``) — survives a registry too big for one node.
    """
    return registry_df.filter(matchers_to_column(matchers, LABELS)).select(
        FINGERPRINT, LABELS
    )


def samples_in_range(samples_df: DataFrame, start_ms: int, end_ms: int) -> DataFrame:
    """F2: inclusive-both-ends time predicate (``clickhouse.go:285-291``),
    plus the re-derived day-partition predicate so partition pruning fires on
    the date-partitioned fact table (SURVEY §4 pushdown row)."""
    cond = (F.col(TIMESTAMP_MS) >= start_ms) & (F.col(TIMESTAMP_MS) <= end_ms)
    if DATE in samples_df.columns:
        start_d = F.to_date(F.timestamp_millis(F.lit(start_ms)))
        end_d = F.to_date(F.timestamp_millis(F.lit(end_ms)))
        cond = cond & (F.col(DATE) >= start_d) & (F.col(DATE) <= end_d)
    return samples_df.filter(cond)


def apply_tombstones(
    df: DataFrame,
    tombstones: DataFrame,
    key_col: str = FINGERPRINT,
    ts_col: str = TIMESTAMP_MS,
) -> DataFrame:
    """Mask tombstoned (key, time-interval) cells out of a fact frame — the
    Prometheus-TSDB delete model (tombstones mark, a later clean rewrites)
    as one declarative op. ``tombstones`` carries (``key_col``, ``min_ms``,
    ``max_ms``) rows.

    Shape: equi-keyed LEFT ANTI join on the key with the interval test as
    the residual condition — Catalyst auto-broadcasts a small tombstone
    side (one hash probe per fact row, NO shuffle of the fact table) and
    degrades to sort-merge for pathological delete sets instead of OOMing
    the driver.
    """
    t = tombstones.select(
        F.col(key_col).alias("__t_key"), "min_ms", "max_ms"
    )
    cond = (
        (df[key_col] == t["__t_key"])
        & (df[ts_col] >= t["min_ms"])
        & (df[ts_col] <= t["max_ms"])
    )
    return df.join(t, cond, "left_anti")


def restrict_to_series(
    samples_df: DataFrame,
    fingerprints: Iterable[int] | DataFrame,
    max_inlist: int = DEFAULT_MAX_SERIES_INLIST,
) -> DataFrame:
    """J1/J2/J3: restrict the fact scan to the matched series set.

    - list of ≤ ``max_inlist`` fingerprints → an ``IN`` filter (reaches the
      parquet reader as an IN filter — the reference's
      ``WHERE fingerprint IN (...)``, ``clickhouse.go:288``). It is built
      as one SQL expression over the integers, a single py4j call where
      ``Column.isin`` makes one per fingerprint;
    - otherwise → left-semi join against a fingerprint frame
      (the reference's temp-table ``ANY INNER JOIN``,
      ``clickhouse.go:352-358``). A list becomes a plan-local relation
      (one JSON literal, no RDD), so the planner sees its size. No forced
      broadcast: an empty-matcher select-all makes the matched set the
      whole registry, so the join strategy is left to AQE, which
      broadcasts when the size statistics say it fits and shuffles
      otherwise.
    """
    if isinstance(fingerprints, DataFrame):
        # a semi-join keeps each left row once however often its key repeats
        return samples_df.join(fingerprints.select(FINGERPRINT), FINGERPRINT, "left_semi")
    fps = sorted({int(f) for f in fingerprints})
    if not fps:
        return samples_df.filter(F.lit(False))
    if len(fps) <= max_inlist:
        return samples_df.filter(F.expr(f"{FINGERPRINT} IN ({','.join(map(str, fps))})"))
    fp_df = samples_df.sparkSession.range(1).select(
        F.explode(F.from_json(F.lit(json.dumps(fps)), "array<bigint>")).alias(FINGERPRINT)
    )
    return samples_df.join(fp_df, FINGERPRINT, "left_semi")


def group_into_series(samples_df: DataFrame) -> DataFrame:
    """A1/T1: fold sample rows into one row per series with time-sorted
    samples — the reference's streaming sort-aggregate
    (``clickhouse.go:235-280``) expressed as a hash aggregate +
    ``sort_array`` (order guaranteed by the sort, not by scan order, so it
    parallelizes without a global sort)."""
    return samples_df.groupBy(FINGERPRINT).agg(
        F.sort_array(F.collect_list(F.struct(TIMESTAMP_MS, "value"))).alias("samples")
    )
