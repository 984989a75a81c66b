"""As-of (point-in-time) join and PromQL instant-vector evaluation
(beyond-reference).

Spark has no native ASOF JOIN (DuckDB/Pandas/kdb do); the naive rendering —
a range-condition theta join + per-left-row max — degenerates to a
broadcast-nested-loop O(|L|·|R|) plan. The scalable shape used here is the
classic union-merge: tag both sides, union, then one window per key ordered
by time where ``last(payload, ignorenulls=True)`` carries the most recent
right-side row forward onto every left row. Cost: ONE shuffle on the join
key + a sort within partitions — the same price as a regular join, no
quadratic blow-up, no range-join heuristics. Skewed keys can reuse
operators/skew.py salting upstream.

PromQL's instant-vector semantics (reference behavior: PromHouse delegates
evaluation to Prometheus, which resolves each evaluation timestamp to the
most recent sample within a 5-minute staleness window — see
prometheus/promql/engine.go) is exactly an as-of join of the evaluation
grid against the sample stream with a lookback tolerance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str] | str,
    left_ts: str,
    right_ts: str,
    payload: list[str] | None = None,
    tolerance_ms: int | None = None,
) -> DataFrame:
    """Backward as-of join: every ``left`` row gains the ``payload`` columns
    of the latest ``right`` row with the same key and ``right_ts`` ≤
    ``left_ts`` (ties: the right row at exactly ``left_ts`` matches).
    Rows with no match inside ``tolerance_ms`` keep NULL payloads.

    Output: all left columns + payload columns + ``matched_ts`` (the
    matched right timestamp, NULL when unmatched).
    """
    keys = [on] if isinstance(on, str) else list(on)
    payload = payload or [
        c for c in right.columns if c not in keys and c != right_ts
    ]
    pay = F.struct(
        F.col(right_ts).alias("__ts"), *[F.col(c) for c in payload]
    )
    r = right.select(
        *keys,
        F.col(right_ts).alias("__t"),
        F.lit(0).alias("__side"),
        pay.alias("__pay"),
    )
    l = left.select(
        *keys,
        F.col(left_ts).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__pay"].dataType).alias("__pay"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__lrow"),
    )
    r = r.withColumn(
        "__lrow", F.lit(None).cast(l.schema["__lrow"].dataType)
    ).select("__lrow", *keys, "__t", "__side", "__pay")
    merged = l.select("__lrow", *keys, "__t", "__side", "__pay").unionByName(r)
    # right rows sort before a left row at the same timestamp (__side 0 < 1);
    # the payload struct is the final tie-break so right rows sharing
    # (key, right_ts) resolve identically on every run/partitioning —
    # payload columns must therefore be orderable types
    w = (
        W.partitionBy(*keys)
        .orderBy("__t", "__side", "__pay")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = merged.withColumn(
        "__match", F.last("__pay", ignorenulls=True).over(w)
    ).filter(F.col("__side") == 1)
    match: Column = F.col("__match")
    if tolerance_ms is not None:
        match = F.when(
            F.col("__match.__ts") >= F.col("__t") - F.lit(tolerance_ms), match
        )
    out_cols = [F.col(f"__lrow.{c}").alias(c) for c in left.columns]
    out_cols += [match[c].alias(c) for c in payload]
    out_cols.append(match["__ts"].alias("matched_ts"))
    return carried.select(*out_cols)


def instant_vector(
    samples_df: DataFrame,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    lookback_ms: int = 300_000,
    fingerprints_df: DataFrame | None = None,
) -> DataFrame:
    """PromQL range-query evaluation: for every series and every evaluation
    timestamp on the [start, end] step grid, the most recent sample within
    the staleness ``lookback_ms`` — (fingerprint, eval_ms, value,
    sample_ts_ms); grid points where the series is stale are dropped.

    The grid is |series| × |steps| rows built from a ``sequence`` literal
    crossed with the distinct-series frame — both tiny next to the sample
    stream, and the distinct is the only extra exchange; the as-of itself
    is the one-shuffle union-merge above.

    ``fingerprints_df`` (one column, UNIQUE ``fingerprint`` values covering
    at least the sample stream's fingerprints) replaces the distinct over
    the fact table as the grid source when the caller already has the
    series dimension materialized (the PromQL engine does): extra
    fingerprints with no samples only produce stale grid rows, which the
    final NULL filter drops, so the result is unchanged while the plan
    loses one full fact-table scan + distinct per selector.

    Expects the (fingerprint, timestamp_ms, value) sample shape of the
    PromQL engine's samples frame."""
    grid_ts = F.explode(
        F.sequence(
            F.lit(start_ms), F.lit(end_ms), F.lit(step_ms)
        )
    ).alias("eval_ms")
    fps = (
        fingerprints_df.select("fingerprint")
        if fingerprints_df is not None
        else samples_df.select("fingerprint").distinct()
    )
    grid = fps.select("fingerprint", grid_ts)
    joined = asof_join(
        grid,
        samples_df,
        on="fingerprint",
        left_ts="eval_ms",
        right_ts="timestamp_ms",
        payload=["value"],
        tolerance_ms=lookback_ms,
    )
    return joined.filter(F.col("value").isNotNull()).select(
        "fingerprint",
        "eval_ms",
        "value",
        F.col("matched_ts").alias("sample_ts_ms"),
    )


def gap_fill(
    samples_df: DataFrame,
    start_ms: int,
    end_ms: int,
    step_ms: int,
    method: str = "linear",
    max_gap_ms: int | None = None,
) -> DataFrame:
    """Grid gap-filling over the sample stream — the TimescaleDB
    ``time_bucket_gapfill``/``interpolate``/``locf`` shape, rendered with
    the same one-shuffle union-merge as ``asof_join`` but carrying BOTH
    neighbors in a single window pass: ``last(ignorenulls)`` over the
    preceding frame (previous sample) and ``first(ignorenulls)`` over the
    following frame (next sample).

    - ``method="locf"``: last observation carried forward; a grid point
      more than ``max_gap_ms`` past the previous sample stays NULL.
    - ``method="linear"``: linear interpolation between the straddling
      samples; grid points before the first or after the last sample of a
      series stay NULL (no extrapolation). A sample exactly on the grid
      timestamp is returned verbatim (the interpolation weight degenerates
      to 0).

    Output: (fingerprint, eval_ms, value) — value NULL where unfillable.

    Tie subtlety: right rows sort before left rows at the same timestamp,
    so an on-grid sample lands in the PRECEDING frame; the following frame
    then sees the strictly-next sample, which the t == t_prev degenerate
    weight makes irrelevant."""
    if method not in ("locf", "linear"):
        raise ValueError(f"unknown gap_fill method: {method}")
    pay_t = "struct<__ts:bigint,v:double>"
    grid = (
        samples_df.select("fingerprint")
        .distinct()
        .select(
            "fingerprint",
            F.explode(
                F.sequence(F.lit(start_ms), F.lit(end_ms), F.lit(step_ms))
            ).alias("__t"),
            F.lit(1).alias("__side"),
            F.lit(None).cast(pay_t).alias("__pay"),
        )
    )
    right = samples_df.select(
        "fingerprint",
        F.col("timestamp_ms").alias("__t"),
        F.lit(0).alias("__side"),
        F.struct(
            F.col("timestamp_ms").alias("__ts"),
            F.col("value").cast("double").alias("v"),
        ).alias("__pay"),
    )
    # __pay tie-break: right rows sharing a timestamp resolve
    # deterministically (see asof_join)
    base = W.partitionBy("fingerprint").orderBy("__t", "__side", "__pay")
    prev = F.last("__pay", ignorenulls=True).over(
        base.rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    nxt = F.first("__pay", ignorenulls=True).over(
        base.rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    carried = (
        grid.unionByName(right)
        .select("fingerprint", "__t", "__side", prev.alias("__prev"), nxt.alias("__next"))
        .filter(F.col("__side") == 1)
    )
    p_ts, p_v = F.col("__prev.__ts"), F.col("__prev.v")
    n_ts, n_v = F.col("__next.__ts"), F.col("__next.v")
    if method == "locf":
        value = p_v
        if max_gap_ms is not None:
            value = F.when(p_ts >= F.col("__t") - F.lit(max_gap_ms), p_v)
    else:
        w = (F.col("__t") - p_ts) / F.nullif(n_ts - p_ts, F.lit(0))
        value = F.when(F.col("__t") == p_ts, p_v).otherwise(
            p_v + (n_v - p_v) * w
        )
    return carried.select(
        "fingerprint", F.col("__t").alias("eval_ms"), value.alias("value")
    )
