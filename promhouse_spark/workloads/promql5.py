"""Compiled-PromQL workloads, round 7: the scalar-vector matching path,
IEEE NaN float semantics, and compiled ``absent_over_time`` — the three
behaviors the engine gained this round, each proven differentially against
a DuckDB replay (the same model as workloads/promql4).

Series model shared with promql4: one series per (user, event_type) over
the events stream, labels {__name__: "events", user, type}.

Inf stays out of registered outputs deliberately: the driver's float
normalizer int-casts integral floats, which overflows on ±Inf — the
±Inf/0-division semantics are pinned by tests/test_promql_compile.py
instead. NaN normalizes cleanly on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from promhouse_spark.session import load_table
from promhouse_spark.workloads.promql2 import (
    _END_MS,
    _LOOKBACK_MS,
    _SAMPLES_CTE,
    _START_MS,
    _STEP_MS,
    _engine,
    _vec_ctes,
)


def ph_promql_scalar_div(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sum by (type) (events) / scalar(sum(events))`` compiled from text:
    each event type's share of the whole corpus per grid hour. scalar() as
    a binary-op operand takes scalar-vector matching (join on evaluation
    time ONLY — promql/engine.go VectorscalarBinop); empty-labels vector
    matching would return zero rows here."""
    eng = _engine(spark, sf_dir)
    out = eng.eval("sum by (type) (events) / scalar(sum(events))")
    return out.select(
        F.element_at("labels", "type").alias("event_type"),
        "eval_ms",
        F.round("value", 4).alias("share"),
    ).orderBy("event_type", "eval_ms")


PH_PROMQL_SCALAR_DIV_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")},
num AS (
  SELECT event_type, eval_ms, sum(value) AS v FROM utvec GROUP BY 1, 2
),
den AS (
  SELECT eval_ms, sum(value) AS s FROM utvec GROUP BY 1
)
SELECT n.event_type, n.eval_ms, round(n.v / d.s, 4) AS share
FROM num n JOIN den d USING (eval_ms)
ORDER BY event_type, eval_ms
"""


def ph_promql_absent_ot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``absent_over_time(events{user="7", type="error"}[1h])`` compiled
    from text: the grid hours whose trailing 1 h window (t-1h, t] holds NO
    error event from user 7 — the per-series scrape-loss probe, served
    straight from the PromQL front-end."""
    eng = _engine(spark, sf_dir)
    out = eng.eval('absent_over_time(events{user="7", type="error"}[1h])')
    return out.select(
        "eval_ms", F.col("value").cast("long").alias("absent")
    ).orderBy("eval_ms")


_ABS_RANGE_MS = 3600 * 1000

PH_PROMQL_ABSENT_OT_SQL = f"""
WITH {_SAMPLES_CTE},
grid AS (
  SELECT unnest(generate_series({_START_MS}, {_END_MS}, {_STEP_MS})) AS eval_ms
),
present AS (
  SELECT DISTINCT g.eval_ms
  FROM grid g JOIN samples s
    ON s.user_id = 7 AND s.event_type = 'error'
   AND s.ts_ms > g.eval_ms - {_ABS_RANGE_MS} AND s.ts_ms <= g.eval_ms
)
SELECT g.eval_ms, CAST(1 AS BIGINT) AS absent
FROM grid g ANTI JOIN present p USING (eval_ms)
ORDER BY eval_ms
"""


def ph_promql_nan_div(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sum by (type) (events) * 0 / 0`` compiled from text: 0/0 is IEEE
    NaN per series and evaluation — PromQL float semantics, where Spark's
    non-ANSI division would have produced NULL. The oracle emits literal
    NaN for the same (type, eval) grid; both normalize to the same hash
    token."""
    eng = _engine(spark, sf_dir)
    out = eng.eval("sum by (type) (events) * 0 / 0")
    return out.select(
        F.element_at("labels", "type").alias("event_type"),
        "eval_ms",
        "value",
    ).orderBy("event_type", "eval_ms")


PH_PROMQL_NAN_DIV_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")}
SELECT DISTINCT event_type, eval_ms, CAST('NaN' AS DOUBLE) AS value
FROM utvec
ORDER BY event_type, eval_ms
"""


_RULE_LOOKBACK_MS = 6 * 3600 * 1000


def ph_rule_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recording-rule machinery pinned end-to-end (the batch twin of
    streaming/rules.py, differential-tested against the engine in
    tests/test_streaming_rules.py): rule ``sum by (type) (events)``
    compiled → per-series instant evaluation (last sample in the 6 h
    staleness window per epoch-aligned hour) → label-dimension sum →
    ``__name__`` stamped with the record name. The oracle replays the
    identical window/last/sum/stamp chain in SQL."""
    from promhouse_spark.streaming.rules import (
        compile_streaming_rule,
        recorded_frame,
        rule_series_frame,
    )

    ev = load_table(spark, sf_dir, "events")
    fp = F.concat_ws(":", F.col("user_id"), F.col("event_type"))
    samples = ev.select(
        fp.alias("fingerprint"),
        F.unix_millis("ts").alias("timestamp_ms"),
        "value",
    )
    series = (
        ev.select("user_id", "event_type")
        .distinct()
        .select(
            fp.alias("fingerprint"),
            F.create_map(
                F.lit("__name__"), F.lit("events"),
                F.lit("user"), F.col("user_id").cast("string"),
                F.lit("type"), F.col("event_type"),
            ).alias("labels"),
        )
    )
    rule = compile_streaming_rule(
        "type:events:sum", "sum by (type) (events)", lookback_ms=_RULE_LOOKBACK_MS
    )
    per = rule_series_frame(samples, series, rule, step_ms=_STEP_MS)
    rec = recorded_frame(per, series, rule)
    return rec.select(
        F.element_at("labels", "__name__").alias("record_name"),
        F.element_at("labels", "type").alias("event_type"),
        "timestamp_ms",
        F.round("value", 4).alias("value"),
    ).orderBy("event_type", "timestamp_ms")


PH_RULE_RECORD_SQL = f"""
WITH {_SAMPLES_CTE},
bounds AS (
  SELECT CAST(ceil(min(ts_ms) / {_STEP_MS}.0) AS BIGINT) * {_STEP_MS} AS lo,
         CAST(floor((max(ts_ms) + {_RULE_LOOKBACK_MS} - 1) / {_STEP_MS}.0) AS BIGINT)
           * {_STEP_MS} AS hi
  FROM samples
),
grid AS (
  SELECT unnest(generate_series(bounds.lo, bounds.hi, {_STEP_MS})) AS eval_ms
  FROM bounds
),
lastv AS (
  SELECT user_id, event_type, eval_ms, value FROM (
    SELECT s.user_id, s.event_type, g.eval_ms, s.value,
           row_number() OVER (
             PARTITION BY s.user_id, s.event_type, g.eval_ms
             ORDER BY s.ts_ms DESC, s.value DESC
           ) AS rn
    FROM samples s JOIN grid g
      ON s.ts_ms <= g.eval_ms AND s.ts_ms > g.eval_ms - {_RULE_LOOKBACK_MS}
  ) WHERE rn = 1
)
SELECT 'type:events:sum' AS record_name, event_type,
       eval_ms AS timestamp_ms, round(sum(value), 4) AS value
FROM lastv
GROUP BY event_type, eval_ms
ORDER BY event_type, timestamp_ms
"""


QUERIES = {
    "ph_promql_scalar_div": ph_promql_scalar_div,
    "ph_promql_absent_ot": ph_promql_absent_ot,
    "ph_promql_nan_div": ph_promql_nan_div,
    "ph_rule_record": ph_rule_record,
}

ORACLES = {
    "ph_promql_scalar_div": PH_PROMQL_SCALAR_DIV_SQL,
    "ph_promql_absent_ot": PH_PROMQL_ABSENT_OT_SQL,
    "ph_promql_nan_div": PH_PROMQL_NAN_DIV_SQL,
    "ph_rule_record": PH_RULE_RECORD_SQL,
}


_ROLL_R_MS = 3600 * 1000        # 1 h rollup windows
_ROLL_RANGE_MS = 4 * 3600 * 1000  # avg_over_time range (4 whole windows)


def ph_rollup_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation pushdown pinned through the driver gate:
    ``avg_over_time(events[4h])`` answered EXACTLY from hourly rollup
    partials (streaming/rollup.rollup_range_agg) — sum-of-sums over
    count-of-counts per sliding window, never a raw-sample scan. The
    oracle computes the identical closed-open-window average directly
    over the samples, proving the partial-merge path is exact."""
    from promhouse_spark.streaming.rollup import downsample_partial, rollup_range_agg

    ev = load_table(spark, sf_dir, "events")
    fp = F.concat_ws(":", F.col("user_id"), F.col("event_type"))
    samples = ev.select(
        fp.alias("fingerprint"),
        F.unix_millis("ts").alias("timestamp_ms"),
        "value",
    )
    partials = downsample_partial(samples, _ROLL_R_MS)
    out = rollup_range_agg(
        partials, _ROLL_R_MS, "avg_over_time", _ROLL_RANGE_MS, _STEP_MS
    ).filter(
        (F.col("eval_ms") >= _START_MS) & (F.col("eval_ms") <= _END_MS)
    )
    parts = F.split("fingerprint", ":")
    return out.select(
        parts[0].cast("long").alias("user_id"),
        parts[1].alias("event_type"),
        "eval_ms",
        F.round("value", 4).alias("avg_v"),
    ).orderBy("user_id", "event_type", "eval_ms")


PH_ROLLUP_PUSHDOWN_SQL = f"""
WITH {_SAMPLES_CTE},
grid AS (
  SELECT unnest(generate_series({_START_MS}, {_END_MS}, {_STEP_MS})) AS eval_ms
)
SELECT s.user_id, s.event_type, g.eval_ms, round(avg(s.value), 4) AS avg_v
FROM samples s JOIN grid g
  ON s.ts_ms >= g.eval_ms - {_ROLL_RANGE_MS} AND s.ts_ms < g.eval_ms
GROUP BY 1, 2, 3
ORDER BY user_id, event_type, eval_ms
"""


QUERIES["ph_rollup_pushdown"] = ph_rollup_pushdown
ORACLES["ph_rollup_pushdown"] = PH_ROLLUP_PUSHDOWN_SQL


_TS_OFFSET_MS = 3600 * 1000  # timestamp() under a 1 h offset


def ph_promql_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``timestamp(events{type="error"} offset 1h)`` compiled from text:
    per user and grid hour, the RAW timestamp of the as-of error sample
    one hour back (engine.go rangeEvalTimestampFunctionOverVectorSelector
    — offset shifts the LOOKUP, the reported timestamp stays the sample's
    own). Reported as epoch millis (BIGINT) for hash stability; immune to
    same-ts value ties because the output IS the timestamp."""
    eng = _engine(spark, sf_dir)
    out = eng.eval('timestamp(events{type="error"} offset 1h)')
    return out.select(
        F.element_at("labels", "user").cast("long").alias("user_id"),
        "eval_ms",
        (F.col("value") * 1000).cast("long").alias("sample_ts_ms"),
    ).orderBy("user_id", "eval_ms")


PH_PROMQL_TIMESTAMP_SQL = f"""
WITH {_SAMPLES_CTE},
err AS (
  SELECT user_id, ts_ms, ts_ms + {_TS_OFFSET_MS} AS ts_shift
  FROM samples WHERE event_type = 'error'
),
grid AS (
  SELECT u.user_id, gg.eval_ms
  FROM (SELECT DISTINCT user_id FROM err) u
  CROSS JOIN (
    SELECT unnest(generate_series({_START_MS}, {_END_MS}, {_STEP_MS})) AS eval_ms
  ) gg
),
asof_raw AS MATERIALIZED (
  SELECT g.user_id, g.eval_ms, s.ts_ms
  FROM grid g ASOF JOIN err s
    ON g.user_id = s.user_id AND g.eval_ms >= s.ts_shift
)
SELECT user_id, eval_ms, ts_ms AS sample_ts_ms
FROM asof_raw
WHERE ts_ms + {_TS_OFFSET_MS} >= eval_ms - {_LOOKBACK_MS}
ORDER BY user_id, eval_ms
"""


QUERIES["ph_promql_timestamp"] = ph_promql_timestamp
ORACLES["ph_promql_timestamp"] = PH_PROMQL_TIMESTAMP_SQL
