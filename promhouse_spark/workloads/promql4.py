"""Compiled-PromQL workloads: real PromQL TEXT through the parser +
compiler (promhouse_spark/promql/) with DuckDB oracles replaying the same
semantics in SQL — the end-to-end differential proof that the front-end
compiles to correct plans, not just that the underlying operators work.

The series model maps the events stream to Prometheus shape: one series
per (user, event_type) with labels {__name__: "events", user, type},
fingerprint "user:type". Grid and lookback shared with workloads/promql2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from promhouse_spark.workloads.promql2 import (
    _END_MS,
    _SAMPLES_CTE,
    _START_MS,
    _STEP_MS,
    _engine,
    _extrapolated_cte,
    _vec_ctes,
    _windows_cte,
)


def ph_promql_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical first PromQL query, compiled from text:
    ``sum by (user) (events{type="error"}) / on(user) sum by (user)
    (events)`` — aggregation, vector matching, and division all chosen by
    the parser, not hand-assembled."""
    eng = _engine(spark, sf_dir)
    out = eng.eval(
        'sum by (user) (events{type="error"}) / on(user) sum by (user) (events)'
    )
    return out.select(
        F.element_at("labels", "user").cast("long").alias("user_id"),
        "eval_ms",
        F.round("value", 4).alias("err_share"),
    ).orderBy("user_id", "eval_ms")


PH_PROMQL_RATIO_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")},
num AS (
  SELECT user_id, eval_ms, sum(value) AS v FROM utvec
  WHERE event_type = 'error' GROUP BY 1, 2
),
den AS (
  SELECT user_id, eval_ms, sum(value) AS s FROM utvec GROUP BY 1, 2
)
SELECT n.user_id, n.eval_ms, round(n.v / d.s, 4) AS err_share
FROM num n JOIN den d USING (user_id, eval_ms)
ORDER BY user_id, eval_ms
"""


_RANGE_MS = 12 * 3600 * 1000


def ph_promql_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sum by (type) (rate(events[12h]))`` compiled from text: TRUE
    sliding-window extrapolated rate (12 h window sliding on the 1 h grid —
    not a tumbling approximation) summed across users per type. The oracle
    replays Prometheus's extrapolatedRate per (series, eval) via an
    inequality join in SQL."""
    eng = _engine(spark, sf_dir)
    out = eng.eval("sum by (type) (rate(events[12h]))")
    return out.select(
        F.element_at("labels", "type").alias("event_type"),
        "eval_ms",
        F.round("value", 6).alias("rate_sum"),
    ).orderBy("event_type", "eval_ms")


PH_PROMQL_RATE_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_RANGE_MS)},
{_extrapolated_cte(_RANGE_MS, as_rate=True)}
SELECT event_type, eval_ms, round(sum(value), 6) AS rate_sum
FROM xr GROUP BY 1, 2
ORDER BY event_type, eval_ms
"""


def ph_promql_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``topk(2, events) by (type)`` compiled from text: the two
    highest-valued user series per event type and grid hour, original
    labels kept (as PromQL topk does)."""
    eng = _engine(spark, sf_dir)
    out = eng.eval("topk(2, events) by (type)")
    return out.select(
        F.element_at("labels", "type").alias("event_type"),
        "eval_ms",
        F.element_at("labels", "user").cast("long").alias("user_id"),
        F.round("value", 6).alias("value"),
    ).orderBy("event_type", "eval_ms", F.desc("value"), "user_id")


PH_PROMQL_TOPK_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")},
ranked AS (
  SELECT event_type, eval_ms, user_id, value,
         row_number() OVER (
           PARTITION BY event_type, eval_ms
           ORDER BY value DESC, CAST(user_id AS VARCHAR)
         ) AS rk
  FROM utvec
)
SELECT event_type, eval_ms, user_id, round(value, 6) AS value
FROM ranked WHERE rk <= 2
ORDER BY event_type, eval_ms, value DESC, user_id
"""


QUERIES = {
    "ph_promql_ratio": ph_promql_ratio,
    "ph_promql_rate": ph_promql_rate,
    "ph_promql_topk": ph_promql_topk,
}

ORACLES = {
    "ph_promql_ratio": PH_PROMQL_RATIO_SQL,
    "ph_promql_rate": PH_PROMQL_RATE_SQL,
    "ph_promql_topk": PH_PROMQL_TOPK_SQL,
}


_SUB_RANGE_MS = 6 * 3600 * 1000


def ph_promql_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``max_over_time(sum by (user) (events)[6h:1h])`` compiled from
    text: the subquery evaluates the per-user instant sum on the hourly
    fine grid extended 6 h before the range start, and the outer
    max_over_time slides over those points — the rolling-peak-of-an-
    aggregate query subqueries exist for."""
    eng = _engine(spark, sf_dir)
    out = eng.eval("max_over_time(sum by (user) (events)[6h:1h])")
    return out.select(
        F.element_at("labels", "user").cast("long").alias("user_id"),
        "eval_ms",
        F.round("value", 4).alias("peak_sum"),
    ).orderBy("user_id", "eval_ms")


PH_PROMQL_SUBQUERY_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes(
    "utvec", "TRUE", "user_id, event_type",
    grid_sql=f"generate_series({_START_MS - _SUB_RANGE_MS}, {_END_MS}, {_STEP_MS})",
)},
inner_vec AS (
  SELECT user_id, eval_ms, sum(value) AS v
  FROM utvec GROUP BY 1, 2
),
outer_grid AS (
  SELECT unnest(generate_series({_START_MS}, {_END_MS}, {_STEP_MS})) AS t
)
SELECT i.user_id, g.t AS eval_ms, round(max(i.v), 4) AS peak_sum
FROM outer_grid g JOIN inner_vec i
  ON i.eval_ms <= g.t AND i.eval_ms > g.t - {_SUB_RANGE_MS}
GROUP BY i.user_id, g.t
ORDER BY user_id, eval_ms
"""


QUERIES["ph_promql_subquery"] = ph_promql_subquery
ORACLES["ph_promql_subquery"] = PH_PROMQL_SUBQUERY_SQL
