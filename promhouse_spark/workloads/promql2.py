"""PromQL-semantics workloads, second wave: instant-vector evaluation via
the as-of join (operators/asof.py), grid gap-filling, label_replace /
label_join (functions/labels.py), and the range functions — ``deriv``,
``predict_linear``, ``quantile_over_time``, ``holt_winters``, ``rate``,
``avg_over_time`` — plus alerting-rule interval replay, ``count_values``
and ``absent_over_time``, each compiled from PromQL text by
promql/engine.py, the evaluator ``/api/v1/query_range`` serves.

The instant-vector and gap-fill oracles run DuckDB's NATIVE ``ASOF JOIN``
— a genuinely independent mechanism from the union-merge window rendering
on the Spark side, so a hash match there validates the as-of semantics,
not just the arithmetic. The range-function oracles replay Prometheus's
sliding (t − range, t] windows with an inequality join
(:func:`_windows_cte`).

Shared with the later PromQL waves: the evaluation grid, the compiled
series model (:func:`_engine`: one series per (user, event_type) with
labels {__name__: "events", user, type}) and the DuckDB replay CTEs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from promhouse_spark.operators.asof import instant_vector
from promhouse_spark.promql import PromQLEngine
from promhouse_spark.promql.alerts import alert_intervals_promql
from promhouse_spark.session import load_table

# the events table spans 2024-01-01..2024-01-30 (~3 samples/user/day at
# sf0.01); evaluate a 2-day grid at 1 h steps starting Jan 2 so every grid
# point has history behind it, with a 6 h staleness lookback to match the
# sparse cadence
_START_MS = 1704153600000  # 2024-01-02T00:00:00Z
_END_MS = _START_MS + 48 * 3600 * 1000
_STEP_MS = 3600 * 1000
_LOOKBACK_MS = 6 * 3600 * 1000
# the range of the compiled range functions: a (user, type) series holds
# ~0.4 samples a day, so a day is the shortest window that often holds the
# two samples most of them need
_DAY_MS = 24 * 3600 * 1000

_GRID_SQL = f"generate_series({_START_MS}, {_END_MS}, {_STEP_MS})"


def _samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.col("user_id").alias("fingerprint"),
        F.unix_millis(F.col("ts")).alias("timestamp_ms"),
        F.col("value"),
    )


def _engine(spark: SparkSession, sf_dir: str) -> PromQLEngine:
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
    return PromQLEngine(
        samples, series, _START_MS, _END_MS, _STEP_MS, _LOOKBACK_MS
    )


def _by_series(out: DataFrame, *cols: Column | str) -> DataFrame:
    """A compiled per-series result as (user_id, event_type, eval_ms,
    *cols), in that order."""
    return out.select(
        F.element_at("labels", "user").cast("long").alias("user_id"),
        F.element_at("labels", "type").alias("event_type"),
        "eval_ms",
        *cols,
    ).orderBy("user_id", "event_type", "eval_ms")


_SAMPLES_CTE = """samples AS (
  SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, value FROM events
)"""


def _vec_ctes(
    alias: str, pred: str, grid_key: str = "user_id", grid_sql: str | None = None
) -> str:
    """DuckDB instant-vector replay as a CTE pair: distinct-series × grid
    through the native ASOF JOIN, MATERIALIZED so DuckDB 1.0 cannot push
    the staleness WHERE into the join (it would reject it as a second ASOF
    inequality), then the lookback filter. ``pred`` filters the sample
    stream; ``alias`` names the filtered vector; ``grid_sql`` overrides the
    evaluation grid (subquery oracles use a finer/extended one)."""
    keys = [k.strip() for k in grid_key.split(",")]
    on = " AND ".join(f"g.{k} = s.{k}" for k in keys)
    gsel = ", ".join(f"u.{k}" for k in keys)
    grid_sql = grid_sql or _GRID_SQL
    return f"""{alias}_raw AS MATERIALIZED (
  SELECT g.*, s.value, s.ts_ms
  FROM (
    SELECT {gsel}, gg.eval_ms
    FROM (SELECT DISTINCT {grid_key} FROM samples WHERE {pred}) u
    CROSS JOIN (SELECT unnest({grid_sql}) AS eval_ms) gg
  ) g ASOF JOIN (SELECT * FROM samples WHERE {pred}) s
    ON {on} AND g.eval_ms >= s.ts_ms
),
{alias} AS (
  SELECT * FROM {alias}_raw WHERE ts_ms >= eval_ms - {_LOOKBACK_MS}
)"""


def _windows_cte(range_ms: int) -> str:
    """DuckDB replay of the engine's range windows (``_explode_to_grid``),
    as CTEs after :data:`_SAMPLES_CTE`: ``grid`` holds the evaluation
    times, and ``rf`` one row per (series, eval_ms, sample in
    (eval_ms − range, eval_ms]) with the sample's predecessor in its window
    (``prev``, ``prev_ts``), its 1-based place ``i`` and the window's size
    ``n``, in the engine's (ts, value) order."""
    return f"""grid AS (
  SELECT unnest({_GRID_SQL}) AS eval_ms
),
rf AS (
  SELECT s.user_id, s.event_type, g.eval_ms, s.ts_ms, s.value,
         lag(s.value) OVER w AS prev, lag(s.ts_ms) OVER w AS prev_ts,
         row_number() OVER w AS i,
         count(*) OVER (PARTITION BY s.user_id, s.event_type, g.eval_ms) AS n
  FROM samples s JOIN grid g
    ON s.ts_ms <= g.eval_ms AND s.ts_ms > g.eval_ms - {range_ms}
  WINDOW w AS (PARTITION BY s.user_id, s.event_type, g.eval_ms
               ORDER BY s.ts_ms, s.value)
)"""


def _extrapolated_cte(range_ms: int, as_rate: bool) -> str:
    """``xr``: ``rate()`` (``as_rate``) or ``increase()`` per (series,
    eval_ms) over :func:`_windows_cte` — Prometheus's extrapolatedRate
    (promql/functions.go): reset-aware growth from the first to the last
    sample, extrapolated to the window edges unless a sample sits further
    than 1.1 average intervals from its edge, the head clamped at the
    counter's zero crossing BEFORE that check. The arithmetic runs in the
    order of the engine's ``_extrapolated``."""
    per_s = f" / {range_ms / 1000.0}" if as_rate else ""
    return f"""agg AS (
  SELECT user_id, event_type, eval_ms,
         sum(CASE WHEN prev IS NULL THEN 0.0
                  WHEN value >= prev THEN value - prev
                  ELSE value END) AS delta,
         min(ts_ms) AS first_ts, max(ts_ms) AS last_ts,
         (min({{'t': ts_ms, 'v': value}})).v AS first_v,
         count(*) AS cnt
  FROM rf GROUP BY 1, 2, 3
  HAVING count(*) >= 2 AND max(ts_ms) > min(ts_ms)
),
ext AS (
  SELECT user_id, event_type, eval_ms, delta, first_v,
         CAST(last_ts - first_ts AS DOUBLE) AS sampled,
         CAST(last_ts - first_ts AS DOUBLE) / (cnt - 1) AS avg_iv,
         CAST(first_ts - (eval_ms - {range_ms}) AS DOUBLE) AS to_start,
         CAST(eval_ms - last_ts AS DOUBLE) AS to_end
  FROM agg
),
zeroed AS (
  SELECT user_id, event_type, eval_ms, delta, sampled, avg_iv, to_end,
         CASE WHEN delta > 0 AND first_v >= 0
               AND sampled * (first_v / nullif(delta, 0.0)) < to_start
              THEN sampled * (first_v / nullif(delta, 0.0))
              ELSE to_start
         END AS to_start_c
  FROM ext
),
xr AS (
  SELECT user_id, event_type, eval_ms,
         delta * (sampled
                  + CASE WHEN to_start_c >= avg_iv * 1.1 THEN avg_iv / 2 ELSE to_start_c END
                  + CASE WHEN to_end >= avg_iv * 1.1 THEN avg_iv / 2 ELSE to_end END)
           / sampled{per_s} AS value
  FROM zeroed
)"""


def ph_instant_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Instant-vector evaluation: per (series, grid hour) the most recent
    sample within a 6 h staleness lookback — PromQL's point-in-time read,
    rendered as the one-shuffle union-merge as-of join."""
    out = instant_vector(
        _samples(spark, sf_dir), _START_MS, _END_MS, _STEP_MS, _LOOKBACK_MS
    )
    return out.select(
        F.col("fingerprint").alias("user_id"),
        "eval_ms",
        F.round("value", 6).alias("value"),
        "sample_ts_ms",
    ).orderBy("user_id", "eval_ms")


PH_INSTANT_VECTOR_SQL = f"""
WITH samples AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
),
grid AS (
  SELECT u.user_id, g.eval_ms
  FROM (SELECT DISTINCT user_id FROM samples) u
  CROSS JOIN (
    SELECT unnest(generate_series({_START_MS}, {_END_MS}, {_STEP_MS})) AS eval_ms
  ) g
),
joined AS MATERIALIZED (
  -- MATERIALIZED: DuckDB 1.0 would otherwise push the staleness WHERE into
  -- the join and reject it as a second ASOF inequality
  SELECT g.user_id, g.eval_ms, round(s.value, 6) AS value, s.ts_ms AS sample_ts_ms
  FROM grid g ASOF JOIN samples s
    ON g.user_id = s.user_id AND g.eval_ms >= s.ts_ms
)
SELECT * FROM joined
WHERE sample_ts_ms >= eval_ms - {_LOOKBACK_MS}
ORDER BY user_id, eval_ms
"""


def ph_deriv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``deriv(events[1d])``: per series and grid hour, the least-squares
    slope of the trailing day's samples in value per second."""
    out = _engine(spark, sf_dir).eval("deriv(events[1d])")
    return _by_series(out, F.round("value", 9).alias("slope_per_sec"))


PH_DERIV_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)}
SELECT user_id, event_type, eval_ms,
       round(regr_slope(value, (ts_ms - eval_ms) / 1000.0), 9) AS slope_per_sec
FROM rf
GROUP BY 1, 2, 3
HAVING regr_slope(value, (ts_ms - eval_ms) / 1000.0) IS NOT NULL
ORDER BY user_id, event_type, eval_ms
"""


def ph_predict_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``predict_linear(events[1d], 3600)``: the trailing day's fit
    extrapolated one hour past each evaluation — the capacity-alerting
    primitive."""
    out = _engine(spark, sf_dir).eval("predict_linear(events[1d], 3600)")
    return _by_series(out, F.round("value", 4).alias("predicted"))


PH_PREDICT_LINEAR_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)},
fit AS (
  SELECT user_id, event_type, eval_ms,
         regr_intercept(value, (ts_ms - eval_ms) / 1000.0)
           + regr_slope(value, (ts_ms - eval_ms) / 1000.0) * 3600.0 AS predicted
  FROM rf GROUP BY 1, 2, 3
)
SELECT user_id, event_type, eval_ms, round(predicted, 4) AS predicted
FROM fit WHERE predicted IS NOT NULL
ORDER BY user_id, event_type, eval_ms
"""


QUERIES = {
    "ph_instant_vector": ph_instant_vector,
    "ph_deriv": ph_deriv,
    "ph_predict_linear": ph_predict_linear,
}

ORACLES = {
    "ph_instant_vector": PH_INSTANT_VECTOR_SQL,
    "ph_deriv": PH_DERIV_SQL,
    "ph_predict_linear": PH_PREDICT_LINEAR_SQL,
}


def ph_quantile_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``quantile_over_time(0.9, events[1d])``: the exact interpolated
    p90 of each series' trailing day."""
    out = _engine(spark, sf_dir).eval("quantile_over_time(0.9, events[1d])")
    return _by_series(out, F.round("value", 6).alias("quantile"))


PH_QUANTILE_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)}
SELECT user_id, event_type, eval_ms, round(quantile_cont(value, 0.9), 6) AS quantile
FROM rf
GROUP BY 1, 2, 3
ORDER BY user_id, event_type, eval_ms
"""

QUERIES["ph_quantile_over_time"] = ph_quantile_over_time
ORACLES["ph_quantile_over_time"] = PH_QUANTILE_SQL


def ph_gap_fill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid gap-filling with linear interpolation between the straddling
    samples (operators/asof.py:gap_fill) — the TimescaleDB
    time_bucket_gapfill + interpolate() shape. NULL outside a series'
    sample range (no extrapolation)."""
    from promhouse_spark.operators.asof import gap_fill

    out = gap_fill(
        _samples(spark, sf_dir), _START_MS, _END_MS, _STEP_MS, method="linear"
    )
    return out.select(
        F.col("fingerprint").alias("user_id"),
        "eval_ms",
        F.round("value", 6).alias("value"),
    ).orderBy("user_id", "eval_ms")


PH_GAP_FILL_SQL = f"""
WITH samples AS (
  SELECT user_id, epoch_ms(ts) AS ts_ms, value FROM events
),
grid AS (
  SELECT u.user_id, g.eval_ms
  FROM (SELECT DISTINCT user_id FROM samples) u
  CROSS JOIN (
    SELECT unnest(generate_series({_START_MS}, {_END_MS}, {_STEP_MS})) AS eval_ms
  ) g
),
prev AS MATERIALIZED (
  SELECT g.user_id, g.eval_ms, s.ts_ms AS p_ts, s.value AS p_v
  FROM grid g ASOF LEFT JOIN samples s
    ON g.user_id = s.user_id AND g.eval_ms >= s.ts_ms
),
nxt AS MATERIALIZED (
  SELECT g.user_id, g.eval_ms, s.ts_ms AS n_ts, s.value AS n_v
  FROM grid g ASOF LEFT JOIN samples s
    ON g.user_id = s.user_id AND g.eval_ms <= s.ts_ms
)
SELECT p.user_id, p.eval_ms,
       round(CASE WHEN p.eval_ms = p.p_ts THEN p.p_v
                  ELSE p.p_v + (n.n_v - p.p_v)
                        * (p.eval_ms - p.p_ts) / nullif(n.n_ts - p.p_ts, 0)
             END, 6) AS value
FROM prev p JOIN nxt n USING (user_id, eval_ms)
ORDER BY user_id, eval_ms
"""

QUERIES["ph_gap_fill_linear"] = ph_gap_fill_linear
ORACLES["ph_gap_fill_linear"] = PH_GAP_FILL_SQL


def ph_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``holt_winters(events[1d], 0.3, 0.1)``: the smoothing recurrence
    folded over each trailing day's samples (a JVM array fold in the
    engine); the oracle replays the same recurrence through a DuckDB
    RECURSIVE CTE — an independent sequential mechanism."""
    out = _engine(spark, sf_dir).eval("holt_winters(events[1d], 0.3, 0.1)")
    return _by_series(out, F.round("value", 6).alias("smoothed"))


PH_HOLT_WINTERS_SQL = f"""
WITH RECURSIVE {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)},
hw AS (
  SELECT r2.user_id, r2.event_type, r2.eval_ms, r2.n, 2 AS i,
         r2.value AS s, r2.value - r1.value AS b
  FROM rf r1 JOIN rf r2 USING (user_id, event_type, eval_ms)
  WHERE r1.i = 1 AND r2.i = 2
  UNION ALL
  SELECT hw.user_id, hw.event_type, hw.eval_ms, hw.n, hw.i + 1,
         0.3 * r.value + 0.7 * (hw.s + hw.b),
         0.1 * ((0.3 * r.value + 0.7 * (hw.s + hw.b)) - hw.s) + 0.9 * hw.b
  FROM hw JOIN rf r
    ON r.user_id = hw.user_id AND r.event_type = hw.event_type
   AND r.eval_ms = hw.eval_ms AND r.i = hw.i + 1
)
SELECT user_id, event_type, eval_ms, round(s, 6) AS smoothed
FROM hw WHERE i = n
ORDER BY user_id, event_type, eval_ms
"""

QUERIES["ph_holt_winters"] = ph_holt_winters
ORACLES["ph_holt_winters"] = PH_HOLT_WINTERS_SQL


def ph_alert_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alerting-rule replay of ``max_over_time(events[1d]) > 90 FOR 12h``
    (promql/alerts.py): per series, the maximal runs of consecutive firing
    grid hours that lasted at least 12 h."""
    out = alert_intervals_promql(
        _engine(spark, sf_dir), "max_over_time(events[1d]) > 90",
        for_ms=12 * 3600 * 1000,
    )
    return out.select(
        F.element_at("labels", "user").cast("long").alias("user_id"),
        F.element_at("labels", "type").alias("event_type"),
        "start_ms",
        "end_ms",
        "n_evals",
    ).orderBy("user_id", "event_type", "start_ms")


PH_ALERT_INTERVALS_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)},
firing AS (
  SELECT user_id, event_type, eval_ms,
         eval_ms - {_STEP_MS} * row_number() OVER (
           PARTITION BY user_id, event_type ORDER BY eval_ms) AS run
  FROM rf
  GROUP BY 1, 2, 3
  HAVING max(value) > 90
)
SELECT user_id, event_type, min(eval_ms) AS start_ms, max(eval_ms) AS end_ms,
       CAST(count(*) AS BIGINT) AS n_evals
FROM firing
GROUP BY user_id, event_type, run
HAVING max(eval_ms) - min(eval_ms) >= 43200000
ORDER BY user_id, event_type, start_ms
"""

QUERIES["ph_alert_intervals"] = ph_alert_intervals
ORACLES["ph_alert_intervals"] = PH_ALERT_INTERVALS_SQL


def ph_label_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL label_replace + label_join over a real MapType labels frame:
    series labels built from the events stream, shard extracted from the
    user id's first digit (full-match capture), uid_type joined from two
    labels — rolled up per shard (functions/labels.py:label_replace/
    label_join)."""
    from promhouse_spark.functions.labels import label_join, label_replace

    ev = load_table(spark, sf_dir, "events")
    series = ev.select(
        F.create_map(
            F.lit("__name__"), F.lit("events"),
            F.lit("user"), F.col("user_id").cast("string"),
            F.lit("type"), F.col("event_type"),
        ).alias("labels")
    )
    relabeled = series.select(
        label_join(
            label_replace("labels", "shard", "$1", "user", "([0-9])[0-9]*"),
            "uid_type", "-", "user", "type",
        ).alias("labels")
    )
    return (
        relabeled.select(
            F.element_at("labels", "shard").alias("shard"),
            F.element_at("labels", "uid_type").alias("uid_type"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_series"),
            F.countDistinct("uid_type").cast("long").alias("n_uid_types"),
        )
        .orderBy("shard")
    )


PH_LABEL_OPS_SQL = """
SELECT substring(CAST(user_id AS VARCHAR), 1, 1) AS shard,
       CAST(count(*) AS BIGINT) AS n_series,
       CAST(count(DISTINCT CAST(user_id AS VARCHAR) || '-' || event_type) AS BIGINT)
         AS n_uid_types
FROM events
GROUP BY 1
ORDER BY shard
"""

QUERIES["ph_label_ops"] = ph_label_ops
ORACLES["ph_label_ops"] = PH_LABEL_OPS_SQL


def ph_rate_extrapolated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``rate(events[1d])``: Prometheus's extrapolated per-second rate —
    boundary extrapolation with the 1.1×-average-interval guard and the
    zero-crossing clamp — per series and grid hour."""
    out = _engine(spark, sf_dir).eval("rate(events[1d])")
    return _by_series(out, F.round("value", 10).alias("rate"))


PH_RATE_EXTRAPOLATED_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)},
{_extrapolated_cte(_DAY_MS, as_rate=True)}
SELECT user_id, event_type, eval_ms, round(value, 10) AS rate
FROM xr
ORDER BY user_id, event_type, eval_ms
"""

QUERIES["ph_rate_extrapolated"] = ph_rate_extrapolated
ORACLES["ph_rate_extrapolated"] = PH_RATE_EXTRAPOLATED_SQL


def ph_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``avg_over_time(events[1d])``: the mean of each series' trailing
    day. PromQL has no time-weighted average, so the query keeps its name
    and takes the function Prometheus offers."""
    out = _engine(spark, sf_dir).eval("avg_over_time(events[1d])")
    return _by_series(out, F.round("value", 6).alias("avg"))


PH_TWA_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)}
SELECT user_id, event_type, eval_ms, round(avg(value), 6) AS avg
FROM rf
GROUP BY 1, 2, 3
ORDER BY user_id, event_type, eval_ms
"""

QUERIES["ph_time_weighted_avg"] = ph_time_weighted_avg
ORACLES["ph_time_weighted_avg"] = PH_TWA_SQL


def ph_count_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``count_values("value", round(events))``: per grid hour, how many
    series hold each whole-unit value (raw doubles are near-unique) — the
    build-info/version counting shape."""
    out = _engine(spark, sf_dir).eval('count_values("value", round(events))')
    return out.select(
        "eval_ms",
        F.element_at("labels", "value").cast("long").alias("value"),
        F.col("value").cast("long").alias("n"),
    ).orderBy("eval_ms", "value")


PH_COUNT_VALUES_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")}
SELECT eval_ms, CAST(round(value, 0) AS BIGINT) AS value,
       CAST(count(*) AS BIGINT) AS n
FROM utvec
GROUP BY 1, 2
ORDER BY eval_ms, value
"""


def ph_absent_over_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``absent_over_time(events{user="1"}[1h])``: the grid hours whose
    trailing hour holds no sample of user 1 — the scrape-loss probe."""
    out = _engine(spark, sf_dir).eval('absent_over_time(events{user="1"}[1h])')
    return out.select(
        F.element_at("labels", "user").cast("long").alias("user_id"),
        "eval_ms",
        F.col("value").cast("long").alias("absent"),
    ).orderBy("eval_ms")


PH_ABSENT_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(3600 * 1000)}
SELECT CAST(1 AS BIGINT) AS user_id, eval_ms, CAST(1 AS BIGINT) AS absent
FROM grid
WHERE eval_ms NOT IN (SELECT eval_ms FROM rf WHERE user_id = 1)
ORDER BY eval_ms
"""

QUERIES["ph_count_values"] = ph_count_values
QUERIES["ph_absent_over_time"] = ph_absent_over_time
ORACLES["ph_count_values"] = PH_COUNT_VALUES_SQL
ORACLES["ph_absent_over_time"] = PH_ABSENT_SQL
