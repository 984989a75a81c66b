"""PromQL vector-matching workloads: binary operations between instant
vectors with on()/group_left matching, label-dimension aggregation, and
topk-by-label (operators/vector_match.py) — the "error-rate = errors /
total by job" family the reference punts to Prometheus
(handlers/prom.go:184-186 drops the read hints).

Vectors are instant-vector evaluations (operators/asof.py) of the events
stream on the same 2-day hourly grid as workloads/promql2; the oracles
replay the vectors through DuckDB's native ASOF JOIN — an independent
mechanism — then join/aggregate in plain SQL.

Ratio/share outputs are exact fixed-point (values are 2-dp, so cents are
exact BIGINTs; shares are integer-divided at 1e6 scale): float quotients
round engine-unstably in the last ulp (the r5 ph_rate_extrapolated
lesson), integer division cannot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from promhouse_spark.operators.asof import instant_vector
from promhouse_spark.operators.vector_match import agg_by, binop, topk_by
from promhouse_spark.session import load_table
from promhouse_spark.workloads.promql2 import (
    _DAY_MS,
    _END_MS,
    _LOOKBACK_MS,
    _SAMPLES_CTE,
    _START_MS,
    _STEP_MS,
    _by_series,
    _engine,
    _samples,
    _vec_ctes,
    _windows_cte,
)


def _cents(c: Column) -> Column:
    """Exact integer cents of a 2-dp double — identical in any engine."""
    return F.round(c * 100).cast("long")


def _idiv(num: Column, den: Column) -> Column:
    """Exact BIGINT integer division (num, den >= 0; NULL on den = 0).

    (num - num % den) is exactly divisible by den, so the double division
    is exact for quotients < 2^53 — bit-identical to DuckDB's native
    integer `//`."""
    den = F.nullif(den, F.lit(0))
    return ((num - num % den) / den).cast("long")


def _user_vec(spark: SparkSession, sf_dir: str, name: str, only_type: str | None = None) -> DataFrame:
    """Per-user instant vector (latest event value in the 6 h lookback),
    optionally restricted to one event type, with PromQL-style labels."""
    s = _samples(spark, sf_dir)
    if only_type is not None:
        ev = load_table(spark, sf_dir, "events").filter(
            F.col("event_type") == only_type
        )
        s = ev.select(
            F.col("user_id").alias("fingerprint"),
            F.unix_millis(F.col("ts")).alias("timestamp_ms"),
            F.col("value"),
        )
    iv = instant_vector(s, _START_MS, _END_MS, _STEP_MS, _LOOKBACK_MS)
    return iv.select(
        F.create_map(
            F.lit("__name__"), F.lit(name),
            F.lit("user"), F.col("fingerprint").cast("string"),
        ).alias("labels"),
        "eval_ms",
        "value",
    )


def _user_type_vec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) instant vector — the composite series key is a
    plain string fingerprint (instant_vector is key-type agnostic)."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.select(
        F.concat_ws(":", F.col("user_id"), F.col("event_type")).alias("fingerprint"),
        F.unix_millis(F.col("ts")).alias("timestamp_ms"),
        F.col("value"),
    )
    iv = instant_vector(s, _START_MS, _END_MS, _STEP_MS, _LOOKBACK_MS)
    parts = F.split("fingerprint", ":")
    return iv.select(
        F.create_map(
            F.lit("__name__"), F.lit("events"),
            F.lit("user"), parts[0],
            F.lit("type"), parts[1],
        ).alias("labels"),
        "eval_ms",
        "value",
    )


def ph_binop_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """errors / total — one-to-one vector matching on(user): per user and
    grid hour, the latest error-event value as a share of the latest
    any-event value, in exact 1e-6 fixed point. Unmatched users (no error
    in the lookback) drop, as PromQL binops do."""
    left = _user_vec(spark, sf_dir, "errors", only_type="error")
    right = _user_vec(spark, sf_dir, "total")
    out = binop(
        left,
        right,
        op=lambda l, r: _idiv(_cents(l) * F.lit(1_000_000), _cents(r)),
        on=["user"],
    )
    return out.select(
        F.element_at("labels", "user").cast("long").alias("user_id"),
        "eval_ms",
        F.col("value").alias("ratio_e6"),
    ).orderBy("user_id", "eval_ms")


PH_BINOP_RATIO_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("evec", "event_type = 'error'")},
{_vec_ctes("tvec", "TRUE")}
SELECT e.user_id, e.eval_ms,
       (CAST(round(e.value * 100) AS BIGINT) * 1000000)
         // nullif(CAST(round(t.value * 100) AS BIGINT), 0) AS ratio_e6
FROM evec e JOIN tvec t USING (user_id, eval_ms)
ORDER BY user_id, eval_ms
"""


def ph_binop_group_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, type) share of the user's total — many-to-one matching
    (PromQL ``group_left``) on(user): the (user, type) vector divides by the
    per-user "one" side, whose uniqueness the engine enforces with the
    duplicate-series guard. Output keeps the many side's labels."""
    left = _user_type_vec(spark, sf_dir)
    right = _user_vec(spark, sf_dir, "total")
    out = binop(
        left,
        right,
        op=lambda l, r: _idiv(_cents(l) * F.lit(1_000_000), _cents(r)),
        on=["user"],
        card="many_to_one",
    )
    return out.select(
        F.element_at("labels", "user").cast("long").alias("user_id"),
        F.element_at("labels", "type").alias("event_type"),
        "eval_ms",
        F.col("value").alias("share_e6"),
    ).orderBy("user_id", "event_type", "eval_ms")


PH_BINOP_GROUP_LEFT_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")},
{_vec_ctes("tvec", "TRUE")}
SELECT ut.user_id, ut.event_type, ut.eval_ms,
       (CAST(round(ut.value * 100) AS BIGINT) * 1000000)
         // nullif(CAST(round(t.value * 100) AS BIGINT), 0) AS share_e6
FROM utvec ut JOIN tvec t USING (user_id, eval_ms)
ORDER BY user_id, event_type, eval_ms
"""


def ph_agg_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sum by (type) over the (user, type) instant vector: per event type
    and grid hour, the exact cents sum of every live series' value and the
    live-series count — PromQL's label-dimension aggregation."""
    vec = _user_type_vec(spark, sf_dir)
    out = agg_by(vec, func=lambda c: F.sum(_cents(c)), by=["type"])
    return out.select(
        F.element_at("labels", "type").alias("event_type"),
        "eval_ms",
        F.col("value").alias("sum_cents"),
        "n_series",
    ).orderBy("event_type", "eval_ms")


PH_AGG_BY_LABEL_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")}
SELECT event_type, eval_ms,
       sum(CAST(round(value * 100) AS BIGINT)) AS sum_cents,
       CAST(count(*) AS BIGINT) AS n_series
FROM utvec
GROUP BY event_type, eval_ms
ORDER BY event_type, eval_ms
"""


def ph_topk_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """topk(3, v) by (type): the three highest-valued series per (event
    type, grid hour), original labels kept, ties broken on the canonical
    labels JSON (within a type group that reduces to the user string)."""
    vec = _user_type_vec(spark, sf_dir)
    out = topk_by(vec, k=3, by=["type"])
    return out.select(
        F.element_at("labels", "type").alias("event_type"),
        "eval_ms",
        F.element_at("labels", "user").cast("long").alias("user_id"),
        F.round("value", 6).alias("value"),
        F.col("rank").cast("long").alias("rank"),
    ).orderBy("event_type", "eval_ms", "rank")


PH_TOPK_BY_LABEL_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")},
ranked AS (
  SELECT event_type, eval_ms, user_id, value,
         row_number() OVER (
           PARTITION BY event_type, eval_ms
           ORDER BY value DESC, CAST(user_id AS VARCHAR)
         ) AS rank
  FROM utvec
)
SELECT event_type, eval_ms, user_id, round(value, 6) AS value,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 3
ORDER BY event_type, eval_ms, rank
"""


QUERIES = {
    "ph_binop_ratio": ph_binop_ratio,
    "ph_binop_group_left": ph_binop_group_left,
    "ph_agg_by_label": ph_agg_by_label,
    "ph_topk_by_label": ph_topk_by_label,
}

ORACLES = {
    "ph_binop_ratio": PH_BINOP_RATIO_SQL,
    "ph_binop_group_left": PH_BINOP_GROUP_LEFT_SQL,
    "ph_agg_by_label": PH_AGG_BY_LABEL_SQL,
    "ph_topk_by_label": PH_TOPK_BY_LABEL_SQL,
}


def ph_irate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``irate(events[1d])``: the reset-aware per-second rate between the
    last two samples of each series' trailing day, in exact 1e-6 fixed
    point (the oracle runs the engine's arithmetic in the same order)."""
    out = _engine(spark, sf_dir).eval("irate(events[1d])")
    return _by_series(out, F.round(F.col("value") * 1e6).cast("long").alias("irate_e6"))


PH_IRATE_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)}
SELECT user_id, event_type, eval_ms,
       CAST(round((CASE WHEN value >= prev THEN value - prev ELSE value END)
                  / nullif(CAST(ts_ms - prev_ts AS DOUBLE), 0.0) * 1000.0 * 1e6)
            AS BIGINT) AS irate_e6
FROM rf WHERE i = n AND n >= 2
ORDER BY user_id, event_type, eval_ms
"""


def ph_idelta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``idelta(events[1d])``: the plain gauge difference between the last
    two samples of each series' trailing day, in exact signed cents."""
    out = _engine(spark, sf_dir).eval("idelta(events[1d])")
    return _by_series(out, _cents(F.col("value")).alias("idelta_cents"))


PH_IDELTA_SQL = f"""
WITH {_SAMPLES_CTE},
{_windows_cte(_DAY_MS)}
SELECT user_id, event_type, eval_ms,
       CAST(round((value - prev) * 100) AS BIGINT) AS idelta_cents
FROM rf WHERE i = n AND n >= 2
ORDER BY user_id, event_type, eval_ms
"""


def ph_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``clamp(events, 25, 75)`` over the per-series instant vector — the
    gauge guard rail."""
    out = _engine(spark, sf_dir).eval("clamp(events, 25, 75)")
    return _by_series(out, F.round("value", 6).alias("clamped"))


PH_CLAMP_SQL = f"""
WITH {_SAMPLES_CTE},
{_vec_ctes("utvec", "TRUE", "user_id, event_type")}
SELECT user_id, event_type, eval_ms,
       round(least(greatest(value, 25.0), 75.0), 6) AS clamped
FROM utvec
ORDER BY user_id, event_type, eval_ms
"""


QUERIES["ph_irate"] = ph_irate
QUERIES["ph_idelta"] = ph_idelta
QUERIES["ph_clamp"] = ph_clamp
ORACLES["ph_irate"] = PH_IRATE_SQL
ORACLES["ph_idelta"] = PH_IDELTA_SQL
ORACLES["ph_clamp"] = PH_CLAMP_SQL
