"""Alerting-rule evaluation over compiled PromQL (beyond-reference):
the batch replay of a Prometheus rule

    alert: X
    expr:  <any PromQL comparison/vector expression>
    for:   <duration>

against stored history. The expression compiles through promql/engine.py
(so thresholds on rates, ratios with vector matching, etc. all work); a
grid point "fires" when the expression returns a sample for the series at
that evaluation (PromQL filter semantics), and an alert interval is a
maximal run of CONSECUTIVE firing grid points that lasts at least the
``for`` duration — prometheus/rules/alerting.go's pending→firing
transition, evaluated over history instead of live.

Gaps-and-islands on the evaluation grid: firing evals are equally spaced,
so run id = eval_ms − rank·step (one window pass per series, keyed by the
canonical labels JSON), then one keyed aggregation per run."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from promhouse_spark.functions.labels import labels_map_to_json


def alert_intervals_promql(
    engine, expr: str, for_ms: int = 0
) -> DataFrame:
    """Maximal firing intervals of a compiled PromQL alert expression.

    Output: (labels, start_ms, end_ms, n_evals) — ``start_ms`` is the
    first firing evaluation (Prometheus's "pending since"), intervals
    shorter than ``for_ms`` drop (never reached firing)."""
    vec = engine.eval(expr)
    key = labels_map_to_json("labels")
    w = W.partitionBy("__key").orderBy("eval_ms")
    runs = (
        vec.select(key.alias("__key"), "labels", "eval_ms")
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "__run", F.col("eval_ms") - F.col("__rn") * F.lit(engine.step_ms)
        )
    )
    return (
        runs.groupBy("__key", "__run")
        .agg(
            F.first("labels").alias("labels"),
            F.min("eval_ms").alias("start_ms"),
            F.max("eval_ms").alias("end_ms"),
            F.count("*").cast("long").alias("n_evals"),
        )
        .filter(F.col("end_ms") - F.col("start_ms") >= F.lit(for_ms))
        .drop("__key", "__run")
    )


def instant_values(engine, expr: str) -> dict[tuple, float]:
    """The expression's value per series at the engine's (single-point)
    grid, keyed by canonical sorted label items — feeds the alert
    ``value`` field and ``{{ $value }}`` template expansion."""
    return {
        tuple(sorted((r["labels"] or {}).items())): r["value"]
        for r in engine.eval(expr).collect()
    }


def materialize_alerts(
    active_runs, val_by: dict[tuple, float], rule: dict, alert_name: str
) -> list[tuple[dict, dict, float | None]]:
    """Shared firing-alert assembly for the HTTP API and the promtool
    unit-test runner: per active run, (merged alert labels, RAW series
    labels, expression value). Merged labels follow rules/alerting.go —
    __name__ dropped, alertname set, rule labels (stringified: the
    Prometheus label model is strings) overriding; the raw series labels
    are kept separately because ``$labels`` templates expand against
    THOSE (template data is built from smpl.Metric before the merge)."""
    out = []
    for r in active_runs:
        series_labels = dict(r["labels"] or {})
        value = val_by.get(tuple(sorted(series_labels.items())))
        labels = dict(series_labels)
        labels.pop("__name__", None)
        labels["alertname"] = alert_name
        labels.update(
            {str(k): str(v) for k, v in (rule.get("labels") or {}).items()}
        )
        out.append((labels, series_labels, value))
    return out
