"""Streaming recording rules (beyond-reference): run a Prometheus rule
group CONTINUOUSLY over the live sample stream, appending each finalized
evaluation to the recorded tier — the streaming generalization of
promql/rules.py:evaluate_rules, built on the stateless-explode pattern
streaming/rate.py proved out.

Supported rule shapes (the ones that stream with ONE stateful
aggregation — which is what makes them exactly-once under append-mode
watermarking):

    [sum|avg|min|max|count by (lbls) | without (lbls)] ( FUNC(sel[range]) )
    [sum|avg|min|max|count by (lbls) | without (lbls)] ( sel )

where FUNC is rate/increase/delta or any *_over_time aggregate. A bare
instant selector is evaluated as ``last_over_time(sel[lookback])`` — the
PromQL staleness rule made explicit: the instant vector at t IS the most
recent sample in ``(t - lookback, t]``.

Execution shape: matcher resolution happens ONCE against the static
series registry (stream-static semi-join on fingerprint, broadcast-sized);
each sample then explodes map-side to its grid evaluations and ONE
watermarked keyed aggregation per (series, evaluation) folds the window
(state bounded by active-series × range/step). The label-dimension
aggregation runs in the foreachBatch sink over FINALIZED rows — sound
because the watermark is global: every (series, eval) row for a given
evaluation crosses the watermark in the same micro-batch, so each batch
holds complete evaluations. The sink stamps ``__name__ = record`` and
appends (labels, timestamp_ms, value) rows, the same frame shape the
batch ``evaluate_rules`` materializes.

Differential contract (tests/test_streaming_rules.py): the recorded
stream rows equal the batch PromQL engine's evaluation of the same rule
over the same data."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from promhouse_spark.models import Matcher
from promhouse_spark.operators.vector_match import agg_by
from promhouse_spark.plans.read import select_series
from promhouse_spark.promql.parser import (
    Aggregation,
    Call,
    RangeSelector,
    VectorSelector,
    parse,
)
from promhouse_spark.schemas import FINGERPRINT, SAMPLES_SCHEMA
from promhouse_spark.streaming.rate import explode_to_grid, sliding_rate

NAME = "__name__"

_AGG_OPS = {"sum", "avg", "min", "max", "count"}

# *_over_time aggregates with a direct streaming-safe Spark aggregate
_SIMPLE_OVER_TIME = {
    "avg_over_time": lambda v, ts: F.avg(v),
    "min_over_time": lambda v, ts: F.min(v),
    "max_over_time": lambda v, ts: F.max(v),
    "sum_over_time": lambda v, ts: F.sum(v),
    "count_over_time": lambda v, ts: F.count(v).cast("double"),
    "last_over_time": lambda v, ts: F.max_by(v, F.struct(ts, v)),
}
_RATE_FUNCS = {"rate", "increase", "delta"}


@dataclass
class StreamingRule:
    record: str
    matchers: tuple[Matcher, ...]
    func: str
    range_ms: int
    agg_op: str | None = None
    by: list[str] | None = None
    without: list[str] | None = None
    extras: dict = field(default_factory=dict)


def compile_streaming_rule(
    record: str, expr: str, lookback_ms: int = 300_000
) -> StreamingRule:
    """Parse + validate a rule expression into the streamable spec; raises
    ValueError for shapes that need more than one stateful aggregation
    (vector matching, subqueries, nested aggregations) — those stay on the
    batch ``evaluate_rules`` path."""
    return compile_rule_node(record, parse(expr), lookback_ms)


def compile_rule_node(record: str, node, lookback_ms: int = 300_000) -> StreamingRule:
    """Node-level form of :func:`compile_streaming_rule` (the alert
    compiler hands over the threshold expression's left subtree)."""
    agg_op = by = without = None
    if isinstance(node, Aggregation):
        if node.op not in _AGG_OPS:
            raise ValueError(
                f"streaming rules support {sorted(_AGG_OPS)} aggregations, "
                f"not {node.op!r}"
            )
        agg_op, by, without = node.op, node.by, node.without
        if by is None and without is None:
            by = []  # bare sum(v): ONE group, all labels drop (PromQL) —
            # None would mean "group by every label" to agg_by/match_key
        node = node.expr
    if isinstance(node, Call):
        func = node.func
        if func not in _RATE_FUNCS and func not in _SIMPLE_OVER_TIME:
            raise ValueError(f"function {func!r} is not streamable")
        if len(node.args) != 1 or not isinstance(node.args[0], RangeSelector):
            raise ValueError(f"{func} needs a plain range selector to stream")
        sel, range_ms = node.args[0].selector, node.args[0].range_ms
    elif isinstance(node, VectorSelector):
        # instant vector ≡ last_over_time over the staleness lookback
        func, sel, range_ms = "last_over_time", node, lookback_ms
    else:
        raise ValueError(f"cannot stream {type(node).__name__} rules")
    if sel.offset_ms or sel.at_ms is not None:
        raise ValueError("offset/@ selectors do not stream")
    return StreamingRule(
        record=record,
        matchers=sel.query().matchers,
        func=func,
        range_ms=range_ms,
        agg_op=agg_op,
        by=by,
        without=without,
    )


def rule_series_frame(
    samples_df: DataFrame,
    series_df: DataFrame,
    rule: StreamingRule,
    step_ms: int = 60_000,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-series rule evaluation — valid on batch AND streaming sample
    frames (the sliding_rate contract). Output: (fingerprint, eval_time,
    eval_ms, value)."""
    fps = select_series(series_df, rule.matchers).select(FINGERPRINT)
    s = samples_df.join(fps, FINGERPRINT, "left_semi")
    if rule.func in _RATE_FUNCS:
        rated = sliding_rate(
            s,
            rule.range_ms,
            step_ms,
            counter=rule.func != "delta",
            watermark=watermark,
        )
        value = F.col("rate") if rule.func == "rate" else F.col("increase")
        return rated.select(
            FINGERPRINT, "eval_time", "eval_ms", value.alias("value")
        )
    agg_fn = _SIMPLE_OVER_TIME[rule.func]
    exploded = explode_to_grid(s, rule.range_ms, step_ms, watermark)
    return exploded.groupBy(FINGERPRINT, "eval_time", "eval_ms").agg(
        agg_fn(F.col("v"), F.col("ts")).alias("value")
    )


def aggregated_frame(
    finalized: DataFrame, series_df: DataFrame, rule: StreamingRule
) -> DataFrame:
    """Label-dimension stage over finalized per-series rows, BEFORE the
    record naming: attach the registry labels, apply the rule's
    by/without aggregation. Output (labels, eval_ms, value) — the frame
    alert thresholds filter (streaming/alerts.py) and recorded_frame
    stamps."""
    attached = finalized.join(
        series_df.select(FINGERPRINT, "labels"), FINGERPRINT
    )
    vec = attached.select("labels", "eval_ms", "value")
    if rule.agg_op is not None:
        vec = agg_by(vec, rule.agg_op, by=rule.by, without=rule.without).drop(
            "n_series"
        )
    return vec


def recorded_frame(
    finalized: DataFrame, series_df: DataFrame, rule: StreamingRule
) -> DataFrame:
    """Label-dimension stage over finalized per-series rows: attach the
    registry labels, apply the rule's by/without aggregation, stamp
    ``__name__ = record``. Batch-side (runs inside foreachBatch, where
    each micro-batch holds complete evaluations)."""
    vec = aggregated_frame(finalized, series_df, rule)
    named = F.map_concat(
        F.map_filter("labels", lambda k, _: k != F.lit(NAME)),
        F.create_map(F.lit(NAME), F.lit(rule.record)),
    )
    return vec.select(
        named.alias("labels"),
        F.col("eval_ms").alias("timestamp_ms"),
        F.col("value").cast("double").alias("value"),
    ).filter(F.col("value").isNotNull())


def start_streaming_rule(
    spark: SparkSession,
    samples_path: str,
    series_df: DataFrame,
    record: str,
    expr: str,
    out_path: str,
    checkpoint_path: str,
    step_ms: int = 60_000,
    lookback_ms: int = 300_000,
    watermark: str = "10 minutes",
    trigger_seconds: int = 5,
) -> StreamingQuery:
    """Run one recording rule continuously: sample stream → per-series
    watermarked evaluation (append mode, exactly-once) → foreachBatch
    label aggregation + record naming → parquet append of the recorded
    series rows (labels, timestamp_ms, value)."""
    rule = compile_streaming_rule(record, expr, lookback_ms)
    stream = (
        spark.readStream.schema(SAMPLES_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(samples_path)
    )
    per_series = rule_series_frame(stream, series_df, rule, step_ms, watermark)

    def _sink(batch_df: DataFrame, _batch_id: int) -> None:
        out = recorded_frame(batch_df, series_df, rule)
        out.write.mode("append").parquet(out_path)

    return (
        per_series.writeStream.outputMode("append")
        .foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_path)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def start_streaming_rule_group(
    spark: SparkSession,
    samples_path: str,
    series_df: DataFrame,
    group: dict,
    out_root: str,
    checkpoint_root: str,
    step_ms: int = 60_000,
    lookback_ms: int = 300_000,
    watermark: str = "10 minutes",
    trigger_seconds: int = 5,
) -> dict[str, StreamingQuery]:
    """Run a whole Prometheus-shaped rule group continuously — the same
    group dict edge/http.create_app serves at /api/v1/rules. Each
    recording rule becomes its own streaming query (independent
    checkpoints under ``checkpoint_root/<record>``, outputs under
    ``out_root/<record>``), so one slow rule never stalls the others and
    each restarts from its own offset. Alerting rules are skipped here —
    streaming/alerts.start_streaming_alert runs those. Returns
    {record_name: query}."""
    import os

    queries: dict[str, StreamingQuery] = {}
    interval = int(group.get("interval_ms", step_ms))
    for rule in group.get("rules", []):
        if "record" not in rule:
            continue
        record = rule["record"]
        safe = record.replace(":", "_").replace("/", "_")
        queries[record] = start_streaming_rule(
            spark,
            samples_path,
            series_df,
            record,
            rule["expr"],
            os.path.join(out_root, safe),
            os.path.join(checkpoint_root, safe),
            step_ms=interval,
            lookback_ms=lookback_ms,
            watermark=watermark,
            trigger_seconds=trigger_seconds,
        )
    return queries
