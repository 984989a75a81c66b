"""PromQL → Spark DataFrame compiler.

Evaluates a parsed PromQL expression over the engine's storage model — a
samples frame ``(fingerprint, timestamp_ms, value)`` plus a series frame
``(fingerprint, labels map<string,string>)`` — on a fixed evaluation grid
(start/end/step with a staleness lookback), returning the instant-vector
frame ``(labels, eval_ms, value)`` every operator in
operators/vector_match.py speaks.

Semantics follow prometheus/promql/engine.go + functions.go:

- **Instant selectors** resolve each grid timestamp to the most recent
  sample within the lookback (operators/asof.py union-merge as-of join);
  ``offset`` shifts the sample timeline, not the output grid.
- **Range functions** get TRUE sliding-window semantics for arbitrary
  range/step (not tumbling approximations): each sample explodes to the
  grid points whose ``(t - range, t]`` window contains it — a bounded
  ``range/step``-fold expansion, map-side, no window over the fact table —
  then one keyed aggregation per (series, eval). ``rate``/``increase``/
  ``delta`` reproduce extrapolatedRate exactly (boundary extrapolation,
  1.1×-average-interval guard, counter zero-crossing clamp BEFORE the
  threshold, reset-aware folding).
- **Vector matching / aggregation** compile to operators/vector_match.py;
  set operators (and/or/unless) are semi/anti/union joins on the match
  key. Metric names drop where Prometheus drops them.

Subqueries ``[range:step]`` evaluate the inner expression on a finer
epoch-aligned grid and feed its points through the same sliding-window
explode; ``absent`` reconstructs labels from equality matchers;
``@`` pins instant selectors to a fixed evaluation.

Float semantics are IEEE-754 exactly as promql/engine.go: x/0 → ±Inf,
0/0 and x%0 → NaN, comparisons with NaN false (!= true), and topk/bottomk
place NaN last in both directions (operators/vector_match.py ieee_* ops).
Scalar-TYPED expressions (scalar(), pi(), time(), arithmetic over them)
take scalar-vector matching — join on evaluation time only — per
PromQL's static typing, not empty-labels vector matching."""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from promhouse_spark.models import Query, make_matchers
from promhouse_spark.operators.asof import instant_vector
from promhouse_spark.operators.matchers import check_regex
from promhouse_spark.operators.vector_match import (
    _ARITH,
    _CMP,
    agg_by,
    binop,
    match_key,
    match_labels,
    sql_double,
    sql_labels,
    topk_by,
)
from promhouse_spark.promql.parser import (
    Aggregation,
    BinaryOp,
    Call,
    Matcher,
    NumberLiteral,
    RangeSelector,
    StringLiteral,
    Subquery,
    Unary,
    VectorSelector,
    find_min_max_time,
    parse,
)
from promhouse_spark.plans.read import DEFAULT_MAX_SERIES_INLIST, restrict_to_series

NAME = "__name__"

# SQL: the labels column without the metric name
_DROP_NAME = "map_filter(labels, (k, v) -> k != '__name__')"
_NO_LABELS = "CAST(map() AS MAP<STRING, STRING>)"


def _drop_name() -> Column:
    return F.expr(_DROP_NAME)


def _label_lookup(series: dict[int, dict[str, str]], drop_name: bool = False) -> str:
    """SQL: each row's labels, looked up by ``fingerprint`` in one map
    literal of the series the hot registry resolved (metric name dropped
    here, in Python, when the caller drops it)."""
    if not series:
        return "CAST(NULL AS MAP<STRING, STRING>)"
    entries = ", ".join(
        f"{fp}L, {sql_labels({k: v for k, v in labels.items() if not (drop_name and k == NAME)})}"
        for fp, labels in series.items()
    )
    return f"element_at(map({entries}), fingerprint)"


def is_scalar_expr(node) -> bool:
    """PromQL static typing: is this expression scalar-typed? Scalar-typed
    expressions compile to frames with EMPTY labels whose match key never
    equals a vector's — they must take scalar-vector binop semantics (join
    on evaluation time only), exactly as promql/parser typechecking routes
    them in Prometheus."""
    if isinstance(node, NumberLiteral):
        return True
    if isinstance(node, Unary):
        return is_scalar_expr(node.expr)
    if isinstance(node, Call):
        return node.func in ("scalar", "pi", "time")
    if isinstance(node, BinaryOp):
        return is_scalar_expr(node.lhs) and is_scalar_expr(node.rhs)
    return False

def _resolve_start_end(node, start_ms: int, end_ms: int):
    """Replace symbolic @ start()/@ end() markers with the outer query's
    literal bounds throughout the AST (promql @ modifier preprocessing).
    Returns a NEW tree; the input is never mutated."""
    import dataclasses

    def fix_at(at):
        if at == "start":
            return start_ms
        if at == "end":
            return end_ms
        return at

    def walk(n):
        if isinstance(n, VectorSelector):
            if n.at_ms in ("start", "end"):
                return dataclasses.replace(n, at_ms=fix_at(n.at_ms))
            return n
        if isinstance(n, RangeSelector):
            return dataclasses.replace(n, selector=walk(n.selector))
        if isinstance(n, Subquery):
            return dataclasses.replace(
                n, expr=walk(n.expr), at_ms=fix_at(n.at_ms)
            )
        if isinstance(n, Unary):
            return dataclasses.replace(n, expr=walk(n.expr))
        if isinstance(n, Call):
            return dataclasses.replace(n, args=[walk(a) for a in n.args])
        if isinstance(n, Aggregation):
            return dataclasses.replace(
                n,
                expr=walk(n.expr),
                param=walk(n.param) if n.param is not None else None,
            )
        if isinstance(n, BinaryOp):
            return dataclasses.replace(n, lhs=walk(n.lhs), rhs=walk(n.rhs))
        return n

    return walk(node)


def _count_instant_selectors(node, counts: dict) -> None:
    """Count how many times each instant-selector shape occurs in the
    expression (keyed like PromQLEngine._sel_key, minus the engine-resolved
    @), WITHOUT crossing range-selector or subquery boundaries — those are
    evaluated through different machinery (the sliding-window explode / an
    inner engine on a finer grid), so their selectors never share this
    engine's instant tier. Used to decide which instant tiers to
    materialize for reuse across operands (guide §3.3)."""
    if isinstance(node, VectorSelector):
        key = (
            node.name,
            tuple(sorted((m.name, m.op, m.value) for m in node.matchers)),
            node.offset_ms or 0,
            node.at_ms,
        )
        counts[key] = counts.get(key, 0) + 1
        return
    if isinstance(node, (RangeSelector, Subquery, NumberLiteral, StringLiteral)):
        return
    if isinstance(node, Unary):
        _count_instant_selectors(node.expr, counts)
    elif isinstance(node, Call):
        for a in node.args:
            _count_instant_selectors(a, counts)
    elif isinstance(node, Aggregation):
        _count_instant_selectors(node.expr, counts)
        if node.param is not None:
            _count_instant_selectors(node.param, counts)
    elif isinstance(node, BinaryOp):
        _count_instant_selectors(node.lhs, counts)
        _count_instant_selectors(node.rhs, counts)


# aggregations whose output holds one series per group
_GROUPING_AGGS = frozenset(
    ("sum", "avg", "min", "max", "count", "group", "stddev", "stdvar", "quantile")
)


def _unique_per_labels(node) -> bool:
    """Does this expression evaluate to at most one row per (eval, labels
    minus ``__name__``)? True for the grouping aggregations unless their
    ``by`` keeps the metric name, which the match key then drops."""
    return (
        isinstance(node, Aggregation)
        and node.op in _GROUPING_AGGS
        and NAME not in (node.by or ())
    )


def _lit_float(node, what: str) -> float:
    """Resolve a literal numeric argument to its float value. The parser
    keeps `-1` as Unary('-', NumberLiteral(1)), so reading `.value`
    directly would reject valid expressions like clamp(m, -1, 1)."""
    if isinstance(node, NumberLiteral):
        return float(node.value)
    if isinstance(node, Unary):
        inner = _lit_float(node.expr, what)
        return -inner if node.op == "-" else inner
    raise ValueError(f"{what} must be a scalar literal")


def _is_lit(node) -> bool:
    try:
        _lit_float(node, "")
        return True
    except ValueError:
        return False


# range-vector aggregations with a direct Spark aggregate, as SQL over the
# exploded frame's sample value ``v`` and timestamp ``ts``
_SIMPLE_OVER_TIME = {
    "avg_over_time": "avg(v)",
    # Spark's min orders NaN above every number, which happens to MATCH
    # Go's fold (`f.F < min || IsNaN(min)`): NaN never wins unless every
    # sample is NaN
    "min_over_time": "min(v)",
    # ... but Spark's max would let NaN displace a numeric maximum, where
    # Go's `f.F > max || IsNaN(max)` never does — mask NaN out and fall
    # back to NaN only for an all-NaN window
    "max_over_time": "coalesce(max(CASE WHEN NOT isnan(v) THEN v END), CAST('NaN' AS DOUBLE))",
    "sum_over_time": "sum(v)",
    "count_over_time": "CAST(count(v) AS DOUBLE)",
    "last_over_time": "max_by(v, struct(ts, v))",
    "stddev_over_time": "stddev_pop(v)",
    "stdvar_over_time": "var_pop(v)",
    "present_over_time": "1.0D",
    # Prometheus 3.x experimental ts_of_* family: the SAMPLE TIMESTAMP (in
    # seconds) of the window's last/max/min point; value ties break toward
    # the later timestamp, deterministically. For the max variant NaN must
    # RANK BELOW every number (Go: NaN never displaces a numeric max, any
    # sample displaces a NaN max) — the leading not-NaN rank enforces that
    # while an all-NaN window still answers the LAST sample's ts; the min
    # variant gets the same behavior for free from Spark's NaN-is-largest
    # struct ordering.
    "ts_of_last_over_time": "max(ts) / 1000.0D",
    "ts_of_max_over_time": (
        "max_by(ts, struct(CAST(NOT isnan(v) AS INT), "
        "CASE WHEN isnan(v) THEN CAST('-Infinity' AS DOUBLE) ELSE v END, ts)) / 1000.0D"
    ),
    "ts_of_min_over_time": "min_by(ts, struct(v, -ts)) / 1000.0D",
}

def _float_ceil(c: Column) -> Column:
    """Go math.Ceil stays float64; Spark's ceil returns LONG, which
    overflows (saturates) beyond 2^63 — fuzz-caught via stddev over
    ceil(exp(v)). Any double with |v| ≥ 2^52 is already integral, so it
    (and NaN/±Inf) passes through untouched."""
    passthrough = (F.abs(c) >= F.lit(2.0**52)) | F.isnan(c)
    return F.when(passthrough, c).otherwise(F.ceil(c).cast("double"))


def _float_floor(c: Column) -> Column:
    passthrough = (F.abs(c) >= F.lit(2.0**52)) | F.isnan(c)
    return F.when(passthrough, c).otherwise(F.floor(c).cast("double"))


# instant-vector math functions (value map; metric name drops)
_VALUE_FUNCS = {
    "abs": F.abs,
    "ceil": _float_ceil,
    "floor": _float_floor,
    "exp": F.exp,
    "ln": F.log,
    "log2": F.log2,
    "log10": F.log10,
    "sqrt": F.sqrt,
    "sgn": F.signum,
    # the trigonometric family (promql/functions.go simpleFunc set)
    "sin": F.sin, "cos": F.cos, "tan": F.tan,
    "asin": F.asin, "acos": F.acos, "atan": F.atan,
    "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
    "deg": F.degrees, "rad": F.radians,
}


def matcher_condition(labels: Column, m: Matcher) -> Column:
    """One label matcher over a MapType labels column — absent ≡ ""
    (storages/base/base.go:53-82 semantics, same as operators/matchers)."""
    v = F.coalesce(F.element_at(labels, F.lit(m.name)), F.lit(""))
    if m.op == "=":
        return v == m.value
    if m.op == "!=":
        return v != m.value
    anchored = f"^(?:{m.value})$"
    if m.op == "=~":
        return v.rlike(anchored)
    if m.op == "!~":
        return ~v.rlike(anchored)
    raise ValueError(f"bad matcher op {m.op}")


class PromQLEngine:
    def __init__(
        self,
        samples_df: DataFrame,
        series_df: DataFrame,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        lookback_ms: int = 300_000,
        histograms_df: DataFrame | None = None,
    ):
        self.samples = samples_df
        self.series = series_df
        self.start_ms = start_ms
        self.end_ms = end_ms
        self.step_ms = step_ms
        self.lookback_ms = lookback_ms
        # native-histogram tier (wire-shape rows keyed by fingerprint);
        # None = no tier attached, histogram_* functions evaluate empty.
        # from_storage leaves a loader instead, so only an expression
        # with a histogram function builds the tier's scan
        self._histograms = histograms_df
        self._histograms_loader = None
        # set by from_storage(tier="rollup"): (partials frame, rollup step)
        # — enables exact aggregation pushdown for decomposable
        # *_over_time range functions (streaming/rollup.rollup_range_agg)
        self._rollup: tuple[DataFrame, int] | None = None
        # set by from_storage, inherited by sub-engines (_sub): the storage
        # (series_df may then be None until a selection resolves
        # distributed), a snapshot of its hot registry dict (None: every
        # selection resolves over series_df), its IN-list cutover, and its
        # restricted scan (raw tier only), which reads each selector's
        # samples over the window it can reach. A selection the dict
        # resolves keeps its series in Python: ``{signed fingerprint:
        # labels}``, attached to the result as one map-literal lookup
        self._storage = None
        self._registry: dict | None = None
        self._max_inlist = DEFAULT_MAX_SERIES_INLIST
        self._scan = None
        # §3.3 shared-tier dedup (r12): instant-vector tiers of selectors
        # that appear in MULTIPLE operands of one expression are built
        # once and the same plan object shared (identical canonical
        # subtrees — Spark's runtime exchange reuse then executes the
        # tier once). Measured note: EAGER localCheckpoint of the shared
        # tiers was tried and rejected — exchange reuse already dedupes
        # execution, so the eager jobs only added ~0.5-5 s of build-time
        # cost/jitter per query (interleaved A/B at sf0.1, r12). The memo
        # lives on the engine object, which the declared queries
        # construct fresh inside every run.
        self._iv_memo: dict = {}
        self._sel_counts: dict = {}

    @property
    def histograms(self) -> DataFrame | None:
        if self._histograms_loader is not None:
            self._histograms = self._histograms_loader()
            self._histograms_loader = None
        return self._histograms

    # -- public ------------------------------------------------------------

    @classmethod
    def from_storage(
        cls,
        storage,
        start_ms: int,
        end_ms: int,
        step_ms: int,
        lookback_ms: int = 300_000,
        tier: str = "raw",
    ) -> "PromQLEngine":
        """Evaluate over a Storage's persisted frames — the serving path
        behind the /api/v1/query and /api/v1/query_range endpoints.

        Series selection takes the path remote read takes. When the
        storage keeps its registry as a hot dict (``cache_registry``), the
        engine copies that dict once, and each selector's matchers resolve
        in Python against the copy (``Query.matches``, the remote-read
        matcher, which reads regexes as Java does); the matched labels
        stay in Python and reach the result through one map literal keyed
        by fingerprint, with no join. The samples come from the storage's
        ``_restricted_scan`` over the window the selector can reach
        (``find_min_max_time``), so a chunked tier prunes chunks by
        envelope before its decode. A selection resolves distributed instead, over ``registry_df()``,
        with the samples scan semi-joined to it, when the dict is off
        (constructed so, or auto-disabled above
        ``registry_cache_max_series``), when a regex lies outside the
        subset Python reads exactly as Java (``models.regex``), or when it
        matches more series than the storage's ``max_series_inlist``.

        ``tier="rollup"`` evaluates over the attached continuous rollup
        (one last-value sample per downsample window) instead of raw
        samples — the coarse-dashboard path that never scans the fact
        table. Semantics match querying a recorded step-sampled series:
        gauges and *_over_time are faithful at rollup resolution;
        counter rate/increase lose intra-window resets (same caveat as
        any recording-rule pre-aggregation — use raw for counters)."""
        hot = bool(getattr(storage, "cache_registry", False))
        series = (
            None if hot else storage.registry_df().select("fingerprint", "labels")
        )
        registry = storage._registry_snapshot() if hot else None
        if tier == "rollup":
            if not getattr(storage, "_rollup_path", None):
                raise ValueError("tier='rollup' requires storage.attach_rollup(...)")
            from promhouse_spark.streaming.rollup import merge_rollup

            partials = storage.spark.read.parquet(storage._rollup_path)
            # stamp each window at its END: that is when its last value is
            # current — stamping at the start would leak the window's later
            # samples into earlier instant reads (lookahead)
            samples = merge_rollup(partials).select(
                "fingerprint",
                (F.col("window_start_ms") + F.lit(storage._rollup_step_ms)).alias(
                    "timestamp_ms"
                ),
                F.col("last_value").alias("value"),
            )
        elif tier == "raw":
            samples = storage.samples_df()
        else:
            raise ValueError(f"unknown tier: {tier}")
        eng = cls(samples, series, start_ms, end_ms, step_ms, lookback_ms)
        if tier == "raw" and hasattr(storage, "histograms_df"):
            eng._histograms_loader = storage.histograms_df
        if tier == "rollup":
            eng._rollup = (partials, storage._rollup_step_ms)
        eng._storage, eng._registry = storage, registry
        eng._max_inlist = getattr(
            storage, "max_series_inlist", DEFAULT_MAX_SERIES_INLIST
        )
        if tier == "raw" and hasattr(storage, "_restricted_scan"):
            eng._scan = storage._restricted_scan
        return eng

    def eval(self, src: str | object) -> DataFrame:
        node = parse(src) if isinstance(src, str) else src
        # resolve @ start()/end() against THIS (outer) query's range up
        # front — inner evaluations (subqueries, pinned range calls)
        # construct sub-engines with shifted bounds, and a symbolic
        # start/end reaching one of those would resolve against the wrong
        # range (Prometheus preprocesses @ the same way)
        node = _resolve_start_end(node, self.start_ms, self.end_ms)
        # fresh per-eval instant-tier memo: selector tiers are shared
        # between operands of THIS expression only
        self._iv_memo = {}
        self._sel_counts = {}
        _count_instant_selectors(node, self._sel_counts)
        try:
            out = self._compile(node)
        except ValueError:
            raise
        except (IndexError, KeyError, AttributeError, TypeError) as e:
            # compile is pure plan construction — any of these here is a
            # malformed expression, and the HTTP edge must see ValueError
            # (→ 400 bad_data), never a 500
            raise ValueError(
                f"invalid PromQL expression: {type(e).__name__}: {e}"
            ) from e
        if isinstance(out, float):
            return self._scalar_frame(out)
        return out

    def explain(self, src: str | object, mode: str = "formatted") -> str:
        """The compiled physical plan of a PromQL expression — the
        plan-audit hook (`.explain("formatted")` as a string, so callers
        can grep for Exchange/joins without stdout capture)."""
        df = self.eval(src)
        return df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
        )

    # -- scaffolding --------------------------------------------------------

    def _sel_key(self, sel: VectorSelector):
        return (
            sel.name,
            tuple(sorted((m.name, m.op, m.value) for m in sel.matchers)),
            sel.offset_ms or 0,
            self._at_ms(sel),
        )

    def _grid(self) -> Column:
        return F.expr(
            f"explode(sequence({self.start_ms}, {self.end_ms}, {self.step_ms})) AS eval_ms"
        )

    def _scalar_frame(self, x: float) -> DataFrame:
        spark = self.samples.sparkSession
        return spark.range(1).select(
            F.expr(f"{_NO_LABELS} AS labels"),
            self._grid(),
            F.expr(f"{sql_double(x)} AS value"),
        )

    def _sub(self, start_ms: int, end_ms: int, step_ms: int) -> "PromQLEngine":
        """An engine on another grid over the same frames and the same
        series selection (subqueries, ``@``-pinned range functions)."""
        sub = PromQLEngine(
            self.samples, self.series, start_ms, end_ms, step_ms,
            self.lookback_ms,
        )
        sub._storage, sub._registry = self._storage, self._registry
        sub._max_inlist, sub._scan = self._max_inlist, self._scan
        return sub

    def _matched(
        self, sel: VectorSelector
    ) -> tuple[dict[int, dict[str, str]] | DataFrame, list[int] | DataFrame]:
        """The series a selector matches (O2), and what restricts a fact
        frame to them. Resolved against the hot registry: ``{signed
        fingerprint: labels}`` and the fingerprints. Resolved distributed:
        the (fingerprint, labels) frame, twice."""
        matchers = list(sel.matchers)
        if sel.name is not None:
            matchers.append(Matcher(NAME, "=", sel.name))
        q = Query(0, 0, make_matchers(*((m.name, m.op, m.value) for m in matchers)))
        if self._registry is not None and q.java_exact():
            series = dict(self._storage._resolve_series(q, self._registry))
            if len(series) <= self._max_inlist:
                return series, list(series)
        # distributed: no hot dict, a regex only Java reads exactly, or a
        # match set too wide for an IN list
        cond = F.lit(True)
        for m in matchers:
            if m.op in ("=~", "!~"):
                check_regex(self.samples.sparkSession, m.value)
            cond = cond & matcher_condition(F.col("labels"), m)
        if self.series is None:
            self.series = self._storage.registry_df().select("fingerprint", "labels")
        series = self.series.filter(cond)
        return series, series

    def _selected(
        self, sel: VectorSelector, range_ms: int = 0
    ) -> tuple[DataFrame, dict[int, dict[str, str]] | DataFrame]:
        """(samples of the matched series with offset applied, their series
        as :meth:`_matched` gives them). The matcher evaluates on the
        series dimension only — the fact table is touched by fingerprint
        restriction, exactly the reference's read path (O2 matcher→series
        resolution). With a
        storage scan the samples are read over the window this selector
        (with ``range_ms`` for a range selector) can reach on this
        engine's grid; callers apply their own exact time predicates."""
        series, matched = self._matched(sel)
        if self._scan is not None:
            node = RangeSelector(sel, range_ms) if range_ms else sel
            lo, hi = find_min_max_time(
                node, self.start_ms, self.end_ms, self.lookback_ms
            )
            samples = self._scan(self.samples, Query(lo, hi), matched)
        else:
            samples = restrict_to_series(self.samples, matched, self._max_inlist)
        if sel.offset_ms:
            samples = samples.withColumn(
                "timestamp_ms", F.expr(f"timestamp_ms + {sel.offset_ms}")
            )
        return samples, series

    def _attach(
        self, vec: DataFrame, series: dict | DataFrame, drop_name: bool = False
    ) -> DataFrame:
        """(fingerprint, eval_ms, value) rows → the vector frame (labels,
        eval_ms, value): labels from the hot registry's map literal, or
        by a join with a distributed selection's series frame."""
        if isinstance(series, dict):
            labels = _label_lookup(series, drop_name)
        else:
            vec = vec.join(series, "fingerprint")
            labels = _DROP_NAME if drop_name else "labels"
        return vec.selectExpr(
            f"{labels} AS labels", "eval_ms", "CAST(value AS DOUBLE) AS value"
        )

    def _labeled(self, frame: DataFrame, series: dict | DataFrame) -> DataFrame:
        """``frame`` with its series' ``labels`` column added."""
        if isinstance(series, dict):
            return frame.withColumn("labels", F.expr(_label_lookup(series)))
        return frame.join(series, "fingerprint")

    def _fingerprints(self, series: dict | DataFrame) -> DataFrame | None:
        """The matched series' fingerprints as an instant-vector grid
        source (None for a streaming selection: the grid then comes from
        the samples)."""
        if isinstance(series, dict):
            fps = ", ".join(f"{fp}L" for fp in series)
            return self.samples.sparkSession.range(1).selectExpr(
                f"explode(CAST(array({fps}) AS ARRAY<BIGINT>)) AS fingerprint"
            )
        return series if not series.isStreaming else None

    def _at_ms(self, sel: VectorSelector) -> int | None:
        """Resolve the @ modifier: literal timestamps pass through;
        start()/end() resolve against the engine's query range."""
        if sel.at_ms == "start":
            return self.start_ms
        if sel.at_ms == "end":
            return self.end_ms
        return sel.at_ms

    def _instant(self, sel: VectorSelector) -> DataFrame:
        key = self._sel_key(sel)
        memo = self._iv_memo.get(key)
        if memo is not None:
            return self._attach(*memo)
        samples, series = self._selected(sel)
        # the matched series' fingerprints replace the distinct over the
        # (semi-joined) fact table as the grid source — one aggregation
        # over the fact stream removed per selector; a distributed
        # selection's series subtree is shared (exchange-reused) with the
        # semi-join/_attach
        fps = self._fingerprints(series)
        at = self._at_ms(sel)
        if at is not None:
            # @ modifier: one evaluation at the pinned timestamp, its value
            # broadcast to every grid point (promql step-invariant @)
            iv = instant_vector(
                samples, at, at, max(self.step_ms, 1),
                self.lookback_ms, fingerprints_df=fps,
            )
            tier = iv.select("fingerprint", "value").crossJoin(
                iv.sparkSession.range(1).select(self._grid())
            )
        else:
            tier = instant_vector(
                samples, self.start_ms, self.end_ms, self.step_ms,
                self.lookback_ms, fingerprints_df=fps,
            )
        if self._sel_counts.get(key, 0) >= 2:
            # this selector feeds ≥2 operands of the current expression:
            # share ONE plan object so the operands hold identical
            # canonical subtrees (runtime exchange reuse executes the
            # tier once) and the expression tree is built once (§3.3)
            self._iv_memo[key] = (tier, series)
        return self._attach(tier, series)

    # -- native histograms ---------------------------------------------------

    _WIRE_COLS = (
        "schema", "zero_threshold", "zero_count", "count", "sum",
        "positive", "negative",
    )

    def _hist_selected(self, sel: VectorSelector) -> tuple[DataFrame, dict | DataFrame]:
        """Histogram-tier twin of :meth:`_selected`: matcher-resolved
        native-histogram rows (offset applied) + their series frame. An
        empty frame when no histogram tier is attached, so histogram_*
        functions over float-only storages evaluate to empty — the same
        thing Prometheus returns when a metric has no native-histogram
        samples."""
        series, matched = self._matched(sel)
        hists = self.histograms
        if hists is None:
            from promhouse_spark.schemas import HISTOGRAMS_SCHEMA

            hists = self.samples.sparkSession.createDataFrame([], HISTOGRAMS_SCHEMA)
        hists = restrict_to_series(hists, matched, self._max_inlist)
        if sel.offset_ms:
            hists = hists.withColumn(
                "timestamp_ms", F.col("timestamp_ms") + F.lit(sel.offset_ms)
            )
        return hists, series

    # range functions that stay histogram-typed over native histograms
    _HIST_RANGE_FUNCS = (
        "rate", "increase", "sum_over_time", "avg_over_time", "last_over_time",
    )

    @classmethod
    def _is_hist_arg(cls, node) -> bool:
        """The sub-expression shapes native histograms flow through: a
        vector selector, the histogram-typed range functions (rate/
        increase/sum_over_time/avg_over_time/last_over_time) over a range
        selector, and sum()/avg() aggregation over any of those (the
        canonical ``histogram_quantile(0.9, sum(rate(h[5m])))``)."""
        if isinstance(node, VectorSelector):
            return True
        if (
            isinstance(node, Aggregation)
            and node.op in ("sum", "avg")
            and node.param is None
        ):
            return cls._is_hist_arg(node.expr)
        return (
            isinstance(node, Call)
            and node.func in cls._HIST_RANGE_FUNCS
            and len(node.args) == 1
            and isinstance(node.args[0], RangeSelector)
        )

    def _hist_wire_frame(self, node) -> DataFrame:
        """Evaluate a histogram-typed sub-expression to the labelled
        wire-shape frame (labels, timestamp_ms = grid eval, schema …
        negative). Same execution shapes as the float engine: the instant
        read is a bounded lookback/step map-side explode + ONE keyed
        max_by (no window over the fact table); rate/increase delegate to
        operators/nativehist.hist_increase (bounded range/step explode +
        one keyed agg)."""
        from promhouse_spark.operators.nativehist import hist_increase

        if isinstance(node, Aggregation):  # sum()/avg() of histograms
            from promhouse_spark.operators.nativehist import wire_hist_sum

            inner = self._hist_wire_frame(node.expr)
            if node.by is not None:
                grouped = match_labels(on=node.by)
            else:
                # bare sum: ALL labels drop; without: drop listed + name
                grouped = match_labels(
                    ignoring=node.without or None,
                    on=[] if node.without is None else None,
                )
            projected = inner.withColumn("labels", grouped)
            return wire_hist_sum(projected, avg=node.op == "avg")
        if isinstance(node, VectorSelector):
            hists, series = self._hist_selected(node)
            at = self._at_ms(node)
            h_struct = F.struct("timestamp_ms", *self._WIRE_COLS)
            if at is not None:
                latest = (
                    hists.filter(
                        (F.col("timestamp_ms") <= at)
                        & (F.col("timestamp_ms") >= at - self.lookback_ms)
                    )
                    .groupBy("fingerprint")
                    .agg(F.max_by(h_struct, F.col("timestamp_ms")).alias("__h"))
                    .crossJoin(
                        hists.sparkSession.range(1).select(self._grid())
                    )
                )
            else:
                # histogram at ts serves evals t with ts ≤ t ≤ ts+lookback
                # (inclusive staleness, matching operators/asof tolerance)
                ts = F.col("timestamp_ms")
                step, start = self.step_ms, self.start_ms
                k_min = F.greatest(
                    F.ceil((ts - F.lit(start)) / F.lit(step)).cast("long"),
                    F.lit(0),
                )
                k_max = F.floor(
                    (ts + F.lit(self.lookback_ms) - F.lit(start)) / F.lit(step)
                ).cast("long")
                k_cap = (self.end_ms - start) // step
                e_lo = F.lit(start) + k_min * F.lit(step)
                e_hi = F.lit(start) + F.least(k_max, F.lit(k_cap)) * F.lit(step)
                evs = F.when(e_lo <= e_hi, F.sequence(e_lo, e_hi, F.lit(step)))
                latest = (
                    hists.select(
                        "fingerprint",
                        h_struct.alias("__h"),
                        F.explode(evs).alias("eval_ms"),
                    )
                    .groupBy("fingerprint", "eval_ms")
                    .agg(F.max_by("__h", F.col("__h.timestamp_ms")).alias("__h"))
                )
            return self._labeled(latest, series).select(
                "labels",
                F.col("eval_ms").alias("timestamp_ms"),
                *[F.col(f"__h.{c}").alias(c) for c in self._WIRE_COLS],
            )
        if self._is_hist_arg(node):  # a histogram range function
            rs = node.args[0]
            sel = rs.selector
            hists, series = self._hist_selected(sel)
            labeled = self._labeled(hists, series).select(
                "labels", "timestamp_ms", *self._WIRE_COLS
            )
            at = self._at_ms(sel)
            start, end, step = self.start_ms, self.end_ms, self.step_ms
            if at is not None:
                start = end = at
            if node.func in ("rate", "increase"):
                out = hist_increase(
                    labeled, start, end, max(step, 1), rs.range_ms,
                    rate=node.func == "rate",
                )
            else:
                out = self._hist_over_time(
                    labeled, node.func, start, end, max(step, 1), rs.range_ms
                )
            if at is not None:  # broadcast the pinned eval to the grid
                out = out.drop("timestamp_ms").crossJoin(
                    labeled.sparkSession.range(1).select(self._grid())
                ).select(
                    "labels",
                    F.col("eval_ms").alias("timestamp_ms"),
                    *self._WIRE_COLS,
                )
            return out
        raise ValueError(
            "histogram functions need a selector or rate()/increase() "
            "over one as the histogram argument"
        )

    def _hist_over_time(
        self,
        labeled: DataFrame,
        func: str,
        start: int,
        end: int,
        step: int,
        range_ms: int,
    ) -> DataFrame:
        """sum_over_time / avg_over_time / last_over_time of native
        histograms: bounded range/step explode to the grid windows
        (t−range, t], then either one keyed max_by (last) or the
        wire_hist_sum merge (sum/avg — bucket-wise, schema-reconciling)."""
        from promhouse_spark.operators.nativehist import wire_hist_sum

        ts = F.col("timestamp_ms")
        k_min = F.greatest(
            F.ceil((ts - F.lit(start)) / F.lit(step)).cast("long"), F.lit(0)
        )
        k_max = F.floor(
            (ts + F.lit(range_ms - 1) - F.lit(start)) / F.lit(step)
        ).cast("long")
        k_cap = (end - start) // step
        e_lo = F.lit(start) + k_min * F.lit(step)
        e_hi = F.lit(start) + F.least(k_max, F.lit(k_cap)) * F.lit(step)
        evs = F.when(e_lo <= e_hi, F.sequence(e_lo, e_hi, F.lit(step)))
        h_struct = F.struct("timestamp_ms", *self._WIRE_COLS)
        exploded = labeled.select(
            "labels", h_struct.alias("__h"), F.explode(evs).alias("eval_ms")
        )
        if func == "last_over_time":
            g = exploded.groupBy(
                F.to_json("labels").alias("__k"), "eval_ms"
            ).agg(
                F.first("labels").alias("labels"),
                F.max_by("__h", F.col("__h.timestamp_ms")).alias("__h"),
            )
            return g.select(
                "labels",
                F.col("eval_ms").alias("timestamp_ms"),
                *[F.col(f"__h.{c}").alias(c) for c in self._WIRE_COLS],
            )
        windowed = exploded.select(
            "labels",
            F.col("eval_ms").alias("timestamp_ms"),
            *[F.col(f"__h.{c}").alias(c) for c in self._WIRE_COLS],
        )
        return wire_hist_sum(windowed, avg=func == "avg_over_time")

    def _hist_vector(self, wf: DataFrame, value: Column) -> DataFrame:
        """Wire-shape frame → engine vector frame, dropping the metric
        name (promql dropMetricName on every histogram_* function)."""
        return wf.select(
            _drop_name().alias("labels"),
            F.col("timestamp_ms").alias("eval_ms"),
            value.cast("double").alias("value"),
        )

    def _explode_to_grid(self, samples: DataFrame, rng: int) -> DataFrame:
        """Sliding-window explode: sample at ts reaches grid points t with
        ts ≤ t < ts + range (PromQL window (t-range, t]). Expansion factor
        ≤ range/step, bounded and map-side."""
        step, start, end = (f"({x})" for x in (self.step_ms, self.start_ms, self.end_ms))
        first = (
            f"CAST(greatest({start}, {start} + ceil((timestamp_ms - {start}) / {step})"
            f" * {step}) AS BIGINT)"
        )
        last = (
            f"CAST(least({end}, {start} + floor((timestamp_ms + ({rng - 1}) - {start})"
            f" / {step}) * {step}) AS BIGINT)"
        )
        evs = (
            f"CASE WHEN {first} <= {last} THEN sequence({first}, {last}, {step})"
            " ELSE CAST(array() AS ARRAY<BIGINT>) END"
        )
        return samples.selectExpr(
            "fingerprint",
            f"explode({evs}) AS eval_ms",
            "timestamp_ms AS ts",
            "CAST(value AS DOUBLE) AS v",
        )

    def _range_input(self, arg) -> tuple[DataFrame, DataFrame, int]:
        """(exploded frame, series frame, range_ms) for a range-function
        argument — either a plain range selector over stored samples or a
        SUBQUERY, whose inner expression is first evaluated on a finer
        epoch-aligned grid and whose output points then feed the same
        sliding-window explode (prometheus/promql subquery semantics)."""
        if isinstance(arg, RangeSelector):
            samples, series = self._selected(arg.selector, arg.range_ms)
            return self._explode_to_grid(samples, arg.range_ms), series, arg.range_ms
        if isinstance(arg, Subquery):
            step = arg.step_ms or self.step_ms
            off = arg.offset_ms or 0
            # `<subquery> offset d` shifts the inner evaluation timeline
            # back by d, then the produced points forward by d — the same
            # convention as selector offset in _selected
            fine_start = ((self.start_ms - off - arg.range_ms) // step) * step
            inner = self._sub(fine_start, self.end_ms - off, step)
            vec = inner._compile(arg.expr)
            if isinstance(vec, float):
                vec = inner._scalar_frame(vec)
            # the inner evaluation feeds THREE consumers (the exploded
            # samples-like frame, the series-like distinct, and the final
            # _attach join) as one shared plan object — identical
            # canonical subtrees, so runtime exchange reuse executes the
            # shared stages once (eager localCheckpoint here was measured
            # net-negative, r12)
            from promhouse_spark.functions.labels import labels_map_to_json

            key = labels_map_to_json("labels")
            samples_like = vec.select(
                key.alias("fingerprint"),
                (F.col("eval_ms") + F.lit(off)).alias("timestamp_ms"),
                "value",
            )
            series_like = vec.select(key.alias("fingerprint"), "labels").dropDuplicates(
                ["fingerprint"]
            )
            return (
                self._explode_to_grid(samples_like, arg.range_ms),
                series_like,
                arg.range_ms,
            )
        raise ValueError("expected a range selector or subquery")

    # -- range functions -----------------------------------------------------

    def _extrapolated(
        self, frame: DataFrame, rng: int, counter: bool, as_rate: bool
    ) -> DataFrame:
        """promql/functions.go extrapolatedRate over the exploded range
        frame: used by rate/increase (counter) and delta (gauge)."""
        if counter:
            prev = "lag(v) OVER (PARTITION BY fingerprint, eval_ms ORDER BY ts, v)"
            frame = frame.selectExpr(
                "*",
                f"CASE WHEN {prev} IS NULL THEN 0.0D WHEN v >= {prev} THEN v - {prev}"
                " ELSE v END AS inc",
            )
            delta = "sum(inc)"
        else:
            delta = "max_by(v, struct(ts, v)) - min_by(v, struct(ts, v))"
        agg = (
            frame.groupBy("fingerprint", "eval_ms")
            .agg(
                F.expr(f"{delta} AS delta"),
                F.expr("min(ts) AS first_ts"),
                F.expr("max(ts) AS last_ts"),
                F.expr("min_by(v, struct(ts, v)) AS first_v"),
                F.expr("CAST(count(*) AS BIGINT) AS n"),
            )
            .filter("n >= 2 AND last_ts > first_ts")
        )
        sampled = "CAST(last_ts - first_ts AS DOUBLE)"
        avg_iv = f"({sampled} / (n - 1))"
        to_start = f"CAST(first_ts - (eval_ms - ({rng})) AS DOUBLE)"
        to_end = "CAST(eval_ms - last_ts AS DOUBLE)"
        if counter:
            to_zero = f"({sampled} * (first_v / nullif(delta, 0.0D)))"
            to_start = (
                f"CASE WHEN delta > 0 AND first_v >= 0 AND {to_zero} < {to_start}"
                f" THEN {to_zero} ELSE {to_start} END"
            )
        head = f"CASE WHEN ({to_start}) >= {avg_iv} * 1.1D THEN {avg_iv} / 2 ELSE {to_start} END"
        tail = f"CASE WHEN {to_end} >= {avg_iv} * 1.1D THEN {avg_iv} / 2 ELSE {to_end} END"
        value = f"delta * ({sampled} + ({head}) + ({tail})) / {sampled}"
        if as_rate:
            value = f"({value}) / {sql_double(rng / 1000.0)}"
        return agg.selectExpr("fingerprint", "eval_ms", f"{value} AS value")

    _ROLLUP_PUSHDOWN = {
        "sum_over_time", "count_over_time", "min_over_time",
        "max_over_time", "avg_over_time", "last_over_time",
    }

    def _try_rollup_pushdown(self, func: str, node: Call) -> DataFrame | None:
        """Exact aggregation pushdown on the rollup tier: a decomposable
        *_over_time whose range and grid align to whole rollup windows is
        answered from the partials (streaming/rollup.rollup_range_agg) —
        never touching even the pseudo-sample frame. Returns None when the
        shape doesn't qualify (the caller falls back to the general
        evaluation, which stays correct at rollup resolution)."""
        if self._rollup is None or func not in self._ROLLUP_PUSHDOWN:
            return None
        args0 = node.args[0] if len(node.args) == 1 else None
        if (
            not isinstance(args0, RangeSelector)
            or args0.selector.at_ms is not None
            or args0.selector.offset_ms
        ):
            return None
        partials, rstep = self._rollup
        if (
            args0.range_ms % rstep
            or self.step_ms % rstep
            or self.start_ms % self.step_ms
        ):
            return None
        from promhouse_spark.streaming.rollup import rollup_range_agg

        series, matched = self._matched(args0.selector)
        sub = restrict_to_series(partials, matched, self._max_inlist)
        out = rollup_range_agg(
            sub, rstep, func, args0.range_ms, self.step_ms
        ).filter(
            (F.col("eval_ms") >= self.start_ms) & (F.col("eval_ms") <= self.end_ms)
        )
        return self._attach(out, series, drop_name=func != "last_over_time")

    def _range_call(self, func: str, node: Call) -> DataFrame:
        if func == "double_exponential_smoothing":  # Prometheus 3.x name
            func = "holt_winters"
        pushed = self._try_rollup_pushdown(func, node)
        if pushed is not None:
            return pushed
        # the range argument is args[0] for most functions but args[1] for
        # quantile_over_time — locate it by type so @ is honored everywhere
        rs_idx = next(
            (
                i
                for i, a in enumerate(node.args)
                if isinstance(a, (RangeSelector, Subquery))
            ),
            None,
        )
        rs = node.args[rs_idx] if rs_idx is not None else None
        rs_at = (
            rs.selector.at_ms if isinstance(rs, RangeSelector) else rs.at_ms
        ) if rs is not None else None
        if rs_at is not None:
            # @ on a range selector OR subquery: evaluate the function
            # ONCE at the pinned timestamp, broadcast across the grid
            import dataclasses

            at = self._at_ms(
                rs.selector if isinstance(rs, RangeSelector) else rs
            )
            sub = self._sub(at, at, max(self.step_ms, 1))
            new_args = list(node.args)
            if isinstance(rs, RangeSelector):
                sel = dataclasses.replace(rs.selector, at_ms=None)
                new_args[rs_idx] = RangeSelector(sel, rs.range_ms)
            else:
                new_args[rs_idx] = dataclasses.replace(rs, at_ms=None)
            pinned = sub._range_call(func, Call(node.func, new_args))
            spark = self.samples.sparkSession
            return pinned.select("labels", "value").crossJoin(
                spark.range(1).select(self._grid())
            ).select("labels", "eval_ms", "value")
        q_param = None
        args = node.args
        if func == "quantile_over_time":
            q_param, args = args[0], args[1:]
        if func == "predict_linear":
            args, horizon = args[:1], args[1]
        hw_params = (0.1, 0.3)
        if func == "holt_winters":
            args, hw = args[:1], args[1:]
            if len(hw) != 2 or not all(_is_lit(x) for x in hw):
                raise ValueError("holt_winters needs literal sf, tf")
            hw_params = (
                _lit_float(hw[0], "sf"), _lit_float(hw[1], "tf")
            )
        if len(args) != 1 or not isinstance(args[0], (RangeSelector, Subquery)):
            raise ValueError(f"{func} expects a range selector or subquery")
        frame, series, rng = self._range_input(args[0])
        if func in ("rate", "increase", "delta"):
            out = self._extrapolated(
                frame, rng, counter=func != "delta", as_rate=func == "rate"
            )
        elif func in _SIMPLE_OVER_TIME:
            out = frame.groupBy("fingerprint", "eval_ms").agg(
                F.expr(f"{_SIMPLE_OVER_TIME[func]} AS value")
            )
        elif func == "quantile_over_time":
            g = frame.groupBy("fingerprint", "eval_ms")
            qv = _lit_float(q_param, "quantile_over_time quantile")
            if qv < 0 or qv > 1:
                # Prometheus: φ outside [0,1] yields ∓Inf (with a warning),
                # never an error; Spark's percentile would throw
                out = g.agg(
                    F.lit(math.inf if qv > 1 else -math.inf).alias("value")
                )
            else:
                out = g.agg(F.percentile("v", F.lit(qv)).alias("value"))
        elif func == "mad_over_time":
            # median absolute deviation (Prometheus experimental):
            # median(|v_i − median(v)|), both medians with the φ·(n−1)
            # linear interpolation PromQL's quantile uses. The inner median
            # must finish before the deviations exist, so the window folds
            # through a sorted array (the holt_winters pattern) and both
            # interpolations are array expressions post-aggregation.
            def arr_q(a, q=0.5):
                n = F.size(a)
                rank = F.lit(q) * (n - 1).cast("double")
                lo = F.floor(rank).cast("int")
                hi = F.ceil(rank).cast("int")
                return F.element_at(a, lo + 1) + (
                    F.element_at(a, hi + 1) - F.element_at(a, lo + 1)
                ) * (rank - lo.cast("double"))

            gathered = frame.groupBy("fingerprint", "eval_ms").agg(
                F.array_sort(F.collect_list("v")).alias("a")
            )
            med = arr_q(F.col("a"))
            dev = F.array_sort(
                F.transform(F.col("a"), lambda x: F.abs(x - med))
            )
            out = gathered.select(
                "fingerprint", "eval_ms", arr_q(dev).alias("value")
            )
        elif func in ("irate", "idelta"):
            w = W.partitionBy("fingerprint", "eval_ms").orderBy(
                F.desc("ts"), F.desc("v")
            )
            lt = (
                frame.withColumn("__rn", F.row_number().over(w))
                .withColumn("pts", F.lead("ts").over(w))
                .withColumn("pv", F.lead("v").over(w))
                .filter((F.col("__rn") == 1) & F.col("pts").isNotNull())
            )
            if func == "irate":
                inc = F.when(
                    F.col("v") >= F.col("pv"), F.col("v") - F.col("pv")
                ).otherwise(F.col("v"))
                value = inc / F.nullif(
                    (F.col("ts") - F.col("pts")).cast("double"), F.lit(0.0)
                ) * 1000.0
            else:
                value = F.col("v") - F.col("pv")
            out = lt.select("fingerprint", "eval_ms", value.alias("value"))
        elif func in ("resets", "changes"):
            w_in = W.partitionBy("fingerprint", "eval_ms").orderBy("ts", "v")
            prev = F.lag("v").over(w_in)
            mark = (
                (prev.isNotNull() & (F.col("v") < prev))
                if func == "resets"
                else (prev.isNotNull() & (F.col("v") != prev))
            ).cast("int")
            out = (
                frame.withColumn("m", mark)
                .groupBy("fingerprint", "eval_ms")
                .agg(F.sum("m").cast("double").alias("value"))
            )
        elif func == "holt_winters":
            # double exponential smoothing (funcHoltWinters), seeded
            # s=x2, b=x2-x1, folded over the window's sorted samples: the
            # collect is bounded by one window, never a whole series
            sf_, tf_ = hw_params
            omf, omtf = 1.0 - sf_, 1.0 - tf_
            arr = F.array_sort(F.collect_list(F.struct("ts", "v")))
            gathered = frame.groupBy("fingerprint", "eval_ms").agg(
                arr.alias("a"), F.count("*").alias("n")
            ).filter(F.col("n") >= 2)
            a = F.col("a")
            init = F.struct(
                a[1]["v"].alias("s"), (a[1]["v"] - a[0]["v"]).alias("b")
            )
            rest = F.slice(a, 3, F.greatest(F.size(a) - 2, F.lit(0)))
            smooth = lambda acc, x: F.struct(  # noqa: E731
                (F.lit(sf_) * x["v"] + F.lit(omf) * (acc["s"] + acc["b"])).alias("s"),
                (
                    F.lit(tf_)
                    * ((F.lit(sf_) * x["v"] + F.lit(omf) * (acc["s"] + acc["b"])) - acc["s"])
                    + F.lit(omtf) * acc["b"]
                ).alias("b"),
            )
            out = gathered.select(
                "fingerprint",
                "eval_ms",
                F.aggregate(rest, init, smooth)["s"].alias("value"),
            )
        elif func in ("deriv", "predict_linear"):
            x = (F.col("ts") - F.col("eval_ms")) / F.lit(1000.0)
            fitted = frame.select(
                "fingerprint", "eval_ms", x.alias("x"), F.col("v").alias("y")
            ).groupBy("fingerprint", "eval_ms")
            if func == "deriv":
                out = fitted.agg(F.regr_slope("y", "x").alias("value")).filter(
                    F.col("value").isNotNull()
                )
            else:
                hz = _lit_float(horizon, "predict_linear horizon")
                out = fitted.agg(
                    (
                        F.regr_intercept("y", "x")
                        + F.regr_slope("y", "x") * F.lit(hz)
                    ).alias("value")
                ).filter(F.col("value").isNotNull())
        else:
            raise ValueError(f"unsupported range function: {func}")
        # range functions drop the metric name (engine.go dropMetricName) —
        # EXCEPT last_over_time, which Prometheus treats like an offset
        # selector and keeps __name__ (engine.go funcs-with-name special case)
        return self._attach(out, series, drop_name=func != "last_over_time")

    # -- compile -------------------------------------------------------------

    def _compile(self, node) -> DataFrame | float:
        if isinstance(node, NumberLiteral):
            return float(node.value)
        if isinstance(node, Unary):
            inner = self._compile(node.expr)
            if isinstance(inner, float):
                return -inner
            return inner.withColumn("value", -F.col("value")).withColumn(
                "labels", _drop_name()
            )
        if isinstance(node, VectorSelector):
            return self._instant(node)
        if isinstance(node, RangeSelector):
            raise ValueError("range selector outside a function call")
        if isinstance(node, Call):
            return self._call(node)
        if isinstance(node, Aggregation):
            return self._aggregation(node)
        if isinstance(node, BinaryOp):
            return self._binop(node)
        raise ValueError(f"cannot compile {type(node).__name__}")

    # function arity (min, max); None max = unbounded
    _ARITY = {
        "pi": (0, 0), "time": (0, 0),
        "minute": (0, 1), "hour": (0, 1), "day_of_week": (0, 1),
        "day_of_month": (0, 1), "month": (0, 1), "year": (0, 1),
        "day_of_year": (0, 1), "days_in_month": (0, 1),
        "clamp": (3, 3), "clamp_min": (2, 2), "clamp_max": (2, 2),
        "round": (1, 2), "histogram_quantile": (2, 2),
        "histogram_count": (1, 1), "histogram_sum": (1, 1),
        "histogram_avg": (1, 1), "histogram_stddev": (1, 1),
        "histogram_stdvar": (1, 1), "histogram_fraction": (3, 3),
        "label_replace": (5, 5), "label_join": (3, None),
        "sort_by_label": (1, None), "sort_by_label_desc": (1, None),
        "quantile_over_time": (2, 2), "predict_linear": (2, 2),
        "holt_winters": (3, 3), "double_exponential_smoothing": (3, 3),
        "scalar": (1, 1), "vector": (1, 1), "absent": (1, 1),
        "absent_over_time": (1, 1), "timestamp": (1, 1),
        "sort": (1, 1), "sort_desc": (1, 1),
        "info": (1, 2),
    }

    def _vec(self, node) -> DataFrame:
        """Compile an argument that must be an instant vector; a
        scalar-typed result is a PromQL type error, not a crash."""
        out = self._compile(node)
        if isinstance(out, float):
            raise ValueError("expected an instant vector argument, got a scalar")
        return out

    def _call(self, node: Call) -> DataFrame:
        func = node.func
        lo, hi = self._ARITY.get(func, (1, 1))
        n = len(node.args)
        if n < lo or (hi is not None and n > hi):
            raise ValueError(
                f"{func} expects "
                + (f"{lo}" if hi == lo else f"{lo}..{hi if hi is not None else 'n'}")
                + f" argument(s), got {n}"
            )
        range_funcs = (
            {"rate", "increase", "delta", "irate", "idelta", "resets", "changes",
             "deriv", "predict_linear", "quantile_over_time", "holt_winters",
             "double_exponential_smoothing", "mad_over_time"}
            | set(_SIMPLE_OVER_TIME)
        )
        if func in range_funcs:
            return self._range_call(func, node)
        if func in _VALUE_FUNCS:
            vec = self._vec(node.args[0])
            return vec.select(
                _drop_name().alias("labels"),
                "eval_ms",
                _VALUE_FUNCS[func](F.col("value")).cast("double").alias("value"),
            )
        if func in ("clamp", "clamp_min", "clamp_max"):
            vec = self._vec(node.args[0])
            lits = [_lit_float(a, f"{func} bound") for a in node.args[1:]]
            v = F.col("value")
            if func == "clamp_min":
                value = F.greatest(v, F.lit(lits[0]))
            elif func == "clamp_max":
                value = F.least(v, F.lit(lits[0]))
            elif lits[0] > lits[1]:
                value = F.lit(math.nan)  # funcClamp: min > max yields NaN
            else:
                value = F.least(F.greatest(v, F.lit(lits[0])), F.lit(lits[1]))
            return vec.select(
                _drop_name().alias("labels"),
                "eval_ms",
                value.cast("double").alias("value"),
            )
        if func == "round":
            vec = self._vec(node.args[0])
            to = (
                _lit_float(node.args[1], "round nearest")
                if len(node.args) > 1
                else 1.0
            )
            value = F.round(F.col("value") / F.lit(to)) * F.lit(to)
            return vec.select(
                _drop_name().alias("labels"),
                "eval_ms",
                value.cast("double").alias("value"),
            )
        if func in ("sort", "sort_desc"):
            # ordering is presentational; the frame is unchanged
            vec = self._vec(node.args[0])
            return vec.orderBy(
                F.col("value").asc() if func == "sort" else F.col("value").desc()
            )
        if func in ("sort_by_label", "sort_by_label_desc"):
            # Prometheus 3.x experimental: presentational ordering by the
            # named labels (absent label sorts as "")
            vec = self._vec(node.args[0])
            keys = []
            for a in node.args[1:]:
                if not isinstance(a, StringLiteral):
                    raise ValueError(f"{func} needs string label names")
                c = F.coalesce(F.element_at("labels", F.lit(a.value)), F.lit(""))
                keys.append(c.asc() if func == "sort_by_label" else c.desc())
            return vec.orderBy(*keys) if keys else vec
        if func == "scalar":
            vec = self._vec(node.args[0])
            # scalar(v): the single series' value per eval; NaN when 0 or
            # >1. Left-join from the full grid so evaluations with ZERO
            # input series still emit a NaN row (Prometheus returns NaN at
            # every step, never a gap)
            counted = vec.groupBy("eval_ms").agg(
                F.count("*").alias("n"), F.first("value").alias("v")
            )
            grid = self.samples.sparkSession.range(1).select(self._grid())
            return grid.join(counted, "eval_ms", "left").select(
                F.create_map().cast("map<string,string>").alias("labels"),
                "eval_ms",
                F.when(F.col("n") == 1, F.col("v"))
                .otherwise(F.lit(float("nan")))
                .alias("value"),
            )
        if func == "vector":
            # vector(s): scalar → one empty-labels series; a scalar-typed
            # FRAME (vector(scalar(x))) is already that shape
            if not is_scalar_expr(node.args[0]):
                raise ValueError("vector() expects a scalar argument")
            inner = self._compile(node.args[0])
            if isinstance(inner, float):
                return self._scalar_frame(inner)
            return inner
        if func == "histogram_quantile":
            return self._histogram_quantile(node)
        _hist_moments = {
            "histogram_count": "count_value",
            "histogram_sum": "sum_value",
            "histogram_avg": "avg_value",
            "histogram_stddev": "stddev_value",
            "histogram_stdvar": "stdvar_value",
        }
        if func in _hist_moments:
            from promhouse_spark.operators.nativehist import wire_hist_moments

            wf = self._hist_wire_frame(node.args[0])
            m = wire_hist_moments(wf)
            return self._hist_vector(m, F.col(_hist_moments[func]))
        if func == "histogram_fraction":
            from promhouse_spark.operators.nativehist import wire_hist_fraction

            lo = _lit_float(node.args[0], "histogram_fraction lower")
            hi = _lit_float(node.args[1], "histogram_fraction upper")
            wf = self._hist_wire_frame(node.args[2])
            return self._hist_vector(
                wire_hist_fraction(wf, lo, hi), F.col("fraction_value")
            )
        if func in ("label_replace", "label_join"):
            from promhouse_spark.functions import labels as L

            vec = self._vec(node.args[0])
            strs = []
            for a in node.args[1:]:
                if not isinstance(a, StringLiteral):
                    raise ValueError(f"{func} needs string literal arguments")
                strs.append(a.value)
            if func == "label_replace":
                dst, rep, src, regex = strs
                labels = L.label_replace("labels", dst, rep, src, regex)
            else:
                dst, sep, *srcs = strs
                labels = L.label_join("labels", dst, sep, *srcs)
            return vec.select(labels.alias("labels"), "eval_ms", "value")
        if func == "pi":
            spark = self.samples.sparkSession
            return spark.range(1).select(
                F.create_map().cast("map<string,string>").alias("labels"),
                self._grid(),
                F.lit(math.pi).alias("value"),
            )
        if func == "time":
            spark = self.samples.sparkSession
            return spark.range(1).select(
                F.create_map().cast("map<string,string>").alias("labels"),
                self._grid(),
                (F.col("eval_ms") / 1000.0).alias("value"),
            )
        if func == "timestamp":
            # timestamp(v): each element's sample timestamp in seconds —
            # for a plain selector that is the as-of matched sample's RAW
            # ts (engine.go rangeEvalTimestampFunctionOverVectorSelector:
            # offset shifts the lookup, not the reported timestamp, and @
            # pins the lookup but still reports the sample's own ts);
            # for computed vectors Prometheus stamps the evaluation time
            arg = node.args[0]
            if isinstance(arg, VectorSelector):
                samples, series = self._selected(arg)
                fps = self._fingerprints(series)
                # _selected shifted timestamps by +offset for the as-of
                # match; report the unshifted sample timestamp
                raw_ts = F.col("sample_ts_ms") - F.lit(arg.offset_ms or 0)
                at = self._at_ms(arg)
                if at is not None:
                    iv = instant_vector(
                        samples, at, at, max(self.step_ms, 1),
                        self.lookback_ms, fingerprints_df=fps,
                    )
                    pinned = iv.select(
                        "fingerprint", (raw_ts / 1000.0).alias("value")
                    ).crossJoin(
                        iv.sparkSession.range(1).select(self._grid())
                    )
                    return self._attach(pinned, series, drop_name=True)
                iv = instant_vector(
                    samples, self.start_ms, self.end_ms, self.step_ms,
                    self.lookback_ms, fingerprints_df=fps,
                ).select(
                    "fingerprint", "eval_ms",
                    (raw_ts / 1000.0).alias("value"),
                )
                return self._attach(iv, series, drop_name=True)
            vec = self._vec(arg)
            return vec.select(
                _drop_name().alias("labels"),
                "eval_ms",
                (F.col("eval_ms") / 1000.0).alias("value"),
            )
        if func in (
            "minute", "hour", "day_of_week", "day_of_month", "month", "year",
            "day_of_year", "days_in_month",
        ):
            # of the vector's values interpreted as epoch seconds;
            # zero-arg form operates on time() (PromQL semantics, UTC)
            vec = (
                self._vec(node.args[0]) if node.args else self._call(Call("time", []))
            )
            t = F.timestamp_seconds(F.col("value"))
            value = {
                "minute": F.minute(t),
                "hour": F.hour(t),
                "day_of_week": F.dayofweek(t) - 1,  # Prometheus: 0=Sunday
                "day_of_month": F.dayofmonth(t),
                "month": F.month(t),
                "year": F.year(t),
                "day_of_year": F.dayofyear(t),
                "days_in_month": F.dayofmonth(F.last_day(t)),
            }[func]
            return vec.select(
                _drop_name().alias("labels"),
                "eval_ms",
                value.cast("double").alias("value"),
            )
        if func == "absent":
            vec = self._vec(node.args[0])
            return self._absent_complement(vec.select("eval_ms"), node.args[0])
        if func == "absent_over_time":
            # same grid-complement machinery as absent, over the sliding
            # range window: 1 at evaluations whose (t-range, t] window holds
            # NO sample of any matched series, empty otherwise
            frame, _series, _rng = self._range_input(node.args[0])
            sel = node.args[0]
            if isinstance(sel, RangeSelector):
                sel = sel.selector
            return self._absent_complement(frame.select("eval_ms"), sel)
        if func == "info":
            return self._info(node)
        raise ValueError(f"unsupported function: {func}")

    def _info(self, node: Call) -> DataFrame:
        """Prometheus 3.x experimental ``info(v [, {selector}])``
        (promql/info.go): enrich each sample's labels with the
        NON-identifying labels of the matching ``target_info``-style info
        series, joined on the identifying labels (job, instance) at the
        same evaluation. The optional second argument selects the info
        metric (default ``{__name__="target_info"}``) and/or restricts
        which data labels to copy via its equality/regex matchers.
        Label conflicts keep the DATA series' value (documented; Prometheus
        errors on conflicting duplicates)."""
        vec = self._vec(node.args[0])
        info_sel = VectorSelector(name="target_info")
        if len(node.args) > 1:
            if not isinstance(node.args[1], VectorSelector):
                raise ValueError("info() selector must be a vector selector")
            info_sel = node.args[1]
            if info_sel.name is None and not any(
                m.name == NAME for m in info_sel.matchers
            ):
                import dataclasses

                info_sel = dataclasses.replace(info_sel, name="target_info")
        info = self._instant(info_sel)
        ident = ["job", "instance"]
        # CANONICAL (sorted-key) serialization for the join key — raw
        # to_json follows map build order, which label_replace etc. can
        # permute, silently missing the join
        from promhouse_spark.functions.labels import labels_map_to_json

        ikey = labels_map_to_json(
            F.map_filter("labels", lambda k, _: k.isin(*ident))
        )
        # data labels carried over: everything but identifiers and name
        data_labels = F.map_filter(
            "labels",
            lambda k, _: ~k.isin(*(ident + [NAME])),
        )
        inf2 = info.select(
            ikey.alias("__ik"), "eval_ms", data_labels.alias("__add")
        ).dropDuplicates(["__ik", "eval_ms"])
        joined = vec.withColumn("__ik", ikey).join(
            inf2, ["__ik", "eval_ms"], "left"
        )
        merged = F.map_zip_with(
            F.coalesce(F.col("__add"), F.create_map().cast("map<string,string>")),
            F.col("labels"),
            lambda _, v_info, v_data: F.coalesce(v_data, v_info),
        )
        return joined.select(
            merged.alias("labels"), "eval_ms", "value"
        )

    def _absent_complement(self, present_evals: DataFrame, sel) -> DataFrame:
        """Grid rows where the input produced nothing, labeled from the
        equality matchers of a plain selector
        (promql/functions.go createLabelsForAbsentFunction)."""
        entries = {}
        if isinstance(sel, VectorSelector):
            if sel.name:
                entries[NAME] = sel.name
            for m in sel.matchers:
                if m.op == "=":
                    entries[m.name] = m.value
        entries.pop(NAME, None)  # absent() drops the metric name
        label_lit = (
            F.create_map(
                *[x for k, v in sorted(entries.items()) for x in (F.lit(k), F.lit(v))]
            )
            if entries
            else F.create_map().cast("map<string,string>")
        )
        spark = self.samples.sparkSession
        grid = spark.range(1).select(self._grid())
        present = present_evals.distinct()
        return grid.join(present, "eval_ms", "left_anti").select(
            label_lit.alias("labels"), "eval_ms", F.lit(1.0).alias("value")
        )

    def _histogram_quantile(self, node: Call) -> DataFrame:
        # accept -0.5 etc. (the parser keeps unary minus as a node)
        q = NumberLiteral(_lit_float(node.args[0], "histogram_quantile q"))
        # native-histogram branch: when the argument is a shape native
        # histograms flow through AND a histogram tier is attached,
        # evaluate it there too and union — a metric is either classic
        # (le-bucketed float series) or native, so the union is disjoint
        # (promql evaluates both sample types the same way)
        native: DataFrame | None = None
        if self.histograms is not None and self._is_hist_arg(node.args[1]):
            from promhouse_spark.operators.nativehist import wire_hist_quantile

            wf = self._hist_wire_frame(node.args[1])
            nqv = float(q.value)
            if math.isnan(nqv) or nqv < 0 or nqv > 1:
                native = self._hist_vector(
                    wf,
                    F.lit(
                        float("nan") if math.isnan(nqv)
                        else float("-inf") if nqv < 0
                        else float("inf")
                    ),
                )
            else:
                native = self._hist_vector(
                    wire_hist_quantile(wf, nqv), F.col("quantile_value")
                ).unionByName(
                    # empty histograms: wire_hist_quantile drops them;
                    # Prometheus answers NaN
                    self._hist_vector(
                        wf.filter(F.col("count") <= 0), F.lit(float("nan"))
                    )
                )
        vec = self._vec(node.args[1])
        # group per eval by labels minus le (and __name__); le "+Inf" → inf
        key = match_key(ignoring=["le"])
        le = F.when(
            F.element_at("labels", "le").isin("+Inf", "Inf", "inf"),
            F.lit(float("inf")),
        ).otherwise(F.element_at("labels", "le").cast("double"))
        b = vec.select(
            key.alias("__key"), "eval_ms", le.alias("le"), F.col("value").alias("cnt")
        )
        # quantile.go bucketQuantile, as a per-group fold over the sorted
        # bucket array (one keyed agg; the per-group array is bounded by
        # the histogram's bucket count, so the fold is map-side cheap):
        # ensureMonotonic clamp → rank = q·observations → first bucket with
        # count ≥ rank → boundary cases exactly as Go (rank in the +Inf
        # bucket → second-highest le; first bucket with le ≤ 0 → le;
        # missing +Inf bucket, <2 buckets, or 0 observations → NaN;
        # q outside [0,1] → ±Inf before any validity checks)
        grouped = b.groupBy("__key", "eval_ms").agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("le"), F.col("cnt")))
            ).alias("__bs")
        )
        qv = float(q.value)
        if math.isnan(qv) or qv < 0 or qv > 1:
            value = F.lit(
                float("nan") if math.isnan(qv)
                else float("-inf") if qv < 0
                else float("inf")
            )
            staged = grouped
        else:
            staged = (
                grouped.withColumn(
                    "__cl",
                    F.expr(
                        "aggregate(__bs, "
                        "cast(array() as array<struct<le: double, cnt: double>>), "
                        "(acc, x) -> acc || array(named_struct("
                        "'le', x.le, "
                        "'cnt', CASE WHEN size(acc) = 0 THEN x.cnt "
                        "ELSE greatest(x.cnt, acc[size(acc)-1].cnt) END)))"
                    ),
                )
                .withColumn(
                    "__rank", F.lit(qv) * F.expr("element_at(__cl, -1).cnt")
                )
                .withColumn(
                    "__hits",
                    F.expr(
                        "filter(transform(__cl, (x, i) -> "
                        "named_struct('i', i, 'le', x.le, 'cnt', x.cnt)), "
                        "x -> x.i < size(__cl) - 1 AND x.cnt >= __rank)"
                    ),
                )
                .withColumn(
                    "__lo",
                    F.expr(
                        "CASE WHEN size(__hits) = 0 OR __hits[0].i = 0 "
                        "THEN 0.0D ELSE element_at(__cl, __hits[0].i).le END"
                    ),
                )
                .withColumn(
                    "__pcnt",
                    F.expr(
                        "CASE WHEN size(__hits) = 0 OR __hits[0].i = 0 "
                        "THEN 0.0D ELSE element_at(__cl, __hits[0].i).cnt END"
                    ),
                )
            )
            value = F.expr(
                "CASE "
                "WHEN size(__bs) < 2 THEN double('NaN') "
                "WHEN element_at(__bs, -1).le <> double('Infinity') "
                "  THEN double('NaN') "
                "WHEN element_at(__cl, -1).cnt = 0 THEN double('NaN') "
                "WHEN size(__hits) = 0 THEN element_at(__cl, size(__cl)-1).le "
                "WHEN __hits[0].i = 0 AND __cl[0].le <= 0 THEN __cl[0].le "
                "WHEN __hits[0].cnt = __pcnt THEN double('NaN') "
                "ELSE __lo + (__hits[0].le - __lo) "
                "  * (__rank - __pcnt) / (__hits[0].cnt - __pcnt) "
                "END"
            )
        classic = staged.select(
            F.from_json("__key", "map<string,string>").alias("labels"),
            "eval_ms",
            value.cast("double").alias("value"),
        )
        return classic if native is None else classic.unionByName(native)

    def _aggregation(self, node: Aggregation) -> DataFrame:
        vec = self._compile(node.expr)
        by, without = node.by, node.without
        if by is None and without is None:
            by = []  # bare sum(v): one group, ALL labels drop (PromQL)
        if node.op in ("topk", "bottomk"):
            k = int(_lit_float(node.param, f"{node.op} k"))
            return topk_by(
                vec, k, by=by, without=without,
                bottom=node.op == "bottomk",
            ).drop("rank")
        if node.op in ("limitk", "limit_ratio"):
            # Prometheus 3.x experimental: limitk keeps k series per group
            # (deterministic here: canonical-labels order), limit_ratio a
            # deterministic hash-fraction of series (negative r = the
            # complement, so r and r-1 partition the vector)
            from promhouse_spark.functions.labels import labels_map_to_json

            key = match_key(on=by, ignoring=without)
            canon = labels_map_to_json("labels")
            if node.op == "limitk":
                k = int(_lit_float(node.param, "limitk k"))
                w = W.partitionBy(F.col("eval_ms"), key).orderBy(canon)
                return (
                    vec.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= k)
                    .drop("__rn")
                )
            r = self._compile(node.param)  # handles unary minus literals
            if not isinstance(r, float):
                raise ValueError("limit_ratio needs a scalar literal")
            frac = F.pmod(F.xxhash64(canon), F.lit(1_000_000)) / 1_000_000.0
            keep = frac < F.lit(r) if r >= 0 else frac >= F.lit(1.0 + r)
            return vec.filter(keep)
        if node.op == "count_values":
            if not isinstance(node.param, StringLiteral):
                raise ValueError("count_values needs a string label name")
            label = node.param.value
            # render values Prometheus-style: integral floats without ".0"
            v = F.col("value")
            vstr = F.when(
                (v == F.floor(v)) & (F.abs(v) < 1e15),
                v.cast("long").cast("string"),
            ).otherwise(v.cast("string"))
            # the value label overwrites a same-named grouping label
            # (Prometheus semantics) — pre-filter to avoid Spark's
            # duplicate-map-key exception
            base = F.map_filter(
                match_labels(on=by, ignoring=without),
                lambda k, _: k != F.lit(label),
            )
            sub = F.map_concat(base, F.create_map(F.lit(label), vstr))
            from promhouse_spark.functions.labels import labels_map_to_json

            out = (
                vec.select(labels_map_to_json(sub).alias("__key"), "eval_ms")
                .groupBy("__key", "eval_ms")
                .agg(F.count("*").cast("double").alias("value"))
            )
            return out.select(
                F.from_json("__key", "map<string,string>").alias("labels"),
                "eval_ms",
                "value",
            )
        if node.op == "quantile":
            q = _lit_float(node.param, "quantile φ")
            if q < 0 or q > 1:
                # Prometheus: φ outside [0,1] yields ∓Inf, never an error
                bad = math.inf if q > 1 else -math.inf
                return agg_by(
                    vec, lambda c: F.min(F.lit(bad)), by=by, without=without
                ).drop("n_series")
            return agg_by(
                vec, lambda c: F.percentile(c, F.lit(q)), by=by, without=without
            ).drop("n_series")
        return agg_by(vec, node.op, by=by, without=without).drop("n_series")

    def _binop(self, node: BinaryOp) -> DataFrame | float:
        lhs = self._compile(node.lhs)
        rhs = self._compile(node.rhs)
        l_float, r_float = isinstance(lhs, float), isinstance(rhs, float)
        # scalar-TYPED frames (scalar(), pi(), time(), arithmetic over
        # them) must take scalar semantics too: their empty-labels match
        # key never equals a vector's, so vector matching would silently
        # return zero rows
        l_scalar = l_float or is_scalar_expr(node.lhs)
        r_scalar = r_float or is_scalar_expr(node.rhs)
        if node.op in ("and", "or", "unless"):
            if l_scalar or r_scalar:
                raise ValueError(f"set operator {node.op} requires vectors")
            if node.card != "one_to_one" or node.bool_mode:
                raise ValueError(
                    f"set operator {node.op} takes no group_left/group_right/bool"
                )
            return self._set_op(node, lhs, rhs)
        is_cmp = node.op in _CMP
        if node.bool_mode and not is_cmp:
            raise ValueError("bool modifier is only valid on comparisons")
        op_fn = _CMP[node.op] if is_cmp else _ARITH[node.op]
        if is_cmp and l_scalar and r_scalar and not node.bool_mode:
            raise ValueError("comparisons between scalars must use bool modifier")
        if l_float and r_float:
            if is_cmp:
                return float(_PY_CMP[node.op](lhs, rhs))
            return float(_PY_ARITH[node.op](lhs, rhs))
        # the value expression as SQL, and the labels of a computed result
        if l_float or r_float:
            vec, scalar, flipped = (
                (rhs, lhs, True) if l_float else (lhs, rhs, False)
            )
            lcol = sql_double(scalar) if flipped else "value"
            rcol = "value" if flipped else sql_double(scalar)
            other_scalar = r_scalar if flipped else l_scalar
            if is_cmp and not node.bool_mode and not other_scalar:
                return vec.filter(op_fn(lcol, rcol))
            labels = _NO_LABELS if other_scalar else _DROP_NAME
        elif l_scalar and r_scalar:
            # scalar frame OP scalar frame: one row per evaluation on each
            # side — join on the eval time, empty output labels
            vec = lhs.selectExpr("eval_ms", "value AS __l").join(
                rhs.selectExpr("eval_ms", "value AS __r"), "eval_ms"
            )
            lcol, rcol, labels = "__l", "__r", _NO_LABELS  # bool_mode enforced above
        elif l_scalar or r_scalar:
            # scalar frame OP vector: Prometheus scalar-vector semantics —
            # match on evaluation time ONLY (engine.go VectorscalarBinop)
            v, sc, flipped = (rhs, lhs, True) if l_scalar else (lhs, rhs, False)
            vec = v.join(sc.selectExpr("eval_ms", "value AS __sv"), "eval_ms")
            lcol = "__sv" if flipped else "value"
            rcol = "value" if flipped else "__sv"
            if is_cmp and not node.bool_mode:
                return vec.filter(op_fn(lcol, rcol)).select("labels", "eval_ms", "value")
            labels = _DROP_NAME
        if l_scalar or r_scalar:
            return vec.selectExpr(
                f"{labels} AS labels",
                "eval_ms",
                f"CAST({op_fn(lcol, rcol)} AS DOUBLE) AS value",
            )
        # an aggregation emits one row per (t, labels), and with plain
        # one-to-one matching its labels are the whole match key, so the
        # duplicate guards on that side cannot fire
        plain = node.card == "one_to_one" and node.on is None and not node.ignoring
        return binop(
            lhs, rhs, node.op,
            on=node.on, ignoring=node.ignoring, card=node.card,
            include=node.include, bool_mode=node.bool_mode,
            left_unique=plain and _unique_per_labels(node.lhs),
            right_unique=plain and _unique_per_labels(node.rhs),
        )

    def _set_op(self, node: BinaryOp, lhs: DataFrame, rhs: DataFrame) -> DataFrame:
        """and/unless: a semi-join/anti-join of the left rows against the
        distinct (eval_ms, match key) pairs of the right side. or: one
        keyed pass, so each operand is planned once: the two sides, tagged
        0 (left) and 1 (right), are unioned and windowed over (eval_ms,
        match key), keeping every left row plus the right rows of keys the
        left side lacks."""
        key = match_key(on=node.on, ignoring=node.ignoring)
        if node.op in ("and", "unless"):
            # coalesced: a non-null join key gives Catalyst no not-null
            # predicate to push through the sides' aggregations into the scan
            key = F.coalesce(key, F.lit(""))
            rk = rhs.select("eval_ms", key.alias("__key")).distinct()
            how = "left_semi" if node.op == "and" else "left_anti"
            return (
                lhs.withColumn("__key", key)
                .join(rk, ["eval_ms", "__key"], how)
                .select("labels", "eval_ms", "value")
            )
        sides = [
            side.select("labels", "eval_ms", "value", key.alias("__key"), F.lit(tag).alias("__side"))
            for tag, side in ((0, lhs), (1, rhs))
        ]
        return (
            sides[0].unionByName(sides[1])
            .selectExpr(
                "labels", "eval_ms", "value",
                "__side = 0 OR min(__side) OVER (PARTITION BY eval_ms, __key) = 1 AS __keep",
            )
            .filter("__keep")
            .select("labels", "eval_ms", "value")
        )


def _ieee_scalar_div(a: float, b: float) -> float:
    """Go float64 `/` for scalar literals: x/0 is ±Inf by the signs of
    BOTH operands (x/-0.0 flips), 0/0 and NaN/0 are NaN — Python raises
    ZeroDivisionError for either zero divisor."""
    if b != 0:
        return a / b
    if math.isnan(a) or a == 0:
        return math.nan
    return math.copysign(1.0, a) * math.copysign(1.0, b) * math.inf


def _ieee_pow(a: float, b: float) -> float:
    """Go math.Pow semantics for scalar-literal `^`: Python's `**` raises
    ZeroDivisionError for 0^-1 (IEEE: ±Inf), returns complex for a
    negative base with fractional exponent (IEEE: NaN), and raises
    OverflowError where IEEE saturates to ±Inf."""
    try:
        r = a ** b
    except ZeroDivisionError:
        # 0 ^ negative: +Inf, except -0 ^ negative-odd-integer = -Inf
        odd = float(b).is_integer() and abs(b) % 2 == 1
        return -math.inf if odd and math.copysign(1.0, a) < 0 else math.inf
    except OverflowError:
        odd = float(b).is_integer() and abs(b) % 2 == 1
        return -math.inf if a < 0 and odd else math.inf
    if isinstance(r, complex):
        return math.nan
    return float(r)


_PY_ARITH = {
    "+": lambda a, b: a + b,
    "-": lambda a, b: a - b,
    "*": lambda a, b: a * b,
    "/": _ieee_scalar_div,
    "%": lambda a, b: math.fmod(a, b) if b != 0 else math.nan,
    "^": _ieee_pow,
    "atan2": math.atan2,
}
_PY_CMP = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    ">": lambda a, b: a > b,
    "<": lambda a, b: a < b,
    ">=": lambda a, b: a >= b,
    "<=": lambda a, b: a <= b,
}
