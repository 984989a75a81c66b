"""PromQL vector-matching binary operations and label-dimension aggregation
(beyond-reference).

The reference receives PromQL read hints but drops them with a warning
(``handlers/prom.go:184-186``) — binary operations between instant vectors
and label aggregations always run in Prometheus, which means every sample
ships over the wire first. These operators evaluate them server-side over
the instant-vector frame (operators/asof.py:instant_vector) so an
"error-rate = errors / total by job" query reduces on the cluster.

Semantics follow prometheus/promql (parser.VectorMatching + engine.go
VectorBinop/resultMetric):

- **Match key**: the label subset named by ``on(...)``, or all labels minus
  ``ignoring(...)`` minus ``__name__``. Rendered as the canonical sorted
  JSON of the subset (functions/labels.py:labels_map_to_json) — a plain
  string equi-join key, so the join hash-partitions like any other.
- **Cardinality**: ``one_to_one`` requires both sides unique per
  (timestamp, match key); ``many_to_one`` (PromQL ``group_left``) /
  ``one_to_many`` (``group_right``) require only the "one" side unique.
  Violations raise at execution time with Prometheus's "found duplicate
  series for the match group" error — implemented as a lazy
  ``raise_error`` guard on the group count, so the check is distributed
  and costs one keyed aggregation the join needed anyway.
- **Result labels** (engine.go resultMetric): one-to-one keeps only the
  ``on`` labels, or drops ``ignoring`` + ``__name__``; grouped matches keep
  the "many" side's labels minus ``__name__`` and copy any
  ``include``-listed labels from the "one" side. Filter-mode comparisons
  (no ``bool``) keep the left labels untouched, metric name included.
- **Aggregation**: ``sum/avg/min/max/count by (labels)`` /
  ``without (labels)`` over the labels map; ``topk/bottomk`` keep the
  original series rows ranked per group with a canonical-labels tie-break
  so results are partition- and engine-reproducible.

Scale shape: everything is built-in column expressions + one equi-join or
keyed aggregation on (timestamp, canonical-key) — map-side combinable,
AQE-skew-splittable, no UDFs, no window over the fact table.

Float semantics are IEEE-754 exactly as promql/engine.go: division by
zero yields ±Inf/NaN (not Spark's non-ANSI NULL), x % 0 is NaN, and
comparisons involving NaN are false (!= true) rather than following
Spark's NaN-is-largest ordering. topk/bottomk place NaN series last in
both directions, matching Prometheus's heap order.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from promhouse_spark.functions.labels import labels_map_to_json

NAME_LABEL = "__name__"

_INF = float("inf")
_NAN = float("nan")


def ieee_div(l: Column, r: Column) -> Column:
    """IEEE-754 division exactly as PromQL (Go float64 `/`): x/0 is ±Inf by
    the signs of BOTH operands (x/-0.0 flips the sign of the infinity),
    0/0 and NaN/0 are NaN — where Spark's non-ANSI `/` yields NULL. The
    NaN guard comes FIRST because Spark orders NaN above every number, so
    a bare `l > 0` would send NaN/0 to +Inf."""
    # NULL operands stay NULL (a `r != 0` test is NULL for NULL r and
    # would otherwise fall into the ±Inf branch). Spark compares
    # -0.0 == 0.0 as true, so the divisor's zero sign is recovered from
    # its string form ("-0.0"), which Spark preserves.
    neg_zero = r.cast("string").startswith("-")
    inf = F.when(neg_zero, F.lit(-_INF)).otherwise(F.lit(_INF))
    return (
        F.when(l.isNull() | r.isNull(), F.lit(None).cast("double"))
        .when(r != 0, l / r)
        .when(F.isnan(l) | (l == 0), F.lit(_NAN))
        .otherwise(F.signum(l) * inf)
    )


def ieee_mod(l: Column, r: Column) -> Column:
    """Go math.Mod: x % 0 is NaN (Spark `%` gives NULL); NULL operands
    stay NULL."""
    return (
        F.when(l.isNull() | r.isNull(), F.lit(None).cast("double"))
        .when(r != 0, l % r)
        .otherwise(F.lit(_NAN))
    )


def _ieee_cmp(op: str) -> Callable[[Column, Column], Column]:
    """IEEE comparison semantics (PromQL): any comparison involving NaN is
    false, except != which is true. Spark's own operators instead treat
    NaN = NaN as true and NaN as greater than every number."""
    raw = {
        "==": lambda l, r: l == r,
        "!=": lambda l, r: l != r,
        ">": lambda l, r: l > r,
        "<": lambda l, r: l < r,
        ">=": lambda l, r: l >= r,
        "<=": lambda l, r: l <= r,
    }[op]

    def cmp(l: Column, r: Column) -> Column:
        has_nan = F.isnan(l) | F.isnan(r)
        return F.when(has_nan, F.lit(op == "!=")).otherwise(raw(l, r))

    return cmp


_ARITH: dict[str, Callable[[Column, Column], Column]] = {
    "+": lambda l, r: l + r,
    "-": lambda l, r: l - r,
    "*": lambda l, r: l * r,
    "/": ieee_div,
    "%": ieee_mod,
    "^": lambda l, r: F.pow(l, r),
    "atan2": F.atan2,  # a binary OPERATOR in PromQL (not a function)
}
_CMP: dict[str, Callable[[Column, Column], Column]] = {
    op: _ieee_cmp(op) for op in ("==", "!=", ">", "<", ">=", "<=")
}


def match_labels(
    labels: Column | str,
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] | None = None,
) -> Column:
    """The matching label subset of a MapType labels column: ``on`` keeps
    exactly the listed names; otherwise all names minus ``ignoring`` minus
    ``__name__`` (parser.VectorMatching.MatchingLabels)."""
    c = F.col(labels) if isinstance(labels, str) else labels
    if on is not None and ignoring is not None:
        raise ValueError("on and ignoring are mutually exclusive")
    if on is not None:
        keep = F.array(*[F.lit(k) for k in on])
        return F.map_filter(c, lambda k, _: F.array_contains(keep, k))
    drop = F.array(F.lit(NAME_LABEL), *[F.lit(k) for k in (ignoring or ())])
    return F.map_filter(c, lambda k, _: ~F.array_contains(drop, k))


def match_key(
    labels: Column | str,
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] | None = None,
) -> Column:
    """Canonical string join key of the matching label subset."""
    return labels_map_to_json(match_labels(labels, on, ignoring))


def _drop_keys(labels: Column, keys: Sequence[str]) -> Column:
    drop = F.array(*[F.lit(k) for k in keys])
    return F.map_filter(labels, lambda k, _: ~F.array_contains(drop, k))


def _keyed(
    df: DataFrame, key: Column, labels_col: str, time_col: str, value_col: str
) -> DataFrame:
    """A vector as (``__t``, ``__key``, ``__labels``, ``__v``) rows."""
    return df.select(
        F.col(time_col).alias("__t"),
        key.alias("__key"),
        F.col(labels_col).alias("__labels"),
        F.col(value_col).cast("double").alias("__v"),
    )


def _one_side(
    df: DataFrame,
    key: Column,
    side: str,
    labels_col: str,
    time_col: str,
    value_col: str,
    eager_guard: bool = False,
) -> DataFrame:
    """Collapse a vector to one row per (time, match key). With
    ``eager_guard`` (the hashed "one" side), a group with >1 series raises
    Prometheus's duplicate-series error UNCONDITIONALLY — engine.go errors
    while building rightSigs, before knowing whether anything matches — by
    guarding the join KEY, which every produced row must evaluate. Without
    it, ``__n`` is exposed so the caller can raise only on matched rows
    (Prometheus's matchedSigs semantics for the probe side)."""
    agg = df.groupBy(F.col(time_col).alias("__t"), key.alias("__key")).agg(
        F.count("*").alias("__n"),
        F.first(labels_col).alias("__labels"),
        F.first(F.col(value_col).cast("double")).alias("__v"),
    )
    if eager_guard:
        guarded_key = F.when(F.col("__n") == 1, F.col("__key")).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "found duplicate series for the match group on the "
                        f"{side} side: "
                    ),
                    F.col("__key"),
                )
            )
        )
        agg = agg.withColumn("__key", guarded_key)
    return agg.select("__t", "__key", "__labels", "__v", "__n")


_MANY_TO_ONE_ERR = (
    "multiple matches for labels: many-to-one matching must be explicit "
    "(group_left/group_right)"
)
_GROUPING_ERR = (
    "multiple matches for labels: grouping labels must ensure unique matches"
)


def _matched_guard(value: Column, n: Column, msg: str = _MANY_TO_ONE_ERR) -> Column:
    """Raise engine.go's matchedSigs error when a MATCHED probe-side group
    holds more than one series; evaluated post-join, so unmatched
    duplicates pass silently, as in Prometheus."""
    return F.when(n == 1, value).otherwise(F.raise_error(F.lit(msg)))


def binop(
    left: DataFrame,
    right: DataFrame,
    op: str | Callable[[Column, Column], Column],
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] | None = None,
    card: str = "one_to_one",
    include: Sequence[str] = (),
    bool_mode: bool = False,
    labels_col: str = "labels",
    time_col: str = "eval_ms",
    value_col: str = "value",
    left_unique: bool = False,
    right_unique: bool = False,
) -> DataFrame:
    """Binary operation between two instant vectors with PromQL vector
    matching. ``op`` is one of ``+ - * / % ^ == != > < >= <=`` or a custom
    ``(left_value, right_value) -> Column`` callable (queries use this to
    emit engine-exact fixed-point forms).

    ``card``: ``one_to_one`` | ``many_to_one`` (``group_left``) |
    ``one_to_many`` (``group_right``); ``include`` copies the listed labels
    from the "one" side onto grouped results (``group_left(lbls...)``).

    Output: (``labels_col``, ``time_col``, ``value_col``) — unmatched rows
    drop (inner join), comparison ops without ``bool_mode`` filter the left
    vector instead of computing a value.

    ``left_unique`` / ``right_unique``: the caller guarantees that side
    holds at most one row per (time, match key) — an aggregation's output
    under plain one-to-one matching. The one-to-one guards cannot fire
    then, so they are left out of the plan: a unique right side skips its
    duplicate-series collapse, and a unique left side the post-join
    matched-series window.
    """
    if card not in ("one_to_one", "many_to_one", "one_to_many"):
        raise ValueError(f"unknown cardinality: {card}")
    if include and card == "one_to_one":
        raise ValueError("include labels require group_left/group_right")
    is_cmp = isinstance(op, str) and op in _CMP
    if isinstance(op, str):
        try:
            op_fn = _ARITH[op] if not is_cmp else _CMP[op]
        except KeyError:
            raise ValueError(f"unknown operator: {op}") from None
    else:
        op_fn = op

    lkey = match_key(F.col(labels_col), on, ignoring)
    rkey = match_key(F.col(labels_col), on, ignoring)
    probe_matched_guard = False  # one_to_one probe side needs matchedSigs

    if card == "one_to_one":
        # the left (probe side) stays UNCOLLAPSED: engine.go evaluates
        # every lhs sample, and its matchedSigs error fires only when ≥2
        # rows of one match group actually produce output — collapsing
        # with first() would silently discard the duplicate instead
        l = _keyed(left, lkey, labels_col, time_col, value_col)
        if right_unique:
            r = _keyed(right, rkey, labels_col, time_col, value_col)
        else:
            r = _one_side(
                right, rkey, "right", labels_col, time_col, value_col,
                eager_guard=True,
            )
        lv, rv = F.col("l.__v"), F.col("r.__v")
        if not (is_cmp and not bool_mode) and not left_unique:
            # matchedSigs: detected POST-JOIN via a window count over the
            # join output (the rhs is unique per key, so joined rows per
            # (t, key) = the matched left group's size). A left-side guard
            # column would be projection-pushed BELOW the join by Catalyst
            # and fire on unmatched duplicates, which Prometheus allows; a
            # window over the join output cannot move.
            probe_matched_guard = True
        if on is not None:
            out_labels = match_labels(F.col("l.__labels"), on=on)
        else:
            out_labels = _drop_keys(
                F.col("l.__labels"), [NAME_LABEL, *(ignoring or ())]
            )
    else:
        many, one = (left, right) if card == "many_to_one" else (right, left)
        one_side = "right" if card == "many_to_one" else "left"
        m = _keyed(many, lkey, labels_col, time_col, value_col)
        o = _one_side(
            one, rkey, one_side, labels_col, time_col, value_col,
            eager_guard=True,
        )
        l, r = (m, o)
        if card == "many_to_one":
            lv, rv = F.col("l.__v"), F.col("r.__v")
        else:
            lv, rv = F.col("r.__v"), F.col("l.__v")
        out_labels = _drop_keys(
            F.col("l.__labels"), [NAME_LABEL, *include]
        )
        if include:
            inc = F.array(*[F.lit(k) for k in include])
            copied = F.map_filter(
                F.col("r.__labels"), lambda k, _: F.array_contains(inc, k)
            )
            out_labels = F.map_concat(out_labels, copied)

    joined = l.alias("l").join(r.alias("r"), ["__t", "__key"])

    if is_cmp and not bool_mode:
        # filter semantics: keep left rows where the predicate holds. The
        # metric name survives (engine.go shouldDropMetricName is false
        # for comparisons) but resultMetric STILL applies the matching
        # reduction: on() keeps only the on labels (the reason the
        # `and on(...)` idiom exists for label-preserving filters), and
        # ignoring() deletes the ignored labels; grouped matches keep the
        # many side's labels (name included) plus the include copies.
        if card == "one_to_one":
            if on is not None:
                cmp_labels = match_labels(F.col("l.__labels"), on=on)
            elif ignoring:
                cmp_labels = _drop_keys(F.col("l.__labels"), list(ignoring))
            else:
                cmp_labels = F.col("l.__labels")
        else:
            cmp_labels = _drop_keys(F.col("l.__labels"), list(include))
            if include:
                cmp_labels = F.map_concat(cmp_labels, copied)
        kept = joined.filter(op_fn(lv, rv))
        value_out, time_out = lv, F.col("__t")
        if card == "one_to_one":
            if not left_unique:
                # matchedSigs for filter comparisons: only when ≥2 rows of
                # a match group BOTH survive the filter does Prometheus
                # error — counted over the kept rows (the window
                # repartitions by the join key the rows already carry).
                # Guard value AND eval_ms so value-pruning plans still
                # trip it.
                kn = F.count("*").over(W.partitionBy("__t", "__key"))
                value_out = _matched_guard(lv, kn)
                time_out = _matched_guard(F.col("__t"), kn).cast("long")
        else:
            # grouped filter: insertedSigs — two surviving many-side rows
            # collapsing onto the SAME result labels is an error
            kn = F.count("*").over(
                W.partitionBy("__t", labels_map_to_json(cmp_labels))
            )
            value_out = _matched_guard(lv, kn, _GROUPING_ERR)
            time_out = _matched_guard(F.col("__t"), kn, _GROUPING_ERR).cast(
                "long"
            )
        return kept.select(
            cmp_labels.alias(labels_col),
            time_out.alias(time_col),
            value_out.alias(value_col),
        )
    value = op_fn(lv, rv)
    if is_cmp:
        value = value.cast("double")  # bool modifier: 1.0 / 0.0
    time_out = F.col("__t")
    if probe_matched_guard:
        # guard value AND eval_ms so value-pruning plans still trip it
        kn = F.count("*").over(W.partitionBy("__t", "__key"))
        value = _matched_guard(value, kn)
        time_out = _matched_guard(F.col("__t"), kn).cast("long")
    elif card != "one_to_one":
        # grouped arith/bool: insertedSigs — distinct many-side rows whose
        # RESULT labels collide (an include label erased the
        # distinguishing dimension) are an error in engine.go
        kn = F.count("*").over(
            W.partitionBy("__t", labels_map_to_json(out_labels))
        )
        value = _matched_guard(value, kn, _GROUPING_ERR)
        time_out = _matched_guard(F.col("__t"), kn, _GROUPING_ERR).cast("long")
    return joined.select(
        out_labels.alias(labels_col),
        time_out.alias(time_col),
        value.alias(value_col),
    )


_AGGS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
    "count": lambda c: F.count(c).cast("double"),  # PromQL count is a float
}


def agg_by(
    vec: DataFrame,
    func: str | Callable[[Column], Column] = "sum",
    by: Sequence[str] | None = None,
    without: Sequence[str] | None = None,
    labels_col: str = "labels",
    time_col: str = "eval_ms",
    value_col: str = "value",
) -> DataFrame:
    """PromQL aggregation over the label dimension:
    ``sum by (job) (v)`` / ``avg without (instance) (v)``. ``func`` is a
    name from sum/avg/min/max/count or a custom Column aggregator (queries
    use this for fixed-point sums).

    Output: (labels = the grouped subset map, time, value, n_series). One
    keyed aggregation on (time, canonical subset key) — map-side
    combinable."""
    agg_fn = _AGGS[func] if isinstance(func, str) else func
    key = match_key(F.col(labels_col), by, without)
    out = (
        vec.groupBy(F.col(time_col).alias("__t"), key.alias("__key"))
        .agg(
            agg_fn(F.col(value_col).cast("double")).alias("__v"),
            F.count("*").cast("long").alias("n_series"),
        )
    )
    return out.select(
        F.from_json("__key", "map<string,string>").alias(labels_col),
        F.col("__t").alias(time_col),
        F.col("__v").alias(value_col),
        "n_series",
    )


def topk_by(
    vec: DataFrame,
    k: int,
    by: Sequence[str] | None = None,
    without: Sequence[str] | None = None,
    bottom: bool = False,
    labels_col: str = "labels",
    time_col: str = "eval_ms",
    value_col: str = "value",
) -> DataFrame:
    """PromQL ``topk(k, v) by (labels)`` / ``bottomk``: the k highest (or
    lowest) series per (timestamp, group), ORIGINAL labels kept (topk is the
    one PromQL aggregation that returns input series untouched). Ties break
    on the canonical labels JSON so ranks are partition/engine-stable.

    One window pass partitioned by (time, group key) — the per-group row
    count is the series cardinality, never the sample count."""
    key = match_key(F.col(labels_col), by, without)
    v = F.col(value_col).cast("double")
    # Prometheus's heap keeps any non-NaN over NaN in BOTH directions
    # (engine.go: `math.IsNaN(heap[0].V) || s.V > heap[0].V`), so NaN sorts
    # last here too — Spark's own desc order would put NaN first
    nan_last = F.coalesce(F.isnan(v), F.lit(False)).asc()
    order = [nan_last, v.asc() if bottom else v.desc(), labels_map_to_json(labels_col)]
    w = W.partitionBy(F.col(time_col), key).orderBy(*order)
    return (
        vec.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
