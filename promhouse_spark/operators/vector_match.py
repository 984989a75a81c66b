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

Scale shape: everything is built-in expressions + one equi-join or
keyed aggregation on (timestamp, canonical-key) — map-side combinable,
AQE-skew-splittable, no UDFs, no window over the fact table. The
expressions are written as SQL text, one ``F.expr``/``selectExpr`` per
expression: a Column tree costs one py4j round trip per node, which made
the driver build of a served query dearer than its execution. Values
enter the text only through :func:`sql_str` and :func:`sql_double`.

Float semantics are IEEE-754 exactly as promql/engine.go: division by
zero yields ±Inf/NaN (not Spark's non-ANSI NULL), x % 0 is NaN, and
comparisons involving NaN are false (!= true) rather than following
Spark's NaN-is-largest ordering. topk/bottomk place NaN series last in
both directions, matching Prometheus's heap order.
"""

from __future__ import annotations

from typing import Callable, Mapping, Sequence

from pyspark.sql import Column, DataFrame, functions as F

NAME_LABEL = "__name__"


def sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal. Backslash, quote, ``$`` (the
    parser's ``${var}`` substitution) and control characters are written
    as ``\\uXXXX`` escapes; every other character stands as itself."""
    out = []
    for ch in s:
        if ch in "\\'$" or ord(ch) < 0x20 or ord(ch) == 0x7F:
            out.append(f"\\u{ord(ch):04x}")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


def sql_double(x: float) -> str:
    """``x`` as a SQL double, exactly: NaN, ±Inf and -0.0 included."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"


def sql_labels(labels: Mapping[str, str]) -> str:
    """A label set as a SQL ``map<string,string>`` literal."""
    if not labels:
        return "CAST(map() AS MAP<STRING, STRING>)"
    return "map(" + ", ".join(f"{sql_str(k)}, {sql_str(v)}" for k, v in labels.items()) + ")"


def _q(name: str) -> str:
    """A column name as a quoted SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _names(names: Sequence[str]) -> str:
    return ", ".join(sql_str(n) for n in names)


def canonical_json(labels: str) -> str:
    """SQL: the canonical (name-sorted) JSON of a map expression, as
    functions/labels.py:labels_map_to_json."""
    return f"to_json(map_from_entries(array_sort(map_entries({labels}))))"


def ieee_div(l: str, r: str) -> str:
    """SQL: IEEE-754 division exactly as PromQL (Go float64 `/`): x/0 is
    ±Inf by the signs of BOTH operands (x/-0.0 flips the sign of the
    infinity), 0/0 and NaN/0 are NaN — where Spark's `/` yields NULL or
    raises. The NaN guard comes FIRST because Spark orders NaN above every
    number, so a bare `l > 0` would send NaN/0 to +Inf. NULL operands stay
    NULL (a `r != 0` test is NULL for NULL r and would otherwise fall into
    the ±Inf branch). Spark compares -0.0 == 0.0 as true, so the divisor's
    zero sign is recovered from its string form ("-0.0")."""
    return (
        f"CASE WHEN ({l}) IS NULL OR ({r}) IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN ({r}) != 0 THEN ({l}) / ({r}) "
        f"WHEN isnan({l}) OR ({l}) = 0 THEN {sql_double(float('nan'))} "
        f"ELSE signum({l}) * CASE WHEN startswith(CAST(({r}) AS STRING), '-') "
        f"THEN {sql_double(-float('inf'))} ELSE {sql_double(float('inf'))} END END"
    )


def ieee_mod(l: str, r: str) -> str:
    """SQL: Go math.Mod — x % 0 is NaN (Spark `%` gives NULL); NULL
    operands stay NULL."""
    return (
        f"CASE WHEN ({l}) IS NULL OR ({r}) IS NULL THEN CAST(NULL AS DOUBLE) "
        f"WHEN ({r}) != 0 THEN ({l}) % ({r}) ELSE {sql_double(float('nan'))} END"
    )


def _ieee_cmp(op: str) -> Callable[[str, str], str]:
    """IEEE comparison semantics (PromQL): any comparison involving NaN is
    false, except != which is true. Spark's own operators instead treat
    NaN = NaN as true and NaN as greater than every number."""
    sql_op = "=" if op == "==" else op
    nan = "true" if op == "!=" else "false"
    return lambda l, r: (
        f"CASE WHEN isnan({l}) OR isnan({r}) THEN {nan} "
        f"ELSE ({l}) {sql_op} ({r}) END"
    )


#: binary operators as SQL over two SQL operands
_ARITH: dict[str, Callable[[str, str], str]] = {
    "+": lambda l, r: f"({l}) + ({r})",
    "-": lambda l, r: f"({l}) - ({r})",
    "*": lambda l, r: f"({l}) * ({r})",
    "/": ieee_div,
    "%": ieee_mod,
    "^": lambda l, r: f"power({l}, {r})",
    "atan2": lambda l, r: f"atan2({l}, {r})",  # a binary OPERATOR in PromQL
}
_CMP: dict[str, Callable[[str, str], str]] = {
    op: _ieee_cmp(op) for op in ("==", "!=", ">", "<", ">=", "<=")
}


def _match_labels_sql(
    labels: str,
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] | None = None,
) -> str:
    if on is not None and ignoring is not None:
        raise ValueError("on and ignoring are mutually exclusive")
    if on is not None:
        keep = f"k IN ({_names(on)})" if on else "false"
        return f"map_filter({labels}, (k, v) -> {keep})"
    return _drop_keys(labels, [NAME_LABEL, *(ignoring or ())])


def match_labels(
    labels: str = "labels",
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] | None = None,
) -> Column:
    """The matching label subset of a MapType labels column: ``on`` keeps
    exactly the listed names; otherwise all names minus ``ignoring`` minus
    ``__name__`` (parser.VectorMatching.MatchingLabels)."""
    return F.expr(_match_labels_sql(_q(labels), on, ignoring))


def _match_key_sql(
    labels: str,
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] | None = None,
) -> str:
    return canonical_json(_match_labels_sql(labels, on, ignoring))


def match_key(
    labels: str = "labels",
    on: Sequence[str] | None = None,
    ignoring: Sequence[str] | None = None,
) -> Column:
    """Canonical string join key of the matching label subset."""
    return F.expr(_match_key_sql(_q(labels), on, ignoring))


def _drop_keys(labels: str, keys: Sequence[str]) -> str:
    if not keys:
        return labels
    return f"map_filter({labels}, (k, v) -> k NOT IN ({_names(keys)}))"


def _keyed(
    df: DataFrame, key: str, p: str, labels_col: str, time_col: str, value_col: str
) -> DataFrame:
    """A vector as (``__t``, ``__key``, ``__{p}labels``, ``__{p}v``) rows;
    ``p`` names the join side, ``l`` or ``r``."""
    return df.selectExpr(
        f"{_q(time_col)} AS __t",
        f"{key} AS __key",
        f"{_q(labels_col)} AS __{p}labels",
        f"CAST({_q(value_col)} AS DOUBLE) AS __{p}v",
    )


def _one_side(
    df: DataFrame, key: str, p: str, side: str, labels_col: str, time_col: str, value_col: str
) -> DataFrame:
    """Collapse the hashed "one" side to one row per (time, match key), as
    :func:`_keyed` names it. A group with >1 series raises Prometheus's
    duplicate-series error UNCONDITIONALLY — engine.go errors while
    building rightSigs, before knowing whether anything matches — by
    guarding the join KEY, which every produced row must evaluate."""
    agg = df.groupBy(F.expr(f"{_q(time_col)} AS __t"), F.expr(f"{key} AS __key")).agg(
        F.expr("count(*) AS __n"),
        F.expr(f"first({_q(labels_col)}) AS __{p}labels"),
        F.expr(f"first(CAST({_q(value_col)} AS DOUBLE)) AS __{p}v"),
    )
    msg = sql_str(f"found duplicate series for the match group on the {side} side: ")
    return agg.selectExpr(
        "__t",
        f"CASE WHEN __n = 1 THEN __key ELSE raise_error(concat({msg}, __key)) END AS __key",
        f"__{p}labels",
        f"__{p}v",
    )


_MANY_TO_ONE_ERR = (
    "multiple matches for labels: many-to-one matching must be explicit "
    "(group_left/group_right)"
)
_GROUPING_ERR = (
    "multiple matches for labels: grouping labels must ensure unique matches"
)


def _matched_guard(value: str, n: str, msg: str = _MANY_TO_ONE_ERR) -> str:
    """Raise engine.go's matchedSigs error when a MATCHED probe-side group
    holds more than one series; evaluated post-join, so unmatched
    duplicates pass silently, as in Prometheus."""
    return f"CASE WHEN {n} = 1 THEN {value} ELSE raise_error({sql_str(msg)}) END"


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
    if isinstance(op, str) and not is_cmp and op not in _ARITH:
        raise ValueError(f"unknown operator: {op}")

    # coalesced: a non-null join key gives Catalyst no not-null predicate
    # to infer from the join and push through the aggregations down to
    # the samples scan, where it would derive every sample's labels
    key = f"coalesce({_match_key_sql(_q(labels_col), on, ignoring)}, '')"
    cols = (labels_col, time_col, value_col)
    probe_matched_guard = False  # one_to_one probe side needs matchedSigs

    if card == "one_to_one":
        # the left (probe side) stays UNCOLLAPSED: engine.go evaluates
        # every lhs sample, and its matchedSigs error fires only when ≥2
        # rows of one match group actually produce output — collapsing
        # with first() would silently discard the duplicate instead
        l = _keyed(left, key, "l", *cols)
        if right_unique:
            r = _keyed(right, key, "r", *cols)
        else:
            r = _one_side(right, key, "r", "right", *cols)
        lv, rv = "__lv", "__rv"
        if not (is_cmp and not bool_mode) and not left_unique:
            # matchedSigs: detected POST-JOIN via a window count over the
            # join output (the rhs is unique per key, so joined rows per
            # (t, key) = the matched left group's size). A left-side guard
            # column would be projection-pushed BELOW the join by Catalyst
            # and fire on unmatched duplicates, which Prometheus allows; a
            # window over the join output cannot move.
            probe_matched_guard = True
        if on is not None:
            out_labels = _match_labels_sql("__llabels", on=on)
        else:
            out_labels = _drop_keys("__llabels", [NAME_LABEL, *(ignoring or ())])
    else:
        many, one = (left, right) if card == "many_to_one" else (right, left)
        one_side = "right" if card == "many_to_one" else "left"
        l = _keyed(many, key, "l", *cols)
        r = _one_side(one, key, "r", one_side, *cols)
        if card == "many_to_one":
            lv, rv = "__lv", "__rv"
        else:
            lv, rv = "__rv", "__lv"
        out_labels = _drop_keys("__llabels", [NAME_LABEL, *include])
        if include:
            copied = f"map_filter(__rlabels, (k, v) -> k IN ({_names(include)}))"
            out_labels = f"map_concat({out_labels}, {copied})"

    # the "many" (or probe) side is l, the hashed side r
    joined = l.join(r, ["__t", "__key"])
    out = (_q(labels_col), _q(time_col), _q(value_col))

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
                cmp_labels = _match_labels_sql("__llabels", on=on)
            else:
                cmp_labels = _drop_keys("__llabels", list(ignoring or ()))
        else:
            cmp_labels = _drop_keys("__llabels", list(include))
            if include:
                cmp_labels = f"map_concat({cmp_labels}, {copied})"
        kept = joined.filter(_CMP[op](lv, rv))
        value_out, time_out = lv, "__t"
        if card == "one_to_one":
            if not left_unique:
                # matchedSigs for filter comparisons: only when ≥2 rows of
                # a match group BOTH survive the filter does Prometheus
                # error — counted over the kept rows (the window
                # repartitions by the join key the rows already carry).
                # Guard value AND eval_ms so value-pruning plans still
                # trip it.
                kn = "count(*) OVER (PARTITION BY __t, __key)"
                value_out = _matched_guard(lv, kn)
                time_out = f"CAST({_matched_guard('__t', kn)} AS BIGINT)"
        else:
            # grouped filter: insertedSigs — two surviving many-side rows
            # collapsing onto the SAME result labels is an error
            kn = f"count(*) OVER (PARTITION BY __t, {canonical_json(cmp_labels)})"
            value_out = _matched_guard(lv, kn, _GROUPING_ERR)
            time_out = f"CAST({_matched_guard('__t', kn, _GROUPING_ERR)} AS BIGINT)"
        return kept.selectExpr(
            f"{cmp_labels} AS {out[0]}", f"{time_out} AS {out[1]}", f"{value_out} AS {out[2]}"
        )
    if isinstance(op, str):
        value = _ARITH[op](lv, rv) if not is_cmp else f"CAST({_CMP[op](lv, rv)} AS DOUBLE)"
    else:
        joined = joined.withColumn("__val", op(F.col(lv), F.col(rv)))
        value = "__val"
    time_out = "__t"
    if probe_matched_guard:
        # guard value AND eval_ms so value-pruning plans still trip it
        kn = "count(*) OVER (PARTITION BY __t, __key)"
        value = _matched_guard(value, kn)
        time_out = f"CAST({_matched_guard('__t', kn)} AS BIGINT)"
    elif card != "one_to_one":
        # grouped arith/bool: insertedSigs — distinct many-side rows whose
        # RESULT labels collide (an include label erased the
        # distinguishing dimension) are an error in engine.go
        kn = f"count(*) OVER (PARTITION BY __t, {canonical_json(out_labels)})"
        value = _matched_guard(value, kn, _GROUPING_ERR)
        time_out = f"CAST({_matched_guard('__t', kn, _GROUPING_ERR)} AS BIGINT)"
    return joined.selectExpr(
        f"{out_labels} AS {out[0]}", f"{time_out} AS {out[1]}", f"{value} AS {out[2]}"
    )


#: named label aggregations as SQL over the value expression
_AGGS: dict[str, str] = {
    "sum": "sum({})",
    "avg": "avg({})",
    "min": "min({})",
    "max": "max({})",
    "count": "CAST(count({}) AS DOUBLE)",  # PromQL count is a float
    "group": "1.0D",
    "stddev": "stddev_pop({})",
    "stdvar": "var_pop({})",
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
    name from :data:`_AGGS` (sum/avg/min/max/count/group/stddev/stdvar) or
    a custom Column aggregator (queries use this for fixed-point sums).

    Output: (labels = the grouped subset map, time, value, n_series). One
    keyed aggregation on (time, canonical subset key) — map-side
    combinable."""
    value = f"CAST({_q(value_col)} AS DOUBLE)"
    agg = (
        func(F.col(value_col).cast("double")).alias("__v")
        if callable(func)
        else F.expr(f"{_AGGS[func].format(value)} AS __v")
    )
    key = _match_key_sql(_q(labels_col), by, without)
    out = vec.groupBy(F.expr(f"{_q(time_col)} AS __t"), F.expr(f"{key} AS __key")).agg(
        agg, F.expr("CAST(count(*) AS BIGINT) AS n_series")
    )
    return out.selectExpr(
        f"from_json(__key, 'map<string,string>') AS {_q(labels_col)}",
        f"__t AS {_q(time_col)}",
        f"__v AS {_q(value_col)}",
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
    key = _match_key_sql(_q(labels_col), by, without)
    v = f"CAST({_q(value_col)} AS DOUBLE)"
    # Prometheus's heap keeps any non-NaN over NaN in BOTH directions
    # (engine.go: `math.IsNaN(heap[0].V) || s.V > heap[0].V`), so NaN sorts
    # last here too — Spark's own desc order would put NaN first
    order = (
        f"coalesce(isnan({v}), false) ASC, {v} {'ASC' if bottom else 'DESC'}, "
        f"{canonical_json(_q(labels_col))}"
    )
    rank = f"row_number() OVER (PARTITION BY {_q(time_col)}, {key} ORDER BY {order}) AS rank"
    return vec.selectExpr("*", rank).filter(f"rank <= {int(k)}")
