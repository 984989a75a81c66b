"""PromQL front-end: parser precedence/shape pins + compiled-plan semantics
on a hand-computable corpus (promhouse_spark/promql/)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row

from promhouse_spark.functions.labels import labels_map_to_json
from promhouse_spark.promql import PromQLEngine, parse
from promhouse_spark.promql.parser import (
    Aggregation,
    BinaryOp,
    Call,
    NumberLiteral,
    RangeSelector,
    Unary,
    VectorSelector,
    parse_duration_ms,
)
from tests.fixtures import instant_at


# ---- parser ---------------------------------------------------------------


def test_durations():
    assert parse_duration_ms("5m") == 300_000
    assert parse_duration_ms("1h30m") == 5_400_000
    assert parse_duration_ms("250ms") == 250
    with pytest.raises(ValueError):
        parse_duration_ms("5x")


def test_parse_selector_and_matchers():
    r = parse('http_requests_total{code="200", handler=~"q.*", x!~"a", y!="b"}')
    assert isinstance(r, VectorSelector) and r.name == "http_requests_total"
    assert [(m.name, m.type.value, m.value) for m in r.matchers] == [
        ("code", "=", "200"), ("handler", "=~", "q.*"),
        ("x", "!~", "a"), ("y", "!=", "b"),
    ]
    bare = parse('{__name__="x"}')
    assert bare.name is None and bare.matchers[0].name == "__name__"


def test_parse_precedence():
    # ^ binds tighter than unary minus; right-associative
    r = parse("-2^2")
    assert isinstance(r, Unary) and isinstance(r.expr, BinaryOp)
    r = parse("2^-2")
    assert isinstance(r, BinaryOp) and isinstance(r.rhs, Unary)
    r = parse("2^3^2")
    assert isinstance(r.rhs, BinaryOp)  # 2^(3^2)
    r = parse("1 + 2 * 3")
    assert r.op == "+" and r.rhs.op == "*"
    r = parse("a and b or c")
    assert r.op == "or" and r.lhs.op == "and"


def test_parse_modifiers_and_aggregations():
    r = parse("errors / on(user) group_left(ver) total")
    assert r.on == ["user"] and r.card == "many_to_one" and r.include == ["ver"]
    r = parse("a > bool b")
    assert r.bool_mode
    r = parse("sum by (job) (m)")
    assert isinstance(r, Aggregation) and r.by == ["job"]
    r = parse("sum(m) without (instance)")
    assert r.without == ["instance"]
    r = parse("topk(3, m) by (t)")
    assert r.param.value == 3.0 and r.by == ["t"]
    r = parse("rate(m[5m] offset 30m)")
    sel = r.args[0]
    assert isinstance(sel, RangeSelector) and sel.selector.offset_ms == 1_800_000
    with pytest.raises(ValueError):
        parse("topk(m)")  # missing parameter
    with pytest.raises(ValueError):
        parse("m[5m]")  # bare range selector is not an expression... parsed
        # but rejected at compile time — ensure trailing-input errors too
        parse("m } x")


def test_string_escapes_keep_non_ascii():
    """Quoted strings decode Go's escapes and keep every other character
    as written: a non-ASCII letter next to an escaped backslash survives
    in a matcher and in a string argument."""
    sel = parse('temp{room=~"é\\\\d"}')
    assert sel.matchers[0].value == "é\\d"
    call = parse('label_replace(m, "dst", "é\\\\1", "src", "(.*)")')
    assert call.args[2].value == "é\\1"
    assert parse('m{a="\\u00e9\\t\\x41\\101"}').matchers[0].value == "é\tAA"
    assert parse("m{a='it\\'s'}").matchers[0].value == "it's"


# ---- engine ---------------------------------------------------------------


@pytest.fixture(scope="module")
def eng(spark):
    samples, series = [], []
    fp = 0
    for job in ("api", "db"):
        for name, per_s in (("errors", 1.0), ("total", 10.0)):
            fp += 1
            mult = 1.0 if job == "api" else 2.0
            series.append(Row(fingerprint=fp, labels={"__name__": name, "job": job}))
            for i in range(41):  # 15 s scrapes, 0..600 s
                samples.append(
                    Row(
                        fingerprint=fp,
                        timestamp_ms=i * 15_000,
                        value=float(i) * 15.0 * per_s * mult,
                    )
                )
    sdf = spark.createDataFrame(
        samples, "fingerprint long, timestamp_ms long, value double"
    )
    ser = spark.createDataFrame(series, "fingerprint long, labels map<string,string>")
    return PromQLEngine(
        sdf, ser, start_ms=300_000, end_ms=600_000, step_ms=60_000
    )


def _rows(eng, q):
    return (
        eng.eval(q)
        .select(labels_map_to_json("labels").alias("l"), "eval_ms", "value")
        .orderBy("eval_ms", "l")
        .collect()
    )


def test_selector_and_regex_matchers(eng):
    r = _rows(eng, 'errors{job=~"a.*"}')
    assert {x.l for x in r} == {'{"__name__":"errors","job":"api"}'}
    assert len(r) == 6  # 6 grid points
    # absent label ≡ "" — negative regex keeps both
    assert len(_rows(eng, 'errors{missing!~"zzz.*"}')) == 12


def test_rate_is_exact_on_linear_counters(eng):
    # counters grow 1/s (api) and 2/s (db): extrapolated rate is exact
    r = _rows(eng, "rate(errors[2m])")
    by_label = {(x.l, x.eval_ms): x.value for x in r}
    assert by_label[('{"job":"api"}', 300_000)] == pytest.approx(1.0)
    assert by_label[('{"job":"db"}', 300_000)] == pytest.approx(2.0)
    inc = _rows(eng, "increase(errors{job=\"api\"}[2m])")
    assert inc[0].value == pytest.approx(120.0)


def test_error_ratio_binop_and_agg(eng):
    r = _rows(
        eng, "sum by (job) (rate(errors[2m])) / sum by (job) (rate(total[2m]))"
    )
    assert all(x.value == pytest.approx(0.1) for x in r)
    assert {x.l for x in r} == {'{"job":"api"}', '{"job":"db"}'}
    direct = _rows(eng, "errors / on(job) total")
    assert all(x.value == pytest.approx(0.1) for x in direct)


def test_comparison_filter_vs_bool(eng):
    # instant values: api errors = t_s, db errors = 2*t_s over t=300..600 s
    filt = _rows(eng, "errors > 500")
    assert all(x.value > 500 for x in filt)
    # filter mode keeps the full left labels, metric name included
    assert all("__name__" in x.l for x in filt)
    # at t=300s only db (600) passes; api (300) is filtered
    t0 = [x for x in filt if x.eval_ms == 300_000]
    assert {x.l for x in t0} == {'{"__name__":"errors","job":"db"}'}
    b = _rows(eng, "errors > bool 500")
    assert {x.value for x in b} == {0.0, 1.0}
    assert all("__name__" not in x.l for x in b)


def test_scalar_arithmetic_and_unary(eng):
    r = _rows(eng, "-errors{job=\"api\"} * 2 + 1")
    assert r[0].value == pytest.approx(-300.0 * 2 + 1)
    assert "__name__" not in r[0].l
    # pure scalar expression evaluates per grid point
    s = _rows(eng, "1 + 2 * 3")
    assert all(x.value == 7.0 for x in s) and len(s) == 6


def test_set_operators(eng):
    a = _rows(eng, 'errors and on(job) total{job="api"}')
    assert {x.l for x in a} == {'{"__name__":"errors","job":"api"}'}
    u = _rows(eng, 'errors unless on(job) total{job="api"}')
    assert {x.l for x in u} == {'{"__name__":"errors","job":"db"}'}
    o = _rows(eng, 'errors{job="api"} or errors')
    assert len(o) == 12  # left wins on overlap, right fills the rest


def test_topk_and_sort(eng):
    t = _rows(eng, "topk(1, total) by (job)")
    assert len(t) == 12  # 1 series × 2 jobs × 6 evals
    assert all("__name__" in x.l for x in t)  # topk keeps original labels


def test_offset_and_over_time(eng):
    r = _rows(eng, 'avg_over_time(total{job="api"}[2m] offset 1m)')
    # window (t-3m, t-2m]... offset shifts the SAMPLE timeline by +1m:
    # at t=300s covers samples 135..240 s → avg value 1875
    assert r[0].value == pytest.approx(1875.0)
    inst = _rows(eng, 'total{job="api"} offset 1m')
    assert inst[0].value == pytest.approx((300 - 60) * 10.0)


def test_changes_resets_deriv_predict(eng):
    c = _rows(eng, 'changes(errors{job="api"}[2m])')
    assert c[0].value == 7.0  # 8 samples in (t-2m, t], 7 adjacent changes
    res = _rows(eng, 'resets(errors{job="api"}[2m])')
    assert all(x.value == 0.0 for x in res)
    d = _rows(eng, 'deriv(total{job="db"}[2m])')
    assert d[0].value == pytest.approx(20.0)
    p = _rows(eng, 'predict_linear(total{job="db"}[2m], 3600)')
    # linear counter: value at t + 1h = 20*(t_s+3600)
    assert p[0].value == pytest.approx(20.0 * (300 + 3600))


def test_quantile_and_clamp(eng):
    q = _rows(eng, 'quantile_over_time(0.5, total{job="api"}[2m])')
    # window (180, 300] s → 8 samples 1950..3000; interpolated median 2475
    assert q[0].value == pytest.approx(2475.0)
    cl = _rows(eng, "clamp(total, 0, 1000)")
    assert all(x.value <= 1000.0 for x in cl)


def test_histogram_quantile_compiled(spark):
    # 2 cumulative buckets series sets: le=0.1:60, le=1:90, le=+Inf:100
    rows, series = [], []
    for i, le in enumerate(["0.1", "1", "+Inf"]):
        series.append(
            Row(fingerprint=i, labels={"__name__": "lat_bucket", "le": le, "job": "x"})
        )
        rows.append(Row(fingerprint=i, timestamp_ms=0, value=[60.0, 90.0, 100.0][i]))
    sdf = spark.createDataFrame(rows, "fingerprint long, timestamp_ms long, value double")
    ser = spark.createDataFrame(series, "fingerprint long, labels map<string,string>")
    e = PromQLEngine(sdf, ser, start_ms=0, end_ms=0, step_ms=60_000)
    out = e.eval("histogram_quantile(0.9, lat_bucket)").collect()
    assert len(out) == 1
    # rank 90 lands exactly on the le=1 bucket boundary: interp → 1.0
    assert out[0].value == pytest.approx(1.0)
    assert out[0].labels == {"job": "x"}
    # q=0.95 → rank 95 falls in +Inf bucket → highest finite bound
    out = e.eval("histogram_quantile(0.95, lat_bucket)").collect()
    assert out[0].value == pytest.approx(1.0)


def test_scalar_function(eng):
    s = _rows(eng, 'scalar(errors{job="api"})')
    assert s[0].value == pytest.approx(300.0)
    nan = _rows(eng, "scalar(errors)")  # 2 series → NaN
    assert all(math.isnan(x.value) for x in nan)


def test_compile_errors(eng):
    with pytest.raises(ValueError):
        eng.eval("m[5m]")  # bare range vector
    with pytest.raises(ValueError):
        eng.eval("no_such_function(m)")
    with pytest.raises(ValueError):
        eng.eval("1 > 2")  # scalar comparison without bool
    assert eng.eval("1 > bool 2") is not None


def test_subquery_rate_then_max(eng):
    # max_over_time(rate(errors[2m])[4m:1m]): rate is constant 1.0 (api) /
    # 2.0 (db), so the subquery max equals the rate itself
    r = _rows(eng, "max_over_time(rate(errors[2m])[4m:1m])")
    vals = {(x.l, x.eval_ms): x.value for x in r}
    assert vals[('{"job":"api"}', 300_000)] == pytest.approx(1.0)
    assert vals[('{"job":"db"}', 480_000)] == pytest.approx(2.0)


def test_subquery_avg_of_instant(eng):
    # avg_over_time(total{job="api"}[3m:1m]): inner instant evals on the
    # 1m grid in (t-3m, t] → values 10*(t-120), 10*(t-60), 10*t seconds
    r = _rows(eng, 'avg_over_time(total{job="api"}[3m:1m])')
    first = [x for x in r if x.eval_ms == 300_000][0]
    assert first.value == pytest.approx(10.0 * (180 + 240 + 300) / 3)


def test_label_replace_and_join(eng):
    r = _rows(eng, 'label_replace(errors, "svc", "$1-svc", "job", "(a.*)")')
    ls = {x.l for x in r}
    assert '{"__name__":"errors","job":"api","svc":"api-svc"}' in ls
    assert '{"__name__":"errors","job":"db"}' in ls  # no match → untouched
    j = _rows(eng, 'label_join(errors, "combo", "-", "job", "__name__")')
    assert any('"combo":"api-errors"' in x.l for x in j)


def test_time_functions(eng):
    t = _rows(eng, "time()")
    assert t[0].value == pytest.approx(300.0)
    h = _rows(eng, "hour()")  # epoch 300s = 1970-01-01T00:05 UTC
    assert all(x.value == 0.0 for x in h)
    m = _rows(eng, "minute()")
    assert m[0].value == 5.0 and m[-1].value == 10.0
    dow = _rows(eng, "day_of_week()")  # 1970-01-01 was a Thursday → 4
    assert all(x.value == 4.0 for x in dow)


def test_absent(eng):
    gone = _rows(eng, 'absent(errors{job="nope"})')
    assert len(gone) == 6  # absent on every grid point
    assert all(x.value == 1.0 for x in gone)
    assert gone[0].l == '{"job":"nope"}'  # equality matchers become labels
    here = _rows(eng, "absent(errors)")
    assert here == []


def test_alert_intervals_from_promql(eng):
    """Rule replay over compiled expressions: errors > 450 fires once
    db crosses (t >= 240s) and once api crosses (t >= 480s); with
    for=2m the api run (480..600) still qualifies, a 1-point run would
    not."""
    from promhouse_spark.promql.alerts import alert_intervals_promql

    out = alert_intervals_promql(eng, "errors > 450", for_ms=120_000).collect()
    got = {r.labels["job"]: (r.start_ms, r.end_ms, r.n_evals) for r in out}
    # db: 2*t > 450 from t=300s (the whole grid); api: t > 450 from 480s
    assert got["db"] == (300_000, 600_000, 6)
    assert got["api"] == (480_000, 600_000, 3)
    # a for longer than any run drops everything for api
    strict = alert_intervals_promql(eng, "errors > 450", for_ms=200_000).collect()
    assert {r.labels["job"] for r in strict} == {"db"}
    # compiled ratio alerts work the same way (filter-mode comparison:
    # a series only fires at evals where the predicate holds)
    ratio = alert_intervals_promql(
        eng, "errors / on(job) total > 0.09", for_ms=0
    ).collect()
    assert len(ratio) == 2  # both jobs hold 0.1 > 0.09 continuously
    assert all(r.n_evals == 6 for r in ratio)
    assert alert_intervals_promql(
        eng, "errors / on(job) total > 0.11", for_ms=0
    ).collect() == []  # never fires


def test_quantile_aggregation(eng):
    # quantile(0.5, errors): 2 series (300, 600 at t=300s) → median 450
    r = _rows(eng, "quantile(0.5, errors)")
    first = [x for x in r if x.eval_ms == 300_000]
    assert len(first) == 1 and first[0].value == pytest.approx(450.0)
    by_job = _rows(eng, "quantile(1, errors) by (job)")
    assert len(by_job) == 12  # max per single-series group


def test_at_modifier(eng):
    # pin errors to t=420s: every grid point carries the 420s value
    r = _rows(eng, 'errors{job="api"} @ 420')
    assert len(r) == 6
    assert all(x.value == pytest.approx(420.0) for x in r)
    # binop against the moving vector: share of the pinned snapshot
    ratio = _rows(eng, 'errors{job="api"} / errors{job="api"} @ 420')
    by_t = {x.eval_ms: x.value for x in ratio}
    assert by_t[300_000] == pytest.approx(300.0 / 420.0)
    assert by_t[600_000] == pytest.approx(600.0 / 420.0)
    # @ on a range selector: the function evaluates once at the pin and
    # broadcasts — rate at t=420s is the constant slope on every grid point
    pinned = _rows(eng, 'rate(errors{job="api"}[2m] @ 420)')
    assert len(pinned) == 6
    assert all(x.value == pytest.approx(1.0) for x in pinned)


def test_holt_winters_compiled(eng):
    """holt_winters over a linear series converges to the series itself:
    with s seeded on x2 and b on the exact step, the recurrence stays on
    the line, so the smoothed value equals the window's last sample."""
    r = _rows(eng, 'holt_winters(total{job="api"}[2m], 0.3, 0.1)')
    by_t = {x.eval_ms: x.value for x in r}
    assert by_t[300_000] == pytest.approx(3000.0)  # last sample at 300 s
    assert by_t[600_000] == pytest.approx(6000.0)


def test_parser_only_raises_valueerror():
    """The parser fronts untrusted HTTP query params: any garbage must
    either parse or raise ValueError — never IndexError/KeyError/etc.
    (which would 500 the API endpoints instead of 400)."""
    import random

    from promhouse_spark.promql.parser import parse as p

    rng = random.Random(20260814)
    alphabet = 'abc(){}[]<>=!~+-*/%^,:@ "\'0123456789mshd._'
    for _ in range(5000):
        s = "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 30)))
        try:
            p(s)
        except ValueError:
            pass
    # truncation sweep over every prefix of real queries
    for q in [
        'sum by (job) (rate(http_requests_total{code="200"}[5m]))',
        "errors / on(user) group_left(v) total offset 5m @ 100",
        "max_over_time(rate(m[2m])[4m:1m])",
        'label_replace(m, "a", "$1", "b", "(.*)")',
    ]:
        for i in range(len(q)):
            try:
                p(q[:i])
            except ValueError:
                pass


def test_math_functions_and_pi(eng):
    r = _rows(eng, "sqrt(errors{job=\"api\"})")
    assert r[0].value == pytest.approx(300.0 ** 0.5)
    assert "__name__" not in r[0].l
    s = _rows(eng, "sin(pi() / 2)")
    assert all(x.value == pytest.approx(1.0) for x in s)
    d = _rows(eng, "deg(pi())")
    assert all(x.value == pytest.approx(180.0) for x in d)


def test_count_values_aggregation(eng):
    # round errors to the nearest 300: values 300..600 (api), 600..1200 (db)
    r = _rows(eng, 'count_values("band", round(errors, 300))')
    at0 = {x.l: x.value for x in r if x.eval_ms == 300_000}
    # t=300s: api errors 300 -> band 300, db errors 600 -> band 600
    assert at0 == {'{"band":"300"}': 1.0, '{"band":"600"}': 1.0}
    by_job = _rows(eng, 'count_values("band", round(errors, 600)) by (job)')
    assert all('"job"' in x.l and '"band"' in x.l for x in by_job)
    # value label colliding with a grouping label overwrites it (no crash)
    collide = _rows(eng, 'count_values("job", round(errors, 600)) by (job)')
    assert all(set(x.l.split('"')).__contains__("job") for x in collide)
    assert all(x.l.count('"job"') == 1 for x in collide)


# ---- round 7: Prometheus-faithful floats, scalars, lexer ------------------


def test_parse_number_literals():
    # exponent, hex, Inf/NaN keywords (prometheus/promql lexer)
    assert parse("1e3").value == 1000.0
    assert parse("2.5e-2").value == 0.025
    assert parse("0xFF").value == 255.0
    assert parse("0X10").value == 16.0
    assert math.isinf(parse("Inf").value)
    assert math.isinf(parse("inf").value)
    r = parse("-Inf")
    assert isinstance(r, Unary) and math.isinf(r.expr.value)
    assert math.isnan(parse("NaN").value)
    assert math.isnan(parse("nan").value)


def test_call_arguments_require_commas():
    with pytest.raises(ValueError):
        parse("clamp(m 0 1)")
    with pytest.raises(ValueError):
        parse("rate(m[5m] foo)")
    # zero-arg and trailing-comma shapes
    assert parse("pi()").func == "pi"
    with pytest.raises(ValueError):
        parse("clamp(m, 0, 1,)")


def test_ieee_division_by_zero(eng):
    # errors > 0 everywhere on the grid: x/0 = +Inf
    r = _rows(eng, "errors / (errors - errors)")
    assert r and all(math.isinf(x.value) and x.value > 0 for x in r)
    # 0/0 = NaN
    r = _rows(eng, "(errors - errors) / (errors - errors)")
    assert r and all(math.isnan(x.value) for x in r)
    # -x/0 = -Inf
    r = _rows(eng, "(0 - errors) / (errors - errors)")
    assert r and all(math.isinf(x.value) and x.value < 0 for x in r)
    # x % 0 = NaN
    r = _rows(eng, "errors % (errors - errors)")
    assert r and all(math.isnan(x.value) for x in r)
    # scalar-side division by zero takes the same IEEE path
    r = _rows(eng, "errors / 0")
    assert r and all(math.isinf(x.value) and x.value > 0 for x in r)


def test_ieee_nan_comparisons(eng):
    # NaN == NaN is FALSE (Spark's native semantics would say true)
    r = _rows(
        eng,
        "((errors - errors) / (errors - errors)) "
        "== bool ((errors - errors) / (errors - errors))",
    )
    assert r and all(x.value == 0.0 for x in r)
    # NaN != NaN is TRUE
    r = _rows(
        eng,
        "((errors - errors) / (errors - errors)) "
        "!= bool ((errors - errors) / (errors - errors))",
    )
    assert r and all(x.value == 1.0 for x in r)


def test_scalar_as_binop_operand(eng):
    # scalar() as an operand joins on eval time only (VectorscalarBinop);
    # empty-labels vector matching would return ZERO rows here
    r = _rows(eng, "errors / scalar(sum(total))")
    assert len(r) == 12  # 2 jobs x 6 evals
    by = {(x.l, x.eval_ms): x.value for x in r}
    # at t=300s: errors api=300, db=600; total sum=3000+6000=9000
    assert by[('{"job":"api"}', 300_000)] == pytest.approx(300.0 / 9000.0)
    assert by[('{"job":"db"}', 300_000)] == pytest.approx(600.0 / 9000.0)
    # flipped operand order
    r = _rows(eng, "scalar(sum(total)) / errors")
    assert len(r) == 12
    # scalar OP scalar (both compiled frames): empty labels, one row/eval
    r = _rows(eng, "scalar(sum(errors)) / scalar(sum(total))")
    assert len(r) == 6 and all(x.l == "{}" for x in r)
    assert r[0].value == pytest.approx(900.0 / 9000.0)
    # time() is scalar-typed too
    r = _rows(eng, "errors - errors + time()")
    assert len(r) == 12
    assert all(x.value == pytest.approx(x.eval_ms / 1000.0) for x in r)


def test_scalar_comparisons_require_bool(eng):
    with pytest.raises(ValueError):
        eng.eval("scalar(errors) > 2")
    with pytest.raises(ValueError):
        eng.eval("2 > scalar(total)")
    with pytest.raises(ValueError):
        eng.eval("pi() > time()")
    r = _rows(eng, "pi() > bool 2")
    assert len(r) == 6 and all(x.value == 1.0 and x.l == "{}" for x in r)


def test_scalar_empty_input_emits_nan_rows(eng):
    # zero matched series: one NaN row per grid step, not missing steps
    r = _rows(eng, "scalar(no_such_metric)")
    assert len(r) == 6
    assert [x.eval_ms for x in r] == list(range(300_000, 600_001, 60_000))
    assert all(math.isnan(x.value) for x in r)


def test_last_over_time_keeps_metric_name(eng):
    r = _rows(eng, "last_over_time(errors[1m])")
    assert r and all('"__name__":"errors"' in x.l for x in r)
    # ... which makes it set-operate against the bare selector
    r2 = _rows(eng, "last_over_time(errors[1m]) or errors")
    assert len(r2) == len(r)
    # every other range function still drops the name
    r3 = _rows(eng, "max_over_time(errors[1m])")
    assert r3 and all("__name__" not in x.l for x in r3)


def test_absent_over_time_compiled(eng):
    r = _rows(eng, "absent_over_time(no_such_metric[5m])")
    assert len(r) == 6 and all(x.value == 1.0 and x.l == "{}" for x in r)
    r = _rows(eng, 'absent_over_time(no_such_metric{job="api"}[5m])')
    assert all(x.l == '{"job":"api"}' for x in r) and len(r) == 6
    assert _rows(eng, "absent_over_time(errors[5m])") == []
    # subquery input works through the same machinery
    r = _rows(eng, "absent_over_time(no_such_metric[4m:1m])")
    assert len(r) == 6


def test_topk_bottomk_nan_last(eng):
    # vector mixing a finite series (api) and a NaN series (db):
    # Prometheus's heap prefers any number over NaN in BOTH directions
    q = (
        '(errors{job="api"} - errors{job="api"} + 7) '
        'or ((errors - errors) / (errors - errors))'
    )
    mixed = _rows(eng, q)
    assert len(mixed) == 12  # api finite, db NaN
    top = _rows(eng, f"topk(1, {q})")
    assert len(top) == 6 and all(x.value == 7.0 for x in top)
    bot = _rows(eng, f"bottomk(1, {q})")
    assert len(bot) == 6 and all(x.value == 7.0 for x in bot)


def test_limitk_and_limit_ratio(eng):
    lk = _rows(eng, "limitk(1, errors)")
    assert len(lk) == 6  # one series per eval (single bare group)
    both = _rows(eng, "limitk(5, errors)")
    assert len(both) == 12  # k above cardinality keeps everything
    by = _rows(eng, "limitk(1, errors) by (job)")
    assert len(by) == 12  # one per (job) group per eval = all series here
    # limit_ratio r and r-1 partition the vector deterministically
    keep = _rows(eng, "limit_ratio(0.5, errors)")
    rest = _rows(eng, "limit_ratio(-0.5, errors)")
    assert len(keep) + len(rest) == 12
    assert not ({(x.l, x.eval_ms) for x in keep} & {(x.l, x.eval_ms) for x in rest})
    assert _rows(eng, "limit_ratio(1.0, errors)") == _rows(eng, "errors")


def test_sort_by_label(eng):
    rows = eng.eval('sort_by_label_desc(errors, "job")').collect()
    jobs = [r["labels"]["job"] for r in rows if r["eval_ms"] == 300_000]
    assert jobs == sorted(jobs, reverse=True)
    rows = eng.eval('sort_by_label(errors, "job")').collect()
    assert rows  # presentational; frame contents unchanged
    with pytest.raises(ValueError):
        eng.eval("sort_by_label(errors, 3)")


def test_mad_over_time(eng):
    # errors{job="api"} samples in a 2m window at t are linear (15 s apart,
    # slope 15): window (t-120s, t] holds 8 samples v, v+15, ..., v+105.
    # median = (v+45 + v+60)/2 interpolated = v+52.5; |dev| sorted =
    # [7.5, 7.5, 22.5, 22.5, 37.5, 37.5, 52.5, 52.5] -> median 30.0
    r = _rows(eng, 'mad_over_time(errors{job="api"}[2m])')
    assert len(r) == 6
    assert all(x.value == pytest.approx(30.0) for x in r)


def test_compile_only_raises_valueerror(eng):
    """The COMPILER fronts /api/v1/query*: malformed-but-parseable
    expressions (bad arity, scalar where vector expected, non-literal
    parameters) must raise ValueError — anything else 500s the API."""
    import random

    cases = [
        "clamp(m, 1)", "clamp(m)", "clamp_min(m)", "round()", "rate()",
        "histogram_quantile(0.5)", "label_replace(m)", "label_join(m)",
        "rate(m)", "scalar()", "vector()", "abs()", "topk(1)", "absent()",
        "quantile_over_time(errors[5m])", "predict_linear(errors[5m])",
        "holt_winters(errors[5m])", "timestamp()", "sum()", "vector(errors)",
        "scalar(5)", "minute(1, 2)", "clamp(1, 2, 3)", "sort_by_label(errors)",
        "absent_over_time(errors)", "mad_over_time(errors)",
        "clamp(errors, errors, errors)", "topk(errors, errors)",
        "quantile(errors, errors)", "count_values(3, errors)",
        "limit_ratio(errors, errors)", "pi(2)", "time(errors)",
    ]
    rng = random.Random(20260814)
    alphabet = 'abm(){}[]<>=!~+-*/%^,:@ "0123456789msh._'
    for _ in range(800):
        cases.append("".join(rng.choice(alphabet) for _ in range(rng.randint(1, 25))))
    for q in cases:
        try:
            eng.eval(q)
        except ValueError:
            pass
    # the scalar→vector promotion still composes: vector() yields one
    # empty-labels series per eval (and being vector-TYPED, it takes
    # vector matching — `vector(1) + m` is empty in Prometheus too)
    r = _rows(eng, "vector(scalar(sum(errors)))")
    assert len(r) == 6 and all(x.l == "{}" for x in r)
    assert _rows(eng, "vector(scalar(sum(errors))) + errors") == []
    r = _rows(eng, "errors + on() group_left vector(scalar(sum(total)))")
    assert len(r) == 12


def test_atan2_binary_operator(eng):
    # atan2 is a binary OPERATOR in PromQL with */% precedence
    r = _rows(eng, "errors atan2 errors")
    assert len(r) == 12 and all(x.value == pytest.approx(math.pi / 4) for x in r)
    r = _rows(eng, "(errors - errors) atan2 (0 - errors)")
    assert all(x.value == pytest.approx(math.pi) for x in r)  # atan2(0, -x)
    s = _rows(eng, "errors atan2 scalar(sum(total) * 0 + 0) + 0")
    assert all(x.value == pytest.approx(math.pi / 2) for x in s)
    prec = parse("a atan2 b + c")  # + binds looser: (a atan2 b) + c
    assert prec.op == "+" and prec.lhs.op == "atan2"


def test_ts_of_over_time_family(eng):
    # samples every 15 s: the window's last sample ts is the eval itself
    r = _rows(eng, 'ts_of_last_over_time(errors{job="api"}[2m])')
    assert all(x.value == pytest.approx(x.eval_ms / 1000.0) for x in r)
    # linear counters: the max sits at the window end, the min at its start
    mx = _rows(eng, 'ts_of_max_over_time(errors{job="api"}[2m])')
    assert all(x.value == pytest.approx(x.eval_ms / 1000.0) for x in mx)
    mn = _rows(eng, 'ts_of_min_over_time(errors{job="api"}[2m])')
    assert all(
        x.value == pytest.approx((x.eval_ms - 105_000) / 1000.0) for x in mn
    )


def test_scalar_literal_pow_ieee(eng):
    # Go math.Pow semantics for literal ^: Python ** would raise
    # ZeroDivisionError (-> HTTP 500) or return a complex number
    r = _rows(eng, "0 ^ -1")
    assert r and all(math.isinf(x.value) and x.value > 0 for x in r)
    r = _rows(eng, "-1 ^ 0.5")  # unary minus binds after ^: -(1^0.5) = -1
    assert r and all(x.value == -1.0 for x in r)
    r = _rows(eng, "(0 - 1) ^ 0.5")  # negative base, fractional exp: NaN
    assert r and all(math.isnan(x.value) for x in r)
    r = _rows(eng, "(0 - 2) ^ 3")
    assert r and all(x.value == -8.0 for x in r)
    r = _rows(eng, "1e300 ^ 2")  # overflow saturates to +Inf
    assert r and all(math.isinf(x.value) and x.value > 0 for x in r)


def test_timestamp_offset_and_at(eng):
    # timestamp() reports the RAW sample ts: offset shifts the lookup only
    r = _rows(eng, 'timestamp(errors{job="api"} offset 1m)')
    assert r and all(
        x.value == pytest.approx((x.eval_ms - 60_000) / 1000.0) for x in r
    )
    # @-pinned selector: the pinned sample's own ts, constant on the grid
    r = _rows(eng, 'timestamp(errors{job="api"} @ 300)')
    assert len(r) == 6 and all(x.value == pytest.approx(300.0) for x in r)


def test_at_on_quantile_over_time_range(eng):
    # the range selector is args[1] here — @ must still pin the window
    r = _rows(eng, 'quantile_over_time(0.5, errors{job="api"}[1m] @ 300)')
    # window (240s, 300s]: samples 255, 270, 285, 300 -> median 277.5
    assert len(r) == 6
    assert all(x.value == pytest.approx(277.5) for x in r)


def test_division_by_negative_zero(spark):
    # 1 / -0.0 is -Inf (sign of BOTH operands); Spark compares -0.0 == 0.0
    from promhouse_spark.operators.vector_match import ieee_div, ieee_mod

    df = spark.createDataFrame(
        [(1.0, -0.0), (-2.0, -0.0), (0.0, -0.0), (1.0, 0.0)],
        "l double, r double",
    )
    out = df.selectExpr("l", "r", f"{ieee_div('l', 'r')} AS d",
                        f"{ieee_mod('l', 'r')} AS m").collect()
    got = {(x.l, str(x.r)): x.d for x in out}
    assert got[(1.0, "-0.0")] == -math.inf
    assert got[(-2.0, "-0.0")] == math.inf
    assert math.isnan(got[(0.0, "-0.0")])
    assert got[(1.0, "0.0")] == math.inf
    assert all(math.isnan(x.m) for x in out)  # x % +-0 = NaN


def test_negative_literal_function_params(eng):
    # clamp(m, -1, 1): the parser keeps -1 as Unary('-', 1); the engine
    # must resolve it, not crash on .value
    r = _rows(eng, 'clamp(errors{job="api"} - errors{job="api"}, -1, 1)')
    assert r and all(x.value == 0.0 for x in r)
    r = _rows(eng, 'clamp_min(errors{job="api"} - errors{job="api"}, -0.5)')
    assert r and all(x.value == 0.0 for x in r)
    # out-of-range quantiles yield +-Inf, never a Spark error
    r = _rows(eng, 'quantile_over_time(-1, errors{job="api"}[1m])')
    assert r and all(math.isinf(x.value) and x.value < 0 for x in r)
    r = _rows(eng, "quantile(2, errors)")
    assert r and all(math.isinf(x.value) and x.value > 0 for x in r)


def test_over_time_nan_semantics(spark):
    # Go's fold: NaN never displaces a numeric max; any sample displaces a
    # NaN max. Spark's native max would answer NaN for [5, NaN].
    from pyspark.sql import Row

    from promhouse_spark.promql import PromQLEngine

    nan = float("nan")
    rows = [
        # fp 1: numeric then NaN — max is 5 @ t=0
        Row(fingerprint=1, timestamp_ms=0, value=5.0),
        Row(fingerprint=1, timestamp_ms=30_000, value=nan),
        # fp 2: all NaN — max is NaN, ts_of_max = LAST sample
        Row(fingerprint=2, timestamp_ms=0, value=nan),
        Row(fingerprint=2, timestamp_ms=30_000, value=nan),
    ]
    sdf = spark.createDataFrame(rows, "fingerprint long, timestamp_ms long, value double")
    ser = spark.createDataFrame(
        [Row(fingerprint=1, labels={"__name__": "m", "s": "a"}),
         Row(fingerprint=2, labels={"__name__": "m", "s": "b"})],
        "fingerprint long, labels map<string,string>",
    )
    e2 = PromQLEngine(sdf, ser, start_ms=60_000, end_ms=60_000, step_ms=60_000)

    def by_series(q):
        return {
            x.l: x.value
            for x in e2.eval(q)
            .select(labels_map_to_json("labels").alias("l"), "value")
            .collect()
        }

    mx = by_series("max_over_time(m[2m])")
    assert mx['{"s":"a"}'] == 5.0
    assert math.isnan(mx['{"s":"b"}'])
    mn = by_series("min_over_time(m[2m])")
    assert mn['{"s":"a"}'] == 5.0
    assert math.isnan(mn['{"s":"b"}'])
    tmax = by_series("ts_of_max_over_time(m[2m])")
    assert tmax['{"s":"a"}'] == 0.0     # NaN did not displace the max
    assert tmax['{"s":"b"}'] == 30.0    # all-NaN: last sample's ts
    tmin = by_series("ts_of_min_over_time(m[2m])")
    assert tmin['{"s":"a"}'] == 0.0
    assert tmin['{"s":"b"}'] == 30.0


def test_info_function(spark):
    """Prometheus 3.x info(): data-label enrichment from target_info,
    joined on (job, instance); conflicts keep the data series' value."""
    from pyspark.sql import Row

    from promhouse_spark.promql import PromQLEngine

    rows = [
        Row(fingerprint=1, timestamp_ms=0, value=7.0),
        Row(fingerprint=2, timestamp_ms=0, value=1.0),
        Row(fingerprint=3, timestamp_ms=0, value=3.0),
    ]
    sdf = spark.createDataFrame(rows, "fingerprint long, timestamp_ms long, value double")
    ser = spark.createDataFrame(
        [
            Row(fingerprint=1, labels={"__name__": "m", "job": "api",
                                       "instance": "i1", "zone": "keep"}),
            Row(fingerprint=2, labels={"__name__": "target_info", "job": "api",
                                       "instance": "i1", "cluster": "us-east",
                                       "zone": "info-zone"}),
            Row(fingerprint=3, labels={"__name__": "m", "job": "db",
                                       "instance": "i9"}),
        ],
        "fingerprint long, labels map<string,string>",
    )
    eng = PromQLEngine(sdf, ser, 60_000, 60_000, 60_000)
    got = {
        r["labels"].get("instance"): dict(r["labels"])
        for r in eng.eval("info(m)").collect()
    }
    # matched: cluster copied from target_info; zone conflict keeps data's
    assert got["i1"]["cluster"] == "us-east"
    assert got["i1"]["zone"] == "keep"
    assert got["i1"]["__name__"] == "m"
    # unmatched series pass through unchanged
    assert "cluster" not in got["i9"]
    # explicit selector form
    got2 = eng.eval('info(m, {__name__="target_info"})').collect()
    assert len(got2) == 2
    with pytest.raises(ValueError):
        eng.eval("info(m, rate(m[5m]))")


def test_subquery_offset_and_at(eng):
    """offset and @ on SUBQUERIES (promql modifiers apply to subqueries,
    not just selectors): shifted timeline, pinned evaluation."""
    # max_over_time of the errors{job=api} instant values over (t-2m, t]
    base = _rows(eng, 'max_over_time(errors{job="api"}[2m:1m])')
    # counters are linear: value at aligned minute t is t/60*15... value =
    # i*15 at 15s scrapes; instant at minute t = t seconds' sample = t*1
    by_t = {x.eval_ms: x.value for x in base}
    assert by_t[300_000] == 300.0  # max of instants at 240s, 300s
    # offset 1m: the same computation one minute back
    off = _rows(eng, 'max_over_time(errors{job="api"}[2m:1m] offset 1m)')
    by_off = {x.eval_ms: x.value for x in off}
    # shifted to eval 240s: window (120s, 240s], instants at 180, 240
    assert by_off[300_000] == 240.0
    # @ pins: constant across the grid, equal to the unpinned value there
    at = _rows(eng, 'max_over_time(errors{job="api"}[2m:1m] @ 300)')
    assert len(at) == 6
    assert all(x.value == by_t[300_000] for x in at)


def test_subquery_modifier_round_trip():
    from promhouse_spark.promql.format import ast_json, format_expr

    for src in (
        "avg_over_time(m[5m:1m] offset 1h)",
        "max_over_time(rate(m[2m])[4m:1m] @ end())",
        "min_over_time(m[10m:] @ 60.000)",
    ):
        ast = parse(src)
        assert parse(format_expr(ast)) == ast, format_expr(ast)
        ast_json(ast)


def test_at_start_end_resolve_against_outer_range(eng):
    """@ start()/end() inside a SUBQUERY resolve against the OUTER
    query's range, not the inner fine-grid bounds (Prometheus @
    preprocessing)."""
    # inner selector pinned to the outer end (600s): constant 600 series
    r = _rows(eng, 'max_over_time((errors{job="api"} @ end())[2m:1m])')
    assert len(r) == 6
    assert all(x.value == 600.0 for x in r)
    # @ start() pins to 300s everywhere
    r = _rows(eng, 'min_over_time((errors{job="api"} @ start())[2m:1m])')
    assert all(x.value == 300.0 for x in r)


# ---- hand-computed range-function pins --------------------------------------


def test_increase_with_counter_reset(spark):
    """A drop inside the window contributes the post-reset value, and the
    window (t - 5m, t] is open on the left: the sample at t - 5m is out."""
    rows = [
        (1, 0, 10.0),        # at t - 5m: outside the window
        (1, 60_000, 15.0),
        (1, 120_000, 3.0),   # reset: +3
        (1, 180_000, 8.0),   # +5
        (1, 310_000, 9.0),   # after t
    ]
    # delta 8, sampled 120 s, head 60 s (< 1.1 x 60 s), tail 120 s capped
    # at 30 s -> 8 x 210/120
    assert instant_at(spark, rows, "increase(m[5m])", 300_000)["1"] == pytest.approx(14.0)


def test_delta_over_time(spark):
    """delta() is last - first extrapolated like rate, with no counter
    reset handling and no zero clamp."""
    rows = [(1, 250_000, 5.0), (1, 10_000, 12.0), (1, 150_000, 2.0)]
    # -7 over 240 s sampled, head 10 s, tail 50 s -> -7 x 300/240
    assert instant_at(spark, rows, "delta(m[5m])", 300_000)["1"] == pytest.approx(-8.75)


def test_irate_uses_last_two_and_handles_reset(spark):
    rows = [(1, 0, 10.0), (1, 60_000, 95.0), (1, 120_000, 100.0), (1, 180_000, 4.0)]
    # last two at t=180 s: 100 -> 4 is a reset, contributing 4 over 60 s
    assert instant_at(spark, rows, "irate(m[5m])", 180_000)["1"] == pytest.approx(4.0 / 60.0)
    # idelta: the plain gauge difference, negative on the same data
    assert instant_at(spark, rows, "idelta(m[5m])", 180_000)["1"] == -96.0
    # earlier samples in the window are ignored: at t=120 s, 95 -> 100
    assert instant_at(spark, rows, "irate(m[5m])", 120_000)["1"] == pytest.approx(5.0 / 60.0)


def test_irate_single_sample_window_drops(spark):
    assert instant_at(spark, [(1, 0, 1.0), (2, 0, 2.0)], "irate(m[5m])", 0) == {}


def test_clamp_family(spark):
    rows = [(1, 0, -5.0), (2, 0, 50.0), (3, 0, 500.0)]

    def vals(expr):
        got = instant_at(spark, rows, expr, 0)
        return [got[k] for k in ("1", "2", "3")]

    assert vals("clamp(m, 0, 100)") == [0.0, 50.0, 100.0]
    assert vals("clamp_min(m, 0)") == [0.0, 50.0, 500.0]
    assert vals("clamp_max(m, 100)") == [-5.0, 50.0, 100.0]
    # Prometheus funcClamp: min > max yields NaN for every element
    assert all(math.isnan(v) for v in vals("clamp(m, 10, 5)"))


def _quantile(spark, buckets, q):
    """histogram_quantile(q) over one scrape of cumulative buckets
    {job: [(le, count), ...]} at t=0: {job: value}."""
    samples, series = [], []
    for job, bs in buckets.items():
        for le, n in bs:
            fp = len(series)
            series.append(Row(fingerprint=fp, labels={"__name__": "h_bucket", "job": job, "le": le}))
            samples.append(Row(fingerprint=fp, timestamp_ms=0, value=float(n)))
    e = PromQLEngine(
        spark.createDataFrame(samples, "fingerprint long, timestamp_ms long, value double"),
        spark.createDataFrame(series, "fingerprint long, labels map<string,string>"),
        start_ms=0, end_ms=0, step_ms=60_000,
    )
    return {
        r.labels["job"]: r.value
        for r in e.eval(f"histogram_quantile({q}, h_bucket)").collect()
    }


def test_histogram_quantile_interpolation(spark):
    got = _quantile(
        spark,
        {
            # p50 rank 20 lands in the (1, 2] bucket: 1 + (2-1)*(20-10)/(30-10)
            "a": [("1", 10), ("2", 30), ("4", 40), ("+Inf", 40)],
            # all mass in the FIRST bucket interpolates from 0, not from the
            # bucket bound: 0 + (1-0)*(5-0)/(10-0)
            "b": [("1", 10), ("2", 10), ("4", 10), ("+Inf", 10)],
        },
        0.5,
    )
    assert got == {"a": 1.5, "b": 0.5}


def test_histogram_quantile_exact_boundary(spark):
    # rank exactly on a bucket's cumulative count returns the bound itself
    got = _quantile(spark, {"a": [("1", 5), ("2", 10), ("4", 20), ("+Inf", 20)]}, 0.5)
    assert got == {"a": 2.0}


def test_alert_intervals_property_vs_python_model(spark):
    """Hypothesis sweep: rule replay of ``m > 5`` FOR d must equal a
    brute-force run detector over the grid. Samples sit on grid points and
    the lookback is shorter than a step, so a series' instant value at an
    evaluation is its sample there, if any."""
    from hypothesis import given, settings, strategies as st

    from promhouse_spark.promql.alerts import alert_intervals_promql

    step = 1_000
    ser = spark.createDataFrame(
        [(f, {"__name__": "m", "id": str(f)}) for f in (1, 2)],
        "fingerprint long, labels map<string,string>",
    )

    @settings(max_examples=10, deadline=None)
    @given(
        rows=st.lists(
            st.tuples(
                st.integers(1, 2),      # fingerprint
                st.integers(0, 30),     # grid point
                st.integers(0, 10),     # value; threshold sits at 5
            ),
            min_size=1,
            max_size=12,
            unique_by=lambda r: (r[0], r[1]),
        ),
        for_steps=st.sampled_from([0, 3, 10]),
    )
    def check(rows, for_steps):
        sdf = spark.createDataFrame(
            [(f, k * step, float(v)) for f, k, v in rows],
            "fingerprint long, timestamp_ms long, value double",
        )
        e = PromQLEngine(sdf, ser, 0, 30 * step, step, lookback_ms=step - 1)
        got = {
            (r.labels["id"], r.start_ms, r.end_ms, r.n_evals)
            for r in alert_intervals_promql(e, "m > 5", for_ms=for_steps * step).collect()
        }
        want = set()
        for f in (1, 2):
            vals = {k: v for g, k, v in rows if g == f}
            run: list[int] = []
            for k in range(32):  # k = 31 closes a run reaching the grid end
                if vals.get(k, 0) > 5 and k <= 30:
                    run.append(k)
                    continue
                if run and run[-1] - run[0] >= for_steps:
                    want.add((str(f), run[0] * step, run[-1] * step, len(run)))
                run = []
        assert got == want

    check()
