"""Canonical PromQL rendering (promql/format.py): the round-trip property
parse(format(parse(x))) == parse(x) over a broad corpus, duration
rendering pins, and the /api/v1/format_query|parse_query endpoints."""

from __future__ import annotations

import pytest

from promhouse_spark.promql.format import ast_json, format_duration_ms, format_expr
from promhouse_spark.promql.parser import parse

CORPUS = [
    'rate(requests_total{job="api"}[5m])',
    "sum by (job) (rate(m[2m])) / on(job) group_left(ver) total",
    "errors / ignoring(code) group_right total",
    "-2^2", "2^-2", "2^3^2", "1 + 2 * 3",
    "a - (b - c)", "(a + b) * c", "a / (b or c)",
    "a and b or c", "a or b and c", "a unless b",
    "topk(3, m)", "bottomk by (t) (2, m)",
    "quantile by (job) (0.9, m)", "sum(m) without (instance)",
    "count_values(\"v\", m)",
    "clamp(m, -1, 1)", "round(m, 0.5)",
    "m offset 5m", "m offset -30s", "m @ 300.000", "m @ start()", "m @ end()",
    "max_over_time(rate(m[2m])[30m:5m])", "avg_over_time(m[1h30m])",
    "avg_over_time(m[5m:])", "avg_over_time(m[5m:15s])",
    'label_replace(m, "dst", "$1", "src", "(.*)")',
    'label_join(m, "dst", "-", "a", "b")',
    'absent(m{job="x"})', "absent_over_time(m[10m])",
    "m > bool 5", "m == 2", "m != bool 0",
    '{__name__="x",a!~"b.*"}', 'm{a="1",b!="2",c=~"3",d!~"4"}',
    "rate(m[5m] offset 1m)", "rate(m[5m] @ 60.000)",
    "-m * 3", "-(m + n)", "scalar(m) + 1", "vector(1)",
    "pi() > bool 2", "time()", "timestamp(m)",
    "histogram_quantile(0.9, rate(b_bucket[5m]))",
    "holt_winters(m[10m], 0.1, 0.3)", "predict_linear(m[10m], 600)",
    "quantile_over_time(0.5, m[2m])",
    "m atan2 n", "m ^ n ^ o", "(m ^ n) ^ o",
    "sort_by_label(m, \"job\")",
    "1e3 + 0x1f", "Inf", "5.5", "0.001",
]


@pytest.mark.parametrize("src", CORPUS)
def test_round_trip(src):
    ast = parse(src)
    rendered = format_expr(ast)
    assert parse(rendered) == ast, rendered
    # idempotent: formatting the reparse changes nothing
    assert format_expr(parse(rendered)) == rendered
    # and the AST JSON serializer covers every node
    ast_json(ast)


def test_duration_rendering():
    assert format_duration_ms(300_000) == "5m"
    assert format_duration_ms(5_400_000) == "1h30m"
    assert format_duration_ms(250) == "250ms"
    assert format_duration_ms(90_061_000) == "1d1h1m1s"
    assert format_duration_ms(0) == "0s"
    assert format_duration_ms(-30_000) == "-30s"
    # round-trips through the parser
    from promhouse_spark.promql.parser import parse_duration_ms

    for ms in (1, 999, 1000, 61_000, 3_600_000, 86_400_000, 604_800_000):
        assert parse_duration_ms(format_duration_ms(ms)) == ms


def test_format_specific_shapes():
    assert format_expr(parse("topk(3,m)")) == "topk(3, m)"
    assert format_expr(parse("sum by(job)(m)")) == "sum by (job) (m)"
    assert (
        format_expr(parse("a-(b-c)")) == "a - (b - c)"
    )  # right operand of left-assoc keeps parens
    assert format_expr(parse("(a-b)-c")) == "a - b - c"  # redundant parens drop


def test_format_and_parse_endpoints():
    from promhouse_spark.edge.http import create_app
    from promhouse_spark.storage.blackhole import BlackholeStorage

    app = create_app(BlackholeStorage())
    app.config["TESTING"] = True
    c = app.test_client()
    r = c.get(
        "/api/v1/format_query",
        query_string={"query": "sum by(job)(rate(m[5m]))"},
    ).get_json()
    assert r["status"] == "success"
    assert r["data"] == "sum by (job) (rate(m[5m]))"
    r = c.get(
        "/api/v1/parse_query", query_string={"query": 'm{job="x"}[5m]'}
    )
    # bare range selector IS parseable; expose the AST
    body = r.get_json()
    assert body["status"] == "success"
    assert body["data"]["type"] == "matrixSelector"
    # structurally invalid expressions answer 400 bad_data
    r = c.get("/api/v1/parse_query", query_string={"query": "rate(m)"})
    assert r.status_code == 400
    assert r.get_json()["errorType"] == "bad_data"
    r = c.get("/api/v1/format_query", query_string={"query": "sum("})
    assert r.status_code == 400
    # buildinfo (Grafana handshake)
    r = c.get("/api/v1/status/buildinfo").get_json()
    assert r["data"]["application"] == "promhouse-spark"


def test_subquery_over_unary_round_trip():
    # "-m[5m:1m]" re-parses as Unary(Subquery); the renderer must wrap
    src = "(-m)[5m:1m]"
    ast = parse(src)
    rendered = format_expr(ast)
    assert parse(rendered) == ast, rendered


# ---- property-based round-trip (hypothesis) -------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _HYP = True
except ImportError:  # pragma: no cover
    _HYP = False

if _HYP:
    from promhouse_spark.models import MatchType, Matcher
    from promhouse_spark.promql.parser import (
        Aggregation,
        BinaryOp,
        Call,
        NumberLiteral,
        RangeSelector,
        Subquery,
        Unary,
        VectorSelector,
    )

    _name = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)
    _lname = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True).filter(
        lambda s: s not in ("on", "and", "or", "unless", "bool", "by")
    )
    _dur = st.sampled_from([1_000, 15_000, 60_000, 300_000, 3_600_000])
    _num = st.floats(
        allow_nan=False, allow_infinity=False, width=32
    ).map(lambda v: NumberLiteral(abs(float(v))))
    _matcher = st.builds(
        Matcher,
        name=_lname,
        type=st.sampled_from(list(MatchType)),
        value=st.text(
            alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
            max_size=6,
        ),
    )
    _selector = st.builds(
        VectorSelector,
        name=_name,
        matchers=st.lists(_matcher, max_size=2),
        offset_ms=st.sampled_from([0, 60_000, -60_000]),
        at_ms=st.sampled_from([None, 60_000, "start", "end"]),
    )

    def _exprs(depth: int):
        if depth <= 0:
            return st.one_of(_num, _selector)
        sub = _exprs(depth - 1)
        rng = st.builds(RangeSelector, selector=_selector, range_ms=_dur)
        return st.one_of(
            _num,
            _selector,
            st.builds(Unary, op=st.just("-"), expr=sub),
            st.builds(
                BinaryOp,
                op=st.sampled_from(["+", "-", "*", "/", "%", "^", "atan2"]),
                lhs=sub,
                rhs=sub,
            ),
            st.builds(
                Call,
                func=st.just("rate"),
                args=st.tuples(rng).map(list),
            ),
            st.builds(
                Call,
                func=st.just("avg_over_time"),
                args=st.tuples(
                    st.builds(
                        Subquery,
                        expr=sub,
                        range_ms=_dur,
                        step_ms=st.sampled_from([None, 60_000]),
                        offset_ms=st.sampled_from([0, 60_000]),
                        at_ms=st.sampled_from([None, "end"]),
                    )
                ).map(list),
            ),
            st.builds(
                Aggregation,
                op=st.sampled_from(["sum", "avg", "max"]),
                expr=sub,
                by=st.one_of(st.none(), st.lists(_lname, max_size=2)),
            ),
            st.builds(
                Aggregation,
                op=st.just("topk"),
                expr=sub,
                param=st.just(NumberLiteral(3.0)),
            ),
        )

    @settings(max_examples=300, deadline=None)
    @given(_exprs(3))
    def test_random_ast_round_trip(ast):
        rendered = format_expr(ast)
        assert parse(rendered) == ast, rendered


# ------------------------------------------- Prometheus 3 UTF-8 names


def test_parse_quoted_metric_sugar():
    from promhouse_spark.promql.parser import VectorSelector, parse

    r = parse('{"my.metric"}')
    assert isinstance(r, VectorSelector) and r.name is None
    assert [(m.name, m.type.value, m.value) for m in r.matchers] == [
        ("__name__", "=", "my.metric")
    ]
    r = parse('{"my.metric", env="prod"}')
    assert [(m.name, m.value) for m in r.matchers] == [
        ("__name__", "my.metric"),
        ("env", "prod"),
    ]


def test_parse_quoted_label_names():
    from promhouse_spark.promql.parser import parse

    r = parse('{"label.with.dots"="v", plain="w"}')
    assert [(m.name, m.type.value, m.value) for m in r.matchers] == [
        ("label.with.dots", "=", "v"),
        ("plain", "=", "w"),
    ]
    agg = parse('sum by ("k8s.cluster") (up)')
    assert agg.by == ["k8s.cluster"]


def test_format_quotes_utf8_names():
    from promhouse_spark.promql.format import format_expr
    from promhouse_spark.promql.parser import parse

    for src, want in [
        ('{"my.metric"}', '{__name__="my.metric"}'),
        ('{"l.x"="v"}', '{"l.x"="v"}'),
        ('sum by ("k8s.cluster") (up)', 'sum by ("k8s.cluster") (up)'),
    ]:
        assert format_expr(parse(src)) == want
        # round-trip stability
        assert format_expr(parse(format_expr(parse(src)))) == want


def test_utf8_names_evaluate(spark):
    from pyspark.sql import Row

    from promhouse_spark.promql import PromQLEngine

    T0 = 1_767_225_600_000
    sdf = spark.createDataFrame([Row(fingerprint=1, timestamp_ms=T0, value=4.0)])
    ser = spark.createDataFrame(
        [Row(fingerprint=1, labels={"__name__": "http.req", "k8s.pod": "a"})]
    )
    e = PromQLEngine(sdf, ser, T0, T0, 60_000)
    rows = e.eval('{"http.req", "k8s.pod"="a"}').collect()
    assert len(rows) == 1 and rows[0]["value"] == 4.0
    rows = e.eval('sum by ("k8s.pod") ({"http.req"})').collect()
    assert len(rows) == 1 and dict(rows[0]["labels"]) == {"k8s.pod": "a"}
