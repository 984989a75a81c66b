"""Prometheus HTTP API v1 endpoints over the PromQL compiler
(edge/http.py /api/v1/query_range + /api/v1/query): write series through
the storage, query them back as PromQL text, assert the Prometheus
response shapes and hand-computed values."""

from __future__ import annotations

import tempfile

import pytest

from promhouse_spark.edge.http import create_app
from promhouse_spark.models import Label, Sample, TimeSeries
from promhouse_spark.storage.parquet import SparkParquetStorage

# slow tier (r12): HTTP server endpoint integration. The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow


T0 = 1_767_225_600_000  # 2026-01-01T00:00:00Z


@pytest.fixture(scope="module")
def client(spark):
    store = SparkParquetStorage(spark, tempfile.mkdtemp(prefix="phs-promql-api-"))
    series = []
    for job, mult in (("api", 1.0), ("db", 2.0)):
        series.append(
            TimeSeries(
                labels=[Label("__name__", "requests_total"), Label("job", job)],
                samples=[
                    # perfect counters: mult req/s, 15 s scrapes, 10 min
                    Sample(value=i * 15.0 * mult, timestamp_ms=T0 + i * 15_000)
                    for i in range(41)
                ],
            )
        )
    store.write(series)
    app = create_app(store)
    app.config["TESTING"] = True
    return app.test_client()


def test_query_range_rate(client):
    r = client.get(
        "/api/v1/query_range",
        query_string={
            "query": "rate(requests_total[2m])",
            "start": str(T0 / 1000 + 300),
            "end": str(T0 / 1000 + 600),
            "step": "60",
        },
    )
    assert r.status_code == 200
    body = r.get_json()
    assert body["status"] == "success"
    assert body["data"]["resultType"] == "matrix"
    result = body["data"]["result"]
    # rate() drops the metric name; one stream per job
    assert [s["metric"] for s in result] == [{"job": "api"}, {"job": "db"}]
    for s in result:
        mult = 1.0 if s["metric"]["job"] == "api" else 2.0
        assert len(s["values"]) == 6
        for t, v in s["values"]:
            assert float(v) == pytest.approx(mult)


def test_query_range_binop_and_agg(client):
    r = client.get(
        "/api/v1/query_range",
        query_string={
            "query": 'sum(requests_total) / sum(requests_total{job="api"})',
            "start": str(T0 / 1000 + 300),
            "end": str(T0 / 1000 + 300),
            "step": "1m",
        },
    )
    body = r.get_json()
    [stream] = body["data"]["result"]
    assert stream["metric"] == {}
    assert float(stream["values"][0][1]) == pytest.approx(3.0)  # (1x+2x)/1x


def test_query_instant_vector(client):
    r = client.get(
        "/api/v1/query",
        query_string={
            "query": "requests_total",
            "time": str(T0 / 1000 + 300),
        },
    )
    body = r.get_json()
    assert body["data"]["resultType"] == "vector"
    got = {s["metric"]["job"]: float(s["value"][1]) for s in body["data"]["result"]}
    assert got == {"api": pytest.approx(300.0), "db": pytest.approx(600.0)}
    assert all(
        s["value"][0] == pytest.approx(T0 / 1000 + 300)
        for s in body["data"]["result"]
    )


def test_query_range_bad_promql_is_client_error(client):
    r = client.get(
        "/api/v1/query_range",
        query_string={
            "query": "rate(oops[",
            "start": "0",
            "end": "1",
            "step": "1",
        },
    )
    assert r.status_code == 400
    assert r.get_json()["status"] == "error"
    # missing parameter is also a 400, not a 500
    assert client.get("/api/v1/query_range").status_code == 400
    assert client.get("/api/v1/query").status_code == 400


@pytest.mark.parametrize("matcher", ['job=~"("', 'job!~"[a-"'])
def test_query_range_bad_regex_is_client_error(client, matcher):
    """Matchers compile in Python when the query builds; a regex that
    does not compile is the client's error, with or without a series to
    match against."""
    for query in (f"requests_total{{{matcher}}}", f"absent_metric{{{matcher}}}"):
        r = client.get(
            "/api/v1/query_range",
            query_string={"query": query, "start": "0", "end": "1", "step": "1"},
        )
        assert r.status_code == 400, r.data[:300]
        body = r.get_json()
        assert body["status"] == "error" and body["errorType"] == "bad_data"


def test_query_range_rfc3339_times(client):
    r = client.get(
        "/api/v1/query_range",
        query_string={
            "query": 'requests_total{job="api"}',
            "start": "2026-01-01T00:05:00Z",
            "end": "2026-01-01T00:05:00Z",
            "step": "1m",
        },
    )
    [stream] = r.get_json()["data"]["result"]
    assert stream["metric"]["__name__"] == "requests_total"
    assert float(stream["values"][0][1]) == pytest.approx(300.0)


def test_metadata_endpoints(client):
    r = client.get("/api/v1/labels")
    assert r.get_json() == {"status": "success", "data": ["__name__", "job"]}
    r = client.get("/api/v1/label/job/values")
    assert r.get_json()["data"] == ["api", "db"]
    r = client.get("/api/v1/series", query_string={"match[]": 'requests_total{job="api"}'})
    assert r.get_json()["data"] == [
        {"__name__": "requests_total", "job": "api"}
    ]
    # OR of several selectors; bad selector is a client error
    r = client.get(
        "/api/v1/series",
        query_string=[("match[]", '{job="api"}'), ("match[]", '{job="db"}')],
    )
    assert len(r.get_json()["data"]) == 2
    bad = client.get("/api/v1/series", query_string={"match[]": "rate(x[5m])"})
    assert bad.get_json()["status"] == "error"


def test_recording_rules_materialize_and_requery(spark, tmp_path):
    """Full rules loop: ingest counters -> evaluate a recording rule ->
    write the recorded series back -> query the RECORDED metric through
    the PromQL engine as if it were scraped."""
    from promhouse_spark.promql import PromQLEngine
    from promhouse_spark.promql.rules import evaluate_rules, record_rules

    store = SparkParquetStorage(spark, str(tmp_path / "rules-store"))
    series = []
    for job, mult in (("api", 1.0), ("db", 2.0)):
        series.append(
            TimeSeries(
                labels=[Label("__name__", "requests_total"), Label("job", job)],
                samples=[
                    Sample(value=i * 15.0 * mult, timestamp_ms=T0 + i * 15_000)
                    for i in range(41)
                ],
            )
        )
    store.write(series)

    eng = PromQLEngine.from_storage(
        store, T0 + 300_000, T0 + 600_000, 60_000
    )
    rules = [("job:requests:rate2m", "sum by (job) (rate(requests_total[2m]))")]
    frame = evaluate_rules(eng, rules).collect()
    assert all(r["labels"]["__name__"] == "job:requests:rate2m" for r in frame)
    n = record_rules(eng, store, rules)
    assert n == 2  # one recorded series per job

    # the recorded metric is a first-class series: query it back compiled
    eng2 = PromQLEngine.from_storage(
        store, T0 + 300_000, T0 + 600_000, 60_000
    )
    got = eng2.eval('job:requests:rate2m{job="db"}').collect()
    assert len(got) == 6
    assert all(abs(r["value"] - 2.0) < 1e-9 for r in got)
    # and the registry knows it
    names = {
        r["labels"]["__name__"] for r in store.registry_df().collect()
    }
    assert "job:requests:rate2m" in names


def test_promql_over_rollup_tier(spark, tmp_path):
    """tier='rollup': the engine evaluates over the continuous rollup's
    step-sampled last values — instant vectors equal the per-window last
    raw sample, max_over_time composes faithfully, and the fact table is
    never in the plan."""
    from promhouse_spark.promql import PromQLEngine
    from promhouse_spark.schemas import SAMPLES_SCHEMA
    from promhouse_spark.streaming.rollup import downsample_partial

    store = SparkParquetStorage(spark, str(tmp_path / "store"))
    store.write(
        [
            TimeSeries(
                labels=[Label("__name__", "g"), Label("job", "x")],
                samples=[
                    Sample(value=float(i), timestamp_ms=T0 + i * 60_000)
                    for i in range(10)
                ],
            )
        ]
    )
    rollup = str(tmp_path / "rollup")
    downsample_partial(store.samples_df(), step_ms=300_000).write.mode(
        "append"
    ).parquet(rollup)
    store.attach_rollup(rollup, step_ms=300_000)

    eng = PromQLEngine.from_storage(
        store, T0 + 300_000, T0 + 600_000, 300_000, lookback_ms=600_000,
        tier="rollup",
    )
    got = {r.eval_ms - T0: r.value for r in eng.eval("g").collect()}
    # windows stamp at their END: [0,300k) -> point at 300k value 4.0
    # (samples 0..4), [300k,600k) -> point at 600k value 9.0 (samples 5..9);
    # no lookahead — the instant at 300k must NOT see samples after 300k
    assert got[300_000] == 4.0
    assert got[600_000] == 9.0
    mx = eng.eval("max_over_time(g[10m])").collect()
    assert {r.eval_ms - T0: r.value for r in mx}[600_000] == 9.0
    with pytest.raises(ValueError):
        PromQLEngine.from_storage(store, 0, 1, 1, tier="rollup2")
    s2 = SparkParquetStorage(spark, str(tmp_path / "bare"))
    with pytest.raises(ValueError):
        PromQLEngine.from_storage(s2, 0, 1, 1, tier="rollup")


@pytest.fixture(scope="module")
def rules_client(spark):
    store = SparkParquetStorage(spark, tempfile.mkdtemp(prefix="phs-rules-api-"))
    store.write(
        [
            TimeSeries(
                labels=[Label("__name__", "m"), Label("job", "a")],
                samples=[
                    # 10 until t=300s, then 100 to the end: the alert is
                    # ACTIVE at the newest evaluation
                    Sample(
                        value=100.0 if i * 15_000 >= 300_000 else 10.0,
                        timestamp_ms=T0 + i * 15_000,
                    )
                    for i in range(41)
                ],
            )
        ]
    )
    groups = [
        {
            "name": "g1",
            "interval_ms": 60_000,
            "rules": [
                {"record": "job:m:sum", "expr": "sum by (job) (m)"},
                {
                    "alert": "HighM",
                    "expr": "sum by (job) (m) > 50",
                    "for": "2m",
                    "labels": {"severity": "page"},
                },
                {
                    "alert": "NeverM",
                    "expr": "sum by (job) (m) > 1e6",
                    "for": "1m",
                },
                {
                    # regression: a for-duration that is NOT a multiple of
                    # the eval interval (90 s vs 60 s) must not shift the
                    # evaluation grid off the newest step (the alert always
                    # fires, so state must be "firing", never "inactive")
                    "alert": "OddFor",
                    "expr": "sum by (job) (m) > 5",
                    "for": "90s",
                },
            ],
        }
    ]
    app = create_app(store, rule_groups=groups)
    app.config["TESTING"] = True
    return app.test_client()


def test_rules_endpoint(rules_client):
    body = rules_client.get("/api/v1/rules").get_json()
    assert body["status"] == "success"
    (g,) = body["data"]["groups"]
    assert g["name"] == "g1" and g["interval"] == 60.0
    by_name = {r["name"]: r for r in g["rules"]}
    rec = by_name["job:m:sum"]
    assert rec["type"] == "recording" and rec["health"] == "ok"
    alert = by_name["HighM"]
    assert alert["type"] == "alerting" and alert["duration"] == 120.0
    assert alert["state"] == "firing"
    assert by_name["NeverM"]["state"] == "inactive"
    assert by_name["OddFor"]["state"] == "firing"
    # type filter
    only_alerts = rules_client.get("/api/v1/rules?type=alert").get_json()
    names = {r["name"] for r in only_alerts["data"]["groups"][0]["rules"]}
    assert names == {"HighM", "NeverM", "OddFor"}


def test_alerts_endpoint(rules_client):
    body = rules_client.get("/api/v1/alerts").get_json()
    assert body["status"] == "success"
    by_name = {a["labels"]["alertname"]: a for a in body["data"]["alerts"]}
    a = by_name["HighM"]
    assert a["state"] == "firing"
    assert a["labels"] == {"alertname": "HighM", "job": "a", "severity": "page"}
    # activeAt = the first firing evaluation (t = 300 s)
    assert a["activeAt"] == pytest.approx(T0 / 1000 + 300)
    # /api/v1/alerts and /api/v1/rules must agree on every alert's state
    assert by_name["OddFor"]["state"] == "firing"
    assert "NeverM" not in by_name


def test_rollup_tier_pushdown_is_exact(spark, tmp_path):
    """Decomposable *_over_time on the rollup tier now pushes down to the
    partials and is EXACT versus the raw engine (not a last-value
    approximation); non-decomposable functions still evaluate at rollup
    resolution instead of erroring."""
    from promhouse_spark.promql import PromQLEngine
    from promhouse_spark.streaming.rollup import downsample_partial

    store = SparkParquetStorage(spark, str(tmp_path / "store"))
    store.write(
        [
            TimeSeries(
                labels=[Label("__name__", "g"), Label("job", "x")],
                samples=[
                    # off-boundary timestamps; values vary inside windows
                    Sample(value=float((7 * i) % 13), timestamp_ms=T0 + i * 60_000 + 7_000)
                    for i in range(20)
                ],
            )
        ]
    )
    rollup = str(tmp_path / "rollup")
    downsample_partial(store.samples_df(), step_ms=300_000).write.mode(
        "append"
    ).parquet(rollup)
    store.attach_rollup(rollup, step_ms=300_000)

    grid = dict(start_ms=T0 + 600_000, end_ms=T0 + 1_200_000, step_ms=300_000)
    raw = PromQLEngine.from_storage(store, **grid)
    rolled = PromQLEngine.from_storage(store, **grid, tier="rollup")
    for q in (
        "avg_over_time(g[10m])",
        "sum_over_time(g[10m])",
        "min_over_time(g[10m])",
        "max_over_time(g[10m])",
        "count_over_time(g[10m])",
    ):
        want = {r.eval_ms: r.value for r in raw.eval(q).collect()}
        got = {r.eval_ms: r.value for r in rolled.eval(q).collect()}
        assert got == want and want, q
    # the pushed plan reads the partials, not the samples fact table
    plan = rolled.explain("avg_over_time(g[10m])", mode="simple")
    assert "rollup" in plan and "/samples" not in plan
    # misaligned range falls back to rollup-resolution evaluation (no error)
    assert rolled.eval("avg_over_time(g[7m])").collect()
    # non-decomposable stays on the general path
    assert rolled.eval("rate(g[10m])").collect() is not None


def test_promql_over_jdbc_backend(spark):
    """The PromQL engine is backend-agnostic: served evaluation over the
    JDBC storage (ClickHouse-shape twin on embedded Derby) must equal the
    parquet backend on the same writes — from_storage only needs the
    frame surface."""
    import uuid

    from promhouse_spark.promql import PromQLEngine
    from promhouse_spark.storage.jdbc import DERBY_DRIVER, JdbcStorage, derby_memory_url

    series = [
        TimeSeries(
            labels=[Label("__name__", "m"), Label("job", j)],
            samples=[
                Sample(value=i * 15.0 * mult, timestamp_ms=T0 + i * 15_000)
                for i in range(41)
            ],
        )
        for j, mult in (("api", 1.0), ("db", 2.0))
    ]
    jd = JdbcStorage(
        spark, derby_memory_url(f"promql{uuid.uuid4().hex[:8]}"), driver=DERBY_DRIVER
    )
    jd.write(series)
    pq = SparkParquetStorage(spark, tempfile.mkdtemp(prefix="phs-promql-pq-"))
    pq.write(series)
    grid = dict(start_ms=T0 + 300_000, end_ms=T0 + 600_000, step_ms=60_000)
    for q in ("sum by (job) (rate(m[2m]))", 'm{job="api"}', "topk(1, m)"):
        got = {
            (tuple(sorted(r["labels"].items())), r["eval_ms"]): r["value"]
            for r in PromQLEngine.from_storage(jd, **grid).eval(q).collect()
        }
        want = {
            (tuple(sorted(r["labels"].items())), r["eval_ms"]): r["value"]
            for r in PromQLEngine.from_storage(pq, **grid).eval(q).collect()
        }
        assert got.keys() == want.keys() and want, q
        for k, v in want.items():
            assert got[k] == pytest.approx(v), (q, k)


def test_query_instant_result_types(client):
    """Prometheus result typing at /api/v1/query: scalar expressions
    answer resultType=scalar, string literals string, bare range
    selectors matrix (raw samples), vectors vector."""
    t = str(T0 / 1000 + 300)
    # scalar
    body = client.get(
        "/api/v1/query", query_string={"query": "1 + 1", "time": t}
    ).get_json()
    assert body["data"]["resultType"] == "scalar"
    assert body["data"]["result"] == [T0 / 1000 + 300, "2"]
    body = client.get(
        "/api/v1/query",
        query_string={"query": "scalar(sum(requests_total))", "time": t},
    ).get_json()
    assert body["data"]["resultType"] == "scalar"
    assert float(body["data"]["result"][1]) == pytest.approx(900.0)
    # scalar() of nothing is NaN, not empty
    body = client.get(
        "/api/v1/query", query_string={"query": "scalar(no_such)", "time": t}
    ).get_json()
    assert body["data"]["result"][1] == "NaN"
    # string
    body = client.get(
        "/api/v1/query", query_string={"query": '"hello"', "time": t}
    ).get_json()
    assert body["data"]["resultType"] == "string"
    assert body["data"]["result"] == [T0 / 1000 + 300, "hello"]
    # bare range selector: raw samples in (t-60s, t], timestamps RAW
    body = client.get(
        "/api/v1/query",
        query_string={"query": 'requests_total{job="api"}[1m]', "time": t},
    ).get_json()
    assert body["data"]["resultType"] == "matrix"
    (stream,) = body["data"]["result"]
    assert stream["metric"]["__name__"] == "requests_total"
    tss = [v[0] for v in stream["values"]]
    assert tss == [T0 / 1000 + s for s in (255, 270, 285, 300)]
    # ... under offset the lookup shifts but timestamps stay raw
    body = client.get(
        "/api/v1/query",
        query_string={
            "query": 'requests_total{job="api"}[1m] offset 1m',
            "time": t,
        },
    ).get_json()
    (stream,) = body["data"]["result"]
    tss = [v[0] for v in stream["values"]]
    assert tss == [T0 / 1000 + s for s in (195, 210, 225, 240)]


def test_query_instant_top_level_subquery(client):
    """`sum(requests_total)[3m:1m]` at an instant: the inner expression
    evaluated at each epoch-aligned minute in (t-3m, t] (matrix)."""
    t = str(T0 / 1000 + 300)
    body = client.get(
        "/api/v1/query",
        query_string={"query": "sum(requests_total)[3m:1m]", "time": t},
    ).get_json()
    assert body["status"] == "success"
    assert body["data"]["resultType"] == "matrix"
    (stream,) = body["data"]["result"]
    vals = {v[0]: float(v[1]) for v in stream["values"]}
    # (t-3m, t] = (120s, 300s]: aligned minutes 180, 240, 300; counters
    # sum to 3x the elapsed seconds at each point
    assert sorted(vals) == [T0 / 1000 + s for s in (180, 240, 300)]
    assert vals[T0 / 1000 + 180] == pytest.approx(540.0)
    assert vals[T0 / 1000 + 300] == pytest.approx(900.0)


def test_query_limit_parameter(client):
    """?limit= truncates the series count with a warning (Prometheus 3.x);
    limit=0 disables; bad limits answer 400."""
    t = str(T0 / 1000 + 300)
    body = client.get(
        "/api/v1/query",
        query_string={"query": "requests_total", "time": t, "limit": "1"},
    ).get_json()
    assert len(body["data"]["result"]) == 1
    assert body["warnings"] == ["results truncated due to limit"]
    body = client.get(
        "/api/v1/query",
        query_string={"query": "requests_total", "time": t, "limit": "0"},
    ).get_json()
    assert len(body["data"]["result"]) == 2 and "warnings" not in body
    r = client.get(
        "/api/v1/query_range",
        query_string={
            "query": "requests_total", "start": t, "end": t, "step": "60",
            "limit": "1",
        },
    )
    body = r.get_json()
    assert len(body["data"]["result"]) == 1 and body["warnings"]
    r = client.get(
        "/api/v1/query",
        query_string={"query": "requests_total", "time": t, "limit": "x"},
    )
    assert r.status_code == 400
    r = client.get(
        "/api/v1/query_range",
        query_string={
            "query": "requests_total", "start": t, "end": t, "step": "60",
            "limit": "-1",
        },
    )
    assert r.status_code == 400


def test_grafana_probe_endpoints(client):
    """metadata / query_exemplars / status endpoints answer the shapes
    Grafana probes, instead of 404s."""
    body = client.get("/api/v1/metadata").get_json()
    assert body["status"] == "success"
    assert body["data"] == {"requests_total": []}
    body = client.get(
        "/api/v1/metadata", query_string={"limit": "0"}
    ).get_json()
    assert body["data"] == {}
    body = client.get("/api/v1/query_exemplars").get_json()
    assert body == {"status": "success", "data": []}
    # admin API defaults OFF (r9) and this app doesn't opt in
    assert client.get("/api/v1/status/flags").get_json()["data"] == {
        "web.enable-admin-api": "false"
    }
    assert client.get("/api/v1/targets").get_json()["data"] == {
        "activeTargets": [],
        "droppedTargets": [],
    }
    rt = client.get("/api/v1/status/runtimeinfo").get_json()["data"]
    assert rt["reloadConfigSuccess"] is True and "startTime" in rt
    # r10 probe completions: scrape pools / target metadata /
    # alertmanagers answer their empty shapes, status/config renders the
    # synthesized YAML, and the /-/ health probes answer 200 plaintext
    assert client.get("/api/v1/scrape_pools").get_json()["data"] == {
        "scrapePools": []
    }
    assert client.get("/api/v1/targets/metadata").get_json()["data"] == []
    assert client.get("/api/v1/alertmanagers").get_json()["data"] == {
        "activeAlertmanagers": [],
        "droppedAlertmanagers": [],
    }
    cfg = client.get("/api/v1/status/config").get_json()
    assert cfg["status"] == "success" and "global:" in cfg["data"]["yaml"]
    for probe in ("/-/healthy", "/-/ready"):
        r = client.get(probe)
        assert r.status_code == 200 and r.data.endswith(b".\n")


def test_query_instant_subquery_modifiers(client):
    t = str(T0 / 1000 + 600)
    # offset 5m: window shifted to (t-8m, t-5m]
    body = client.get(
        "/api/v1/query",
        query_string={"query": "sum(requests_total)[3m:1m] offset 5m",
                      "time": t},
    ).get_json()
    (stream,) = body["data"]["result"]
    tss = [v[0] for v in stream["values"]]
    # t_eff = 300s: (120s, 300s], aligned minutes strictly above 120
    assert tss == [T0 / 1000 + s for s in (180, 240, 300)]
    # @ pins the window end to 300s regardless of the query time
    body = client.get(
        "/api/v1/query",
        query_string={
            "query": f"sum(requests_total)[2m:1m] @ {T0 / 1000 + 300}",
            "time": t,
        },
    ).get_json()
    (stream,) = body["data"]["result"]
    tss = [v[0] for v in stream["values"]]
    assert tss == [T0 / 1000 + s for s in (240, 300)]


def test_status_tsdb_stats(client):
    body = client.get("/api/v1/status/tsdb").get_json()
    assert body["status"] == "success"
    d = body["data"]
    assert d["headStats"]["numSeries"] == 2
    # label pairs: __name__=requests_total, job=api, job=db
    assert d["headStats"]["numLabelPairs"] == 3
    assert d["headStats"]["minTime"] == T0
    assert d["headStats"]["maxTime"] == T0 + 40 * 15_000
    assert d["seriesCountByMetricName"] == [
        {"name": "requests_total", "value": 2}
    ]
    by_label = {x["name"]: x["value"] for x in d["labelValueCountByLabelName"]}
    assert by_label == {"__name__": 1, "job": 2}
    pair = {x["name"]: x["value"] for x in d["seriesCountByLabelValuePair"]}
    assert pair["__name__=requests_total"] == 2
    assert pair["job=api"] == 1


def test_time_bounded_metadata(spark, tmp_path):
    """?start/?end on labels / label-values / series restrict to series
    with samples in the range (Prometheus time-bounded metadata)."""
    store = SparkParquetStorage(spark, str(tmp_path / "meta-store"))
    store.write([
        TimeSeries(
            labels=[Label("__name__", "old_metric"), Label("job", "old")],
            samples=[Sample(1.0, T0)],
        ),
        TimeSeries(
            labels=[Label("__name__", "new_metric"), Label("job", "new")],
            samples=[Sample(1.0, T0 + 3_600_000)],
        ),
    ])
    app = create_app(store)
    app.config["TESTING"] = True
    c = app.test_client()
    # unbounded: both series
    assert len(c.get("/api/v1/series").get_json()["data"]) == 2
    # bounded to the second hour: only new_metric
    qs = {"start": str(T0 / 1000 + 1800), "end": str(T0 / 1000 + 7200)}
    data = c.get("/api/v1/series", query_string=qs).get_json()["data"]
    assert data == [{"__name__": "new_metric", "job": "new"}]
    vals = c.get("/api/v1/label/job/values", query_string=qs).get_json()["data"]
    assert vals == ["new"]
    names = c.get("/api/v1/labels", query_string=qs).get_json()["data"]
    assert names == ["__name__", "job"]


def test_subquery_at_plus_offset(client):
    # @ pins the base, THEN offset shifts back: end = 600 - 300 = 300s
    body = client.get(
        "/api/v1/query",
        query_string={
            "query": f"sum(requests_total)[2m:1m] @ {T0 / 1000 + 600} offset 5m",
            "time": str(T0 / 1000),  # query time irrelevant once pinned
        },
    ).get_json()
    (stream,) = body["data"]["result"]
    tss = [v[0] for v in stream["values"]]
    assert tss == [T0 / 1000 + s for s in (240, 300)]


def test_metadata_bad_params_are_client_errors(client):
    assert client.get(
        "/api/v1/metadata", query_string={"limit": "abc"}
    ).status_code == 400
    assert client.get(
        "/api/v1/status/tsdb", query_string={"limit": "-1"}
    ).status_code == 400
    assert client.get(
        "/api/v1/series", query_string={"start": "garbage"}
    ).status_code == 400


def test_info_enrichment_order_independent(spark, tmp_path):
    """info()'s join key uses canonical sorted-label serialization: a
    label_replace on the data side (which appends map entries) must not
    break the (job, instance) match."""
    store = SparkParquetStorage(spark, str(tmp_path / "info-store"))
    store.write([
        TimeSeries(
            labels=[Label("__name__", "m"), Label("instance", "i1"),
                    Label("job", "api")],
            samples=[Sample(7.0, T0)],
        ),
        TimeSeries(
            labels=[Label("__name__", "target_info"), Label("cluster", "c1"),
                    Label("instance", "i1"), Label("job", "api")],
            samples=[Sample(1.0, T0)],
        ),
    ])
    from promhouse_spark.promql import PromQLEngine

    eng = PromQLEngine.from_storage(store, T0, T0, 60_000)
    rows = eng.eval(
        'info(label_replace(m, "extra", "x", "", ""))'
    ).collect()
    (r,) = rows
    assert r["labels"]["cluster"] == "c1"
    assert r["labels"]["extra"] == "x"


def test_alerts_serve_value_and_expanded_annotations(spark, tmp_path):
    store = SparkParquetStorage(spark, str(tmp_path / "ann-store"))
    store.write([
        TimeSeries(
            labels=[Label("__name__", "m"), Label("job", "api")],
            samples=[Sample(80.0, T0 + i * 60_000) for i in range(11)],
        )
    ])
    groups = [{"name": "g", "interval_ms": 60_000, "rules": [{
        "alert": "High",
        "expr": "m > 50",
        "annotations": {"summary": "{{ $labels.job }} at {{ $value }}"},
    }]}]
    app = create_app(store, rule_groups=groups)
    app.config["TESTING"] = True
    c = app.test_client()
    (a,) = c.get("/api/v1/alerts").get_json()["data"]["alerts"]
    assert a["value"] == "80"  # the real expression value, not "1"
    assert a["annotations"] == {"summary": "api at 80"}


def test_query_instant_serves_native_histograms(spark):
    """Remote-write a native-histogram series, then an instant query for
    the bare selector returns the Prometheus histogram sample shape:
    {"metric": ..., "histogram": [ts, {count, sum, buckets}]} with
    [boundary_rule, lower, upper, count] buckets at base 2^(2^-schema)."""
    from promhouse_spark.models import NativeHistogram

    store = SparkParquetStorage(spark, tempfile.mkdtemp(prefix="phs-nhist-api-"))
    store.write(
        [
            TimeSeries(
                labels=[Label("__name__", "lat_hist"), Label("job", "api")],
                histograms=[
                    NativeHistogram(
                        timestamp_ms=T0 + k * 60_000,
                        count=6.0 + k,
                        sum=12.5,
                        schema=0,
                        zero_threshold=0.5,
                        zero_count=1.0,
                        positive=[(0, 2.0), (2, 3.0 + k)],
                        negative=[(1, 1.0)],
                    )
                    for k in range(2)
                ],
            )
        ]
    )
    app = create_app(store)
    app.config["TESTING"] = True
    c = app.test_client()
    r = c.get(
        "/api/v1/query",
        query_string={"query": "lat_hist", "time": str(T0 / 1000 + 90)},
    )
    assert r.status_code == 200
    body = r.get_json()
    assert body["status"] == "success"
    result = body["data"]["result"]
    assert len(result) == 1
    item = result[0]
    assert item["metric"] == {"__name__": "lat_hist", "job": "api"}
    ts, h = item["histogram"]
    assert ts == pytest.approx(T0 / 1000 + 90)
    # the LATEST histogram in the lookback (k=1)
    assert h["count"] == "7"
    assert h["sum"] == "12.5"
    # negative (rule 1), zero (rule 3), positive (rule 0) in value order
    assert h["buckets"] == [
        [1, "-2", "-1", "1"],
        [3, "-0.5", "0.5", "1"],
        [0, "0.5", "1", "2"],
        [0, "2", "4", "4"],
    ]
    # matcher filtering: a non-matching selector returns no histogram
    r2 = c.get(
        "/api/v1/query",
        query_string={
            "query": 'lat_hist{job="db"}',
            "time": str(T0 / 1000 + 90),
        },
    )
    assert r2.get_json()["data"]["result"] == []


def test_query_stats_all(client):
    """?stats=all returns real statistics in the Prometheus shape:
    measured wall timings plus totalQueryableSamples = the stored
    samples the selector windows feed the engine (documented divergence:
    Prometheus re-counts samples shared by overlapping steps)."""
    start, end = T0 / 1000 + 300, T0 / 1000 + 600
    body = client.get(
        "/api/v1/query_range",
        query_string={"query": "rate(requests_total[2m])", "start": str(start),
                      "end": str(end), "step": "60", "stats": "all"},
    ).get_json()
    assert body["status"] == "success"
    st = body["data"]["stats"]
    t = st["timings"]
    assert t["execTotalTime"] >= t["evalTotalTime"] > 0
    # matrix selector: window (start-120s, end] at 15s cadence, 2 series
    # -> samples in (180s, 600s] = ticks 13..40 inclusive = 28 per series
    assert st["samples"]["totalQueryableSamples"] == 2 * 28
    assert st["samples"]["peakSamples"] == st["samples"]["totalQueryableSamples"]
    # instant query: default 5m lookback window (t-300s, t]
    body = client.get(
        "/api/v1/query",
        query_string={"query": 'requests_total{job="api"}',
                      "time": str(end), "stats": "all"},
    ).get_json()
    st = body["data"]["stats"]
    # one series, samples in (300s, 600s] = ticks 21..40 = 20
    assert st["samples"]["totalQueryableSamples"] == 20
    # without ?stats there is no stats block
    body = client.get(
        "/api/v1/query",
        query_string={"query": "requests_total", "time": str(end)},
    ).get_json()
    assert "stats" not in body["data"]
