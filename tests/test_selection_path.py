"""Series selection and the served shapes' Spark job budget.

PromQL selects series the way remote read does: matchers resolve in
Python against the storage's hot registry dict, and the samples come from
the storage's restricted scan; the matched labels stay in Python and
reach the result as one map literal. These tests pin that path:
resolution stays safe while writers add series, ``samples_df()`` builds
without a Spark job, the served shapes (a streamed remote read, a
sum-of-rate range query and a ratio of two) stay within their job counts
and build with no job at all and within a py4j round-trip budget, label
text of any kind survives the map literal, and a storage whose dict is
off still answers PromQL through the distributed ``registry_df()``
resolution, as does a selector whose regex only Java reads exactly or
whose match set is too wide for an IN list. A served storage's dict takes
in what other instances flush."""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from unittest import mock

import pytest
from hypothesis import given, settings, strategies as hst

from promhouse_spark.models import (
    Label,
    Query,
    Sample,
    TimeSeries,
    make_matchers,
    regex,
)
from promhouse_spark.promql import PromQLEngine
from promhouse_spark.storage.parquet import SparkParquetStorage

T0 = 1_767_225_600_000  # 2026-01-01T00:00:00Z
STEP_MS = 15_000
POINTS = 40  # 10 minutes of 15 s scrapes
_groups = itertools.count()


def _counters(metrics: int = 2, jobs: int = 2, instances: int = 3) -> list[TimeSeries]:
    """Counter series rising at (1 + m + j + i) per second."""
    return [
        TimeSeries(
            [
                Label("__name__", f"req_total_{m}"),
                Label("instance", f"web-{i}"),
                Label("job", f"svc{j}"),
            ],
            [
                Sample(float((1 + m + j + i) * k * STEP_MS // 1000), T0 + k * STEP_MS)
                for k in range(POINTS)
            ],
        )
        for m in range(metrics)
        for j in range(jobs)
        for i in range(instances)
    ]


@contextlib.contextmanager
def _jobs(spark):
    """Count the Spark jobs started inside the block on this thread."""
    sc = spark.sparkContext
    group = f"selection-path-{next(_groups)}"
    sc.setJobGroup(group, group)
    seen: list[int] = []
    try:
        yield seen
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        seen.append(len(sc.statusTracker().getJobIdsForGroup(group)))


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    st = SparkParquetStorage(spark, str(tmp_path_factory.mktemp("selection")))
    st.write(_counters())
    st.flush()
    return st


def test_resolution_survives_concurrent_new_series(spark, tmp_path):
    """A writer adding series while a reader resolves matchers: the
    resolution pass must neither raise nor miss a series stored before
    it started (it once iterated the live dict and raised
    ``dictionary changed size during iteration``)."""
    st = SparkParquetStorage(spark, str(tmp_path / "race"))
    st.write(
        [
            TimeSeries([Label("__name__", "race"), Label("sid", str(i))], [Sample(1.0, T0)])
            for i in range(20_000)
        ]
    )
    stop = threading.Event()

    def writer() -> None:
        for r in itertools.count():
            if stop.is_set():
                return
            st.write(
                [
                    TimeSeries(
                        [Label("__name__", "new"), Label("sid", f"{r}-{i}")],
                        [Sample(1.0, T0)],
                    )
                    for i in range(5)
                ]
            )

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    q = Query(T0, T0, make_matchers(("__name__", "=", "race")))
    try:
        counts = [len(st._resolve_fingerprints(q)) for _ in range(30)]
    finally:
        stop.set()
        t.join()
    assert counts == [20_000] * 30
    st.flush()


def test_samples_df_builds_without_a_job(spark, store):
    """The samples scan declares its on-disk schema: building it runs no
    schema-inference job, and the columns and the day-partition pruning
    are those of the inferred scan."""
    with _jobs(spark) as n:
        df = store.samples_df()
    assert n == [0]
    inferred = spark.read.parquet(store.samples_path)
    assert df.dtypes == inferred.dtypes
    assert df.dtypes == [
        ("fingerprint", "bigint"), ("timestamp_ms", "bigint"),
        ("value", "double"), ("date", "date"),
    ]
    from promhouse_spark.plans.read import samples_in_range

    plan = samples_in_range(df, T0, T0 + 60_000)._jdf.queryExecution().toString()
    assert "date" in plan.split("PartitionFilters")[1][:200]
    assert df.count() == inferred.count() == 12 * POINTS


def _streamed_read(client, q: Query) -> int:
    from promhouse_spark.edge import chunkenc, prompb, snappy_codec

    body = snappy_codec.compress(
        prompb.encode_read_request_full([q], [prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS])
    )
    resp = client.post("/read", data=body)
    assert resp.status_code == 200
    return sum(
        len(prompb.decode_chunked_read_response(p)[0])
        for p in chunkenc.iter_frames(resp.data)
    )


def _range(client, expr: str) -> list[dict]:
    resp = client.get(
        "/api/v1/query_range",
        query_string={
            "query": expr,
            "start": str((T0 + 300_000) / 1000),
            "end": str((T0 + (POINTS - 1) * STEP_MS) / 1000),
            "step": "60",
        },
    )
    assert resp.status_code == 200, resp.data[:300]
    return resp.get_json()["data"]["result"]


#: Spark jobs per served shape on the flat tier. Down from 5, 7 and 14 when
#: PromQL resolved series over registry_df() and the samples scan inferred
#: its schema, and from 4 and 8 for range and binop when a selector's
#: labels were a broadcast relation joined to its result. A streamed read
#: range-sorts its series (a sampling job and a second shuffle), so that no
#: task and no driver-side partition holds the whole response.
BUDGET = {"read": 4, "range": 3, "binop": 6}


def test_served_shapes_stay_within_their_job_budget(spark, store):
    pytest.importorskip("flask")
    from promhouse_spark.edge.http import create_app

    client = create_app(store).test_client()
    rate = "sum by (job) (rate(req_total_{}[5m]))"
    q = Query(T0, T0 + POINTS * STEP_MS, make_matchers(
        ("__name__", "=", "req_total_0"), ("job", "=", "svc1"),
    ))
    with _jobs(spark) as read:
        assert _streamed_read(client, q) == 3
    with _jobs(spark) as rng:
        ranged = _range(client, rate.format(0))
    with _jobs(spark) as binop:
        ratio = _range(client, f"{rate.format(1)} / {rate.format(0)}")
    assert [s["metric"] for s in ranged] == [{"job": "svc0"}, {"job": "svc1"}]
    # per-instance slopes: 1 + m + j + i, three instances per job
    for s in ratio:
        j = int(s["metric"]["job"][-1])
        want = (3 * (2 + j) + 3) / (3 * (1 + j) + 3)
        assert all(float(v) == pytest.approx(want) for _, v in s["values"])
    got = {"read": read[0], "range": rng[0], "binop": binop[0]}
    assert all(got[k] <= BUDGET[k] for k in BUDGET), got


def test_promql_build_runs_no_job(spark, store):
    """from_storage + eval is plan construction only."""
    rate = "sum by (job) (rate(req_total_{}[5m]))"
    with _jobs(spark) as n:
        for expr in (rate.format(0), f"{rate.format(1)} / {rate.format(0)}"):
            PromQLEngine.from_storage(
                store, T0 + 300_000, T0 + 600_000, 60_000
            ).eval(expr)
    assert n == [0]


#: py4j round trips (on the calling thread) to build each served shape,
#: ``from_storage(...).eval(expr)``, on this module's store. A rise fails
#: the test; a change that lowers a count lowers it here. They were 680 and
#: 1589 while the range-function, aggregation and binop builders made a
#: Column tree, one round trip per node, and each selector's labels were a
#: JSON-literal relation.
ROUND_TRIPS = {"range": 145, "binop": 290}


def test_promql_build_round_trip_budget(spark, store):
    from py4j.clientserver import ClientServerConnection

    rate = "sum by (job) (rate(req_total_{}[5m]))"
    me = threading.current_thread()
    sent = [0]
    send = ClientServerConnection.send_command

    def counted(conn, command):
        if threading.current_thread() is me:
            sent[0] += 1
        return send(conn, command)

    got = {}
    for shape, expr in (
        ("range", rate.format(0)),
        ("binop", f"{rate.format(1)} / {rate.format(0)}"),
    ):
        build = lambda: PromQLEngine.from_storage(  # noqa: E731
            store, T0 + 300_000, T0 + 600_000, 60_000
        ).eval(expr)
        build()  # py4j resolves each JVM class and method once per process
        sent[0] = 0
        with mock.patch.object(ClientServerConnection, "send_command", counted):
            build()
        got[shape] = sent[0]
    assert all(got[k] <= ROUND_TRIPS[k] for k in ROUND_TRIPS), got


#: label text the map literal must carry byte for byte: SQL quotes and
#: escapes, the parser's ``${...}`` substitution, control and non-ASCII
#: characters, and empty values
LABEL_TEXT = [
    "'", "\\", "\\'", '"', "a\nb", "a\r\nb", "tab\there", "$", "${env:HOME}",
    "${spark.app.name}", "\\u0041", "it's", "", "é", "日本語", "😀", "\x00",
]


def _labelled(values: list[str], names: tuple[str, ...]) -> list[TimeSeries]:
    return [
        TimeSeries(
            [Label("__name__", "lv"), Label("i", str(n)), *(Label(k, v) for k in names)],
            [Sample(float(n + k), T0 + k * STEP_MS) for k in range(POINTS)],
        )
        for n, v in enumerate(values)
    ]


def _served_metrics(spark, root: str, expr: str) -> list[list[dict]]:
    """The result labels of ``expr`` from a hot and a cold storage of
    ``root``, served through /api/v1/query_range."""
    from promhouse_spark.edge.http import create_app

    out = []
    for st in (
        SparkParquetStorage(spark, root),
        SparkParquetStorage(spark, root, registry_cache_max_series=0),
    ):
        app = create_app(st)
        try:
            result = _range(app.test_client(), expr)
        finally:
            app.extensions["registry_reloader"].set()
        out.append(sorted((s["metric"] for s in result), key=lambda m: int(m["i"])))
    return out


def _check_labels_round_trip(spark, root: str, values: list[str], names: tuple[str, ...]):
    series = _labelled(values, names)
    st = SparkParquetStorage(spark, root)
    st.write(series)
    st.flush()
    want = [{l.name: l.value for l in ts.labels} for ts in series]
    hot, cold = _served_metrics(spark, root, "lv")
    assert hot == cold == want
    hot, cold = _served_metrics(spark, root, "rate(lv[5m])")
    assert hot == cold == [{k: v for k, v in m.items() if k != "__name__"} for m in want]


def test_label_text_survives_the_map_literal(spark, tmp_path):
    pytest.importorskip("flask")
    _check_labels_round_trip(
        spark, str(tmp_path / "labels"), LABEL_TEXT, ("v", "odd'na\\me$", "ключ")
    )


@settings(max_examples=5, deadline=None)
@given(values=hst.lists(hst.text(max_size=12), min_size=1, max_size=4, unique=True))
def test_any_label_text_survives_the_map_literal(spark, tmp_path_factory, values):
    pytest.importorskip("flask")
    _check_labels_round_trip(spark, str(tmp_path_factory.mktemp("labels")), values, ("v",))


def test_cache_off_promql_resolves_over_registry_df(spark, tmp_path, store):
    """Above ``registry_cache_max_series`` the dict is off and PromQL
    resolves series distributed, with the same answers."""
    cold = SparkParquetStorage(spark, str(tmp_path / "cold"), registry_cache_max_series=0)
    cold.write(_counters())
    cold.reload_registry()
    assert not cold.cache_registry and cold._registry == {}
    grid = dict(start_ms=T0 + 300_000, end_ms=T0 + 585_000, step_ms=15_000)
    for expr in (
        'rate(req_total_0{job=~"svc.*", instance!="web-2"}[2m])',
        "sum by (job) (req_total_1) / sum by (job) (req_total_0)",
        "max_over_time(req_total_0[5m:1m])",
    ):
        hot_eng = PromQLEngine.from_storage(store, **grid)
        cold_eng = PromQLEngine.from_storage(cold, **grid)
        assert hot_eng._registry is not None and cold_eng._registry is None
        plan = cold_eng.explain(expr)
        assert "time_series" in plan  # the registry scan
        hot = _canon(hot_eng.eval(expr))
        assert hot and hot == _canon(cold_eng.eval(expr))


ROOMS = ["a", "b", "Ab", "é", "a.b", "7", "a\r", "x y"]


def _rooms() -> list[TimeSeries]:
    return [
        TimeSeries(
            [Label("__name__", "temp"), Label("room", room)],
            [Sample(float(r + k), T0 + k * STEP_MS) for k in range(POINTS)],
        )
        for r, room in enumerate(ROOMS)
    ]


@pytest.fixture(scope="module")
def dialect_roots(spark, tmp_path_factory) -> dict[str, str]:
    """Two roots holding the same rooms: one served hot, one cold."""
    roots = {}
    for name in ("hot", "cold"):
        roots[name] = str(tmp_path_factory.mktemp(f"dialect_{name}"))
        st = SparkParquetStorage(spark, roots[name])
        st.write(_rooms())
        st.flush()
    return roots


@pytest.fixture(scope="module")
def dialect_clients(spark, dialect_roots) -> dict:
    """Remote-read clients over the dialect roots: one served hot, one cold."""
    pytest.importorskip("flask")
    from promhouse_spark.edge.http import create_app

    return {
        "hot": create_app(SparkParquetStorage(spark, dialect_roots["hot"])).test_client(),
        "cold": create_app(
            SparkParquetStorage(spark, dialect_roots["cold"], registry_cache_max_series=0)
        ).test_client(),
    }


def _read_rooms(client, pattern: str) -> set[str]:
    """The rooms a remote read of ``temp{room=~pattern}`` returns."""
    from promhouse_spark.edge import prompb, snappy_codec

    q = Query(
        T0, T0 + POINTS * STEP_MS,
        make_matchers(("__name__", "=", "temp"), ("room", "=~", pattern)),
    )
    resp = client.post("/read", data=snappy_codec.compress(prompb.encode_read_request([q])))
    assert resp.status_code == 200, resp.data[:300]
    (series,) = prompb.decode_read_response(snappy_codec.decompress(resp.data))
    return {ts.labels_map()["room"] for ts in series}


@pytest.mark.parametrize(
    "pattern",
    [
        # outside the Python-translated subset: resolved through Java's rlike
        "\\p{L}+", "\\pL+", "\\p{Alpha}+", "\\Qa.b\\E", "a\\z", "[[:alpha:]]+",
        # inside it: resolved against the hot dict
        "a.*", ".+", "(?i)a.*", "\\w+", "[^a].*",
    ],
)
def test_hot_and_cold_read_a_regex_alike(spark, dialect_roots, dialect_clients, pattern):
    """The same selector answers the same whatever the registry's size:
    the hot dict and the distributed resolution read one (Java) dialect,
    and remote read answers as PromQL does."""
    hot = SparkParquetStorage(spark, dialect_roots["hot"])
    cold = SparkParquetStorage(
        spark, dialect_roots["cold"], registry_cache_max_series=0
    )
    grid = dict(start_ms=T0 + 300_000, end_ms=T0 + 585_000, step_ms=60_000)
    quoted = pattern.replace("\\", "\\\\")
    expr = f'temp{{room=~"{quoted}"}}'
    hot_eng = PromQLEngine.from_storage(hot, **grid)
    got = _canon(hot_eng.eval(expr))
    assert got == _canon(PromQLEngine.from_storage(cold, **grid).eval(expr))
    rooms = {dict(labels)["room"] for labels, _, _ in got}
    if pattern in ("\\p{L}+", ".+"):
        assert rooms >= {"a", "é"}
    assert _read_rooms(dialect_clients["hot"], pattern) == rooms
    assert _read_rooms(dialect_clients["cold"], pattern) == rooms
    distributed = "time_series" in hot_eng.explain(expr)
    assert distributed == (regex(pattern) is None)


def test_wide_selector_resolves_distributed(spark, store):
    """A selector matching more series than the storage's IN-list cutover
    resolves over ``registry_df()`` rather than as a literal relation of
    its whole match set; narrower ones stay on the hot dict. Both answer
    as the engine with the default cutover does."""
    narrow = SparkParquetStorage(spark, store.root, max_series_inlist=2)
    grid = dict(start_ms=T0 + 300_000, end_ms=T0 + 585_000, step_ms=60_000)
    for expr, wide in (
        ("sum by (job) (rate(req_total_0[2m]))", True),  # 6 series
        ('rate(req_total_0{instance="web-0"}[2m])', False),  # 2 series
    ):
        eng = PromQLEngine.from_storage(narrow, **grid)
        assert ("time_series" in eng.explain(expr)) == wide
        got = _canon(eng.eval(expr))
        assert got and got == _canon(PromQLEngine.from_storage(store, **grid).eval(expr))


def test_served_dict_takes_in_series_another_instance_flushes(spark, tmp_path):
    """Two instances over one root: a series instance A writes and flushes
    reaches PromQL on instance B's server within the reloader interval
    (5 s), with no restart. B's own appends cause no reload."""
    pytest.importorskip("flask")
    from promhouse_spark.edge.http import create_app

    root = str(tmp_path / "shared")
    a = SparkParquetStorage(spark, root)
    a.write(_counters(metrics=1, jobs=1, instances=1))
    a.flush()
    b = SparkParquetStorage(spark, root)
    client = create_app(b).test_client()
    assert len(_range(client, "req_total_0")) == 1
    # B's own appends leave nothing for its reloader to read
    b.write(_counters(metrics=2, jobs=1, instances=1)[1:])
    b.flush()
    assert b._registry_version() == b._registry_loaded
    a.write(
        [
            TimeSeries(
                [Label("__name__", "req_total_0"), Label("instance", "web-9"), Label("job", "svc0")],
                [Sample(1.0, T0 + k * STEP_MS) for k in range(POINTS)],
            )
        ]
    )
    a.flush()
    deadline = time.monotonic() + 20
    while len(_range(client, "req_total_0")) < 2 and time.monotonic() < deadline:
        time.sleep(0.5)
    assert len(_range(client, "req_total_0")) == 2


def _canon(df) -> list[tuple]:
    return sorted(
        (tuple(sorted(r["labels"].items())), r["eval_ms"], r["value"])
        for r in df.collect()
    )
