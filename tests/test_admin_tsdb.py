"""TSDB admin tier: delete_series tombstones, clean_tombstones
partition-pruned rewrite, snapshot, and the /api/v1/admin/tsdb endpoints.

Semantics follow the public Prometheus admin API (web/api/v1) and TSDB
tombstone model; the storage side is the columnar re-expression: a delete
appends (fingerprint, interval) tombstone rows that every read path masks
via an equi-keyed anti-join, and a clean physically rewrites ONLY the day
partitions a pending delete intersects. The reference has no delete at
all (append-only ClickHouse MergeTree, clickhouse.go:99-101) — this is
beyond-reference surface.
"""

from __future__ import annotations

import os

import pytest

from promhouse_spark.models import (
    Exemplar,
    Label,
    MatchType,
    Matcher,
    NativeHistogram,
    Query,
    Sample,
    TimeSeries,
    make_matchers,
)
from promhouse_spark.storage import fs
from promhouse_spark.storage.parquet import SparkParquetStorage

# slow tier (r12): TSDB admin integration (~3 min of multi-tier delete/mask runs). The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow

T0 = 1767225600000  # 2026-01-01T00:00:00Z
DAY = 86_400_000


def _mk_store(spark, tmp_path, days=3):
    store = SparkParquetStorage(spark, str(tmp_path / "store"))
    series = []
    for job in ("a", "b"):
        series.append(
            TimeSeries(
                labels=[Label("__name__", "up"), Label("job", job)],
                samples=[
                    Sample(value=float(d), timestamp_ms=T0 + d * DAY)
                    for d in range(days)
                ],
            )
        )
    store.write(series)
    store.flush()  # tests list the partition files
    return store


def _read_all(store, matchers=None):
    matchers = matchers or make_matchers(("__name__", "=", "up"))
    res = store.read([Query(0, T0 + 10 * DAY, matchers)])[0]
    return sorted(
        (ts.labels_map()["job"], s.timestamp_ms, s.value)
        for ts in res
        for s in ts.samples
    )


def test_delete_series_masks_reads_immediately(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    n = store.delete_series(
        make_matchers(("job", "=", "a")), start_ms=T0 + DAY, end_ms=T0 + DAY
    )
    assert n == 1
    got = _read_all(store)
    # job=a day 1 is gone; its other days and all of job=b survive
    assert ("a", T0 + DAY, 1.0) not in got
    assert ("a", T0, 0.0) in got and ("a", T0 + 2 * DAY, 2.0) in got
    assert len([g for g in got if g[0] == "b"]) == 3
    # the registry is untouched: series identity outlives its samples
    assert store.registry_df().count() == 2


def test_delete_series_unbounded_range(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    assert store.delete_series(make_matchers(("job", "=", "b"))) == 1
    got = _read_all(store)
    assert all(job == "a" for job, _, _ in got) and len(got) == 3


def test_delete_series_regex_matcher(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    n = store.delete_series(
        (Matcher("job", MatchType.RE, "a|b"),), start_ms=T0, end_ms=T0
    )
    assert n == 2
    got = _read_all(store)
    assert all(ts != T0 for _, ts, _ in got) and len(got) == 4


def test_clean_tombstones_rewrites_only_affected_partitions(spark, tmp_path):
    store = _mk_store(spark, tmp_path)

    def part_files(day):
        part = os.path.join(store.samples_path, f"date={(T0 + day * DAY) // 1000}")
        # partition dir name is date=YYYY-MM-DD
        import datetime as dt

        d = dt.datetime.fromtimestamp(
            (T0 + day * DAY) / 1000, tz=dt.timezone.utc
        ).date()
        part = os.path.join(store.samples_path, f"date={d.isoformat()}")
        return sorted(fs.list_names(spark, part))

    before_day0 = part_files(0)
    before_day1 = part_files(1)
    store.delete_series(
        make_matchers(("job", "=", "a")), start_ms=T0 + DAY, end_ms=T0 + DAY
    )
    masked = _read_all(store)
    rewritten = store.clean_tombstones()
    assert rewritten == {"samples": 1}
    # tombstones cleared, physical data now equals the masked view
    assert not fs.exists(spark, store.tombstones_path)
    assert _read_all(store) == masked
    # the untouched day-0 partition kept its exact files; day 1 was rewritten
    assert part_files(0) == before_day0
    assert part_files(1) != before_day1


def test_clean_tombstones_drops_fully_deleted_partition(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    store.delete_series(
        make_matchers(("__name__", "=", "up")),
        start_ms=T0 + DAY,
        end_ms=T0 + DAY,
    )
    store.clean_tombstones()
    import datetime as dt

    d = dt.datetime.fromtimestamp((T0 + DAY) / 1000, tz=dt.timezone.utc).date()
    assert not fs.exists(
        spark, os.path.join(store.samples_path, f"date={d.isoformat()}")
    )
    got = _read_all(store)
    assert all(ts != T0 + DAY for _, ts, _ in got) and len(got) == 4


def test_delete_masks_histogram_and_exemplar_tiers(spark, tmp_path):
    store = SparkParquetStorage(spark, str(tmp_path / "store"))
    store.write(
        [
            TimeSeries(
                labels=[Label("__name__", "lat"), Label("job", "x")],
                samples=[Sample(1.0, T0)],
                histograms=[
                    NativeHistogram(
                        timestamp_ms=T0, count=1, sum=2.0, positive=[(0, 1.0)]
                    )
                ],
                exemplars=[
                    Exemplar(labels=[Label("trace_id", "t")], value=1.0, timestamp_ms=T0)
                ],
            )
        ]
    )
    q = Query(0, T0 + DAY, make_matchers(("__name__", "=", "lat")))
    assert store.read_histograms(q).count() == 1
    assert store.read_exemplars(q).count() == 1
    store.delete_series(make_matchers(("__name__", "=", "lat")))
    assert store.read_histograms(q).count() == 0
    assert store.read_exemplars(q).count() == 0
    cleaned = store.clean_tombstones()
    assert set(cleaned) == {"samples", "histograms", "exemplars"}
    assert store.read_histograms(q).count() == 0
    assert store.read_exemplars(q).count() == 0


def test_no_tombstones_means_zero_plan_change(spark, tmp_path):
    """The tombstone mask must cost NOTHING when no deletes are pending:
    the samples frame's physical plan contains no anti-join until a
    tombstone exists, and goes back to join-free after a clean."""
    store = _mk_store(spark, tmp_path)

    def plan():
        return store.samples_df()._jdf.queryExecution().executedPlan().toString()

    assert "Join" not in plan()
    store.delete_series(make_matchers(("job", "=", "a")), T0, T0)
    assert "LeftAnti" in plan()
    store.clean_tombstones()
    assert "Join" not in plan()


def test_snapshot_opens_as_storage_root(spark, tmp_path):
    store = _mk_store(spark, tmp_path)
    name = store.snapshot()
    snap_root = os.path.join(store.root, "snapshots", name)
    assert fs.exists(spark, snap_root)
    snap_store = SparkParquetStorage(spark, snap_root)
    assert _read_all(snap_store) == _read_all(store)
    # a snapshot is a point-in-time copy: later deletes don't touch it
    store.delete_series(make_matchers(("job", "=", "a")))
    assert len(_read_all(snap_store)) == 6
    # names must be unique
    with pytest.raises(ValueError):
        store.snapshot(name)


# --------------------------------------------------------------------- HTTP


@pytest.fixture()
def admin_client(spark, tmp_path):
    flask = pytest.importorskip("flask")  # noqa: F841
    from promhouse_spark.edge.http import create_app

    store = _mk_store(spark, tmp_path)
    app = create_app(store, enable_admin=True)
    app.testing = True
    return app.test_client(), store


def test_http_delete_and_clean(admin_client):
    client, store = admin_client
    r = client.post(
        "/api/v1/admin/tsdb/delete_series",
        data={
            "match[]": 'up{job="a"}',
            "start": str((T0 + DAY) / 1000),
            "end": str((T0 + DAY) / 1000),
        },
    )
    assert r.status_code == 204
    assert ("a", T0 + DAY, 1.0) not in _read_all(store)
    assert client.put("/api/v1/admin/tsdb/clean_tombstones").status_code == 204
    assert not fs.exists(store.spark, store.tombstones_path)


def test_http_delete_requires_match(admin_client):
    client, _ = admin_client
    r = client.post("/api/v1/admin/tsdb/delete_series", data={})
    assert r.status_code == 400
    assert r.get_json()["errorType"] == "bad_data"


def test_http_snapshot(admin_client):
    client, store = admin_client
    r = client.post("/api/v1/admin/tsdb/snapshot")
    assert r.status_code == 200
    name = r.get_json()["data"]["name"]
    assert fs.exists(store.spark, os.path.join(store.root, "snapshots", name))


def test_http_admin_disabled_403(spark, tmp_path):
    flask = pytest.importorskip("flask")  # noqa: F841
    from promhouse_spark.edge.http import create_app

    store = _mk_store(spark, tmp_path)
    # default is OFF, matching upstream's --web.enable-admin-api posture
    app = create_app(store)
    app.testing = True
    client = app.test_client()
    for ep in ("delete_series", "clean_tombstones", "snapshot"):
        assert client.post(f"/api/v1/admin/tsdb/{ep}").status_code == 403
    flags = client.get("/api/v1/status/flags").get_json()["data"]
    assert flags["web.enable-admin-api"] == "false"


def test_http_admin_unsupported_storage_501(spark):
    flask = pytest.importorskip("flask")  # noqa: F841
    from promhouse_spark.edge.http import create_app
    from promhouse_spark.storage.memory import MemoryStorage

    app = create_app(MemoryStorage(), enable_admin=True)
    app.testing = True
    client = app.test_client()
    assert client.post("/api/v1/admin/tsdb/snapshot").status_code == 501
