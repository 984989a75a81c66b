"""Compaction (MergeTree background-merge equivalent) and consolidated
ingest: many micro-batch files → few clustered files, same query results."""

import glob

from promhouse_spark.models import Query, make_matchers
from promhouse_spark.storage.parquet import SparkParquetStorage
from tests.fixtures import T0, get_data, normalize

import pytest

# slow tier (r12): compaction-under-ingest integration (~2 min). The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow



def test_compact_preserves_results_and_reduces_files(spark, tmp_path):
    st = SparkParquetStorage(spark, str(tmp_path / "store"))
    data = get_data()
    for ts in data:  # one write and flush per series → many small files
        st.write([ts])
        st.flush()
    q = Query(T0 - 60_000, T0 + 60_000, make_matchers(("__name__", "=", "http_requests_total")))
    before = normalize(st.read([q])[0])
    files_before = len(glob.glob(f"{st.samples_path}/**/*.parquet", recursive=True))

    st.compact_samples(files_per_day=1)

    files_after = len(glob.glob(f"{st.samples_path}/**/*.parquet", recursive=True))
    assert files_after < files_before
    assert normalize(st.read([q])[0]) == before


def test_ingest_files_per_day(spark, tmp_path):
    st = SparkParquetStorage(spark, str(tmp_path / "store2"))
    rows = [(1, T0 + i * 1000, float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "fingerprint long, timestamp_ms long, value double")
    st.ingest_df(df, files_per_day=1)
    files = glob.glob(f"{st.samples_path}/**/*.parquet", recursive=True)
    assert len(files) == 1  # single day, consolidated


def test_hadoop_fs_ops_route_by_scheme(spark, tmp_path):
    """storage.fs goes through org.apache.hadoop.fs.FileSystem: the path
    scheme picks the implementation, so the same exists/rename/delete used
    by compaction work on file://, hdfs://, s3a:// alike."""
    from promhouse_spark.storage import fs

    src = f"file://{tmp_path}/a"
    dst = f"file://{tmp_path}/b"
    assert not fs.exists(spark, src)
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x").write_text("1")
    assert fs.exists(spark, src)
    fs.rename(spark, src, dst)
    assert not fs.exists(spark, src) and fs.exists(spark, dst)
    assert fs.delete(spark, dst)
    assert not fs.exists(spark, dst)
    assert fs.delete(spark, dst) is False  # idempotent on missing paths


def test_retention_sweep_drops_old_partitions(spark, tmp_path):
    """retention_sweep removes whole date partitions past the cutoff via FS
    metadata ops only; newer samples and the registry survive, and reads
    reflect the drop immediately."""
    from promhouse_spark.models import Label, Query, Sample, TimeSeries, make_matchers
    from promhouse_spark.storage import fs
    from promhouse_spark.storage.parquet import SparkParquetStorage
    from tests.fixtures import T0

    DAY = 86_400_000
    store = SparkParquetStorage(spark, str(tmp_path / "store"))
    store.write([
        TimeSeries(
            labels=[Label("__name__", "up"), Label("job", "a")],
            samples=[
                Sample(1.0, T0),                # day 0 — swept
                Sample(2.0, T0 + 10 * DAY),     # day 10 — swept
                Sample(3.0, T0 + 40 * DAY),     # day 40 — kept
            ],
        )
    ])
    store.flush()  # the partitions are listed below
    before = set(fs.list_names(spark, store.samples_path))
    assert sum(1 for n in before if n.startswith("date=")) == 3

    dropped = store.retention_sweep(keep_days=7, now_ms=T0 + 41 * DAY)
    assert sorted(dropped) == sorted(
        n for n in before if n in ("date=2026-01-01", "date=2026-01-11")
    ) and len(dropped) == 2

    after = [n for n in fs.list_names(spark, store.samples_path) if n.startswith("date=")]
    assert after == ["date=2026-02-10"]
    # registry untouched; reads only see the surviving sample
    assert store.registry_df().count() == 1
    [series] = store.read(
        [Query(0, T0 + 100 * DAY, make_matchers(("__name__", "=", "up")))]
    )
    assert [s.value for ts in series for s in ts.samples] == [3.0]
    # idempotent: nothing else in range
    assert store.retention_sweep(keep_days=7, now_ms=T0 + 41 * DAY) == []


def test_retention_tiering_rollup_outlives_raw(spark, tmp_path):
    """The classic TSDB tier: keep N days raw + much longer downsampled.
    Build the 1h rollup, sweep the old raw partitions, and the old range is
    STILL answerable through the hint-aware read from the rollup while the
    raw path correctly sees only recent data."""
    from promhouse_spark.models import Label, Query, Sample, TimeSeries, make_matchers
    from promhouse_spark.schemas import SAMPLES_SCHEMA
    from promhouse_spark.storage.parquet import SparkParquetStorage
    from promhouse_spark.streaming.rollup import downsample_partial
    from tests.fixtures import T0

    DAY = 86_400_000
    STEP = 3_600_000
    store = SparkParquetStorage(spark, str(tmp_path / "store"))
    store.write([
        TimeSeries(
            labels=[Label("__name__", "cpu")],
            samples=[Sample(float(d), T0 + d * DAY) for d in (0, 1, 40)],
        )
    ])
    rollup = str(tmp_path / "rollup")
    downsample_partial(
        store.samples_df().select(*SAMPLES_SCHEMA.names), STEP
    ).write.mode("append").parquet(rollup)
    store.attach_rollup(rollup, STEP)

    assert len(store.retention_sweep(keep_days=7, now_ms=T0 + 41 * DAY)) == 2

    full_range = Query(0, T0 + 100 * DAY, make_matchers(("__name__", "=", "cpu")))
    # raw path: the swept days are gone
    [raw] = store.read([full_range])
    assert [s.value for ts in raw for s in ts.samples] == [40.0]
    # coarse hinted read: served from the rollup, which outlived the sweep
    [tiered] = store.read_with_hints([full_range], [{"step_ms": STEP}])
    assert sorted(s.value for ts in tiered for s in ts.samples) == [0.0, 1.0, 40.0]


def test_retention_sweeps_histogram_and_exemplar_tiers(spark, tmp_path):
    """The date-partitioned sidecar tiers (native histograms, exemplars)
    sweep with the same cutoff as samples."""
    from promhouse_spark.models import (
        Exemplar,
        Label,
        MatchType,
        Matcher,
        NativeHistogram,
        Query,
        TimeSeries,
    )
    from promhouse_spark.storage import fs
    from promhouse_spark.storage.parquet import SparkParquetStorage
    from tests.fixtures import T0

    DAY = 86_400_000
    store = SparkParquetStorage(spark, str(tmp_path / "store"))

    def h(ts_ms):
        return NativeHistogram(
            timestamp_ms=ts_ms, count=1.0, sum=1.0, schema=0,
            zero_threshold=0.0, zero_count=0.0, positive=[(1, 1.0)],
        )

    store.write([
        TimeSeries(
            labels=[Label("__name__", "lat")],
            histograms=[h(T0), h(T0 + 40 * DAY)],
            exemplars=[
                Exemplar([Label("trace_id", "old")], 1.0, T0),
                Exemplar([Label("trace_id", "new")], 2.0, T0 + 40 * DAY),
            ],
        )
    ])
    dropped = store.retention_sweep(keep_days=7, now_ms=T0 + 41 * DAY)
    # one old partition per tier: samples has none, hist + exemplars one each
    assert dropped.count("date=2026-01-01") == 2
    q = Query(0, T0 + 100 * DAY, (Matcher("__name__", MatchType.EQ, "lat"),))
    hists = store.read_histograms(q).collect()
    assert [r["timestamp_ms"] for r in hists] == [T0 + 40 * DAY]
    ex = store.read_exemplars(q).collect()
    assert [dict(r["exemplar_labels"])["trace_id"] for r in ex] == ["new"]
