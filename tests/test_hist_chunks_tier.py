"""Histogram chunks at rest (ChunkedParquetStorage.hist_chunks): native
histograms stored as tsdb/chunkenc histogram chunks — at-rest ≡ wire for
every sample kind, completing the float chunks tier's design. Covers
read parity vs the flat tier, the zero-decode streamed serve (wire bytes
IDENTICAL to at-rest bytes), tombstone masking + clean + fallback,
retention, and compaction."""

from __future__ import annotations

import glob

import pytest

from promhouse_spark.models import (
    Label,
    NativeHistogram,
    Query,
    Sample,
    TimeSeries,
    make_matchers,
)
from promhouse_spark.storage.chunked import ChunkedParquetStorage
from promhouse_spark.storage.parquet import SparkParquetStorage

# slow tier (r12): histogram chunk tier integration (~2 min). The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow

T0 = 1_767_225_600_000
DAY = 86_400_000


def _hist_series(n_series=3, n_hists=10, day_offset=0, frac=False):
    out = []
    for k in range(n_series):
        out.append(
            TimeSeries(
                labels=[Label("__name__", "lat"), Label("inst", f"i{k}")],
                histograms=[
                    NativeHistogram(
                        timestamp_ms=T0 + day_offset * DAY + i * 60_000,
                        count=(2.5 + i if frac else float(3 + i + k)),
                        sum=1.5 * i + k,
                        schema=0,
                        zero_count=float(i % 3),
                        positive=[(0, 2.0), (1, float(1 + i))],
                        negative=[(-2, 1.0)] if i % 2 else [],
                        is_float=frac,
                    )
                    for i in range(n_hists)
                ],
            )
        )
    return out


def _norm_hist_rows(df):
    rows = []
    for r in df.collect():
        rows.append(
            (
                r["fingerprint"],
                r["timestamp_ms"],
                r["schema"],
                r["zero_threshold"],
                r["zero_count"],
                r["count"],
                r["sum"],
                tuple(sorted((b["idx"], b["cnt"]) for b in r["positive"] if b["cnt"])),
                tuple(sorted((b["idx"], b["cnt"]) for b in r["negative"] if b["cnt"])),
            )
        )
    return sorted(rows)


def test_read_parity_with_flat_tier(spark, tmp_path):
    """Same input → same decoded histogram rows (zero-padding stripped)
    from both tiers, and read() attaches identical NativeHistograms."""
    data = _hist_series() + _hist_series(n_series=1, frac=True)
    flat = SparkParquetStorage(spark, str(tmp_path / "flat"))
    chun = ChunkedParquetStorage(spark, str(tmp_path / "chun"))
    flat.write(data)
    chun.write(data)
    assert chun.has_histograms()
    assert _norm_hist_rows(chun.histograms_df()) == _norm_hist_rows(
        flat.histograms_df()
    )

    q = Query(T0, T0 + DAY, make_matchers(("__name__", "=", "lat")))
    def norm(res):
        # the frac batch shares series identity with the int batch (same
        # labels, same timestamps) — per-series histogram ORDER at equal
        # timestamps is tier-dependent, so compare as sorted sets
        return sorted(
            (
                tuple(sorted(ts.labels_map().items())),
                tuple(sorted(
                    (h.timestamp_ms, h.count, h.sum, h.zero_count,
                     tuple(sorted((i, c) for i, c in h.positive if c)))
                    for h in ts.histograms
                )),
            )
            for ts in res
        )
    assert norm(chun.read([q])[0]) == norm(flat.read([q])[0])


def test_range_df_prunes_before_decode(spark, tmp_path):
    """histograms_range_df only decodes envelope-intersecting chunks —
    asserted on results across a two-day store."""
    st = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    st.write(_hist_series(day_offset=0) + _hist_series(day_offset=1))
    day0 = st.histograms_range_df(T0, T0 + DAY - 1)
    assert day0.count() == 30
    assert day0.agg({"timestamp_ms": "max"}).first()[0] < T0 + DAY
    # chunk rows themselves are day-partitioned: two date dirs on disk
    dates = {p.split("date=")[1].split("/")[0]
             for p in glob.glob(f"{st.hist_chunks_path}/date=*")}
    assert len(dates) == 2


def test_streamed_serve_ships_at_rest_bytes(spark, tmp_path):
    """Zero-decode contract: the chunk bytes on the wire are byte-equal
    to the chunk bytes at rest (no re-encode between disk and frame)."""
    flask = pytest.importorskip("flask")  # noqa: F841
    from promhouse_spark.edge import chunkenc, prompb, snappy_codec
    from promhouse_spark.edge.http import create_app

    st = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    st.write(
        _hist_series(n_series=2)
        + [
            TimeSeries(
                labels=[Label("__name__", "f"), Label("inst", "i0")],
                samples=[Sample(float(i), T0 + i * 15_000) for i in range(50)],
            )
        ]
    )
    at_rest = {
        bytes(r["chunk"])
        for r in st.hist_chunks_df().select("chunk").collect()
    }
    app = create_app(st)
    app.testing = True
    rq = snappy_codec.compress(
        prompb.encode_read_request_full(
            [Query(T0, T0 + DAY, ())],
            [prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS],
        )
    )
    resp = app.test_client().post("/read", data=rq)
    assert resp.status_code == 200
    assert "x-streamed-protobuf" in resp.headers["Content-Type"]
    wire_hist = set()
    n_xor = 0
    for payload in chunkenc.iter_frames(resp.data):
        for _labels, chunks in prompb.decode_chunked_read_response(payload)[0]:
            for _mn, _mx, ct, d in chunks:
                if ct == chunkenc.CHUNK_TYPE_XOR:
                    n_xor += 1
                else:
                    wire_hist.add(d)
    assert wire_hist == at_rest and len(at_rest) >= 2
    assert n_xor >= 1  # the float series rode along


def test_tombstones_mask_then_clean_then_fast_path_resumes(spark, tmp_path):
    st = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    st.write(_hist_series(n_series=1, n_hists=10))
    q = Query(T0, T0 + DAY, make_matchers(("__name__", "=", "lat")))
    assert len(st.read([q])[0][0].histograms) == 10

    # delete a sub-range: masked immediately, zero-decode serve steps aside
    st.delete_series(q.matchers, T0 + 2 * 60_000, T0 + 4 * 60_000)
    assert st.histogram_series_chunks(q) is None  # unsound: pending masks
    got = st.read([q])[0][0].histograms
    assert [h.timestamp_ms for h in got] == [
        T0 + i * 60_000 for i in range(10) if not 2 <= i <= 4
    ]
    # the decoding fallback serves the masked view
    hs = st.histogram_series(q)
    assert len(hs) == 1 and len(hs[0][2]) == 7

    # clean rewrites the partition; fast path resumes with masked data
    rewritten = st.clean_tombstones()
    assert rewritten.get("hist_chunks") == 1
    fast = st.histogram_series_chunks(q)
    assert fast is not None and len(fast) == 1
    from promhouse_spark.edge import chunkenc

    dec = []
    for _mn, _mx, ct, d in fast[0][2]:
        dec += (
            chunkenc.decode_histogram_chunk(d)[0]
            if ct == chunkenc.CHUNK_TYPE_HISTOGRAM
            else chunkenc.decode_float_histogram_chunk(d)[0]
        )
    assert len(dec) == 7


def test_retention_sweeps_hist_chunk_partitions(spark, tmp_path):
    st = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    st.write(_hist_series(day_offset=0) + _hist_series(day_offset=30))
    q_all = Query(T0, T0 + 40 * DAY, make_matchers(("__name__", "=", "lat")))
    assert sum(len(ts.histograms) for ts in st.read([q_all])[0]) == 60
    st.retention_sweep(keep_days=10, now_ms=T0 + 20 * DAY)
    assert sum(len(ts.histograms) for ts in st.read([q_all])[0]) == 30


def test_compaction_merges_hist_mini_chunks(spark, tmp_path):
    st = ChunkedParquetStorage(spark, str(tmp_path / "s"))
    for i in range(6):  # one write and flush per micro-batch → 6 mini-chunks/series
        st.flush()
        st.write(
            [
                TimeSeries(
                    labels=[Label("__name__", "lat"), Label("inst", "i0")],
                    histograms=[
                        NativeHistogram(
                            timestamp_ms=T0 + (5 * i + j) * 60_000,
                            count=float(3 + 5 * i + j),
                            sum=float(i + j),
                            schema=0,
                            positive=[(0, float(1 + j))],
                        )
                        for j in range(5)
                    ],
                )
            ]
        )
    q = Query(T0, T0 + DAY, make_matchers(("__name__", "=", "lat")))
    before = [
        (h.timestamp_ms, h.count, h.sum) for h in st.read([q])[0][0].histograms
    ]
    n_rows_before = st.hist_chunks_df().count()
    assert n_rows_before == 6
    st.compact_samples(files_per_day=1)
    assert st.hist_chunks_df().count() == 1  # 30 hists fit one chunk
    after = [
        (h.timestamp_ms, h.count, h.sum) for h in st.read([q])[0][0].histograms
    ]
    assert after == before
