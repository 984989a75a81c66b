"""Golden fixtures ported from the reference's test data.

``get_data()`` mirrors ``storages/test/test.go:26-75``: 3 series of
``http_requests_total``, 5 samples each at 1 s spacing from ``T0``.
``funny_series()`` mirrors the escaping-torture set
(``storages/storages_test.go:391-425`` / FIXTURES.md §3).
"""

from __future__ import annotations

from promhouse_spark.models import Label, Sample, TimeSeries
from promhouse_spark.promql import PromQLEngine

T0 = 1767225600000  # 2026-01-01T00:00:00Z, stands in for the reference's now()-6s
SEC = 1000

GOLDEN_VALUES = {
    ("200", "query"): [13.0, 14.0, 14.0, 14.0, 15.0],
    ("400", "query_range"): [9.0, 9.0, 9.0, 11.0, 11.0],
    ("200", "prometheus"): [591.0, 592.0, 593.0, 594.0, 595.0],
}


def get_data() -> list[TimeSeries]:
    out = []
    for (code, handler), values in GOLDEN_VALUES.items():
        out.append(
            TimeSeries(
                labels=[
                    Label("__name__", "http_requests_total"),
                    Label("code", code),
                    Label("handler", handler),
                ],
                samples=[
                    Sample(value=v, timestamp_ms=T0 + i * SEC)
                    for i, v in enumerate(values)
                ],
            )
        )
    return out


FUNNY_VALUES = [
    "",
    "'`\"\\",
    "''``\"\"\\\\",
    "'''```\"\"\"\\\\\\",
    "\\ \\\\ \\\\\\\\ \\\\\\\\",
    "🆗",
]


def funny_series() -> list[TimeSeries]:
    return [
        TimeSeries(
            labels=[Label("__name__", f"funny_{i + 1}"), Label("label", v)],
            samples=[Sample(value=1.0, timestamp_ms=T0)],
        )
        for i, v in enumerate(FUNNY_VALUES)
    ]


def normalize(series_list):
    """Comparable form: sorted list of (labels-tuple, samples-tuple)."""
    return sorted(
        (
            tuple((l.name, l.value) for l in ts.labels),
            tuple((s.timestamp_ms, s.value) for s in ts.samples),
        )
        for ts in series_list
    )


def instant_at(spark, rows, expr, t):
    """``expr`` evaluated at the single time ``t`` over samples (id,
    timestamp_ms, value) of the series m{id=...}: {id: value}."""
    sdf = spark.createDataFrame(
        rows, "fingerprint long, timestamp_ms long, value double"
    )
    ser = spark.createDataFrame(
        [(fp, {"__name__": "m", "id": str(fp)}) for fp in sorted({r[0] for r in rows})],
        "fingerprint long, labels map<string,string>",
    )
    e = PromQLEngine(sdf, ser, start_ms=t, end_ms=t, step_ms=60_000)
    return {r.labels["id"]: r.value for r in e.eval(expr).collect()}
