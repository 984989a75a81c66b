"""Streaming soak: fake_exporter fan-out → Remote-Write 2.0 over a live
HTTP server → flat storage with a continuous rollup stream and periodic
compaction, alerts evaluated at the end — the closest production
validation local mode allows. Asserts the three things that rot under
sustained ingest: driver RSS stays bounded, the file count stays flat
across compaction cycles (no unbounded micro-batch litter), and the data
that went in comes back out (reads + rollup + a firing alert).

Compaction runs AFTER the rollup stream stops: the first soak draft
compacted mid-tail and found the real contract the rollup docstring now
records — a file stream cannot survive its input being rewritten
underneath it (FILE_NOT_EXIST on registered-but-unread files, and the
consolidated rewrites would double-count as new data). Chunked-tier
compaction cadence UNDER live ingest is covered by test_compaction.py,
which has no file-tailing reader on the compacted tier.

Marked slow (~2 min wall); the RSS curve prints for the record."""

from __future__ import annotations

import glob
import json
import os
import socket
import subprocess
import threading
import time

import pytest

from promhouse_spark.models import Label, Query, Sample, TimeSeries, make_matchers
from promhouse_spark.storage.parquet import SparkParquetStorage

T0 = 1_767_225_600_000
N_ITERS = 21
N_INSTANCES = 40


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _vm_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _driver_rss_mb() -> float:
    """Python test process + its Spark driver JVM child — in local mode
    that pair IS the driver."""
    total = _vm_rss_mb(os.getpid())
    try:
        kids = subprocess.run(
            ["pgrep", "-P", str(os.getpid())], capture_output=True, text=True
        ).stdout.split()
        for k in kids:
            total += _vm_rss_mb(int(k))
    except Exception:  # noqa: BLE001
        pass
    return total


@pytest.mark.slow
def test_streaming_soak_bounded_rss_and_stable_files(spark, tmp_path):
    flask = pytest.importorskip("flask")  # noqa: F841
    from werkzeug.serving import make_server

    from promhouse_spark.edge.faker import fan_out
    from promhouse_spark.edge.http import create_app
    from promhouse_spark.edge.promload import RemoteWriter
    from promhouse_spark.streaming.rollup import read_rollup, start_rollup_stream

    root = str(tmp_path / "store")
    storage = SparkParquetStorage(spark, root)
    rules = [
        {
            "name": "soak",
            "interval_ms": 15_000,
            "rules": [
                {
                    "alert": "ManyFakes",
                    "expr": "sum by (job) (soak_metric) > 100",
                }
            ],
        }
    ]
    app = create_app(storage, rule_groups=rules)
    port = _free_port()
    srv = make_server("127.0.0.1", port, app, threaded=True)
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    rollup_q = None
    try:
        writer = RemoteWriter(f"http://127.0.0.1:{port}/write", v2=True)
        rss_curve: list[float] = []
        file_counts: list[int] = []
        for it in range(N_ITERS):
            if it == 1 and rollup_q is None:
                # the file stream needs the samples dir to exist: start
                # tailing after the first scrape landed
                rollup_q = start_rollup_stream(
                    spark,
                    storage.samples_path,
                    str(tmp_path / "rollup"),
                    str(tmp_path / "ckpt"),
                    step_ms=60_000,
                    trigger_seconds=2,
                )
            t = T0 + it * 15_000
            scrape = [
                TimeSeries(
                    labels=[Label("__name__", "soak_metric"), Label("job", "fake")],
                    samples=[Sample(value=7.0 + it, timestamp_ms=t)],
                ),
                TimeSeries(
                    labels=[Label("__name__", "soak_gauge"), Label("job", "fake")],
                    samples=[Sample(value=0.5 * it, timestamp_ms=t)],
                ),
            ]
            writer.write(list(fan_out(scrape, instances=N_INSTANCES, seed=it)))
            # each iteration stands for a 15 s scrape, and between two of
            # them a live head flushes by age (HEAD_MAX_AGE_S = 5 s). The
            # loop runs all scrapes in a few seconds, so it flushes at each
            # one: the rollup stream tails the flushed files, and the
            # compaction check below needs one file set per scrape
            storage.flush()
            rss_curve.append(round(_driver_rss_mb(), 1))
        print("soak RSS curve (MB):", json.dumps(rss_curve))

        # --- bounded driver RSS: after the first third (JVM warm-up,
        # caches filling) the curve must flatten — sustained growth of
        # GBs here is the materialize-everything bug class
        third = len(rss_curve) // 3
        growth = rss_curve[-1] - rss_curve[third]
        assert growth < 1500, (growth, rss_curve)

        # --- everything that went in comes back out
        q = Query(
            T0,
            T0 + N_ITERS * 15_000,
            make_matchers(("__name__", "=", "soak_metric")),
        )
        res = storage.read([q])[0]
        assert len(res) == N_INSTANCES
        assert all(len(ts.samples) == N_ITERS for ts in res)

        # --- the alert fires on the soaked data (evaluated on demand at
        # the newest stored sample)
        client = app.test_client()
        alerts = client.get("/api/v1/alerts").get_json()["data"]["alerts"]
        assert any(
            a["labels"]["alertname"] == "ManyFakes" and a["state"] == "firing"
            for a in alerts
        ), alerts

        # --- the rollup stream caught up: drain, then compare totals
        deadline = time.time() + 60
        target = N_INSTANCES * 2 * N_ITERS  # every sample in some window
        n = 0
        while time.time() < deadline:
            rollup_q.processAllAvailable()
            rows = read_rollup(spark, str(tmp_path / "rollup"))
            n = (rows.agg({"n": "sum"}).first()[0] or 0) if rows.count() else 0
            if n == target:
                break
            time.sleep(2)
        assert n == target, (n, target)

        # --- compaction: stop the tailing stream first (the append-only
        # contract start_rollup_stream documents), then the soak's litter
        # (N_ITERS micro-batch file sets) collapses to files_per_day and
        # reads are unchanged
        rollup_q.stop()
        rollup_q = None
        before = normalize_read(storage, q)
        n_files_before = len(
            glob.glob(f"{storage.samples_path}/**/*.parquet", recursive=True)
        )
        storage.compact_samples(files_per_day=2)
        n_files_after = len(
            glob.glob(f"{storage.samples_path}/**/*.parquet", recursive=True)
        )
        print("files before/after compact:", n_files_before, n_files_after)
        assert n_files_after <= 2
        assert n_files_after < n_files_before
        assert normalize_read(storage, q) == before
    finally:
        if rollup_q is not None:
            rollup_q.stop()
        srv.shutdown()


def normalize_read(storage, q) -> list:
    return sorted(
        (
            tuple((l.name, l.value) for l in ts.labels),
            tuple((s.timestamp_ms, s.value) for s in ts.samples),
        )
        for ts in storage.read([q])[0]
    )
