"""Server CLI (promhouse_spark/server.py) — the flag-for-flag twin of
``cmd/promhouse/main.go:157-162``. Parsing and storage construction are
pure functions, so the plumbing is tested without binding sockets; one
end-to-end check serves the API on an ephemeral port and round-trips a
write/read plus the debug listener's /healthz and /metrics."""

from __future__ import annotations

import socket
import threading
import time

import pytest

from promhouse_spark.server import build_parser, build_storage, parse_addr

# slow tier (r12): server CLI integration. The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow



def test_flag_surface_defaults():
    args = build_parser().parse_args([])
    assert args.listen_prom_addr == "127.0.0.1:7781"   # main.go:157
    assert args.listen_debug_addr == "127.0.0.1:7782"  # main.go:158
    assert args.drop_schema is False                   # main.go:159
    assert args.max_open_conns == 75                   # main.go:160
    assert args.storage_type == "parquet"              # main.go:161 (clickhouse there)
    assert args.log_level == "warn"                    # main.go:162


def test_parse_addr():
    assert parse_addr("0.0.0.0:9999") == ("0.0.0.0", 9999)
    assert parse_addr(":7781") == ("127.0.0.1", 7781)


def test_build_storage_types(spark, tmp_path):
    from promhouse_spark.storage.blackhole import BlackholeStorage
    from promhouse_spark.storage.memory import MemoryStorage
    from promhouse_spark.storage.parquet import SparkParquetStorage

    p = build_parser()
    assert isinstance(
        build_storage(p.parse_args(["--storage-type", "memory"])), MemoryStorage
    )
    assert isinstance(
        build_storage(p.parse_args(["--storage-type", "blackhole"])),
        BlackholeStorage,
    )
    st = build_storage(
        p.parse_args(["--storage-path", str(tmp_path / "s")]), spark=spark
    )
    assert isinstance(st, SparkParquetStorage)


def test_drop_schema_wipes_parquet_store(spark, tmp_path):
    from promhouse_spark.models import Label, Sample, TimeSeries
    from promhouse_spark.storage.parquet import SparkParquetStorage

    root = str(tmp_path / "store")
    SparkParquetStorage(spark, root).write(
        [TimeSeries([Label("__name__", "up")], [Sample(1.0, 1767225600000)])]
    )
    args = build_parser().parse_args(
        ["--storage-path", root, "--db.drop-schema"]
    )
    st = build_storage(args, spark=spark)
    assert st.registry_df().count() == 0


def test_jdbc_requires_url():
    args = build_parser().parse_args(["--storage-type", "jdbc"])
    with pytest.raises(SystemExit):
        build_storage(args, spark="unused")


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def test_server_end_to_end_memory_backend():
    """python -m promhouse_spark.server with the memory backend: the prom
    listener answers remote write/read, the debug listener answers
    /healthz and re-exports /metrics."""
    import requests

    from promhouse_spark.edge.prompb import encode_write_request
    from promhouse_spark.edge.snappy_codec import compress
    from promhouse_spark.models import Label, Sample, TimeSeries
    from promhouse_spark.server import main

    pp, dp = _free_port(), _free_port()
    t = threading.Thread(
        target=main,
        args=(
            [
                "--storage-type", "memory",
                "--listen-prom-addr", f"127.0.0.1:{pp}",
                "--listen-debug-addr", f"127.0.0.1:{dp}",
                "--log.level", "warning",
            ],
        ),
        daemon=True,
    )
    t.start()
    base, dbg = f"http://127.0.0.1:{pp}", f"http://127.0.0.1:{dp}"
    for _ in range(100):
        try:
            assert requests.get(f"{dbg}/healthz", timeout=1).text == "ok\n"
            break
        except Exception:
            time.sleep(0.1)
    else:
        raise AssertionError("debug listener never came up")

    payload = compress(
        encode_write_request(
            [TimeSeries([Label("__name__", "up")], [Sample(1.0, 1767225600000)])]
        )
    )
    r = requests.post(f"{base}/write", data=payload, timeout=5)
    assert r.status_code == 200
    m = requests.get(f"{dbg}/metrics", timeout=5)
    assert m.status_code == 200 and b"promhouse_spark" in m.content


def test_server_serves_the_app_main_built():
    """--web.enable-admin-api reaches the served API, and the debug
    listener's /metrics counts the requests that API answered."""
    import requests

    from promhouse_spark.edge.prompb import encode_write_request
    from promhouse_spark.edge.snappy_codec import compress
    from promhouse_spark.models import Label, Sample, TimeSeries
    from promhouse_spark.server import main

    pp, dp = _free_port(), _free_port()
    threading.Thread(
        target=main,
        args=(
            [
                "--storage-type", "memory",
                "--listen-prom-addr", f"127.0.0.1:{pp}",
                "--listen-debug-addr", f"127.0.0.1:{dp}",
                "--web.enable-admin-api",
                "--log.level", "warning",
            ],
        ),
        daemon=True,
    ).start()
    base, dbg = f"http://127.0.0.1:{pp}", f"http://127.0.0.1:{dp}"
    deadline = time.monotonic() + 60
    while True:
        try:
            flags = requests.get(f"{base}/api/v1/status/flags", timeout=5).json()
            assert requests.get(f"{dbg}/healthz", timeout=5).text == "ok\n"
            break
        except requests.RequestException:
            if time.monotonic() > deadline:
                raise
            time.sleep(0.1)
    assert flags["data"]["web.enable-admin-api"] == "true"

    payload = compress(
        encode_write_request(
            [TimeSeries([Label("__name__", "up")], [Sample(1.0, 1767225600000)])]
        )
    )
    assert requests.post(f"{base}/write", data=payload, timeout=5).status_code == 200
    metrics = requests.get(f"{dbg}/metrics", timeout=5).text
    samples = [
        line for line in metrics.splitlines()
        if line.startswith("promhouse_spark_written_samples ")
    ]
    assert samples and float(samples[0].split()[1]) == 1.0, metrics


def test_load_rule_groups_yaml_and_check(tmp_path, capsys):
    """--rules-file loads Prometheus-shaped YAML with per-rule expression
    validation; --check-rules is the promtool-check workflow."""
    from promhouse_spark.server import load_rule_groups, main

    f = tmp_path / "rules.yml"
    f.write_text(
        """
groups:
  - name: g1
    interval: 1m
    rules:
      - record: job:m:sum
        expr: sum by (job) (m)
      - alert: HighM
        expr: sum by (job) (rate(m[5m])) > 0.5
        for: 2m
        labels: {severity: page}
"""
    )
    groups = load_rule_groups(str(f))
    assert groups[0]["name"] == "g1" and groups[0]["interval_ms"] == 60_000
    kinds = [("record" in r, "alert" in r) for r in groups[0]["rules"]]
    assert kinds == [(True, False), (False, True)]
    # --check-rules validates and exits without touching storage
    main(["--rules-file", str(f), "--check-rules"])
    assert "2 rule(s) compile" in capsys.readouterr().out
    # a broken expression fails at LOAD with the rule named
    bad = tmp_path / "bad.yml"
    bad.write_text("groups:\n- name: g\n  rules:\n  - record: r\n    expr: 'sum('\n")
    with pytest.raises(ValueError, match="'r'"):
        load_rule_groups(str(bad))
    # JSON rule files load through the same path
    j = tmp_path / "rules.json"
    j.write_text('{"groups": [{"name": "jg", "rules": [{"record": "x", "expr": "m"}]}]}')
    assert load_rule_groups(str(j))[0]["name"] == "jg"
