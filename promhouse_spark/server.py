r"""Server entry point mirroring the reference CLI
(``cmd/promhouse/main.go:157-162``):

    python -m promhouse_spark.server --listen-prom-addr 127.0.0.1:7781 \\
        --storage-type parquet --storage-path /data/promhouse

Flag-for-flag twin of the kingpin surface:

| reference flag          | here                     | notes |
|-------------------------|--------------------------|-------|
| --listen-prom-addr      | same (default :7781)     | remote read/write API |
| --listen-debug-addr     | same (default :7782)     | /healthz + /metrics |
| --db.drop-schema        | same                     | wipes the storage before serving |
| --db.max-open-conns     | same (default 75)        | JDBC fetch parallelism cap; no-op for parquet/memory (documented) |
| --storage-type          | same (default parquet)   | parquet \| memory \| blackhole \| jdbc — the reference defaults to clickhouse; the JDBC twin takes --db.url |
| --log.level             | same (default warn)      | Spark log level + Python logging |

Argument parsing and storage construction live in pure functions so tests
exercise the full plumbing without binding sockets.
"""

from __future__ import annotations

import argparse
import logging
import signal
from typing import Sequence


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="promhouse-spark", description="PromHouse-compatible Spark server"
    )
    p.add_argument(
        "--listen-prom-addr",
        default="127.0.0.1:7781",
        help="Prometheus remote API server listen address",
    )
    p.add_argument(
        "--listen-debug-addr",
        default="127.0.0.1:7782",
        help="Debug server listen address (/healthz, /metrics)",
    )
    p.add_argument(
        "--db.drop-schema",
        dest="drop_schema",
        action="store_true",
        help="Drop existing database schema / storage contents",
    )
    p.add_argument(
        "--db.max-open-conns",
        dest="max_open_conns",
        type=int,
        default=75,
        help="Maximum connections to a JDBC database (fetch parallelism cap)",
    )
    p.add_argument(
        "--db.url", dest="db_url", default=None, help="JDBC URL (storage-type=jdbc)"
    )
    p.add_argument(
        "--storage-type",
        default="parquet",
        choices=("parquet", "memory", "blackhole", "jdbc"),
        help="Storage backend",
    )
    p.add_argument(
        "--storage-path",
        default="/tmp/promhouse-spark",
        help="Root path for the parquet backend",
    )
    p.add_argument("--log.level", dest="log_level", default="warn", help="Log level")
    p.add_argument(
        "--rules-file",
        dest="rules_file",
        default=None,
        help="Prometheus rules file (YAML or JSON) served at /api/v1/rules "
        "and evaluated at /api/v1/alerts",
    )
    p.add_argument(
        "--web.enable-admin-api",
        dest="enable_admin",
        action="store_true",
        help="Enable the destructive TSDB admin endpoints "
        "(delete_series/clean_tombstones/snapshot); off by default, "
        "matching Prometheus",
    )
    p.add_argument(
        "--check-rules",
        dest="check_rules",
        action="store_true",
        help="Validate --rules-file (every expression must compile) and "
        "exit — the promtool-check workflow",
    )
    return p


def load_rule_groups(path: str) -> list[dict]:
    """Load a Prometheus-shaped rules file (YAML or JSON) into the group
    dicts edge/http.create_app serves, VALIDATING every expression through
    the PromQL parser (a rule that cannot compile should fail at load, not
    at first evaluation). Intervals parse as durations to interval_ms."""
    import json

    from promhouse_spark.promql.check import validate_src
    from promhouse_spark.promql.parser import parse_duration_ms

    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        import yaml

        try:
            doc = yaml.safe_load(text)
        except yaml.YAMLError as e:
            raise ValueError(f"{path}: invalid YAML: {e}") from e
    if doc is not None and not isinstance(doc, dict):
        raise ValueError(
            f"{path}: expected a mapping at the top level, "
            f"got {type(doc).__name__}"
        )
    groups = []
    for g in (doc or {}).get("groups", []):
        out = {"name": g.get("name", ""), "rules": []}
        if g.get("interval"):
            out["interval_ms"] = parse_duration_ms(str(g["interval"]))
        for rule in g.get("rules", []):
            kind = "record" if "record" in rule else "alert"
            if kind == "alert" and "alert" not in rule:
                raise ValueError(f"rule without record/alert in group {out['name']!r}")
            try:
                # parse + static compile-checks (unknown function, arity,
                # missing range, non-literal parameters) so a bad rule
                # fails at load, not at the first /api/v1/rules request
                validate_src(rule["expr"])
            except (KeyError, ValueError) as e:
                raise ValueError(
                    f"rule {rule.get(kind, '?')!r} in group {out['name']!r}: "
                    f"bad expr: {e}"
                ) from e
            if rule.get("for"):
                parse_duration_ms(str(rule["for"]))  # validate
            out["rules"].append(dict(rule))
        groups.append(out)
    return groups


def parse_addr(addr: str) -> tuple[str, int]:
    host, _, port = addr.rpartition(":")
    return host or "127.0.0.1", int(port)


def build_storage(args: argparse.Namespace, spark=None):
    """Construct the storage the flags describe (a SparkSession is created
    only for the backends that need one)."""
    if args.storage_type == "blackhole":
        from promhouse_spark.storage.blackhole import BlackholeStorage

        return BlackholeStorage()
    if args.storage_type == "memory":
        from promhouse_spark.storage.memory import MemoryStorage

        return MemoryStorage()
    if spark is None:
        from promhouse_spark.session import get_spark

        spark = get_spark(app_name="promhouse-server")
    if args.storage_type == "jdbc":
        if not args.db_url:
            raise SystemExit("--db.url is required for --storage-type jdbc")
        from promhouse_spark.storage.jdbc import JdbcStorage

        if args.drop_schema:
            # Spark's JDBC writer (re)creates tables itself; there is no
            # standing schema to drop ahead of time — parity-documented no-op
            logging.getLogger(__name__).warning(
                "--db.drop-schema is a no-op for the JDBC backend: Spark "
                "creates the tables on first write"
            )
        # numPartitions is Spark JDBC's connection-parallelism cap — the
        # --db.max-open-conns twin
        return JdbcStorage(
            spark,
            args.db_url,
            properties={"numPartitions": str(args.max_open_conns)},
        )
    from promhouse_spark.storage import fs
    from promhouse_spark.storage.parquet import SparkParquetStorage

    if args.drop_schema:
        fs.delete(spark, args.storage_path)
    return SparkParquetStorage(spark, args.storage_path)


def main(argv: Sequence[str] | None = None) -> None:
    args = build_parser().parse_args(argv)
    logging.basicConfig(level=args.log_level.upper())
    if args.check_rules and not args.rules_file:
        raise SystemExit("--check-rules requires --rules-file")
    rule_groups = load_rule_groups(args.rules_file) if args.rules_file else None
    if args.check_rules:
        n = sum(len(g["rules"]) for g in (rule_groups or []))
        print(f"OK: {len(rule_groups or [])} group(s), {n} rule(s) compile")
        return
    storage = build_storage(args)
    spark = getattr(storage, "spark", None)
    if spark is not None:
        spark.sparkContext.setLogLevel(args.log_level.upper())

    import threading

    from flask import Flask

    from promhouse_spark.edge import http

    # looked up on the module at call time, so a wrapper installed on
    # http.create_app before main() runs wraps the one app served here
    app = http.create_app(
        storage, rule_groups=rule_groups, enable_admin=args.enable_admin
    )
    debug = Flask("promhouse-debug")
    debug.add_url_rule("/healthz", "healthz", lambda: ("ok\n", 200))
    # the debug server re-exports the served API app's metrics endpoint,
    # like the reference's separate debug listener
    debug.add_url_rule(
        "/metrics",
        "metrics",
        lambda: app.test_client().get("/metrics").get_data(),
    )
    dh, dp = parse_addr(args.listen_debug_addr)
    threading.Thread(
        target=lambda: debug.run(host=dh, port=dp, threaded=True), daemon=True
    ).start()
    ph, pp = parse_addr(args.listen_prom_addr)
    if threading.current_thread() is threading.main_thread():
        # clean shutdown writes the head out; a handler installed before
        # main() (a wrapper's) still runs, after the flush
        previous = signal.getsignal(signal.SIGTERM)

        def on_sigterm(signum, frame):
            storage.flush()
            if callable(previous):
                previous(signum, frame)
            raise SystemExit(0)

        signal.signal(signal.SIGTERM, on_sigterm)
    try:
        app.run(host=ph, port=pp, threaded=True)
    except KeyboardInterrupt:
        pass
    storage.flush()


if __name__ == "__main__":
    main()
