"""Run the PromHouse server with spans around its layers and Spark's event
log on.

    python perfbench/traced_server.py --trace-out DIR <server flags>

Imports the program, wraps the public functions each layer exposes (at
the names their callers look up), wraps every Flask view of the app
``create_app`` returns, and then calls ``promhouse_spark.server.main``.
Each view tags the Spark jobs it starts with the op id the client sends in
``X-Perfbench-Op`` (a thread-local Spark property, ``perfbench.op``). On
SIGTERM it writes ``DIR/spans.json``, stops Spark so the event log in
``DIR/eventlog`` is closed, and exits.
"""

from __future__ import annotations

import functools
import os
import signal
import sys

from eventlog import OP_PROPERTY, event_log_conf
from tracing import OP_HEADER, Tracer


def install(tracer: Tracer, trace_dir: str) -> dict:
    """Patch the program in place; returns the state the shutdown needs."""
    from pyspark.sql.classic.dataframe import DataFrame

    from promhouse_spark import session
    from promhouse_spark.edge import chunkenc, http, prompb, snappy_codec
    from promhouse_spark.promql import parser
    from promhouse_spark.promql.engine import PromQLEngine
    from promhouse_spark.storage import parquet

    state: dict = {}
    orig_get_spark = session.get_spark

    @functools.wraps(orig_get_spark)
    def get_spark(*args, extra_conf=None, **kwargs):
        conf = {**(extra_conf or {}), **event_log_conf(trace_dir)}
        spark = orig_get_spark(*args, extra_conf=conf, **kwargs)
        state["spark"] = spark
        return spark

    session.get_spark = get_spark

    span, agg = tracer.wrap_span, tracer.wrap_agg
    # edge: module attributes, looked up by edge/http.py at call time
    snappy_codec.decompress = span(snappy_codec.decompress, "edge.decompress")
    prompb.decode_write_request = span(prompb.decode_write_request, "edge.decode_write")
    prompb.decode_read_request_full = span(
        prompb.decode_read_request_full, "edge.decode_read"
    )
    prompb.encode_chunked_read_response = agg(
        prompb.encode_chunked_read_response, "edge.encode_chunked"
    )
    chunkenc.frame_message = agg(chunkenc.frame_message, "edge.frame")
    # functions: the names storage/parquet.py imported
    parquet.fingerprint = agg(parquet.fingerprint, "functions.fingerprint")
    parquet.sort_labels = agg(parquet.sort_labels, "functions.sort_labels")
    # storage
    cls = parquet.SparkParquetStorage
    orig_write = cls.write

    @functools.wraps(orig_write)
    def write(self, timeseries):
        # the series this write adds to the in-memory registry
        before = len(self._registry)
        idx = tracer.begin("storage.write")
        try:
            return orig_write(self, timeseries)
        finally:
            tracer.end(idx, new_series=len(self._registry) - before)

    cls.write = write
    cls._append_registry = span(cls._append_registry, "storage.registry_append")
    cls.ingest_df = span(cls.ingest_df, "storage.samples_append")
    cls.iter_series = tracer.wrap_gen(cls.iter_series, "storage.iter_series")
    # promql: the view imports parse from the module at call time
    parser.parse = span(parser.parse, "promql.parse")
    PromQLEngine.from_storage = classmethod(
        span(PromQLEngine.from_storage.__func__, "promql.from_storage")
    )
    PromQLEngine.eval = span(PromQLEngine.eval, "promql.eval")
    DataFrame.collect = span(DataFrame.collect, "spark.collect")

    orig_create_app = http.create_app

    def view(fn, endpoint):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            from flask import request

            op = request.headers.get(OP_HEADER)
            tracer.op = op
            spark = state.get("spark")
            if spark is not None:
                spark.sparkContext.setLocalProperty(OP_PROPERTY, op)
            idx = tracer.begin("view." + endpoint)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.end(idx)

        return wrapper

    @functools.wraps(orig_create_app)
    def create_app(*args, **kwargs):
        app = orig_create_app(*args, **kwargs)
        for endpoint, fn in list(app.view_functions.items()):
            app.view_functions[endpoint] = view(fn, endpoint)
        return app

    http.create_app = create_app
    return state


def main(argv: list[str]) -> None:
    if len(argv) < 2 or argv[0] != "--trace-out":
        raise SystemExit("usage: traced_server.py --trace-out DIR <server flags>")
    trace_dir, server_args = argv[1], argv[2:]
    os.makedirs(trace_dir, exist_ok=True)
    tracer = Tracer()
    state = install(tracer, trace_dir)

    def shutdown(signum, frame):
        tracer.dump(os.path.join(trace_dir, "spans.json"))
        spark = state.get("spark")
        if spark is not None:
            spark.stop()
        sys.stdout.flush()
        os._exit(0)

    signal.signal(signal.SIGTERM, shutdown)
    from promhouse_spark import server

    server.main(server_args)


if __name__ == "__main__":
    main(sys.argv[1:])
