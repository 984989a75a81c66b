"""HTTP protocol layer (S1/S2/S3): the Prometheus remote read/write server.

Routes and semantics mirror ``handlers/prom.go`` + ``cmd/promhouse/main.go``:

- ``POST /write``: snappy → protobuf WriteRequest → storage.write
  (``prom.go:281-310``);
- ``POST /read``: snappy → ReadRequest → storage.read → ReadResponse →
  snappy, order-preserving one result per query (``prom.go:229-278``);
  ReadHints logged-and-ignored (``prom.go:184-186``);
- ``GET /health``: liveness (the reference exposes /debug + Prometheus
  metrics; here a JSON counter snapshot at /metrics-lite).

Runs in the driver process on a warm shared SparkSession. Flask is the only
web dependency (present in this container); the WSGI app is importable for
test clients and any production WSGI server.
"""

from __future__ import annotations

import logging
import math
import re
from decimal import Decimal

from promhouse_spark.edge import prompb, snappy_codec
from promhouse_spark.models import MatchType
from promhouse_spark.storage.base import Storage

log = logging.getLogger(__name__)


def _format_value(v: float) -> str:
    """Go strconv.FormatFloat(v, 'f', -1, 64)-style shortest decimal, with
    Prometheus's spellings for the IEEE specials ("+Inf"/"-Inf"/"NaN" —
    web/api/v1 marshals sample values as these strings). Never scientific
    notation: 0.00001 renders "0.00001", 1e17 "100000000000000000"."""
    if v != v:
        return "NaN"
    if v == float("inf"):
        return "+Inf"
    if v == float("-inf"):
        return "-Inf"
    if v == 0:
        return "-0" if math.copysign(1.0, v) < 0 else "0"
    if v == int(v) and abs(v) < 2**53:
        # integral doubles in the exact-int range print as plain integers
        return str(int(v))
    # shortest round-trip digits (repr) re-rendered without an exponent:
    # repr(0.00001) is "1e-05" but Go 'f' says "0.00001"; repr(1e300) is
    # "1e+300" and Go prints the 1-followed-by-300-zeros fixed form of the
    # SHORTEST digits, not the double's exact 17+-digit expansion
    out = format(Decimal(repr(v)), "f")
    return out[:-2] if out.endswith(".0") else out


def _holds_histograms(storage) -> bool:
    """True when the storage holds native-histogram data. Streamed
    responses serve those series as native-histogram chunks (tsdb/
    chunkenc HISTOGRAM=2 / FLOAT_HISTOGRAM=3, edge/chunkenc.py); the
    zero-decode chunked-tier path uses this to decide whether it must
    merge the histogram sidecar into its float-chunk stream at all.
    Unknown/unreadable state counts as "holds" — correctness over speed."""
    probe = getattr(storage, "has_histograms", None)
    if probe is not None:
        try:
            return bool(probe())
        except Exception:  # noqa: BLE001
            return True
    hp = getattr(storage, "histograms_path", None)
    if hp is None:
        return False
    try:
        from promhouse_spark.storage import fs

        return fs.exists(storage.spark, hp)
    except Exception:  # noqa: BLE001
        return True


def _mixed_chunks(ts) -> list[tuple[int, int, int, bytes]]:
    """One series' wire chunks: Gorilla-XOR for the float samples plus
    native-histogram chunks (types 2/3) for the histogram samples — the
    full prompb Chunk.type surface, so a streamed response never has to
    fall back to sampled just because histograms are present."""
    from promhouse_spark.edge import chunkenc

    chunks = [
        (mn, mx, chunkenc.CHUNK_TYPE_XOR, data)
        for mn, mx, data in chunkenc.chunk_samples(
            (s.timestamp_ms, s.value) for s in ts.samples
        )
    ]
    hists = getattr(ts, "histograms", None)
    if hists:
        chunks += chunkenc.chunk_native_histograms(
            sorted(hists, key=lambda h: h.timestamp_ms)
        )
    return chunks


def _hist_chunk_series(storage, q) -> list[tuple[int, dict, list]]:
    """One query's histogram series as WIRE chunks, unsigned-fp ordered:
    zero-decode from the chunked tier's at-rest histogram chunks when
    sound (histogram_series_chunks — None means pending tombstones), else
    decode + re-encode through the flat path, which masks tombstones."""
    fast = getattr(storage, "histogram_series_chunks", None)
    if fast is not None:
        res = fast(q)
        if res is not None:
            return res
    from promhouse_spark.edge import chunkenc

    return [
        (ufp, labels, chunkenc.chunk_native_histograms(hs))
        for ufp, labels, hs in storage.histogram_series(q)
    ]


def create_app(
    storage: Storage,
    rule_groups: list[dict] | None = None,
    enable_admin: bool = False,
    ct_zero_ingestion: bool = False,
):
    """``rule_groups`` (optional) registers Prometheus-shaped rule groups
    served read-only at /api/v1/rules and evaluated on demand at
    /api/v1/alerts::

        [{"name": "g", "interval_ms": 60000, "rules": [
            {"record": "job:x:sum", "expr": "sum by (job) (x)"},
            {"alert": "HighX", "expr": "sum by (job) (x) > 5",
             "for": "2m", "labels": {"severity": "page"}},
        ]}]
    """
    from flask import Flask, Response, request

    import time as _time_mod

    app = Flask("promhouse_spark")
    if getattr(storage, "_want_cache", False):
        # remote read and PromQL resolve series against the storage's hot
        # registry dict: keep it current with the series other instances
        # sharing the root flush (the reference's 5 s reloader)
        app.extensions["registry_reloader"] = storage.start_reloader()
    counters = {"written_samples": 0, "written_time_series": 0, "read_queries": 0}
    # storages without a Spark session (memory, blackhole) match in Python
    spark = getattr(storage, "spark", None)
    rule_groups = rule_groups or []
    _started = _time_mod.time()
    # Metric metadata cache fed by Remote-Write 2.0 writes (type/help/unit
    # travel IN the write message since the 2.0 spec); last write wins,
    # like Prometheus's own metadata cache.
    metadata_store: dict = {}

    @app.post("/write")
    def write():
        """Remote write. Content negotiation per the public Remote-Write
        2.0 spec: the Content-Type ``proto=`` parameter selects the
        message (bare ``application/x-protobuf`` ≡ the 1.0
        ``prometheus.WriteRequest``, matching the reference's only
        dialect, ``handlers/prom.go:281-310``); 2.0 requests
        (``io.prometheus.write.v2.Request``) answer 204 with the
        spec-mandated written-stats headers; any other proto answers 415.
        """
        from promhouse_spark.edge import prompb2

        proto = prompb2.negotiate_proto(request.headers.get("Content-Type", ""))
        try:
            body = snappy_codec.decompress(request.get_data())
        except Exception as e:
            return Response(f"decode error: {e}", status=400)
        if proto == "prometheus.WriteRequest":
            try:
                series = prompb.decode_write_request(body)
            except ValueError as e:
                return Response(f"decode error: {e}", status=400)
            storage.write(series)
            counters["written_time_series"] += len(series)
            counters["written_samples"] += sum(len(ts.samples) for ts in series)
            return Response(status=200)
        if proto == "io.prometheus.write.v2.Request":
            try:
                req = prompb2.decode_write_request_v2(body)
            except ValueError as e:
                return Response(f"decode error: {e}", status=400)
            if ct_zero_ingestion:
                # Prometheus's created-timestamp-zero-ingestion feature
                # flag: a counter's created_timestamp materializes as a
                # synthetic 0 sample just before its first real sample, so
                # rate()/increase() see the true start instead of losing
                # the first increment. Only when CT precedes the earliest
                # sample (a CT inside the batch window would rewrite
                # history).
                from promhouse_spark.models import NativeHistogram as MHist
                from promhouse_spark.models import Sample as MSample

                for ts, ct in zip(req.series, req.created_timestamps_ms):
                    if not ct:
                        continue
                    if ts.samples:
                        first = min(s.timestamp_ms for s in ts.samples)
                        if ct < first:
                            ts.samples.insert(0, MSample(value=0.0, timestamp_ms=ct))
                    if ts.histograms:
                        # histogram series get a synthetic all-zero histogram
                        # (upstream's created-timestamp-zero-ingestion inserts
                        # a zero histogram, not a float 0) carrying the first
                        # histogram's schema so bucket merges stay same-grid
                        firsth = min(ts.histograms, key=lambda h: h.timestamp_ms)
                        if ct < firsth.timestamp_ms:
                            ts.histograms.insert(
                                0,
                                MHist(
                                    timestamp_ms=ct,
                                    schema=firsth.schema,
                                    zero_threshold=firsth.zero_threshold,
                                    is_float=firsth.is_float,
                                    custom_values=list(firsth.custom_values),
                                ),
                            )
            # NHCB (custom-bucket) histograms can't enter the exponential
            # tier; map each back to the classic exposition it encodes
            # (<name>_bucket{le}/_sum/_count — edge/nhcb.py) so a
            # Prometheus 3 sender with NHCB enabled doesn't bounce. Runs AFTER CT-zero so the
            # created_timestamps list still aligns with req.series, and a
            # synthetic zero NHCB histogram converts to zero classic counts.
            # Unmappable shapes (no __name__, negative buckets) stay 400.
            from promhouse_spark.edge import nhcb as nhcb_mod

            if any(
                nhcb_mod.is_nhcb(h) for ts in req.series for h in ts.histograms
            ):
                rewritten = []
                for ts in req.series:
                    try:
                        remaining, classic = nhcb_mod.nhcb_to_classic(ts)
                    except ValueError as e:
                        return Response(f"NHCB: {e}", status=400)
                    if (
                        remaining.samples
                        or remaining.histograms
                        or remaining.exemplars
                        or not classic
                    ):
                        rewritten.append(remaining)
                    rewritten.extend(classic)
                req.series = rewritten
            storage.write(req.series)
            metadata_store.update(req.metadata)
            counters["written_time_series"] += len(req.series)
            counters["written_samples"] += req.samples_written
            return Response(
                status=204,
                headers={
                    "X-Prometheus-Remote-Write-Samples-Written": str(req.samples_written),
                    "X-Prometheus-Remote-Write-Histograms-Written": str(req.histograms_written),
                    "X-Prometheus-Remote-Write-Exemplars-Written": str(req.exemplars_written),
                },
            )
        return Response(
            f"unsupported remote-write proto {proto!r}",
            status=415,
            headers={"Accept": f"{prompb2.CONTENT_TYPE_V1}, {prompb2.CONTENT_TYPE_V2}"},
        )

    @app.post("/api/v1/otlp/v1/metrics")
    def otlp_metrics():
        """OTLP/HTTP metrics ingestion (Prometheus ≥ 3.0): protobuf
        ExportMetricsServiceRequest body → OTLP→Prometheus translation
        (edge/otlp.py) → the same storage write path as remote-write.
        Success answers an empty ExportMetricsServiceResponse; DELTA
        temporality and undecodable bodies answer 400."""
        from promhouse_spark.edge import otlp

        body = request.get_data()
        if request.headers.get("Content-Encoding") == "gzip":
            import gzip

            try:
                body = gzip.decompress(body)
            except OSError as e:
                return Response(f"decode error: {e}", status=400)
        try:
            series = otlp.translate(otlp.decode_export_request(body))
        except ValueError as e:
            return Response(f"decode error: {e}", status=400)
        storage.write(series)
        counters["written_time_series"] += len(series)
        counters["written_samples"] += sum(len(ts.samples) for ts in series)
        return Response(b"", status=200, mimetype="application/x-protobuf")

    @app.post("/read")
    def read():
        try:
            body = snappy_codec.decompress(request.get_data())
            decoded, accepted_types = prompb.decode_read_request_full(body)
        except ValueError as e:
            return Response(f"decode error: {e}", status=400)
        queries = []
        hint_list = []
        for q, hints in decoded:
            hint_list.append(hints)
            if hints is not None and not hasattr(storage, "read_with_hints"):
                log.warning("ignoring read hints: %s", hints)  # prom.go:184-186
            # the reference compiles matcher regexes while converting the
            # request (storages/base/base.go:102-104 via prom.go:153-192):
            # a bad pattern is a client error, rejected before any read, in
            # the dialect the storage matches in — Java's, as PromQL
            # checks, wherever a Spark session runs the match
            for m in q.matchers:
                if m.type in (MatchType.RE, MatchType.NRE):
                    try:
                        if spark is None:
                            re.compile(m.value)
                        else:
                            from promhouse_spark.operators.matchers import check_regex

                            check_regex(spark, m.value)
                    except re.error as e:
                        return Response(f"invalid matcher regex: {e}", status=400)
                    except ValueError as e:
                        return Response(str(e), status=400)
            queries.append(q)
        if (
            prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS in accepted_types
            and hasattr(storage, "read_chunks")
        ):
            # Zero-decode fast path (chunked storage tier): at-rest chunks
            # ARE wire chunks, so the streamed response is prune + frame —
            # no per-sample work, and the sampled read below never runs.
            # Falls through when unsound (pending tombstones). A
            # histogram-bearing store merges its sidecar into the stream
            # as native-histogram chunks (types 2/3), matched to the
            # float stream's unsigned-fingerprint order.
            from promhouse_spark.edge import chunkenc
            from promhouse_spark.functions.fingerprint import fingerprint
            from promhouse_spark.models import Label as MLabel

            per_query = [storage.read_chunks(q) for q in queries]
            if all(r is not None for r in per_query) and (
                not _holds_histograms(storage)
                or hasattr(storage, "histogram_series")
            ):
                counters["read_queries"] += len(queries)
                # bounded driver-side lists (native-series cardinality);
                # fetched eagerly so a failure 500s before the header —
                # zero-decode at-rest histogram chunks when the tier
                # stores them that way
                hists_per_query = (
                    [_hist_chunk_series(storage, q) for q in queries]
                    if _holds_histograms(storage)
                    else [[] for _ in queries]
                )

                def raw_frames():
                    def hist_frame(qi, entry):
                        _ufp, labels, hchunks = entry
                        msg = prompb.encode_chunked_read_response(
                            [
                                (
                                    [
                                        MLabel(n, v)
                                        for n, v in sorted(labels.items())
                                    ],
                                    hchunks,
                                )
                            ],
                            query_index=qi,
                        )
                        return chunkenc.frame_message(msg)

                    for qi, series_list in enumerate(per_query):
                        hseries = hists_per_query[qi]
                        hi = 0
                        for labels, chunks in series_list:
                            ufp = fingerprint(labels)
                            while hi < len(hseries) and hseries[hi][0] < ufp:
                                yield hist_frame(qi, hseries[hi])
                                hi += 1
                            wire_chunks = [
                                (mn, mx, chunkenc.CHUNK_TYPE_XOR, data)
                                for mn, mx, data in chunks
                            ]
                            if hi < len(hseries) and hseries[hi][0] == ufp:
                                wire_chunks += hseries[hi][2]
                                hi += 1
                            msg = prompb.encode_chunked_read_response(
                                [
                                    (
                                        [
                                            MLabel(n, v)
                                            for n, v in sorted(labels.items())
                                        ],
                                        wire_chunks,
                                    )
                                ],
                                query_index=qi,
                            )
                            yield chunkenc.frame_message(msg)
                        while hi < len(hseries):
                            yield hist_frame(qi, hseries[hi])
                            hi += 1

                return Response(
                    raw_frames(),
                    status=200,
                    headers={
                        "Content-Type": (
                            "application/x-streamed-protobuf; "
                            "proto=prometheus.ChunkedReadResponse"
                        )
                    },
                )
        if (
            prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS in accepted_types
            and not any(h is not None for h in hint_list)
            and getattr(storage, "cache_registry", False)
            and hasattr(storage, "iter_series")
        ):
            # Memory-bounded streamed serve (flat tier, and the chunked
            # tier's tombstone fallback): one series at a time off a
            # toLocalIterator instead of materializing every series at
            # the driver first — driver RSS stays flat however wide the
            # read. Cached-registry only: matcher resolution happens in
            # Python up front, so no Java regex error can surface after
            # the 200 header is already on the wire.
            from promhouse_spark.edge import chunkenc

            counters["read_queries"] += len(queries)

            def inc_frames():
                for qi, q in enumerate(queries):
                    for ts in storage.iter_series(q):
                        msg = prompb.encode_chunked_read_response(
                            [(ts.labels, _mixed_chunks(ts))], query_index=qi
                        )
                        yield chunkenc.frame_message(msg)

            return Response(
                inc_frames(),
                status=200,
                headers={
                    "Content-Type": (
                        "application/x-streamed-protobuf; "
                        "proto=prometheus.ChunkedReadResponse"
                    )
                },
            )
        if any(h is not None for h in hint_list) and hasattr(
            storage, "read_with_hints"
        ):
            results = storage.read_with_hints(queries, hint_list)
        else:
            results = storage.read(queries)
        counters["read_queries"] += len(queries)
        if prompb.RESPONSE_TYPE_STREAMED_XOR_CHUNKS in accepted_types:
            # Streamed chunked remote read (Prometheus ≥ 2.13,
            # read_recent/remote-read streaming): one frame per series,
            # each carrying Gorilla-XOR chunks for the float samples and
            # native-histogram chunks (types 2/3) for histogram samples —
            # constant server memory per frame instead of materializing
            # the whole snappy response. The reference never negotiates
            # this (prom.go answers sampled unconditionally).
            from promhouse_spark.edge import chunkenc

            def frames():
                for qi, series_list in enumerate(results):
                    for ts in series_list:
                        msg = prompb.encode_chunked_read_response(
                            [(ts.labels, _mixed_chunks(ts))], query_index=qi
                        )
                        yield chunkenc.frame_message(msg)

            return Response(
                frames(),
                status=200,
                headers={
                    "Content-Type": (
                        "application/x-streamed-protobuf; "
                        "proto=prometheus.ChunkedReadResponse"
                    )
                },
            )
        payload = snappy_codec.compress(prompb.encode_read_response(results))
        return Response(
            payload,
            status=200,
            headers={
                "Content-Type": "application/x-protobuf",
                "Content-Encoding": "snappy",
            },
        )

    # -- Prometheus HTTP API v1: server-side PromQL evaluation --------------
    # Beyond-reference: PromHouse serves only remote_read and lets
    # Prometheus evaluate PromQL (handlers/prom.go:184-186 drops the
    # hints); with the promql/ compiler the adapter can answer
    # query/query_range itself, Prometheus-API-compatible
    # (prometheus/web/api/v1 response shapes).

    def _parse_time_ms(s: str) -> int:
        try:
            return int(float(s) * 1000)
        except ValueError:
            from datetime import datetime

            return int(
                datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp() * 1000
            )

    def _parse_step_ms(s: str) -> int:
        try:
            return max(1, int(float(s) * 1000))
        except ValueError:
            from promhouse_spark.promql.parser import parse_duration_ms

            return parse_duration_ms(s)

    class _Unsupported(ValueError):
        # ValueError subclass so endpoints that only catch ValueError
        # degrade to a clear 400 instead of a 500; the PromQL endpoints
        # catch it first and answer 501 unavailable
        pass

    def _require_frames():
        # memory/blackhole storages satisfy the remote read/write protocol
        # but expose no DataFrames — PromQL evaluation needs the frame
        # surface, and the API must say so rather than 500
        if not hasattr(storage, "registry_df") or not hasattr(storage, "samples_df"):
            raise _Unsupported(
                f"storage backend {type(storage).__name__} does not expose "
                "DataFrames; PromQL endpoints need a frame-backed storage"
            )

    def _unsupported(e: Exception):
        return (
            {"status": "error", "errorType": "unavailable", "error": str(e)},
            501,
        )

    def _streams(points) -> list[dict]:
        """Prometheus matrix serialization from (labels_dict, t_ms, value)
        triples: one stream per label set, values time-ordered."""
        grouped: dict[tuple, list] = {}
        for labels, t, v in points:
            key = tuple(sorted((labels or {}).items()))
            grouped.setdefault(key, []).append((t, v))
        return [
            {
                "metric": dict(key),
                "values": [
                    [t / 1000.0, _format_value(v)] for t, v in sorted(vals)
                ],
            }
            for key, vals in sorted(grouped.items())
        ]

    def _evaluate(query, start_ms: int, end_ms: int, step_ms: int):
        """query: PromQL text or a pre-parsed AST node (eng.eval takes
        both — endpoints that already parsed pass the node through)."""
        from promhouse_spark.promql import PromQLEngine

        _require_frames()

        lookback = int(request.values.get("lookback_delta_ms", 300_000))
        eng = PromQLEngine.from_storage(
            storage, start_ms, end_ms, step_ms, lookback_ms=lookback
        )
        rows = eng.eval(query).filter("value IS NOT NULL").collect()
        return _streams((r["labels"], r["eval_ms"], r["value"]) for r in rows)

    def _promql_error(e: Exception, status: int = 400):
        return (
            {"status": "error", "errorType": "bad_data", "error": str(e)[:500]},
            status,
        )

    def _histogram_json(r) -> dict:
        """web/api/v1 native-histogram sample shape: count/sum strings and
        [boundary_rule, lower, upper, count] buckets — negative buckets by
        descending index (rule 1, open right), the zero bucket (rule 3,
        closed both), positive buckets (rule 0, open left), all bounds at
        the row's own base 2^(2^-schema)."""
        base = 2.0 ** (2.0 ** -int(r["schema"]))
        buckets = []
        for b in sorted(r["negative"] or [], key=lambda x: -x["idx"]):
            lo, hi = -(base ** b["idx"]), -(base ** (b["idx"] - 1))
            buckets.append(
                [1, _format_value(lo), _format_value(hi), _format_value(b["cnt"])]
            )
        if r["zero_count"]:
            zt = float(r["zero_threshold"])
            buckets.append(
                [
                    3,
                    _format_value(-zt),
                    _format_value(zt),
                    _format_value(r["zero_count"]),
                ]
            )
        for b in sorted(r["positive"] or [], key=lambda x: x["idx"]):
            lo, hi = base ** (b["idx"] - 1), base ** b["idx"]
            buckets.append(
                [0, _format_value(lo), _format_value(hi), _format_value(b["cnt"])]
            )
        out = {"count": _format_value(r["count"]), "sum": _format_value(r["sum"])}
        if buckets:
            out["buckets"] = buckets
        return out

    def _native_histogram_result(node, t_ms: int) -> list[dict]:
        """Instant-vector native-histogram samples for a bare selector:
        the latest histogram per matched series within the lookback,
        rendered Prometheus-API-style under the "histogram" key. Bounded
        by matched-series cardinality (the API-edge materialization
        contract, same as the float path)."""
        from promhouse_spark.models import (
            MatchType,
            Matcher as MMatcher,
            Query as MQuery,
        )
        from promhouse_spark.promql.parser import VectorSelector

        if not isinstance(node, VectorSelector):
            return []
        if not hasattr(storage, "read_histograms"):
            return []
        ops = {
            "=": MatchType.EQ,
            "!=": MatchType.NEQ,
            "=~": MatchType.RE,
            "!~": MatchType.NRE,
        }
        ms = [MMatcher(m.name, ops[m.op], m.value) for m in node.matchers]
        if node.name is not None:
            ms.append(MMatcher("__name__", MatchType.EQ, node.name))
        lookback = int(request.values.get("lookback_delta_ms", 300_000))
        te = node.at_ms if isinstance(node.at_ms, int) else t_ms
        te -= node.offset_ms or 0
        frame = storage.read_histograms(
            MQuery(start_ms=te - lookback, end_ms=te, matchers=tuple(ms))
        )
        latest: dict = {}
        for r in frame.collect():
            key = tuple(sorted((r["labels"] or {}).items()))
            if (
                key not in latest
                or r["timestamp_ms"] > latest[key]["timestamp_ms"]
            ):
                latest[key] = r
        return [
            {
                "metric": dict(r["labels"] or {}),
                "histogram": [t_ms / 1000.0, _histogram_json(r)],
            }
            for _, r in sorted(latest.items())
        ]

    def _parse_limit(default: int = 0) -> int:
        raw = request.values.get("limit", str(default))
        try:
            limit = int(raw)
        except ValueError:
            raise ValueError(f"limit must be an integer: {raw!r}") from None
        if limit < 0:
            raise ValueError("limit must be non-negative")
        return limit

    def _apply_limit(result: list) -> tuple[list, list[str]]:
        """The ?limit= parameter (Prometheus 3.x): truncate the SERIES
        count, reporting the truncation as a warning. 0 = disabled."""
        limit = _parse_limit()
        if limit and len(result) > limit:
            return result[:limit], ["results truncated due to limit"]
        return result, []

    def _success(data: dict, warnings: list[str]):
        out = {"status": "success", "data": data}
        if warnings:
            out["warnings"] = warnings
        return out

    def _collect_selectors(node, extra_ms: int = 0) -> list:
        """(VectorSelector, matrix_range_ms) pairs found in the AST, each
        with the total range it sits under (range selector + enclosing
        subquery ranges summed) — the window that bounds which stored
        samples can influence it."""
        from promhouse_spark.promql.parser import (
            Aggregation,
            BinaryOp,
            Call,
            RangeSelector,
            Subquery,
            Unary,
            VectorSelector,
        )

        out = []
        if isinstance(node, VectorSelector):
            out.append((node, extra_ms))
        elif isinstance(node, RangeSelector):
            out.append((node.selector, extra_ms + node.range_ms))
        elif isinstance(node, Subquery):
            out += _collect_selectors(node.expr, extra_ms + node.range_ms)
        elif isinstance(node, Call):
            for a in node.args:
                out += _collect_selectors(a, extra_ms)
        elif isinstance(node, Aggregation):
            out += _collect_selectors(node.expr, extra_ms)
            if node.param is not None:
                out += _collect_selectors(node.param, extra_ms)
        elif isinstance(node, BinaryOp):
            out += _collect_selectors(node.lhs, extra_ms)
            out += _collect_selectors(node.rhs, extra_ms)
        elif isinstance(node, Unary):
            out += _collect_selectors(node.expr, extra_ms)
        return out

    def _query_stats(node, start_ms, end_ms, step_ms, prep_s, eval_s) -> dict:
        """?stats=all: REAL statistics, Prometheus response shape
        (web/api/v1 queryData.Stats). Timings are measured wall times of
        this request. totalQueryableSamples counts the stored samples the
        selector windows feed the engine (matchers applied, offset and
        range honored) — this engine evaluates in one distributed pass,
        so peakSamples reports the same figure. Documented divergence:
        Prometheus re-counts samples shared by overlapping steps, so its
        totalQueryableSamples can exceed ours on wide-range queries; ours
        is the number of samples actually scanned."""
        from pyspark.sql import functions as F

        from promhouse_spark.promql import PromQLEngine

        stats: dict = {
            "timings": {
                "evalTotalTime": round(eval_s, 6),
                "resultSortTime": 0.0,
                "queryPreparationTime": round(prep_s, 6),
                "innerEvalTime": round(eval_s, 6),
                "execQueueTime": 0.0,
                "execTotalTime": round(prep_s + eval_s, 6),
            }
        }
        try:
            _require_frames()
            lookback = int(request.values.get("lookback_delta_ms", 300_000))
            eng = PromQLEngine.from_storage(
                storage, start_ms, end_ms, step_ms, lookback_ms=lookback
            )
            total = 0
            for sel, ext in _collect_selectors(node):
                samples, _series = eng._selected(sel, ext)
                # _selected shifts timestamps by +offset, so the window
                # compares directly against the evaluation grid; instant
                # selectors look back `lookback`, matrix ones their range
                back = ext if ext else lookback
                total += (
                    samples.filter(
                        (F.col("timestamp_ms") > start_ms - back)
                        & (F.col("timestamp_ms") <= end_ms)
                    ).count()
                )
            stats["samples"] = {
                "totalQueryableSamples": total,
                "peakSamples": total,
            }
        except _Unsupported:
            pass  # frameless storage: timings only
        return stats

    def _histogram_streams(node, start_ms, end_ms, step_ms) -> list[dict]:
        """Native-histogram matrix streams for a bare selector over the
        evaluation grid (instant semantics per step), rendered under the
        Prometheus "histograms" key."""
        from promhouse_spark.promql import PromQLEngine
        from promhouse_spark.promql.parser import VectorSelector

        if not isinstance(node, VectorSelector):
            return []
        if not hasattr(storage, "histograms_df"):
            return []
        lookback = int(request.values.get("lookback_delta_ms", 300_000))
        eng = PromQLEngine.from_storage(
            storage, start_ms, end_ms, step_ms, lookback_ms=lookback
        )
        if eng.histograms is None:
            return []
        rows = eng._hist_wire_frame(node).collect()
        grouped: dict[tuple, list] = {}
        for r in rows:
            key = tuple(sorted((r["labels"] or {}).items()))
            grouped.setdefault(key, []).append((r["timestamp_ms"], r))
        return [
            {
                "metric": dict(key),
                "histograms": [
                    [t / 1000.0, _histogram_json(r)] for t, r in sorted(
                        vals, key=lambda x: x[0]
                    )
                ],
            }
            for key, vals in sorted(grouped.items())
        ]

    @app.route("/api/v1/query_range", methods=["GET", "POST"])
    def query_range():
        import time as _time

        from promhouse_spark.promql.parser import parse

        t_req = _time.perf_counter()
        try:
            query = request.values["query"]
            start_ms = _parse_time_ms(request.values["start"])
            end_ms = _parse_time_ms(request.values["end"])
            step_ms = _parse_step_ms(request.values["step"])
        except (KeyError, ValueError) as e:
            return _promql_error(e)
        try:
            node = parse(query)
            t_prep = _time.perf_counter()
            result = _evaluate(node, start_ms, end_ms, step_ms)
            try:
                result += _histogram_streams(node, start_ms, end_ms, step_ms)
            except Exception:  # histogram tier is additive: never break floats
                log.exception("native-histogram range lookup failed")
            result, warnings = _apply_limit(result)
        except _Unsupported as e:  # ValueError subclass: catch first
            return _unsupported(e)
        except ValueError as e:
            return _promql_error(e)
        counters["read_queries"] += 1
        data = {"resultType": "matrix", "result": result}
        if request.values.get("stats"):
            t_eval = _time.perf_counter()
            data["stats"] = _query_stats(
                node, start_ms, end_ms, step_ms,
                prep_s=t_prep - t_req, eval_s=t_eval - t_prep,
            )
        return _success(data, warnings)

    def _raw_matrix(rs, t_ms: int):
        """Raw samples for a bare range-selector instant query (Prometheus
        resultType=matrix): every sample of every matched series in
        (t - range, t], honoring offset and @ — timestamps reported RAW."""
        from pyspark.sql import functions as F

        from promhouse_spark.promql import PromQLEngine

        _require_frames()
        eng = PromQLEngine.from_storage(storage, t_ms, t_ms, 1_000)
        sel = rs.selector
        at = eng._at_ms(sel) if sel.at_ms is not None else t_ms
        offset = sel.offset_ms or 0
        # _selected applies matchers and shifts timestamps by +offset for
        # the lookup; shift back for reporting
        samples, series = eng._selected(sel, rs.range_ms)
        rows = (
            eng._labeled(
                samples.filter(
                    (F.col("timestamp_ms") > at - rs.range_ms)
                    & (F.col("timestamp_ms") <= at)
                ),
                series,
            )
            .select("labels", "timestamp_ms", "value")
            .collect()
        )
        return _streams(
            (r["labels"], r["timestamp_ms"] - offset, r["value"])
            for r in rows
        )

    @app.route("/api/v1/query", methods=["GET", "POST"])
    def query_instant():
        import time as _time

        from promhouse_spark.promql.engine import is_scalar_expr
        from promhouse_spark.promql.parser import (
            RangeSelector,
            StringLiteral,
            Subquery,
            parse,
        )

        t_req = _time.perf_counter()
        try:
            query = request.values["query"]
            t_ms = _parse_time_ms(
                request.values.get("time", str(_time.time()))
            )
            node = parse(query)
            # resolve @ start()/end() against the OUTER instant time NOW:
            # the subquery branch below builds engines with shifted
            # bounds, where a symbolic marker would resolve wrongly
            from promhouse_spark.promql.engine import _resolve_start_end

            node = _resolve_start_end(node, t_ms, t_ms)
        except (KeyError, ValueError) as e:
            return _promql_error(e)
        if isinstance(node, StringLiteral):
            counters["read_queries"] += 1
            return {
                "status": "success",
                "data": {
                    "resultType": "string",
                    "result": [t_ms / 1000.0, node.value],
                },
            }
        try:
            if isinstance(node, RangeSelector):
                result, warnings = _apply_limit(_raw_matrix(node, t_ms))
                counters["read_queries"] += 1
                return _success(
                    {"resultType": "matrix", "result": result}, warnings
                )
            if isinstance(node, Subquery):
                # top-level subquery: the inner expression evaluated at
                # every epoch-aligned step in (t - range, t] (Prometheus
                # matrix-typed instant query; 1m default resolution).
                # @ pins the base time (start()/end() both resolve to t
                # at an instant query), THEN offset shifts it back —
                # the same composition as the engine's range path
                step = node.step_ms or 60_000
                base = (
                    int(node.at_ms)
                    if node.at_ms is not None
                    and node.at_ms not in ("start", "end")
                    else t_ms
                )
                t_eff = base - (node.offset_ms or 0)
                last = (t_eff // step) * step
                first = ((t_eff - node.range_ms) // step) * step
                if first <= t_eff - node.range_ms:
                    first += step
                result = (
                    _evaluate(node.expr, first, last, step)
                    if first <= last
                    else []
                )
                result, warnings = _apply_limit(result)
                counters["read_queries"] += 1
                return _success(
                    {"resultType": "matrix", "result": result}, warnings
                )
            series = _evaluate(node, t_ms, t_ms, 1_000)
        except _Unsupported as e:  # ValueError subclass: catch first
            return _unsupported(e)
        except ValueError as e:
            return _promql_error(e)
        counters["read_queries"] += 1
        if is_scalar_expr(node):
            # scalar-typed expression: a single [t, v] (Prometheus
            # resultType=scalar); zero rows is NaN, not an empty vector
            v = "NaN"
            if series and series[0]["values"]:
                v = series[0]["values"][-1][1]
            return {
                "status": "success",
                "data": {
                    "resultType": "scalar",
                    "result": [t_ms / 1000.0, v],
                },
            }
        result = [
            {"metric": s["metric"], "value": s["values"][-1]}
            for s in series
            if s["values"]
        ]
        try:
            result += _native_histogram_result(node, t_ms)
        except Exception:  # histogram tier is additive: never break floats
            log.exception("native-histogram lookup failed")
        try:
            result, warnings = _apply_limit(result)
        except ValueError as e:
            return _promql_error(e)
        data = {"resultType": "vector", "result": result}
        if request.values.get("stats"):
            data["stats"] = _query_stats(
                node, t_ms, t_ms, 60_000, prep_s=0.0,
                eval_s=_time.perf_counter() - t_req,
            )
        return _success(data, warnings)

    @app.route("/api/v1/format_query", methods=["GET", "POST"])
    def format_query():
        """Canonical String() rendering of the expression (Prometheus
        serves the prettifier here; the canonical single-line form
        round-trips: parse(format(parse(x))) ≡ parse(x))."""
        from promhouse_spark.promql.format import format_expr
        from promhouse_spark.promql.parser import parse

        try:
            node = parse(request.values["query"])
        except (KeyError, ValueError) as e:
            return _promql_error(e)
        return {"status": "success", "data": format_expr(node)}

    @app.route("/api/v1/parse_query", methods=["GET", "POST"])
    def parse_query():
        """Structural AST JSON (Prometheus 3.x experimental endpoint);
        also runs the static compile checks so a structurally invalid
        expression answers 400, mirroring promtool."""
        from promhouse_spark.promql.check import validate_src
        from promhouse_spark.promql.format import ast_json

        try:
            node = validate_src(request.values["query"], top_matrix=True)
        except (KeyError, ValueError) as e:
            return _promql_error(e)
        return {"status": "success", "data": ast_json(node)}

    @app.get("/api/v1/status/buildinfo")
    def buildinfo():
        return {
            "status": "success",
            "data": {
                "application": "promhouse-spark",
                "version": "0.1.0",
                "features": {"promql_engine": "spark"},
            },
        }

    # -- Prometheus HTTP API v1: metadata (what Grafana calls first) --------

    def _series_frame():
        """Registry labels, optionally restricted by ?start=&?end= to
        series with at least one sample in the range (Prometheus's
        time-bounded metadata queries) — a semi-join against the
        date-pruned sample scan, never a full fact read without bounds."""
        from pyspark.sql import functions as F

        _require_frames()
        reg = storage.registry_df()
        start_s, end_s = request.values.get("start"), request.values.get("end")
        if (start_s or end_s) and "fingerprint" in reg.columns:
            from promhouse_spark.plans.read import samples_in_range

            start_ms = _parse_time_ms(start_s) if start_s else 0
            end_ms = (
                _parse_time_ms(end_s) if end_s else (1 << 53)
            )
            live = samples_in_range(
                storage.samples_df(), start_ms, end_ms
            ).select("fingerprint").distinct()
            reg = reg.join(live, "fingerprint", "left_semi")
        return reg.select(F.col("labels"))

    def _apply_match(df):
        """Apply repeated ?match[]= selectors (PromQL selector syntax) as
        an OR over the series frame; no selectors = all series."""
        from pyspark.sql import functions as F

        from promhouse_spark.promql.engine import matcher_condition
        from promhouse_spark.promql.parser import Matcher, VectorSelector, parse

        sels = request.values.getlist("match[]")
        if not sels:
            return df
        conds = None
        for s in sels:
            node = parse(s)
            if not isinstance(node, VectorSelector):
                raise ValueError(f"match[] must be a selector: {s!r}")
            matchers = list(node.matchers)
            if node.name:
                matchers.append(Matcher("__name__", "=", node.name))
            c = F.lit(True)
            for m in matchers:
                c = c & matcher_condition(F.col("labels"), m)
            conds = c if conds is None else (conds | c)
        return df.filter(conds)

    @app.get("/federate")
    def federate():
        """Prometheus federation (web/federate.go): the most recent
        sample of every series matched by the repeated ``match[]``
        selectors, rendered in exposition text with millisecond
        timestamps — the format a federating Prometheus scrapes.
        ``time`` is accepted as a replay/testing extension (defaults to
        wall clock); staleness is the usual 5 m lookback. The read is the
        matcher-restricted date-pruned sample scan + ONE keyed max_by;
        result cardinality = matched series (API-edge contract)."""
        import time as _time

        from pyspark.sql import functions as F

        from promhouse_spark.edge.exposition import render_exposition
        from promhouse_spark.models import Label as MLabel, Sample as MSample
        from promhouse_spark.models import TimeSeries as MTimeSeries
        from promhouse_spark.plans.read import samples_in_range

        try:
            _require_frames()
            if not request.values.getlist("match[]"):
                raise ValueError("missing match[] parameter")
            t_ms = (
                _parse_time_ms(request.values["time"])
                if request.values.get("time")
                else int(_time.time() * 1000)
            )
            reg = _apply_match(storage.registry_df().select("fingerprint", "labels"))
        except _Unsupported as e:
            return _unsupported(e)
        except ValueError as e:
            return _promql_error(e)
        lookback = int(request.values.get("lookback_delta_ms", 300_000))
        latest = (
            samples_in_range(storage.samples_df(), t_ms - lookback, t_ms)
            .join(reg.select("fingerprint"), "fingerprint", "left_semi")
            .groupBy("fingerprint")
            .agg(
                F.max_by(
                    F.struct("timestamp_ms", "value"), F.col("timestamp_ms")
                ).alias("s")
            )
        )
        rows = latest.join(reg, "fingerprint").select(
            "labels", "s.timestamp_ms", "s.value"
        ).collect()
        series = [
            MTimeSeries(
                labels=[MLabel(k, v) for k, v in sorted(r["labels"].items())],
                samples=[MSample(r["value"], r["timestamp_ms"])],
            )
            for r in sorted(
                rows, key=lambda r: tuple(sorted((r["labels"] or {}).items()))
            )
        ]
        return Response(
            render_exposition(series), mimetype="text/plain; version=0.0.4"
        )

    @app.get("/api/v1/labels")
    def labels_endpoint():
        from pyspark.sql import functions as F

        try:
            df = _apply_match(_series_frame())
        except ValueError as e:
            return _promql_error(e)
        rows = (
            df.select(F.explode(F.map_keys("labels")).alias("l"))
            .distinct()
            .orderBy("l")
            .collect()
        )
        return {"status": "success", "data": [r["l"] for r in rows]}

    @app.get("/api/v1/label/<name>/values")
    def label_values(name: str):
        from pyspark.sql import functions as F

        try:
            df = _apply_match(_series_frame())
        except ValueError as e:
            return _promql_error(e)
        rows = (
            df.select(F.element_at("labels", F.lit(name)).alias("v"))
            .filter("v IS NOT NULL")
            .distinct()
            .orderBy("v")
            .collect()
        )
        return {"status": "success", "data": [r["v"] for r in rows]}

    @app.get("/api/v1/series")
    def series_endpoint():
        try:
            df = _apply_match(_series_frame())
        except ValueError as e:
            return _promql_error(e)
        rows = df.collect()
        data = sorted(
            (dict(r["labels"]) for r in rows),
            key=lambda d: sorted(d.items()),
        )
        return {"status": "success", "data": data}

    @app.get("/api/v1/metadata")
    def metadata_endpoint():
        """Metric metadata. Remote-Write 1.0 carries none (the reference
        pipeline forwards exposition scrapes without persisting metadata),
        so 1.0-fed metrics answer an empty list, the shape clients expect;
        Remote-Write 2.0 writes DO carry type/help/unit, which land in the
        in-memory metadata cache and are served here."""
        from pyspark.sql import functions as F

        try:
            limit = _parse_limit()
            df = _series_frame()
        except _Unsupported:
            df = None
        except ValueError as e:
            return _promql_error(e)
        if df is not None:
            names = (
                df.select(
                    F.element_at("labels", F.lit("__name__")).alias("n")
                )
                .filter("n IS NOT NULL")
                .distinct()
                .orderBy("n")
                .collect()
            )
            data = {r["n"]: [] for r in names}
        else:
            # frameless storages (memory/blackhole) still serve the
            # 2.0-write-fed metadata cache
            limit = _parse_limit()
            data = {}
        for name, m in sorted(metadata_store.items()):
            data.setdefault(name, [])
            data[name] = [{"type": m.type, "help": m.help, "unit": m.unit}]
        if request.values.get("metric") is not None:
            want = request.values["metric"]
            data = {want: data[want]} if want in data else {}
        if request.values.get("limit") is not None:
            # metadata's limit is a plain count: limit=0 returns none
            data = dict(list(data.items())[:limit])
        return {"status": "success", "data": data}

    @app.route("/api/v1/query_exemplars", methods=["GET", "POST"])
    def query_exemplars():
        """web/api/v1 queryExemplars: extract every vector selector from
        the expression, read matcher-filtered exemplars in [start, end],
        and render them grouped by owning series. Result cardinality is
        bounded by exemplar retention × matched series (the API-edge
        materialization contract)."""
        from promhouse_spark.models import (
            MatchType,
            Matcher as MMatcher,
            Query as MQuery,
        )
        from promhouse_spark.promql.parser import collect_selectors, parse

        expr = request.values.get("query")
        if expr is None or not hasattr(storage, "read_exemplars"):
            # Grafana's capability probe calls this endpoint with no
            # parameters; an empty success keeps the probe quiet
            return {"status": "success", "data": []}
        try:
            start_ms = _parse_time_ms(request.values["start"])
            end_ms = _parse_time_ms(request.values["end"])
            selectors = collect_selectors(parse(expr))
        except KeyError as e:
            return _promql_error(ValueError(f"missing parameter {e}"))
        except ValueError as e:
            return _promql_error(e)
        ops = {
            "=": MatchType.EQ,
            "!=": MatchType.NEQ,
            "=~": MatchType.RE,
            "!~": MatchType.NRE,
        }
        by_series: dict = {}
        for sel in selectors:
            ms = [MMatcher(m.name, ops[m.op], m.value) for m in sel.matchers]
            if sel.name is not None:
                ms.append(MMatcher("__name__", MatchType.EQ, sel.name))
            frame = storage.read_exemplars(
                MQuery(start_ms=start_ms, end_ms=end_ms, matchers=tuple(ms))
            )
            for r in frame.collect():
                key = tuple(sorted((r["labels"] or {}).items()))
                bucket = by_series.setdefault(key, {})
                # dedupe exemplars repeated across selectors / retries
                ekey = (r["timestamp_ms"], r["value"],
                        tuple(sorted((r["exemplar_labels"] or {}).items())))
                bucket[ekey] = r
        data = [
            {
                "seriesLabels": dict(key),
                "exemplars": [
                    {
                        "labels": dict(r["exemplar_labels"] or {}),
                        "value": _format_value(r["value"]),
                        "timestamp": r["timestamp_ms"] / 1000.0,
                    }
                    for _, r in sorted(bucket.items())
                ],
            }
            for key, bucket in sorted(by_series.items())
        ]
        return {"status": "success", "data": data}

    @app.get("/api/v1/status/flags")
    def status_flags():
        return {
            "status": "success",
            "data": {"web.enable-admin-api": "true" if enable_admin else "false"},
        }

    @app.get("/api/v1/status/walreplay")
    def status_walreplay():
        # the parquet tier replays its write-ahead log while it is built,
        # before the server listens; backends without one have nothing
        status = getattr(storage, "wal_replay_status", None)
        data = status() if status else {"min": 0, "max": 0, "current": 0, "state": "done"}
        return {"status": "success", "data": data}

    @app.get("/api/v1/notifications")
    def notifications():
        return {"status": "success", "data": []}

    # ----------------------------------------------------- TSDB admin API
    # Prometheus's web/api/v1 admin endpoints (gated by the opt-in
    # --web.enable-admin-api upstream, default OFF; the enable_admin flag
    # here matches that default-off posture). The
    # storage methods behind them are the columnar re-expression of the
    # TSDB tombstone model: delete marks intervals, clean rewrites only
    # the intersecting day partitions, snapshot copies the tiers.

    def _admin_error():
        if not enable_admin:
            return (
                {"status": "error", "errorType": "unavailable",
                 "error": "admin APIs disabled"},
                403,
            )
        if not hasattr(storage, "delete_series"):
            return (
                {"status": "error", "errorType": "unavailable",
                 "error": "storage does not support admin operations"},
                501,
            )
        return None

    def _model_matchers(selector: str):
        from promhouse_spark.models import MatchType, Matcher as MMatcher
        from promhouse_spark.promql.parser import VectorSelector, parse

        node = parse(selector)
        if not isinstance(node, VectorSelector):
            raise ValueError(f"match[] must be a selector: {selector!r}")
        op = {
            "=": MatchType.EQ,
            "!=": MatchType.NEQ,
            "=~": MatchType.RE,
            "!~": MatchType.NRE,
        }
        ms = [MMatcher(m.name, op[m.op], m.value) for m in node.matchers]
        if node.name:
            ms.append(MMatcher("__name__", MatchType.EQ, node.name))
        return tuple(ms)

    @app.route("/api/v1/admin/tsdb/delete_series", methods=["POST", "PUT"])
    def admin_delete_series():
        err = _admin_error()
        if err:
            return err
        sels = request.values.getlist("match[]")
        if not sels:
            return _promql_error(ValueError("no match[] parameter provided"))
        start_s, end_s = request.values.get("start"), request.values.get("end")
        try:
            start_ms = _parse_time_ms(start_s) if start_s else None
            end_ms = _parse_time_ms(end_s) if end_s else None
            for sel in sels:
                storage.delete_series(_model_matchers(sel), start_ms, end_ms)
        except ValueError as e:
            return _promql_error(e)
        return Response(status=204)

    @app.route("/api/v1/admin/tsdb/clean_tombstones", methods=["POST", "PUT"])
    def admin_clean_tombstones():
        err = _admin_error()
        if err:
            return err
        storage.clean_tombstones()
        return Response(status=204)

    @app.route("/api/v1/admin/tsdb/snapshot", methods=["POST", "PUT"])
    def admin_snapshot():
        err = _admin_error()
        if err:
            return err
        # skip_head is accepted for API compatibility; there is no
        # in-memory head tier to skip — all data is already on disk.
        _ = request.values.get("skip_head")
        name = storage.snapshot()
        return {"status": "success", "data": {"name": name}}

    @app.get("/api/v1/targets")
    def targets():
        # a remote-write-fed store has no scrape pool; the empty shape
        # keeps Grafana's service-discovery probe quiet
        return {
            "status": "success",
            "data": {"activeTargets": [], "droppedTargets": []},
        }

    @app.get("/api/v1/scrape_pools")
    def scrape_pools():
        # no scrape subsystem (remote-write-fed), same contract as /targets
        return {"status": "success", "data": {"scrapePools": []}}

    @app.get("/api/v1/targets/metadata")
    def targets_metadata():
        return {"status": "success", "data": []}

    @app.get("/api/v1/alertmanagers")
    def alertmanagers():
        # rules evaluate on demand at /api/v1/alerts; nothing is pushed
        return {
            "status": "success",
            "data": {"activeAlertmanagers": [], "droppedAlertmanagers": []},
        }

    @app.get("/api/v1/status/config")
    def status_config():
        """The effective configuration rendered as prometheus.yml-shaped
        YAML (web/api/v1 serves the raw config file; ours is synthesized
        from the session's actual settings so probes see truth)."""
        lines = ["global:", "  scrape_interval: 15s"]
        if rule_groups:
            lines += ["rule_files:", "  - <in-memory rule groups>"]
        lines += [
            "# storage: %s" % type(storage).__name__,
            "# admin API enabled: %s" % bool(enable_admin),
        ]
        return {"status": "success", "data": {"yaml": "\n".join(lines) + "\n"}}

    @app.get("/-/healthy")
    def dash_healthy():
        return Response("Healthy.\n", status=200, mimetype="text/plain")

    @app.get("/-/ready")
    def dash_ready():
        return Response("Ready.\n", status=200, mimetype="text/plain")

    @app.get("/api/v1/status/tsdb")
    def status_tsdb():
        """REAL cardinality statistics from the storage frames (the
        Prometheus TSDB-stats shapes operators use for cardinality
        debugging): series/label-pair head counts plus the top-10
        seriesCountByMetricName / labelValueCountByLabelName /
        seriesCountByLabelValuePair — one scan of the registry, one
        bounds-only scan of the samples."""
        from pyspark.sql import functions as F

        try:
            _require_frames()
            limit = _parse_limit(default=10)
        except _Unsupported as e:
            return _unsupported(e)
        except ValueError as e:
            return _promql_error(e)
        reg = storage.registry_df().select("labels")
        pairs = reg.select(
            F.explode("labels").alias("name", "value")
        )
        num_series = reg.count()
        num_pairs = pairs.select("name", "value").distinct().count()
        by_metric = (
            pairs.filter(F.col("name") == "__name__")
            .groupBy("value")
            .count()
            .orderBy(F.desc("count"), "value")
            .limit(limit)
            .collect()
        )
        by_label = (
            pairs.groupBy("name")
            .agg(F.countDistinct("value").alias("count"))
            .orderBy(F.desc("count"), "name")
            .limit(limit)
            .collect()
        )
        by_pair = (
            pairs.groupBy("name", "value")
            .count()
            .orderBy(F.desc("count"), "name", "value")
            .limit(limit)
            .collect()
        )
        bounds = storage.samples_df().agg(
            F.min("timestamp_ms").alias("lo"), F.max("timestamp_ms").alias("hi")
        ).first()
        return {
            "status": "success",
            "data": {
                "headStats": {
                    "numSeries": num_series,
                    "numLabelPairs": num_pairs,
                    "chunkCount": 0,
                    "minTime": bounds["lo"] or 0,
                    "maxTime": bounds["hi"] or 0,
                },
                "seriesCountByMetricName": [
                    {"name": r["value"], "value": r["count"]} for r in by_metric
                ],
                "labelValueCountByLabelName": [
                    {"name": r["name"], "value": r["count"]} for r in by_label
                ],
                "memoryInBytesByLabelName": [],
                "seriesCountByLabelValuePair": [
                    {"name": f'{r["name"]}={r["value"]}', "value": r["count"]}
                    for r in by_pair
                ],
            },
        }

    @app.get("/api/v1/status/runtimeinfo")
    def status_runtimeinfo():
        import time as _time

        return {
            "status": "success",
            "data": {
                "storageRetention": "0",
                "goroutineCount": 0,
                "reloadConfigSuccess": True,
                "startTime": _time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", _time.gmtime(_started)
                ),
            },
        }

    # -- Prometheus HTTP API v1: rules + alerts ------------------------------

    def _alert_status(rule: dict):
        """Evaluate one alerting rule's CURRENT state on demand: a grid
        ending at the newest stored sample, long enough to establish the
        for-duration; active = the latest evaluation fires, state =
        pending|firing by run length (promql/alerts.py semantics)."""
        from promhouse_spark.promql import PromQLEngine
        from promhouse_spark.promql.alerts import alert_intervals_promql
        from promhouse_spark.promql.parser import parse_duration_ms
        from pyspark.sql import functions as F

        for_ms = (
            parse_duration_ms(rule["for"]) if rule.get("for") else 0
        )
        step_ms = int(rule.get("interval_ms", 60_000))
        newest = (
            storage.samples_df().agg(F.max("timestamp_ms")).first()[0]
        )
        if newest is None:
            return for_ms, []
        end = (newest // step_ms) * step_ms
        # keep (end - start) a multiple of step_ms: the engine's grid is
        # sequence(start, end, step), so a for-duration that is not a
        # multiple of the eval interval would otherwise shift the grid off
        # `end` and every run would look inactive
        for_steps = -(-max(for_ms, 0) // step_ms)  # ceil
        start = end - (for_steps + 4) * step_ms
        eng = PromQLEngine.from_storage(storage, start, end, step_ms)
        # intervals regardless of length — pending runs matter here too
        runs = alert_intervals_promql(eng, rule["expr"], for_ms=0).collect()
        active = [r for r in runs if r["end_ms"] == end]
        val_by: dict[tuple, float] = {}
        if active:
            # the expression VALUE at the newest evaluation, per series —
            # Prometheus serves the actual value and expands annotation
            # templates against it, not a placeholder
            from promhouse_spark.promql.alerts import instant_values

            veng = PromQLEngine.from_storage(
                storage, end, end, max(step_ms, 1)
            )
            val_by = instant_values(veng, rule["expr"])
        from promhouse_spark.promql.alerts import materialize_alerts
        from promhouse_spark.promql.templates import (
            expand_annotations,
            format_template_value,
        )

        start_by = {
            tuple(sorted((r["labels"] or {}).items())): r["start_ms"]
            for r in active
        }
        run_len = {
            tuple(sorted((r["labels"] or {}).items())):
            r["end_ms"] - r["start_ms"]
            for r in active
        }
        alerts = []
        for labels, series_labels, value in materialize_alerts(
            active, val_by, rule, rule["alert"]
        ):
            skey = tuple(sorted(series_labels.items()))
            state = "firing" if run_len[skey] >= for_ms else "pending"
            vstr = _format_value(value) if value is not None else "1"
            alerts.append(
                {
                    "labels": labels,
                    # $labels expands against the RAW series labels
                    # (rules/alerting.go smpl.Metric), $value like Go %v
                    "annotations": expand_annotations(
                        rule.get("annotations", {}),
                        series_labels,
                        format_template_value(value),
                    ),
                    "state": state,
                    "activeAt": start_by[skey] / 1000.0,
                    "value": vstr,
                }
            )
        return for_ms, alerts

    @app.get("/api/v1/rules")
    def rules_endpoint():
        want = request.values.get("type")  # alert | record | None
        groups = []
        has_alerts = any(
            "alert" in r for g2 in rule_groups for r in g2.get("rules", [])
        )
        if has_alerts:
            try:
                _require_frames()
            except _Unsupported as e:
                return _unsupported(e)
        for g in rule_groups:
            rendered = []
            for rule in g.get("rules", []):
                if "record" in rule:
                    if want == "alert":
                        continue
                    rendered.append(
                        {
                            "type": "recording",
                            "name": rule["record"],
                            "query": rule["expr"],
                            "health": "ok",
                            "labels": rule.get("labels", {}),
                        }
                    )
                else:
                    if want == "record":
                        continue
                    try:
                        # same eval interval as /api/v1/alerts — the two
                        # endpoints must agree on a rule's state
                        for_ms, alerts = _alert_status(
                            {**rule, "interval_ms": g.get("interval_ms", 60_000)}
                        )
                    except ValueError as e:
                        return _promql_error(e)
                    state = (
                        "firing"
                        if any(a["state"] == "firing" for a in alerts)
                        else "pending"
                        if alerts
                        else "inactive"
                    )
                    rendered.append(
                        {
                            "type": "alerting",
                            "name": rule["alert"],
                            "query": rule["expr"],
                            "duration": for_ms / 1000.0,
                            "state": state,
                            "alerts": alerts,
                            "health": "ok",
                            "labels": rule.get("labels", {}),
                            "annotations": rule.get("annotations", {}),
                        }
                    )
            groups.append(
                {
                    "name": g.get("name", ""),
                    "file": g.get("file", ""),
                    "interval": int(g.get("interval_ms", 60_000)) / 1000.0,
                    "rules": rendered,
                }
            )
        return {"status": "success", "data": {"groups": groups}}

    @app.get("/api/v1/alerts")
    def alerts_endpoint():
        out = []
        if any("alert" in r for g2 in rule_groups for r in g2.get("rules", [])):
            try:
                _require_frames()
            except _Unsupported as e:
                return _unsupported(e)
        for g in rule_groups:
            for rule in g.get("rules", []):
                if "alert" not in rule:
                    continue
                try:
                    _for, alerts = _alert_status(
                        {**rule, "interval_ms": g.get("interval_ms", 60_000)}
                    )
                except ValueError as e:
                    return _promql_error(e)
                out.extend(alerts)
        return {"status": "success", "data": {"alerts": out}}

    @app.get("/health")
    def health():
        return {"status": "ok"}

    @app.get("/metrics-lite")
    def metrics():
        return dict(counters)

    @app.get("/metrics")
    def metrics_prom():
        """Prometheus-scrapeable self-metrics: every reference storage is a
        prometheus.Collector (storages/base/base.go:39) and publishes e.g.
        promhouse_clickhouse_written_time_series (clickhouse.go:138-143,
        506-510); here the same counters render through the exposition
        renderer under the promhouse_spark namespace."""
        import time

        from promhouse_spark.edge.exposition import render_exposition
        from promhouse_spark.models import Label, Sample, TimeSeries

        now_ms = int(time.time() * 1000)
        series = [
            TimeSeries(
                labels=[Label("__name__", f"promhouse_spark_{name}")],
                samples=[Sample(value=float(v), timestamp_ms=now_ms)],
            )
            for name, v in sorted(counters.items())
        ]
        return Response(
            render_exposition(series), mimetype="text/plain; version=0.0.4"
        )

    return app

