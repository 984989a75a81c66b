"""Per-layer metrics of a traced run.

Joins three records of the same run: the client's op list (id, shape,
latency), the server's spans (``tracing.Tracer.dump``) and Spark's jobs
(``eventlog.read_jobs``), all keyed by op id.

``METRICS`` are the per-layer metrics every traced run reports: means per
timed op over all of the workload's ops. Every time among them covers a
layer all three workloads load (the op as a whole, Spark's jobs, and the
driver time outside them), so that none reads a constant 0. The counts
also cover the store and the eager jobs of query builds; they read 0 on a
workload that has no store or builds no queries. The finer split (per op
shape, and the times of layers only some workloads load: ``edge``,
``functions``, ``storage``, ``promql``, ``workloads``) is reported as
detail, for the shapes the workload runs.
"""

from __future__ import annotations

import os

from eventlog import Job
from stats import union_length
from tracing import children, duration, has_ancestor, self_time

# (name, unit, better) of every per-layer metric, in report order
METRICS: list[tuple[str, str, str]] = [
    ("client.latency_ms", "ms", "lower"),
    ("driver_ms_per_op", "ms", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.job_ms_per_op", "ms", "lower"),
    ("spark.executor_cpu_ms_per_op", "ms", "lower"),
    ("spark.executor_run_ms_per_op", "ms", "lower"),
    ("spark.shuffle_bytes_per_op", "bytes", "lower"),
    ("workloads.eager_jobs_per_op", "count", "lower"),
    ("storage.files_per_write", "count", "lower"),
    ("storage.bytes_per_sample", "B/sample", "lower"),
]

EDGE_CODEC_SPANS = ("edge.decompress", "edge.decode_write", "edge.decode_read")
EDGE_CODEC_AGG = ("edge.encode_chunked", "edge.frame")


def store_counts(store: str, writes: int, samples: int) -> dict[str, float]:
    """Parquet files under the store per remote-write request that built
    it, and bytes of sample files per stored sample."""
    files, sample_bytes = 0, 0
    for dirpath, _, names in os.walk(store):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                if os.sep + "samples" in dirpath[len(store):]:
                    sample_bytes += os.path.getsize(os.path.join(dirpath, n))
    return {
        "storage.files_per_write": files / writes if writes else 0.0,
        "storage.bytes_per_sample": sample_bytes / samples if samples else 0.0,
    }


def _op_parts(op: dict, spans: list[dict], idxs: list[int], kids, agg: dict, jobs: list[Job]) -> dict:
    """Layer figures of one op: the ``METRICS`` ones and those of its
    shape."""
    lat = op["latency_s"] * 1000.0
    names = [spans[i]["name"] for i in idxs]

    def total(*wanted: str, outermost: bool = False) -> float:
        return 1000.0 * sum(
            duration(spans[i]) for i, n in zip(idxs, names)
            if n in wanted and not (outermost and has_ancestor(spans, i, (n,)))
        )

    def aggregated(*keys: str) -> float:
        return 1000.0 * sum(agg.get(k, (0, 0.0))[1] for k in keys)

    def self_of(prefix: str) -> float:
        return 1000.0 * sum(
            self_time(spans, i, kids) for i, n in zip(idxs, names) if n.startswith(prefix)
        )

    wall = union_length((j.submit_ms, j.end_ms) for j in jobs if j.end_ms >= 0)
    out = {
        "client.latency_ms": lat,
        "driver_ms_per_op": lat - wall,
        "spark.jobs_per_op": len(jobs),
        "spark.tasks_per_op": sum(j.tasks for j in jobs),
        "spark.job_ms_per_op": wall,
        "spark.executor_cpu_ms_per_op": sum(j.executor_cpu_ns for j in jobs) / 1e6,
        "spark.executor_run_ms_per_op": sum(j.executor_run_ms for j in jobs),
        "spark.gc_ms_per_op": sum(j.gc_ms for j in jobs),
        "spark.shuffle_bytes_per_op": sum(j.shuffle_write_bytes for j in jobs),
    }
    shape = op["shape"]
    if "build_s" in op:  # an analytics query: its build, then the noop save
        eager = [j for j in jobs if j.submit_ms <= op["build_end_ms"]]
        out.update({
            "workloads.eager_jobs_per_op": len(eager),
            "workloads.build_ms": op["build_s"] * 1000.0,
            "workloads.exec_ms": op["exec_s"] * 1000.0,
        })
        return out
    view_ms = 1000.0 * sum(
        duration(spans[i]) for i, n in zip(idxs, names) if n.startswith("view.")
    )
    out.update({
        "edge.http_ms": lat - view_ms,
        "edge.handler_self_ms": self_of("view."),
        "edge.codec_ms": total(*EDGE_CODEC_SPANS) + aggregated(*EDGE_CODEC_AGG),
        "storage.call_ms": total("storage.write") + aggregated("storage.iter_series"),
    })
    if shape == "write":
        out.update({
            "edge.write_decode_ms": total("edge.decompress", "edge.decode_write"),
            "functions.fingerprint_ms": aggregated(
                "functions.fingerprint", "functions.sort_labels"
            ),
            "storage.write_self_ms": self_of("storage.write"),
            "storage.registry_append_ms": total("storage.registry_append"),
            "storage.samples_append_ms": total("storage.samples_append"),
            "storage.new_series_per_op": sum(
                spans[i].get("new_series", 0) for i, n in zip(idxs, names)
                if n == "storage.write"
            ),
        })
    elif shape == "read":
        out.update({
            "edge.decode_ms": total("edge.decode_read"),
            "edge.encode_ms": aggregated(*EDGE_CODEC_AGG),
            "storage.iter_series_ms": aggregated("storage.iter_series"),
        })
    else:
        out.update({
            "promql.parse_ms": total("promql.parse", outermost=True),
            "promql.build_ms": total("promql.from_storage", "promql.eval", outermost=True),
            "promql.collect_ms": 1000.0 * sum(
                duration(spans[i]) for i, n in zip(idxs, names)
                if n == "spark.collect" and not has_ancestor(spans, i, ("promql.",))
            ),
        })
    return out


def _means(rows: list[dict]) -> dict[str, float]:
    keys = dict.fromkeys(k for r in rows for k in r)
    return {k: sum(r.get(k, 0.0) for r in rows) / len(rows) for k in keys}


def per_layer(
    ops: list[dict], trace: dict, jobs: list[Job], store: dict[str, float]
) -> tuple[dict[str, float], dict[str, float]]:
    """Over the timed ops of one run: (``METRICS`` name -> value,
    ``<shape>.<part>`` -> value for each shape the run has)."""
    spans, op_agg = trace["spans"], trace["op_agg"]
    kids = children(spans)
    by_op: dict[str, list[int]] = {}
    for i, s in enumerate(spans):
        by_op.setdefault(str(s["op"]), []).append(i)
    jobs_by_op: dict[str, list[Job]] = {}
    for j in jobs:
        jobs_by_op.setdefault(str(j.op), []).append(j)

    rows: dict[str, list[dict]] = {}
    for op in ops:
        if op["timed"]:
            key = str(op["id"])
            rows.setdefault(op["shape"], []).append(_op_parts(
                op, spans, by_op.get(key, []), kids, op_agg.get(key, {}),
                jobs_by_op.get(key, []),
            ))
    every = [r for rs in rows.values() for r in rs]
    overall = _means(every) if every else {}
    metrics = {name: store.get(name, overall.get(name, 0.0)) for name, _, _ in METRICS}
    detail = {
        f"{shape}.{k}": v for shape, rs in rows.items() for k, v in _means(rs).items()
    }
    return metrics, detail
