import tracing


def span(name, start, end, parent=None, agg=None):
    return {"name": name, "start": start, "end": end, "parent": parent,
            "op": "1", "agg": agg or {}}


def test_self_time_subtracts_children_and_aggregates():
    spans = [
        span("view.write", 0.0, 10.0, agg={"functions.fingerprint": [5, 1.0]}),
        span("edge.decode", 1.0, 3.0, parent=0),
        span("storage.write", 2.5, 6.0, parent=0),  # overlaps the first child
        span("storage.append", 4.0, 5.0, parent=2),
    ]
    # children cover [1, 6]; aggregated calls 1.0
    assert tracing.self_time(spans, 0) == 10.0 - 5.0 - 1.0
    assert tracing.self_time(spans, 2) == 3.5 - 1.0
    assert tracing.has_ancestor(spans, 3, ("view.",))
    assert not tracing.has_ancestor(spans, 0, ("view.",))


def test_tracer_nests_spans_and_aggregates():
    t = tracing.Tracer()
    t.op = "4"
    inner = t.wrap_agg(lambda x: x + 1, "functions.fingerprint")
    outer = t.wrap_span(lambda: inner(1) + inner(2), "storage.write")
    gen = t.wrap_gen(lambda: iter([1, 2, 3]), "storage.iter_series")
    assert outer() == 5
    assert list(gen()) == [1, 2, 3]
    (s,) = t.spans
    assert s["name"] == "storage.write" and s["op"] == "4"
    assert s["agg"]["functions.fingerprint"][0] == 2
    assert t.op_agg["4"]["functions.fingerprint"][0] == 2
    # the call that creates the generator, 3 items, and the end
    assert t.op_agg["4"]["storage.iter_series"][0] == 5


def test_per_layer_joins_ops_spans_and_jobs():
    import eventlog
    import layers

    spans = [
        span("view.write", 0.0, 1.0),
        span("edge.decode_write", 0.1, 0.2, parent=0),
        dict(span("storage.write", 0.2, 0.9, parent=0,
                  agg={"functions.fingerprint": [2000, 0.05]}), new_series=200),
        span("storage.samples_append", 0.5, 0.8, parent=2),
    ]
    trace = {"spans": spans, "op_agg": {"1": {"functions.fingerprint": [2000, 0.05]}}}
    jobs = [eventlog.Job(0, "1", 100, 400, True, tasks=2, executor_cpu_ns=50_000_000),
            eventlog.Job(1, None, 0, 10, True, tasks=9)]  # untagged: not counted
    ops = [{"id": 1, "shape": "write", "timed": True, "latency_s": 1.2},
           {"id": 0, "shape": "write", "timed": False, "latency_s": 9.0}]
    metrics, detail = layers.per_layer(ops, trace, jobs, {"storage.files_per_write": 3.0})
    assert set(metrics) == {name for name, _, _ in layers.METRICS}
    assert abs(metrics["client.latency_ms"] - 1200) < 1e-6
    assert abs(detail["write.edge.http_ms"] - 200) < 1e-6
    assert abs(detail["write.edge.handler_self_ms"] - 200) < 1e-6  # 1.0 - [0.1, 0.9]
    assert abs(detail["write.edge.codec_ms"] - 100) < 1e-6
    assert abs(detail["write.storage.call_ms"] - 700) < 1e-6
    assert metrics["spark.jobs_per_op"] == 1 and metrics["spark.tasks_per_op"] == 2
    assert metrics["spark.job_ms_per_op"] == 300
    assert abs(metrics["driver_ms_per_op"] - 900) < 1e-6
    assert metrics["storage.files_per_write"] == 3.0
    assert metrics["workloads.eager_jobs_per_op"] == 0
    # storage.write self: 0.7 - child 0.3 - aggregated fingerprint 0.05
    assert abs(detail["write.storage.write_self_ms"] - 350) < 1e-6
    assert abs(detail["write.functions.fingerprint_ms"] - 50) < 1e-6
    assert detail["write.storage.new_series_per_op"] == 200


def test_per_layer_splits_analytics_build_from_exec():
    import eventlog
    import layers

    # job 0 is submitted while the query is built (an eager job), job 1 by
    # the noop save
    jobs = [eventlog.Job(0, "3", 1000, 1100, True, tasks=1),
            eventlog.Job(1, "3", 1300, 1500, True, tasks=4, executor_cpu_ns=80_000_000)]
    ops = [{"id": 3, "shape": "q1", "timed": True, "latency_s": 0.8,
            "build_s": 0.25, "exec_s": 0.55, "build_end_ms": 1200.0}]
    metrics, detail = layers.per_layer(ops, {"spans": [], "op_agg": {}}, jobs, {})
    assert metrics["workloads.eager_jobs_per_op"] == 1
    assert metrics["spark.jobs_per_op"] == 2 and metrics["spark.tasks_per_op"] == 5
    assert metrics["spark.job_ms_per_op"] == 300
    assert abs(metrics["driver_ms_per_op"] - 500) < 1e-6
    assert metrics["storage.files_per_write"] == 0
    assert abs(detail["q1.workloads.build_ms"] - 250) < 1e-6
    assert abs(detail["q1.workloads.exec_ms"] - 550) < 1e-6
    assert abs(detail["q1.spark.executor_cpu_ms_per_op"] - 80) < 1e-6
