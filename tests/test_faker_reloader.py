"""Faker jitter rules (X9, faker.go:50-74) and multi-instance registry
convergence via reload (S7, clickhouse.go:155-204)."""

import math
import random

from promhouse_spark.edge.faker import fake_value, fan_out
from promhouse_spark.models import Query, make_matchers
from promhouse_spark.storage.parquet import SparkParquetStorage
from tests.fixtures import get_data, T0

import pytest

# slow tier (r12): reloader integration. The default tier keeps the operator unit
# nets, the compiled-engine compile/conformance nets, and the executed
# 101-query DuckDB oracle tail; run this file via `pytest -m slow`.
pytestmark = pytest.mark.slow



def test_fake_value_rules():
    rng = random.Random(1)
    assert math.isnan(fake_value(math.nan, rng))
    assert fake_value(math.inf, rng) == math.inf
    assert fake_value(0.0, rng) == 0.0
    assert fake_value(1.0, rng) == 1.0
    # integral stays integral, within ±10%
    for _ in range(50):
        v = fake_value(100.0, rng)
        assert v == int(v) and 90 <= v <= 110
    v = fake_value(2.5, rng)
    assert 2.25 <= v <= 2.75 and v != int(v)


def test_fan_out_deterministic_and_labeled():
    a = list(fan_out(get_data(), instances=3, seed=7))
    b = list(fan_out(get_data(), instances=3, seed=7))
    assert len(a) == 9
    assert [ts.labels for ts in a] == [ts.labels for ts in b]
    assert [s.value for ts in a for s in ts.samples] == [
        s.value for ts in b for s in ts.samples
    ]
    instances = {ts.labels_map()["instance"] for ts in a}
    assert instances == {"fake-0", "fake-1", "fake-2"}
    # different seed → different jitter
    c = list(fan_out(get_data(), instances=3, seed=8))
    assert [s.value for ts in a for s in ts.samples] != [
        s.value for ts in c for s in ts.samples
    ]


def test_registry_convergence_across_instances(spark, tmp_path):
    """Two engine instances over one storage root: B sees A's series after
    reload_registry() — the 5 s reloader's contract — while keeping its own
    unreloaded writes visible (read-your-own-writes)."""
    root = str(tmp_path / "shared")
    a = SparkParquetStorage(spark, root)
    b = SparkParquetStorage(spark, root)
    data = get_data()
    a.write(data[:1])
    a.flush()  # other instances see a's writes once a's head is flushed
    b.write(data[1:2])  # b doesn't know about a's series yet
    assert len(b.read([Query(T0 - 1000, T0 + 9000, ())])[0]) == 1
    b.reload_registry()
    res = b.read([Query(T0 - 1000, T0 + 9000, ())])[0]
    assert len(res) == 2  # a's series + b's own
    stop = b.start_reloader(interval_seconds=0.2)
    try:
        a.write(data[2:3])  # reaches b once a's head flushes by age
        import time

        deadline = time.time() + 10
        while time.time() < deadline:
            if len(b.read([Query(T0 - 1000, T0 + 9000, ())])[0]) == 3:
                break
            time.sleep(0.3)
        assert len(b.read([Query(T0 - 1000, T0 + 9000, ())])[0]) == 3
    finally:
        stop.set()
