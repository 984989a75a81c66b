"""Hand-computed pins for PromQL's extrapolated rate()/increase(), as
``PromQLEngine`` evaluates them (promql/engine.py:_extrapolated)."""

import pytest

from tests.fixtures import instant_at


def test_rate(spark):
    """A counter that starts at 0 extrapolates no further back than 0:
    head clamps to 0, tail 100 s (< 1.1 x 100 s) -> 30 x 2 over 300 s."""
    rows = [(1, 100_000, 0.0), (1, 200_000, 30.0)]
    assert instant_at(spark, rows, "increase(m[5m])", 300_000)["1"] == pytest.approx(60.0)
    assert instant_at(spark, rows, "rate(m[5m])", 300_000)["1"] == pytest.approx(0.2)


def test_rate_extrapolated_hand_computed(spark):
    """extrapolatedRate pins, per functions.go: boundary extrapolation,
    the zero-crossing head clamp, a counter reset, and a single sample."""
    rows = [
        # 1: head clamp fires (to_zero 1750 < to_start 2000)
        (1, 2000, 1.0), (1, 4000, 3.0), (1, 9000, 5.0),
        # 2: counter reset; the factor extrapolates to exactly 2x
        (2, 1000, 10.0), (2, 6000, 2.0),
        # 3: a single sample yields nothing
        (3, 5000, 7.0),
    ]
    inc = instant_at(spark, rows, "increase(m[10s])", 10_000)
    # 1: delta 4, sampled 7000, head min(2000, 7000*1/4) = 1750, tail 1000
    assert inc["1"] == pytest.approx(4 * 9750 / 7000)
    # 2: delta 2 (reset), head 1000, tail 4000 -> 2 * 10000/5000
    assert inc["2"] == pytest.approx(4.0)
    assert "3" not in inc
    rate = instant_at(spark, rows, "rate(m[10s])", 10_000)
    assert rate["1"] == pytest.approx(4 * 9750 / 7000 / 10)
    assert rate["2"] == pytest.approx(0.4)
