import pytest

import stats


def test_nearest_rank_percentile():
    vals = list(range(1, 101))  # 1..100
    assert stats.percentile(vals, 50) == 50
    assert stats.percentile(vals, 90) == 90
    assert stats.percentile(vals, 100) == 100
    assert stats.percentile([7.0], 90) == 7.0
    assert stats.percentile([3, 1, 2], 50) == 2  # rank ceil(1.5) = 2


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 50)
    with pytest.raises(ValueError):
        stats.percentile([1], 0)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.tail_ok(100, 90)
    assert not stats.tail_ok(99, 90)
    assert not stats.tail_ok(20, 90)


def test_median():
    assert stats.median([5, 1, 3]) == 3
    assert stats.median([4, 1, 3, 2]) == 2.5


def test_windows():
    pts = [(-3.0, 10.0), (0.5, 1.0), (1.0, 3.0), (4.9, 2.0), (5.0, 8.0)]
    assert stats.windows(pts, 5.0) == [(-5.0, 1, 10.0), (0.0, 3, 2.0), (5.0, 1, 8.0)]


def test_union_length():
    assert stats.union_length([(3000, 3200), (3150, 3250), (4000, 4010)]) == 260
    assert stats.union_length([(5, 5), (2, 1)]) == 0
    assert stats.union_length([]) == 0
