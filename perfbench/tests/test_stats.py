import pytest

from perfbench.stats import highest_supported, percentile, samples_beyond, supported


def test_percentile_needs_ten_samples_beyond():
    assert samples_beyond(100, 90) == 10
    assert supported(100, 90)
    assert not supported(99, 90)
    assert supported(20, 50) and not supported(19, 50)
    with pytest.raises(ValueError):
        percentile(list(range(99)), 90)


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 90) == 90
    assert percentile(list(reversed(xs)), 50) == 50


def test_highest_supported():
    assert highest_supported(60) == 75
    assert highest_supported(100) == 90
    assert highest_supported(1000) == 99
    assert highest_supported(15) is None
