"""The percentile rule: quartiles as statistics.quantiles(n=4) gives them."""

import pytest

from stats import median, quartiles, spread


def test_quartiles_exclusive_method():
    assert quartiles(list(range(1, 11))) == (2.75, 5.5, 8.25)
    assert quartiles([4.0]) == (4.0, 4.0, 4.0)


def test_spread_is_quartile_distance_over_median():
    assert spread(list(range(1, 11))) == pytest.approx((8.25 - 2.75) / 5.5)
    assert spread([2.0, 2.0, 2.0]) == 0.0


def test_median():
    assert median([5.0, 1.0, 4.0, 2.0, 3.0]) == 3.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
