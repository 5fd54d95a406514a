import numpy as np
import pytest

import stats


@pytest.mark.parametrize("n", [1, 2, 5, 19, 20, 37, 200])
def test_percentile_matches_numpy_linear(n):
    xs = list(np.random.default_rng(n).random(n))
    for p in (0, 25, 50, 75, 90, 99, 100):
        assert stats.percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


@pytest.mark.parametrize(
    "n, want",
    [(0, None), (10, None), (19, None), (20, 50), (23, 50), (24, 60), (40, 75), (50, 80), (100, 90), (200, 95), (1000, 99)],
)
def test_highest_supported_percentile_keeps_ten_beyond(n, want):
    assert stats.highest_supported_percentile(n) == want


@pytest.mark.parametrize("n", [20, 21, 33, 40, 64, 100, 250, 1000])
def test_supported_percentile_has_ten_distinct_samples_beyond(n):
    xs = [float(i) for i in range(n)]  # distinct values: "beyond" is exact
    p = stats.highest_supported_percentile(n)
    assert stats.beyond(xs, p) >= stats.MIN_BEYOND
    higher = [q for q in stats.PERCENTILE_LADDER if q > p]
    assert all(stats.beyond(xs, q) < stats.MIN_BEYOND for q in higher)


def test_halves_ratio_flags_a_falling_curve():
    assert stats.halves_ratio([5.0, 4.8, 4.0, 4.0]) == pytest.approx(4.9 / 4.0)
    assert stats.halves_ratio([2.0, 2.0, 2.0]) == 1.0
    assert stats.halves_ratio([3.0]) == 1.0
