import numpy as np
import pytest

from perfbench.stats import percentile, samples_beyond, tail_percentile, timing_summary


@pytest.mark.parametrize("q", [0, 10, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    xs = list(np.random.default_rng(0).random(37))
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_samples_beyond_counts_ranks_above_the_percentile():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(99, 90) == 9
    assert samples_beyond(1000, 99) == 10
    assert samples_beyond(20, 50) == 10


@pytest.mark.parametrize(
    "n, q",
    [(1, None), (99, None), (100, 90.0), (999, 90.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, q):
    assert tail_percentile(n) == q


def test_timing_summary_reports_tail_only_when_the_count_allows():
    assert timing_summary([3.0, 1.0, 2.0]) == {"n": 3, "p50": 2.0}
    s = timing_summary([float(i) for i in range(100)])
    assert s["n"] == 100 and s["p50"] == 49.5 and s["p90"] == pytest.approx(89.1)

