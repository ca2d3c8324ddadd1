"""The percentile rule: a percentile is reported only when at least ten
samples lie beyond it."""

import pytest

import stats


def test_beyond_counts_samples_after_the_rank():
    assert stats.beyond(20, 50) == 10
    assert stats.beyond(100, 90) == 10
    assert stats.beyond(99, 90) == 9


@pytest.mark.parametrize("n,want", [
    (5, None), (19, None), (20, 50), (39, 50), (40, 75), (99, 75),
    (100, 90), (199, 90), (200, 95), (1000, 99),
])
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_nearest_rank_and_median():
    vals = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(vals, 50) == 3.0
    assert stats.nearest_rank(vals, 100) == 5.0
    assert stats.nearest_rank(vals, 1) == 1.0
    assert stats.median(vals) == 3.0
    assert stats.median([1.0, 2.0, 3.0, 4.0]) == 2.5


def test_summarize_reports_the_supported_tail():
    vals = [float(i) for i in range(1, 41)]
    s = stats.summarize(vals)
    assert s["n"] == 40 and s["p50"] == 20.5
    assert s["tail_pct"] == 75 and s["tail"] == 30.0
    assert sum(v > s["tail"] for v in vals) == 10
    short = stats.summarize([1.0, 2.0])
    assert short["tail_pct"] is None and short["tail"] is None


def test_empty_sample_is_an_error():
    with pytest.raises(ValueError):
        stats.median([])
