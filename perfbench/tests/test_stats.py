"""Percentile interpolation and tail-rung selection."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 75) == pytest.approx(3.25)
    assert stats.percentile([7.0], 90) == 7.0


def test_percentile_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n, rung", [
    (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9),
])
def test_tail_is_highest_rung_with_ten_samples_beyond(n, rung):
    assert stats.tail_percentile(n) == rung


def test_summarize_reports_rung_and_count_and_falls_back_to_max():
    few = stats.summarize([3.0, 1.0, 2.0])
    assert few == {"p50": 2.0, "tail": 3.0, "tail_pct": 100.0, "n": 3}
    many = stats.summarize([float(i) for i in range(40)])
    assert many["tail_pct"] == 75.0
    assert many["tail"] == pytest.approx(29.25)
    assert many["n"] == 40
