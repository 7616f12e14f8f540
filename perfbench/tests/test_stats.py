import statistics

import pytest

from perfbench.stats import MIN_BEYOND, min_samples, percentile


def test_sample_count_rule_leaves_ten_beyond():
    assert min_samples(0.75) == 40
    assert min_samples(0.8) == 50
    assert min_samples(0.9) == 100
    assert min_samples(0.99) == 1000
    for q in (0.6, 0.75, 0.9, 0.95):
        n = min_samples(q)
        assert n * (1 - q) >= MIN_BEYOND - 1e-9
        assert (n - 1) * (1 - q) < MIN_BEYOND


def test_median_is_always_resolved():
    assert min_samples(0.5) == 1
    est = percentile([3.0], 0.5)
    assert est.resolved and est.value == 3.0 and est.n == 1


@pytest.mark.parametrize("q", [0.0, 1.0, -0.1, 1.5])
def test_percentile_outside_open_interval_rejected(q):
    with pytest.raises(ValueError):
        min_samples(q)


def test_resolved_percentiles_match_inclusive_quantiles():
    values = [float((7 * i) % 41) for i in range(40)]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    assert percentile(values, 0.5).value == pytest.approx(q2)
    assert percentile(values, 0.75).value == pytest.approx(q3)
    assert percentile(values, 0.5).value == statistics.median(values)


def test_too_few_samples_reports_the_maximum():
    values = [float(i) for i in range(39)]
    est = percentile(values, 0.75)
    assert not est.resolved
    assert est.value == 38.0 and est.n == 39
    assert "too few" in est.describe()


def test_enough_samples_interpolates():
    values = [float(i) for i in range(40)]
    est = percentile(values, 0.75)
    assert est.resolved
    assert est.value == pytest.approx(29.25)


def test_no_samples_raises():
    with pytest.raises(ValueError):
        percentile([], 0.5)
