import statistics

import pytest

from perfbench.stats import BETTER, UNRESOLVED, WITHIN, WORSE, quartiles, spread, verdict


def test_quartiles_match_statistics_quantiles():
    xs = [3.1, 2.9, 3.4, 3.0, 3.3, 2.8, 3.2, 3.05, 2.95, 3.15]
    assert quartiles(xs) == tuple(statistics.quantiles(xs, n=4))
    assert quartiles([5.0]) == (5.0, 5.0, 5.0)


def test_spread_is_quartile_distance_over_median():
    xs = [1.0, 2.0, 3.0, 4.0, 5.0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert spread(xs) == pytest.approx((q3 - q1) / med)


PARENT = [10.0, 10.2, 9.9, 10.1, 10.0, 10.3, 9.8, 10.1, 10.0, 10.2]


def test_better_needs_nine_of_ten_pairs_and_a_gap_beyond_the_parent_spread():
    change = [v - 1.0 for v in PARENT]
    assert verdict(PARENT, change, 0.1) == BETTER
    # wins 8 of 10 pairs: not enough, and the medians are close
    close = [v - 0.05 for v in PARENT[:8]] + [v + 0.05 for v in PARENT[8:]]
    assert verdict(PARENT, close, 0.1) == WITHIN


def test_ties_count_for_neither_side():
    change = list(PARENT)
    change[0] -= 2.0
    assert verdict(PARENT, change, 0.1) == WITHIN


def test_worse_beyond_the_bound_and_higher_is_better():
    change = [v * 1.2 for v in PARENT]
    assert verdict(PARENT, change, 0.1) == WORSE
    assert verdict(PARENT, change, 0.1, lower_is_better=False) == BETTER
    assert verdict(PARENT, [v * 1.05 for v in PARENT], 0.1) == WITHIN


def test_wide_parent_spread_is_unresolved_unless_every_run_is_better():
    noisy = [5.0, 15.0, 6.0, 14.0, 7.0, 13.0, 8.0, 12.0, 9.0, 11.0]
    assert verdict(noisy, [v * 1.01 for v in noisy], 0.1) == UNRESOLVED
    # every change run beats every parent run, but the median gap (6.0) is
    # within the parent's quartile spread (6.5): no gain is claimed
    assert verdict(noisy, [4.0] * 10, 0.1) == WITHIN


def test_no_gain_is_claimed_from_fewer_than_ten_pairs():
    assert verdict(PARENT[:5], [v - 1.0 for v in PARENT[:5]], 0.1) == WITHIN


def test_verdict_rejects_unpaired_sets():
    with pytest.raises(ValueError):
        verdict([1.0, 2.0], [1.0], 0.1)
