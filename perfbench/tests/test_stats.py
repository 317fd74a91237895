"""Unit tests for the benchmark's arithmetic.

Run with ``python3 -m pytest perfbench/tests -q`` from the repo root.
"""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import dashboards  # noqa: E402
import stats  # noqa: E402


class TestPercentile:
    def test_nearest_rank_returns_a_sample(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        assert stats.percentile(xs, 0.5) == 3.0
        assert stats.percentile(xs, 0.9) == 5.0
        assert stats.percentile(xs, 0.2) == 1.0
        assert stats.percentile(xs, 1.0) == 5.0

    def test_p90_of_hundred_is_ninetieth(self):
        xs = list(range(1, 101))
        assert stats.percentile(xs, 0.9) == 90
        assert stats.percentile(xs, 0.5) == 50

    def test_rank_is_not_bumped_by_float_error(self):
        assert stats.percentile(list(range(1, 11)), 0.7) == 7

    def test_even_count_median_is_lower_middle(self):
        assert stats.percentile([1.0, 2.0, 3.0, 4.0], 0.5) == 2.0

    def test_single_sample(self):
        assert stats.percentile([7.0], 0.9) == 7.0

    def test_rejects_empty_and_bad_p(self):
        with pytest.raises(ValueError):
            stats.percentile([], 0.5)
        with pytest.raises(ValueError):
            stats.percentile([1.0], 0.0)
        with pytest.raises(ValueError):
            stats.percentile([1.0], 1.5)


class TestMisses:
    def test_failures_raise_percentiles(self):
        ok = [1.0] * 9
        assert stats.percentile(ok, 0.9) == 1.0
        xs = stats.with_misses(ok, 1)
        assert stats.percentile(xs, 0.9) == 1.0
        assert stats.percentile(xs, 1.0) == math.inf
        xs = stats.with_misses(ok, 2)
        assert stats.percentile(xs, 0.9) == math.inf

    def test_failures_never_lower_the_median(self):
        fast_fail = stats.with_misses([1.0, 2.0, 3.0], 2)
        assert stats.percentile(fast_fail, 0.5) == 3.0

    def test_geomean_with_a_miss_is_a_miss(self):
        assert stats.geomean([1.0, math.inf]) == math.inf

    def test_per_group_geomean(self):
        groups = {"a": [1.0, 1.0, 100.0], "b": [4.0], "c": []}
        assert stats.per_group_geomean(groups, 0.5) == pytest.approx(2.0)
        assert stats.per_group_geomean(groups, 0.9) == pytest.approx(20.0)


class TestPooledPercentile:
    def test_pools_relative_samples_and_rescales(self):
        # medians 2 and 8 (geomean 4); relative samples pooled:
        # 0.5 1 1 1.5 | 0.5 1 1 2 -> p90 (rank 8 of 8) is 2
        groups = {"a": [1.0, 2.0, 2.0, 3.0], "b": [4.0, 8.0, 8.0, 16.0]}
        assert stats.pooled_percentile(groups, 0.9) == pytest.approx(8.0)
        assert stats.pooled_percentile(groups, 0.5) == pytest.approx(4.0)

    def test_mix_of_groups_does_not_move_it(self):
        fast, slow = [1.0, 1.0, 1.1], [10.0, 10.0, 11.0]
        one = stats.pooled_percentile({"a": fast, "b": slow}, 0.9)
        more_fast = stats.pooled_percentile({"a": fast * 3, "b": slow}, 0.9)
        assert one == pytest.approx(more_fast)

    def test_empty_groups_skipped_and_misses_count(self):
        assert stats.pooled_percentile({"a": [2.0], "b": []}, 0.9) == 2.0
        xs = stats.with_misses([1.0] * 9, 2)
        assert stats.pooled_percentile({"a": xs}, 0.9) == math.inf
        majority_failed = stats.with_misses([1.0], 2)
        assert stats.pooled_percentile({"a": majority_failed}, 0.5) == math.inf

    def test_relative_to_group_median(self):
        got = stats.relative_to_group_median(
            [("a", 2.0), ("b", 10.0), ("a", 4.0), ("a", 2.0), ("b", 5.0)]
        )
        assert got == [1.0, 2.0, 2.0, 1.0, 1.0]


class TestSelfTime:
    def test_no_children(self):
        assert stats.self_time(0.0, 5.0, []) == 5.0

    def test_nested_children(self):
        assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (4.0, 8.0)]) == 4.0

    def test_overlapping_children_count_once(self):
        # two children on other threads overlap during 2..3
        assert stats.self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0)]) == 7.0

    def test_child_outside_parent_is_clipped(self):
        assert stats.self_time(2.0, 6.0, [(0.0, 3.0), (5.0, 9.0)]) == 2.0

    def test_contained_child_counted_once(self):
        assert stats.self_time(0.0, 10.0, [(1.0, 9.0), (2.0, 3.0)]) == 2.0

    def test_union_length_ignores_empty(self):
        assert stats.union_length([(3.0, 3.0), (5.0, 4.0)]) == 0.0


class TestOpenLoop:
    def test_max_lateness(self):
        assert stats.max_lateness([(0.0, 0.0), (1.0, 1.5), (2.0, 2.2)]) == 0.5
        assert stats.max_lateness([]) == 0.0

    def test_due_times_are_fixed_rate(self):
        assert stats.due_times(100.0, 2.0, 107.0) == [
            100.0, 102.0, 104.0, 106.0,
        ]
        assert stats.due_times(100.0, 2.0, 100.0) == []


class TestCompletions:
    def test_whole_and_partial_requests(self):
        # one inside, one half in at each edge, one outside
        reqs = [(2.0, 4.0), (-1.0, 1.0), (9.0, 11.0), (12.0, 13.0)]
        assert stats.completions(reqs, 0.0, 10.0) == 2.0

    def test_ignores_empty_intervals(self):
        assert stats.completions([(1.0, 1.0)], 0.0, 10.0) == 0.0


class TestWindow:
    def test_thirds_ratio(self):
        assert stats.thirds_ratio([2.0] * 3 + [9.0] * 3 + [1.0] * 3) == 0.5
        assert stats.thirds_ratio([1.0, 2.0]) == 1.0

    def test_levelled(self):
        assert not stats.levelled([1.0], 0.1)
        assert stats.levelled([1.0, 1.05], 0.1)
        assert not stats.levelled([1.0, 0.8], 0.1)


class TestCompanion:
    def test_strips_tags_and_substitutes_variable(self):
        sql = (
            "SELECT date_trunc('day', ts)::XAXIS, count()::BARCHART AS n "
            "FROM events WHERE event_type = getvariable('etype')"
        )
        assert dashboards.companion(sql, "etype", "it's") == (
            "SELECT date_trunc('day', ts), count() AS n "
            "FROM events WHERE event_type = 'it''s'"
        )

    def test_rows_match_normalizes(self):
        import datetime as dt

        got = [[1704067200000, 3, 1.25]]
        want = [(dt.datetime(2024, 1, 1), 3, 1.25)]
        assert dashboards.rows_match(got, want)
        assert dashboards.rows_match([[1704067200000]], [(dt.date(2024, 1, 1),)])
        assert not dashboards.rows_match(got, want + want)
        assert not dashboards.rows_match([[1, 2, 3]], [(1, 2, 4)])
        assert not dashboards.rows_match([[1704067200001]], [(1704067200000,)])

    def test_decimals(self):
        assert dashboards.decimals(0.05) == 2
        assert dashboards.decimals(0.0512) == 4
        assert dashboards.decimals(12.0) == 0
        assert dashboards.decimals(1e-05) == 5
        assert dashboards.decimals(1.5e-07) == 8
        assert dashboards.decimals(1e16) == 0

    def test_rounded_column_allows_one_unit_in_last_place(self):
        # round(avg(l_discount), 4): the engines may round a tie apart
        want = [("A", 0.0512), ("N", 0.05)]
        assert dashboards.rows_match([["A", 0.0513], ["N", 0.0499]], want)

    def test_small_magnitude_mismatch_is_caught(self):
        want = [("A", 0.0512), ("N", 0.05)]
        # 20% off, and a small value against 0
        assert not dashboards.rows_match([["A", 0.0614], ["N", 0.05]], want)
        assert not dashboards.rows_match([["A", 0.0512], ["N", 0.0]], want)
        assert not dashboards.rows_match([[0.0]], [(0.005,)])

    def test_whole_numbers_compare_exactly(self):
        assert not dashboards.rows_match([[100.0]], [(101.0,)])
        assert not dashboards.rows_match([[100]], [(101,)])
        assert dashboards.rows_match([[100]], [(100.0,)])
        assert not dashboards.rows_match([[True]], [(1.0,)])
