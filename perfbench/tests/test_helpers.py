"""Pure helpers of the benchmark (no Spark)."""

import math

import pytest

from helpers import (
    attribute_jobs,
    fail_ratio,
    geomean,
    parse_metric_total,
    pass_order,
    self_time,
    space_amp,
    union_length,
)
from spantrace import Span, module_self_times


def test_geomean_weighs_each_slot_the_same():
    assert geomean([0.4, 12.0]) == pytest.approx(math.sqrt(4.8))
    # halving the short slot moves the mean as much as halving the long one
    assert geomean([0.2, 12.0]) == pytest.approx(geomean([0.4, 6.0]))
    with pytest.raises(ValueError):
        geomean([])
    with pytest.raises(ValueError):
        geomean([1.0, 0.0])


def test_union_length_merges_overlaps_and_ignores_empty():
    assert union_length([]) == 0
    assert union_length([(0, 2), (1, 3), (5, 6), (4, 4)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10


def test_self_time_with_overlapping_await_all_legs():
    # await_all span [0, 10] with three legs on pool threads; two overlap
    legs = [(1, 5), (2, 6), (8, 9)]
    assert self_time(0, 10, legs) == pytest.approx(10 - 5 - 1)
    # a child running past the parent's end is clipped to the parent
    assert self_time(0, 10, [(9, 12)]) == pytest.approx(9)


def test_module_self_times_nest_and_sum_by_module():
    spans = [
        Span(1, "plans.driver_queries", "build", 0.0, 10.0, None, "s"),
        Span(2, "concurrency", "await_all", 1.0, 7.0, 1, "s"),
        Span(3, "operators.search", "build_ranked_index", 1.0, 5.0, 2, "s"),
        Span(4, "operators.search", "bm25_search_many", 2.0, 6.0, 2, "s"),
        Span(5, "operators.text", "norm_tokens", 2.0, 3.0, 4, "s"),
    ]
    st = module_self_times(spans)
    assert st["plans.driver_queries"] == pytest.approx(4.0)
    assert st["concurrency"] == pytest.approx(1.0)  # legs cover [1, 6]
    assert st["operators.search"] == pytest.approx(4.0 + 3.0)
    assert st["operators.text"] == pytest.approx(1.0)
    # overlapping legs each keep their own time: 10 s of wall clock,
    # 13 s of layer time
    assert sum(st.values()) == pytest.approx(10.0 + (4 + 4 - 5))


def test_attribute_jobs_by_id_range_counts_every_thread():
    ranges = {"a": (0, 3), "b": (3, 9), "c": (9, 9)}
    got = attribute_jobs(ranges, [8, 0, 1, 2, 3, 4, 5, 6, 7, 12])
    assert got == {"a": [0, 1, 2], "b": [3, 4, 5, 6, 7, 8], "c": []}


def test_fail_ratio():
    assert fail_ratio(0, 9) == 0.0
    assert fail_ratio(1, 4) == 0.25
    with pytest.raises(ValueError):
        fail_ratio(0, 0)


def test_space_amp():
    assert space_amp(0, 1000) == 0.0
    assert space_amp(500, 1000) == 0.5
    assert space_amp(10, 0) == 0.0  # no input read: nothing to amplify


def test_pass_order_is_a_seeded_permutation():
    slots = [f"s{i}" for i in range(8)]
    a = pass_order(slots, 7, 0)
    assert sorted(a) == sorted(slots)
    assert a == pass_order(slots, 7, 0)
    assert a != pass_order(slots, 7, 1) or a != pass_order(slots, 8, 0)


def test_parse_metric_total():
    assert parse_metric_total("1,234") == 1234
    assert parse_metric_total("66.5 KiB") == pytest.approx(66.5 * 1024)
    assert parse_metric_total(
        "total (min, med, max (stageId: taskId))\n"
        "1.5 MiB (100.0 B, 1.0 KiB, 2.0 KiB (stage 3.0: task 7))"
    ) == pytest.approx(1.5 * 1024**2)
    assert parse_metric_total("") == 0.0


def test_spans_breakdown_sums_passes_and_subtracts_children():
    from spans import breakdown

    recs = []
    for p in (0, 1):
        recs += [
            {"pass": p, "id": 1, "parent": None, "slot": "s",
             "module": "plans.driver_queries", "name": "build",
             "start": 0.0, "end": 4.0},
            {"pass": p, "id": 2, "parent": 1, "slot": "s",
             "module": "operators.dedup", "name": "exact_dedup",
             "start": 1.0, "end": 2.0},
        ]
    got = breakdown(recs)["s"]
    assert got["plans.driver_queries.build"] == [2, 8.0, 6.0]
    assert got["operators.dedup.exact_dedup"] == [2, 2.0, 2.0]
