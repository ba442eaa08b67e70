"""Tests of the harness's pure logic; no SparkSession needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import stats  # noqa: E402
import workloads  # noqa: E402
from spark_status import metric_value, python_exec_metrics  # noqa: E402


def span(start, end, parent=-1):
    return SimpleNamespace(start=start, end=end, parent=parent)


# -- query order ----------------------------------------------------------

def test_same_seed_gives_same_order():
    names = [f"q{i}" for i in range(30)]
    assert stats.pass_order(names, 7, 3) == stats.pass_order(list(reversed(names)), 7, 3)


def test_order_is_a_permutation_that_varies_with_seed_and_pass():
    names = [f"q{i}" for i in range(30)]
    orders = {tuple(stats.pass_order(names, s, p)) for s in range(3) for p in range(3)}
    assert all(sorted(o) == sorted(names) for o in orders)
    assert len(orders) == 9


# -- percentiles ----------------------------------------------------------

def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert stats.percentile(xs, 0.5) == 50
    assert stats.percentile(xs, 0.9) == 90
    assert stats.percentile([3.0], 0.9) == 3.0


def test_tail_keeps_p90_when_ten_samples_lie_beyond_it():
    xs = list(range(1, 101))
    q, v = stats.tail_percentile(xs)
    assert (q, v) == (0.9, 90)
    assert stats.beyond(xs, v) == 10


def test_tail_lowers_the_percentile_until_ten_lie_beyond():
    xs = list(range(1, 41))  # p90 would leave only 4 beyond
    q, v = stats.tail_percentile(xs)
    assert stats.beyond(xs, v) >= 10
    assert stats.beyond(xs, stats.percentile(xs, q + 0.01)) < 10
    assert q == 0.75 and v == 30


def test_tail_counts_ties_as_not_beyond():
    xs = [1.0] * 30 + [2.0] * 15
    q, v = stats.tail_percentile(xs)
    assert v == 1.0 and stats.beyond(xs, v) == 15


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail_percentile(list(range(10)))


# -- self time --------------------------------------------------------------

def test_self_time_subtracts_direct_children_only():
    spans = [
        span(0.0, 10.0),  # root
        span(1.0, 4.0, parent=0),  # child
        span(2.0, 3.0, parent=1),  # grandchild: counts against the child only
        span(5.0, 6.0, parent=0),  # second child
    ]
    assert stats.self_times(spans) == pytest.approx([6.0, 2.0, 1.0, 1.0])


def test_self_time_counts_overlapping_children_once_and_clips_to_parent():
    spans = [span(0.0, 10.0), span(2.0, 6.0, 0), span(4.0, 8.0, 0), span(9.0, 12.0, 0)]
    assert stats.self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


# -- failure accounting ------------------------------------------------------

def test_failed_frac_counts_each_query_once():
    o = stats.Outcomes(["a", "b", "c", "d"])
    o.fail("a", "pass 0: raised")
    o.fail("a", "pass 1: raised")
    o.fail("c", "values differ from oracle")
    assert (o.attempted, o.failed, o.failed_frac) == (4, 2, 0.5)
    assert o.failures["a"] == "pass 0: raised"


def test_no_failures_is_zero():
    assert stats.Outcomes(["a"]).failed_frac == 0.0


# -- status-store parsing ------------------------------------------------------

@pytest.mark.parametrize(
    "text, value",
    [
        ("60,000", 60000.0),
        ("696 ms", 0.696),
        ("1.9 s", 1.9),
        ("1.5 m", 90.0),
        ("15.9 KiB", 15.9 * 1024),
        ("0.0 B", 0.0),
        ("total (min, med, max (stageId: taskId))\n2.0 s (0 ms, 1.0 s, 1.0 s (stage 3.0: task 7))", 2.0),
    ],
)
def test_metric_value(text, value):
    assert metric_value(text) == pytest.approx(value)


def test_python_metrics_only_from_python_nodes():
    dot = (
        '4 [id="node4" labelType="html" label="<b>FlatMapGroupsInPandas</b><br><br>'
        "time to run Python workers: 2.0 s<br>data returned from Python workers: 25.0 KiB<br>"
        "time to start Python workers: 1.3 s<br>time to initialize Python workers: 672 ms<br>"
        'data sent to Python workers: 15.9 KiB<br>number of output rows: 1,176" tooltip="x"];\n'
        '11 [id="node11" labelType="html" label="<b>Filter</b><br><br>'
        'number of output rows: 60,000" tooltip="y"];'
    )
    m = python_exec_metrics(dot)
    assert m["udf.rows"] == 1176
    assert m["udf.worker_run_s"] == pytest.approx(2.0)
    assert m["udf.worker_init_s"] == pytest.approx(0.672)
    assert m["udf.bytes_from_python"] == pytest.approx(25.0 * 1024)


# -- workloads ---------------------------------------------------------------

def test_workloads_are_disjoint_and_checked_against_the_registry():
    seen = set()
    for name, qs in workloads.WORKLOADS.items():
        assert not seen & set(qs), name
        seen |= set(qs)
        assert workloads.queries(name, qs) == sorted(qs)
    with pytest.raises(KeyError):
        workloads.queries("pipelines", ["ann_kmeans_train"])
