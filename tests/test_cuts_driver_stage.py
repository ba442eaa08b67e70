"""Differential pin for the ``materialize=True`` cut-point wrappers
(operators/agg.py).  Below the ``io.SMALL_INPUT_ROWS`` gate they solve
the value histogram on the driver (``_cuts_local``); above it, and for
NaN values, NULL keys and the 2^53 corner, they collect the lazy
``_cuts_by_key`` plan.  Every materialized ("staged": pinned on the
driver) result must equal the lazy ``materialize=False`` plan's output
EXACTLY, and forcing the gate to 0 must route through the lazy fallback
without changing a value.  Edge shapes covered: heavy ties, a constant
column, negative values, sub-coarse cardinality, the all-NULL metric, a
quote in a key, an int key, and the keyed face.
"""

from __future__ import annotations

import pytest

from fletcher_spark import io
from fletcher_spark.operators import agg as A
from fletcher_spark.operators.agg import (
    exact_cut_points,
    exact_cut_points_by_key,
    exact_cut_points_multi,
)


def _canon(rows):
    return sorted(
        tuple(
            tuple(c) if isinstance(c, list) else c
            for c in r
        )
        for r in rows
    )


@pytest.fixture
def lazy_calls(monkeypatch):
    """Count calls of the lazy ``_cuts_by_key`` plan, so a test can tell
    which tier a materialized wrapper took."""
    calls = []
    core = A._cuts_by_key

    def counted(*args, **kwargs):
        calls.append(args[1])
        return core(*args, **kwargs)

    monkeypatch.setattr(A, "_cuts_by_key", counted)
    return calls


VALS = [
    # (name, values)
    ("plain", [float(x) for x in range(1, 101)]),
    ("ties", [1.0] * 40 + [2.0] * 5 + [3.0] * 55),
    ("constant", [7.5] * 23),
    ("negative_span", [-50.0, -1.5, 0.0, 2.25, 1e9, -3.75] * 7),
    ("tiny", [4.0, 2.0]),
]


@pytest.mark.parametrize("name,vals", VALS, ids=[n for n, _ in VALS])
@pytest.mark.parametrize("k", [2, 4, 10])
def test_unkeyed_staged_equals_lazy(spark, name, vals, k, lazy_calls):
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    local = _canon(exact_cut_points(df, "x", k, n_coarse=8).collect())
    assert lazy_calls == []  # the default took the driver-local path
    lazy = _canon(
        exact_cut_points(df, "x", k, n_coarse=8, materialize=False).collect()
    )
    assert local == lazy


def test_unkeyed_all_null_staged_equals_lazy(spark):
    df = spark.createDataFrame([(None,), (None,)], "x double")
    lazy = _canon(
        exact_cut_points(df, "x", 4, n_coarse=8, materialize=False).collect()
    )
    local = _canon(exact_cut_points(df, "x", 4, n_coarse=8).collect())
    assert local == lazy


def test_keyed_staged_equals_lazy_including_quote_key(spark, lazy_calls):
    rows = [
        ("web", float(v)) for v in range(50)
    ] + [
        ("book's", float(v) * 3.5 - 7) for v in range(31)
    ] + [
        ("cc", 2.0) for _ in range(11)
    ]
    df = spark.createDataFrame(rows, "source string, x double")
    local = _canon(
        exact_cut_points_by_key(
            df, ["source"], "x", 4, n_coarse=8, materialize=True
        ).collect()
    )
    assert lazy_calls == []
    lazy = _canon(
        exact_cut_points_by_key(
            df, ["source"], "x", 4, n_coarse=8, materialize=False
        ).collect()
    )
    assert local == lazy


def test_multi_staged_equals_lazy_with_all_null_metric(spark, lazy_calls):
    rows = [(float(i), float(i % 7), None) for i in range(60)]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    local = _canon(
        exact_cut_points_multi(df, ["a", "b", "c"], 5, n_coarse=8).collect()
    )
    assert lazy_calls == []
    lazy = _canon(
        exact_cut_points_multi(
            df, ["a", "b", "c"], 5, n_coarse=8, materialize=False
        ).collect()
    )
    assert local == lazy


@pytest.mark.parametrize("name,vals", VALS, ids=[n for n, _ in VALS])
def test_local_fast_path_equals_forced_staged(
    spark, name, vals, monkeypatch, lazy_calls
):
    """Limit 0 ⇒ the materialized wrapper falls back to the collected
    lazy plan, and its result equals the driver-local one."""
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    local = _canon(exact_cut_points(df, "x", 4, n_coarse=8).collect())
    monkeypatch.setattr(io, "SMALL_INPUT_ROWS", 0)
    fallback = _canon(exact_cut_points(df, "x", 4, n_coarse=8).collect())
    assert lazy_calls == [()]
    assert local == fallback


def test_local_fast_path_keyed_equals_forced_staged(spark, monkeypatch, lazy_calls):
    rows = [(f"s{i % 3}", float(i) * 1.25 - 7) for i in range(91)]
    df = spark.createDataFrame(rows, "source string, x double")
    local = _canon(
        exact_cut_points_by_key(
            df, ["source"], "x", 4, n_coarse=8, materialize=True
        ).collect()
    )
    monkeypatch.setattr(io, "SMALL_INPUT_ROWS", 0)
    fallback = _canon(
        exact_cut_points_by_key(
            df, ["source"], "x", 4, n_coarse=8, materialize=True
        ).collect()
    )
    assert lazy_calls == [("source",)]
    assert local == fallback


def test_nan_values_fall_through_local_path(spark, lazy_calls):
    """NaN histogram values must bypass the local path (their global
    rank position is coarse-bucket-dependent); the lazy result is the
    contract either way."""
    vals = [1.0, 2.0, float("nan"), 3.0] * 5
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    materialized = _canon(exact_cut_points(df, "x", 4, n_coarse=8).collect())
    assert lazy_calls == [()]
    lazy = _canon(
        exact_cut_points(df, "x", 4, n_coarse=8, materialize=False).collect()
    )
    assert materialized == lazy


def test_non_string_key_falls_back_to_lazy_plan(spark, lazy_calls):
    """An int key: the materialized keyed wrapper equals the lazy plan.
    Without NULL keys it runs driver-local; a NULL key group sends it
    down the lazy fallback, which (like the lazy plan) has no row for
    the NULL key."""
    rows = [(i % 3, float(i)) for i in range(45)]
    for extra in ([], [(None, 1.5), (None, 9.0)]):
        df = spark.createDataFrame(rows + extra, "g int, x double")
        materialized = _canon(
            exact_cut_points_by_key(
                df, ["g"], "x", 4, n_coarse=8, materialize=True
            ).collect()
        )
        lazy = _canon(
            exact_cut_points_by_key(
                df, ["g"], "x", 4, n_coarse=8, materialize=False
            ).collect()
        )
        assert materialized == lazy
        assert len(lazy) == 3
    assert lazy_calls == [("g",), ("g",), ("g",)]
