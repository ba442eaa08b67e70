"""Relational operators — the layer the reference delegates to pandas.

Reference parity (SURVEY.md §2.8): fletcher has **no** joins, windows,
sorts or set operations of its own; pandas supplies them through
``factorize``/``take`` (/root/reference/fletcher/base.py:1116,1528).
On Spark these are native Catalyst operators; this module adds the
scale-conscious wrappers (broadcast decisions, as-of join without an
O(n²) nested loop, sessionization without a global sort).

Scale notes:

* ``broadcast_right`` joins avoid shuffling the fact side entirely.
* ``asof_join`` uses the union+window technique: one shuffle on the
  ``by`` key, no range cross-product.  This is the standard way to do
  point-in-time joins on Spark (same idea as Flink's event-time join).
* ``sessionize`` is two window functions over (user, time) — the
  shuffle is on the user key, so skewed users are handled by AQE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def join(
    left: DataFrame,
    right: DataFrame,
    on,
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Join wrapper; ``broadcast_right=True`` pins a broadcast-hash join
    for dimension-sized right sides (skips the shuffle of ``left``)."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS semantics: rows of ``left`` with ≥1 match, left columns only."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS semantics."""
    return left.join(right, on, "left_anti")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    ts: str,
    by: str,
    right_cols: dict[str, str],
    tolerance: Column | None = None,
) -> DataFrame:
    """As-of (point-in-time) join: for each left row, attach the most
    recent right row with ``right.ts <= left.ts`` within the same ``by``
    group.

    Implementation: tag both inputs, union them, and run
    ``last(<right ROW as one struct>, ignorenulls=True)`` over a window
    partitioned by ``by`` and ordered by (ts, is_left) — right rows sort
    before left rows at equal timestamps, so "at or before" semantics
    hold.  One shuffle on ``by``; no range join, no cross product.  This
    is the plan that survives 100×: cost is a sort within each key group.

    The carried value is ONE struct of (right ts, right values), null
    only on left-tagged rows: the struct is non-null for every right row
    even when the right VALUE columns are null, so a matched row with a
    NULL value yields NULL — exactly DuckDB ``ASOF LEFT JOIN`` / pandas
    ``merge_asof``.  (Carrying each value through its own
    ``last(ignorenulls=True)`` — the pre-r10 form — silently skipped
    null-valued right rows, i.e. last-observation-carried-forward, a
    different operator; pinned by tests/test_asof_property.py.)

    ``right_cols`` maps right column → output alias.  ``tolerance``
    (same units as ``ts``) nulls matches older than ``left.ts -
    tolerance`` — pandas ``merge_asof(tolerance=...)`` semantics — a
    post-window mask on the struct's matched timestamp (no extra
    shuffle).  ``by`` keys are assumed non-null (entity keys): the
    window groups NULL keys into one partition, unlike SQL ``ON`` which
    never matches NULL.
    """
    lcols = left.columns
    r_struct = F.struct(
        F.col(ts).alias("__m_ts"),
        *[F.col(rc).alias(alias) for rc, alias in right_cols.items()],
    )
    r_tag = right.select(
        F.col(by),
        F.col(ts),
        F.lit(0).alias("__is_left"),
        r_struct.alias("__r"),
    )
    for c in lcols:
        if c not in (by, ts):
            r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    l_tag = left.withColumn("__is_left", F.lit(1)).withColumn(
        "__r", F.lit(None).cast(r_tag.schema["__r"].dataType)
    )
    unioned = l_tag.unionByName(r_tag)

    w = (
        Window.partitionBy(by)
        .orderBy(F.col(ts).asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = unioned.withColumn("__m", F.last("__r", ignorenulls=True).over(w)).filter(
        F.col("__is_left") == 1
    )
    matched = F.col("__m")
    if tolerance is not None:
        matched = F.when(
            F.col("__m.__m_ts") >= (F.col(ts) - tolerance), F.col("__m")
        )
    return out.select(
        *lcols, *[matched[a].alias(a) for a in right_cols.values()]
    )


def sessionize(
    df: DataFrame,
    ts: str,
    by: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign gap-based session ids per ``by`` key.

    ``session_id`` = cumulative count of "gap exceeded" flags in time
    order within the key — two window functions, one shuffle on the key.
    """
    order = [F.col(ts).asc()]
    w_lag = Window.partitionBy(by).orderBy(*order)
    w_cum = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ts_sec = F.col(ts).cast("timestamp").cast("double")
    prev = F.lag(ts_sec).over(w_lag)
    new_session = F.when(
        prev.isNull() | ((ts_sec - prev) > gap_seconds), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(session_col, F.sum(new_session).over(w_cum))
