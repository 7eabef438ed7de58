"""As-of join operators.

Generalizations of the reference's watermark lookup (``ORDER BY … DESC
LIMIT 1``, pipeline_architecture.py:136-137) per SURVEY.md §2.3/§2.5:
the single-group top-1 becomes ``row_number() over (partition by key
order by ts desc) = 1`` (``merge.precombine_batch``), and the as-of join
is its two-table form.

Scale: the as-of join below is the union-window trick — a single shuffle
on the join key, no range cross-product, which is what keeps it viable
when both sides are 100 TB-class.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _check_right_value_names(
    left: DataFrame, right_values: list[str]
) -> None:
    """As-of outputs are (all left columns) + (right_values unprefixed);
    a right value sharing a name with a left column would emit a
    duplicate column name — legal to construct, ambiguous at the first
    downstream reference. Fail at build time with the fix spelled out."""
    clash = [v for v in right_values if v in set(left.columns)]
    if clash:
        raise ValueError(
            f"right_values {clash} collide with left columns; alias them "
            "on the right side before the as-of join (e.g. "
            ".withColumnRenamed) so the output names are unambiguous"
        )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    *,
    tolerance_seconds: float | None = None,
) -> DataFrame:
    """As-of join: for each left row, attach the ``right_values`` of the
    latest right row with the same ``on`` key and ``right_ts <= left_ts``.

    Implemented with the union-window technique instead of a range join:
    tag both sides, union, then ``last(right_value, ignorenulls) over
    (partition by key order by ts, side)`` carries the most recent right
    value forward onto each left row. One shuffle on the key, linear in
    input size — no (left × right-within-range) blowup, so it scales to
    fact-fact sizes where a theta join would be quadratic.

    ``tolerance_seconds`` (pandas ``merge_asof(tolerance=...)``
    semantics): a match older than the tolerance is no match — its
    values null out. The matched right timestamp rides the same window
    carry, so the bound costs no extra shuffle. Units are seconds for
    timestamp columns (double cast) and raw column units for numeric
    ts columns.
    """
    _check_right_value_names(left, right_values)
    lcols = left.columns
    l_tag = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.lit(None).cast(right.schema[v].dataType).alias(f"__r_{v}") for v in right_values],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__r___mts"),
    )
    r_tag = right.select(
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in on],
        *[F.col(k) for k in on],
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.col(v).alias(f"__r_{v}") for v in right_values],
        F.col(right_ts).alias("__r___mts"),
    ).select(
        *[c for c in lcols], "__ts", "__side",
        *[f"__r_{v}" for v in right_values], "__r___mts",
    )
    unioned = l_tag.unionByName(r_tag)
    # Right rows (__side=0) sort before left rows at equal timestamps, so
    # a right row at exactly left_ts is visible to that left row (<=).
    w = (
        Window.partitionBy(*on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        *lcols,
        "__side",
        *[
            F.last(F.col(f"__r_{v}"), ignorenulls=True).over(w).alias(v)
            for v in right_values
        ],
        F.last(F.col("__r___mts"), ignorenulls=True).over(w).alias("__mts"),
    )
    out = carried.filter(F.col("__side") == 1).drop("__side")
    if tolerance_seconds is not None:
        in_tol = (
            F.col(left_ts).cast("double") - F.col("__mts").cast("double")
            <= F.lit(float(tolerance_seconds))
        )
        for v in right_values:
            out = out.withColumn(v, F.when(in_tol, F.col(v)))
    return out.drop("__mts")

def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_values: list[str],
    *,
    tiebreak: str | None = None,
) -> DataFrame:
    """FORWARD as-of join: for each left row, attach the ``right_values``
    of the EARLIEST right row with the same ``on`` key and
    ``right_ts >= left_ts`` — the mirror of :func:`asof_join` (next
    reading after an event, first fill after an order, time-to-next-
    touch attribution). Same union-window shape: one shuffle on the key,
    linear in input size, no range-join blowup.

    ``tiebreak``: a right column ordering concurrent right rows (equal
    ``right_ts``) deterministically — pass the right side's id column
    whenever timestamps can collide; without it Spark picks an arbitrary
    concurrent row (like any unordered first()).
    """
    _check_right_value_names(left, right_values)
    lcols = left.columns
    tb = [tiebreak] if tiebreak else []
    carried_cols = list(dict.fromkeys(right_values + tb))
    l_tag = left.select(
        *[F.col(c) for c in lcols],
        F.col(left_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        *[
            F.lit(None).cast(right.schema[v].dataType).alias(f"__r_{v}")
            for v in carried_cols
        ],
    )
    r_tag = right.select(
        *[
            F.lit(None).cast(left.schema[c].dataType).alias(c)
            for c in lcols
            if c not in on
        ],
        *[F.col(k) for k in on],
        F.col(right_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(v).alias(f"__r_{v}") for v in carried_cols],
    ).select(
        *[c for c in lcols], "__ts", "__side", *[f"__r_{v}" for v in carried_cols]
    )
    unioned = l_tag.unionByName(r_tag)
    # Left rows (__side=0) sort before right rows at equal timestamps, so
    # a right row at exactly left_ts is visible to that left row (>=);
    # the optional tiebreak orders concurrent right rows.
    order = [F.col("__ts").asc(), F.col("__side").asc()] + [
        F.col(f"__r_{tiebreak}").asc()
    ] * (1 if tiebreak else 0)
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = unioned.select(
        *lcols,
        "__side",
        *[
            F.first(F.col(f"__r_{v}"), ignorenulls=True).over(w).alias(v)
            for v in right_values
        ],
    )
    return carried.filter(F.col("__side") == 0).drop("__side")
