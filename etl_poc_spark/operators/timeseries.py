"""Time-series regularization: dense time spines, gap filling, forward
fill, and interval rolling windows — the hypertable operations an events
warehouse runs before any charting or model-feature job (a day with zero
orders must EXIST as a zero row, and "7-day trailing revenue" must be
time-based, not row-based).

Scale shape: the spine is generated per group from that group's own
[min, max] span with `sequence()` + explode — pure codegen, no driver
loop, and no global spine join (a group active for a week doesn't join
against years of other groups' days). Gap filling is one left join of
spine against the (already aggregated, group×day cardinality) observed
frame; forward fill is `last(ignorenulls=True)` over the group window —
one shuffle on the group key serves the join, the fill, and any rolling
frames. Rolling windows order by an INTEGER day index and use
rangeBetween, which is engine-portable (DuckDB RANGE n PRECEDING) and
immune to calendar-interval ambiguity.

Numeric policy: aggregates entering windows accumulate in DECIMAL;
0-fills are exact literals; outputs cast to double once at the boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def day_index(ts_col: str | Column) -> Column:
    """Integer days since epoch — the portable window-ordering key."""
    c = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    return F.datediff(F.to_date(c), F.lit("1970-01-01")).cast("long")


def daily_spine(
    df: DataFrame, ts_col: str, group_cols: list[str]
) -> DataFrame:
    """One row per (group, day) for every day in THAT group's observed
    [min, max] span: per-group bounds aggregate -> sequence() -> explode.
    Spine size is sum of group spans, never n_groups x global span."""
    bounds = df.groupBy(*group_cols).agg(
        F.min(F.to_date(ts_col)).alias("__d0"),
        F.max(F.to_date(ts_col)).alias("__d1"),
    )
    return bounds.select(
        *group_cols,
        F.explode(
            F.sequence(F.col("__d0"), F.col("__d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )


def gap_fill_daily(
    observed: DataFrame,
    group_cols: list[str],
    day_col: str = "day",
    zero_cols: list[str] | None = None,
    ffill_cols: list[str] | None = None,
) -> DataFrame:
    """Densify an aggregated (group, day, metrics...) frame against each
    group's own day span: missing days appear with `zero_cols` filled to
    0 and `ffill_cols` carried forward from the last observed day (NULL
    before the first observation). One left join + one group-windowed
    pass."""
    spine = daily_spine(
        observed.select(*group_cols, F.col(day_col).cast("timestamp").alias("__ts")),
        "__ts",
        group_cols,
    ).withColumnRenamed("day", day_col)
    dense = spine.join(observed, [*group_cols, day_col], "left")
    out = dense
    for c in zero_cols or []:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    if ffill_cols:
        w = (
            Window.partitionBy(*group_cols)
            .orderBy(day_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for c in ffill_cols:
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out


def interpolate_daily(
    dense: DataFrame,
    group_cols: list[str],
    value_col: str,
    day_col: str = "day",
    out_col: str | None = None,
) -> DataFrame:
    """Linear interpolation of a sparse metric over an already-dense
    (group, day) frame: interior gap days get
    prev + (next-prev) * elapsed/span; days outside the first/last
    observation stay NULL (pure interpolation — pair with forward fill
    for edge-carrying semantics). Two group windows (backward last,
    forward first) on the same partitioning; the arithmetic is four IEEE
    ops on identical operands, engine-portable."""
    out_col = out_col or value_col
    di = day_index(F.col(day_col))
    wb = (
        Window.partitionBy(*group_cols)
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy(*group_cols)
        .orderBy(day_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    v = F.col(value_col)
    prev_v = F.last(value_col, ignorenulls=True).over(wb)
    prev_d = F.last(F.when(v.isNotNull(), di), ignorenulls=True).over(wb)
    next_v = F.first(value_col, ignorenulls=True).over(wf)
    next_d = F.first(F.when(v.isNotNull(), di), ignorenulls=True).over(wf)
    interp = prev_v + (next_v - prev_v) * (di - prev_d).cast("double") / (
        next_d - prev_d
    ).cast("double")
    return dense.withColumn(
        out_col,
        F.when(v.isNotNull(), v).otherwise(
            F.when(prev_v.isNotNull() & next_v.isNotNull(), interp)
        ),
    )


def rolling_window_agg(
    daily: DataFrame,
    group_cols: list[str],
    day_col: str,
    aggs: dict[str, Column],
    n_days: int,
) -> DataFrame:
    """Attach `n_days`-trailing (inclusive) aggregates to a (group, day)
    frame: rangeBetween(-(n_days-1), 0) over the integer day index — a
    TIME-based frame (sparse days contribute only existing rows), not a
    row-count frame. `aggs` maps output name -> aggregate Column over the
    input columns."""
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(day_index(F.col(day_col)))
        .rangeBetween(-(n_days - 1), 0)
    )
    out = daily
    for name, expr in aggs.items():
        out = out.withColumn(name, expr.over(w))
    return out
