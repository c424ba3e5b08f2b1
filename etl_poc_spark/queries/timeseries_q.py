"""Time-series regularization queries (operators/timeseries.py) over the
orders table grouped by customer market segment: gap filling (every day
of each segment's span exists, zero-filled counts, forward-filled
price), and time-based 7-day trailing windows. Sums accumulate in
DECIMAL inside the windows; ratios are single divisions of exact
operands; the rolling frame orders by an integer day index so the RANGE
frame is engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query

_DAILY_SQL = """
      SELECT c.c_mktsegment AS segment, CAST(o.o_orderdate AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS rev_dec
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
"""

# daily plus each segment's dense day spine between its first and last day
_DAILY_SPINE_SQL = f"""WITH daily AS ({_DAILY_SQL}),
    bounds AS (
      SELECT segment, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY segment
    ), spine AS (
      SELECT segment, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    )"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.to_date("o_orderdate").alias("day"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev_dec"),
        )
    )


@query(
    "segment_daily_gapfill",
    oracle=f"""
    {_DAILY_SPINE_SQL}
    SELECT s.segment, s.day,
           COALESCE(d.n_orders, 0) AS n_orders,
           CAST(COALESCE(d.rev_dec, 0) AS DOUBLE) AS revenue,
           last_value(CAST(d.rev_dec AS DOUBLE) / d.n_orders IGNORE NULLS)
             OVER (PARTITION BY s.segment ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_avg_price
    FROM spine s LEFT JOIN daily d USING (segment, day)
    ORDER BY s.segment, s.day
    """,
)
def segment_daily_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-segment daily order series: every day of each segment's
    own [min, max] span exists (per-group spine — no group joins against
    another group's years), zero-gap counts and revenue, and the last
    observed average order price carried forward across gaps. One left
    join + one group window after the day-grain aggregate."""
    from etl_poc_spark.operators.timeseries import gap_fill_daily

    daily = _daily(spark, sf_dir).select(
        "segment",
        "day",
        "n_orders",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec").cast("double") / F.col("n_orders")).alias("last_avg_price"),
    )
    return gap_fill_daily(
        daily,
        group_cols=["segment"],
        zero_cols=["n_orders", "revenue"],
        ffill_cols=["last_avg_price"],
    )


@query(
    "segment_rolling_7day_revenue",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL})
    SELECT segment, day,
           CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(SUM(rev_dec) OVER w AS DOUBLE) AS rev_7d,
           CAST(SUM(n_orders) OVER w AS BIGINT) AS n_orders_7d
    FROM daily
    WINDOW w AS (PARTITION BY segment
                 ORDER BY day - DATE '1970-01-01'
                 RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY segment, day
    """,
)
def segment_rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-based trailing window: per segment and day, revenue plus the
    7-day (inclusive) trailing revenue and order count — rangeBetween
    over the integer day index, so calendar gaps contribute nothing and
    the frame is portable (DuckDB RANGE 6 PRECEDING). Decimal sums
    inside the window; doubles only at the boundary. Runs on the
    day-grain aggregate (segment x day cardinality), not raw orders."""
    from etl_poc_spark.operators.timeseries import rolling_window_agg

    daily = _daily(spark, sf_dir)
    rolled = rolling_window_agg(
        daily,
        group_cols=["segment"],
        day_col="day",
        aggs={
            "rev_7d_dec": F.sum("rev_dec"),
            "n_orders_7d": F.sum("n_orders"),
        },
        n_days=7,
    )
    return rolled.select(
        "segment",
        "day",
        F.col("rev_dec").cast("double").alias("revenue"),
        F.col("rev_7d_dec").cast("double").alias("rev_7d"),
        F.col("n_orders_7d").cast("bigint").alias("n_orders_7d"),
    )


@query(
    "segment_daily_interpolate",
    oracle=f"""
    {_DAILY_SPINE_SQL}, dense AS (
      SELECT s.segment, s.day,
             CAST(d.rev_dec AS DOUBLE) / d.n_orders AS avg_price,
             s.day - DATE '1970-01-01' AS di
      FROM spine s LEFT JOIN daily d USING (segment, day)
    ), w AS (
      SELECT segment, day, avg_price, di,
             last_value(avg_price IGNORE NULLS) OVER wb AS prev_v,
             last_value(CASE WHEN avg_price IS NOT NULL THEN di END IGNORE NULLS)
               OVER wb AS prev_d,
             first_value(avg_price IGNORE NULLS) OVER wf AS next_v,
             first_value(CASE WHEN avg_price IS NOT NULL THEN di END IGNORE NULLS)
               OVER wf AS next_d
      FROM dense
      WINDOW wb AS (PARTITION BY segment ORDER BY day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wf AS (PARTITION BY segment ORDER BY day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT segment, day,
           CASE WHEN avg_price IS NOT NULL THEN avg_price
                WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                THEN prev_v + (next_v - prev_v)
                     * CAST(di - prev_d AS DOUBLE) / CAST(next_d - prev_d AS DOUBLE)
                END AS avg_price
    FROM w
    ORDER BY segment, day
    """,
)
def segment_daily_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation of the per-segment daily average order price
    across gap days (operators/timeseries.py::interpolate_daily): interior
    gaps take the line between surrounding observations; edge days stay
    NULL (pure interpolation, the TimescaleDB convention). Two group
    windows on one segment shuffle; four IEEE ops on identical operands
    keep the doubles hash-exact."""
    from etl_poc_spark.operators.timeseries import gap_fill_daily, interpolate_daily

    daily = _daily(spark, sf_dir).select(
        "segment",
        "day",
        (F.col("rev_dec").cast("double") / F.col("n_orders")).alias("avg_price"),
    )
    dense = gap_fill_daily(daily, group_cols=["segment"])
    return interpolate_daily(dense, ["segment"], "avg_price").select(
        "segment", "day", "avg_price"
    )
