"""Event/stream-shaped analytics over the `events` table (SURVEY.md §2.10).

These are batch formulations (hourly windows, sessionization, JSON
properties, pivots, time rollups, sliding windows), each one plan over the
finite table.

Timestamps in outputs are formatted to strings so the oracle comparison is
engine-representation-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query


@query(
    "events_hourly",
    oracle="""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch formulation): hour x event_type
    counts, exact decimal value sums, distinct users. One shuffle."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_k
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 JSON decode surface: extract a typed field from the JSON props
    column and aggregate it (integer-exact sum, single division)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k"),
    )


@query(
    "events_sessionize",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) > 1800 * 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM d
    GROUP BY user_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session counting with a 30-minute inactivity gap: lag + cumulative
    session starts. The batch analogue of F.session_window — one shuffle on
    user_id serves both the window and the final aggregation."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag(F.col("ts")).over(w)
    is_start = F.when(prev.isNull() | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1800 * 1_000_000), F.lit(1)).otherwise(F.lit(0))
    return (
        e.withColumn("is_start", is_start)
        .groupBy("user_id")
        .agg(F.sum("is_start").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


@query(
    "events_pivot_rates",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CASE WHEN SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) = 0 THEN 0.0
                ELSE CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS DOUBLE)
                     / SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) END AS click_through
    FROM events
    GROUP BY user_id
    """,
)
def events_pivot_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-count pivot (A2/A3-shaped): per-user event-type counts and
    an exact click-through ratio."""
    e = load_table(spark, sf_dir, "events")

    def cnt(t: str) -> F.Column:
        return F.sum(F.when(F.col("event_type") == t, F.lit(1)).otherwise(F.lit(0)))

    n_click, n_view = cnt("click").alias("n_click"), cnt("view").alias("n_view")
    return e.groupBy("user_id").agg(
        n_click,
        n_view,
        cnt("error").alias("n_error"),
    ).withColumn(
        "click_through",
        F.when(F.col("n_view") == 0, F.lit(0.0)).otherwise(F.col("n_click").cast("double") / F.col("n_view")),
    )


@query(
    "events_time_rollup",
    oracle="""
    SELECT CASE WHEN GROUPING(day) = 1 THEN 'all'
                WHEN GROUPING(hour) = 1 THEN 'day'
                WHEN GROUPING(minute) = 1 THEN 'hour' ELSE 'minute' END AS grain,
           COALESCE(minute, hour, day, 'total') AS bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (
      SELECT strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS minute,
             strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             value
      FROM events
    )
    GROUP BY ROLLUP (day, hour, minute)
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: one ROLLUP pass produces the
    minute, hour, day, and grand-total aggregates together (Spark plans a
    single shuffle with partial aggregation per grouping set — the batch
    equivalent of a continuous aggregate's refresh). At 100 TB the same
    query runs per time-chunk partition and unions, which is exactly how
    hypertable rollups shard."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.select(
        F.date_format(F.date_trunc("minute", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("minute"),
        F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        "value",
    )
    grain = (
        F.when(F.grouping("day") == 1, F.lit("all"))
        .when(F.grouping("hour") == 1, F.lit("day"))
        .when(F.grouping("minute") == 1, F.lit("hour"))
        .otherwise(F.lit("minute"))
    )
    return (
        keyed.rollup("day", "hour", "minute")
        .agg(
            grain.alias("grain"),  # grouping() is only legal inside the agg
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            "grain",
            F.coalesce("minute", "hour", "day", F.lit("total")).alias("bucket"),
            "n_events",
            "total_value",
        )
    )


@query(
    "events_sliding_windows",
    oracle="""
    WITH expanded AS (
      SELECT e.*,
             to_timestamp((CAST(floor(epoch(ts) / 900) AS BIGINT) - k.k) * 900) AS window_start
      FROM events e CROSS JOIN (SELECT unnest(range(4)) AS k) k
    )
    SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM expanded
    GROUP BY 1
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h window, 15min slide) in batch via the built-in
    F.window — each event lands in exactly 4 overlapping epoch-aligned
    windows (the oracle derives the same 4 starts arithmetically)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "n_events",
            "total_value",
        )
    )
