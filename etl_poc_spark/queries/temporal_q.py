"""Temporal join queries: as-of join and range join over the TPC-H-ish
tables — operators Spark's API lacks as primitives, expressed Spark-first
(union + window for as-of; broadcast non-equi join for ranges) with exact
DuckDB oracles (ASOF JOIN / BETWEEN join) — plus the purchase-feature
as-of queries: the last purchase before each event (plain and hot-key
bucketed) and the time to the next one (forward direction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.operators.temporal import asof_join, asof_join_bucketed
from etl_poc_spark.registry import query


@query(
    "events_asof_click_view",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), views AS (
      SELECT user_id, ts, MAX(event_id) AS view_event_id
      FROM events WHERE event_type = 'view' GROUP BY user_id, ts
    )
    SELECT c.event_id,
           c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
           v.view_event_id AS asof_view_event_id,
           epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
    FROM clicks c
    ASOF LEFT JOIN views v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def events_asof_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: every click gets the latest at-or-before view of the same
    user (attribution's core primitive). Spark-first union + window — one
    shuffle on user_id, linear per-user scan; the right side is
    pre-aggregated to one row per (user, ts) so the match is deterministic,
    mirroring DuckDB ASOF semantics."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    views = views.withColumn("view_ts", F.col("ts"))  # carry the matched ts as payload
    joined = asof_join(clicks, views, by=["user_id"], right_cols=["view_event_id", "view_ts"])
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.date_format("asof_view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts"),
        "asof_view_event_id",
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_view_ts"))).alias("gap_us"),
    )


@query(
    "orders_price_band_range_join",
    oracle="""
    WITH bands(band, lo, hi) AS (
      VALUES ('small', 0.0, 50000.0), ('mid', 50000.0, 150000.0),
             ('large', 150000.0, 300000.0), ('jumbo', 300000.0, 1e12)
    )
    SELECT b.band,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM orders o JOIN bands b ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
)
def orders_price_band_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: orders against a small band dimension on a BETWEEN-style
    predicate. The band table broadcasts, so the non-equi join is a
    broadcast nested-loop over 4 rows — the right plan for interval dims
    (at scale, a larger interval table would be binned to convert this to
    an equi-join on bin id)."""
    o = load_table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("small", 0.0, 5e4), ("mid", 5e4, 1.5e5), ("large", 1.5e5, 3e5), ("jumbo", 3e5, 1e12)],
        "band string, lo double, hi double",
    )
    return (
        o.join(F.broadcast(bands), (o.o_totalprice >= bands.lo) & (o.o_totalprice < bands.hi))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
        )
    )


@query(
    "events_asof_next_error",
    oracle="""
    WITH clicks AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ), errors AS (
      SELECT user_id, ts, MAX(event_id) AS error_event_id
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    )
    SELECT c.event_id,
           c.user_id,
           e.error_event_id AS asof_error_event_id,
           epoch_us(e.ts) - epoch_us(c.ts) AS gap_us
    FROM clicks c
    ASOF LEFT JOIN errors e ON c.user_id = e.user_id AND c.ts <= e.ts
    """,
)
def events_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: every click gets the next at-or-after error of
    the same user (time-to-failure attribution). Identical union + window
    plan as the backward variant, with the frame looking ahead."""
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    errors = (
        e.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("error_event_id"))
        .withColumn("error_ts", F.col("ts"))
    )
    joined = asof_join(
        clicks, errors, by=["user_id"],
        right_cols=["error_event_id", "error_ts"], direction="forward",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_error_event_id"),
        (F.unix_micros(F.col("asof_error_ts")) - F.unix_micros(F.col("ts"))).alias("gap_us"),
    )


_ASOF_LAST_PURCHASE_ORACLE = """
    WITH u AS (
      SELECT user_id, ts, 0 AS is_left, event_id AS tb,
             CAST(NULL AS VARCHAR) AS etype,
             ts AS rts, CAST(value AS DECIMAL(18,2)) AS rval
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 1, NULL, event_type, NULL, NULL
      FROM events WHERE event_type <> 'purchase'
    ), c AS (
      SELECT etype, ts, is_left,
             last_value(rts IGNORE NULLS) OVER w AS mts,
             last_value(rval IGNORE NULLS) OVER w AS mval
      FROM u
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, is_left, tb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), m AS (
      SELECT etype,
             CASE WHEN mts IS NOT NULL
                   AND epoch_us(ts) - epoch_us(mts) <= 604800000000
                  THEN mval END AS v,
             CASE WHEN mts IS NOT NULL
                   AND epoch_us(ts) - epoch_us(mts) <= 604800000000
                  THEN epoch_us(ts) - epoch_us(mts) END AS gap_us
      FROM c WHERE is_left = 1
    )
    SELECT etype AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(v) AS BIGINT) AS n_matched,
           CAST(SUM(v) AS DOUBLE) AS matched_value,
           round(CAST(SUM(gap_us) AS DOUBLE)
                 / (CAST(COUNT(v) AS DOUBLE) * 1000000.0), 9) AS avg_gap_seconds
    FROM m GROUP BY etype ORDER BY etype
    """


def _asof_last_purchase(
    spark: SparkSession, sf_dir: str, bucket_seconds: int | None = None
) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        "event_id",
        F.col("value").cast("decimal(18,2)").alias("purchase_value"),
    )
    touches = e.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_type"
    )
    kwargs = dict(
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["purchase_value"],
        tolerance_seconds=7 * 86400,
        tiebreak_cols=["event_id"],
        include_matched_ts=True,
    )
    if bucket_seconds is None:
        joined = asof_join(touches, purchases, **kwargs)
    else:
        joined = asof_join_bucketed(
            touches, purchases, bucket_seconds=bucket_seconds, **kwargs
        )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("asof_matched_ts"))
    m = joined.select(
        "event_type",
        F.col("asof_purchase_value").alias("v"),
        F.when(F.col("asof_purchase_value").isNotNull(), gap_us).alias("gap_us"),
    )
    return (
        m.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("v").alias("n_matched"),
            F.sum("v").cast("double").alias("matched_value"),
            F.round(
                F.sum("gap_us").cast("double")
                / (F.count("v").cast("double") * F.lit(1000000.0)),
                9,
            ).alias("avg_gap_seconds"),
        )
    )


@query("events_asof_last_purchase", oracle=_ASOF_LAST_PURCHASE_ORACLE)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (operators/temporal.py): every non-purchase event
    gets the value of the user's most recent purchase at-or-before it,
    within a 7-day tolerance — the feature-engineering join every
    behavioral model wants ("context at event time"). The plan is ONE
    user shuffle (union-window carry, no interval theta-join); tolerance
    is a free post-filter in integer microseconds. The oracle mirrors the
    exact union-window ordering (ts, is_left, event_id tiebreak)."""
    return _asof_last_purchase(spark, sf_dir)


@query("events_asof_last_purchase_bucketed", oracle=_ASOF_LAST_PURCHASE_ORACLE)
def events_asof_last_purchase_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME as-of semantics through the hot-key-safe bucketed form
    (operators/temporal.py::asof_join_bucketed, bucket_seconds=86400):
    per-(user, day) windows plus a bucket-granular carry, so one whale
    user cannot serialize a task (straggler measurements: SCALING.md r11,
    SCALE_SMOKE_r11.json). Sharing the plain query's oracle IS the
    point — the mitigation is results-identical by construction, and
    this row makes that an engine-vs-DuckDB gate check rather than only
    a pytest property."""
    return _asof_last_purchase(spark, sf_dir, bucket_seconds=86400)


@query(
    "events_time_to_next_purchase",
    oracle="""
    WITH u AS (
      SELECT user_id, ts, 0 AS is_right, event_id AS tb,
             CAST(NULL AS VARCHAR) AS etype, ts AS rts
      FROM events WHERE event_type = 'purchase'
      UNION ALL
      SELECT user_id, ts, 1, NULL, event_type, NULL
      FROM events WHERE event_type <> 'purchase'
    ), c AS (
      SELECT etype, ts, is_right,
             first_value(rts IGNORE NULLS) OVER w AS mts
      FROM u
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY ts, (1 - is_right), tb
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    ), m AS (
      SELECT etype, epoch_us(mts) - epoch_us(ts) AS gap_us
      FROM c WHERE is_right = 1
    )
    SELECT etype AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(gap_us) AS BIGINT) AS n_converted,
           round(CAST(SUM(gap_us) AS DOUBLE)
                 / (CAST(COUNT(gap_us) AS DOUBLE) * 1000000.0), 9)
             AS avg_seconds_to_purchase
    FROM m GROUP BY etype ORDER BY etype
    """,
)
def events_time_to_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join (the direction the backward query doesn't
    cover): each non-purchase event gets the user's NEXT purchase at-or-
    after it — time-to-conversion, the latency readout behind every
    conversion-window choice. Same single union-window plan, frame
    flipped to look ahead; the oracle mirrors it with first_value IGNORE
    NULLS over the following frame. Unconverted touches (no later
    purchase) count in n_events but not n_converted."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    touches = e.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_type"
    )
    joined = asof_join(
        touches,
        purchases,
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=[],
        direction="forward",
        tiebreak_cols=["event_id"],
        include_matched_ts=True,
    )
    gap_us = F.unix_micros(F.col("asof_matched_ts")) - F.unix_micros(F.col("ts"))
    return (
        joined.select("event_type", gap_us.alias("gap_us"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("gap_us").alias("n_converted"),
            F.round(
                F.sum("gap_us").cast("double")
                / (F.count("gap_us").cast("double") * F.lit(1000000.0)),
                9,
            ).alias("avg_seconds_to_purchase"),
        )
    )
