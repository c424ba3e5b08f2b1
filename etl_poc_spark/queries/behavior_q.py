"""Behavioral / entity-analytics tier: activity streaks, event-transition
matrices, last-touch attribution, RFM segmentation, time-weighted
averages, and blocked fuzzy record linkage.

All oracle-exact by the house arithmetic discipline: integer microsecond
time math, DECIMAL(18,2) value accumulation (events.value and TPC-H
prices are 2-decimal), single int/int or decimal/int double divisions at
the output boundary, and deterministic window orderings with explicit
tiebreaks. Reference parity: the reference has no event analytics; this
extends the engine's events/curation surface (SURVEY §2.10 and the
north-star training-pipeline tier).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.operators.behavior import (
    abc_classes,
    daily_streaks,
    grouping_sets,
    last_touch_attribution,
    rfm_scores,
    time_weighted_average,
    transition_matrix,
)
from etl_poc_spark.registry import query


@query(
    "user_daily_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ), isl AS (
      SELECT user_id, day,
             day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                        AS INTEGER) AS anchor
      FROM days
    ), runs AS (
      SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS run_len
      FROM isl GROUP BY user_id, anchor
    )
    SELECT user_id,
           CAST(MAX(run_len) AS BIGINT) AS longest_streak,
           CAST(SUM(run_len) AS BIGINT) AS n_active_days,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM runs GROUP BY user_id ORDER BY user_id
    """,
)
def user_daily_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of consecutive active
    days (operators/behavior.py::daily_streaks)."""
    return daily_streaks(load_table(spark, sf_dir, "events"), "user_id", "ts")


@query(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), t AS (
      SELECT prev_type AS from_type, event_type AS to_type,
             CAST(COUNT(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    ), totals AS (
      SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
      FROM t GROUP BY from_type
    )
    SELECT t.from_type, t.to_type, t.n_transitions,
           CAST(t.n_transitions AS DOUBLE) / tot.n_from AS p
    FROM t JOIN totals tot USING (from_type)
    ORDER BY t.from_type, t.to_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user event sequences
    (operators/behavior.py::transition_matrix)."""
    e = load_table(spark, sf_dir, "events")
    return transition_matrix(e, "user_id", "event_type", "ts", "event_id")


@query(
    "purchase_attribution_last_touch",
    oracle="""
    WITH seq AS (
      SELECT event_id, user_id, ts, event_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_type,
             last_value(CASE WHEN event_type <> 'purchase' THEN ts END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_ts
      FROM events
    )
    SELECT CASE WHEN prev_ts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(prev_ts) <= 3600000000
                THEN prev_type ELSE 'direct' END AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM seq WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY channel
    """,
)
def purchase_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the user's most
    recent non-purchase event within the hour before it, else 'direct'
    (operators/behavior.py::last_touch_attribution)."""
    e = load_table(spark, sf_dir, "events")
    return last_touch_attribution(
        e, "user_id", "event_type", "ts", "event_id", "purchase", 3600
    ).withColumnRenamed("n_conversions", "n_purchases")


@query(
    "customer_rfm_segments",
    oracle="""
    WITH m AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS recency,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS monetary
      FROM orders GROUP BY o_custkey
    ), scored AS (
      SELECT o_custkey,
             ntile(5) OVER (ORDER BY recency DESC, o_custkey) AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
             ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
      FROM m
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary quintiles per
    customer (operators/behavior.py::rfm_scores), rolled up to cell
    counts."""
    o = load_table(spark, sf_dir, "orders")
    scored = rfm_scores(o, "o_custkey", "o_orderdate", "o_totalprice", 5)
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "event_type_twap",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,2)) AS v,
             epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               - epoch_us(ts) AS dur_us
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(dur_us) AS BIGINT) AS n_weighted,
           round(CAST(SUM(CAST(v * dur_us AS DECIMAL(38,2))) AS DOUBLE)
             / CAST(SUM(dur_us) AS DOUBLE), 9) AS twap,
           round(CAST(SUM(CAST(v AS DECIMAL(38,2))) AS DOUBLE) / COUNT(v), 9) AS plain_mean
    FROM seq WHERE dur_us IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
)
def event_type_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event type, each value held until
    the user's next event (operators/behavior.py::time_weighted_average)."""
    e = load_table(spark, sf_dir, "events")
    return time_weighted_average(e, "user_id", "event_type", "ts", "value", "event_id")


@query(
    "customer_name_fuzzy_pairs",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name,
             substr(c_name, 1, length(c_name) - 2) AS blk
      FROM customer
    )
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS distance
    FROM c a JOIN c b
      ON a.blk = b.blk AND a.c_custkey < b.c_custkey
     AND abs(length(a.c_name) - length(b.c_name)) <= 1
    WHERE levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b
    """,
)
def customer_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy record linkage (operators/linkage.py): customer-name
    pairs within edit distance 1, candidate set bounded by a prefix
    block (name minus its last two characters) — the Fellegi-Sunter
    blocking shape: one hash shuffle on the block key, a two-int length
    prefilter, then Spark's codegen levenshtein verifies survivors. No
    all-pairs comparison anywhere; oversized blocks are excluded by the
    operator's cap rather than silently exploding."""
    from etl_poc_spark.operators.linkage import blocked_fuzzy_pairs

    c = load_table(spark, sf_dir, "customer")
    pairs = blocked_fuzzy_pairs(
        c,
        id_col="c_custkey",
        name_col="c_name",
        block=F.expr("substring(c_name, 1, length(c_name) - 2)"),
        max_distance=1,
    )
    return pairs.select(
        "id_a", "id_b", F.col("distance").cast("int").alias("distance")
    )


@query(
    "repeat_purchase_intervals",
    oracle="""
    WITH seq AS (
      SELECT o_custkey,
             date_diff('day',
                       lag(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    ), g AS (SELECT gap_days FROM seq WHERE gap_days IS NOT NULL),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM g),
    r AS (SELECT gap_days, row_number() OVER (ORDER BY gap_days) AS rn FROM g)
    SELECT (SELECT c FROM n) AS n_gaps,
           CAST(MIN(g.gap_days) AS BIGINT) AS min_gap_days,
           CAST(MAX(g.gap_days) AS BIGINT) AS max_gap_days,
           round(CAST(SUM(g.gap_days) AS DOUBLE) / (SELECT c FROM n), 9)
             AS mean_gap_days,
           CAST((SELECT gap_days FROM r, n WHERE rn = (50 * c + 99) // 100)
                AS BIGINT) AS p50_gap_days
    FROM g
    """,
)
def repeat_purchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval distribution: day gaps between each
    customer's consecutive orders (one lag window on the customer
    shuffle), summarized as min/mean/max plus the EXACT ceil-rank median
    via the 2-pass selector — integer day arithmetic throughout, one
    rounded double division. The repeat-behavior metric behind every
    retention model."""
    from etl_poc_spark.operators.pins import pin
    from etl_poc_spark.operators.quantiles import exact_quantiles_2pass

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # pinned: the lag-window frame feeds the 2-pass selector (two reads)
    # AND the summary aggregate — without the pin each consumer re-runs
    # the customer shuffle (3 shuffles of the orders table instead of 1)
    gaps = pin(
        o.select(
            F.datediff(
                F.col("o_orderdate"), F.lag("o_orderdate").over(w)
            ).alias("gap_days")
        )
        .where(F.col("gap_days").isNotNull())
    )
    [(p50,)] = (
        exact_quantiles_2pass(gaps, "gap_days", [50], scale=1, bin_width=64)
        .select("value")
        .collect()
    )
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
        F.round(
            F.sum("gap_days").cast("double") / F.count(F.lit(1)), 9
        ).alias("mean_gap_days"),
        F.lit(int(p50)).cast("long").alias("p50_gap_days"),
    )


@query(
    "nation_supplier_hhi",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    )
    SELECT n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_suppliers,
           round(CAST(SUM(CAST(rev.r * rev.r AS DECIMAL(38,4))) AS DOUBLE)
                 / (CAST(SUM(rev.r) AS DOUBLE) * CAST(SUM(rev.r) AS DOUBLE)),
                 9) AS hhi
    FROM rev JOIN nation n ON rev.s_nationkey = n.n_nationkey
    GROUP BY n.n_name ORDER BY n.n_name
    """,
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue per nation:
    HHI = sum(r_i^2) / (sum r_i)^2 — both moments accumulate as exact
    DECIMAL over the supplier-grained aggregate (order-independent), so
    the only float is ONE rounded division per nation. Dim-sized
    downstream: the lineitem scan collapses to per-supplier rows before
    anything else happens, and the nation dim broadcasts. The market-
    concentration screen a procurement or marketplace pipeline tracks."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("r"))
    )
    return (
        rev.join(F.broadcast(n), rev.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(
                F.sum((F.col("r") * F.col("r")).cast("decimal(38,4)")).cast("double")
                / (F.sum("r").cast("double") * F.sum("r").cast("double")),
                9,
            ).alias("hhi"),
        )
    )


@query(
    "segment_target_encoding",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS category,
             CAST(CAST('0x' || substr(md5(CAST(o.o_orderkey AS VARCHAR)), 1, 6)
                       AS INTEGER) % 4 AS INTEGER) AS fold,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS t
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
      SELECT category, fold, CAST(COUNT(*) AS BIGINT) AS n, SUM(t) AS s
      FROM j GROUP BY category, fold
    )
    SELECT category, fold, n,
           round(CAST(SUM(s) OVER (PARTITION BY category) - s AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY category) - n AS DOUBLE),
                 9) AS encoded
    FROM cells ORDER BY category, fold
    """,
)
def segment_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe out-of-fold target encoding
    (operators/encoding.py): mean order price per market segment,
    computed for each md5 fold from the OTHER folds only — the feature
    a training pipeline joins onto rows without leaking any row's own
    label. One scan builds the (category, fold) decimal cells; the
    complement means are windows over that 25-row frame. The md5 fold
    assignment makes the whole feature engine-exact."""
    from etl_poc_spark.operators.encoding import target_encode_cells

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("seg"), "o_totalprice", "o_orderkey"
    )
    return target_encode_cells(
        j, "seg", "o_totalprice", F.col("o_orderkey"), n_folds=4
    )


@query(
    "events_ab_test",
    oracle="""
    WITH arms AS (
      SELECT user_id,
             CAST(CAST('0x' || substr(md5('ab1' || CAST(user_id AS VARCHAR)), 1, 6)
                       AS INTEGER) % 2 AS INTEGER) AS arm,
             CAST(MAX(CASE WHEN event_type = 'purchase' AND value >= 90
                           THEN 1 ELSE 0 END) AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ), per_arm AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM arms GROUP BY arm
    ), wide AS (
      SELECT
        MAX(CASE WHEN arm = 0 THEN n_users END) AS n0,
        MAX(CASE WHEN arm = 0 THEN n_converted END) AS c0,
        MAX(CASE WHEN arm = 1 THEN n_users END) AS n1,
        MAX(CASE WHEN arm = 1 THEN n_converted END) AS c1
      FROM per_arm
    )
    , sd AS (
      SELECT *, sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                     * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                     * (1.0 / n0 + 1.0 / n1)) AS s
      FROM wide
    )
    SELECT n0, c0, n1, c1,
           round(CAST(c0 AS DOUBLE) / n0, 9) AS rate0,
           round(CAST(c1 AS DOUBLE) / n1, 9) AS rate1,
           CASE WHEN s > 0 THEN
             round((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0) / s, 9)
           END AS z_score
    FROM sd
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B analysis: users assigned to arms by the salted
    md5 bucket (the same deterministic assignment a real experiment
    platform persists), conversion = ever purchased, pooled two-sample
    z-score for the rate difference (conversion = any purchase over
    $90, so rates stay off the saturated boundary at small SFs; a
    degenerate pooled deviation yields NULL, never a divide error). Per-user conversion collapses on
    the user shuffle first, so the arm aggregate is user-grained; the
    z-score is integer ratios + ONE IEEE sqrt, rounded at the boundary —
    the same portability policy as the 3-sigma screen. The readout every
    experimentation pipeline computes."""
    from etl_poc_spark.operators.curation import hash_bucket

    e = load_table(spark, sf_dir, "events")
    arms = (
        e.groupBy("user_id")
        .agg(
            F.max(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("value") >= 90),
                    1,
                ).otherwise(0)
            ).alias("converted")
        )
        .select(
            hash_bucket(F.col("user_id"), 2, salt="ab1").alias("arm"),
            "converted",
        )
    )
    per_arm = arms.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").alias("n_converted"),
    )
    wide = per_arm.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_converted"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_converted"))).alias("c1"),
    )
    r0 = F.col("c0").cast("double") / F.col("n0")
    r1 = F.col("c1").cast("double") / F.col("n1")
    p = (F.col("c0") + F.col("c1")).cast("double") / (F.col("n0") + F.col("n1"))
    sd = F.sqrt(
        p * (1 - p) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    # a saturated or empty arm makes the pooled deviation 0: NULL z, not
    # a divide-by-zero (ANSI) or an engine-dependent infinity
    z = F.when(sd > 0, F.round((r1 - r0) / sd, 9))
    return wide.select(
        "n0", "c0", "n1", "c1",
        F.round(r0, 9).alias("rate0"),
        F.round(r1, 9).alias("rate1"),
        z.alias("z_score"),
    )


@query(
    "part_abc_classification",
    oracle="""
    WITH rev AS (
      SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, r,
             SUM(r) OVER (ORDER BY r DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum,
             SUM(r) OVER () AS total
      FROM rev
    ), classed AS (
      SELECT CASE WHEN cum * 5 <= total * 4 THEN 'A'
                  WHEN cum * 20 <= total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             r
      FROM ranked
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(r) AS DOUBLE) AS class_revenue
    FROM classed GROUP BY abc_class ORDER BY abc_class
    """,
)
def part_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: A = parts whose
    cumulative revenue share stays within 80%, B to 95%, C the tail
    (operators/behavior.py::abc_classes); the decimal class revenue is
    cast to double once, at the boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        abc_classes(li, "l_partkey", "l_extendedprice", 80, 95)
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("total_value").cast("double").alias("class_revenue"),
        )
    )


@query(
    "calendar_dim_2024",
    oracle="""
    WITH days AS (
      SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-12-31',
                                    INTERVAL 1 DAY))::DATE AS day
    )
    SELECT day,
           CAST(EXTRACT(year FROM day) AS INTEGER) AS year,
           CAST(EXTRACT(quarter FROM day) AS INTEGER) AS quarter,
           CAST(EXTRACT(month FROM day) AS INTEGER) AS month,
           CAST(EXTRACT(day FROM day) AS INTEGER) AS day_of_month,
           CAST(isodow(day) AS INTEGER) AS iso_dow,
           CAST(CASE WHEN isodow(day) >= 6 THEN 1 ELSE 0 END AS INTEGER)
             AS is_weekend,
           CAST(EXTRACT(week FROM day) AS INTEGER) AS iso_week,
           strftime(day, '%Y-%m') AS year_month
    FROM days ORDER BY day
    """,
)
def calendar_dim_2024(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generated calendar dimension (the spine every time-series join
    wants): one sequence+explode builds the year, calendar attributes
    are pure codegen date functions — ISO weekday/week so the semantics
    are engine-portable (dayofweek is Sunday-based in Spark, isodow in
    DuckDB; ISO on both sides sidesteps the off-by-one). Zero input
    tables, zero shuffles beyond the output sort."""
    days = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-12-31").cast("date"),
            )
        ).alias("day")
    )
    return days.select(
        "day",
        F.year("day").cast("int").alias("year"),
        F.quarter("day").cast("int").alias("quarter"),
        F.month("day").cast("int").alias("month"),
        F.dayofmonth("day").cast("int").alias("day_of_month"),
        F.expr("extract(dayofweek_iso FROM day)").cast("int").alias("iso_dow"),
        F.when(
            F.expr("extract(dayofweek_iso FROM day)") >= 6, 1
        ).otherwise(0).cast("int").alias("is_weekend"),
        F.weekofyear("day").cast("int").alias("iso_week"),
        F.date_format("day", "yyyy-MM").alias("year_month"),
    )


@query(
    "segment_year_grouping_sets",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS year,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT segment, year,
           CAST(GROUPING(segment) * 2 + GROUPING(year) AS INTEGER)
             AS grouping_id,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(p) AS DOUBLE) AS revenue
    FROM j
    GROUP BY GROUPING SETS ((segment, year), (segment), (year), ())
    ORDER BY grouping_id, segment, year
    """,
)
def segment_year_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The general GROUPING SETS form (beyond the cube/rollup queries):
    revenue at (segment, year), per-segment, per-year, and grand-total
    grains in ONE Expand + aggregate pass, with the standard grouping_id
    disambiguating real NULLs from rolled-up cells
    (operators/behavior.py::grouping_sets). Decimal revenue, cast at the
    boundary."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.year("o_orderdate").cast("int").alias("year"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    return grouping_sets(
        j,
        [["segment", "year"], ["segment"], ["year"], []],
        [F.count(F.lit(1)).alias("n_orders"), F.sum("p").cast("double").alias("revenue")],
    )


@query(
    "top_orders_per_segment_with_ties",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_orderkey,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), r AS (
      SELECT segment, o_orderkey, p,
             rank() OVER (PARTITION BY segment ORDER BY p DESC) AS rnk
      FROM j
    )
    SELECT segment, o_orderkey, CAST(p AS DOUBLE) AS totalprice,
           CAST(rnk AS INTEGER) AS rnk
    FROM r WHERE rnk <= 3 ORDER BY segment, rnk, o_orderkey
    """,
)
def top_orders_per_segment_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per segment WITH ties — rank(), not row_number(), so
    equal prices at the cut all survive (the per_group_quota sibling
    with the other tie semantics; both belong in a window surface).
    Same single entity shuffle; the exact DECIMAL ordering key makes tie
    groups engine-identical, which is what lets a ties-inclusive cut
    hash-match at all."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("p"),
    )
    w = Window.partitionBy("segment").orderBy(F.desc("p"))
    return (
        j.withColumn("rnk", F.rank().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "segment",
            "o_orderkey",
            F.col("p").cast("double").alias("totalprice"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


@query(
    "price_mad_outliers",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS s
      FROM orders WHERE o_totalprice IS NOT NULL
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM v),
    med AS (
      SELECT s AS m FROM (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM v), n
      WHERE rn = (50 * c + 99) // 100
    ), dev AS (
      SELECT abs(v.s - med.m) AS d, v.s, med.m FROM v, med
    ), mad AS (
      SELECT d AS md FROM (SELECT d, row_number() OVER (ORDER BY d) AS rn FROM dev), n
      WHERE rn = (50 * c + 99) // 100
    )
    SELECT (SELECT c FROM n) AS n_orders,
           CAST(ANY_VALUE(dev.m) AS DOUBLE) / 100 AS median_price,
           CAST(ANY_VALUE(mad.md) AS DOUBLE) / 100 AS mad,
           CAST(SUM(CASE WHEN abs(dev.s - dev.m) * 10 > mad.md * 50
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev, mad
    """,
)
def price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier screen — the robust sibling of
    the 3-sigma z-score (which a heavy tail corrupts, since mean AND
    std absorb the outliers they should flag): median via the exact
    2-pass selector, MAD as the median of |x - median| (second 2-pass
    over integer cents), and the outlier cut |x - med| > 5*MAD decided
    by an INTEGER cross-product (d*10 > mad*50) — no float boundary.
    Three bounded passes total, each the histogram-then-select shape."""
    from etl_poc_spark.operators.pins import pin
    from etl_poc_spark.operators.quantiles import exact_quantiles_2pass

    o = load_table(spark, sf_dir, "orders")
    s = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    v = pin(o.where(F.col("o_totalprice").isNotNull()).select(s.alias("s")))
    [(mval,)] = (
        exact_quantiles_2pass(v, "s", [50], scale=1, bin_width=5_000_000)
        .select("value").collect()
    )
    m = int(round(mval))
    dev = pin(v.select((F.abs(F.col("s") - m)).alias("d"), "s"))
    [(madval,)] = (
        exact_quantiles_2pass(dev, "d", [50], scale=1, bin_width=5_000_000)
        .select("value").collect()
    )
    mad = int(round(madval))
    return dev.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.lit(m).cast("double") / 100).alias("median_price"),
        (F.lit(mad).cast("double") / 100).alias("mad"),
        F.sum(
            F.when(F.abs(F.col("s") - m) * 10 > F.lit(mad) * 50, 1).otherwise(0)
        ).alias("n_outliers"),
    )


@query(
    "events_ab_cuped",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(CAST('0x' || substr(md5('ab1' || CAST(user_id AS VARCHAR)), 1, 6)
                       AS INTEGER) % 2 AS INTEGER) AS arm,
             SUM(CASE WHEN ts < TIMESTAMP '2024-01-08 00:00:00'
                      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS x,
             SUM(CASE WHEN ts >= TIMESTAMP '2024-01-08 00:00:00'
                       AND event_type = 'purchase'
                      THEN CAST(value AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS y
      FROM events GROUP BY user_id
    ), g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,4))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,4))) AS DOUBLE) AS sxx
      FROM u
    ), t AS (
      SELECT n, sx,
             (CAST(n AS DOUBLE) * sxy - sx * sy)
               / (CAST(n AS DOUBLE) * sxx - sx * sx) AS theta
      FROM g
    )
    SELECT u.arm,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           round(CAST(SUM(u.y) AS DOUBLE) / COUNT(*), 9) AS mean_y,
           round(CAST(SUM(u.y) AS DOUBLE) / COUNT(*)
                 - t.theta * (CAST(SUM(u.x) AS DOUBLE) / COUNT(*)
                              - t.sx / t.n), 9) AS adjusted_mean_y,
           round(t.theta, 9) AS theta
    FROM u, t GROUP BY u.arm, t.theta, t.sx, t.n ORDER BY u.arm
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for the A/B readout: per-arm purchase
    value in the post-period, adjusted by the pre-period covariate
    (theta = cov(x,y)/var(x) from the same exact decimal moment sums as
    the regression tier, one fixed-order double formula rounded at the
    boundary). The adjusted means move identically under the null but
    with the pre-period variance removed — the standard way experiment
    platforms cut required sample sizes. One user shuffle builds the
    covariate/metric frame; per-arm DECIMAL partial moment sums are
    combined into the global theta via an unpartitioned window over the
    2-row arm aggregate (the `nation_revenue_share` idiom) — no join,
    no BroadcastNestedLoopJoin, and decimal addition being exact makes
    the windowed global sums bit-identical to a whole-frame aggregate."""
    from pyspark.sql import Window

    from etl_poc_spark.operators.curation import hash_bucket

    e = load_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-08 00:00:00").cast("timestamp")
    zero = F.lit(0).cast("decimal(18,2)")
    u = (
        e.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("ts") < cutoff, F.col("value").cast("decimal(18,2)"))
                .otherwise(zero)
            ).alias("x"),
            F.sum(
                F.when(
                    (F.col("ts") >= cutoff) & (F.col("event_type") == "purchase"),
                    F.col("value").cast("decimal(18,2)"),
                ).otherwise(zero)
            ).alias("y"),
        )
        .select(hash_bucket(F.col("user_id"), 2, salt="ab1").alias("arm"), "x", "y")
    )
    # Per-arm partial sums stay decimal so the windowed global sums are
    # exact (decimal addition is associative); cast to double at the
    # same boundary the single-aggregate formulation used.
    per_arm = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("ax_dec"),
        F.sum("y").alias("ay_dec"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,4)")).alias("axy_dec"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,4)")).alias("axx_dec"),
    )
    # non-foldable single-group key (nation_revenue_share idiom): one
    # group over the 2-row arm frame, no no-partition WindowExec warning
    w = Window.partitionBy(F.col("arm").isNull())
    out = per_arm.select(
        "arm",
        "n_users",
        F.col("ax_dec").cast("double").alias("ax"),
        F.col("ay_dec").cast("double").alias("ay"),
        F.sum("n_users").over(w).alias("n"),
        F.sum("ax_dec").over(w).cast("double").alias("sx"),
        F.sum("ay_dec").over(w).cast("double").alias("sy"),
        F.sum("axy_dec").over(w).cast("double").alias("sxy"),
        F.sum("axx_dec").over(w).cast("double").alias("sxx"),
    )
    nd = F.col("n").cast("double")
    theta = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    out = out.withColumn("theta", theta)
    mean_y = F.col("ay") / F.col("n_users")
    mean_x = F.col("ax") / F.col("n_users")
    gmean_x = F.col("sx") / F.col("n").cast("double")
    return out.select(
        "arm",
        "n_users",
        F.round(mean_y, 9).alias("mean_y"),
        F.round(mean_y - F.col("theta") * (mean_x - gmean_x), 9).alias(
            "adjusted_mean_y"
        ),
        F.round("theta", 9).alias("theta"),
    )
