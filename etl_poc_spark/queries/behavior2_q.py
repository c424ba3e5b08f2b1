"""Round-9 analytics tier: generic as-of join, first-touch attribution,
market-basket association rules, end-to-end entity resolution, churn
hazard curves, and weekday-seasonality outliers.

Same oracle-exactness discipline as behavior_q: integer-microsecond time
math, DECIMAL accumulation, single fixed-order double divisions (plus
IEEE-correctly-rounded sqrt, the analytics_q precedent) at the output
boundary, deterministic tiebreaks everywhere a window or top-k cuts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.operators.behavior import association_rules, pps_systematic
from etl_poc_spark.registry import query


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
    from etl_poc_spark.operators.temporal import asof_join, asof_join_bucketed

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
    "purchase_attribution_first_touch",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ), t AS (
      SELECT user_id, ts, event_type, event_id
      FROM events WHERE event_type <> 'purchase'
    ), j AS (
      SELECT p.event_id AS pid, t.event_type AS channel,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY t.ts, t.event_id) AS rn
      FROM p JOIN t ON p.user_id = t.user_id
       AND t.ts < p.ts
       AND epoch_us(p.ts) - epoch_us(t.ts) <= 3600000000
    )
    SELECT COALESCE(j.channel, 'direct') AS channel,
           CAST(COUNT(*) AS BIGINT) AS n_purchases
    FROM p LEFT JOIN (SELECT pid, channel FROM j WHERE rn = 1) j
      ON p.event_id = j.pid
    GROUP BY COALESCE(j.channel, 'direct') ORDER BY channel
    """,
)
def purchase_attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each purchase credits the EARLIEST
    non-purchase event within the hour before it, else 'direct' — the
    complement of behavior_q's last-touch readout (the two bracket a
    position-based model). The candidate set is an equi-join on user_id
    with the hour bound as a pushed filter; per-user frames are
    entity-bounded, so the join never goes quadratic in events — and the
    row_number cut has an explicit event_id tiebreak in both engines."""
    e = load_table(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    t = e.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", F.col("event_type").alias("channel"), "event_id"
    )
    j = p.join(
        t,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("ts") < F.col("p_ts"))
        & (
            F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("ts"))
            <= 3_600_000_000
        ),
    )
    w = Window.partitionBy("pid").orderBy("ts", "event_id")
    first = (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("pid", "channel")
    )
    return (
        p.join(first, "pid", "left")
        .select(F.coalesce(F.col("channel"), F.lit("direct")).alias("channel"))
        .groupBy("channel")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )


@query(
    "part_association_rules",
    oracle="""
    WITH ol AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ol
    ), freq AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_part
      FROM ol GROUP BY l_partkey HAVING COUNT(*) >= 5
    ), fol AS (
      SELECT ol.l_orderkey, ol.l_partkey, freq.n_part
      FROM ol JOIN freq USING (l_partkey)
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_both,
             ANY_VALUE(a.n_part) AS n_a, ANY_VALUE(b.n_part) AS n_b
      FROM fol a JOIN fol b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT part_a, part_b, n_both,
           round(CAST(n_both AS DOUBLE) / (SELECT n_orders FROM n), 9)
             AS support,
           round(CAST(n_both AS DOUBLE) / n_a, 9) AS confidence,
           round(CAST(n_both * (SELECT n_orders FROM n) AS DOUBLE)
                 / CAST(n_a * n_b AS DOUBLE), 9) AS lift
    FROM pairs
    ORDER BY n_both DESC, part_a, part_b LIMIT 20
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts: the top
    20 pair counts with support, confidence(A->B), and lift, parts in
    >= 5 orders only (operators/behavior.py::association_rules)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        association_rules(li, "l_orderkey", "l_partkey", 5, 20)
        .withColumnsRenamed({"item_a": "part_a", "item_b": "part_b"})
        .orderBy(F.desc("n_both"), "part_a", "part_b")
    )


@query(
    "customer_entity_groups",
    oracle="""
    WITH RECURSIVE c AS (
      SELECT c_custkey, c_name,
             substr(c_name, 1, length(c_name) - 2) AS blk
      FROM customer
    ), pairs_q AS (
      SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
      FROM c a JOIN c b
        ON a.blk = b.blk AND a.c_custkey < b.c_custkey
       AND abs(length(a.c_name) - length(b.c_name)) <= 1
      WHERE levenshtein(a.c_name, b.c_name) <= 1
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs_q
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs_q
    ), nodes AS (
      SELECT DISTINCT src AS id FROM edges
    ), reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r
    ), comp AS (
      SELECT id, MIN(r) AS component FROM reach GROUP BY id
    )
    SELECT component, CAST(MIN(id) AS BIGINT) AS representative,
           CAST(COUNT(*) AS BIGINT) AS n_members
    FROM comp GROUP BY component
    """,
)
def customer_entity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy linkage pairs
    (operators/linkage.py, the customer_name_fuzzy_pairs shape) fed
    through connected components — pairs alone don't resolve entities;
    the transitive closure does (smith~smyth, smyth~smythe means all
    three are one customer). Output: one canonical entity per cluster
    with member counts, oracle-verified against a recursive CTE. The
    components loop is min-label propagation with early exit — same
    bounded machinery as near_dup_dedup_groups."""
    from etl_poc_spark.operators.dedup import dedup_representatives
    from etl_poc_spark.operators.linkage import blocked_fuzzy_pairs

    c = load_table(spark, sf_dir, "customer")
    pairs = blocked_fuzzy_pairs(
        c,
        id_col="c_custkey",
        name_col="c_name",
        block=F.expr("substring(c_name, 1, length(c_name) - 2)"),
        max_distance=1,
        max_block_size=10_000,
    ).select("id_a", "id_b")
    return dedup_representatives(pairs)


@query(
    "customer_order_hazard",
    oracle="""
    WITH cust AS (
      SELECT o_custkey,
             datediff('day', MIN(o_orderdate), MAX(o_orderdate)) // 30
               AS tenure_bucket
      FROM orders GROUP BY o_custkey
    ), buckets AS (
      SELECT tenure_bucket, CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM cust GROUP BY tenure_bucket
    )
    SELECT tenure_bucket, n_churned,
           CAST(SUM(n_churned) OVER (ORDER BY tenure_bucket DESC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS n_at_risk,
           round(CAST(n_churned AS DOUBLE)
                 / SUM(n_churned) OVER (ORDER BY tenure_bucket DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9)
             AS hazard
    FROM buckets ORDER BY tenure_bucket
    """,
)
def customer_order_hazard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete churn-hazard curve: customers bucketed by active tenure
    (30-day buckets between first and last order); hazard(m) = customers
    whose activity ENDED in bucket m over customers still active at m
    (the survival-analysis readout, division-free until one int/int
    boundary division). The at-risk denominator is a descending running
    sum over the BUCKET-grained frame — dozens of rows at any input
    scale, under a non-foldable single-group key."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(
        F.floor(
            F.datediff(F.max("o_orderdate"), F.min("o_orderdate")) / 30
        ).alias("tenure_bucket")
    )
    buckets = cust.groupBy("tenure_bucket").agg(
        F.count(F.lit(1)).alias("n_churned")
    )
    w = (
        Window.partitionBy(F.col("tenure_bucket").isNull())
        .orderBy(F.desc("tenure_bucket"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        buckets.select(
            "tenure_bucket",
            "n_churned",
            F.sum("n_churned").over(w).alias("n_at_risk"),
        )
        .select(
            "tenure_bucket",
            "n_churned",
            "n_at_risk",
            F.round(
                F.col("n_churned").cast("double") / F.col("n_at_risk"), 9
            ).alias("hazard"),
        )
    )


@query(
    "weekday_revenue_seasonality",
    oracle="""
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS r
      FROM orders GROUP BY o_orderdate
    ), mo AS (
      SELECT iso_dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             -- VARCHAR hop: DuckDB DECIMAL->DOUBLE is 1-2 ulp off past 2^53
             -- unscaled (s2's scale-4 square-sum crosses at sf1); see
             -- pricing_summary. String->double is correctly rounded.
             CAST(CAST(SUM(r) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(r * r AS DECIMAL(38,4))) AS VARCHAR) AS DOUBLE) AS s2
      FROM daily GROUP BY iso_dow
    )
    SELECT d.iso_dow, ANY_VALUE(m.n_days) AS n_days,
           round(ANY_VALUE(m.s1) / ANY_VALUE(m.n_days), 6) AS mean_revenue,
           round(sqrt((CAST(ANY_VALUE(m.n_days) AS DOUBLE) * ANY_VALUE(m.s2)
                       - ANY_VALUE(m.s1) * ANY_VALUE(m.s1))
                 / (CAST(ANY_VALUE(m.n_days) AS DOUBLE)
                    * CAST(ANY_VALUE(m.n_days) AS DOUBLE))), 6)
             AS stddev_revenue,
           CAST(SUM(CASE WHEN abs(CAST(d.r AS DOUBLE) - m.s1 / m.n_days)
                  > 2.0 * sqrt((CAST(m.n_days AS DOUBLE) * m.s2 - m.s1 * m.s1)
                        / (CAST(m.n_days AS DOUBLE) * CAST(m.n_days AS DOUBLE)))
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_outlier_days
    FROM daily d JOIN mo m ON d.iso_dow = m.iso_dow
    GROUP BY d.iso_dow ORDER BY d.iso_dow
    """,
)
def weekday_revenue_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly detection: daily order revenue compared
    to its own ISO-weekday population (Mondays vs Mondays) — days beyond
    2 population-sigma of their weekday mean flag as outliers. Moments
    accumulate as exact decimals; mean/sigma/threshold are the SAME
    fixed-order double formula in both engines (IEEE +,-,*,/,sqrt — the
    analytics_q determinism contract), so the flag counts hash-match.
    The weekday join attaches 7 baseline rows via broadcast; the expand
    is day-grained, never order-grained."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("r")
    ).select(
        "day",
        F.expr("extract(dayofweek_iso FROM day)").cast("int").alias("iso_dow"),
        "r",
    )
    mo = daily.groupBy("iso_dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("r").cast("double").alias("s1"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(38,4)")).cast("double").alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("s1") / F.col("n_days")
    sigma = F.sqrt((nd * F.col("s2") - F.col("s1") * F.col("s1")) / (nd * nd))
    j = daily.join(F.broadcast(mo), "iso_dow")
    return (
        j.groupBy("iso_dow")
        .agg(
            F.first("n_days").alias("n_days"),
            # round 6, not the house 9: daily revenue is ~1e6, so nine
            # decimals would need 16 significant digits — past double
            # precision, where the two engines' round() quantize apart
            F.round(F.first(mean), 6).alias("mean_revenue"),
            F.round(F.first(sigma), 6).alias("stddev_revenue"),
            F.sum(
                F.when(
                    F.abs(F.col("r").cast("double") - mean) > F.lit(2.0) * sigma, 1
                ).otherwise(0)
            ).alias("n_outlier_days"),
        )
    )


@query(
    "pps_token_sample",
    oracle="""
    WITH t AS (
      SELECT source, doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), w -> w <> ''))
               AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ), c AS (
      SELECT source, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY h
                                 ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(n_tokens) OVER (PARTITION BY source) AS total
      FROM t
    ), sel AS (
      SELECT source, n_tokens,
             ((cum * 10) // total) > (((cum - n_tokens) * 10) // total)
               AS picked
      FROM c WHERE total > 0
    )
    SELECT source,
           CAST(COUNT(*) FILTER (picked) AS BIGINT) AS n_selected,
           CAST(COALESCE(SUM(n_tokens) FILTER (picked), 0) AS BIGINT)
             AS tokens_selected,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_total
    FROM sel GROUP BY source ORDER BY source
    """,
)
def pps_token_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic probability-proportional-to-size sampling: per source,
    every document whose token mass crosses a tenth of the source's total
    in md5 order is picked (operators/behavior.py::pps_systematic); the
    rollup counts picked docs and tokens against the source's total."""
    from etl_poc_spark.functions.text import word_count

    d = load_table(spark, sf_dir, "documents")
    c = pps_systematic(d, word_count(F.col("text")), "doc_id", 10, "source")
    return c.groupBy("source").agg(
        F.count(F.when(F.col("__picked"), 1)).alias("n_selected"),
        F.coalesce(F.sum(F.when(F.col("__picked"), F.col("__w"))), F.lit(0)).alias(
            "tokens_selected"
        ),
        F.sum("__w").alias("tokens_total"),
    )


@query(
    "price_ks_two_segments",
    oracle="""
    WITH j AS (
      SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS v,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g1,
             CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS g2
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), pv AS (
      SELECT v, CAST(SUM(g1) AS BIGINT) AS a, CAST(SUM(g2) AS BIGINT) AS b
      FROM j GROUP BY v
    ), cdf AS (
      SELECT SUM(a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
             SUM(b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb,
             SUM(a) OVER () AS n1, SUM(b) OVER () AS n2
      FROM pv
    )
    SELECT CAST(ANY_VALUE(n1) AS BIGINT) AS n1,
           CAST(ANY_VALUE(n2) AS BIGINT) AS n2,
           CAST(MAX(abs(ca * n2 - cb * n1)) AS BIGINT) AS d_num,
           round(CAST(MAX(abs(ca * n2 - cb * n1)) AS DOUBLE)
                 / (CAST(ANY_VALUE(n1) AS DOUBLE) * ANY_VALUE(n2)), 9) AS ks
    FROM cdf
    """,
)
def price_ks_two_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between BUILDING and
    MACHINERY order prices — the nonparametric distribution-drift test
    beside the binned PSI readout. EXACT: D's numerator is the max of
    integer cross-products |CDF1*n2 - CDF2*n1| (no per-step float CDFs),
    with ONE double division at the end. The running CDFs are windows
    over the DISTINCT-price-grained frame under a non-foldable
    single-group key: 2-decimal prices in a fixed range are a bounded
    domain (~1e6 cells at any corpus size), the same bounded-frame
    justification as the exact-quantile tier."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = (
        o.join(c, o.o_custkey == c.c_custkey)
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("g1"),
            F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0).alias("g2"),
        )
    )
    pv = j.groupBy("v").agg(F.sum("g1").alias("a"), F.sum("g2").alias("b"))
    single = F.col("v").isNull()
    wcum = (
        Window.partitionBy(single)
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy(single)
    cdf = pv.select(
        F.sum("a").over(wcum).alias("ca"),
        F.sum("b").over(wcum).alias("cb"),
        F.sum("a").over(wall).alias("n1"),
        F.sum("b").over(wall).alias("n2"),
    )
    d_num = F.abs(F.col("ca") * F.col("n2") - F.col("cb") * F.col("n1"))
    return cdf.select(d_num.alias("d"), "n1", "n2").agg(
        F.first("n1").alias("n1"),
        F.first("n2").alias("n2"),
        F.max("d").alias("d_num"),
        F.round(
            F.max("d").cast("double")
            / (F.first("n1").cast("double") * F.first("n2")),
            9,
        ).alias("ks"),
    )


@query(
    "order_priority_mode_by_segment",
    oracle="""
    WITH cnt AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_orderpriority
    ), r AS (
      SELECT segment, priority, n,
             row_number() OVER (PARTITION BY segment
                                ORDER BY n DESC, priority) AS rn,
             CAST(SUM(n) OVER (PARTITION BY segment) AS BIGINT) AS n_total
      FROM cnt
    )
    SELECT segment, priority AS mode_priority, n AS n_mode, n_total,
           round(CAST(n AS DOUBLE) / n_total, 9) AS mode_share
    FROM r WHERE rn = 1 ORDER BY segment
    """,
)
def order_priority_mode_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact mode per group (most frequent order priority per segment,
    ties broken lexicographically so both engines pick the same value) —
    the categorical companion to the quantile tier. Shape: count-then-
    argmax, i.e. one groupBy to the (segment, priority) grain and a
    window over THAT aggregate — never a shuffle of raw orders past the
    first count. Spark's mode() aggregate is tie-nondeterministic, so
    the explicit row_number formulation is the portable one."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cnt = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("segment").orderBy(F.desc("n"), "priority")
    wt = Window.partitionBy("segment")
    return (
        cnt.select(
            "segment",
            "priority",
            "n",
            F.row_number().over(w).alias("rn"),
            F.sum("n").over(wt).alias("n_total"),
        )
        .where(F.col("rn") == 1)
        .select(
            "segment",
            F.col("priority").alias("mode_priority"),
            F.col("n").alias("n_mode"),
            "n_total",
            F.round(F.col("n").cast("double") / F.col("n_total"), 9).alias(
                "mode_share"
            ),
        )
    )


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
    from etl_poc_spark.operators.temporal import asof_join

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
