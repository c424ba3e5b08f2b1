"""Analytics fill-ins: cube grouping sets, outer joins, TF-IDF.

TF-IDF is the Spark-ML-shaped text pipeline expressed relationally so it
stays oracle-checkable: tf = term count in doc, df = docs containing term,
idf = ln((N+1)/(df+1)) — the smoothed formulation. ln of identical doubles
is identical across engines; products of identical doubles likewise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query


@query(
    "cube_sales",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    """,
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full cube over (returnflag, linestatus): all 4 grouping sets in one
    pass (no rescans)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double").alias("sum_price"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_price",
            "n_rows",
        )
    )


@query(
    "customer_order_outer",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_customers_without_orders
    FROM customer c
    LEFT OUTER JOIN (SELECT o_custkey, MIN(o_orderkey) AS o_orderkey FROM orders
                     WHERE o_totalprice > 400000 GROUP BY o_custkey) o
      ON c.c_custkey = o.o_custkey
    FULL OUTER JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def customer_order_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join surface (left outer + full outer): customers with/without
    big orders per nation; nations with no customers survive the full join."""
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .groupBy("o_custkey")
        .agg(F.min("o_orderkey").alias("o_orderkey"))
    )
    n = load_table(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"), "full_outer")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.when(F.col("o_orderkey").isNull(), 1).otherwise(0)).alias("n_customers_without_orders"),
        )
    )


@query(
    "tf_idf_top_terms",
    oracle="""
    WITH w AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      FROM documents WHERE trim(text) <> ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM w GROUP BY doc_id, term
    ), df AS (
      SELECT term, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, term FROM w) GROUP BY term
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n_docs FROM w
    ), scored AS (
      SELECT tf.doc_id, tf.term,
             round(tf.tf * ln((n.n_docs + 1.0) / (df.df + 1.0)), 9) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ), ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf, rn FROM ranked WHERE rn <= 3 AND doc_id < 100
    """,
)
def tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-3 terms per document (first 100 docs): tokenize -> tf ->
    df (broadcast — vocabulary is small relative to the corpus) -> smoothed
    idf -> per-doc top-k. The df table is the only global aggregate; at
    100 TB it's a ~vocabulary-sized broadcast."""
    d = load_table(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    w = d.select("doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("term"))
    tf = w.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_t = w.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = w.select("doc_id").distinct().count()
    scored = tf.join(F.broadcast(df_t), "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log((F.lit(n_docs) + F.lit(1.0)) / (F.col("df") + F.lit(1.0))), 9).alias("tfidf"),
    )
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term")))
    return (
        scored.withColumn("rn", rn)
        .filter((F.col("rn") <= 3) & (F.col("doc_id") < 100))
        .select("doc_id", "term", "tfidf", "rn")
    )


# the five exact decimal moment sums of (x = quantity, y = price) per
# return flag, shared by the correlation and regression queries
_MOMENTS_SQL = """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy
      FROM lineitem GROUP BY l_returnflag
    )"""


def _moment_sums(spark: SparkSession, sf_dir: str) -> tuple:
    """_MOMENTS_SQL's `s` frame, plus n as a double and the n-scaled
    covariance and the two variances over its columns."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(18,2)")
    y = F.col("l_extendedprice").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).cast("double").alias("sx"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(x * y).cast("double").alias("sxy"),
        F.sum(x * x).cast("double").alias("sxx"),
        F.sum(y * y).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    cov_n = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    var_x_n = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y_n = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return s, nd, cov_n, var_x_n, var_y_n


@query(
    "price_quantity_correlation",
    oracle=_MOMENTS_SQL
    + """
    SELECT l_returnflag, n,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx)
                * sqrt(CAST(n AS DOUBLE) * syy - sy * sy)), 12) AS corr_qty_price,
           round((CAST(n AS DOUBLE) * sxx - sx * sx)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 9) AS var_pop_qty,
           round(sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))), 9) AS stddev_pop_qty
    FROM s
    """,
)
def price_quantity_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population variance/stddev per return flag —
    the corr/covar/stddev analytics tier, HASH-EXACT across engines:
    every sum (x, y, xy, x^2, y^2) accumulates in DECIMAL (exact,
    order-independent), is cast to double ONCE, and the closing formula
    uses only IEEE-deterministic ops — +,-,*,/ and sqrt, which IEEE 754
    requires to be correctly rounded (unlike ln/exp, which the engine
    bans from oracle paths). One residual cross-engine hazard remains:
    the scale-4 moment sums exceed 2^53 in integer units, so the
    decimal->double CAST itself can land one ulp apart between engines —
    the final values are rounded (12/9 places) to absorb exactly that,
    the same policy as price_quantiles. Built-in corr()/stddev() stream
    float accumulators whose partial-merge order varies by partitioning —
    fine numerically, but not bit-reproducible; this formulation is. One
    groupBy with map-side combine; the moment sums are the mergeable
    sketch (same pattern the incremental rollup store would persist)."""
    s, nd, cov_n, varx_n, vary_n = _moment_sums(spark, sf_dir)
    return s.select(
        "l_returnflag",
        "n",
        F.round(cov_n / (F.sqrt(varx_n) * F.sqrt(vary_n)), 12).alias("corr_qty_price"),
        F.round(varx_n / (nd * nd), 9).alias("var_pop_qty"),
        F.round(F.sqrt(varx_n / (nd * nd)), 9).alias("stddev_pop_qty"),
    )


@query(
    "customer_cohort_retention",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(date_trunc('month', o_orderdate)) AS cohort_month
      FROM orders GROUP BY o_custkey
    )
    SELECT f.cohort_month,
           (EXTRACT(year FROM o.o_orderdate) - EXTRACT(year FROM f.cohort_month)) * 12
             + (EXTRACT(month FROM o.o_orderdate) - EXTRACT(month FROM f.cohort_month))
             AS month_offset,
           COUNT(DISTINCT o.o_custkey) AS active_customers
    FROM orders o JOIN firsts f USING (o_custkey)
    GROUP BY f.cohort_month, month_offset
    ORDER BY f.cohort_month, month_offset
    """,
)
def customer_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers grouped by first-order month,
    counted as active at each month offset — the classic product-analytics
    triangle. The month offset is integer year/month arithmetic (never
    months_between's fractional double), so every cell is count-exact.

    Two shuffles total: the first-order aggregate (groupBy custkey, map-
    side combined) joins back on custkey — same decorrelation shape as
    small_qty_part_revenue — then the matrix aggregate. At 100 TB the
    firsts frame is one row per customer; the join shuffles on custkey
    and AQE handles any hot-customer skew."""
    o = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate"))
    firsts = o.groupBy("o_custkey").agg(F.min(month).alias("cohort_month"))
    offset = (F.year("o_orderdate") - F.year("cohort_month")) * 12 + (
        F.month("o_orderdate") - F.month("cohort_month")
    )
    return (
        o.join(firsts, "o_custkey")
        .groupBy("cohort_month", offset.alias("month_offset"))
        .agg(F.countDistinct("o_custkey").alias("active_customers"))
    )


def _funnel_sql(max_gap_seconds: int | None = None) -> str:
    """The ordered view -> click -> purchase funnel CTEs (v, c, p, funnel)
    and its step counts and rates; each step optionally within
    `max_gap_seconds` of the previous one. The caller closes the SELECT."""

    def within(prev: str) -> str:
        if max_gap_seconds is None:
            return ""
        return f"""
        AND epoch_us(e.ts) - epoch_us({prev}) <= CAST({max_gap_seconds} AS BIGINT) * 1000000"""

    return f"""
    WITH v AS (
      SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'view') AS t_view
      FROM events GROUP BY user_id
    ), c AS (
      SELECT e.user_id, MIN(e.ts) AS t_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.t_view{within("v.t_view")}
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.t_click{within("c.t_click")}
      GROUP BY e.user_id
    ), funnel AS (
      SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
      FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t_view) AS BIGINT) AS reached_view,
           CAST(COUNT(t_click) AS BIGINT) AS reached_click,
           CAST(COUNT(t_purchase) AS BIGINT) AS reached_purchase,
           CAST(COUNT(t_click) AS DOUBLE) / COUNT(t_view) AS view_to_click,
           CAST(COUNT(t_purchase) AS DOUBLE) / COUNT(t_click) AS click_to_purchase"""


def _funnel_per_user(spark: SparkSession, sf_dir: str, **kwargs) -> DataFrame:
    """Per-user view/click/purchase times (operators/funnel.py::funnel_times,
    `kwargs` passed through)."""
    from etl_poc_spark.operators.funnel import funnel_times

    return funnel_times(
        load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts"),
        steps=[
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        **kwargs,
    )


@query(
    "events_funnel",
    oracle=_funnel_sql()
    + """,
           CAST(SUM(epoch_us(t_purchase) - epoch_us(t_view)) AS BIGINT)
             / CAST(COUNT(t_purchase) AS DOUBLE) AS avg_us_to_convert
    FROM funnel
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click after it -> purchase after
    that): per user the earliest qualifying timestamp of each step, rolled
    up to step counts, step-to-step conversion rates, and mean
    view-to-purchase latency.

    Scale shape: ONE shuffle. All three sequencing steps are conditional
    min-windows over the SAME partitionBy(user_id) spec, so Spark
    repartitions events by user once and evaluates the three passes
    JVM-side on the sorted runs; the final rollup is a global 1-row
    aggregate of the per-user frame. No self-joins, no per-step scans of
    the events table (the DuckDB oracle spells the same semantics with
    joins because SQL window frames can't reference a peer window's
    result). Latency is exact integer microseconds summed as BIGINT, then
    ONE double division — timezone cancels in the subtraction.

    Implementation lives in operators/funnel.py::funnel_times (generic
    ordered-step operator; semantics pinned on a constructed sequence in
    tests/test_operators.py)."""
    # keeps no-view users: n_users is every user with ANY event, as in the oracle
    per_user = _funnel_per_user(spark, sf_dir)
    lat_us = F.unix_micros(F.col("t_purchase")) - F.unix_micros(F.col("t_view"))
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("reached_view"),
        F.count("t_click").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
        (F.count("t_click").cast("double") / F.count("t_view")).alias("view_to_click"),
        (F.count("t_purchase").cast("double") / F.count("t_click")).alias("click_to_purchase"),
        (F.sum(lat_us).cast("bigint") / F.count("t_purchase").cast("double")).alias(
            "avg_us_to_convert"
        ),
    )


@query(
    "events_debounce_stats",
    oracle="""
    WITH d AS (
      SELECT event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN prev_ts IS NOT NULL
                          AND epoch_us(ts) - epoch_us(prev_ts) < 120 * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced,
           CAST(COUNT(*) - SUM(CASE WHEN prev_ts IS NOT NULL
                          AND epoch_us(ts) - epoch_us(prev_ts) < 120 * 1000000
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM d
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_debounce_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst debounce (lag-based): an event is noise if the SAME user
    emitted the SAME event type less than 120 s earlier — double-clicks,
    retry storms, at-least-once delivery echoes. Counted per type.

    Lag-vs-previous-EVENT on purpose: debounce against the previous KEPT
    event is a sequential recurrence (not window-expressible, and at
    scale it serializes per key); the lag formulation is the standard
    streaming-telemetry debounce and stays ONE shuffle on
    (user, type) with the aggregate reusing the same partitioning.
    Microsecond integer arithmetic, no floats anywhere."""
    from etl_poc_spark.operators.funnel import debounce_flag

    e = load_table(spark, sf_dir, "events")
    debounced = debounce_flag(
        ["user_id", "event_type"], ts_col="ts", within_seconds=120
    ).cast("long")
    return (
        e.withColumn("__d", debounced)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__d").cast("bigint").alias("n_debounced"),
            (F.count(F.lit(1)) - F.sum("__d")).cast("bigint").alias("n_kept"),
        )
    )


@query(
    "session_top_paths",
    oracle="""
    WITH d AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
                  THEN 1 ELSE 0 END AS is_start
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_no
      FROM d
    ), r AS (
      SELECT user_id, session_no, event_type,
             row_number() OVER (PARTITION BY user_id, session_no
                                ORDER BY ts, event_id) AS rn
      FROM s
    ), paths AS (
      SELECT user_id, session_no,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM r WHERE rn <= 3
      GROUP BY user_id, session_no
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 25
    """,
)
def session_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clickstream path mining: the 25 most common session-opening
    event-type sequences (first 3 events of each 30-minute-gap session,
    the same session rule as events_sessionize).

    ONE shuffle on user_id serves the whole chain — session-start lag,
    running session number, in-session row_number, and the per-session
    path assembly all share the partitioning; the final heavy-hitter
    count is a map-side-combined aggregate on path strings (bounded:
    |event_types|^3 distinct values) with a TakeOrderedAndProject top-25.
    Path assembly is sort_array(collect_list(struct(rn, type))) — a
    per-session array bounded at 3 elements, never a whole history."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    prev = F.lag("ts").over(wo)
    is_start = F.when(
        prev.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev) > 1800 * 1_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    s = e.withColumn("session_no", F.sum(is_start).over(wo))
    r = s.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id", "session_no").orderBy(F.asc("ts"), F.asc("event_id"))
        ),
    ).filter(F.col("rn") <= 3)
    paths = (
        r.groupBy("user_id", "session_no")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(25)
    )


@query(
    "events_funnel_windowed",
    oracle=_funnel_sql(3600)
    + """
    FROM funnel
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The conversion funnel under a 1-hour attribution window: each step
    must land within an hour of the previous step's time or it doesn't
    count (operators/funnel.py::funnel_times max_gap_seconds). Same
    one-shuffle plan as events_funnel; compare the two queries' rates to
    read attribution-window sensitivity directly off the gate."""
    from etl_poc_spark.operators.funnel import funnel_rollup

    per_user = _funnel_per_user(spark, sf_dir, max_gap_seconds=3600)
    return funnel_rollup(per_user, ["view", "click", "purchase"]).withColumnRenamed(
        "n_entities", "n_users"
    )


@query(
    "segment_price_outliers",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(o.o_totalprice AS DECIMAL(18,2)) AS p
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), stats AS (
      SELECT segment,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             round(CAST(SUM(p) AS DOUBLE) / COUNT(*), 9) AS mean_price,
             round(sqrt(CAST(SUM(CAST(p * p AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(p) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(p) AS DOUBLE) / COUNT(*))), 9) AS std_price
      FROM j GROUP BY segment
    )
    SELECT s.segment, s.n_orders,
           s.mean_price, s.std_price,
           CAST(SUM(CASE WHEN j.p > s.mean_price + 3 * s.std_price
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_hi,
           CAST(SUM(CASE WHEN j.p < s.mean_price - 3 * s.std_price
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers_lo
    FROM j JOIN stats s USING (segment)
    GROUP BY s.segment, s.n_orders, s.mean_price, s.std_price
    ORDER BY s.segment
    """,
)
def segment_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population z-score outlier screen per market segment: mean/std
    from EXACT decimal sum/sum-of-squares aggregates (one double
    division each, then IEEE-correctly-rounded sqrt — portable, unlike
    stddev_samp whose Welford accumulation is order-dependent), then a
    second pass counts 3-sigma tails against the broadcast 5-row stats
    frame. The shape at 100 TB: dim-sized stats broadcast back onto the
    fact scan — no window over raw orders."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    p = F.col("o_totalprice").cast("decimal(18,2)")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), p.alias("p")
    )
    mean = F.col("__sum").cast("double") / F.col("n_orders")
    stats = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum("p").alias("__sum"),
        F.sum((F.col("p") * F.col("p")).cast("decimal(38,6)")).alias("__sumsq"),
    ).select(
        "segment",
        "n_orders",
        F.round(mean, 9).alias("mean_price"),
        F.round(
            F.sqrt(F.col("__sumsq").cast("double") / F.col("n_orders") - mean * mean),
            9,
        ).alias("std_price"),
    )
    return (
        j.join(F.broadcast(stats), "segment")
        .groupBy("segment", "n_orders", "mean_price", "std_price")
        .agg(
            F.sum(
                (F.col("p") > F.col("mean_price") + 3 * F.col("std_price")).cast("long")
            ).cast("bigint").alias("n_outliers_hi"),
            F.sum(
                (F.col("p") < F.col("mean_price") - 3 * F.col("std_price")).cast("long")
            ).cast("bigint").alias("n_outliers_lo"),
        )
    )


@query(
    "quantity_price_regression",
    oracle=_MOMENTS_SQL
    + """
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 9) AS slope,
           round(sy / CAST(n AS DOUBLE)
                 - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                    / (CAST(n AS DOUBLE) * sxx - sx * sx)) * (sx / CAST(n AS DOUBLE)),
                 9) AS intercept,
           round(((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
                 / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)),
                 12) AS r_squared
    FROM s ORDER BY l_returnflag
    """,
)
def quantity_price_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit price ~ quantity (slope, intercept,
    r^2) from the SAME five exact decimal moment sums as the correlation
    query — the regr_slope/regr_intercept/regr_r2 tier without their
    order-dependent float accumulators. One map-side-combined groupBy;
    finals rounded (9/12 places) to absorb the documented
    decimal->double cast ulp."""
    s, nd, cov_n, var_x_n, var_y_n = _moment_sums(spark, sf_dir)
    slope = cov_n / var_x_n
    return s.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope, 9).alias("slope"),
        F.round(F.col("sy") / nd - slope * (F.col("sx") / nd), 9).alias("intercept"),
        F.round((cov_n * cov_n) / (var_x_n * var_y_n), 12).alias("r_squared"),
    )


@query(
    "price_distribution_drift",
    oracle="""
    WITH b AS (
      SELECT CASE WHEN EXTRACT(year FROM o_orderdate) = 1996 THEN 'p' ELSE 'q' END AS side,
             LEAST(CAST(o_totalprice AS BIGINT) // 50000, 9) AS bin
      FROM orders
      WHERE EXTRACT(year FROM o_orderdate) IN (1996, 1997)
    ), counts AS (
      SELECT bin,
             CAST(SUM(CASE WHEN side = 'p' THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN side = 'q' THEN 1 ELSE 0 END) AS BIGINT) AS nq
      FROM b GROUP BY bin
    ), tot AS (
      SELECT SUM(np) AS tp, SUM(nq) AS tq FROM counts
    ), frac AS (
      SELECT bin, np, nq,
             (np + 1.0) / (tp + 10.0) AS p,
             (nq + 1.0) / (tq + 10.0) AS q
      FROM counts CROSS JOIN tot
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(np) AS BIGINT) AS n_base,
           CAST(SUM(nq) AS BIGINT) AS n_compare,
           round(SUM((p - q) * ln(p / q)), 9) AS psi
    FROM frac
    """,
)
def price_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability index between the 1996 and 1997 order-price
    distributions over 10 fixed 50k bins — the standard drift monitor an
    ML feature pipeline runs between training snapshots (PSI < 0.1 ~
    stable, > 0.25 ~ shifted). Laplace-smoothed fractions (+1 per bin)
    keep empty bins finite; counts are exact integers, ln is the ONE
    transcendental and the result is rounded to 9 places (the tf-idf
    oracle-parity policy). One scan, one 10-row aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.year("o_orderdate").isin(1996, 1997)
    )
    side_p = (F.year("o_orderdate") == 1996).cast("long")
    bin_ = F.least(
        F.expr("CAST(o_totalprice AS BIGINT) div 50000"), F.lit(9)
    ).alias("bin")
    counts = o.select(side_p.alias("is_p"), bin_).groupBy("bin").agg(
        F.sum("is_p").cast("bigint").alias("np"),
        F.sum(F.lit(1) - F.col("is_p")).cast("bigint").alias("nq"),
    )
    tot = counts.agg(
        F.sum("np").alias("tp"), F.sum("nq").alias("tq")
    )
    p = (F.col("np") + 1.0) / (F.col("tp") + 10.0)
    q = (F.col("nq") + 1.0) / (F.col("tq") + 10.0)
    return (
        counts.crossJoin(F.broadcast(tot))
        .select("bin", "np", "nq", p.alias("p"), q.alias("q"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum("np").cast("bigint").alias("n_base"),
            F.sum("nq").cast("bigint").alias("n_compare"),
            F.round(
                F.sum((F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))), 9
            ).alias("psi"),
        )
    )


@query(
    "segment_price_mad_outliers",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment,
             CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS p
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), med AS (
      SELECT segment, round(quantile_cont(p, 0.5), 4) AS med
      FROM j GROUP BY segment
    ), dev AS (
      SELECT j.segment, j.p, m.med, abs(j.p - m.med) AS d
      FROM j JOIN med m USING (segment)
    ), mad AS (
      SELECT segment, round(quantile_cont(d, 0.5), 4) AS mad
      FROM dev GROUP BY segment
    )
    SELECT d.segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           d.med AS median_price, m.mad,
           CAST(SUM(CASE WHEN d.d > 3 * 1.4826 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (segment)
    GROUP BY d.segment, d.med, m.mad
    ORDER BY d.segment
    """,
)
def segment_price_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD) outlier screen per market segment — the
    heavy-tail-safe twin of segment_price_outliers' z-score: median and
    MAD (median absolute deviation) don't move when the tail itself is
    the anomaly, so the 3·1.4826·MAD fence flags tail orders a 3-sigma
    fence under-counts on skewed price data. Spark's exact interpolated
    percentile() matches DuckDB's quantile_cont (the price_quantiles
    discipline); round(4) absorbs last-ulp interpolation differences,
    then every comparison is against the same rounded fence in both
    engines.

    SCALE NOTE: exact percentile buffers a group's values on one
    executor — fine at dim-sized group counts (5 segments); at hot-group
    scale swap the selector for the bounded-histogram exact ntile
    (quality_decile_profile pattern) or approx_percentile with the
    price_quantiles_approx bound-claim discipline."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_totalprice").cast("decimal(18,2)").cast("double").alias("p"),
    )
    med = j.groupBy("segment").agg(
        F.round(F.expr("percentile(p, 0.5)"), 4).alias("med")
    )
    dev = j.join(F.broadcast(med), "segment").select(
        "segment", "p", "med", F.abs(F.col("p") - F.col("med")).alias("d")
    )
    mad = dev.groupBy("segment").agg(
        F.round(F.expr("percentile(d, 0.5)"), 4).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "segment")
        .groupBy("segment", "med", "mad")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.when(
                    F.col("d") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "segment",
            "n_orders",
            F.col("med").alias("median_price"),
            "mad",
            "n_outliers",
        )
    )
