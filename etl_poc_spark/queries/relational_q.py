"""Relational operator inventory (SURVEY.md §2.2-2.8) over the TPC-H-ish
tables: the 22 TPC-H decision-support shapes adapted to the testdata
schema, plus the window, rollup, semi/anti-join and SQL front-end surface
around them.

Numeric policy for oracle parity: monetary/quantity sums accumulate in
DECIMAL(18,2) (exact, order-independent) and cast to double once at the
output boundary; ratios are one double division of exact operands; every
comparison against a scaled aggregate is rewritten to avoid division
(multiply both sides by the divisor), so row selection is
integer/decimal-exact. This makes every value bit-identical between Spark
and the DuckDB oracle regardless of partitioning or aggregation order.

Schema adaptation (this dataset has no partsupp, l_shipmode or
l_commitdate/l_receiptdate): the supplier-part offer relation is derived
from lineitem — cost(part, supp) = MIN(decimal extendedprice) over that
supplier's lines for the part (Q2), the shipmode-class column is
l_returnflag (Q12), the "complaints" supplier exclusion set is suppliers
with negative account balance (Q16), Q20's availability threshold
compares a supplier's shipped quantity for a part against half the
part's total shipped quantity in the window, Q9's cost is 10% of retail
price x quantity, and Q21's lateness is 75 days past the order date.

Scale notes (100 TB): correlated subqueries decorrelate into keyed
aggregates joined back (Q17's per-partkey sum, Q2's per-partkey min with
the part filter semi-joined first); EXISTS / NOT EXISTS compile to
left_semi/left_anti hash joins, never nested loops (pinned by the
whole-registry plan sweep in tests/test_plans.py); scalar totals (Q11,
Q22) are single-row broadcasts or windows over an already-aggregated
frame, not cross joins of the detail rows.

Reference parity note: the reference (parhampr/ETL-POC) has no SQL
engine — it delegates tabular work to docetl/Airflow
(`airflow/dags/zara_hybrid_etl.py`); this module is the relational
inventory a replacement engine must provide natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query


def _dec(col: F.Column) -> F.Column:
    return col.cast("decimal(18,2)")


# revenue = extendedprice * (1 - discount), decimal-exact
def _rev() -> F.Column:
    return _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))


_REV_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))"


@query(
    "pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           -- VARCHAR hop before DOUBLE: DuckDB's direct DECIMAL->DOUBLE cast
           -- divides an int128 by 10^scale in floating point, off by 1-2 ulp
           -- once the unscaled value passes 2^53 (sum_charge crosses at ~sf0.3;
           -- found at sf1). String->double is correctly rounded in both
           -- engines, matching Spark's BigDecimal.doubleValue exactly.
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) * CAST(1 + l_tax AS DECIMAL(18,2))) AS VARCHAR) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan -> filter (parquet-pushed) ->
    partial+final hash agg. One shuffle on the 6-value grouping key."""
    li = load_table(spark, sf_dir, "lineitem")
    qty, price = _dec(F.col("l_quantity")), _dec(F.col("l_extendedprice"))
    disc = _dec(F.lit(1) - F.col("l_discount"))
    tax = _dec(F.lit(1) + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02 00:00:00")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * disc).cast("double").alias("sum_disc_price"),
            F.sum(price * disc * tax).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "top_revenue_orders",
    oracle="""
    SELECT o.o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped join+agg+top-k. customer is small -> broadcast; the
    orders<->lineitem join shuffles on orderkey (the natural key); top-k is
    TakeOrderedAndProject (no global sort materialization)."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01 00:00:00")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1996-01-01 00:00:00")
    rev = _rev()
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "per_group_quota",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rn
      FROM customer
    ) WHERE rn <= 5
    """,
)
def per_group_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group quota (SURVEY §2.6 O3): top-5 customers per market segment.
    Single shuffle on the partition key; deterministic tiebreak on custkey."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("c_mktsegment", "c_custkey", "c_acctbal", "rn")
    )


@query(
    "sorted_limit",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
)
def sorted_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sorted limit (O1+O2): Spark plans TakeOrderedAndProject —
    per-partition top-k then a driver-side merge of k*partitions rows."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@query(
    "rollup_sales",
    oracle="""
    SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
           COALESCE(l_linestatus, 'ALL') AS linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup (SURVEY §2.4 ABSENT-category surface): built-in
    `rollup` — Spark expands grouping sets in one pass, no extra scans."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.sum(_dec(F.col("l_quantity"))).cast("double").alias("sum_qty"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


@query(
    "running_supplier_revenue",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) OVER (
             PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue,
           row_number() OVER (
             PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber) AS rn
    FROM lineitem
    WHERE l_suppkey <= 10
    """,
)
def running_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window functions (SURVEY §2.5): running sum + row_number over a
    deterministic total order. Decimal accumulation keeps every prefix sum
    exact. One shuffle on l_suppkey serves both window functions."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 10)
    order = [F.asc("l_shipdate"), F.asc("l_orderkey"), F.asc("l_linenumber")]
    w = Window.partitionBy("l_suppkey").orderBy(*order)
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(_dec(F.col("l_extendedprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("double").alias("running_revenue"),
        F.row_number().over(w).alias("rn"),
    )


@query(
    "nation_region_rollup",
    oracle="""
    SELECT r.r_name AS region_name, COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def nation_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake dimension join (J1-shaped): both dims broadcast — zero
    shuffle on the fact side until the final 5-group aggregation."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(F.count(F.lit(1)).alias("n_customers"), F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("total_acctbal"))
    )


@query(
    "order_lineitem_semi_anti",
    oracle="""
    SELECT 'with_lineitems' AS bucket, COUNT(*) AS n_orders
    FROM orders o WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    UNION ALL
    SELECT 'without_lineitems' AS bucket, COUNT(*) AS n_orders
    FROM orders o WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
)
def order_lineitem_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface (SURVEY §2.3): EXISTS/NOT EXISTS as
    left_semi/left_anti — no row multiplication, single shuffle each."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    semi = o.join(l.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_semi")
    anti = o.join(l.select(F.col("l_orderkey").alias("o_orderkey")), "o_orderkey", "left_anti")
    return semi.agg(F.count(F.lit(1)).alias("n_orders")).select(F.lit("with_lineitems").alias("bucket"), "n_orders").unionByName(
        anti.agg(F.count(F.lit(1)).alias("n_orders")).select(F.lit("without_lineitems").alias("bucket"), "n_orders")
    )


@query(
    "customer_value_distribution",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal,
           ntile(4)      OVER w AS quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist()    OVER w AS cume,
           first_value(c_custkey) OVER w AS top_custkey
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def customer_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (§2.5 breadth): quartile assignment,
    percent_rank, cume_dist, and the segment's top customer — ONE shuffle
    on the partition key serves all four functions (same window spec).
    percent_rank/cume_dist are single exact-integer divisions, so the
    doubles are bit-identical across engines."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
        F.first("c_custkey").over(w).alias("top_custkey"),
    )


@query(
    "late_shipment_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders in a 6-month window with at least one
    late-shipping lineitem (cross-table date predicate inside EXISTS),
    counted per priority. The EXISTS compiles to a left_semi join on
    orderkey with the inequality as a post-join predicate — no row
    multiplication reaches the aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1996-07-01 00:00:00")
    )
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "large_volume_customers",
    oracle="""
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
)
def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped decimal-exact quantity sum
    selects the big orders FIRST (the aggregate prunes ~99.7% of orders
    before any join), then orders and customer attach — orders shuffles on
    its natural key, customer broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("__dq"))
        .filter(F.col("__dq") > 300)
        .select(F.col("l_orderkey"), F.col("__dq").cast("double").alias("sum_qty"))
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "sum_qty",
        )
    )


@query(
    "promo_revenue_share",
    oracle="""
    SELECT 100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))
                 ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
           / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE)
             AS promo_revenue_pct,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
    """,
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promotion revenue share for one month — a
    broadcast dim join plus two decimal-exact conditional sums collapsing
    to one double ratio. The month filter reaches the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01 00:00:00")
        & (F.col("l_shipdate") < "1996-04-01 00:00:00")
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = _rev()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(_dec(F.lit(0)))
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "small_qty_part_revenue",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS sum_qty,
             COUNT(*) AS n_li
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS DOUBLE)
             AS avg_yearly,
           COUNT(*) AS n_small_qty_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN per_part a ON a.l_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#1', 'Brand#2')
      AND CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * a.n_li < a.sum_qty
    """,
)
def small_qty_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below
    20% of the part's average quantity, for a brand subset.

    The textbook form is a correlated scalar subquery
    ``l_quantity < 0.2 * (SELECT AVG(l_quantity) ... WHERE l_partkey =
    l.l_partkey)``; here it is decorrelated by hand into a per-partkey
    aggregate joined back — the exact plan Catalyst produces for the
    subquery form, stated explicitly so the threshold arithmetic can be
    division-free: ``qty < 0.2 * sum/cnt  ⇔  5*qty*cnt < sum`` in DECIMAL,
    keeping row selection bit-exact across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(_dec(F.col("l_quantity"))).cast("decimal(28,2)").alias("sum_qty"),
        F.count(F.lit(1)).alias("n_li"),
    )
    brands = part.where(F.col("p_brand").isin("Brand#1", "Brand#2")).select("p_partkey")
    small = (
        li.join(F.broadcast(brands), li.l_partkey == brands.p_partkey)
        .join(per_part, "l_partkey")
        .where(_dec(F.col("l_quantity")) * 5 * F.col("n_li") < F.col("sum_qty"))
    )
    return small.agg(
        (F.sum(_dec(F.col("l_extendedprice"))).cast("double") / F.lit(7.0))
        .cast("double")
        .alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_small_qty_lineitems"),
    )


@query(
    "sole_late_supplier",
    oracle="""
    WITH late AS (
      SELECT l_orderkey, l_suppkey, l_shipdate
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE l_shipdate > o_orderdate + INTERVAL 75 DAY
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 25
    """,
)
def sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    multi-supplier order (lateness = shipped more than 75 days after the
    order date, since this dataset has no commit/receipt dates —
    documented deviation, same plan shape).

    EXISTS → left_semi on (orderkey, suppkey<>) and NOT EXISTS →
    left_anti on the same key: two hash joins on l_orderkey, no
    correlated re-execution per row."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    late = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS"))
        .select("l_orderkey", "l_suppkey", "l_shipdate")
    )
    l1 = late.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = late.select("l_orderkey", "l_suppkey").alias("l3")
    cand = l1.join(
        l2,
        (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
        "left_semi",
    ).join(
        l3,
        (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
        & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
        "left_anti",
    )
    return (
        cand.join(F.broadcast(supp), F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(25)
    )


@query(
    "nation_revenue_share",
    oracle="""
    WITH rev AS (
      SELECT n.n_name,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(28,2)) AS nation_rev
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name
    )
    SELECT n_name,
           CAST(nation_rev AS DOUBLE) AS revenue,
           CAST(CAST(nation_rev AS DOUBLE) / CAST((SELECT SUM(nation_rev) FROM rev) AS DOUBLE) AS DOUBLE)
             AS share
    FROM rev
    WHERE nation_rev * 25 > (SELECT SUM(nation_rev) FROM rev)
    ORDER BY revenue DESC, n_name
    """,
)
def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: supplier nations whose revenue exceeds 4% of the
    global total (HAVING against a scalar subquery over the whole input).

    The threshold comparison is division-free (``rev * 25 > total`` in
    DECIMAL); the reported share is one double division of exact decimal
    operands. The global total is computed with an unpartitioned window
    over the ALREADY-AGGREGATED per-nation frame — ~25 rows regardless of
    input scale, so the single-partition window is safe at 100 TB and the
    plan needs no scalar-broadcast nested-loop join."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(_dec(F.col("l_extendedprice"))).cast("decimal(28,2)").alias("nation_rev"))
    )
    return (
        rev.withColumn(
            "total_rev",
            # non-foldable single-group key (see dates_q histogram comment):
            # silences the per-task no-partition WindowExec warning; the
            # frame is the 25-row nation aggregate
            F.sum("nation_rev")
            .over(Window.partitionBy(F.col("n_name").isNull()))
            .cast("decimal(38,2)"),
        )
        .where(F.col("nation_rev") * 25 > F.col("total_rev"))
        .select(
            "n_name",
            F.col("nation_rev").cast("double").alias("revenue"),
            (F.col("nation_rev").cast("double") / F.col("total_rev").cast("double"))
            .cast("double")
            .alias("share"),
        )
    )


# ONE ANSI string, two engines: the Spark side runs this text through
# spark.sql over temp views; the oracle is the IDENTICAL string in DuckDB.
# This is the SQL front-end guarantee — a user can hand the engine raw SQL
# and get the DataFrame API's plan (Catalyst compiles both to the same
# logical operators).
_Q3_SQL = """
    SELECT l.l_orderkey AS orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           o.o_orderdate AS orderdate,
           o.o_orderpriority AS orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderdate, l.l_orderkey
    LIMIT 10
"""


@query("shipping_priority_sql", oracle=_Q3_SQL)
def shipping_priority_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) submitted as RAW SQL TEXT — the same
    ANSI string is both the Spark plan (spark.sql over temp views) and
    the DuckDB oracle, demonstrating the engine's SQL front-end: Catalyst
    parses/optimizes the text into the identical plan the DataFrame API
    would build (broadcast the filtered customer dim, shuffle on
    orderkey, TakeOrderedAndProject for the top 10). DECIMAL-accumulated
    revenue keeps the sum order-independent; the ORDER BY carries
    orderdate+orderkey tiebreaks so the LIMIT is deterministic."""
    for t in ("customer", "orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q3_SQL)


@query(
    "nation_pair_trade_volume",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation ns ON ns.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation nc ON nc.n_nationkey = c.c_nationkey
    WHERE ((ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
        OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1'))
    GROUP BY ns.n_name, nc.n_name, EXTRACT(year FROM l.l_shipdate)
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def nation_pair_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between a nation pair, in both
    directions, by ship year. Only the 25-row nation dims broadcast —
    supplier and customer are FACT-SCALE tables in TPC-H (SF x 10k / SF x
    150k rows), so those joins shuffle on their keys and are left to AQE;
    the nation-pair filter applies right after each nation lookup, so
    non-matching suppliers/customers drop before the expensive orderkey
    join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ns = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    nc = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation"))
    rev = _rev()
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    supp_side = (
        s.join(F.broadcast(ns), s.s_nationkey == F.col("s_nk"))
        .where(F.col("supp_nation").isin("NATION_1", "NATION_2"))
        .select("s_suppkey", "supp_nation")
    )
    cust_side = (
        c.join(F.broadcast(nc), c.c_nationkey == F.col("c_nk"))
        .where(F.col("cust_nation").isin("NATION_1", "NATION_2"))
        .select("c_custkey", "cust_nation")
    )
    return (
        li.join(supp_side, li.l_suppkey == supp_side.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(cust_side, o.o_custkey == cust_side.c_custkey)
        .where(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "product_profit_by_nation_year",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l.l_discount AS DECIMAL(18,2))
                    - CAST(p.p_retailprice AS DECIMAL(18,2))
                      * CAST(l.l_quantity AS DECIMAL(18,2))
                      * CAST(0.1 AS DECIMAL(3,1))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%red%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY n.n_name, EXTRACT(year FROM o.o_orderdate)
    ORDER BY nation, o_year
    """,
)
def product_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product-name family by supplier nation
    and order year. This dataset has no partsupp/ps_supplycost, so cost is
    modeled as 10% of retail price x quantity (documented deviation, same
    join/aggregate shape). The LIKE-filtered part dim broadcasts (the
    filter cuts it to a fraction before the hint); supplier shuffles
    (fact-scale in TPC-H); nation broadcasts; the profit expression stays
    entirely in DECIMAL until the single post-aggregation cast."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    p = load_table(spark, sf_dir, "part")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    profit = _rev() - _dec(F.col("p_retailprice")) * _dec(F.col("l_quantity")) * F.lit(
        "0.1"
    ).cast("decimal(3,1)")
    red_parts = p.where(F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    return (
        li.join(F.broadcast(red_parts), li.l_partkey == red_parts.p_partkey)
        .join(s.select("s_suppkey", "s_nationkey"), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation, r.r_name AS region,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name, r.r_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-table join: local-supplier revenue by nation.
    supplier/nation/region broadcast; the orders<->lineitem join carries the
    only large shuffle; the customer-nation = supplier-nation predicate
    rides the join, not a post-filter."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = _rev()
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), (F.col("l_suppkey") == F.col("s_suppkey")) & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
        .agg(F.sum(rev).cast("double").alias("revenue"), F.count(F.lit(1)).alias("n_lineitems"))
    )


@query(
    "forecast_revenue_change",
    oracle=f"""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS lost_revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue that would be lost by eliminating a band of
    discounts — the canonical scan-dominated query. No join, no window:
    the entire plan is parquet scan -> filter -> partial agg -> final agg.
    All three predicates and the 4-column projection reach the scan
    (PushedFilters/ReadSchema), so at 100 TB this reads only the
    row-groups whose min/max straddle the ship-date year."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(_dec(F.col("l_extendedprice")) * _dec(F.col("l_discount")))
        .cast("double")
        .alias("lost_revenue"),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


@query(
    "nation_market_share",
    oracle=f"""
    WITH vol AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             {_REV_SQL} AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o    ON o.o_orderkey = l.l_orderkey
      JOIN customer c  ON c.c_custkey = o.o_custkey
      JOIN nation n1   ON n1.n_nationkey = c.c_nationkey
      JOIN region r    ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s  ON s.s_suppkey = l.l_suppkey
      JOIN nation n2   ON n2.n_nationkey = s.s_nationkey
      JOIN part p      ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'STANDARD'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share,
           COUNT(*) AS n_lineitems
    FROM vol
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (market share): the fraction of a region's revenue
    on one part type supplied by one nation, per order year — the widest
    join in the suite (8 tables).

    Scale strategy: lineitem/orders/customer/supplier/part are fact-scale
    in TPC-H (SF x 6M/1.5M/150k/10k/200k), so all of them join on their
    natural shuffle keys and AQE picks broadcast only when a filtered side
    turns out tiny; nation (25 rows) and region (5 rows) broadcast
    explicitly. The two decimal conditional sums collapse to one double
    division per year — exact, order-independent."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD").select("p_partkey")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nation = (
        c.join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
               F.col("n_nationkey") == F.col("c_nationkey"))
        .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey"))
        .select("c_custkey")
    )
    supp_nation = s.join(
        F.broadcast(n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))),
        F.col("s_nk") == F.col("s_nationkey"),
    ).select("s_suppkey", "supp_nation")
    vol = (
        li.join(o.select("o_orderkey", "o_custkey", "o_orderdate"),
                F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust_nation, F.col("c_custkey") == F.col("o_custkey"))
        .join(p, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp_nation, F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            _rev().alias("volume"),
            "supp_nation",
        )
    )
    target = F.when(F.col("supp_nation") == "NATION_5", F.col("volume")).otherwise(
        _dec(F.lit(0))
    )
    return (
        vol.groupBy("o_year")
        .agg(
            (F.sum(target).cast("double") / F.sum("volume").cast("double")).alias("mkt_share"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "returned_item_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name AS nation
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY SUM({_REV_SQL}) DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: the 20 customers who returned the most revenue in
    one quarter. The quarter filter prunes orders at the scan; lineitem
    filters to returnflag='R' before the orderkey join; customer attrs
    join on custkey AFTER the heavy agg (the agg output is
    customer-cardinality, not lineitem-cardinality). The final top-20 is
    TakeOrderedAndProject — no global sort materializes. Ties broken by
    custkey so the limit is deterministic across engines."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-10-01 00:00:00")
        & (F.col("o_orderdate") < "1997-01-01 00:00:00")
    ).select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    per_cust = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(_rev()).alias("__rev"))
    )
    return (
        per_cust.join(c, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("n_nationkey") == F.col("c_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            F.col("__rev").cast("double").alias("revenue"),
            "c_acctbal",
            F.col("n_name").alias("nation"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "top_supplier_revenue",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey, SUM({_REV_SQL}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s
    JOIN revenue r ON r.l_suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): suppliers whose quarterly revenue
    equals the global maximum. The scalar subquery decorrelates into a
    1-row aggregate of the ALREADY-AGGREGATED revenue view (supplier
    cardinality, SF x 10k — not lineitem cardinality), broadcast back as
    an equi-join key. Revenue stays DECIMAL through the max comparison so
    the equality is exact; cast to double only at the output."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1996-04-01 00:00:00")
    )
    revenue = li.groupBy("l_suppkey").agg(F.sum(_rev()).alias("total_rev"))
    best = revenue.agg(F.max("total_rev").alias("total_rev"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(best), "total_rev")
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue"))
    )


@query(
    "branded_shipment_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lineitems
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 1  AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 35
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def branded_shipment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under three OR'd brand/size/quantity
    branches — the canonical disjunctive-predicate query. The disjunction
    references BOTH sides, so it cannot be pushed below the join whole;
    Catalyst instead derives the implied per-side prefilters
    (p_brand IN (...) AND p_size<=35; l_quantity BETWEEN 1 AND 30) and
    pushes those to the scans, leaving the cross-branch disjunction as
    the join's residual condition on the equi-joined pairs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 15) & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 25) & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 35) & (q >= 20) & (q <= 30))
    )
    return (
        li.join(p, F.col("p_partkey") == F.col("l_partkey"))
        .filter(branch)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


@query(
    "dormant_rich_customers",
    oracle="""
    WITH thresh AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_bal
      FROM customer
      WHERE c_acctbal > 0
        AND c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
    )
    SELECT c.c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
    FROM customer c, thresh t
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')
      AND c.c_acctbal > t.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
    GROUP BY c.c_mktsegment
    ORDER BY c.c_mktsegment
    """,
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global sales opportunity): customers in target
    segments whose balance beats the positive-balance average but who
    have gone dormant (no orders since 1999). The scalar average
    decorrelates to a 1-row
    aggregate cross-broadcast as a filter; NOT EXISTS compiles to a
    left_anti join on custkey against an orders side projected to its
    join key only. The average is computed as exact decimal sum / exact
    count -> ONE double division, so the threshold is bit-identical
    across engines and no row flips membership."""
    segs = ["BUILDING", "MACHINERY", "AUTOMOBILE"]
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment").isin(segs))
    thresh = c.filter(F.col("c_acctbal") > 0).agg(
        (F.sum(_dec(F.col("c_acctbal"))).cast("double") / F.count(F.lit(1))).alias("avg_bal")
    )
    o_keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "1999-01-01 00:00:00")
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o_keys, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(_dec(F.col("c_acctbal"))).cast("double").alias("total_acctbal"),
        )
    )


@query(
    "customer_order_counts",
    oracle="""
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    GROUP BY n_orders
    ORDER BY n_customers DESC, n_orders DESC
    """,
)
def customer_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer distribution): how many customers placed
    exactly N orders, INCLUDING the zero-order customers the outer join
    preserves. Double aggregation: the first groupBy runs at customer
    cardinality on the custkey shuffle; the second is a tiny
    (max-orders-per-customer)-cardinality rollup. count(o_orderkey)
    counts matches only — the null row of an orderless customer
    contributes 0, not 1."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "min_cost_supplier",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT o.l_partkey, o.cost, s.s_acctbal, s.s_name, n.n_name
      FROM offers o
      JOIN supplier s ON o.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), best AS (
      SELECT l_partkey, MIN(cost) AS min_cost FROM eu GROUP BY l_partkey
    )
    SELECT CAST(e.s_acctbal AS DOUBLE) AS s_acctbal, e.s_name, e.n_name,
           p.p_partkey, p.p_name, CAST(e.cost AS DOUBLE) AS best_price
    FROM eu e
    JOIN best b ON e.l_partkey = b.l_partkey AND e.cost = b.min_cost
    JOIN part p ON e.l_partkey = p.p_partkey
    WHERE p.p_type = 'LARGE' AND p.p_size BETWEEN 10 AND 20
    ORDER BY s_acctbal DESC, e.n_name, e.s_name, p.p_partkey
    LIMIT 100
    """,
)
def min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each LARGE mid-size part, the EUROPE
    supplier(s) offering it at the minimum cost — the canonical
    correlated min-cost subquery over the supplier->nation->region dim
    chain, decorrelated into a per-partkey min joined back on the exact
    decimal (partkey, cost) pair. The part-attribute filter semi-joins
    the offer table BEFORE the min aggregate (restricting the partkey
    set cannot change a per-partkey min), so at 100 TB only qualifying
    parts' offers are aggregated; region and nation broadcast. The
    ORDER BY includes s_name and p_partkey, making the LIMIT 100 a
    deterministic total order."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")

    offers = (
        li.join(part.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(_dec(F.col("l_extendedprice"))).alias("cost"))
    )
    eu = (
        offers.join(sup, offers.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .select("l_partkey", "cost", "s_acctbal", "s_name", "n_name")
    )
    best = eu.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("cost").alias("min_cost")
    )
    return (
        eu.join(
            best,
            (eu.l_partkey == best.b_partkey) & (eu.cost == best.min_cost),
        )
        .join(
            load_table(spark, sf_dir, "part").filter(
                (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.col("s_acctbal").cast("double").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            F.col("cost").cast("double").alias("best_price"),
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "late_ship_priority_counts",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag IN ('A','R')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def late_ship_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: per ship class (l_returnflag standing in for the
    absent l_shipmode), how many late-shipped 1996 lines belonged to
    high- vs low-priority orders — the OR-predicate conditional
    aggregation (CASE WHEN priority IN (...)). The 60-day lateness
    predicate is the cross-table date-arithmetic filter (shipdate vs
    orderdate) standing in for commitdate<receiptdate; it evaluates
    inside the one orders-lineitem shuffle join, and both conditional
    sums partial-aggregate map-side. The in-set and date predicates on
    lineitem reach the parquet scan."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("A", "R")
        & (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).cast("bigint").alias("low_line_count"),
        )
    )


@query(
    "part_supplier_diversity",
    oracle="""
    WITH assoc AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT a.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM assoc a JOIN part p ON a.l_partkey = p.p_partkey
    WHERE NOT (p.p_brand = 'Brand#1' OR p.p_type = 'PROMO')
      AND p.p_size IN (1,5,10,15,20,25,30,35)
      AND a.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    LIMIT 40
    """,
)
def part_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can furnish parts of
    each (brand, type, size) bucket, excluding one brand, one type, and
    the "complaints" suppliers (adapted: negative account balance) — the
    anti-join + grouped count-distinct combination. The part-supplier
    association is the DISTINCT (l_partkey, l_suppkey) projection of
    lineitem (this dataset's partsupp); the exclusion set is dim-sized,
    so the NOT IN compiles to a broadcast left_anti hash join, and the
    count-distinct rides the (brand,type,size) shuffle. The ORDER BY's
    trailing group keys make the LIMIT a deterministic total order."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        ~((F.col("p_brand") == "Brand#1") | (F.col("p_type") == "PROMO"))
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    )
    neg_sup = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0)
    assoc = li.select("l_partkey", "l_suppkey").distinct()
    return (
        assoc.join(
            F.broadcast(neg_sup.select("s_suppkey")),
            assoc.l_suppkey == F.col("s_suppkey"),
            "left_anti",
        )
        .join(part, F.col("l_partkey") == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(40)
    )


@query(
    "dominant_part_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l.l_partkey, l.l_suppkey,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS q
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_name LIKE 'small%'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_partkey, l.l_suppkey
    ), totals AS (
      SELECT l_partkey, SUM(q) AS total_q FROM shipped GROUP BY l_partkey
    ), dominant AS (
      SELECT DISTINCT s.l_suppkey
      FROM shipped s
      JOIN totals t ON s.l_partkey = t.l_partkey
      WHERE 2 * s.q > t.total_q
    )
    SELECT s.s_name, CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND s.s_suppkey IN (SELECT l_suppkey FROM dominant)
    ORDER BY s.s_name
    """,
)
def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: ASIA suppliers who, for some 'small%' part,
    shipped MORE THAN HALF of that part's total 1996 volume — the nested
    semi-join chain (supplier <- dominant suppkeys <- per-(part,supp)
    aggregate) gated by a correlated 0.5x-sum threshold. The threshold
    is rewritten multiplication-side (2*q > total) so the comparison is
    decimal-exact, and both the per-(part,supp) and per-part aggregates
    ride ONE l_partkey-keyed shuffle (the second groupBy re-aggregates
    the first's output, already co-partitioned). The p_name filter
    semi-joins lineitem before any aggregation; supplier resolution is a
    broadcast-dim chain plus a left_semi on the distinct dominant
    suppkey set — never a correlated re-scan of lineitem."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-01-01 00:00:00")
    )
    small_parts = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    shipped = (
        li.join(
            small_parts.select("p_partkey"), li.l_partkey == F.col("p_partkey"), "left_semi"
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(_dec(F.col("l_quantity"))).alias("q"))
    )
    totals = shipped.groupBy(F.col("l_partkey").alias("t_partkey")).agg(
        F.sum("q").alias("total_q")
    )
    dominant = (
        shipped.join(totals, shipped.l_partkey == totals.t_partkey)
        .filter(F.lit(2) * F.col("q") > F.col("total_q"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"), "left_semi")
        .join(dominant, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", F.col("s_acctbal").cast("double").alias("s_acctbal"))
    )
