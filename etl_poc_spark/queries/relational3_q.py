"""Correlated-subquery relational surface (TPC-H Q17/Q21/Q11 shapes).

These exercise Catalyst's subquery decorrelation: a correlated scalar
aggregate (Q17), a stacked EXISTS / NOT EXISTS (Q21), and a HAVING
threshold that references a scalar subquery over the whole input (Q11).
The reference (parhampr/ETL-POC) has no relational engine — it delegates
tabular work to the YAML runner — so, as with queries/relational2_q.py,
these extend the engine's §2.2–2.8 inventory with decision-support
shapes a replacement engine must cover.

Numeric policy (same as queries/relational.py): monetary/quantity sums
accumulate in DECIMAL (exact, order-independent); every comparison against
a scaled aggregate is rewritten to avoid division (multiply both sides by
the divisor) so the row-selection predicate is integer/decimal-exact; the
final ratio, if any, is ONE double division of exact operands.

Scale notes (100 TB): the Q17 scalar subquery decorrelates into a
per-partkey partial aggregate joined back on partkey — one shuffle, with
map-side combine; Q21's EXISTS/NOT EXISTS compile to left_semi/left_anti
hash joins on l_orderkey, never nested loops (pinned by the whole-registry
plan sweep in tests/test_plans.py); Q11's global total is a single-row
scalar broadcast, not a cross join of the detail rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query


def _dec(col: F.Column) -> F.Column:
    return col.cast("decimal(18,2)")


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
    from pyspark.sql import Window

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
    rev = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount"))
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
    profit = _dec(F.col("l_extendedprice")) * _dec(F.lit(1) - F.col("l_discount")) - _dec(
        F.col("p_retailprice")
    ) * _dec(F.col("l_quantity")) * F.lit("0.1").cast("decimal(3,1)")
    red_parts = p.where(F.col("p_name").like("%red%")).select("p_partkey", "p_retailprice")
    return (
        li.join(F.broadcast(red_parts), li.l_partkey == red_parts.p_partkey)
        .join(s.select("s_suppkey", "s_nationkey"), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


def _pagerank_oracle_sql(n_iter: int = 5, damping: str = "CAST(0.85 AS DOUBLE)") -> str:
    """Unrolled power-method oracle (the unrolled-Lloyd pattern): one CTE
    pair (contribution sum + dangling mass) per iteration, arithmetic
    mirroring operators/pagerank.py term by term — constants cast to
    DOUBLE so DuckDB's decimal literals don't produce a different binary
    0.15 than Python's `1.0 - 0.85`. The only cross-engine divergence is
    SUM association order (~1e-16 relative), absorbed by the query's
    round(rank, 9) — which is WHY the emitted rank is rounded."""
    parts = [
        """
    WITH e AS MATERIALIZED (
      SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
             's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ), verts AS MATERIALIZED (
      SELECT src AS vertex FROM e UNION SELECT dst FROM e
    ), nv AS (
      SELECT COUNT(*) AS n FROM verts
    ), outdeg AS MATERIALIZED (
      SELECT src, COUNT(*) AS deg FROM e GROUP BY src
    ), pr0 AS (
      SELECT vertex, CAST(1 AS DOUBLE) / nv.n AS rank FROM verts CROSS JOIN nv
    )"""
    ]
    for i in range(1, n_iter + 1):
        p = f"pr{i - 1}"
        parts.append(f"""
    , contrib{i} AS (
      SELECT e.dst AS vertex, SUM(p.rank / od.deg) AS s
      FROM {p} p JOIN outdeg od ON od.src = p.vertex
      JOIN e ON e.src = p.vertex
      GROUP BY e.dst
    ), dang{i} AS (
      SELECT COALESCE(SUM(p.rank), CAST(0 AS DOUBLE)) AS m
      FROM {p} p LEFT JOIN outdeg od ON od.src = p.vertex
      WHERE od.src IS NULL
    ), pr{i} AS (
      SELECT v.vertex,
             (CAST(1 AS DOUBLE) - {damping}) / nv.n
             + {damping} * d.m / nv.n
             + {damping} * COALESCE(c.s, CAST(0 AS DOUBLE)) AS rank
      FROM verts v CROSS JOIN nv CROSS JOIN dang{i} d
      LEFT JOIN contrib{i} c ON c.vertex = v.vertex
    )""")
    parts.append(f"""
    SELECT vertex, round(rank, 9) AS rank
    FROM pr{n_iter}
    WHERE vertex LIKE 's%'
    ORDER BY round(rank, 9) DESC, vertex
    LIMIT 20
    """)
    return "".join(parts)


@query("supplier_pagerank", oracle=_pagerank_oracle_sql(5))
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the bipartite customer->supplier purchase graph
    (edge = customer bought from supplier, via orders x lineitem):
    supplier centrality weighted by how central their customers are —
    the iterative-algorithm tier (power method, operators/pagerank.py)
    exercised on relational data. Top 20 suppliers by rounded rank."""
    from etl_poc_spark.operators.pagerank import pagerank

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # parallel edges count once inside pagerank (its adjacency is a set)
    edges = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
        F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
    )
    ranks = pagerank(edges, n_iter=5).withColumn("rank", F.round("rank", 9))
    return (
        ranks.where(F.col("vertex").startswith("s"))
        .orderBy(F.desc("rank"), F.asc("vertex"))
        .limit(20)
    )
