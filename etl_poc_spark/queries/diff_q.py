"""Snapshot-diff (CDC) queries — operators/diff.py driven over two
year-over-year revenue snapshots derived from lineitem. Revenue
accumulates in DECIMAL so the changed/unchanged classification (null-safe
equality on the compare column) is exact and partition-independent; the
doubles appear only at the output boundary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query


def _year_rev(spark: SparkSession, sf_dir: str, year: int) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= f"{year}-01-01 00:00:00")
        & (F.col("l_shipdate") < f"{year + 1}-01-01 00:00:00")
    )
    return li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("revenue")
    )


_YEAR_REV_SQL = """
      SELECT l_suppkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '{y}-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '{y1}-01-01 00:00:00'
      GROUP BY l_suppkey
"""


@query(
    "supplier_revenue_diff",
    oracle=f"""
    WITH o AS ({_YEAR_REV_SQL.format(y=1996, y1=1997)}),
    n AS ({_YEAR_REV_SQL.format(y=1997, y1=1998)})
    SELECT COALESCE(o.l_suppkey, n.l_suppkey) AS l_suppkey,
           CASE WHEN o.l_suppkey IS NULL THEN 'inserted'
                WHEN n.l_suppkey IS NULL THEN 'deleted'
                WHEN o.revenue IS DISTINCT FROM n.revenue THEN 'changed'
                ELSE 'unchanged' END AS status,
           CAST(o.revenue AS DOUBLE) AS old_revenue,
           CAST(n.revenue AS DOUBLE) AS new_revenue
    FROM o FULL OUTER JOIN n ON o.l_suppkey = n.l_suppkey
    ORDER BY l_suppkey
    """,
)
def supplier_revenue_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level CDC between two snapshots: each supplier's 1996 vs 1997
    revenue classified inserted/deleted/changed/unchanged — ONE full-outer
    hash join on the key over two co-keyed aggregates, null-safe decimal
    comparison in codegen. The audit a keyed-MERGE pipeline runs between
    commits."""
    from etl_poc_spark.operators.diff import table_diff

    d = table_diff(
        _year_rev(spark, sf_dir, 1996),
        _year_rev(spark, sf_dir, 1997),
        key_cols=["l_suppkey"],
        compare_cols=["revenue"],
    )
    return d.select(
        "l_suppkey",
        "status",
        F.col("old_revenue").cast("double").alias("old_revenue"),
        F.col("new_revenue").cast("double").alias("new_revenue"),
    )


@query(
    "supplier_revenue_diff_summary",
    oracle=f"""
    WITH o AS ({_YEAR_REV_SQL.format(y=1996, y1=1997)}),
    n AS ({_YEAR_REV_SQL.format(y=1997, y1=1998)}),
    d AS (
      SELECT CASE WHEN o.l_suppkey IS NULL THEN 'inserted'
                  WHEN n.l_suppkey IS NULL THEN 'deleted'
                  WHEN o.revenue IS DISTINCT FROM n.revenue THEN 'changed'
                  ELSE 'unchanged' END AS status
      FROM o FULL OUTER JOIN n ON o.l_suppkey = n.l_suppkey
    )
    SELECT CAST(COALESCE(SUM(CASE WHEN status = 'inserted' THEN 1 END), 0) AS BIGINT) AS n_inserted,
           CAST(COALESCE(SUM(CASE WHEN status = 'deleted' THEN 1 END), 0) AS BIGINT) AS n_deleted,
           CAST(COALESCE(SUM(CASE WHEN status = 'changed' THEN 1 END), 0) AS BIGINT) AS n_changed,
           CAST(COALESCE(SUM(CASE WHEN status = 'unchanged' THEN 1 END), 0) AS BIGINT) AS n_unchanged
    FROM d
    """,
)
def supplier_revenue_diff_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1-row what-changed summary of supplier_revenue_diff — the
    metadata-weight check a pipeline logs per batch."""
    from etl_poc_spark.operators.diff import diff_summary

    return diff_summary(
        _year_rev(spark, sf_dir, 1996),
        _year_rev(spark, sf_dir, 1997),
        key_cols=["l_suppkey"],
        compare_cols=["revenue"],
    )
