"""Data-profiling tier: one-pass column profiles and winsorized robust
statistics — the table-health queries a pipeline runs before trusting a
new snapshot (the read-side sibling of operators/expectations.py's
write-side gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.operators.behavior import column_profile
from etl_poc_spark.registry import query

# (column, min/max rendering) — shared between the Spark query and the
# oracle so the gate is meaningful (SCALING.md oracle-authoring
# discipline). Rendering pins the cross-engine string form: doubles go
# through DECIMAL(18,2) (2-decimal money), timestamps through DATE.
_PROFILE_COLS = [
    ("o_orderkey", "plain"),
    ("o_custkey", "plain"),
    ("o_orderstatus", "plain"),
    ("o_totalprice", "money"),
    ("o_orderdate", "date"),
    ("o_orderpriority", "plain"),
]


def _render_sql(c: str, kind: str) -> str:
    if kind == "money":
        return f"CAST({c} AS DECIMAL(18,2))"
    if kind == "date":
        return f"CAST({c} AS DATE)"
    return c


_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           CAST(MIN({_render_sql(c, k)}) AS VARCHAR) AS min_str,
           CAST(MAX({_render_sql(c, k)}) AS VARCHAR) AS max_str
    FROM orders
    """
    for c, k in _PROFILE_COLS
) + "\nORDER BY column_name"


@query("orders_column_profile", oracle=_PROFILE_ORACLE)
def orders_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-format column profile of orders — per column: null count,
    exact distinct count, min/max rendered to strings, in two scans
    (operators/behavior.py::column_profile). The first query a data
    engineer runs on an unfamiliar 100 TB table — and the profile's cost
    is the two scans, not the table's width in queries."""
    o = load_table(spark, sf_dir, "orders")
    return column_profile(o, _PROFILE_COLS).orderBy("column_name")


@query(
    "orders_winsorized_price_stats",
    oracle="""
    WITH v AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS s
      FROM orders WHERE o_totalprice IS NOT NULL
    ), n AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM v),
    r AS (SELECT s, row_number() OVER (ORDER BY s) AS rn FROM v),
    lo AS (SELECT s AS lo_s FROM r, n WHERE rn = (1 * c + 99) // 100),
    hi AS (SELECT s AS hi_s FROM r, n WHERE rn = (99 * c + 99) // 100),
    clipped AS (
      SELECT CASE WHEN v.s < lo.lo_s THEN lo.lo_s
                  WHEN v.s > hi.hi_s THEN hi.hi_s
                  ELSE v.s END AS cs,
             v.s
      FROM v, lo, hi
    )
    SELECT (SELECT c FROM n) AS n_orders,
           CAST(ANY_VALUE(lo.lo_s) AS DOUBLE) / 100 AS p01,
           CAST(ANY_VALUE(hi.hi_s) AS DOUBLE) / 100 AS p99,
           round(CAST(SUM(s) AS DOUBLE) / 100 / (SELECT c FROM n), 9) AS raw_mean,
           round(CAST(SUM(cs) AS DOUBLE) / 100 / (SELECT c FROM n), 9) AS winsorized_mean
    FROM clipped, lo, hi
    """,
)
def orders_winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p01/p99-clipped) mean order price beside the raw mean
    — the robust-statistics screen that reads tail influence directly.
    The clip bounds come from the exact 2-pass selector
    (operators/quantiles.py — coarse histogram, then rank-offset
    selection in the two target bins; ceil(q*n) convention), so the
    result is bit-reproducible, not a sketch. Everything accumulates as
    integer cents; two rounded double divisions at the output."""
    from etl_poc_spark.operators.quantiles import exact_quantiles_2pass

    o = load_table(spark, sf_dir, "orders")
    qs = {
        r["q100"]: r["value"]
        for r in exact_quantiles_2pass(
            o, "o_totalprice", [1, 99], scale=100, bin_width=50_000
        ).collect()
    }
    lo_s, hi_s = int(round(qs[1] * 100)), int(round(qs[99] * 100))
    s = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    v = o.where(F.col("o_totalprice").isNotNull()).select(s.alias("s"))
    cs = (
        F.when(F.col("s") < lo_s, F.lit(lo_s))
        .when(F.col("s") > hi_s, F.lit(hi_s))
        .otherwise(F.col("s"))
    )
    return v.select("s", cs.alias("cs")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.lit(lo_s).cast("double") / 100).alias("p01"),
        (F.lit(hi_s).cast("double") / 100).alias("p99"),
        F.round(
            F.sum("s").cast("double") / 100 / F.count(F.lit(1)), 9
        ).alias("raw_mean"),
        F.round(
            F.sum("cs").cast("double") / 100 / F.count(F.lit(1)), 9
        ).alias("winsorized_mean"),
    )
