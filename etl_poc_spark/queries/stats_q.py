"""Round-10 statistics tier: categorical-association tests and
higher-order sequence motifs — the profiling/experimentation workloads
that sit beside the A/B z-test + CUPED and the KS statistic
(queries/behavior_q.py).

Oracle-exactness discipline: every statistic is built from exact BIGINT
contingency counts; the only floating step is a single division whose
operands both engines derive identically (ints cast to double round to
nearest the same way in Spark and DuckDB), so the rows hash-exact.

Scale notes (100 TB): contingency tables aggregate with map-side
combine down to |categories1| x |categories2| cells — tiny regardless of
row count; marginals attach via windows over the cell frame (no second
scan of the base). Sequence motifs are ONE user_id-partitioned window
shuffle, then a motif-cardinality-bounded aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query


@query(
    "segment_region_chisq",
    oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, r.r_name AS region,
             CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM customer c
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY c.c_mktsegment, r.r_name
    ), m AS (
      SELECT segment, region, n_obs,
             CAST(SUM(n_obs) OVER (PARTITION BY segment) AS BIGINT) AS row_total,
             CAST(SUM(n_obs) OVER (PARTITION BY region) AS BIGINT) AS col_total,
             CAST(SUM(n_obs) OVER () AS BIGINT) AS n_total
      FROM cells
    )
    SELECT segment, region, n_obs, row_total, col_total, n_total,
           CAST(CAST(n_obs * n_total - row_total * col_total AS DECIMAL(38,0))
                * (n_obs * n_total - row_total * col_total) AS DOUBLE)
             / CAST(CAST(n_total AS DECIMAL(38,0)) * row_total * col_total
                    AS DOUBLE) AS chi2_contrib
    FROM m
    ORDER BY segment, region
    """,
)
def segment_region_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square contribution per cell of the market-segment x
    region contingency table — the categorical-independence screen a
    feature-profiling pipeline runs before using a category as a model
    input (sum the column for the statistic; df = (|seg|-1)(|reg|-1)).

    chi2 cell term (O - E)^2/E with E = R*C/N is computed as the exact
    integer rearrangement (O*N - R*C)^2 / (N*R*C). The inner products
    stay BIGINT (need N^2 < 9.2e18, i.e. N < 3e9 rows); the SQUARE and
    the denominator widen to DECIMAL(38,0) — scale-0 decimal arithmetic
    is exact integers in both engines (the BIGINT square would overflow
    at N ~ 55k worst-case), so the single double division stays
    bit-identical across engines up to N^4 < 1e38.

    Plan: dims broadcast into the customer scan, ONE aggregate to the
    |seg| x |reg| cell frame, marginals as windows over that tiny frame
    (never a rescan)."""
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cells = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("c_mktsegment").alias("segment"), F.col("r_name").alias("region")
        )
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    m = cells.select(
        "segment",
        "region",
        "n_obs",
        F.sum("n_obs").over(Window.partitionBy("segment")).alias("row_total"),
        F.sum("n_obs").over(Window.partitionBy("region")).alias("col_total"),
        # grand total over the tiny cell frame: partition by a constant-
        # valued expr (cuped idiom) — single group by value, but no
        # no-partition WindowExec warning
        F.sum("n_obs")
        .over(Window.partitionBy(F.col("segment").isNull()))
        .alias("n_total"),
    )
    num = F.col("n_obs") * F.col("n_total") - F.col("row_total") * F.col("col_total")
    den = (
        F.col("n_total").cast("decimal(38,0)")
        * F.col("row_total")
        * F.col("col_total")
    )
    return m.select(
        "segment",
        "region",
        "n_obs",
        "row_total",
        "col_total",
        "n_total",
        (
            (num.cast("decimal(38,0)") * num).cast("double")
            / den.cast("double")
        ).alias("chi2_contrib"),
    )


@query(
    "event_trigram_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type, 2) OVER w AS t1,
             lag(event_type, 1) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tri AS (
      SELECT t1, t2, event_type AS t3, CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE t1 IS NOT NULL
      GROUP BY t1, t2, event_type
    ), tot AS (
      SELECT t1, t2, CAST(SUM(n) AS BIGINT) AS n_prefix FROM tri GROUP BY t1, t2
    )
    SELECT tri.t1, tri.t2, tri.t3, tri.n,
           CAST(tri.n AS DOUBLE) / tot.n_prefix AS p_next
    FROM tri JOIN tot USING (t1, t2)
    ORDER BY tri.n DESC, tri.t1, tri.t2, tri.t3
    LIMIT 25
    """,
)
def event_trigram_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order path motifs: the 25 most frequent event-type
    trigrams per user timeline, with the conditional probability of the
    third step given the two-step prefix — the sequence-mining signal a
    funnel/recommendation pipeline starts from (the second-order Markov
    refinement of event_transition_matrix).

    ONE user_id window shuffle produces both lags; the aggregate
    collapses to at most |types|^3 cells with map-side combine; the
    prefix totals attach via a second tiny aggregate joined on the
    prefix (cells frame, not the base). p_next is a single int/int
    double division; the top-25 tie-breaks on all three types so the
    limit is deterministic across engines."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    ).where(F.col("t1").isNotNull())
    tri = seq.groupBy("t1", "t2", "t3").agg(F.count(F.lit(1)).alias("n"))
    tot = tri.groupBy("t1", "t2").agg(F.sum("n").cast("bigint").alias("n_prefix"))
    return (
        tri.join(tot, ["t1", "t2"])
        .select(
            "t1",
            "t2",
            "t3",
            "n",
            (F.col("n").cast("double") / F.col("n_prefix")).alias("p_next"),
        )
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(25)
    )
