"""Remaining SURVEY §2 surface: log parsing (F3), stdout heuristics (F4),
set operations (§2.7), rank-family windows (§2.5), approximate aggregates
(§2.4 ABSENT-category surface, rows-only check)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query

# deterministic synthetic docetl-style stdout lines derived from doc_id —
# both engines construct the identical corpus, then parse it back
_LINES_SQL = """
    WITH logs AS (
      SELECT doc_id,
             '✓ op_' || CAST(doc_id % 5 AS VARCHAR) || ' (Cost: $'
               || CAST(doc_id // 100 AS VARCHAR) || '.'
               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ')' AS line
      FROM documents
    )
"""


@query(
    "cost_log_parsing",
    oracle=_LINES_SQL + """
    SELECT regexp_extract(line, '✓ (\\S+) \\(Cost: \\$([0-9.]+)\\)', 1) AS op,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(regexp_extract(line, '✓ (\\S+) \\(Cost: \\$([0-9.]+)\\)', 2) AS DECIMAL(18,2))) AS DOUBLE) AS total_cost
    FROM logs
    GROUP BY 1
    """,
)
def cost_log_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: the reference scrapes per-op cost from docetl stdout with regexes
    (zara_hybrid_etl.py:39-75). Reproduced as a lines-DF regexp_extract +
    exact decimal cost aggregation."""
    d = load_table(spark, sf_dir, "documents")
    line = F.concat(
        F.lit("✓ op_"), (F.col("doc_id") % 5).cast("string"),
        F.lit(" (Cost: $"), F.expr("CAST(doc_id DIV 100 AS STRING)"),
        F.lit("."), F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"), F.lit(")"),
    )
    logs = d.select("doc_id", line.alias("line"))
    pat = r"✓ (\S+) \(Cost: \$([0-9.]+)\)"
    return (
        logs.groupBy(F.regexp_extract("line", pat, 1).alias("op"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.regexp_extract("line", pat, 2).cast("decimal(18,2)")).cast("double").alias("total_cost"),
        )
    )


@query(
    "stdout_heuristics",
    oracle="""
    WITH logs AS (
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'ERROR: failed to process item ' || CAST(doc_id AS VARCHAR)
               WHEN 1 THEN 'Warning: slow response'
               WHEN 2 THEN 'Successfully processed ' || CAST(doc_id AS VARCHAR) || ' items'
               ELSE 'info: ok' END AS line
      FROM documents
    )
    SELECT CAST(SUM(CASE WHEN strpos(lower(line), 'error') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CASE WHEN strpos(lower(line), 'warning') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_warning,
           CAST(SUM(CASE WHEN strpos(lower(line), 'success') > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_success,
           COUNT(*) AS n_lines
    FROM logs
    """,
)
def stdout_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: contains-error/warning/success stdout flags
    (docetl_operator.py:297-317)."""
    d = load_table(spark, sf_dir, "documents")
    line = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("ERROR: failed to process item "), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 4 == 1, F.lit("Warning: slow response"))
        .when(F.col("doc_id") % 4 == 2, F.concat(F.lit("Successfully processed "), F.col("doc_id").cast("string"), F.lit(" items")))
        .otherwise(F.lit("info: ok"))
    )
    logs = d.select(line.alias("line"))

    def flag(s: str) -> F.Column:
        return F.sum(F.when(F.instr(F.lower(F.col("line")), s) > 0, F.lit(1)).otherwise(F.lit(0)))

    return logs.agg(
        flag("error").alias("n_error"),
        flag("warning").alias("n_warning"),
        flag("success").alias("n_success"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "order_year_setops",
    oracle="""
    SELECT 'both_years' AS bucket, COUNT(*) AS n_customers FROM (
      SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    )
    UNION ALL
    SELECT 'only_1995' AS bucket, COUNT(*) AS n_customers FROM (
      SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    )
    """,
)
def order_year_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 intersect/except surface: customers ordering in both 1995 and
    1996 vs only 1995. Spark plans these as semi/anti joins over distinct
    keys — no row explosion."""
    o = load_table(spark, sf_dir, "orders")
    y95 = o.filter((F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1996-01-01")).select("o_custkey")
    y96 = o.filter((F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")).select("o_custkey")
    both = y95.intersect(y96).agg(F.count(F.lit(1)).alias("n_customers")).select(F.lit("both_years").alias("bucket"), "n_customers")
    only95 = y95.subtract(y96).agg(F.count(F.lit(1)).alias("n_customers")).select(
        F.lit("only_1995").alias("bucket"), "n_customers"
    )
    return both.unionByName(only95)


@query(
    "customer_balance_ranks",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
           rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS rnk,
           dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS drnk,
           percent_rank() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC) AS prnk
    FROM customer
    """,
)
def customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 rank family: rank / dense_rank / percent_rank over per-segment
    balance ordering (rank values are deterministic under ties even though
    row order is not — only rank columns are emitted)."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"))
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
    )


@query("approx_distinct_parts")  # no oracle: HLL sketches are engine-specific (rows-only check)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 approximate aggregates: approx_count_distinct (HyperLogLog++)
    next to the exact count. No DuckDB oracle — sketch implementations
    differ by design; tests assert <5% relative error instead."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "salted_join_revenue",
    oracle="""
    SELECT n.n_name AS nation,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name
    """,
)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-key treatment as a driver-checked query: orders salt their
    join key over 8 replicas of the (small) customer-nation dim, so one
    dominant customer key spreads across 8 reducers instead of one. Results
    are identical to the plain join (the oracle IS the plain join) — the
    salt is a physical rewrite only. At cluster scale this is the manual
    fallback when AQE's skew splitting can't help (e.g. skewed
    aggregations feeding the join)."""
    from etl_poc_spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dim = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("c_custkey").alias("o_custkey"), F.col("n_name").alias("nation")
    )
    joined = salted_join(o, dim, on="o_custkey", n_salts=8)
    return joined.groupBy("nation").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("revenue"),
    )


@query(
    "count_min_user_freq",
    oracle="""
    WITH sk AS (
      SELECT b.j,
             CAST('0x' || substr(md5(CAST(b.j AS VARCHAR) || '|' || CAST(e.user_id AS VARCHAR)), 1, 6) AS INTEGER) % 64 AS bucket,
             COUNT(*) AS cnt
      FROM events e CROSS JOIN (SELECT unnest(range(4)) AS j) b
      GROUP BY 1, 2
    ), probes AS (
      SELECT DISTINCT e.user_id, b.j,
             CAST('0x' || substr(md5(CAST(b.j AS VARCHAR) || '|' || CAST(e.user_id AS VARCHAR)), 1, 6) AS INTEGER) % 64 AS bucket
      FROM events e CROSS JOIN (SELECT unnest(range(4)) AS j) b
    ), est AS (
      SELECT p.user_id, MIN(sk.cnt) AS cm_estimate
      FROM probes p JOIN sk USING (j, bucket)
      GROUP BY p.user_id
    ), truth AS (
      SELECT user_id, COUNT(*) AS true_count FROM events GROUP BY user_id
    )
    SELECT t.user_id, t.true_count, e.cm_estimate
    FROM truth t JOIN est e USING (user_id)
    """,
)
def count_min_user_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (d=4, w=64) over event user frequencies, probed for
    every user against the true counts. The sketch table is <= 256 rows no
    matter the corpus size — a single mergeable shuffle — which is how you
    answer heavy-hitter frequency queries at 100 TB without a per-key
    groupBy result. md5 bucketing keeps the grid bit-identical to the
    DuckDB oracle; cm_estimate >= true_count always (test-pinned)."""
    from etl_poc_spark.operators.sketches import count_min_build, count_min_estimate

    e = load_table(spark, sf_dir, "events")
    sketch = count_min_build(e, "user_id", d=4, w=64)
    est = count_min_estimate(sketch, e, "user_id", d=4, w=64)
    truth = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_count"))
    return truth.join(est, "user_id").select("user_id", "true_count", "cm_estimate")


@query(
    "gini_chars_by_lang",
    oracle="""
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n,
             SUM(n_chars) OVER (PARTITION BY lang) AS total
      FROM documents
      WHERE n_chars IS NOT NULL  -- mirror the UDAF's dropna semantics
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM((2 * rn - n - 1) * n_chars) AS DOUBLE)
             / CAST(MAX(n) * MAX(total) AS DOUBLE) AS gini
    FROM ranked GROUP BY lang
    """,
)
def gini_chars_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini coefficient of document lengths via a pandas
    GROUPED_AGG UDAF (the custom-aggregate tier): exact integer weighted
    sum over the sorted values, one final int/int division — bit-identical
    across partitionings and to the SQL window formulation in the oracle.
    A real curation metric: high Gini = a few documents dominate the
    stratum's token budget."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _gini(values):
        # the values arrive in partition order; the sort makes that irrelevant
        xs = sorted(int(v) for v in values.dropna())
        n = len(xs)
        total = sum(xs)
        if n == 0 or total == 0:
            return 0.0
        num = sum((2 * i - n - 1) * x for i, x in enumerate(xs, start=1))
        return num / (n * total)

    # Spark disallows mixing GROUPED_AGG pandas UDFs with built-in
    # aggregates in one agg, so the row count is a pandas UDAF too
    def _n(values):
        return len(values.dropna())

    # `from __future__ import annotations` stringifies hints, which breaks
    # pandas_udf's GROUPED_AGG signature inference — set real objects
    _gini.__annotations__ = {"values": pd.Series, "return": float}
    _n.__annotations__ = {"values": pd.Series, "return": int}
    gini, n_rows = pandas_udf(_gini, "double"), pandas_udf(_n, "long")
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        n_rows(F.col("n_chars")).alias("n_docs"),
        gini(F.col("n_chars")).alias("gini"),
    )


@query("hll_sketch_union_users")  # no oracle: sketch bytes are engine-specific (rows-only)
def hll_sketch_union_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct counting (the incremental/scale path that
    approx_count_distinct alone doesn't give you): build one DataSketches
    HLL sketch per day with hll_sketch_agg, then union the per-day sketches
    with hll_union_agg for the overall distinct-user estimate — the exact
    pattern of a partitioned rollup store where each partition keeps its
    sketch and totals never rescan history. Exact counts alongside for the
    error-bound test."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.expr("hll_sketch_agg(cast(user_id as string))").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return daily.agg(
        F.count(F.lit(1)).alias("n_days"),
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").cast("long").alias("approx_total_users"),
        F.sum("exact_users").alias("sum_daily_exact"),
    ).crossJoin(
        e.agg(F.countDistinct("user_id").alias("exact_total_users"))
    )


@query(
    "kmv_distinct_users",
    oracle="""
    WITH h AS (
      SELECT DISTINCT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM events
    ), bk AS (
      SELECT h FROM h ORDER BY h LIMIT 64
    ), s AS (
      SELECT COUNT(*) AS n_in_sketch, MAX(h) AS kth_min_hash FROM bk
    )
    SELECT 64 AS k, s.n_in_sketch, s.kth_min_hash,
           CASE WHEN s.n_in_sketch < 64 THEN CAST(s.n_in_sketch AS DOUBLE)
                ELSE CAST(63 AS DOUBLE) * 1152921504606846976.0
                     / CAST(s.kth_min_hash AS DOUBLE) END AS est_distinct,
           (SELECT COUNT(*) FROM h) AS exact_distinct
    FROM s
    """,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch, k=64, beside the exact
    count. The APPROXIMATE estimator gets an EXACT oracle: the md5-derived
    hash order statistics are engine-portable, unlike the HLL register
    blobs behind approx_count_distinct / hll_sketch_agg (rows-only checks).
    Sketch state is 64 longs regardless of corpus size and mergeable by
    min-k-of-union — the streaming/partitioned-rollup distinct-count path
    at 100 TB. The exact-count side is one countDistinct for the
    comparison column; the single-row crossJoin is scalar-bounded."""
    from etl_poc_spark.operators.sketches import kmv_bottom_k

    e = load_table(spark, sf_dir, "events")
    sk = kmv_bottom_k(e, "user_id", k=64)
    return sk.crossJoin(
        e.agg(F.countDistinct("user_id").alias("exact_distinct"))
    )


@query(
    "partkey_selfjoin_size_preflight",
    oracle="""
    WITH sk AS (
      SELECT b.j,
             CAST('0x' || substr(md5(CAST(b.j AS VARCHAR) || '|' || CAST(l.l_partkey AS VARCHAR)), 1, 6) AS INTEGER) % 256 AS bucket,
             COUNT(*) AS cnt
      FROM lineitem l CROSS JOIN (SELECT unnest(range(4)) AS j) b
      GROUP BY 1, 2
    ), est AS (
      SELECT MIN(ip) AS est_join_rows FROM (
        SELECT j, SUM(cnt * cnt) AS ip FROM sk GROUP BY j
      )
    ), exact AS (
      SELECT SUM(c * c) AS exact_join_rows FROM (
        SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey
      )
    )
    SELECT CAST(exact.exact_join_rows AS BIGINT) AS exact_join_rows,
           CAST(est.est_join_rows AS BIGINT) AS est_join_rows,
           round(CAST(est.est_join_rows AS DOUBLE) / exact.exact_join_rows, 9)
             AS overestimate_ratio
    FROM exact CROSS JOIN est
    """,
)
def partkey_selfjoin_size_preflight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size preflight: how many rows would `lineitem` self-joined on
    l_partkey produce (the blowup behind the co-purchase graph)? The
    count-min inner product (operators/sketches.py::cms_inner_product,
    d=4 w=256, same sketch both sides = sum f^2) answers from a <=1024-row
    sketch — no groupBy result, no join — beside the exact sum-of-squares
    for the measured overestimate. APPROXIMATE estimator, EXACT oracle
    (md5 grid is engine-portable — the kmv/count_min philosophy)."""
    from etl_poc_spark.operators.sketches import cms_inner_product, count_min_build

    li = load_table(spark, sf_dir, "lineitem")
    sk = count_min_build(li, "l_partkey", d=4, w=256)
    from etl_poc_spark.operators.pins import pin

    sk = pin(sk)  # both sides of the product read it
    est = cms_inner_product(sk, sk, d=4)
    exact = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).cast("bigint").alias("exact_join_rows"))
    )
    return exact.crossJoin(F.broadcast(est)).select(
        "exact_join_rows",
        "est_join_rows",
        F.round(
            F.col("est_join_rows").cast("double") / F.col("exact_join_rows"), 9
        ).alias("overestimate_ratio"),
    )


@query(
    "rolling_7day_distinct_users",
    oracle="""
    WITH daily AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day,
             CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
      FROM events
    ), day_sketch AS (
      SELECT day, h FROM (
        SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        FROM daily
      ) WHERE rn <= 64
    ), fan AS (
      SELECT DISTINCT CAST(day + INTERVAL (o.off) DAY AS DATE) AS day, h
      FROM day_sketch CROSS JOIN (SELECT unnest(range(7)) AS off) o
    ), windows AS (
      SELECT f.day, f.h FROM fan f
      WHERE f.day IN (SELECT DISTINCT day FROM daily)
    ), bk AS (
      SELECT day, COUNT(*) AS n_in_sketch, MAX(h) AS kth_min_hash FROM (
        SELECT day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn
        FROM windows
      ) WHERE rn <= 64 GROUP BY day
    ), ex AS (
      SELECT w.day, COUNT(DISTINCT e.user_id) AS exact_distinct
      FROM (SELECT DISTINCT day FROM daily) w
      JOIN events e
        ON CAST(e.ts AS DATE) BETWEEN w.day - INTERVAL 6 DAY AND w.day
      GROUP BY w.day
    )
    SELECT bk.day, CAST(bk.n_in_sketch AS BIGINT) AS n_in_sketch, bk.kth_min_hash,
           CASE WHEN bk.n_in_sketch < 64 THEN CAST(bk.n_in_sketch AS DOUBLE)
                ELSE CAST(63 AS DOUBLE) * 1152921504606846976.0
                     / CAST(bk.kth_min_hash AS DOUBLE) END AS est_distinct,
           CAST(ex.exact_distinct AS BIGINT) AS exact_distinct
    FROM bk JOIN ex USING (day)
    ORDER BY bk.day
    """,
)
def rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day distinct active users per day via mergeable daily
    KMV sketches (operators/sketches.py::rolling_kmv_distinct) — the
    sliding-window distinct problem no exact per-window countDistinct
    survives at 100 TB (here the exact side re-scans 7x for the
    comparison column; the sketch side touches <= 64 rows per day per
    window). md5 order statistics keep the APPROXIMATE estimates
    hash-exact against the oracle."""
    from etl_poc_spark.operators.sketches import rolling_kmv_distinct

    e = load_table(spark, sf_dir, "events")
    est = rolling_kmv_distinct(e, "user_id", "ts", n_days=7, k=64)
    days = e.select(F.to_date("ts").alias("day")).distinct()
    fan_u = e.select(
        F.explode(
            F.sequence(F.to_date("ts"), F.date_add(F.to_date("ts"), 6))
        ).alias("day"),
        "user_id",
    )
    exact = (
        fan_u.join(days, "day", "left_semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("exact_distinct"))
    )
    return est.join(exact, "day")


@query(
    "partkey_skew_report",
    oracle="""
    WITH counts AS (
      SELECT l_partkey AS k, COUNT(*) AS c FROM lineitem GROUP BY l_partkey
    ), s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(MAX(c) AS BIGINT) AS max_key_rows
      FROM counts
    ), hot AS (
      SELECT k AS hottest_key FROM counts ORDER BY c DESC, k DESC LIMIT 1
    ), ranked AS (
      SELECT c, row_number() OVER (ORDER BY c) AS rn FROM counts
    ), p AS (
      SELECT CAST(r.c AS BIGINT) AS p99_key_rows
      FROM ranked r CROSS JOIN s
      WHERE r.rn = (99 * s.n_keys + 99) // 100
    )
    SELECT s.n_keys, s.n_rows, s.max_key_rows, hot.hottest_key, p.p99_key_rows,
           round(s.max_key_rows / (CAST(s.n_rows AS DOUBLE) / s.n_keys), 9) AS skew_ratio,
           CAST(CEIL(s.max_key_rows / (CAST(s.n_rows AS DOUBLE) / s.n_keys)) AS INTEGER)
             AS suggested_salts
    FROM s CROSS JOIN hot CROSS JOIN p
    """,
)
def partkey_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew preflight for shuffling lineitem on l_partkey
    (operators/skew.py::key_skew_report): exact per-key row-count stats —
    cardinality, hottest key, p99 key size (two-pass selection, no
    buffering), and the ceil(max/avg) salt factor salted_join would need.
    The measurement step before any salting/AQE-skew decision, computed
    on key cardinality after one map-side-combined shuffle."""
    from etl_poc_spark.operators.skew import key_skew_report

    return key_skew_report(load_table(spark, sf_dir, "lineitem"), "l_partkey")
