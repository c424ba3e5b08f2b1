"""Distributed frequency sketches.

count-min: a (d x w) counter grid; each key increments one bucket per hash
row, and an estimate reads the MIN over its d buckets — always >= the true count,
within eps*N with probability 1-delta for w=ceil(e/eps), d=ceil(ln 1/delta).

Spark-first shape: the sketch IS a DataFrame of (j, bucket, cnt) — built by
one groupBy over (hash-row, bucket), i.e. a single shuffle with map-side
partial aggregation, mergeable across partitions/streams by construction
(counter addition). Nothing ever collects the raw keys; the sketch table
has at most d*w rows no matter how many keys exist — that is the point at
100 TB. Hashing is md5-derived (not xxhash64) so the DuckDB oracle can
reproduce the grid bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cm_bucket(key: Column, j: Column | int, w: int) -> Column:
    """Hash-row-j bucket for a key: first 6 hex digits of md5(j || '|' ||
    key) mod w. DuckDB equivalent:
    CAST('0x' || substr(md5(CAST(j AS VARCHAR) || '|' || CAST(key AS
    VARCHAR)), 1, 6) AS INTEGER) % w."""
    j_col = F.lit(j) if isinstance(j, int) else j
    h = F.md5(F.concat(j_col.cast("string"), F.lit("|"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 6), 16, 10).cast("long") % w).cast("int")


def count_min_build(df: DataFrame, key_col: str, d: int = 4, w: int = 64) -> DataFrame:
    """Build the sketch table (j, bucket, cnt) — one shuffle, <= d*w rows."""
    keyed = df.select(F.col(key_col).alias("__k")).withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(d - 1)))
    )
    return (
        keyed.withColumn("bucket", cm_bucket(F.col("__k"), F.col("j"), w))
        .groupBy("j", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def count_min_estimate(
    sketch: DataFrame, keys: DataFrame, key_col: str, d: int = 4, w: int = 64
) -> DataFrame:
    """Point-query the sketch for each row of `keys`: min over the d bucket
    counters. The sketch (<= d*w rows) broadcasts; the probe is a narrow
    explode + broadcast join + min aggregation."""
    probes = keys.select(F.col(key_col)).distinct().withColumn(
        "j", F.explode(F.sequence(F.lit(0), F.lit(d - 1)))
    ).withColumn("bucket", cm_bucket(F.col(key_col), F.col("j"), w))
    # LEFT join + coalesce(0): an absent (j, bucket) cell is a ZERO counter.
    # An inner join would silently drop keys whose cells are all empty and
    # overestimate keys with some empty cells (min over a subset) — the
    # count-min answer for a never-seen key must be 0.
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_estimate"))
    )


# KMV hash domain: first 15 hex digits of md5 = 60 bits, max 2^60.
_KMV_HASH_MAX = float(1 << 60)


def kmv_hash(key: Column) -> Column:
    """60-bit portable hash for KMV: first 15 hex digits of md5(key).
    DuckDB equivalent: CAST('0x' || substr(md5(CAST(key AS VARCHAR)), 1,
    15) AS BIGINT) — same recipe family as cm_bucket, wide enough that
    the order statistics have negligible collision mass."""
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast("long")


def kmv_bottom_k(df: DataFrame, key_col: str, k: int = 64) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al. 2002): keep the
    k smallest distinct hash values; the k-th smallest order statistic
    estimates distinct count as (k-1) * HASH_MAX / kth_min.

    Returns ONE row: (k, n_in_sketch, kth_min_hash, est_distinct).
    When fewer than k distinct hashes exist the sketch saw every value and
    the estimate is the exact count (standard KMV rule).

    Spark-first shape: distinct-hash dedup is the only wide stage;
    the bottom-k runs as TakeOrderedAndProject (per-partition bottom-k,
    merged at the driver over k-sized slices) — mergeable across
    partitions/streams by keeping min-k of a union, and the sketch state
    is k longs no matter the corpus size. Unlike approx_count_distinct's
    opaque HLL register blob, the sketch state here is portable: the
    DuckDB oracle reproduces it bit-for-bit, so an APPROXIMATE operator
    gets an EXACT correctness gate.

    Estimator arithmetic is pinned for cross-engine bit-equality:
    (k-1)*2^60 is exact in double (k <= 2^8), the int64->double cast of
    kth_min rounds IEEE-nearest identically in both engines, and the
    single division is deterministic.
    """
    h = df.select(kmv_hash(F.col(key_col)).alias("h")).distinct()
    est = (
        F.lit(float(k - 1)) * F.lit(_KMV_HASH_MAX) / F.col("kth_min_hash").cast("double")
    )
    return (
        h.orderBy("h").limit(k)
        .agg(
            F.count(F.lit(1)).alias("n_in_sketch"),
            F.max("h").alias("kth_min_hash"),
        )
        .select(
            F.lit(k).alias("k"),
            "n_in_sketch",
            "kth_min_hash",
            F.when(F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double"))
            .otherwise(est)
            .alias("est_distinct"),
        )
    )


def cms_inner_product(
    sketch_a: DataFrame, sketch_b: DataFrame, d: int = 4
) -> DataFrame:
    """Join-size estimate from two count-min sketches over the join key:
    |A JOIN B on k| = sum_k fA(k)*fB(k), estimated as the MIN over hash
    rows of the per-row bucket inner product (Cormode-Muthukrishnan; an
    over-estimate in expectation, error <= ||fA|| ||fB|| / w per row).

    The preflight a planner runs before an expensive equi-join or
    self-join (pass the SAME sketch twice for sum f^2 — the blowup
    predictor for co-occurrence joins): both operands are <= d*w-row
    sketch tables, so the product join is sketch-sized, never data-sized.
    Returns one row (est_join_rows)."""
    a = sketch_a.select("j", "bucket", F.col("cnt").alias("ca"))
    b = sketch_b.select(
        F.col("j").alias("jb"), F.col("bucket").alias("bucketb"), F.col("cnt").alias("cb")
    )
    per_row = (
        a.join(b, (a.j == b.jb) & (a.bucket == b.bucketb))
        .groupBy("j")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("ip"))
    )
    # Densify over ALL d hash rows before the MIN: a hash row whose buckets
    # never overlap between the two sketches has inner product 0 — dropping
    # it (inner-join artifact) would take the MIN over a subset and, for
    # fully disjoint sketches, return NULL instead of 0. Same trap
    # count_min_estimate avoids with its left join + coalesce.
    spark = sketch_a.sparkSession
    all_rows = spark.range(d).select(F.col("id").cast("int").alias("j"))
    dense = all_rows.join(per_row, "j", "left").select(
        F.coalesce(F.col("ip"), F.lit(0)).alias("ip")
    )
    return dense.agg(F.min("ip").cast("bigint").alias("est_join_rows"))


def rolling_kmv_distinct(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    n_days: int = 7,
    k: int = 64,
) -> DataFrame:
    """Trailing n-day distinct-count estimates per day from DAILY KMV
    sketches — the sliding-window distinct problem at 100 TB: an exact
    per-window countDistinct re-scans every window, but bottom-k sketches
    merge by min-k-of-union, so each day contributes its <= k hashes ONCE
    and every window re-derives its estimate from sketch rows only.

    Shape: per-day distinct hashes -> per-day bottom-k (k rows/day) ->
    each sketch row fans out to the <= n_days windows it serves (an
    explode, bounded by k * n_days rows/day) -> per-window re-bottom-k ->
    kth-min estimate. Output one row per observed day:
    (day, n_in_sketch, kth_min_hash, est_distinct)."""
    from pyspark.sql import Window

    day = F.to_date(F.col(ts_col))
    daily = (
        df.select(day.alias("day"), kmv_hash(F.col(key_col)).alias("h"))
        .distinct()
    )
    wd = Window.partitionBy("day").orderBy("h")
    day_sketch = (
        daily.withColumn("__rn", F.row_number().over(wd))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
    # fan out: a day-d sketch row serves windows ending d .. d+n_days-1
    fan = day_sketch.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), n_days - 1))
        ).alias("win_day"),
        "h",
    )
    observed = daily.select("day").distinct()
    windows = (
        fan.join(observed, fan.win_day == observed.day, "left_semi")
        .select(F.col("win_day").alias("day"), "h")
        .distinct()  # same key hash may arrive from several days
    )
    ww = Window.partitionBy("day").orderBy("h")
    bk = (
        windows.withColumn("__rn", F.row_number().over(ww))
        .where(F.col("__rn") <= k)
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("n_in_sketch"), F.max("h").alias("kth_min_hash"))
    )
    est = (
        F.lit(float(k - 1)) * F.lit(_KMV_HASH_MAX) / F.col("kth_min_hash").cast("double")
    )
    return bk.select(
        "day",
        F.col("n_in_sketch").cast("bigint").alias("n_in_sketch"),
        "kth_min_hash",
        F.when(F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double"))
        .otherwise(est)
        .alias("est_distinct"),
    )
