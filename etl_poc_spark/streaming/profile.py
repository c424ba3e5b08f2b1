"""Incremental / streaming column profiling — the mergeable twin of
queries/profile_q.py::orders_column_profile.

A landing zone profiles every batch as it arrives, not by re-scanning
history: all the profile fields are MERGEABLE, so the store holds one
small stats row per column plus a bottom-k KMV sketch per column, and
each micro-batch folds in with counter addition / min-max / min-k-union
— cost proportional to the batch, never the table (the same property
that makes streaming/rollup.py and the KMV store replay-safe).

Field semantics:
- n_rows / n_nulls: additive counters (exact).
- min/max: numeric columns merge on a typed double; everything else
  renders to an order-preserving string first (ISO timestamps/dates,
  plain strings) — lexicographic min/max IS the value min/max there.
- distinct: a per-column KMV bottom-k (k hashes, portable md5). The
  min-k-of-union merge is idempotent, so replayed batches are no-ops
  for the sketch; counters use the same batch-id idempotency discipline
  as callers choose (a checkpointed deltastore.foreach_batch_writer
  over incremental_profile_ingest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.operators.sketches import _KMV_HASH_MAX, kmv_hash

_NUMERIC = {"int", "bigint", "smallint", "tinyint", "float", "double", "decimal"}


def _is_numeric(dtype: str) -> bool:
    return dtype.split("(")[0] in _NUMERIC


def profile_batch(df: DataFrame, cols: list[str], k: int = 64) -> tuple[DataFrame, DataFrame]:
    """One batch's partial profile: (stats, kmv).

    stats: (column, n_rows, n_nulls, min_num, max_num, min_str, max_str)
    kmv:   (column, h) — per-column bottom-k distinct hashes."""
    dtypes = dict(df.dtypes)
    stats_parts = []
    kmv_parts = []
    for c in cols:
        col = F.col(c)
        num = _is_numeric(dtypes[c])
        stats_parts.append(
            df.agg(
                F.lit(c).alias("column"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count(F.when(col.isNull(), 1)).alias("n_nulls"),
                (F.min(col.cast("double")) if num else F.lit(None).cast("double")).alias("min_num"),
                (F.max(col.cast("double")) if num else F.lit(None).cast("double")).alias("max_num"),
                (F.lit(None).cast("string") if num else F.min(col.cast("string"))).alias("min_str"),
                (F.lit(None).cast("string") if num else F.max(col.cast("string"))).alias("max_str"),
            )
        )
        from pyspark.sql import Window

        h = (
            df.where(col.isNotNull())
            .select(kmv_hash(col).alias("h"))
            .distinct()
        )
        w = Window.partitionBy(F.lit(1)).orderBy("h")
        kmv_parts.append(
            h.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .select(F.lit(c).alias("column"), "h")
        )
    stats = stats_parts[0]
    for p in stats_parts[1:]:
        stats = stats.unionByName(p)
    kmv = kmv_parts[0]
    for p in kmv_parts[1:]:
        kmv = kmv.unionByName(p)
    return stats, kmv


def incremental_profile_ingest(
    spark: SparkSession,
    batch_df: DataFrame,
    cols: list[str],
    store_dir: str,
    k: int = 64,
) -> None:
    """Fold one batch's partial profile into the store (stats + kmv
    parquet tables). Counters add, min/max fold, sketches union to
    bottom-k. Store size: one row per column + <= k hashes per column."""
    from pyspark.sql import Window

    stats, kmv = profile_batch(batch_df, cols, k=k)
    stats_path = f"{store_dir}/stats"
    kmv_path = f"{store_dir}/kmv"
    try:
        old_stats = spark.read.parquet(stats_path)
        old_kmv = spark.read.parquet(kmv_path)
        have = True
    except Exception:  # first ingest: store does not exist yet
        have = False
    if have:
        stats = (
            old_stats.unionByName(stats)
            .groupBy("column")
            .agg(
                F.sum("n_rows").alias("n_rows"),
                F.sum("n_nulls").alias("n_nulls"),
                F.min("min_num").alias("min_num"),
                F.max("max_num").alias("max_num"),
                F.min("min_str").alias("min_str"),
                F.max("max_str").alias("max_str"),
            )
        )
        kmv = old_kmv.unionByName(kmv)
    w = Window.partitionBy("column").orderBy("h")
    kmv = (
        kmv.distinct()
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
    # bounded materialization: one row per column + k hashes per column
    stats_rows = stats.collect()
    kmv_rows = kmv.collect()
    spark.createDataFrame(stats_rows, stats.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stats_path)
    spark.createDataFrame(kmv_rows, kmv.schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(kmv_path)


def read_profile(spark: SparkSession, store_dir: str, k: int = 64) -> DataFrame:
    """The current profile: stats + KMV distinct estimate per column
    (exact when fewer than k distinct values were ever seen)."""
    stats = spark.read.parquet(f"{store_dir}/stats")
    kmv = spark.read.parquet(f"{store_dir}/kmv")
    agg = kmv.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_in_sketch"), F.max("h").alias("kth_min_hash")
    )
    est = (
        F.lit(float(k - 1)) * F.lit(_KMV_HASH_MAX) / F.col("kth_min_hash").cast("double")
    )
    d = agg.select(
        "column",
        F.when(F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double"))
        .otherwise(est)
        .alias("est_distinct"),
    )
    return stats.join(d, "column", "left").orderBy("column")
