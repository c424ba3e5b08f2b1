"""Incremental materialized rollup — the streaming refresh of the
hypertable-style continuous aggregate (batch formulation:
queries/events_q.py::events_time_rollup).

Shape: foreachBatch computes the micro-batch's partial aggregate, merges it
with the stored aggregate for the AFFECTED day partitions only, and
rewrites just those partitions (dynamic partition overwrite). The store
stays a plain partitioned parquet table queryable at any time; counters and
decimal sums are mergeable by addition, so the refresh cost is proportional
to the batch's time coverage, never the table's history — which is the
whole point of a continuous aggregate at 100 TB (a day's partition
rewrite, not a full-history recompute).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ROLLUP_KEYS = ["day", "hour", "event_type"]


def _partial_rollup(df: DataFrame) -> DataFrame:
    return (
        df.groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_value"),
        )
    )


def upsert_rollup_batch(spark: SparkSession, store_dir: str, batch_df: DataFrame) -> None:
    """Merge one micro-batch's partial rollup into the store, touching only
    the day partitions the batch covers. Streaming: deltastore.
    foreach_batch_writer(stream, ckpt, lambda b, _: upsert_rollup_batch(
    b.sparkSession, store_dir, b))."""
    import os

    # persist: the batch aggregate feeds the affected-day probe AND the
    # merged write — without it the batch source re-aggregates per use
    inc = _partial_rollup(batch_df).persist()
    try:
        affected = [r["day"] for r in inc.select("day").distinct().collect()]
        if not affected:
            return
        merged = inc
        if os.path.exists(store_dir):
            old = spark.read.parquet(store_dir).filter(F.col("day").isin(affected))
            merged = (
                old.unionByName(inc)
                .groupBy(*ROLLUP_KEYS)
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.sum("total_value").alias("total_value"),
                )
            )
        # Pin one physical schema for every store file: sum() widens decimals
        # differently on first-write (sum over 18,2 -> 28,2) vs merged rewrite
        # (sum over 28,2 -> 38,2), which would leave the store with mixed
        # parquet types readable only by type-widening readers.
        merged = merged.select(
            *ROLLUP_KEYS,
            F.col("n_events").cast("long").alias("n_events"),
            F.col("total_value").cast("decimal(38,2)").alias("total_value"),
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("day")
            .parquet(store_dir)
        )
    finally:
        inc.unpersist()
