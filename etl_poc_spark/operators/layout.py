"""Data-layout maintenance: small-file detection and compaction.

Streaming ingests and dynamic-partition overwrites accumulate kilobyte
parquet files whose per-file open/footer cost comes to dominate scans.
Two operators cover the maintenance loop:

  fragmentation_report  -> per partition: file count, rows in undersized
                           files, and the file count a compaction would
                           leave (one metadata-weight aggregate)
  compact_files         -> rewrite a dataset into ceil(n_rows / target)
                           files

Reference parity: the reference materializes plain JSON lists
(`airflow/dags/zara_hybrid_etl.py` save steps) with no layout contract;
this tier is part of the engine's scale surface (SCALING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def fragmentation_report(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
    partition_col: str | None = None,
) -> DataFrame:
    """The detector that decides WHEN compact_files should run: per
    partition (or one row for the whole table), file count, row count,
    rows in undersized files, and the file count a compaction would
    leave — all from ONE metadata-weight aggregate over
    (input_file_name, partition). A maintenance scheduler filters this
    frame (e.g. n_files > 4 * ideal_files) instead of re-listing
    directories imperatively."""
    df = spark.read.parquet(path)
    part = (
        F.col(partition_col)
        if partition_col is not None
        else F.lit("__table__")
    )
    per_file = (
        df.select(part.alias("partition"), F.input_file_name().alias("__f"))
        .groupBy("partition", "__f")
        .agg(F.count(F.lit(1)).alias("__rows"))
    )
    return (
        per_file.groupBy("partition")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("__rows").alias("n_rows"),
            F.sum(
                F.when(F.col("__rows") < target_rows_per_file, F.col("__rows"))
                .otherwise(0)
            ).alias("rows_in_small_files"),
            F.ceil(
                F.sum("__rows") / F.lit(target_rows_per_file)
            ).cast("long").alias("ideal_files"),
        )
        .withColumn(
            "needs_compaction",
            (F.col("n_files") > F.col("ideal_files"))
            & (F.col("rows_in_small_files") > 0),
        )
        .orderBy("partition")
    )


def compact_files(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int,
) -> dict:
    """Small-file compaction: rewrite the parquet dataset at `path` into
    ceil(n_rows / target_rows_per_file) files. The lakehouse maintenance
    op — streaming ingests and dynamic-partition overwrites accumulate
    kilobyte files whose per-file open/footer cost eventually dominates
    scans (a 100k-file day partition reads slower than one 10-file one).

    Shape: count (metadata-weight) -> repartition(k) (round-robin, the
    ONLY shuffle) -> write to a staging dir -> SWAP the staging dir into
    place (delete target + filesystem rename, metadata-only). The staging
    hop exists because Spark cannot overwrite a path it is lazily reading
    from; the swap-by-rename (r16) replaces the pre-r16 re-read-and-rewrite
    finish, which both paid a second full table write AND re-coalesced
    the staged files by the session's maxPartitionBytes — under a
    default-config session the final file count silently diverged from
    the promised ceil(n_rows/target) (caught by the adversarial-session
    gate on compact_files_roundtrip_stats).

    NON-ATOMIC WINDOW (documented): between the target delete and the
    rename, `path` does not exist — a crash there requires manual
    restore by renaming `{path}__compact_staging` into place (the
    staging dir holds the only complete copy, and the rename is the
    very next call). True atomicity needs a table format
    (Delta/Iceberg).

    Returns {"files_before", "files_after", "n_rows"} so callers/tests
    can assert the compaction did what it claims."""
    import math

    df = spark.read.parquet(path)
    # r16: ONE scan yields both pre-stats (was two — a distinct-count of
    # input_file_name plus a separate count; guide §1.2 "don't compute
    # things twice"). r17 (ADVICE r16): the per-file rows fold to the two
    # scalars DISTRIBUTED-side — the driver collects one 2-column row,
    # not one row per file, so driver memory stays O(1) at the docstring's
    # millions-of-small-files scale.
    row = (
        df.groupBy(F.input_file_name())
        .count()
        .agg(F.count(F.lit(1)).alias("nf"), F.sum("count").alias("nr"))
        .collect()[0]
    )
    files_before = int(row["nf"])
    n_rows = int(row["nr"]) if row["nr"] is not None else 0
    k = max(1, math.ceil(n_rows / max(1, target_rows_per_file)))

    staging = f"{path}__compact_staging"
    df.repartition(k).write.mode("overwrite").parquet(staging)

    P = spark._jvm.org.apache.hadoop.fs.Path
    fs = P(path).getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(P(path), True)
    if not fs.rename(P(staging), P(path)):
        raise RuntimeError(
            f"compact_files: swap rename failed — restore manually by "
            f"renaming {staging!r} to {path!r}"
        )
    # r17: files_after from a FILESYSTEM LISTING, not a full post-swap
    # scan + distinct + count of the data it just wrote. Spark's parquet
    # committer creates a part file only for non-empty tasks, so the
    # visible-data-file count IS the distinct-input_file_name count the
    # old probe computed — for zero data bytes read (guide §1.2).
    files_after = sum(
        1
        for st in fs.listStatus(P(path))
        if st.isFile()
        and not st.getPath().getName().startswith(("_", "."))
    )
    return {"files_before": files_before, "files_after": files_after, "n_rows": n_rows}
