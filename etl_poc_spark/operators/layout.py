"""Data-layout operators: range-partitioned globally-sorted writes.

A 100-TB pipeline's output layout decides every downstream read: a
total-order-by-key dataset lets merge scans, as-of probes, and
range-pruned reads skip everything outside their key window. The naive
way to a total order — `orderBy(...).write` — funnels through a global
sort whose final stage still writes from range-partitioned tasks; this
operator makes the contract EXPLICIT and file-addressable:

  repartitionByRange(k, key)   -> sampled range boundaries, k disjoint
                                  key intervals, one per output task
  sortWithinPartitions(key)    -> each task's rows in key order
  write (one file per task)    -> file i holds a sorted, disjoint key
                                  range; files ordered by range

The concatenation of the files in range order IS the globally sorted
dataset, but no single machine ever held it: the only wide operation is
the range exchange (with a driver-side boundary sample), and each task
sorts only its own slice. A min/max manifest of the produced files gives
a reader O(log n_files) lookup to the file containing any key.

Reference parity: the reference materializes plain JSON lists
(`airflow/dags/zara_hybrid_etl.py` save steps) with no layout contract;
this operator is part of the engine's scale surface (SCALING.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_range_sorted(
    df: DataFrame, path: str, key_col: str, n_ranges: int = 8
) -> None:
    """Write `df` as `n_ranges` parquet files, each a sorted disjoint
    key range (see module docstring). Rows with equal keys stay in one
    range (repartitionByRange boundaries are between distinct key
    values), so per-file key intervals never overlap."""
    (
        df.repartitionByRange(n_ranges, F.col(key_col))
        .sortWithinPartitions(key_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def range_manifest(spark: SparkSession, path: str, key_col: str) -> DataFrame:
    """Per-file (file, min_key, max_key, n_rows) manifest of a
    range-sorted dataset — the reader-side index for key -> file lookup
    and for verifying the layout contract (disjoint, ordered ranges).
    Uses the parquet scan's `input_file_name`, one aggregate, no driver
    iteration; at scale this is a metadata-weight job (column-pruned to
    the key)."""
    return (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("file"), F.col(key_col).alias("k"))
        .groupBy("file")
        .agg(
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("min_key")
    )


def read_range_pruned(
    spark: SparkSession, path: str, key_col: str, lo, hi
) -> DataFrame:
    """Reader-side index for a range-sorted dataset: consult the min/max
    manifest (one metadata-weight job) and open ONLY the files whose key
    interval overlaps [lo, hi] — on a 1000-file dataset a point/range
    lookup reads O(matching files), not the directory. The returned
    frame still carries the residual filter (file ranges are coarser
    than rows). This makes write_range_sorted's contract actionable:
    writer sorts once, every subsequent reader skips forever.

    The manifest collect is bounded by the file count (one row per
    file); for repeated lookups persist range_manifest to a table
    instead of re-deriving it."""
    man = range_manifest(spark, path, key_col).collect()
    keep = [
        r["file"]
        for r in man
        if not (r["max_key"] < lo or r["min_key"] > hi)
    ]
    if not keep:
        return spark.read.parquet(path).where(F.lit(False))
    return spark.read.parquet(*keep).where(
        (F.col(key_col) >= lo) & (F.col(key_col) <= hi)
    )


def z_value_n(cols: list[str], bits: int | None = None) -> F.Column:
    """Morton/Z-order curve value of n non-negative integer keys: bit i
    of column j lands at position i*n + j, so the n dimensions interleave
    round-robin. `bits` per dimension defaults to 63 // n (the most that
    fits a signed 64-bit long: 31 for 2 cols, 21 for 3, 15 for 4). Built
    as a pure shift/and/or Column expression — whole-stage codegen, no
    UDF.

    Sorting by z interleaves the dimensions: points close in ALL of them
    are close on the curve, so a range-sorted write by z gives files
    whose min/max bounds are narrow in EVERY interleaved dimension —
    parquet row-group/file skipping then prunes on any predicate, where a
    single-key sort layout can only prune its sort key."""
    n = len(cols)
    if n < 2:
        raise ValueError("z-order needs at least 2 columns")
    if bits is None:
        bits = 63 // n
    if not 1 <= bits * n <= 63:
        raise ValueError(f"bits*n_cols must be in [1, 63]: bits={bits}, n={n}")
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(c).cast("long"), i).bitwiseAND(F.lit(1)),
                    i * n + j,
                )
            )
    return z


def z_value(x_col: str, y_col: str, bits: int = 21) -> F.Column:
    """2-column Morton value (bit i of x at 2i, of y at 2i+1) — the
    common case, delegating to the n-dimensional interleave."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    return z_value_n([x_col, y_col], bits)


def write_zorder_n(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_ranges: int = 8,
    bits: int | None = None,
) -> None:
    """Write `df` z-ordered on `cols` (2..4 typical): min-max scale each
    key to the SAME `bits`-wide integer range (default 63 // n_cols),
    range-partition + sort by the interleaved value, then drop it — the
    layout benefit lives in the row order and per-file min/max
    statistics, not in an extra column.

    The scaling step is load-bearing: interleaving raw keys lets the
    wider-magnitude dimension's high bits dominate the curve and the
    other dimensions never cluster (measured: unscaled interleave left
    the narrow dimension at ~98% of its global range per file). Equal bit
    budgets are what make every dimension skippable — the same reason
    production z-order implementations range-bucket every column first.
    The bounds come from one 1-row aggregate (a KB to the driver, same
    class as the ANN centroid fetches)."""
    n = len(cols)
    if n < 2:
        raise ValueError("z-order needs at least 2 columns")
    if bits is None:
        bits = 63 // n
    aggs = []
    for c in cols:
        aggs += [F.min(c), F.max(c)]
    bounds = df.agg(*aggs).collect()[0]
    lows, highs = bounds[0::2], bounds[1::2]
    if any(lo is None for lo in lows):  # empty input: nothing to interleave
        df.write.mode("overwrite").parquet(path)
        return
    top = (1 << bits) - 1

    def scaled(col: str, lo: float, hi: float) -> F.Column:
        if hi <= lo:  # constant column: every row maps to bucket 0
            return F.lit(0).cast("long")
        return (
            (F.col(col).cast("double") - F.lit(float(lo)))
            * F.lit(float(top))
            / F.lit(float(hi) - float(lo))
        ).cast("long")

    tmp_cols = [f"__z{j}" for j in range(n)]
    with_z = df
    for c, t, lo, hi in zip(cols, tmp_cols, lows, highs):
        with_z = with_z.withColumn(t, scaled(c, lo, hi))
    with_z = with_z.withColumn("__z", z_value_n(tmp_cols, bits))
    (
        with_z.repartitionByRange(n_ranges, F.col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z", *tmp_cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_zorder(
    df: DataFrame, path: str, x_col: str, y_col: str, n_ranges: int = 8, bits: int = 16
) -> None:
    """2-column z-ordered write — see write_zorder_n."""
    write_zorder_n(df, path, [x_col, y_col], n_ranges=n_ranges, bits=bits)


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
    sort_col: str | None = None,
) -> dict:
    """Small-file compaction: rewrite the parquet dataset at `path` into
    ceil(n_rows / target_rows_per_file) files. The lakehouse maintenance
    op — streaming ingests and dynamic-partition overwrites accumulate
    kilobyte files whose per-file open/footer cost eventually dominates
    scans (a 100k-file day partition reads slower than one 10-file one).

    Shape: count (metadata-weight) -> repartition(k) (round-robin, the
    ONLY shuffle) or, with `sort_col`, repartitionByRange+sort (compact
    AND restore the write_range_sorted layout in one pass) -> write to a
    staging dir -> SWAP the staging dir into place (delete target +
    filesystem rename, metadata-only). The staging hop exists because
    Spark cannot overwrite a path it is lazily reading from; the
    swap-by-rename (r16) replaces the pre-r16 re-read-and-rewrite
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
    if sort_col is not None:
        staged_df = df.repartitionByRange(k, F.col(sort_col)).sortWithinPartitions(sort_col)
    else:
        staged_df = df.repartition(k)
    staged_df.write.mode("overwrite").parquet(staging)

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
