"""File-layout tier queries — the maintenance-scheduler views over
physical parquet layout (operators/layout.py).

The layout operators (fragmentation detection and compaction) are
verified by pytest; `fragmentation_report_orders` also puts the tier
under the DuckDB-oracle gate. The trick that makes a FILE-layout query
oracle-checkable at all: the fragmented table is built with a
DETERMINISTIC files-per-partition construction (one writer task +
maxRecordsPerFile=R rolls a partition of n rows into exactly ⌈n/R⌉
files of R rows plus one n mod R remainder), so every output column —
file counts, rows in undersized files, post-compaction ideal — is a
closed-form integer function of the per-partition row COUNT, which
DuckDB computes from the logical table alone.

Reference parity note: the reference system has no file-layout tier
(its docetl pipeline materializes whole JSON files per run —
docetl/config/*.yaml); this tier exists for the 100 TB lakehouse case
where streaming ingests accumulate kilobyte files and scan cost is
dominated by file count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.registry import query

# deterministic-layout constants: "hot" priorities (1-URGENT, 2-HIGH)
# simulate a fragmented streaming ingest (500-row files), the rest a
# healthy batch layout (4000-row files); the report thresholds at 2000.
_R_FRAGMENTED = 500
_R_HEALTHY = 4000
_TARGET_ROWS = 2000


@query(
    "fragmentation_report_orders",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS "partition",
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                  THEN {_R_FRAGMENTED} ELSE {_R_HEALTHY} END AS r
      FROM orders GROUP BY 1, 3
    ), m AS (
      SELECT "partition", n_rows, r,
             CAST(CEIL(n_rows * 1.0 / r) AS BIGINT) AS n_files,
             n_rows % r AS rem,
             CAST(CEIL(n_rows * 1.0 / {_TARGET_ROWS}) AS BIGINT) AS ideal_files
      FROM g
    )
    SELECT "partition", n_files, n_rows,
           CAST(
             (CASE WHEN r < {_TARGET_ROWS} THEN n_rows - rem ELSE 0 END)
             + (CASE WHEN rem > 0 AND rem < {_TARGET_ROWS} THEN rem ELSE 0 END)
           AS BIGINT) AS rows_in_small_files,
           ideal_files,
           (n_files > ideal_files)
             AND ((CASE WHEN r < {_TARGET_ROWS} THEN n_rows - rem ELSE 0 END)
                  + (CASE WHEN rem > 0 AND rem < {_TARGET_ROWS} THEN rem ELSE 0 END)) > 0
             AS needs_compaction
    FROM m
    ORDER BY "partition"
    """,
)
def fragmentation_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file fragmentation detector (layout.fragmentation_report)
    over a deterministically fragmented copy of `orders`, partitioned by
    o_orderpriority: hot priorities (1-*/2-*) written as 500-row files
    (a streaming-ingest tail), the rest as 4000-row files (healthy batch
    layout). Per partition: file count, rows sitting in files under the
    2000-row target, and the file count a compaction would leave — the
    frame a maintenance scheduler filters to decide WHEN compact_files
    runs, instead of re-listing directories imperatively.

    Oracle-checkable because the layout is a pure function of row
    counts: one writer task per group + maxRecordsPerFile=R gives each
    partition exactly ⌈n/R⌉ files (R rows each, then the n mod R
    remainder), so DuckDB reproduces every column from COUNT(*) alone.

    Scale shape: fragmentation_report is ONE metadata-weight aggregate
    over (input_file_name, partition) — no data columns read beyond the
    partition key; at 100 TB the report costs a footer-count scan, not a
    table scan. The probe's staging copy is test scaffolding; production
    points the report at the live table path."""
    import shutil
    import tempfile

    from etl_poc_spark.operators.layout import fragmentation_report

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    staged = tempfile.mkdtemp(prefix="frag_orders_")
    try:
        _write_fragmented_orders(orders, staged)
        # eager localCheckpoint: the ≤5-row result must survive the
        # staging dir's removal below (the driver collects after return)
        return fragmentation_report(
            spark, staged, _TARGET_ROWS, partition_col="o_orderpriority"
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def _write_fragmented_orders(orders: DataFrame, staged: str) -> None:
    """The deterministic fragmented layout both layout queries build:
    hot priorities (1-*/2-*) as _R_FRAGMENTED-row files, the rest as
    _R_HEALTHY-row files — one writer task per group, so every partition
    holds exactly ⌈n/R⌉ files (R rows each + the n mod R remainder).

    r17 (guide §2.6): the two writes are INDEPENDENT Spark jobs whose
    only ordering was the driver calling them sequentially — they now run
    from a 2-thread pool so the second job's tasks back-fill executors
    freed by the first job's tail. Concurrent appends into ONE output
    path would share the Hadoop committer's staging dirs, so each job
    writes its own root and the disjoint o_orderpriority=... partition
    dirs are then RENAMED into `staged` (metadata-only moves; the file
    contents, names-within-partitions, and the ⌈n_p/R⌉ roll the oracle's
    closed form needs are untouched)."""
    import os
    import shutil
    from concurrent.futures import ThreadPoolExecutor

    hot = F.col("o_orderpriority").startswith("1") | F.col(
        "o_orderpriority"
    ).startswith("2")

    def write_one(job: tuple) -> str:
        pred, r, root = job
        (
            orders.filter(pred)
            # r16: hash-repartition BY THE PARTITION COLUMN (was
            # repartition(1)) — each priority lands wholly in one task, so
            # maxRecordsPerFile still rolls exactly ⌈n_p/R⌉ files per
            # partition dir (the determinism the oracle closed form needs),
            # but distinct priorities write in parallel instead of
            # serializing through a single task (guide §2.5).
            .repartition(F.col("o_orderpriority"))
            .write.mode("append")
            .option("maxRecordsPerFile", r)
            .partitionBy("o_orderpriority")
            .parquet(root)
        )
        return root

    jobs = [
        (hot, _R_FRAGMENTED, staged + "__hot"),
        (~hot, _R_HEALTHY, staged + "__cold"),
    ]
    with ThreadPoolExecutor(max_workers=2) as pool:
        roots = list(pool.map(write_one, jobs))
    for root in roots:
        for name in os.listdir(root):
            if name.startswith("o_orderpriority="):
                os.rename(os.path.join(root, name), os.path.join(staged, name))
        shutil.rmtree(root, ignore_errors=True)


@query(
    "compact_files_roundtrip_stats",
    oracle=f"""
    WITH g AS (
      SELECT o_orderpriority AS p, CAST(COUNT(*) AS BIGINT) AS n,
             CASE WHEN o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%'
                  THEN {_R_FRAGMENTED} ELSE {_R_HEALTHY} END AS r
      FROM orders GROUP BY 1, 3
    )
    SELECT CAST(SUM(CEIL(n * 1.0 / r)) AS BIGINT) AS files_before,
           CAST(CEIL(SUM(n) * 1.0 / {_TARGET_ROWS}) AS BIGINT) AS files_after,
           CAST(SUM(n) AS BIGINT) AS n_rows
    FROM g
    """,
)
def compact_files_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction ROUNDTRIP under the driver oracle
    (layout.compact_files): rewrite the deterministically fragmented
    orders copy into ⌈n/{target}⌉ files and emit the operator's own
    report — files_before (Σ per-partition ⌈n_p/R_p⌉, the fragmented
    layout's closed form), files_after (⌈n/target⌉ — repartition(k) with
    an explicit k is exempt from AQE coalescing, so the count is exact),
    and n_rows (unchanged by compaction). DuckDB reproduces all three
    from per-partition COUNT(*) alone, so the oracle externally verifies
    that the rewrite both ran and preserved every row.

    Scale shape: compact_files is count (metadata) → ONE round-robin
    repartition shuffle → write; the staging-hop non-atomicity contract
    is documented on the operator. At 100 TB this runs per partition from
    the fragmentation_report_orders schedule, never whole-table."""
    import shutil
    import tempfile

    from etl_poc_spark.operators.layout import compact_files

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    staged = tempfile.mkdtemp(prefix="compact_orders_")
    try:
        _write_fragmented_orders(orders, staged)
        rep = compact_files(spark, staged, _TARGET_ROWS)
        return spark.createDataFrame(
            [(int(rep["files_before"]), int(rep["files_after"]), int(rep["n_rows"]))],
            "files_before bigint, files_after bigint, n_rows bigint",
        )
    finally:
        shutil.rmtree(staged, ignore_errors=True)


@query(
    "exact_dedup_store_compaction_stats",
    oracle="""
    WITH fp AS (
      SELECT md5(text) AS fp, MIN(doc_id) AS min_id,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY 1
    )
    SELECT CAST(1 AS INTEGER) AS gen,
           CAST(2 AS INTEGER) AS slots_folded,
           CAST(1 AS INTEGER) AS slots_live,
           CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(n) AS BIGINT) AS n_copies_total,
           CAST(SUM(min_id) AS BIGINT) AS min_id_sum
    FROM fp
    """,
)
def exact_dedup_store_compaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-ingest store-COMPACTION path under the driver
    oracle (operators/deltastore.py; VERDICT r15 lead): the documents
    corpus ingests as three md5-bucketed batches into a tag-slotted
    exact-fingerprint store (operators/incremental.py, md5 mode — the
    oracle-portable hash), `compact_exact_dedup_store` folds the two
    committed slots into the consolidated hidden slot (keep_slots=1
    protects the newest), and the emitted row folds the POST-compaction
    store: fingerprint count, total copies, min-representative checksum —
    all equal, by the protocol's reads-bit-equal guarantee, to a
    from-scratch exact dedup over the whole corpus, which is exactly what
    the DuckDB oracle computes from the logical table. The gen /
    slots_folded / slots_live columns come from the compaction report, so
    the row also proves the fold actually ran (1 generation, 2 folded,
    1 live tail slot).

    Scale shape: per batch, only (fp, min_id, n_copies) rows shuffle or
    persist — bodies never move; compaction is one associative groupBy
    over the folded slots; the store read after compaction lists O(1 +
    tail) files instead of O(#batches) (measured 500-batch reading in
    SCALING.md)."""
    import shutil
    import tempfile

    from etl_poc_spark.operators.curation import hash_bucket
    from etl_poc_spark.operators.incremental import (
        compact_exact_dedup_store,
        incremental_exact_dedup_ingest,
        read_exact_dedup_store,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    store = tempfile.mkdtemp(prefix="fp_store_") + "/store"
    try:
        b = hash_bucket(F.col("doc_id"), 3, "cstore")

        def ingest(i: int) -> None:
            incremental_exact_dedup_ingest(
                spark, d.filter(b == i), store, ["text"],
                id_col="doc_id", hash_mode="md5", batch_tag=f"b{i}",
            )

        # r17 (guide §2.6 + r16 verdict item 4): batch 0 ingests alone
        # (it CREATES the store — a concurrent reader could catch the dir
        # existing with zero visible files and fail schema inference),
        # then batches 1 and 2 overlap from a 2-thread pool. Concurrent
        # DISTINCT tags are inside the store's stated concurrency
        # contract (tests/test_store_concurrency.py); each batch's
        # (fp, min_id, n_copies) delta is a pure function of that batch
        # alone, and the emitted row folds ALL slots associatively, so
        # the output is bit-identical to the sequential ingest order
        # (only the discarded per-batch kept-rows frames can differ).
        from concurrent.futures import ThreadPoolExecutor

        ingest(0)
        with ThreadPoolExecutor(max_workers=2) as pool:
            list(pool.map(ingest, (1, 2)))
        rep = compact_exact_dedup_store(spark, store)
        stats = read_exact_dedup_store(spark, store).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
            F.sum("n_copies").cast("bigint").alias("n_copies_total"),
            F.sum("min_id").cast("bigint").alias("min_id_sum"),
        )
        return stats.select(
            F.lit(int(rep["gen"])).alias("gen"),
            F.lit(int(rep["slots_folded"])).alias("slots_folded"),
            F.lit(int(rep["slots_live"])).alias("slots_live"),
            "n_fingerprints",
            "n_copies_total",
            "min_id_sum",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(store.rsplit("/", 1)[0], ignore_errors=True)
