"""Layout maintenance: fragmentation_report flags small files and
compact_files rewrites them."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_poc_spark.io import load_table
from etl_poc_spark.operators.layout import compact_files, fragmentation_report


def test_compact_files(spark, sf_dir, tmp_path):
    # simulate a fragmented ingest: 40 tiny files
    out = str(tmp_path / "frag")
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    orders.repartition(40).write.mode("overwrite").parquet(out)
    assert spark.read.parquet(out).select(F.input_file_name()).distinct().count() == 40

    stats = compact_files(spark, out, target_rows_per_file=n // 4)
    assert stats["files_before"] == 40
    assert stats["files_after"] <= 5
    assert stats["n_rows"] == n
    back = spark.read.parquet(out)
    assert back.count() == n
    assert back.select("o_orderkey").distinct().count() == n  # keys intact


def test_fragmentation_report_drives_compaction(spark, sf_dir, tmp_path):
    """The report flags a fragmented table, compact_files fixes it, and
    the re-run report clears the flag — the maintenance loop in three
    assertions."""
    out = str(tmp_path / "frag")
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    orders.repartition(30).write.mode("overwrite").parquet(out)

    rep = fragmentation_report(spark, out, target_rows_per_file=n).collect()
    assert len(rep) == 1
    r = rep[0]
    assert r["n_files"] == 30 and r["n_rows"] == n
    assert r["rows_in_small_files"] == n  # every file undersized
    assert r["ideal_files"] == 1 and r["needs_compaction"]

    compact_files(spark, out, target_rows_per_file=n)
    r2 = fragmentation_report(spark, out, target_rows_per_file=n).collect()[0]
    assert r2["n_files"] <= 2 and not r2["needs_compaction"] or r2["n_files"] == 1

    # partitioned variant reports per partition
    pout = str(tmp_path / "pfrag")
    orders.withColumn("status", F.col("o_orderstatus")).repartition(10) \
        .write.mode("overwrite").partitionBy("status").parquet(pout)
    prep = {r["partition"]: r for r in
            fragmentation_report(spark, pout, n, partition_col="status").collect()}
    assert len(prep) >= 2
    assert all(r["needs_compaction"] for r in prep.values())
