"""Leakage-safe out-of-fold target encoding.

The classic ML-feature trap: encoding a categorical column by the mean
of the label over rows sharing that category leaks each row's OWN label
into its feature. The standard fix is out-of-fold (K-fold) encoding —
each row's encoded value is the category mean computed over the OTHER
folds only.

Distributed shape (no per-fold rescans): ONE aggregate over
(category, fold) produces decimal (sum, count) cells; per-category
totals are a window over that tiny cell frame; each row's encoding is
then (total_sum - own_fold_sum) / (total_n - own_fold_n) — the
complement mean, derived from the SAME single scan. Folds come from the
portable md5 bucket (operators/curation.py::hash_bucket), so the
assignment — and therefore the whole encoding — is engine-exact and
reproducible across runs and engines. A category that exists in only
one fold (the row's own) encodes NULL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_poc_spark.operators.curation import hash_bucket


def target_encode_cells(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    fold_key: Column,
    n_folds: int = 4,
    target_decimal: str = "decimal(18,2)",
) -> DataFrame:
    """(category, fold, n, encoded) — the out-of-fold encoding per
    (category, fold) cell: the mean of `target_col` over the category's
    OTHER folds (NULL when the category has no other fold).
    Rows join this cell table on (category, fold) to pick up their
    feature; the cell frame is category-cardinality-sized, so that join
    broadcasts in any realistic feature pipeline.

    Exactness: target values accumulate as DECIMAL (order-independent);
    the encoding is ONE double division per cell, rounded at the
    boundary."""
    t = F.col(target_col).cast(target_decimal)
    fold = hash_bucket(fold_key, n_folds).alias("fold")
    cells = (
        df.select(F.col(cat_col).alias("category"), fold, t.alias("__t"))
        .groupBy("category", "fold")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__t").alias("__s"),
        )
    )
    wc = Window.partitionBy("category")
    comp_n = F.sum("n").over(wc) - F.col("n")
    comp_s = F.sum("__s").over(wc) - F.col("__s")
    enc = F.when(
        comp_n > 0, F.round(comp_s.cast("double") / comp_n.cast("double"), 9)
    )
    return cells.select("category", "fold", "n", enc.alias("encoded"))

