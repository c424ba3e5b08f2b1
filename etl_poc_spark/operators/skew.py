"""Skew mitigation + co-located join helpers (SCALING.md).

- salted_join: the classic hot-key treatment for when AQE's skew splitting
  isn't enough (or for aggregations): explode the small/right side into
  `n_salts` replicas, salt the large/left side's key with a deterministic
  hash-derived salt, join on (key, salt). Result is identical to the plain
  join; the hot key's rows spread over n_salts reducers.
- key_skew_report: the pre-join diagnosis that says whether to salt.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    large: DataFrame,
    small: DataFrame,
    on: str,
    n_salts: int = 8,
) -> DataFrame:
    """Inner equi-join of `large` with `small` on column `on`, spreading
    each key of `large` across `n_salts` partitions. `small` is replicated
    n_salts times (keep it the dimension side). Deterministic: the salt is
    a hash of the large side's full row spread via pmod. Each large row
    meets exactly one replica, so the result equals the unsalted inner
    join (an outer join would keep every unmatched replica)."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in large.columns]), F.lit(n_salts)).alias("__salt")
    salted_large = large.select("*", salt)
    replicas = small.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("__salt")
    )
    return salted_large.join(replicas, [on, "__salt"]).drop("__salt")


def key_skew_report(df: DataFrame, key_col: str) -> DataFrame:
    """Pre-join skew diagnosis for a prospective shuffle key: one row of
    exact stats over the per-key row counts — total/key cardinality, the
    heaviest key and its share, the p99 key size (via the two-pass exact
    quantile selector, so no single-task buffering of the key-count
    frame), and the salt factor that would level the hottest reducer
    (ceil(max/avg), 1 = no salting needed).

    This is the measurement step before salted_join/AQE-skew decisions:
    the key-count aggregate is one map-side-combined shuffle; everything
    downstream runs on key cardinality, never row cardinality."""
    from etl_poc_spark.operators.quantiles import exact_quantiles_2pass

    counts = df.groupBy(F.col(key_col).alias("__k")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    p99 = exact_quantiles_2pass(
        counts, "__c", [99], scale=1, bin_width=1024
    ).select(F.col("value").cast("bigint").alias("p99_key_rows"))
    stats = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.sum("__c").cast("bigint").alias("n_rows"),
        F.max("__c").cast("bigint").alias("max_key_rows"),
        F.max(F.struct(F.col("__c"), F.col("__k"))).getField("__k").alias("hottest_key"),
    )
    avg = F.col("n_rows").cast("double") / F.col("n_keys")
    return stats.crossJoin(F.broadcast(p99)).select(
        "n_keys",
        "n_rows",
        "max_key_rows",
        "hottest_key",
        "p99_key_rows",
        F.round(F.col("max_key_rows") / avg, 9).alias("skew_ratio"),
        F.ceil(F.col("max_key_rows") / avg).cast("int").alias("suggested_salts"),
    )
