"""Record linkage / entity resolution: blocked fuzzy matching.

The training-data-pipeline problem: the same real-world entity arrives
under slightly different surface forms (typos, truncations, id drift),
and naive fuzzy matching is an all-pairs O(n^2) edit-distance join — dead
at any scale. The standard industrial shape (Fellegi-Sunter style
blocking) bounds it:

  1. BLOCK: a cheap deterministic key (prefix, phonetic code, sorted
     tokens) partitions candidates; only same-block pairs are compared.
     One hash shuffle on the block key.
  2. CHEAP PREFILTER inside the block: |len(a) - len(b)| <= d is a
     necessary condition for edit distance <= d and costs two ints in
     codegen — it prunes before the O(len^2) DP runs.
  3. VERIFY: levenshtein(a, b) <= d, Spark's built-in JVM edit distance
     (whole-stage codegen, no UDF).

Degenerate blocks (everything hashes to one key — the empty-string
block, a default value) would re-create the quadratic blowup, so blocks
larger than `max_block_size` are EXCLUDED and reported, same discipline
as the LSH bucket cap in operators/dedup.py.

Reference parity: the reference has no linkage surface; this extends the
dedup tier (SURVEY §2 north-star extensions) from exact/shingle/vector
similarity to edit-distance identity resolution.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def blocked_fuzzy_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    block: Column,
    max_distance: int = 1,
    max_block_size: int = 10_000,
) -> DataFrame:
    """(id_a, id_b, name_a, name_b, distance) for same-block pairs with
    levenshtein(name_a, name_b) <= max_distance, id_a < id_b. Blocks
    bigger than `max_block_size` are dropped (they indicate a broken
    block key, and comparing them is the quadratic case blocking exists
    to avoid)."""
    base = df.select(
        F.col(id_col).alias("__id"), F.col(name_col).alias("__name"), block.alias("__blk")
    ).where(F.col("__blk").isNotNull() & F.col("__name").isNotNull())
    sizes = base.groupBy("__blk").agg(F.count(F.lit(1)).alias("__n"))
    ok_blocks = sizes.where(F.col("__n") <= max_block_size).select("__blk")
    pruned = base.join(ok_blocks, "__blk", "left_semi")
    # spread blocks across tasks: the probe side's parallelism caps the
    # verify stage's parallelism (a single-file input would run every
    # edit-distance DP in one task). The partition count is EXPLICIT
    # because the stage is CPU-bound (O(len^2) DP per candidate pair) at
    # kilobyte data sizes — AQE's byte-based coalescing would fold a
    # column-count repartition back to one task and serialize the DPs.
    n_parts = max(df.sparkSession.sparkContext.defaultParallelism, 8)
    a = pruned.repartition(n_parts, F.col("__blk")).select(
        F.col("__blk"),
        F.col("__id").alias("id_a"),
        F.col("__name").alias("name_a"),
    )
    b = pruned.select(
        F.col("__blk").alias("__blkb"),
        F.col("__id").alias("id_b"),
        F.col("__name").alias("name_b"),
    )
    return (
        a.join(
            b,
            (a.__blk == b.__blkb)
            & (F.col("id_a") < F.col("id_b"))
            # necessary condition for lev <= d: length gap <= d (two-int
            # codegen prefilter before the O(len^2) DP)
            & (
                F.abs(F.length("name_a") - F.length("name_b"))
                <= F.lit(max_distance)
            ),
        )
        .withColumn("distance", F.levenshtein("name_a", "name_b"))
        .where(F.col("distance") <= max_distance)
        .select("id_a", "id_b", "name_a", "name_b", "distance")
    )
