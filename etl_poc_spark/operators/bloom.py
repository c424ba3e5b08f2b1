"""Bloom-filter join pre-filtering — the shuffle-avoidance technique for
big-probe/small-build joins at 100 TB: build a KB-sized bit set from the
build side's keys, embed it in the plan as a literal, and filter the
probe side IN THE SCAN STAGE before any exchange. Rows that fail the
filter (the vast majority when the build side is selective) never enter
the shuffle; the false-positive stragglers are removed by the real join
afterwards. Spark's AQE injects runtime bloom filters for some shapes
(spark.sql.optimizer.runtime.bloomFilter.enabled); this operator is the
explicit, engine-portable version usable in any plan and testable
bit-for-bit.

Portability: bit positions come from the same md5 bucket primitive the
curation operators use (first 6 hex digits of md5(salt || key) mod m,
salt = hash index), so the EXACT false-positive set reproduces in DuckDB
— an approximate structure with a hash-exact oracle, the
kmv_distinct_users philosophy.

Driver traffic is bounded by construction: the distinct-position collect
is <= m rows (m bits / 64 longs of actual state — KBs at the default
m=4096), the same class as the ANN centroid fetches.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_poc_spark.operators.curation import hash_bucket


def bloom_build(keys: DataFrame, key_col: str, m: int = 4096, k: int = 3) -> list[int]:
    """Train the filter: the m-bit set with every build key's k md5
    positions lit, packed as m/64 longs (driver-side, KBs). One distinct
    aggregate over the build side."""
    if m % 64 != 0:
        raise ValueError("m must be a multiple of 64")
    pos = (
        keys.select(
            F.explode(
                F.array(
                    *[hash_bucket(F.col(key_col), m, salt=f"bloom{i}") for i in range(k)]
                )
            ).alias("pos")
        )
        .distinct()
        .collect()
    )  # bounded: <= m rows
    words = [0] * (m // 64)
    for r in pos:
        p = r["pos"]
        words[p // 64] |= 1 << (p % 64)
    # keep values in signed-64 range for the Spark/SQL literal
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_contains(col: Column, words: list[int], m: int = 4096, k: int = 3) -> Column:
    """Membership test as a pure Column expression over the literal bit
    words — k shift/and probes inside codegen, no join, no UDF. True for
    every build-side key and a ~(1-e^{-kn/m})^k fraction of others."""
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    probes = []
    for i in range(k):
        p = hash_bucket(col, m, salt=f"bloom{i}").cast("long")
        word = F.element_at(arr, F.floor(p / 64).cast("int") + 1)
        probes.append(F.getbit(word, p % 64) == 1)
    out = probes[0]
    for pr in probes[1:]:
        out = out & pr
    return out

