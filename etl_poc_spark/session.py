"""SparkSession factory.

Defaults are tuned for the test environment (single-JVM local[N]) but every
setting is chosen to also be the right call on a large cluster:

- AQE on (runtime join selection, skew splitting, partition coalescing) —
  essential at 100 TB where static planning misjudges sizes.
- shuffle.partitions sized to cores locally; on a real cluster AQE coalescing
  makes the initial number far less sensitive.
- Arrow enabled for every pandas interchange (mapInPandas / applyInPandas /
  toPandas) — the LLM/dedup operators live on that path.
- UTC session timezone so timestamp semantics are stable across engines
  (the DuckDB oracle compares timestamp-derived values).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SPARK_GRAFT_CPUS is the deployment override; unset, size to the CPUs
# this process may run on.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_memory() -> str:
    """16g, capped at half the host's physical memory: a local-mode driver
    holds every executor too, and a heap sized past the host invites the
    OOM killer instead of a GC."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(16 * 1024, phys // 2 // 2**20)}m"


def get_spark(
    app_name: str = "etl_poc_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """`extra_conf` overlays/overrides the tuned defaults — used by
    tooling that needs a non-default knob (e.g. perfbench keeps Spark's
    scratch files in its work dir). Ignored if a session already exists
    (getOrCreate semantics)."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Static broadcasts stay at Spark's conservative 10MB — the static
        # threshold acts on Catalyst's SIZE ESTIMATES, and a misestimated
        # corpus-scaled frame (e.g. the LSH candidate-pair subplan at 100x,
        # SCALE_SMOKE_r13) can "fit" a 64MB estimate while exploding to GBs
        # in the driver's broadcast build. AQE re-plans shuffle joins to
        # broadcasts at RUNTIME using REAL shuffle sizes, so the generous
        # threshold lives there: small frames still broadcast, misestimates
        # can no longer OOM the build.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(64 * 1024 * 1024),
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
        )
        .config("spark.ui.enabled", "false")
        # events.parquet has shipped as TIMESTAMP(NANOS) in past rounds,
        # which Spark's vectorized reader rejects; with this legacy conf the
        # column reads as bigint and io._load_events floor-divides to micros
        # (DuckDB-parity truncation). Set once here so table loading has no
        # hidden session side effects.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
