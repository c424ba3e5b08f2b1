"""Table registry for the driver-provided parquet test tables.

The reference declares datasets as named entries pointing at files
(`docetl/config/article_pipeline.yaml.j2:14-20`); here a dataset is a named
parquet table under a scale-factor directory, loaded lazily as a DataFrame
(register it with `createOrReplaceTempView` to use the SQL API).

At 100 TB these would be catalog tables over partitioned parquet/Delta; the
API shape (name -> DataFrame) is the same, so nothing downstream changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return _normalize_ntz(spark.read.parquet(table_path(sf_dir, name)))


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP. Parquet written without
    the UTC flag (pandas/pyarrow default) reads as NTZ, which half of
    Spark's timestamp functions reject at analysis time; the session tz is
    pinned to UTC, so the cast is value-preserving and DuckDB-neutral. The
    driver changed the events encoding this way once between rounds — guard
    every table, not just the one that already broke."""
    from pyspark.sql import functions as F

    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalize `ts` to TIMESTAMP (LTZ) whatever the parquet encoding.

    The driver has shipped events.parquet in three encodings across rounds:
    TIMESTAMP(NANOS) (Spark's vectorized reader rejects it -> read nanos as
    long via the legacy conf and floor-divide to micros, matching DuckDB's
    ns->us truncation), timestamp[us] with the UTC flag (reads as TIMESTAMP
    directly), and timestamp[us] WITHOUT the flag (reads as TIMESTAMP_NTZ —
    `unix_micros` and friends reject NTZ at analysis time). The session
    timezone is pinned to UTC (session.py), so casting NTZ -> TIMESTAMP is
    value-preserving and oracle-neutral: DuckDB sees the same micros.

    The `nanosAsLong` legacy conf the NANOS branch needs is set at session
    creation for our own sessions (session.py); the external driver builds
    a VANILLA session, so it is also ensured here — but only when absent,
    so loading a table normally mutates no session state."""
    from pyspark.sql import functions as F

    if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) != "true":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(table_path(sf_dir, "events"))
    ts_type = dict(df.dtypes)["ts"]
    if ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("CAST(ts DIV 1000 AS LONG)")))
    return _normalize_ntz(df)

