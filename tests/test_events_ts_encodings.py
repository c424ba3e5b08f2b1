"""Timestamp-encoding robustness for the events table.

The driver has shipped events.parquet in multiple physical encodings across
rounds — TIMESTAMP(NANOS), timestamp[us] with the UTC flag (Spark LTZ), and
timestamp[us] WITHOUT the flag (Spark TIMESTAMP_NTZ, which broke round 4:
`unix_micros` rejects NTZ at analysis time). `io._load_events` must
normalize ALL of them to TIMESTAMP so every events/as-of query both analyzes
and produces identical values regardless of how the parquet was written.

`io.load_table` reuses a schema it inferred earlier in the process for an
unchanged file; the single-path tests below check that a rewritten file is
never served its old schema, in our session and in a vanilla one."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

QUERIES = [
    "events_hourly",
    "events_sessionize",
    "events_asof_click_view",
    "events_asof_next_error",
]

ENCODINGS = ["us_ntz", "us_utc", "ns"]


@pytest.fixture(scope="module")
def encoded_dirs(sf_dir, tmp_path_factory):
    """One tmp sf-dir per physical ts encoding, same logical values."""
    table = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts_us = table.column("ts").cast(pa.timestamp("us"))
    dirs = {}
    for enc in ENCODINGS:
        if enc == "us_ntz":
            col = ts_us
        elif enc == "us_utc":
            col = ts_us.cast(pa.timestamp("us", tz="UTC"))
        else:  # TIMESTAMP(NANOS) — the round-1..3 encoding
            col = ts_us.cast(pa.timestamp("ns"))
        t = table.set_column(table.schema.get_field_index("ts"), "ts", col)
        d = tmp_path_factory.mktemp(f"events_{enc}")
        pq.write_table(t, str(d / "events.parquet"), coerce_timestamps=None, version="2.6")
        dirs[enc] = str(d)
    return dirs


def test_load_events_always_yields_timestamp(spark, encoded_dirs):
    from etl_poc_spark.io import load_table

    for enc, d in encoded_dirs.items():
        dt = dict(load_table(spark, d, "events").dtypes)["ts"]
        assert dt == "timestamp", f"encoding {enc}: ts loaded as {dt}"


@pytest.mark.parametrize("qname", QUERIES)
def test_events_queries_match_across_encodings(spark, encoded_dirs, qname):
    from etl_poc_spark import registry

    registry.load_all()
    fn = registry.QUERIES[qname]
    results = {}
    for enc, d in encoded_dirs.items():
        df = fn(spark, d)
        results[enc] = sorted(map(tuple, df.collect()))
        assert len(results[enc]) > 0, f"{qname} empty under {enc}"
    base = results["us_ntz"]
    for enc in ENCODINGS[1:]:
        assert results[enc] == base, f"{qname}: {enc} differs from us_ntz"


@pytest.fixture(params=["tuned", "vanilla"])
def session(request, spark):
    """Our session, or a vanilla one on the same context: Spark's default
    shuffle partitions, AQE off and `nanosAsLong` unset."""
    if request.param == "tuned":
        return spark
    v = spark.newSession()
    v.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    v.conf.set("spark.sql.shuffle.partitions", "200")
    v.conf.set("spark.sql.adaptive.enabled", "false")
    return v


def test_rewritten_table_is_inferred_again(session, tmp_path):
    """A table rewritten at the same path with another column type loads
    with the new schema: a pyarrow file, then a Spark-written directory."""
    from etl_poc_spark.io import load_table

    path = tmp_path / "nation.parquet"
    pq.write_table(pa.table({"n_nationkey": pa.array([1, 2], pa.int64())}), str(path))
    assert load_table(session, str(tmp_path), "nation").dtypes == [("n_nationkey", "bigint")]
    pq.write_table(pa.table({"n_nationkey": pa.array(["x", "y"])}), str(path))
    df = load_table(session, str(tmp_path), "nation")
    assert df.dtypes == [("n_nationkey", "string")]
    assert sorted(r[0] for r in df.collect()) == ["x", "y"]

    path.unlink()
    session.createDataFrame([(1.5,)], "n_nationkey double").write.parquet(str(path))
    assert load_table(session, str(tmp_path), "nation").dtypes == [("n_nationkey", "double")]
    session.createDataFrame([(3,)], "n_nationkey int").write.mode("overwrite").parquet(str(path))
    df = load_table(session, str(tmp_path), "nation")
    assert df.dtypes == [("n_nationkey", "int")] and df.collect()[0][0] == 3


def test_encodings_in_sequence_through_one_path(session, encoded_dirs, tmp_path):
    """The three encodings written one after another to ONE path: each load
    sees the current encoding and every query answer stays the same."""
    from etl_poc_spark import registry
    from etl_poc_spark.io import load_table

    registry.load_all()
    dst = tmp_path / "events.parquet"
    results = {}
    for enc, d in encoded_dirs.items():
        shutil.copyfile(os.path.join(d, "events.parquet"), dst)
        assert dict(load_table(session, str(tmp_path), "events").dtypes)["ts"] == "timestamp", enc
        results[enc] = sorted(
            map(tuple, registry.QUERIES["events_hourly"](session, str(tmp_path)).collect())
        )
    for enc in ENCODINGS[1:]:
        assert results[enc] == results["us_ntz"], enc
