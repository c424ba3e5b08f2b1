"""Incremental/streaming profile store: sequential batches == one-shot
batch profile on exact fields; KMV distinct estimate is identical to the
batch-built sketch (min-k-union idempotency); streaming foreachBatch
equals sequential ingest."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


def _profile_dict(df):
    return {
        r["column"]: (
            r["n_rows"], r["n_nulls"], r["min_num"], r["max_num"],
            r["min_str"], r["max_str"], r["est_distinct"],
        )
        for r in df.collect()
    }


@pytest.mark.slow
def test_incremental_profile_matches_batch(spark, tmp_path):
    from etl_poc_spark.streaming.profile import (
        incremental_profile_ingest,
        read_profile,
    )

    rows = [
        (1, "alpha", 10.5), (2, "beta", None), (3, None, -2.0),
        (4, "gamma", 100.0), (5, "beta", 3.25), (6, "delta", 0.0),
    ]
    full = spark.createDataFrame(rows, "id long, name string, v double")
    cols = ["id", "name", "v"]

    seq_store = str(tmp_path / "seq")
    for lo, hi in [(0, 2), (2, 5), (5, 6)]:
        batch = spark.createDataFrame(rows[lo:hi], full.schema)
        incremental_profile_ingest(spark, batch, cols, seq_store)
    got = _profile_dict(read_profile(spark, seq_store))

    one_store = str(tmp_path / "one")
    incremental_profile_ingest(spark, full, cols, one_store)
    want = _profile_dict(read_profile(spark, one_store))
    assert got == want  # merge order cannot change the profile

    # exact fields against hand truth
    assert got["id"][0:4] == (6, 0, 1.0, 6.0)
    assert got["name"][0:2] == (6, 1)
    assert got["name"][4:6] == ("alpha", "gamma")
    assert got["v"][0:4] == (6, 1, -2.0, 100.0)
    # < k distinct -> the KMV estimate is exact
    assert got["id"][6] == 6.0
    assert got["name"][6] == 4.0
    assert got["v"][6] == 5.0

    # replayed batch: sketch unchanged (idempotent union), counters add —
    # the documented counter caveat of at-least-once without checkpointing
    before = got
    incremental_profile_ingest(
        spark, spark.createDataFrame(rows[5:6], full.schema), cols, seq_store
    )
    after = _profile_dict(read_profile(spark, seq_store))
    assert after["id"][6] == before["id"][6]      # distinct estimate stable
    assert after["id"][0] == before["id"][0] + 1  # counter re-added


@pytest.mark.slow
def test_streaming_profile_equals_sequential(spark, tmp_path):
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_poc_spark.operators.deltastore import foreach_batch_writer
    from etl_poc_spark.streaming.profile import incremental_profile_ingest, read_profile

    in_dir = tmp_path / "pin"
    in_dir.mkdir()
    schema = pa.schema([("id", pa.int64()), ("name", pa.string()), ("v", pa.float64())])
    b1 = [(1, "a", 1.0), (2, "b", 2.0)]
    b2 = [(3, "c", None), (4, "a", -5.0)]
    for i, b in enumerate([b1, b2]):
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(b, columns=["id", "name", "v"]), schema=schema
            ),
            str(in_dir / f"b{i}.parquet"),
        )
    cols = ["id", "name", "v"]
    stream = (
        spark.readStream.schema("id long, name string, v double")
        .format("parquet").option("maxFilesPerTrigger", 1)
        .load(str(in_dir))
    )
    s_store = str(tmp_path / "s_store")
    q = (
        foreach_batch_writer(
            stream, str(tmp_path / "ck"),
            lambda b, _: incremental_profile_ingest(b.sparkSession, b, cols, s_store),
        )
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)

    seq_store = str(tmp_path / "q_store")
    for b in [b1, b2]:
        incremental_profile_ingest(
            spark, spark.createDataFrame(b, "id long, name string, v double"),
            cols, seq_store,
        )
    assert _profile_dict(read_profile(spark, s_store)) == _profile_dict(
        read_profile(spark, seq_store)
    )
