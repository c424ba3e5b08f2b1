"""SCD Type 2 history + point-in-time joins (operators/scd.py):
change-log -> episodes, incremental merge == batch rebuild, and the
leakage-free PIT lookup against hand-checked timelines."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from etl_poc_spark.operators.scd import pit_join, scd2_from_changes, scd2_merge


def _t(d, h=0):
    return datetime(2024, 1, d, h)


def _log(spark, rows):
    return spark.createDataFrame(rows, "k long, attr string, ts timestamp")


def _hist_dict(df):
    return {
        (r["k"], r["valid_from"]): (r["attr"], r["valid_to"])
        for r in df.collect()
    }


def test_scd2_from_changes_collapses_noops_and_links_intervals(spark):
    log = _log(
        spark,
        [
            (1, "bronze", _t(1)),
            (1, "bronze", _t(2)),   # no-op repeat: collapses
            (1, "silver", _t(3)),
            (1, "gold", _t(7)),
            (2, "bronze", _t(5)),
            (3, None, _t(1)),       # NULL attr episodes work (null-safe lag)
            (3, "x", _t(2)),
        ],
    )
    h = _hist_dict(scd2_from_changes(log, ["k"], ["attr"], "ts"))
    assert h == {
        (1, _t(1)): ("bronze", _t(3)),
        (1, _t(3)): ("silver", _t(7)),
        (1, _t(7)): ("gold", None),
        (2, _t(5)): ("bronze", None),
        (3, _t(1)): (None, _t(2)),
        (3, _t(2)): ("x", None),
    }


def test_scd2_merge_equals_batch_rebuild(spark):
    """Folding update batches incrementally must equal rebuilding from
    the full concatenated change log — including no-op updates (same
    value arrives again: open episode extends, no new row) and brand-new
    keys."""
    full = [
        (1, "bronze", _t(1)),
        (1, "silver", _t(3)),
        (2, "bronze", _t(2)),
        (1, "silver", _t(5)),   # no-op: must NOT open a new episode
        (2, "gold", _t(6)),
        (3, "new", _t(6)),      # new key arrives in batch 2
        (1, "gold", _t(8)),
    ]
    batches = [full[:3], full[3:6], full[6:]]
    dim = scd2_from_changes(_log(spark, batches[0]), ["k"], ["attr"], "ts")
    for b in batches[1:]:
        dim = scd2_merge(dim, _log(spark, b), ["k"], ["attr"], "ts")
    want = _hist_dict(scd2_from_changes(_log(spark, full), ["k"], ["attr"], "ts"))
    got = _hist_dict(dim)
    assert got == want
    # sanity on the timeline itself
    assert got[(1, _t(1))] == ("bronze", _t(3))
    assert got[(1, _t(3))] == ("silver", _t(8))   # no-op at t5 absorbed
    assert got[(1, _t(8))] == ("gold", None)
    assert got[(3, _t(6))] == ("new", None)


def test_pit_join_picks_episode_in_effect(spark):
    history = scd2_from_changes(
        _log(
            spark,
            [(1, "bronze", _t(1)), (1, "silver", _t(5)), (2, "gold", _t(3))],
        ),
        ["k"], ["attr"], "ts",
    )
    facts = spark.createDataFrame(
        [
            (100, 1, _t(1)),    # exactly at valid_from: in effect (inclusive)
            (101, 1, _t(4)),    # inside bronze episode
            (102, 1, _t(5)),    # boundary: silver starts AT t5 -> silver
            (103, 1, _t(9)),    # open episode
            (104, 2, _t(2)),    # before key 2's first episode -> NULL
            (105, 3, _t(2)),    # unknown key -> NULL
        ],
        "fact_id long, k long, fts timestamp",
    )
    out = {
        r["fact_id"]: r["attr"]
        for r in pit_join(facts, history, ["k"], "fts", ["attr"]).collect()
    }
    assert out == {
        100: "bronze",
        101: "bronze",
        102: "silver",
        103: "silver",
        104: None,
        105: None,
    }
    # row count preserved: PIT join never drops or duplicates facts
    assert pit_join(facts, history, ["k"], "fts", ["attr"]).count() == 6


def test_pit_join_multiple_attrs_and_plan_shape(spark):
    history = scd2_from_changes(
        spark.createDataFrame(
            [(1, "bronze", 10, _t(1)), (1, "silver", 20, _t(5))],
            "k long, tier string, score int, ts timestamp",
        ),
        ["k"], ["tier", "score"], "ts",
    )
    facts = spark.createDataFrame(
        [(100, 1, _t(2)), (101, 1, _t(6))], "fact_id long, k long, fts timestamp"
    )
    out = {
        r["fact_id"]: (r["tier"], r["score"])
        for r in pit_join(facts, history, ["k"], "fts", ["tier", "score"]).collect()
    }
    assert out == {100: ("bronze", 10), 101: ("silver", 20)}
    # one shuffle on the key, no Cartesian/range join
    plan = (
        pit_join(facts, history, ["k"], "fts", ["tier", "score"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_pit_join_same_instant_double_change(spark):
    """A key that changes twice at ONE timestamp produces an empty
    [t, t) episode; interval semantics say facts at/after t see the
    SECOND value — the carry ordering (valid_to asc, open NULL last)
    must agree."""
    history = scd2_from_changes(
        spark.createDataFrame(
            [(1, "a", _t(1), 10), (1, "b", _t(2), 20), (1, "c", _t(2), 21)],
            "k long, attr string, ts timestamp, seq int",
        ),
        ["k"], ["attr"], "ts", tiebreak_cols=["seq"],
    )
    # episodes: a:[t1,t2), b:[t2,t2) empty, c:[t2,None)
    facts = spark.createDataFrame(
        [(100, 1, _t(1, 12)), (101, 1, _t(2)), (102, 1, _t(3))],
        "fact_id long, k long, fts timestamp",
    )
    out = {
        r["fact_id"]: r["attr"]
        for r in pit_join(facts, history, ["k"], "fts", ["attr"]).collect()
    }
    assert out == {100: "a", 101: "c", 102: "c"}


def test_incremental_and_streaming_scd2_ingest_match_batch(spark, tmp_path):
    """Parquet-backed SCD2 store: sequential incremental folds == one
    batch rebuild; a checkpointed stream over the same folds == sequential."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl_poc_spark.operators.deltastore import foreach_batch_writer
    from etl_poc_spark.operators.scd import incremental_scd2_ingest

    full = [
        (1, "bronze", _t(1)), (2, "bronze", _t(1)),
        (1, "silver", _t(3)), (2, "bronze", _t(4)),   # no-op
        (1, "gold", _t(6)), (3, "new", _t(6)),
    ]
    b1, b2, b3 = full[:2], full[2:4], full[4:]

    seq_store = str(tmp_path / "seq")
    for b in [b1, b2, b3]:
        incremental_scd2_ingest(
            spark, _log(spark, b), seq_store, ["k"], ["attr"], "ts"
        )
    got = _hist_dict(spark.read.parquet(seq_store))
    want = _hist_dict(
        scd2_from_changes(_log(spark, full), ["k"], ["attr"], "ts")
    )
    assert got == want

    in_dir = tmp_path / "scd_in"
    in_dir.mkdir()
    schema = pa.schema([
        ("k", pa.int64()), ("attr", pa.string()), ("ts", pa.timestamp("us")),
    ])
    for i, b in enumerate([b1, b2, b3]):
        pdf = pd.DataFrame(b, columns=["k", "attr", "ts"])
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema),
                       str(in_dir / f"b{i}.parquet"))
    stream = (
        spark.readStream.schema("k long, attr string, ts timestamp")
        .format("parquet").option("maxFilesPerTrigger", 1)
        .load(str(in_dir))
    )
    s_store = str(tmp_path / "s_store")
    q = foreach_batch_writer(
        stream, str(tmp_path / "ck"),
        lambda b, _: incremental_scd2_ingest(
            b.sparkSession, b, s_store, ["k"], ["attr"], "ts"
        ),
    ).trigger(availableNow=True).start()
    q.awaitTermination(180)
    assert _hist_dict(spark.read.parquet(s_store)) == want


def test_scd2_merge_rejects_late_changes(spark):
    """An update older than its key's open episode would overlap closed
    history — strict mode (default) raises; strict=False lets the caller
    accept the documented overlap."""
    import pytest

    from etl_poc_spark.operators.scd import scd2_merge

    dim = scd2_from_changes(
        _log(spark, [(1, "bronze", _t(1)), (1, "silver", _t(5))]),
        ["k"], ["attr"], "ts",
    )
    late = _log(spark, [(1, "ghost", _t(3))])  # before the open t5 episode
    with pytest.raises(ValueError, match="older than their key's open episode"):
        scd2_merge(dim, late, ["k"], ["attr"], "ts")
    # explicit opt-out still computes (caller-owned semantics)
    assert scd2_merge(dim, late, ["k"], ["attr"], "ts", strict=False).count() >= 2
    # in-order updates are unaffected by the guard
    ok = scd2_merge(
        dim, _log(spark, [(1, "gold", _t(9))]), ["k"], ["attr"], "ts"
    )
    assert _hist_dict(ok)[(1, _t(9))] == ("gold", None)
