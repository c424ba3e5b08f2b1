"""SCD Type 2 history + point-in-time joins (operators/scd.py):
change-log -> episodes and the leakage-free PIT lookup against
hand-checked timelines."""

from __future__ import annotations

from datetime import datetime

from etl_poc_spark.operators.scd import pit_join, scd2_from_changes


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


