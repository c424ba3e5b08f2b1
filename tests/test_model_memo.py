"""The trained-model memo (pins.memo_model) trains once per version of the
table a model is trained on, and clear_memos() empties it."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from etl_poc_spark.operators.pins import clear_memos, memo_model


def test_memo_model_trains_once_per_table_version(tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"x": [1, 2]}), path)
    trained: list[str] = []

    def train(name: str):
        def fn() -> int:
            trained.append(name)
            return len(trained)

        return fn

    clear_memos()  # models other tests left behind
    # an unchanged file trains once per model name
    assert memo_model("a", path, train("a")) == 1
    assert memo_model("a", path, train("a")) == 1
    assert memo_model("b", path, train("b")) == 2
    assert trained == ["a", "b"]

    # clear_memos() counts the names that held a model, and empties them
    assert clear_memos() == 2
    assert clear_memos() == 0
    assert memo_model("a", path, train("a")) == 3

    # a rewritten file has a new stamp: the model trains again, once
    pq.write_table(pa.table({"x": [1, 2, 3]}), path)
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert memo_model("a", path, train("a")) == 4
    assert memo_model("a", path, train("a")) == 4

    # a path that cannot be stat'ed is never memoized
    missing = str(tmp_path / "missing.parquet")
    assert memo_model("a", missing, train("a")) == 5
    assert memo_model("a", missing, train("a")) == 6
    assert clear_memos() == 1
