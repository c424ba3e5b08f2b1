"""Self-tests of the benchmark's own helpers (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.metrics import WORKLOAD_ONLY  # noqa: E402
from perfbench.trace import (  # noqa: E402
    METRIC_NAME_RE,
    parse_metric_value,
    percentile,
)
from perfbench.workloads import ANALYTICS_QUERIES, NEAR_DUP_QUERIES  # noqa: E402


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _layers() -> list[dict]:
    with open(os.path.join(HERE, "layers.json"), encoding="utf-8") as f:
        return json.load(f)["per_layer"]


def test_metric_names_are_well_formed_and_unique():
    bench = _benchmark()
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert METRIC_NAME_RE.match(n), n


def test_benchmark_per_layer_matches_layer_map():
    bench = _benchmark()
    want = [{k: m[k] for k in ("name", "unit", "better")} for m in _layers()]
    assert bench["per_layer"] == want
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    layer_names = {m["name"] for m in _layers()}
    assert WORKLOAD_ONLY == {m["name"]: m["unit"] for m in _layers() if m["name"] in WORKLOAD_ONLY}
    for m in _layers():
        assert set(m["moves"]) <= e2e | layer_names, m
        assert set(m["on"]) | set(m["flat_on"]) <= workloads, m


def test_every_query_layer_metric_belongs_to_a_run_query():
    """The layer map has queries.<name>.* metrics exactly for the queries
    the queries workload runs, three for each."""
    run = set(NEAR_DUP_QUERIES + ANALYTICS_QUERIES)
    mapped = {m["name"].split(".")[1] for m in _layers() if m["name"].startswith("queries.")}
    assert mapped == run
    names = {m["name"] for m in _layers()}
    for q in run:
        assert {f"queries.{q}.{k}" for k in ("wall_s", "jobs", "shuffle_write_bytes")} <= names, q


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50.0) == 50.0
    assert percentile(xs, 90.0) == 90.0
    assert percentile(xs[:40], 75.0) == 30.0
    assert percentile([3.0], 99.0) == 3.0


def test_parse_metric_value():
    assert parse_metric_value("1,000") == 1000.0
    assert parse_metric_value("992.0 B") == 992.0
    assert parse_metric_value("total (min, med, max (stageId: taskId))\n1.5 KiB (1 B, 2 B, 3 B (stage 0.0: task 1))") == 1536.0
    assert parse_metric_value("total (min, med, max (stageId: taskId))\n5.8 s (1.3 s, 1.5 s, 1.5 s (stage 3.0: task 7))") == 5.8
    assert parse_metric_value("659 ms") == pytest.approx(0.659)


GENERATORS = [
    ("doc", lambda seed, d: gen.gen_doc_corpus(seed, d)),
    ("near_dup", lambda seed, d: gen.gen_near_dup_tables(seed, d)),
    ("stream", lambda seed, d: gen.gen_stream_backlog(seed, d)),
    ("analytics", lambda seed, d: gen.gen_analytics_tables(seed, d)),
]


def _digest(d: str) -> str:
    return gen.file_digest([os.path.join(d, f) for f in sorted(os.listdir(d))])


@pytest.mark.parametrize("name, make", GENERATORS, ids=[g[0] for g in GENERATORS])
def test_generators_are_deterministic(name, make, tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    make(7, a)
    make(7, b)
    make(8, c)
    assert _digest(a) == _digest(b)
    assert _digest(a) != _digest(c)


def test_doc_prediction_counts_chunks_and_short_papers():
    # 30-token step: 70 tokens -> 3 chunks; 10 tokens -> 1 invalid chunk
    assert gen.predict_doc_counts([70, 10, 25]) == {"chunks": 5, "valid_chunks": 4, "docs_kept": 2}


def _article(doc_id: int, body_words: int, quotes: int = 2) -> dict:
    return {
        "doc_id": doc_id, "headline": "a fine headline here", "subtitle": "s",
        "article_body": " ".join(["w"] * body_words), "meta_description": "m",
        "pull_quotes": ["q"] * quotes, "key_takeaways": ["t1", "t2", "t3"],
    }


def test_article_score_rule():
    assert checks.article_score_millis(_article(0, 750)) == (1000, 1000)
    assert checks.article_score_millis(_article(0, 100)) == (800, 1000)
    assert checks.article_score_millis(_article(0, 10, quotes=0)) == (650, 1000)
    assert checks.article_score_millis({"article_body": ""}) == (0, 800)


def _doc_out(tmp_path, expect: dict, n_records: int, n_dirs: int, quotes: int = 2) -> str:
    out = tmp_path / "pass000"
    (out / "scored").mkdir(parents=True)
    (out / "markdown").mkdir()
    steps = {
        "extract": {"rows": expect["chunks"], "valid_rows": expect["valid_chunks"]},
        "synthesize": {"rows": expect["docs_kept"], "valid_rows": expect["docs_kept"]},
        "article": {"rows": expect["docs_kept"], "valid_rows": expect["docs_kept"]},
    }
    (out / "summary.json").write_text(json.dumps({"steps": steps}))
    recs = [_article(i, 750 if quotes else 10, quotes) for i in range(n_records)]
    (out / "articles.json").write_text(json.dumps(recs))
    with open(out / "scored" / "part-00000.json", "w") as f:
        for r in recs:
            s, m = checks.article_score_millis(r)
            f.write(json.dumps({**r, "quality_score": s / m}) + "\n")
    for i in range(n_dirs):
        (out / "markdown" / f"article-{i}").mkdir()
    return str(out)


def test_doc_check_passes_a_correct_output_and_catches_planted_errors(tmp_path):
    expect = {"chunks": 9, "valid_chunks": 7, "docs_kept": 3}
    assert checks.doc_etl_problems(_doc_out(tmp_path / "ok", expect, 3, 3), expect) == []
    # one article too few, one markdown dir missing
    assert checks.doc_etl_problems(_doc_out(tmp_path / "short", expect, 2, 2), expect)
    assert checks.doc_etl_problems(_doc_out(tmp_path / "nodir", expect, 3, 2), expect)
    # every article scores 0.65, below the threshold, yet dirs were written
    assert checks.doc_etl_problems(_doc_out(tmp_path / "low", expect, 3, 3, quotes=0), expect)


def test_oracle_compare_catches_a_planted_value():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [1.5, 2.5, 3.5]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert checks.oracle_problems(got, want) == []
    bad = got.copy()
    bad.loc[0, "v"] = 3.5000001
    assert checks.oracle_problems(bad, want)
    assert checks.oracle_problems(got.iloc[:2], want)


def test_stream_check_catches_a_planted_store_error(tmp_path):
    landing = str(tmp_path / "landing")
    backlog = gen.gen_stream_backlog(3, landing)
    rows = pd.concat([pd.read_parquet(p) for p in backlog["files"]])
    store = rows.groupby("text").agg(min_id=("doc_id", "min"), n_copies=("doc_id", "count")).reset_index()
    store = store.rename(columns={"text": "fp"})
    lm = [pd.DataFrame({"bigram": ["a b"], "c_bi": [1]})]
    kept = backlog["expect"]["distinct_texts"]
    assert checks.stream_problems(landing, store, store, lm, lm, kept, backlog["expect"]) == []
    bad = store.copy()
    bad.loc[0, "n_copies"] += 1
    assert checks.stream_problems(landing, bad, bad, lm, lm, kept, backlog["expect"])
    assert checks.stream_problems(landing, store, bad, lm, lm, kept, backlog["expect"])
    assert checks.stream_problems(landing, store, store, lm, lm, kept - 1, backlog["expect"])
