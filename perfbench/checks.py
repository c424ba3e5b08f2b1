"""Output checks. They run after the timed window and compare the engine's
outputs with values computed without Spark: DuckDB over the generated
files, or counts predicted by the generator. Each returns a list of
problems; an empty list means the output is correct."""

from __future__ import annotations

import json
import os

import duckdb
import pandas as pd


def duckdb_views(tables_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(tables_dir, t + '.parquet')}'")
    return con


def oracle_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Order-insensitive exact comparison, the rule of tools/check_oracle.py."""
    from tools.check_oracle import compare

    return compare("", got, want)


def article_score_millis(rec: dict) -> tuple[int, int]:
    """The reference's article quality rule (zara_hybrid_etl.py:212-222) in
    integer milli-points: (score, attainable max)."""
    headline = rec.get("headline") or ""
    h = len(headline)
    pts = 0 if h == 0 else (200 if 10 <= h <= 60 else 100)
    wc = len((rec.get("article_body") or "").split())
    if 700 <= wc <= 1000:
        pts += 200
    elif 500 <= wc <= 1200:
        pts += 150
    elif wc > 200:
        pts += 100
    fields = ("headline", "subtitle", "article_body", "meta_description")
    pts += 75 * sum(1 for f in fields if (rec.get(f) or "").strip(" ") != "")
    for key in ("pull_quotes", "key_takeaways"):
        n = len(rec.get(key) or [])
        full = 2 if key == "pull_quotes" else 3
        pts += 150 if n >= full else (100 if n >= 1 else 0)
    return pts, (1000 if h else 800)


def read_json_lines(path: str) -> list[dict]:
    rows = []
    for name in sorted(os.listdir(path)):
        if name.startswith("part-"):
            with open(os.path.join(path, name), encoding="utf-8") as f:
                rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def doc_etl_problems(out_dir: str, expect: dict) -> list[str]:
    """The CLI's per-step counts must match the generator's prediction, the
    scored JSON must hold one record per kept doc with the reference score,
    and the markdown sink must hold one directory per passing article."""
    problems: list[str] = []
    with open(os.path.join(out_dir, "summary.json"), encoding="utf-8") as f:
        steps = json.load(f)["steps"]
    want_steps = {
        "extract": {"rows": expect["chunks"], "valid_rows": expect["valid_chunks"]},
        "synthesize": {"rows": expect["docs_kept"], "valid_rows": expect["docs_kept"]},
        "article": {"rows": expect["docs_kept"], "valid_rows": expect["docs_kept"]},
    }
    if steps != want_steps:
        problems.append(f"cli steps {steps} != predicted {want_steps}")
    with open(os.path.join(out_dir, "articles.json"), encoding="utf-8") as f:
        n_articles = len(json.load(f))
    if n_articles != expect["docs_kept"]:
        problems.append(f"cli output has {n_articles} records, predicted {expect['docs_kept']}")
    scored = read_json_lines(os.path.join(out_dir, "scored"))
    if len(scored) != expect["docs_kept"]:
        problems.append(f"scored JSON has {len(scored)} records, predicted {expect['docs_kept']}")
    n_pass = 0
    for rec in scored:
        score, maxs = article_score_millis(rec)
        if rec.get("quality_score") != score / maxs:
            problems.append(f"doc {rec.get('doc_id')}: quality_score {rec.get('quality_score')} != {score}/{maxs}")
            break
        n_pass += 10 * score >= 7 * maxs
    md = os.path.join(out_dir, "markdown")
    n_dirs = len(os.listdir(md)) if os.path.isdir(md) else 0
    if n_dirs != n_pass:
        problems.append(f"markdown sink has {n_dirs} article dirs, {n_pass} articles pass the threshold")
    return problems


def stream_problems(landing_dir: str, dedup_before: pd.DataFrame, dedup_after: pd.DataFrame,
                    lm_before: list[pd.DataFrame], lm_after: list[pd.DataFrame],
                    kept_rows: int, expect: dict) -> list[str]:
    """The folded exact-dedup store must equal a DuckDB GROUP BY over every
    landed file; reads before and after compaction must be equal."""
    problems: list[str] = []
    con = duckdb.connect()
    want = con.sql(
        f"SELECT CAST(min(doc_id) AS BIGINT) AS min_id, CAST(count(*) AS BIGINT) AS n_copies "
        f"FROM '{os.path.join(landing_dir, '*.parquet')}' GROUP BY text"
    ).df()
    got = dedup_before[["min_id", "n_copies"]]
    problems += [f"dedup store vs DuckDB: {p}" for p in oracle_problems(got, want)]
    problems += [f"dedup store before/after compaction: {p}"
                 for p in oracle_problems(dedup_after, dedup_before)]
    for name, a, b in zip(("bigrams", "unigrams", "vocab"), lm_after, lm_before):
        problems += [f"lm {name} before/after compaction: {p}" for p in oracle_problems(a, b)]
    if kept_rows != expect["distinct_texts"]:
        problems.append(f"kept sink has {kept_rows} rows, {expect['distinct_texts']} distinct texts landed")
    return problems
