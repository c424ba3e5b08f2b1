"""The two workloads. Each is a closed loop with a single client: a unit
of work starts when the previous one ends, and the loop runs until the
measuring window closes. Between units the client drops pins, model memos
and the cache, so every unit pays its own training (bench.py's rule).

A workload returns a `Result`: the timed units (kind, span), the input
size, and the problems its output checks found. Metrics are derived from
it in `metrics.py`.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
import yaml

from perfbench import checks, gen
from perfbench.trace import Span, StreamProgress, Tracer, dir_usage

NEAR_DUP_QUERIES = (
    "exact_dedup_groups", "minhash_lsh_pairs", "ngram_jaccard_pairs",
    "simhash_near_dup_pairs", "embedding_topk", "embedding_ivf_topk",
    "embedding_near_dup_pairs", "semdedup_flags",
)
# the pair-forming self-join queries whose join output the useful-pair
# ratio is measured on
PAIR_QUERIES = (
    "minhash_lsh_pairs", "ngram_jaccard_pairs", "simhash_near_dup_pairs",
    "embedding_near_dup_pairs",
)
ANALYTICS_QUERIES = (
    "pricing_summary", "top_revenue_orders", "rollup_sales",
    "running_supplier_revenue", "local_supplier_volume", "supplier_pagerank",
    "events_hourly", "events_sessionize", "events_sliding_windows",
)


@dataclass
class Result:
    rows: int
    units: list[tuple[str, Span]] = field(default_factory=list)
    failed: int = 0
    attempted: int = 0
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)


@dataclass
class Client:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    cores: int
    deadline: float
    pins_released: int = 0
    memos_cleared: int = 0

    def reset(self) -> None:
        """Drop pins, model memos and the cache between units."""
        from etl_poc_spark.operators.pins import clear_memos, release_pins

        self.pins_released += release_pins()
        self.memos_cleared += clear_memos()
        self.spark.catalog.clearCache()

    def open(self) -> bool:
        return time.perf_counter() < self.deadline


def _run_queries(c: Client, names: tuple[str, ...], tables_dir: str, tables: list[str],
                 res: Result) -> None:
    """Round-robin over the registered queries until the window closes
    (every query runs at least once); each call collects its result."""
    from etl_poc_spark import registry

    got: dict[str, list[pd.DataFrame]] = {q: [] for q in names}
    k = 0
    while c.open() or k < len(names):
        q = names[k % len(names)]
        k += 1
        c.reset()
        res.attempted += 1
        try:
            with c.tracer.span(f"queries.{q}") as sp:
                pdf = registry.QUERIES[q](c.spark, tables_dir).toPandas()
            sp.out_rows = len(pdf)
        except Exception as e:  # noqa: BLE001 — a raising call counts as failed
            res.fail(f"{q}: {type(e).__name__}: {e}")
            continue
        res.units.append((q, sp))
        got[q].append(pdf)
    c.reset()
    # output checks: one DuckDB oracle per query, every call compared
    con = checks.duckdb_views(tables_dir, tables)
    for q in names:
        want = con.sql(registry.ORACLES[q]).df()
        for pdf in got[q]:
            problems = checks.oracle_problems(pdf, want)
            if problems:
                res.fail(f"{q} vs oracle: {problems[0]}")


def queries(c: Client) -> Result:
    """The near-dup curation queries over `documents` and `embeddings`, then
    the relational and event queries over the TPC-H-shaped and `events`
    tables. They share one workload, and so one Spark start per run, to keep
    the benchmark's runs within its time budget."""
    tables_dir = os.path.join(c.work, "input")
    near = gen.gen_near_dup_tables(c.seed, tables_dir)
    rel = gen.gen_analytics_tables(c.seed, tables_dir)
    res = Result(rows=near["rows"] + rel["rows"])
    _run_queries(c, NEAR_DUP_QUERIES + ANALYTICS_QUERIES, tables_dir,
                 near["tables"] + rel["tables"], res)
    return res


def doc_etl_config() -> dict:
    """The reference DAG as a CLI config: split -> map extract (validated,
    retried) -> reduce per doc -> map article."""
    return {
        "default_model": "stub",
        "datasets": {"papers": {"type": "file", "source": "local",
                                "path": "/data/input/papers.jsonl", "format": "jsonl"}},
        "operations": [
            {"name": "chunk", "type": "split", "split_key": "text",
             "chunk_size": gen.CHUNK_SIZE, "chunk_overlap": gen.CHUNK_OVERLAP},
            {"name": "extract", "type": "map",
             "prompt": "Extract the paper's content from: {{ input.chunk_text }}",
             "output_schema": {"title": "string", "abstract_summary": "string",
                               "section_type": "string", "confidence_score": "float"},
             "validate": [f"len(output['abstract_summary'].split()) >= {gen.EXTRACT_MIN_WORDS}"],
             "num_retries_on_validate_failure": 2},
            {"name": "keep_valid", "type": "filter", "condition": "_valid"},
            {"name": "synthesize", "type": "reduce", "reduce_key": "doc_id",
             "text_key": "chunk_text", "prompt": "Synthesize the paper: {{ input.text }}",
             "output_schema": {"title": "string", "abstract_summary": "string",
                               "research_question": "string", "methodology": "string",
                               "key_findings": "string", "significance": "string",
                               "limitations": "string"}},
            {"name": "write_article", "type": "map",
             "prompt": "Write a news article about: {{ input.abstract_summary }}",
             "output_schema": {"headline": "string", "subtitle": "string",
                               "article_body": "string", "pull_quotes": "list[string]",
                               "meta_description": "string", "key_takeaways": "list[string]",
                               "topic_tags": "list[string]", "word_count": "int"}},
        ],
        "pipeline": {
            "steps": [
                {"name": "extract", "input": "papers", "operations": ["chunk", "extract"]},
                {"name": "synthesize", "input": "extract", "operations": ["keep_valid", "synthesize"]},
                {"name": "article", "input": "synthesize", "operations": ["write_article"]},
            ],
            "output": {"type": "file", "path": "/data/output"},
        },
    }


def doc_etl(c: Client) -> Result:
    from pyspark.sql import functions as F

    from etl_poc_spark import cli
    from etl_poc_spark.functions.scoring import QUALITY_THRESHOLD, article_quality_score_expr
    from etl_poc_spark.plans.yaml_pipeline import run_pipeline, validate_config
    from etl_poc_spark.sinks.sinks import write_json_records, write_markdown_articles

    in_dir = os.path.join(c.work, "input")
    corpus = gen.gen_doc_corpus(c.seed, in_dir)
    config = doc_etl_config()
    cfg_path = os.path.join(c.work, "pipeline.yaml")
    with open(cfg_path, "w", encoding="utf-8") as f:
        yaml.safe_dump(config, f, sort_keys=False)
    res = Result(rows=corpus["rows"])
    outs = []
    i = 0
    while c.open() or i == 0:
        out = os.path.join(c.work, f"doc{i:03d}")
        i += 1
        c.reset()
        res.attempted += 4
        try:
            with c.tracer.span("doc_etl") as sp:
                with c.tracer.span("cli.main"), contextlib.redirect_stdout(io.StringIO()):
                    rc = cli.main([
                        "--config", cfg_path, "--input", in_dir, "--cpus", str(c.cores),
                        "--output", os.path.join(out, "articles.json"),
                        "--summary", os.path.join(out, "summary.json"),
                    ])
                if rc != 0:
                    raise RuntimeError(f"cli.main exited {rc}")
                with c.tracer.span("functions.score"):
                    articles = c.spark.read.option("multiLine", True).json(
                        os.path.join(out, "articles.json"))
                    score = article_quality_score_expr(
                        F.col("headline"), F.col("subtitle"), F.col("article_body"),
                        F.col("meta_description"), F.size("pull_quotes"), F.size("key_takeaways"))
                    scored = articles.withColumn("quality_score", score)
                    passed = F.col("quality_score") >= QUALITY_THRESHOLD
                    scored.agg(  # the reference's quality stats record
                        F.count(F.lit(1)).alias("total_articles"),
                        F.sum(passed.cast("int")).alias("passed_quality"),
                        F.avg("quality_score").alias("avg_quality"),
                    ).collect()
                with c.tracer.span("sinks.json"):
                    write_json_records(scored, os.path.join(out, "scored"))
                with c.tracer.span("sinks.markdown"):
                    write_markdown_articles(scored.filter(passed), os.path.join(out, "markdown"))
        except Exception as e:  # noqa: BLE001 — a raising call counts as failed
            res.fail(f"pass {i - 1}: {type(e).__name__}: {e}")
            continue
        res.units.append(("doc_etl", sp))
        outs.append(out)
    c.reset()
    if c.tracer.enabled:
        # plan-layer probes (traced runs only, after the timed passes so they
        # do not warm them): validation and the lazy plan build the CLI
        # performs internally, timed on their own
        local = json.loads(json.dumps(config))
        local["datasets"]["papers"]["path"] = corpus["path"]
        with c.tracer.span("plans.validate"):
            validate_config(local)
        with c.tracer.span("plans.build"):
            run_pipeline(c.spark, local)
        c.reset()
    for out in outs:
        for p in checks.doc_etl_problems(out, corpus["expect"]):
            res.fail(f"{os.path.basename(out)}: {p}")
        with open(os.path.join(out, "summary.json"), encoding="utf-8") as f:
            extract = json.load(f)["steps"]["extract"]
        res.extra.setdefault("extract_valid_ratio", []).append(
            extract["valid_rows"] / max(1, extract["rows"]))
    files, size = (0, 0)
    if outs:
        for sub in ("scored", "markdown"):
            n, b = dir_usage(os.path.join(outs[-1], sub))
            files, size = files + n, size + b
    res.extra.update(docs=corpus["rows"], sink_files=files, sink_bytes=size)
    return res


def _store_usage(base: str) -> dict:
    """Slots, data files and bytes of the two stores of a pass."""
    stores = ("dedup_store", "lm_store")
    files = bytes_ = 0
    for s in stores:
        n, b = dir_usage(os.path.join(base, s))
        files, bytes_ = files + n, bytes_ + b
    slots = sum(
        sum(1 for d in os.listdir(os.path.join(base, log)) if d.startswith("tag="))
        for log in ("dedup_store", "lm_store/bigrams", "lm_store/tokens"))
    return {"slots": slots, "store_files": files, "store_bytes": bytes_}


def stream_ingest(c: Client) -> Result:
    from etl_poc_spark.operators.incremental import (
        compact_exact_dedup_store,
        read_exact_dedup_store,
    )
    from etl_poc_spark.operators.ngram_lm import compact_bigram_lm_store, read_bigram_lm_store
    from etl_poc_spark.plans.yaml_pipeline import run_streaming_pipeline

    landing = os.path.join(c.work, "landing")
    backlog = gen.gen_stream_backlog(c.seed, landing)
    res = Result(rows=backlog["rows"])
    progress = StreamProgress(c.spark)
    source = {"path": landing, "format": "parquet", "max_files_per_trigger": 1}

    def read_stores(base: str) -> tuple[pd.DataFrame, list[pd.DataFrame]]:
        dedup = read_exact_dedup_store(c.spark, f"{base}/dedup_store").toPandas()
        return dedup, [df.toPandas() for df in read_bigram_lm_store(c.spark, f"{base}/lm_store")]

    i = 0
    stats = []
    try:
        while c.open() or i == 0:
            base = os.path.join(c.work, f"stream{i:03d}")
            i += 1
            c.reset()
            dedup_cfg = {"streaming": {
                "source": source, "op": "exact_dedup", "keys": ["text"], "id": "doc_id",
                "store_dir": f"{base}/dedup_store", "kept_dir": f"{base}/kept",
                "checkpoint_dir": f"{base}/ck_dedup"}}
            lm_cfg = {"streaming": {
                "source": source, "op": "lm_counts", "text_key": "text",
                "store_dir": f"{base}/lm_store", "checkpoint_dir": f"{base}/ck_lm"}}
            n_batches0 = len(progress.batches)
            res.attempted += 5
            try:
                with c.tracer.span("stream_ingest") as sp:
                    with c.tracer.span("streaming.exact_dedup"):
                        s1 = run_streaming_pipeline(c.spark, dedup_cfg, timeout_seconds=150)
                    with c.tracer.span("streaming.lm_counts"):
                        s2 = run_streaming_pipeline(c.spark, lm_cfg, timeout_seconds=150)
                    if s1.get("timed_out") or s2.get("timed_out"):
                        raise RuntimeError("streaming drain timed out")
                    with c.tracer.span("deltastore.read") as read:
                        before = read_stores(base)
                    drained = _store_usage(base)
                    with c.tracer.span("deltastore.compact") as compact:
                        compact_exact_dedup_store(c.spark, f"{base}/dedup_store")
                        compact_bigram_lm_store(c.spark, f"{base}/lm_store")
                    with c.tracer.span("deltastore.read_after_compact") as reread:
                        after = read_stores(base)
            except Exception as e:  # noqa: BLE001 — a raising call counts as failed
                res.fail(f"pass {i - 1}: {type(e).__name__}: {e}")
                continue
            res.units.append(("stream_ingest", sp))
            progress.flush()
            kept = sum(len(pd.read_parquet(os.path.join(r, f)))
                       for r, _d, fs in os.walk(f"{base}/kept") for f in fs
                       if f.endswith(".parquet"))
            for p in checks.stream_problems(landing, before[0], after[0], before[1], after[1],
                                            kept, backlog["expect"]):
                res.fail(f"pass {i - 1}: {p}")
            stats.append({
                **drained,
                "batches": progress.batches[n_batches0:],
                "read_s": read.dur, "compact_s": compact.dur, "read_after_compact_s": reread.dur,
                "files_after_compact": _store_usage(base)["store_files"],
                "hit_ratio": 1.0 - kept / backlog["rows"],
            })
            shutil.rmtree(base, ignore_errors=True)
    finally:
        progress.flush()
        progress.close()
    c.reset()
    res.extra.update(passes=stats, input_bytes=backlog["bytes"])
    return res


def etl(c: Client) -> Result:
    """The document pipeline, then the streaming ingest: the two pipelines
    of the plan layer (the CLI's YAML DAG with its LLM ops and sinks, and
    the streaming ops with their stores). They share one workload, and so
    one Spark start per run, to keep the benchmark's runs within its time
    budget; each keeps its own unit kind."""
    doc, stream = doc_etl(c), stream_ingest(c)
    return Result(
        rows=doc.rows + stream.rows, units=doc.units + stream.units,
        failed=doc.failed + stream.failed, attempted=doc.attempted + stream.attempted,
        problems=doc.problems + stream.problems, extra={**doc.extra, **stream.extra},
    )


WORKLOADS = {
    "etl": etl,
    "queries": queries,
}
