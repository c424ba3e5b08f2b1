"""Full reference-DAG-shape end-to-end test (SURVEY.md §3.1 / §5.2.2):

landed papers (title, summary, authors and extracted full text per
doc_key — the engine starts from landed documents, not from a fetch) ->
paper validation (L12 gate) -> chunk (L1) -> LLM extract (L2) -> LLM
article generation (L3) -> LLM judge (L5) -> deterministic quality score
(L11) -> threshold partition (P3) -> stats (A2, the reference's exact
stats shape) -> markdown + JSON sinks (S6/S7) -> run summary (A6). Stub
providers end to end — fully deterministic, asserts real values.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from etl_poc_spark.functions.scoring import QUALITY_THRESHOLD, article_quality_score_expr, paper_validation_exprs
from etl_poc_spark.llm.ops import llm_map, llm_reduce
from etl_poc_spark.operators.chunker import chunk_by_tokens
from etl_poc_spark.plans.schema_grammar import to_struct_type
from etl_poc_spark.sinks.sinks import write_json_records, write_markdown_articles


def _landed_papers(spark):
    """Nine landed papers; two fail the validation gate: paper-04 has no
    authors and paper-07 no title, and neither has a summary."""
    rows = []
    for i in range(9):
        key = f"paper-{i:02d}"
        rows.append(
            (
                key,
                "" if i == 7 else f"Paper {i} on curation at scale",
                "" if i in (4, 7) else f"We study dataset curation with method {i}. " * 6,
                [] if i == 4 else [f"Author {i}a", f"Author {i}b"],
                " ".join(f"{key}-w{t}" for t in range(40 + 9 * i)),
            )
        )
    return spark.createDataFrame(
        rows, "doc_key string, title string, summary string, authors array<string>, full_text string"
    )


def test_reference_pipeline_shape(spark, tmp_path):
    out_dir = str(tmp_path)

    # 1. landed papers
    papers = _landed_papers(spark)
    assert papers.count() == 9

    # 2. paper validation gate (arxiv_hook.py:217-294): filter unsuitable
    v = paper_validation_exprs(F.col("title"), F.col("summary"), F.size("authors"), F.col("full_text"))
    validated = papers.withColumn("paper_q", v["quality_score"]).withColumn("suitable", v["is_suitable_for_processing"])
    suitable = validated.filter("suitable")
    n_suitable = suitable.count()
    assert sorted(r.doc_key for r in validated.filter(~F.col("suitable")).collect()) == ["paper-04", "paper-07"]
    assert n_suitable == 7

    # 3. chunk -> extract -> synthesize article per doc (L1, L2, L6/L3)
    chunks = chunk_by_tokens(suitable.select("doc_key", F.col("full_text").alias("text")), chunk_size=30, chunk_overlap=5)
    extracted = llm_map(
        chunks,
        "Extract structured content: {{ input.chunk_text }}",
        to_struct_type({"title": "string", "abstract_summary": "string"}),
        validators=("len(output['title']) > 0",),
    )
    assert extracted.filter("_valid").count() == extracted.count()

    articles = llm_reduce(
        extracted,
        ["doc_key"],
        "Write an article from: {{ input.text }}",
        to_struct_type(
            {
                "headline": "string",
                "subtitle": "string",
                "article_body": "string",
                "meta_description": "string",
                "pull_quotes": "list[string]",
                "key_takeaways": "list[string]",
                "word_count": "integer",
            }
        ),
        text_col="chunk_text",
        order_col="chunk_id",
    )
    assert articles.count() == n_suitable  # one article per document

    # 4. LLM judge (L5): rubric-scored assessment map op
    judged = llm_map(
        articles,
        "Assess this article: {{ input.article_body }}",
        to_struct_type({"confidence_score": "number"}),
    )

    # 5. deterministic quality score + threshold partition (L11 + P3)
    scored = judged.withColumn(
        "quality_score",
        article_quality_score_expr(
            F.col("headline"), F.col("subtitle"), F.col("article_body"),
            F.col("meta_description"), F.size("pull_quotes"), F.size("key_takeaways"),
        ),
    )
    hi = scored.filter(F.col("quality_score") >= QUALITY_THRESHOLD)
    lo = scored.filter(F.col("quality_score") < QUALITY_THRESHOLD)

    # 6. stats — the reference's exact shape (zara_hybrid_etl.py:233-239)
    total = scored.count()
    passed, failed = hi.count(), lo.count()
    stats = {
        "total_articles": total,
        "passed_quality": passed,
        "failed_quality": failed,
        "pass_rate": passed / total,
        "avg_quality": scored.agg(F.avg("quality_score")).collect()[0][0],
    }
    assert stats["total_articles"] == n_suitable
    assert stats["passed_quality"] + stats["failed_quality"] == total
    assert 0.0 <= stats["avg_quality"] <= 1.0

    # 7. materialize (S6/S7)
    write_markdown_articles(hi, os.path.join(out_dir, "articles"))
    n_json = write_json_records(hi, os.path.join(out_dir, "articles_high_quality.json"), single_file=True)
    assert n_json == passed
    slugs = os.listdir(os.path.join(out_dir, "articles")) if passed else []
    assert len(slugs) == passed

    # 8. summary (A6)
    summary = {"ingestion": {"total_papers": 9, "suitable": n_suitable}, "quality": stats}
    assert json.loads(json.dumps(summary)) == summary
    assert summary["quality"]["total_articles"] == total

    # determinism: full rerun produces identical stats
    rerun_avg = judged.withColumn(
        "quality_score",
        article_quality_score_expr(
            F.col("headline"), F.col("subtitle"), F.col("article_body"),
            F.col("meta_description"), F.size("pull_quotes"), F.size("key_takeaways"),
        ),
    ).agg(F.avg("quality_score")).collect()[0][0]
    assert rerun_avg == stats["avg_quality"]
