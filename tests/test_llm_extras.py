"""Hierarchical llm_reduce fold, LLM cost accumulators, text Column helpers."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_poc_spark.functions.text import slugify, word_count
from etl_poc_spark.llm.ops import llm_map, llm_reduce
from etl_poc_spark.plans.schema_grammar import to_struct_type



def test_hierarchical_reduce_over_context(spark):
    # 10 chunks x ~40 chars each; context budget 100 chars -> partial folds
    rows = [(1, i, f"chunk{i:02d} " + "word " * 6) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id int, chunk_id int, chunk_text string")
    schema = to_struct_type({"title": "string"})

    flat = llm_reduce(df, ["doc_id"], "Synthesize {{ input.text }}", schema)
    assert flat.count() == 1
    assert flat._llm_metrics["calls"].value == 1  # single fold

    hier = llm_reduce(
        df, ["doc_id"], "Synthesize {{ input.text }}", schema, max_context_chars=100,
    )
    out = hier.collect()[0]
    assert out["_valid"] is True and out["title"]
    assert hier._llm_metrics["calls"].value > 1  # partial folds + final fold
    # result is still one row per group with the declared schema
    assert set(hier.columns) == {"doc_id", "title", "_valid"}


def test_hierarchical_reduce_small_group_single_call(spark):
    df = spark.createDataFrame([(1, 0, "tiny text")], "doc_id int, chunk_id int, chunk_text string")
    small = llm_reduce(df, ["doc_id"], "S {{ input.text }}", to_struct_type({"title": "string"}),
                       max_context_chars=100)
    small.collect()
    assert small._llm_metrics["calls"].value == 1  # under budget -> no hierarchy


def test_llm_map_cost_accumulators(spark):
    df = spark.createDataFrame([(i, f"text {i}") for i in range(7)], "doc_id int, text string")
    out = llm_map(df, "Extract {{ input.text }}", to_struct_type({"title": "string"}))
    out.write.format("noop").mode("overwrite").save()
    metrics = out._llm_metrics
    assert metrics["calls"].value == 7  # one provider call per row
    assert metrics["prompt_chars"].value > 7 * len("Extract ")


def test_text_column_exprs_match_python_reference(spark, sf_dir):
    import re

    from etl_poc_spark.io import load_table

    def py_slugify(s):
        out = re.sub(r"[^a-z0-9]+", "-", (s or "").lower())
        return re.sub(r"-{2,}", "-", out).strip("-") or "untitled"

    rows = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "text", slugify(F.substring("text", 1, 30)).alias("slug"), word_count(F.col("text")).alias("wc"))
        .orderBy("doc_id")
        .limit(50)
        .collect()
    )
    assert len(rows) == 50
    assert [(r.slug, r.wc) for r in rows] == [(py_slugify(r.text[:30]), len(r.text.split())) for r in rows]
