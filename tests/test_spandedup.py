"""duplicate_span_coverage semantics on constructed corpora: interval
union of shared >=8-token windows, cross-doc only, division-free flag."""

from __future__ import annotations


def _run(spark, tmp_path, rows):
    import etl_poc_spark.queries.spandedup_q as m

    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(rows, "doc_id long, text string, lang string, source string, n_chars long") \
        .write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    out = m.duplicate_span_coverage(spark, str(sf))
    return {r["doc_id"]: r for r in out.collect()}


def _doc(i, text):
    return (i, text, "en", "src0", len(text))


W10 = " ".join(f"tok{j}" for j in range(10))  # a 10-token span


def test_shared_span_interval_union(spark, tmp_path):
    # docs 1 and 2 share the exact 10-token span; doc 3 is all-unique.
    rows = [
        _doc(1, W10 + " " + " ".join(f"a{j}" for j in range(10))),
        _doc(2, W10 + " " + " ".join(f"b{j}" for j in range(10))),
        _doc(3, " ".join(f"c{j}" for j in range(20))),
    ]
    got = _run(spark, tmp_path, rows)
    # shared windows = starts 0,1,2 (8-token windows inside the 10-token
    # span); interval union = min(8,1)+min(8,1)+8 = 10 tokens
    assert got[1]["covered_tokens"] == 10 and got[2]["covered_tokens"] == 10
    assert got[1]["n_tokens"] == 20
    assert got[1]["dup_coverage"] == 10 / 20
    # 10*4 >= 20 -> heavy_dup fires at exactly 25%+
    assert got[1]["heavy_dup"] is True
    assert got[3]["covered_tokens"] == 0 and got[3]["heavy_dup"] is False


def test_within_doc_repeat_does_not_count(spark, tmp_path):
    # the span repeats INSIDE doc 1 only -> cross-doc rule says no coverage
    rows = [
        _doc(1, W10 + " " + W10),
        _doc(2, " ".join(f"z{j}" for j in range(20))),
    ]
    got = _run(spark, tmp_path, rows)
    assert got[1]["covered_tokens"] == 0


def test_short_and_empty_docs_pass_through(spark, tmp_path):
    rows = [_doc(1, "only five words in here"), _doc(2, ""), _doc(3, W10), _doc(4, W10)]
    got = _run(spark, tmp_path, rows)
    assert got[1]["covered_tokens"] == 0 and got[1]["n_tokens"] == 5
    assert got[2]["n_tokens"] == 0 and got[2]["dup_coverage"] == 0.0
    # docs 3 and 4 are verbatim copies: full coverage
    assert got[3]["covered_tokens"] == 10 and got[3]["dup_coverage"] == 1.0


# --- span REMOVAL (ExactSubstr's output step, r14 verdict ask #1) ----------


def _removal(spark, rows, **kw):
    from etl_poc_spark.operators.spandedup import span_removal

    df = spark.createDataFrame(
        [(i, t) for i, t, *_ in rows], "doc_id long, text string"
    )
    return {r["doc_id"]: r for r in span_removal(df, **kw).collect()}


def test_span_removal_cuts_shared_span_and_keeps_rest(spark):
    uniq_a = " ".join(f"a{j}" for j in range(10))
    uniq_b = " ".join(f"b{j}" for j in range(10))
    rows = [
        _doc(1, W10 + " " + uniq_a),
        _doc(2, uniq_b + " " + W10),
        _doc(3, " ".join(f"c{j}" for j in range(20))),
    ]
    got = _removal(spark, rows)
    # the shared 10-token span is cut from BOTH docs; unique tails survive
    assert got[1]["dedup_text"] == uniq_a and got[1]["removed_tokens"] == 10
    assert got[2]["dedup_text"] == uniq_b and got[2]["removed_tokens"] == 10
    assert got[3]["dedup_text"] == rows[2][1] and got[3]["removed_tokens"] == 0


def test_span_removal_merges_overlapping_and_adjacent_spans(spark):
    # doc 1 shares tokens 0-9 with doc 2 and tokens 6-15 with doc 3: the
    # two flagged regions overlap and must merge into ONE cut [0, 16)
    toks = [f"t{j}" for j in range(16)] + [f"u{j}" for j in range(6)]
    span_a = " ".join(toks[0:10])
    span_b = " ".join(toks[6:16])
    rows = [
        _doc(1, " ".join(toks)),
        _doc(2, span_a + " " + " ".join(f"x{j}" for j in range(8))),
        _doc(3, " ".join(f"y{j}" for j in range(8)) + " " + span_b),
    ]
    got = _removal(spark, rows)
    assert got[1]["removed_tokens"] == 16
    assert got[1]["dedup_text"] == " ".join(f"u{j}" for j in range(6))


def test_span_removal_matches_coverage_and_case_insensitive(spark):
    from etl_poc_spark.operators.spandedup import span_coverage, span_removal

    # matching is case-insensitive (span_coverage convention) but the
    # rebuilt text preserves ORIGINAL case of surviving tokens
    upper = W10.upper()
    tail = "Tail Words Here"
    rows = [(1, upper + " " + tail), (2, W10)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in span_removal(df).collect()}
    assert got[1]["dedup_text"] == tail          # original case kept
    assert got[2]["dedup_text"] == ""            # fully duplicated doc
    # removed_tokens == span_coverage.covered_tokens, every doc
    cov = {r["doc_id"]: r["covered_tokens"] for r in span_coverage(df).collect()}
    assert all(got[i]["removed_tokens"] == cov[i] for i in got)


def test_span_removal_keep_first_retains_min_doc_copy(spark):
    rows = [
        _doc(5, W10 + " five extra"),
        _doc(9, W10 + " nine extra"),
    ]
    got = _removal(spark, rows, keep_first=True)
    # the smallest doc id holding the duplicated windows keeps its copy
    assert got[5]["removed_tokens"] == 0 and got[5]["dedup_text"].startswith("tok0")
    assert got[9]["removed_tokens"] == 10 and got[9]["dedup_text"] == "nine extra"


def test_span_removal_empty_and_short_docs(spark):
    rows = [_doc(1, ""), _doc(2, "three short words"), _doc(3, W10), _doc(4, W10)]
    got = _removal(spark, rows)
    assert got[1]["dedup_text"] == "" and got[1]["n_tokens"] == 0
    assert got[2]["dedup_text"] == "three short words"
    assert got[3]["dedup_text"] == "" and got[3]["removed_tokens"] == 10


def test_doc_self_repetition_constructed(spark, tmp_path):
    import etl_poc_spark.queries.spandedup_q as m

    rep = (W10 + " ") * 3                      # the 10-token span 3x over
    rows = [
        _doc(1, rep.strip()),                  # heavy self-repetition
        _doc(2, " ".join(f"q{j}" for j in range(30))),  # all distinct
        _doc(3, "too short"),                  # < 8 tokens -> zero windows
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    got = {r["doc_id"]: r for r in m.doc_self_repetition(spark, str(sf)).collect()}
    # doc 1: 30 tokens -> 23 windows; window starting at 0 == window at 10
    # == window at 20 (the repeat period), so distinct < total
    assert got[1]["n_windows"] == 23
    assert got[1]["repeated_windows"] > 0 and got[1]["self_repetitive"]
    assert got[1]["max_multiplicity"] >= 2
    assert got[2]["repeated_windows"] == 0 and not got[2]["self_repetitive"]
    assert got[3]["n_windows"] == 0 and not got[3]["self_repetitive"]


def test_eval_contamination_constructed(spark, tmp_path):
    import etl_poc_spark.queries.spandedup_q as m

    eval_text = W10 + " " + " ".join(f"e{j}" for j in range(10))
    rows = [
        # doc 0 is the EVAL doc (doc_id % 50 == 0)
        (0, eval_text, "en", "bench", len(eval_text)),
        # train doc 1 contains the eval span verbatim -> contaminated
        _doc(1, "prefix words here then " + W10 + " and a tail"),
        # train doc 2 shares nothing
        _doc(2, " ".join(f"z{j}" for j in range(20))),
    ]
    sf = tmp_path / "sf"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(sf / "documents.parquet"))
    got = {r["source"]: r for r in m.eval_contamination_stats(spark, str(sf)).collect()}
    # only train docs are counted; src0 holds docs 1 and 2
    assert got["src0"]["n_train"] == 2
    assert got["src0"]["n_contaminated"] == 1     # doc 1 only
    assert got["src0"]["windows_hit"] == 3        # starts 4,5,6 of the 10-token span
    assert "bench" not in got                     # eval-only source has no train docs


# --- incremental / streaming span removal (r15) -----------------------------


def test_span_removal_plan_has_no_python_eval(spark):
    """The scale claims (zero UDF, zero token explode) pinned at the plan
    level: span_removal's physical plan must contain no Python evaluation
    node — everything stays JVM-side Columns."""
    from etl_poc_spark.operators.spandedup import span_removal

    df = spark.createDataFrame(
        [(1, W10 + " tail one"), (2, W10 + " tail two")], "doc_id long, text string"
    )
    plan = span_removal(df)._jdf.queryExecution().executedPlan().toString()
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert marker not in plan, f"{marker} found in span_removal plan"
