"""Segment-level (line) dedup: the CCNet rule — a segment duplicated across
documents drops from ALL of them, order is preserved, and an all-boilerplate
document survives with empty text (downstream filters decide its fate)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_poc_spark.operators.linededup import (
    cross_doc_duplicate_segments,
    line_dedup,
    segment_docs,
)

# exactly two 3-word segments at words_per_segment=3
BP = "subscribe our newsletter"


def _mk(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_segment_docs_word_windows(spark):
    df = _mk(spark, [(1, "a b c d e f g")])
    segs = segment_docs(df, words_per_segment=3).orderBy("seg_idx").collect()
    assert [(r.seg_idx, r.seg) for r in segs] == [(0, "a b c"), (1, "d e f"), (2, "g")]


def test_duplicated_segment_drops_from_all_docs_order_preserved(spark):
    # BP is one full 3-word segment injected into docs 1 and 2 at different
    # positions; doc 3 is clean. ALL copies of BP drop; everything else stays
    # in original order.
    df = _mk(
        spark,
        [
            (1, f"{BP} x y z p q r"),
            (2, f"x2 y2 z2 {BP} p2 q2 r2"),
            (3, "u v w a b c"),
        ],
    )
    out = {r.doc_id: r for r in line_dedup(df, words_per_segment=3).collect()}
    assert out[1].dedup_text == "x y z p q r"
    assert out[2].dedup_text == "x2 y2 z2 p2 q2 r2"
    assert out[3].dedup_text == "u v w a b c"
    assert (out[1].n_segments, out[1].n_kept, out[1].n_dropped) == (3, 2, 1)
    assert (out[2].n_segments, out[2].n_kept, out[2].n_dropped) == (3, 2, 1)
    assert (out[3].n_segments, out[3].n_kept, out[3].n_dropped) == (2, 2, 0)


def test_all_boilerplate_doc_survives_with_empty_text(spark):
    df = _mk(spark, [(1, BP), (2, BP), (3, f"{BP} tail words here")])
    out = {r.doc_id: r for r in line_dedup(df, words_per_segment=3).collect()}
    # docs 1 and 2 are pure boilerplate: present in the output, empty text
    assert out[1].dedup_text == "" and out[1].n_kept == 0 and out[1].n_dropped == 1
    assert out[2].dedup_text == "" and out[2].n_kept == 0 and out[2].n_dropped == 1
    assert out[3].dedup_text == "tail words here"


def test_within_doc_repeat_is_not_cross_doc_duplicate(spark):
    # the same segment twice in ONE doc is not boilerplate (min_docs counts
    # DISTINCT documents) — both copies survive
    df = _mk(spark, [(1, "a b c a b c"), (2, "x y z q r s")])
    dup = cross_doc_duplicate_segments(
        segment_docs(df, words_per_segment=3), min_docs=2
    ).collect()
    assert dup == []
    out = {r.doc_id: r for r in line_dedup(df, words_per_segment=3).collect()}
    assert out[1].dedup_text == "a b c a b c"


def test_min_docs_threshold(spark):
    # shared by 2 docs but min_docs=3 -> survives
    df = _mk(spark, [(1, f"{BP} a b c"), (2, f"{BP} d e f")])
    out = {r.doc_id: r for r in line_dedup(df, words_per_segment=3, min_docs=3).collect()}
    assert out[1].dedup_text == f"{BP} a b c"
    assert out[2].dedup_text == f"{BP} d e f"


def test_registered_query_runs(spark, sf_dir):
    from etl_poc_spark.queries.linededup_q import line_dedup_stats

    out = line_dedup_stats(spark, sf_dir)
    assert out.columns == ["doc_id", "n_segments", "n_kept", "n_dropped", "dedup_text"]
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("doc_id") % 7 == 0).cast("int") * (F.col("n_dropped") == 0).cast("int")).alias("injected_nodrop"),
    ).collect()[0]
    # every injected doc lost at least its boilerplate segment
    assert agg.n > 0 and agg.injected_nodrop == 0
