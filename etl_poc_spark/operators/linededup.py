"""Cross-document segment-level deduplication (CCNet-style line dedup).

Web-scale curation pipelines (CCNet, RefinedWeb, Dolma) drop individual
LINES/paragraphs that repeat across many documents — boilerplate headers,
navigation chrome, license blurbs — while keeping the rest of each document
intact. The reference pipeline has no sub-document dedup at all (its unit is
the whole paper, `airflow/dags/zara_hybrid_etl.py:149-154`); this operator is
part of the LLM-training-data extension surface.

Spark-first shape, designed for 100 TB:

- documents are segmented with a pure-Column expression (no UDF) — either on
  a real delimiter (newline) or fixed word windows for delimiter-free text;
- the global duplicate-segment table is built by shuffling ONLY a 128-bit
  md5 of each segment (never the segment text) + doc id, grouped on the
  hash — the heavy exploded frame with the actual text is joined back with
  a left_anti on that hash, so segment bodies cross the wire exactly once
  (inside the rebuild shuffle, which is unavoidable: the output IS text);
- document rebuild is an `array_sort(collect_list(struct(idx, seg)))` per
  doc — one hash-partitioned aggregation, no window, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def segment_docs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_segment: int = 10,
) -> DataFrame:
    """Explode each document into ordered fixed-width word-window segments:
    (id, seg_idx, seg). Segment `i` holds words [i*w, (i+1)*w); the last
    segment may be shorter. Delimiter-free counterpart of line splitting —
    for corpora with real newlines, explode on split(text, '\\n') instead
    (same downstream contract)."""
    w = int(words_per_segment)
    if w <= 0:
        raise ValueError("words_per_segment must be positive")
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    seg_arr = F.expr(
        f"transform(sequence(0, cast(ceil(size(__words) / {w}.0) as int) - 1), "
        f"i -> concat_ws(' ', slice(__words, i * {w} + 1, {w})))"
    )
    return (
        df.select(F.col(id_col), words.alias("__words"))
        .select(F.col(id_col), F.posexplode(seg_arr).alias("seg_idx", "seg"))
    )


def cross_doc_duplicate_segments(
    segments: DataFrame,
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Segments appearing in >= `min_docs` DISTINCT documents -> one row per
    duplicated segment hash: (seg_hash, n_docs). Only (hash, id) pairs are
    shuffled — at corpus scale the segment bodies never enter this shuffle."""
    return (
        segments.select(F.md5(F.col("seg")).alias("seg_hash"), F.col(id_col))
        .groupBy("seg_hash")
        .agg(F.countDistinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def _rebuild(seg_idx: str, seg: str) -> Column:
    # order-preserving text rebuild: seg_idx is unique per doc, so sorting
    # the (idx, seg) structs sorts by position
    return F.array_join(
        F.expr(f"transform(array_sort(collect_list(struct({seg_idx}, {seg}))), x -> x.{seg})"),
        " ",
    )


def _rebuild_stats(segments: DataFrame, kept: DataFrame, id_col: str) -> DataFrame:
    """(id, n_segments, n_kept, n_dropped, dedup_text) from the full and the
    surviving segment frames."""
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        _rebuild("seg_idx", "seg").alias("dedup_text"),
    )
    totals = segments.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_segments"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_segments"),
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_dropped"),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )


def line_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_segment: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Remove every segment that appears in >= `min_docs` distinct documents
    (ALL copies drop, the CCNet rule) and rebuild each document from its
    surviving segments in order. Output, one row per input document:

        (id, n_segments, n_kept, n_dropped, dedup_text)

    Documents whose every segment was boilerplate survive with
    dedup_text = '' — a downstream length filter decides their fate, not
    this operator."""
    segments = segment_docs(df, id_col, text_col, words_per_segment)
    dup = cross_doc_duplicate_segments(segments, id_col, min_docs)
    kept = segments.withColumn("__h", F.md5(F.col("seg"))).join(
        dup.select(F.col("seg_hash").alias("__h")), "__h", "left_anti"
    )
    return _rebuild_stats(segments, kept, id_col)


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
