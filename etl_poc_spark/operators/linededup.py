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

from etl_poc_spark.operators.deltastore import (
    DeltaStoreSpec,
    batch_slot,
    foreach_batch_writer,
    ingest_to_sink,
)

# (seg_hash, n_docs) per batch; the cumulative count is their SUM
LINE_DEDUP_STORE = DeltaStoreSpec(("seg_hash",), (("n_docs", "sum"),))


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
    surviving segment frames — shared tail of batch and incremental modes."""
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


def incremental_line_dedup_ingest(
    spark,
    batch: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_segment: int = 10,
    min_docs: int = 2,
    batch_id: int | None = None,
) -> DataFrame:
    """Segment-dedup a NEW batch against a persisted boilerplate store and
    fold the batch's segment counts into the store.

    Store shape: append-only (seg_hash, n_docs) rows — one per (batch,
    segment-hash), a few dozen bytes per distinct segment regardless of
    body size. A segment is boilerplate once its CUMULATIVE distinct-doc
    count (history + this batch) reaches `min_docs`; all of its copies in
    THIS batch drop. Semantics are forward-only by design: copies that
    shipped in earlier batches, before the segment crossed the threshold,
    are not retroactively rewritten — that is a compaction job over the
    kept corpus (re-run batch `line_dedup`), not an ingest step. Within a
    single first batch this reduces exactly to `line_dedup` (equivalence
    is pytest-pinned).

    Scale shape mirrors `incremental_near_dup_ingest`: only hashes and
    counts shuffle or persist — historical segment BODIES are never stored
    or joined; the per-batch count aggregation is the only wide stage, and
    the store can be periodically compacted with a groupBy(seg_hash) sum.

    Cumulative counts double-count a document that carries the same
    segment across DIFFERENT batches (re-ingest); exact cross-batch
    distinctness would require storing doc ids. Acceptable by design:
    boilerplate detection needs a threshold signal, not an exact census —
    CCNet itself thresholds on rough document frequency.

    `batch_id` (the streaming seam) slots the batch's counts as
    `batch_id=<n>` and excludes that slot from the history read, so a
    replay produces byte-identical store state and output. Slot, replay
    and concurrency contract: operators/deltastore.py."""
    segments = segment_docs(batch, id_col, text_col, words_per_segment)
    seg_h = segments.withColumn("__h", F.md5(F.col("seg")))
    batch_counts = seg_h.groupBy("__h").agg(F.countDistinct(id_col).alias("n_docs"))
    slot = batch_slot(batch_id)
    store = LINE_DEDUP_STORE.read(spark, store_dir, exclude_slot=slot)
    if store is None:
        total = batch_counts.select("__h", F.col("n_docs").alias("total_docs"))
    else:
        hist = LINE_DEDUP_STORE.fold(store).select(
            F.col("seg_hash").alias("__h"), F.col("n_docs").alias("hist_docs")
        )
        total = (
            batch_counts.join(hist, "__h", "left")
            .select(
                "__h",
                (F.col("n_docs") + F.coalesce(F.col("hist_docs"), F.lit(0))).alias("total_docs"),
            )
        )
    dup = total.filter(F.col("total_docs") >= min_docs).select("__h")
    kept = seg_h.join(dup, "__h", "left_anti")
    # MATERIALIZE before the store append: the output plan reads the store
    # parquet through `dup`, and Spark lists parquet files at ACTION time —
    # without this, an action on the returned frame after the append would
    # recount the batch's own rows as history
    out = _rebuild_stats(segments, kept, id_col).localCheckpoint(eager=True)
    LINE_DEDUP_STORE.append(
        batch_counts.withColumnRenamed("__h", "seg_hash"), store_dir, slot
    )
    return out


compact_line_dedup_store = LINE_DEDUP_STORE.compact


def streaming_line_dedup_ingest(
    stream: DataFrame,
    store_dir: str,
    kept_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **ingest_kwargs,
):
    """Continuous segment dedup: each micro-batch runs
    incremental_line_dedup_ingest against the shared boilerplate store
    and writes its rewritten documents as the batch's `batch_id=<n>`
    partition of `kept_dir`. Returns a configured DataStreamWriter — call
    .trigger(...).start() to run. Store and sink are both keyed by the
    batch id, so an at-least-once replay is effectively-once
    (operators/deltastore.py)."""
    return foreach_batch_writer(
        stream, checkpoint_dir, ingest_to_sink,
        ingest=incremental_line_dedup_ingest, store_dir=store_dir,
        kept_dir=kept_dir, id_col=id_col, text_col=text_col, **ingest_kwargs,
    )


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
