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


def test_incremental_first_batch_matches_batch_line_dedup(spark, tmp_path):
    """With no history the incremental ingest reduces exactly to the batch
    operator (same rows, same rebuilt text)."""
    from etl_poc_spark.operators.linededup import incremental_line_dedup_ingest

    df = _mk(
        spark,
        [(1, f"{BP} x y z"), (2, f"{BP} p q r"), (3, "u v w")],
    )
    inc = incremental_line_dedup_ingest(
        spark, df, str(tmp_path / "store"), words_per_segment=3
    )
    ref = line_dedup(df, words_per_segment=3)
    assert sorted(map(tuple, inc.collect())) == sorted(map(tuple, ref.collect()))


def test_incremental_forward_only_threshold(spark, tmp_path):
    """A segment seen once in batch 1 (below threshold) survives there;
    when batch 2 brings its cumulative distinct-doc count to min_docs, the
    batch-2 copy drops — batch 1's copy is NOT retroactively rewritten."""
    from etl_poc_spark.operators.linededup import incremental_line_dedup_ingest

    store = str(tmp_path / "store")
    b1 = _mk(spark, [(1, f"{BP} a b c"), (2, "d e f g h i")])
    out1 = {r.doc_id: r for r in incremental_line_dedup_ingest(
        spark, b1, store, words_per_segment=3).collect()}
    assert out1[1].dedup_text == f"{BP} a b c"  # only 1 doc has BP so far
    assert out1[1].n_dropped == 0

    b2 = _mk(spark, [(10, f"{BP} j k l"), (11, "m n o")])
    out2 = {r.doc_id: r for r in incremental_line_dedup_ingest(
        spark, b2, store, words_per_segment=3).collect()}
    assert out2[10].dedup_text == "j k l"  # cumulative count hit 2 -> drops
    assert out2[10].n_dropped == 1
    assert out2[11].dedup_text == "m n o"

    # once boilerplate, always boilerplate: a third batch drops it too
    b3 = _mk(spark, [(20, f"{BP} s t u")])
    out3 = {r.doc_id: r for r in incremental_line_dedup_ingest(
        spark, b3, store, words_per_segment=3).collect()}
    assert out3[20].dedup_text == "s t u"


def test_streaming_line_dedup_matches_sequential_batches(spark, tmp_path):
    """A 2-file stream through ingest_to_sink produces the
    same rewritten documents as two sequential incremental ingests."""
    import time as _time

    from etl_poc_spark.operators.deltastore import foreach_batch_writer, ingest_to_sink
    from etl_poc_spark.operators.linededup import incremental_line_dedup_ingest

    schema = "doc_id long, text string"
    b1 = [(1, f"{BP} a b c"), (2, "d e f g h i")]
    b2 = [(10, f"{BP} j k l"), (11, "m n o")]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    spark.createDataFrame(b1, schema).coalesce(1).write.mode("overwrite").parquet(
        str(in_dir / "f1")
    )
    _time.sleep(1.1)  # file-source batch order follows modification time
    spark.createDataFrame(b2, schema).coalesce(1).write.mode("overwrite").parquet(
        str(in_dir / "f2")
    )

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    writer = foreach_batch_writer(
        stream,
        str(tmp_path / "ckpt"),
        ingest_to_sink,
        ingest=incremental_line_dedup_ingest,
        store_dir=str(tmp_path / "store"),
        kept_dir=str(tmp_path / "kept"),
        words_per_segment=3,
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(180)

    cols = ["doc_id", "n_segments", "n_kept", "n_dropped", "dedup_text"]
    got = sorted(
        map(tuple, spark.read.parquet(str(tmp_path / "kept")).select(cols).collect())
    )
    ref_store = str(tmp_path / "ref_store")
    ref = sorted(
        map(
            tuple,
            incremental_line_dedup_ingest(
                spark, spark.createDataFrame(b1, schema), ref_store, words_per_segment=3
            ).collect()
            + incremental_line_dedup_ingest(
                spark, spark.createDataFrame(b2, schema), ref_store, words_per_segment=3
            ).collect(),
        )
    )
    assert got == ref
    texts = {r[0]: r[4] for r in got}
    assert texts[1] == f"{BP} a b c" and texts[10] == "j k l"


def test_incremental_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying a batch with the same
    batch_id must overwrite its own store partition (no double-counted
    history) and produce identical output — the boilerplate threshold must
    not trip early because a replayed batch saw its prior attempt's rows."""
    from etl_poc_spark.operators.linededup import incremental_line_dedup_ingest

    store = str(tmp_path / "store")
    b1 = _mk(spark, [(1, f"{BP} a b c"), (2, "d e f g h i")])
    first = sorted(map(tuple, incremental_line_dedup_ingest(
        spark, b1, store, words_per_segment=3, batch_id=0).collect()))
    # replay batch 0: output identical, BP still below threshold (1 doc)
    replay = sorted(map(tuple, incremental_line_dedup_ingest(
        spark, b1, store, words_per_segment=3, batch_id=0).collect()))
    assert replay == first
    out1 = {r[0]: r for r in replay}
    assert out1[1][4] == f"{BP} a b c" and out1[1][3] == 0
    # store holds exactly ONE count row per segment hash for batch 0
    st = spark.read.parquet(store)
    assert st.groupBy("seg_hash").count().filter(F.col("count") > 1).count() == 0
    # batch 1 then crosses the threshold exactly as without the replay
    b2 = _mk(spark, [(10, f"{BP} j k l")])
    out2 = {r.doc_id: r for r in incremental_line_dedup_ingest(
        spark, b2, store, words_per_segment=3, batch_id=1).collect()}
    assert out2[10].dedup_text == "j k l" and out2[10].n_dropped == 1


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
