"""Incremental near-dup ingestion against a persisted LSH band store."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from etl_poc_spark.operators.incremental import incremental_near_dup_ingest


def _doc(i: int, words: list[str]) -> tuple[int, str]:
    return (i, " ".join(words))


_BASE = [
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima".split(),
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray".split(),
    "zulu apple banana cherry date elder fig grape honey iris jasmine kiwi".split(),
    "lemon mango nectar olive peach quince rose sage thyme umber violet wren".split(),
]


def test_incremental_ingest_store_and_batch_dedup(spark, tmp_path):
    store = str(tmp_path / "band_store")
    batch1 = spark.createDataFrame(
        [_doc(i, w) for i, w in enumerate(_BASE)], "doc_id long, text string"
    )
    kept1 = incremental_near_dup_ingest(spark, batch1, store)
    assert sorted(r["doc_id"] for r in kept1.collect()) == [0, 1, 2, 3]

    near_of_1 = list(_BASE[1])
    near_of_1[-1] = "yankee"  # one word changed -> high jaccard vs doc 1
    fresh = "one two three four five six seven eight nine ten eleven twelve".split()
    fresh_near = list(fresh)
    fresh_near[-1] = "thirteen"
    batch2 = spark.createDataFrame(
        [
            _doc(10, _BASE[0]),      # exact dup of stored doc 0
            _doc(11, near_of_1),     # near-dup of stored doc 1
            _doc(12, fresh),         # novel
            _doc(13, fresh_near),    # near-dup of 12 WITHIN the batch
        ],
        "doc_id long, text string",
    )
    kept2 = incremental_near_dup_ingest(spark, batch2, store)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [12]

    # idempotence: re-ingesting the same batch drops everything as store hits
    kept3 = incremental_near_dup_ingest(spark, batch2, store)
    assert kept3.count() == 0

    # the store holds bands only for surviving representatives
    store_ids = {
        r["doc_id"]
        for r in spark.read.parquet(store).select("doc_id").distinct().collect()
    }
    assert store_ids == {0, 1, 2, 3, 12}


def test_incremental_ingest_short_docs_pass_through(spark, tmp_path):
    """Docs too short to shingle produce no bands — they pass through (the
    documented contract; exact dedup is the guard for tiny docs)."""
    store = str(tmp_path / "band_store")
    b1 = spark.createDataFrame([(1, "hi"), (2, " ".join(_BASE[0]))], "doc_id long, text string")
    kept = incremental_near_dup_ingest(spark, b1, store)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 2]
    b2 = spark.createDataFrame([(3, "hi")], "doc_id long, text string")
    kept2 = incremental_near_dup_ingest(spark, b2, store)
    assert [r["doc_id"] for r in kept2.collect()] == [3]


@pytest.mark.slow
def test_streaming_ingest_matches_sequential_batches(spark, tmp_path):
    """A 2-file stream through ingest_to_sink keeps the same ids
    as two sequential batch ingests (maxFilesPerTrigger=1 -> one micro-batch
    per file; file order by modification time)."""
    import time as _time

    from etl_poc_spark.operators.deltastore import foreach_batch_writer, ingest_to_sink

    near_of_0 = list(_BASE[0])
    near_of_0[-1] = "changed"
    b1 = [_doc(i, w) for i, w in enumerate(_BASE[:2])]
    b2 = [_doc(10, near_of_0), _doc(11, _BASE[2])]

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "doc_id long, text string"
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
        ingest=incremental_near_dup_ingest,
        store_dir=str(tmp_path / "store"),
        kept_dir=str(tmp_path / "kept"),
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(180)

    kept_ids = sorted(
        r["doc_id"] for r in spark.read.parquet(str(tmp_path / "kept")).collect()
    )
    # sequential-batch reference on a fresh store
    ref_store = str(tmp_path / "ref_store")
    ref1 = incremental_near_dup_ingest(
        spark, spark.createDataFrame(b1, schema), ref_store
    )
    ref2 = incremental_near_dup_ingest(
        spark, spark.createDataFrame(b2, schema), ref_store
    )
    ref_ids = sorted(
        [r["doc_id"] for r in ref1.collect()] + [r["doc_id"] for r in ref2.collect()]
    )
    assert kept_ids == ref_ids
    assert 10 not in kept_ids  # near-dup of stored doc 0 was dropped
    assert 11 in kept_ids


def test_incremental_kmv_matches_batch_and_replay_is_noop(spark, tmp_path):
    from etl_poc_spark.operators.sketches import incremental_kmv_ingest, kmv_bottom_k

    store = str(tmp_path / "kmv_store")
    b1 = spark.range(0, 3000).select(F.col("id").alias("k"))
    b2 = spark.range(2000, 5000).select(F.col("id").alias("k"))

    incremental_kmv_ingest(spark, b1, "k", store, k=64)
    r2 = incremental_kmv_ingest(spark, b2, "k", store, k=64).collect()[0]
    batch = kmv_bottom_k(b1.union(b2), "k", k=64).collect()[0]
    assert r2["kth_min_hash"] == batch["kth_min_hash"]
    assert r2["est_distinct"] == batch["est_distinct"]

    # replay: re-folding an already-ingested batch leaves the store as-is
    state = sorted(r["h"] for r in spark.read.parquet(store).collect())
    r3 = incremental_kmv_ingest(spark, b2, "k", store, k=64).collect()[0]
    assert sorted(r["h"] for r in spark.read.parquet(store).collect()) == state
    assert r3["kth_min_hash"] == r2["kth_min_hash"]


def test_streaming_kmv_matches_sequential_batches(spark, tmp_path):
    import time as _time

    from etl_poc_spark.operators.deltastore import foreach_batch_writer
    from etl_poc_spark.operators.sketches import incremental_kmv_ingest

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    schema = "k long"
    b1 = spark.range(0, 300).select(F.col("id").alias("k"))
    b2 = spark.range(200, 600).select(F.col("id").alias("k"))
    b1.coalesce(1).write.mode("overwrite").parquet(str(in_dir / "f1"))
    _time.sleep(1.1)  # file-source batch order follows modification time
    b2.coalesce(1).write.mode("overwrite").parquet(str(in_dir / "f2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(in_dir / "*"))
    )
    store = str(tmp_path / "store")
    writer = foreach_batch_writer(
        stream, str(tmp_path / "ckpt"),
        lambda b, _: incremental_kmv_ingest(b.sparkSession, b, "k", store, k=32),
    )
    q = writer.trigger(availableNow=True).start()
    q.awaitTermination(180)

    ref_store = str(tmp_path / "ref_store")
    incremental_kmv_ingest(spark, b1, "k", ref_store, k=32)
    incremental_kmv_ingest(spark, b2, "k", ref_store, k=32)
    got = sorted(r["h"] for r in spark.read.parquet(store).collect())
    ref = sorted(r["h"] for r in spark.read.parquet(ref_store).collect())
    assert got == ref and len(got) == 32


@pytest.mark.slow
def test_near_dup_ingest_batch_id_replay_is_idempotent(spark, tmp_path):
    """A replayed batch_id-keyed near-dup ingest (the streaming seam) must
    recompute the SAME kept rows — the store read excludes the batch's own
    bands, so the replay doesn't self-hit and lose its output — and the
    store must hold one copy of the batch's bands, not two."""
    store = str(tmp_path / "band_store")
    b1 = spark.createDataFrame(
        [_doc(i, w) for i, w in enumerate(_BASE[:2])], "doc_id long, text string"
    )
    kept = incremental_near_dup_ingest(spark, b1, store, batch_id=0)
    ids1 = sorted(r["doc_id"] for r in kept.collect())
    assert ids1 == [0, 1]
    n_store = spark.read.parquet(store).count()

    # replay of the same micro-batch (at-least-once delivery)
    kept_replay = incremental_near_dup_ingest(spark, b1, store, batch_id=0)
    assert sorted(r["doc_id"] for r in kept_replay.collect()) == ids1
    assert spark.read.parquet(store).count() == n_store  # overwritten, not doubled

    # the NEXT batch still dedups against batch 0's bands
    near_of_0 = list(_BASE[0])
    near_of_0[-1] = "changed"
    b2 = spark.createDataFrame(
        [_doc(10, near_of_0), _doc(11, _BASE[2])], "doc_id long, text string"
    )
    kept2 = incremental_near_dup_ingest(spark, b2, store, batch_id=1)
    assert sorted(r["doc_id"] for r in kept2.collect()) == [11]


def test_float_cosine_zero_norm_guard(spark):
    """cosine_for_pairs(mode='float') on a zero vector: cos_sim is 0.0 by
    definition (no direction), never NaN/inf from the 0/0 division."""
    import math

    from etl_poc_spark.operators.similarity import cosine_for_pairs

    vecs = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 1)], "query_id long, neighbor_id long"
    )
    got = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in cosine_for_pairs(vecs, pairs, mode="float").collect()
    }
    assert got[(1, 2)] == 0.0 and got[(1, 1)] == 0.0
    assert got[(2, 3)] == 1.0
    assert all(not math.isnan(v) and not math.isinf(v) for v in got.values())


def test_incremental_bigram_lm_store_folds_bit_equal(spark, tmp_path):
    """LM count store: after ingesting batches (one tagged, replayed
    twice), the folded store equals train_bigram_lm over the union of
    everything ingested — and SCORING a probe frame through the store
    yields bit-identical doubles to scoring through the one-shot
    trainer (same counts -> same logs -> same fixed-order fold)."""
    from etl_poc_spark.operators.ngram_lm import (
        bigram_lm_handle_batch,
        incremental_bigram_lm_ingest,
        read_bigram_lm_store,
        score_bigram_logprob,
        train_bigram_lm,
    )

    store = str(tmp_path / "lm_store")
    b1 = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "a cat and a dog"), (4, "single")], "doc_id long, text string"
    )
    incremental_bigram_lm_ingest(spark, b1, store)
    # tagged batch replayed twice: the slot overwrite must not double-count
    bigram_lm_handle_batch(b2, 7, store_dir=store)
    bigram_lm_handle_batch(b2, 7, store_dir=store)

    union = b1.unionByName(b2)
    bi_w, uni_w, v_w = train_bigram_lm(union)
    bi_g, uni_g, v_g = read_bigram_lm_store(spark, store)
    assert sorted(map(tuple, bi_g.collect())) == sorted(map(tuple, bi_w.collect()))
    assert sorted(map(tuple, uni_g.collect())) == sorted(map(tuple, uni_w.collect()))
    assert v_g.collect()[0]["v"] == v_w.collect()[0]["v"]

    probe = spark.createDataFrame(
        [(9, "the cat sat"), (10, "unseen words entirely")],
        "doc_id long, text string",
    )
    want = sorted(map(tuple, score_bigram_logprob(probe, bi_w, uni_w, v_w).collect()))
    got = sorted(map(tuple, score_bigram_logprob(probe, bi_g, uni_g, v_g).collect()))
    assert got == want


@pytest.mark.slow
def test_streaming_perplexity_monitor_drift_and_replay(spark, tmp_path):
    """Drift monitor: batch 0 has no prior LM (n_scored=0); an
    in-distribution batch scores LOW mean_nll against the accumulated
    store while a gibberish batch scores HIGH (drift visible); replaying
    a batch (at-least-once delivery) leaves store and monitor exactly as
    single delivery; and the held-out `reference=` path scores docs
    against the reference LM, bit-identical to store-based scoring over
    the same corpus."""
    from etl_poc_spark.operators.ngram_lm import (
        perplexity_filter,
        perplexity_monitor_handle_batch,
        read_bigram_lm_store,
        score_bigram_logprob,
    )

    store = str(tmp_path / "lm")
    mon = str(tmp_path / "mon")
    base = [(i, "the cat sat on the mat and the dog sat too") for i in range(6)]
    indist = [(10 + i, "the cat sat on the mat again") for i in range(3)]
    gibberish = [(20 + i, f"zq{i} xv{i} qk{i} jw{i} vx{i} wj{i}") for i in range(3)]
    schema = "doc_id long, text string"

    def handle(rows, bid):
        perplexity_monitor_handle_batch(
            spark.createDataFrame(rows, schema), bid,
            store_dir=store, monitor_dir=mon,
        )

    handle(base, 0)
    handle(indist, 1)
    handle(gibberish, 2)
    handle(gibberish, 2)  # replay: must not double-count or re-append

    recs = {r["batch_id"]: r for r in spark.read.parquet(mon).collect()}
    assert set(recs) == {0, 1, 2}
    assert recs[0]["n_scored"] == 0 and recs[0]["mean_nll"] is None
    assert recs[1]["n_scored"] == 3 and recs[2]["n_scored"] == 3
    assert recs[2]["mean_nll"] > recs[1]["mean_nll"] * 1.5  # drift fires

    # replayed batch 2 did not fold twice: store == sequential 0,1,2
    ref = str(tmp_path / "ref_lm")
    for bid, rows in enumerate((base, indist, gibberish)):
        from etl_poc_spark.operators.ngram_lm import bigram_lm_handle_batch

        bigram_lm_handle_batch(
            spark.createDataFrame(rows, schema), bid, store_dir=ref
        )
    bi_a, uni_a, v_a = read_bigram_lm_store(spark, store)
    bi_b, uni_b, v_b = read_bigram_lm_store(spark, ref)
    assert sorted(map(tuple, bi_a.collect())) == sorted(map(tuple, bi_b.collect()))
    assert v_a.collect()[0]["v"] == v_b.collect()[0]["v"]

    # held-out reference path == explicit train/score composition
    refc = spark.createDataFrame(base, schema)
    probe = spark.createDataFrame(indist + gibberish, schema)
    from etl_poc_spark.operators.ngram_lm import train_bigram_lm

    got = sorted(
        map(tuple, perplexity_filter(probe, reference=refc).collect())
    )
    bi, uni, v = train_bigram_lm(refc)
    want = sorted(map(tuple, score_bigram_logprob(probe, bi, uni, v).collect()))
    assert got == want


@pytest.mark.slow
def test_perplexity_monitor_crash_recovery_converges(spark, tmp_path):
    """Crash-sim for the streaming LM store + drift monitor (the
    recovery contract in perplexity_monitor_handle_batch's docstring):
    whatever point the previous attempt died at — (a) after the monitor
    write but before the fold, (b) mid-fold with only the bigrams slot
    committed, (c) after the full fold but before the checkpoint commit
    — the replay converges store AND monitor to exactly the single-
    delivery state, bit-equal (mean_nll is a deterministic fold; counts
    are exact integers)."""
    import shutil

    from etl_poc_spark.operators.ngram_lm import (
        perplexity_monitor_handle_batch,
        read_bigram_lm_store,
    )

    schema = "doc_id long, text string"
    batches = [
        [(i, "the cat sat on the mat and the dog sat too") for i in range(6)],
        [(10 + i, "the cat sat on the mat again") for i in range(3)],
        [(20 + i, f"zq{i} xv{i} qk{i} jw{i} vx{i} wj{i}") for i in range(3)],
    ]

    def handle(root, rows, bid):
        perplexity_monitor_handle_batch(
            spark.createDataFrame(rows, schema), bid,
            store_dir=f"{root}/lm", monitor_dir=f"{root}/mon",
        )

    def monitor_state(root):
        return sorted(map(tuple, spark.read.parquet(f"{root}/mon").collect()))

    def store_state(root):
        bi, uni, v = read_bigram_lm_store(spark, f"{root}/lm")
        return (
            sorted(map(tuple, bi.collect())),
            sorted(map(tuple, uni.collect())),
            v.collect()[0]["v"],
        )

    clean = str(tmp_path / "clean")
    for bid, rows in enumerate(batches):
        handle(clean, rows, bid)
    want_mon, want_store = monitor_state(clean), store_state(clean)

    # (c) crash AFTER the fold, before checkpoint commit — the replay
    # must score against the pre-batch LM, not the batch's own counts
    c = str(tmp_path / "after_fold")
    for bid, rows in enumerate(batches):
        handle(c, rows, bid)
    handle(c, batches[2], 2)  # replay
    assert monitor_state(c) == want_mon
    assert store_state(c) == want_store

    # (a) crash after the monitor write, before the fold: monitor[2]
    # exists, store lacks tag=b2 entirely
    a = str(tmp_path / "pre_fold")
    for bid, rows in enumerate(batches):
        handle(a, rows, bid)
    shutil.rmtree(f"{a}/lm/bigrams/tag=b2")
    shutil.rmtree(f"{a}/lm/tokens/tag=b2")
    handle(a, batches[2], 2)  # replay
    assert monitor_state(a) == want_mon
    assert store_state(a) == want_store

    # (b) crash mid-fold: bigrams/tag=b2 committed, tokens/tag=b2 never
    # written — the tag-excluded read must still see a CONSISTENT
    # pre-batch LM (excluding the orphan slot), and the replay completes
    # the pair
    b = str(tmp_path / "mid_fold")
    for bid, rows in enumerate(batches):
        handle(b, rows, bid)
    shutil.rmtree(f"{b}/lm/tokens/tag=b2")
    handle(b, batches[2], 2)  # replay
    assert monitor_state(b) == want_mon
    assert store_state(b) == want_store
