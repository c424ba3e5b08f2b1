"""Incremental stores: the bigram-LM count store and its perplexity
monitor, plus the float-cosine zero-norm guard."""

from __future__ import annotations


def test_float_cosine_zero_norm_guard(spark):
    """semdedup's float verify kernel on a cluster holding a zero vector:
    its cos_sim is 0.0 by definition (no direction), never NaN/inf from
    the 0/0 division, so it is never flagged as a duplicate."""
    import math

    from etl_poc_spark.operators.similarity import _cluster_dup_pairs_float

    members = spark.createDataFrame(
        [(0, 1, [0.0, 0.0]), (0, 2, [1.0, 0.0]), (0, 3, [1.0, 0.0])],
        "cluster int, vec_id long, embedding array<double>",
    )
    got = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in _cluster_dup_pairs_float(members, 0.0, "vec_id", "embedding").collect()
    }
    assert got == {(1, 2): 0.0, (1, 3): 0.0, (2, 3): 1.0}
    assert all(not math.isnan(v) and not math.isinf(v) for v in got.values())
    flagged = _cluster_dup_pairs_float(members, 0.99, "vec_id", "embedding").collect()
    assert [(r.query_id, r.neighbor_id) for r in flagged] == [(2, 3)]


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
    incremental_bigram_lm_ingest(spark, b1, store, batch_tag="b0")
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
