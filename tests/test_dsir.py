"""DSIR importance-resampling tier: feature hashing, log-weight
semantics, the exact-integer affinity companion, and Gumbel top-k
resampling (operators/dsir.py)."""

from __future__ import annotations

import pytest

import math

from pyspark.sql import functions as F

from etl_poc_spark.operators.dsir import (
    dsir_log_weights,
    dsir_resample,
    dsir_target_affinity,
    hashed_feature_counts,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_hashed_features_count_unigrams_and_bigrams(spark):
    d = _docs(spark, [(1, "a b a"), (2, "solo"), (3, "")])
    fc = hashed_feature_counts(d, n_buckets=64)
    per_doc = {
        r["doc_id"]: r["n"]
        for r in fc.groupBy("doc_id").agg(F.sum("cnt").alias("n")).collect()
    }
    # doc 1: 3 unigrams + 2 bigrams; doc 2: 1 unigram, no bigram;
    # doc 3: trim('')→split→[''] = 1 empty-string unigram (the engine-wide
    # tokenizer contract, same as vocab_q)
    assert per_doc == {1: 5, 2: 1, 3: 1}


def test_log_weights_match_hand_computed_model(spark):
    # Two one-word docs, B buckets, target = doc 1 only.  Whatever bucket
    # each word hashes to, the add-1 model is fully determined by counts.
    d = _docs(spark, [(1, "alpha"), (2, "beta")])
    tgt = d.where(F.col("doc_id") == 1)
    B = 16
    w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(d, tgt, n_buckets=B).collect()
    }
    # raw: c(alpha)=1, c(beta)=1, total=2; target: c(alpha)=1, total=1.
    p_t_alpha = (1 + 1) / (1 + B)
    p_r_alpha = (1 + 1) / (2 + B)
    p_t_beta = (0 + 1) / (1 + B)
    p_r_beta = (1 + 1) / (2 + B)
    assert math.isclose(w[1], math.log(p_t_alpha / p_r_alpha), rel_tol=1e-12)
    assert math.isclose(w[2], math.log(p_t_beta / p_r_beta), rel_tol=1e-12)


def test_target_docs_score_higher_than_offtarget(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_log_weights(docs, docs.where(F.col("lang") == "en"))
    j = w.join(docs.select("doc_id", "lang"), "doc_id")
    means = {
        r["is_en"]: r["m"]
        for r in j.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("log_weight").alias("m"))
        .collect()
    }
    assert means[True] > means[False] + 0.5  # clear separation, not noise


def test_affinity_agrees_with_log_weight_direction(spark, sf_dir):
    # The exact-integer affinity and the float log-weight are different
    # statistics of the same two models — they must correlate in rank:
    # the mean affinity of positive-weight docs beats the rest.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tgt = docs.where(F.col("lang") == "en")
    w = dsir_log_weights(docs, tgt)
    a = dsir_target_affinity(docs, tgt)
    j = w.join(a, "doc_id")
    means = {
        r["pos"]: r["m"]
        for r in j.groupBy((F.col("log_weight") > 0).alias("pos"))
        .agg(F.avg("affinity").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_gumbel_sample_deterministic_and_weight_shifted(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_log_weights(docs, docs.where(F.col("lang") == "en")).cache()
    k = 40
    s1 = {r["doc_id"] for r in dsir_resample(w, k).collect()}
    s2 = {r["doc_id"] for r in dsir_resample(w, k).collect()}
    assert s1 == s2 and len(s1) == k  # pure function of (corpus, seed)
    other = {r["doc_id"] for r in dsir_resample(w, k, seed="other").collect()}
    assert other != s1  # seed actually enters the draw
    # resampling must shift mass toward the target: sampled docs' mean
    # weight beats the corpus mean
    mean_all = w.agg(F.avg("log_weight")).first()[0]
    mean_s = (
        w.where(F.col("doc_id").isin(list(s1))).agg(F.avg("log_weight")).first()[0]
    )
    assert mean_s > mean_all
    w.unpersist()


def test_gumbel_key_never_null_over_full_corpus(spark, sf_dir):
    # The uniform draw uses 13 hex digits (52 bits, EXACT in a double) /
    # (2^52 + 2): u stays strictly inside (0,1) after the float cast, so
    # -ln(-ln u) is always finite.  A 60-bit draw could round to exactly
    # 1.0 and NULL the key, silently dropping that doc from the sample.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_log_weights(docs, docs.where(F.col("lang") == "en"))
    n = w.count()
    picked = dsir_resample(w, n)
    assert picked.where(
        F.col("gumbel_key").isNull() | F.isnan("gumbel_key")
    ).count() == 0
    assert picked.count() == n


def test_resample_is_topk_not_global_sort(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_log_weights(docs, docs.where(F.col("lang") == "en"))
    plan = dsir_resample(w, 10)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_incremental_dsir_store_folds_bit_equal(spark, tmp_path):
    """DSIR model store (the ngram_lm delta-log discipline): after
    ingesting the raw corpus in batches (one tagged, replayed twice) and
    the target corpus, scoring through the store yields BIT-IDENTICAL
    doubles to the one-shot dsir_log_weights over the unions — exact
    integer counts regardless of batch slicing, then the same
    bucket-sorted fold."""
    from etl_poc_spark.operators.dsir import (
        dsir_handle_batch,
        incremental_dsir_ingest,
        score_dsir_store,
    )

    store = str(tmp_path / "dsir_store")
    b1 = _docs(spark, [(1, "the cat sat on the mat"), (2, "le chat noir")])
    b2 = _docs(spark, [(3, "the dog sat on the rug"), (4, "der hund lief")])
    tgt = _docs(spark, [(1, "the cat sat on the mat"), (3, "the dog sat on the rug")])

    B = 64
    incremental_dsir_ingest(spark, b1, store, role="raw", n_buckets=B, batch_tag="b0")
    # tagged batch replayed twice: the slot overwrite must not double-count
    dsir_handle_batch(b2, 7, store_dir=store, role="raw", n_buckets=B)
    dsir_handle_batch(b2, 7, store_dir=store, role="raw", n_buckets=B)
    incremental_dsir_ingest(
        spark, tgt, store, role="target", n_buckets=B, batch_tag="reference"
    )

    union = b1.unionByName(b2)
    want = sorted(map(tuple, dsir_log_weights(union, tgt, n_buckets=B).collect()))
    got = sorted(
        map(tuple, score_dsir_store(spark, union, store, n_buckets=B).collect())
    )
    assert got == want  # bit-identical doubles, not approx

    # the store's raison d'etre: score NEW docs, including unseen
    # features — every doc scores finitely (add-1 smoothing), nothing
    # silently drops from the inner model join
    probe = _docs(
        spark,
        [(8, "totally unseen words here"), (9, "le chat noir"), (10, "the cat sat")],
    )
    rows = {
        r["doc_id"]: r["log_weight"]
        for r in score_dsir_store(spark, probe, store, n_buckets=B).collect()
    }
    assert set(rows) == {8, 9, 10}
    assert all(v is not None and math.isfinite(v) for v in rows.values())
    # target-corpus features outscore raw-only features
    assert rows[10] > rows[9]


def test_dsir_store_exclude_tag_restores_pre_batch_view(spark, tmp_path):
    """The replay seam: exclude_tag drops exactly one batch's slot, so a
    replayed batch can score against the store as it stood before its
    own crashed attempt folded in."""
    from etl_poc_spark.operators.dsir import (
        incremental_dsir_ingest,
        read_dsir_store,
    )

    store = str(tmp_path / "s")
    B = 32
    b1 = _docs(spark, [(1, "alpha beta gamma")])
    b2 = _docs(spark, [(2, "delta epsilon zeta")])
    incremental_dsir_ingest(spark, b1, store, role="raw", n_buckets=B, batch_tag="a")
    after_b1 = sorted(map(tuple, read_dsir_store(spark, store, "raw").collect()))
    incremental_dsir_ingest(spark, b2, store, role="raw", n_buckets=B, batch_tag="b")
    rolled_back = sorted(
        map(tuple, read_dsir_store(spark, store, "raw", exclude_tag="b").collect())
    )
    assert rolled_back == after_b1
    full = sorted(map(tuple, read_dsir_store(spark, store, "raw").collect()))
    assert full != after_b1


def test_dsir_ingest_rejects_unknown_role(spark, tmp_path):
    """A role outside the store's logs would write a log read_dsir_store
    never folds: the ingest raises before writing anything."""
    from etl_poc_spark.operators.dsir import dsir_handle_batch

    store = tmp_path / "store"
    with pytest.raises(ValueError, match="trget"):
        dsir_handle_batch(
            _docs(spark, [(1, "the cat sat")]), 0, store_dir=str(store), role="trget"
        )
    assert not store.exists()


def test_streaming_dsir_ingest_matches_sequential(spark, tmp_path):
    """Structured-Streaming twin: availableNow micro-batches over a
    landing dir fold to the SAME model as sequential incremental
    ingests of the same rows."""
    from etl_poc_spark.operators.deltastore import foreach_batch_writer
    from etl_poc_spark.operators.dsir import (
        dsir_handle_batch,
        incremental_dsir_ingest,
        read_dsir_store,
    )

    land = tmp_path / "land"
    docs = _docs(
        spark,
        [(i, f"doc number {i} says the cat sat {i % 3} times") for i in range(12)],
    )
    docs.repartition(3).write.mode("overwrite").parquet(str(land))

    B = 64
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(land))
    )
    q = (
        foreach_batch_writer(
            stream, str(tmp_path / "ck"), dsir_handle_batch,
            store_dir=str(tmp_path / "stream_store"), role="raw", n_buckets=B,
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    seq_store = str(tmp_path / "seq_store")
    incremental_dsir_ingest(
        spark, spark.read.parquet(str(land)), seq_store, role="raw", n_buckets=B,
        batch_tag="b0",
    )
    got = sorted(
        map(tuple, read_dsir_store(spark, str(tmp_path / "stream_store"), "raw").collect())
    )
    want = sorted(map(tuple, read_dsir_store(spark, seq_store, "raw").collect()))
    assert got == want


def test_dsir_monitor_scores_prebatch_and_replay_converges(spark, tmp_path):
    """The drift monitor scores each batch against the PRE-batch raw
    model then folds it in; replaying a batch (at-least-once delivery)
    leaves store AND monitor exactly as single delivery — the store read
    excludes the batch's own tag slot."""
    from etl_poc_spark.operators.dsir import (
        dsir_monitor_handle_batch,
        incremental_dsir_ingest,
        read_dsir_store,
    )

    store = str(tmp_path / "store")
    mon = str(tmp_path / "mon")
    B = 64
    tgt = _docs(spark, [(100, "the cat sat on the mat"), (101, "the dog sat")])
    incremental_dsir_ingest(
        spark, tgt, store, role="target", n_buckets=B, batch_tag="reference"
    )

    b0 = _docs(spark, [(1, "the cat sat"), (2, "le chat noir")])
    b1 = _docs(spark, [(3, "the dog sat on the rug"), (4, "der hund lief")])
    kw = dict(store_dir=store, monitor_dir=mon, n_buckets=B)
    dsir_monitor_handle_batch(b0, 0, **kw)
    dsir_monitor_handle_batch(b1, 1, **kw)

    recs = {r["batch_id"]: r for r in spark.read.parquet(mon).collect()}
    assert recs[0]["n_scored"] == 0          # nothing before batch 0
    assert recs[1]["n_scored"] == 2
    assert recs[1]["mean_log_weight"] is not None
    store_after = sorted(map(tuple, read_dsir_store(spark, store, "raw").collect()))

    # replay batch 1: monitor record and store must be unchanged
    dsir_monitor_handle_batch(b1, 1, **kw)
    recs2 = {r["batch_id"]: r for r in spark.read.parquet(mon).collect()}
    assert recs2[1]["mean_log_weight"] == recs[1]["mean_log_weight"]
    assert recs2[1]["n_scored"] == 2
    assert (
        sorted(map(tuple, read_dsir_store(spark, store, "raw").collect()))
        == store_after
    )
    # target model never folds: still exactly the reference histogram
    tgt_h = sorted(map(tuple, read_dsir_store(spark, store, "target").collect()))
    store2 = str(tmp_path / "fresh")
    incremental_dsir_ingest(
        spark, tgt, store2, role="target", n_buckets=B, batch_tag="reference"
    )
    assert tgt_h == sorted(map(tuple, read_dsir_store(spark, store2, "target").collect()))
