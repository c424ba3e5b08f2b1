"""Persisted ANN index + incremental postings store (operators/annstore.py):
scoring through the store must be bit-equal to the one-shot IVF path with
the same frozen centroids; replay must be idempotent; retrains supersede
with time travel."""

from __future__ import annotations

import pytest

from etl_poc_spark.operators.annstore import (
    ann_store_topk,
    build_ann_index,
    incremental_ann_ingest,
    read_ann_index,
    read_ann_index_meta,
    read_ann_store,
)


def _vec(i: int, dim: int = 8) -> list[float]:
    return [float(((i * 31 + j * 7) % 13) - 6 or 1) for j in range(dim)]


def _vecs(spark, ids):
    return spark.createDataFrame(
        [(i, _vec(i)) for i in ids], "vec_id long, embedding array<double>"
    )


@pytest.mark.slow
def test_store_topk_bit_equal_to_one_shot_ivf(spark, tmp_path):
    from etl_poc_spark.operators.similarity import kmeans_ivf_topk

    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    batches = [list(range(0, 20)), list(range(20, 40)), list(range(40, 60))]
    all_vecs = _vecs(spark, [i for b in batches for i in b])
    rep = build_ann_index(spark, all_vecs, idx, n_centroids=4, n_iters=2)
    assert rep == {"model_seq": 1, "n_centroids": 4, "dim": 8}
    for n, b in enumerate(batches):
        incremental_ann_ingest(
            spark, _vecs(spark, b), idx, store, batch_tag=f"b{n}"
        )
    queries = _vecs(spark, [100, 101, 102])
    got = ann_store_topk(spark, queries, idx, store, k=3, nprobe=2)
    want = kmeans_ivf_topk(
        queries, all_vecs, k=3, nprobe=2, centroids=read_ann_index(spark, idx)
    )
    cols = ("query_id", "neighbor_id", "rank", "cos_sim")
    as_rows = lambda df: sorted(tuple(r[c] for c in cols) for r in df.collect())  # noqa: E731
    assert as_rows(got) == as_rows(want)


@pytest.mark.slow
def test_replay_overwrites_own_slot(spark, tmp_path):
    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    base = _vecs(spark, range(12))
    build_ann_index(spark, base, idx, n_centroids=3, n_iters=1)
    b0 = _vecs(spark, range(6))
    incremental_ann_ingest(spark, b0, idx, store, batch_tag="b0")
    before = sorted(
        (r["cluster"], r["vec_id"]) for r in read_ann_store(spark, store).collect()
    )
    incremental_ann_ingest(spark, b0, idx, store, batch_tag="b0")  # replay
    after = sorted(
        (r["cluster"], r["vec_id"]) for r in read_ann_store(spark, store).collect()
    )
    assert after == before and len(after) == 6


def test_retrain_supersedes_with_time_travel(spark, tmp_path):
    idx = str(tmp_path / "idx")
    base = _vecs(spark, range(16))
    build_ann_index(spark, base, idx, n_centroids=3, n_iters=1)
    m1 = read_ann_index(spark, idx)
    # retrain on a shifted corpus (same k): different init vectors move
    # the centroids deterministically
    rep2 = build_ann_index(
        spark, _vecs(spark, range(8, 24)), idx, n_centroids=3, n_iters=1
    )
    assert rep2["model_seq"] == 2
    assert read_ann_index_meta(spark, idx) == {"model_seq": 2, "n_centroids": 3}
    m2 = read_ann_index(spark, idx)
    assert m2 != m1
    assert read_ann_index(spark, idx, as_of=1) == m1  # time travel


@pytest.mark.slow
def test_shrinking_retrain_drops_stale_clusters(spark, tmp_path):
    """A retrain with FEWER centroids must not serve a mixed model: the
    old model's higher cluster keys are never overwritten by the upsert
    (they stay latest-by-key), but they are NOT part of the current
    model — read/meta/ingest must see exactly the max-model_seq rows."""
    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    build_ann_index(spark, _vecs(spark, range(16)), idx, n_centroids=4, n_iters=1)
    rep = build_ann_index(
        spark, _vecs(spark, range(8, 24)), idx, n_centroids=2, n_iters=1
    )
    assert rep == {"model_seq": 2, "n_centroids": 2, "dim": 8}
    m2 = read_ann_index(spark, idx)
    assert len(m2) == 2
    assert read_ann_index_meta(spark, idx) == {"model_seq": 2, "n_centroids": 2}
    assert len(read_ann_index(spark, idx, as_of=1)) == 4  # time travel intact
    # ingest assigns with the 2-centroid model only: every cluster < 2
    incremental_ann_ingest(spark, _vecs(spark, range(6)), idx, store, batch_tag="b0")
    rows = read_ann_store(spark, store).collect()
    assert {r["model_seq"] for r in rows} == {2}
    assert all(r["cluster"] in (0, 1) for r in rows)


def test_ingest_without_index_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no finalized commits|no ANN index"):
        incremental_ann_ingest(
            spark, _vecs(spark, range(3)), str(tmp_path / "idx"),
            str(tmp_path / "store"), batch_tag="b0",
        )


def test_postings_carry_model_seq_for_reindex(spark, tmp_path):
    """Each posting is stamped with the model that assigned it, so a
    retrain can re-assign only stale postings instead of the corpus."""
    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    base = _vecs(spark, range(12))
    build_ann_index(spark, base, idx, n_centroids=3, n_iters=1)
    incremental_ann_ingest(spark, _vecs(spark, range(6)), idx, store, batch_tag="b0")
    build_ann_index(spark, base, idx, n_centroids=3, n_iters=2)
    incremental_ann_ingest(
        spark, _vecs(spark, range(6, 12)), idx, store, batch_tag="b1"
    )
    seqs = {
        r["vec_id"]: r["model_seq"]
        for r in read_ann_store(spark, store).collect()
    }
    assert all(seqs[i] == 1 for i in range(6))
    assert all(seqs[i] == 2 for i in range(6, 12))


@pytest.mark.slow
def test_reindex_reassigns_only_stale_slots(spark, tmp_path):
    """The model_seq stamps pay off: after a retrain, reindex rewrites
    exactly the slots holding old-model rows with the CURRENT centroids
    (current slots untouched), and the store then serves the one-shot
    IVF answer of the new model over everything ever ingested."""
    from etl_poc_spark.operators.annstore import reindex_ann_store
    from etl_poc_spark.operators.similarity import kmeans_ivf_topk

    idx, store = str(tmp_path / "idx"), str(tmp_path / "store")
    build_ann_index(spark, _vecs(spark, range(20)), idx, n_centroids=3, n_iters=1)
    incremental_ann_ingest(spark, _vecs(spark, range(10)), idx, store, batch_tag="b0")
    incremental_ann_ingest(spark, _vecs(spark, range(10, 20)), idx, store, batch_tag="b1")
    build_ann_index(
        spark, _vecs(spark, range(5, 25)), idx, n_centroids=3, n_iters=2
    )
    incremental_ann_ingest(spark, _vecs(spark, range(20, 30)), idx, store, batch_tag="b2")

    rep = reindex_ann_store(spark, idx, store)
    assert rep == {"model_seq": 2, "slots_reindexed": 2, "rows_reindexed": 20}
    rows = read_ann_store(spark, store).collect()
    assert {r["model_seq"] for r in rows} == {2}
    assert {r["slot"] for r in rows} == {"tag=b0", "tag=b1", "tag=b2"}

    queries = _vecs(spark, [300, 301])
    got = ann_store_topk(spark, queries, idx, store, k=3, nprobe=2)
    want = kmeans_ivf_topk(
        queries, _vecs(spark, range(30)), k=3, nprobe=2,
        centroids=read_ann_index(spark, idx),
    )
    cols = ("query_id", "neighbor_id", "rank", "cos_sim")
    as_rows = lambda df: sorted(tuple(r[c] for c in cols) for r in df.collect())  # noqa: E731
    assert as_rows(got) == as_rows(want)

    # idempotent: nothing stale remains
    assert reindex_ann_store(spark, idx, store)["slots_reindexed"] == 0


def test_reindex_refuses_unaddressable_stale_rows(spark, tmp_path):
    """Loose-appended stale rows (no slot to rewrite) and stale slots
    already folded by compaction both raise instead of reindexing
    partially."""
    from etl_poc_spark.operators.annstore import ANN_POSTINGS, reindex_ann_store

    idx = str(tmp_path / "idx")
    build_ann_index(spark, _vecs(spark, range(12)), idx, n_centroids=3, n_iters=1)

    loose = str(tmp_path / "loose")
    incremental_ann_ingest(spark, _vecs(spark, range(6)), idx, loose)  # no tag
    build_ann_index(spark, _vecs(spark, range(3, 15)), idx, n_centroids=3, n_iters=2)
    with pytest.raises(ValueError, match="LOOSE-appended"):
        reindex_ann_store(spark, idx, loose)

    store = str(tmp_path / "store")
    incremental_ann_ingest(spark, _vecs(spark, range(6)), idx, store, batch_tag="b0")
    incremental_ann_ingest(spark, _vecs(spark, range(6, 12)), idx, store, batch_tag="b1")
    ANN_POSTINGS.compact(spark, store)  # folds b0
    build_ann_index(spark, _vecs(spark, range(5, 17)), idx, n_centroids=3, n_iters=1)
    with pytest.raises(ValueError, match="folded by compaction"):
        reindex_ann_store(spark, idx, store)


@pytest.mark.slow
def test_streaming_ann_ingest_and_replay(spark, tmp_path):
    """Streaming twin: micro-batches assign against the persisted index
    and slot their postings by batch id; after the run, ann_store_topk
    equals the one-shot IVF over everything streamed; a direct
    handle_batch replay (foreachBatch is at-least-once) leaves the store
    byte-identical."""
    from etl_poc_spark.operators.annstore import ann_handle_batch
    from etl_poc_spark.operators.deltastore import foreach_batch_writer
    from etl_poc_spark.operators.similarity import kmeans_ivf_topk

    idx = str(tmp_path / "idx")
    all_vecs = _vecs(spark, range(40))
    build_ann_index(spark, all_vecs, idx, n_centroids=4, n_iters=1)

    in_dir, store, ck = (
        str(tmp_path / "in"), str(tmp_path / "store"), str(tmp_path / "ck")
    )
    all_vecs.repartition(3).write.mode("overwrite").parquet(in_dir)
    stream = (
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        foreach_batch_writer(
            stream, ck, ann_handle_batch, index_dir=idx, store_dir=store
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    queries = _vecs(spark, [200, 201])
    got = ann_store_topk(spark, queries, idx, store, k=3, nprobe=2)
    want = kmeans_ivf_topk(
        queries, all_vecs, k=3, nprobe=2, centroids=read_ann_index(spark, idx)
    )
    cols = ("query_id", "neighbor_id", "rank", "cos_sim")
    as_rows = lambda df: sorted(tuple(r[c] for c in cols) for r in df.collect())  # noqa: E731
    assert as_rows(got) == as_rows(want)

    # at-least-once replay: ingesting a NEW batch id twice via the
    # module-level handler leaves exactly one slot's worth of postings
    before = sorted(
        (r["cluster"], r["vec_id"]) for r in read_ann_store(spark, store).collect()
    )
    late = _vecs(spark, range(500, 510))
    ann_handle_batch(late, 99, index_dir=idx, store_dir=store)
    ann_handle_batch(late, 99, index_dir=idx, store_dir=store)  # replay
    after = sorted(
        (r["cluster"], r["vec_id"]) for r in read_ann_store(spark, store).collect()
    )
    assert len(after) == len(before) + 10
    assert {v for _, v in after} - {v for _, v in before} == set(range(500, 510))
