"""Persisted ANN index + incremental vector ingest.

The similarity tier (operators/similarity.py) trains its coarse
quantizers in-plan: every kmeans_ivf_topk / semdedup run recomputes
centroids from the corpus. The production 100 TB shape is different —
train ONCE, persist the index, assign new vectors incrementally as they
arrive, and serve probes from the persisted postings. This module
composes the two disciplines the repo already has:

- the INDEX MODEL (centroid matrix, a few KB) persists through the
  versioned-table protocol (operators/upsert.py): atomic publish,
  retrains supersede via latest_by_key, old models stay readable with
  time travel (`as_of`) until vacuumed — so "which index scored this
  batch" is answerable forever;
- the POSTINGS (cluster, vec_id, embedding) accumulate in the
  tag-slotted delta-log store discipline (operators/deltastore.py /
  the read_bigram_lm_store pattern): one slot per ingested batch,
  overwrite-by-tag replay idempotency, reads fold nothing (postings are
  a set — each vector appears once, keyed by its id).

Scoring through the store is BIT-EQUAL to the one-shot path: ingest
assigns with the same `_assign_centroid` kernel and frozen centroids
that kmeans_ivf_topk(centroids=...) applies inline, so probe results
match row-for-row (pinned by tests/test_annstore.py).

Scale shape: ingest is one narrow Arrow-batched matmul per batch (the
centroid matrix ships as a closure; vectors never shuffle) plus one slot
write partitioned by cluster; probes read only the probed clusters'
postings. The reference system has no vector tier at all — this extends
its query surface to the embedding columns of the training-data brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.operators.deltastore import (
    DeltaStoreSpec,
    foreach_batch_writer,
    load_compaction_manifest,
    read_delta_store,
    tag_slot,
)
from etl_poc_spark.operators.similarity import (
    _assign_centroid,
    _pair_cosine,
    _provably_small,
    _rank_topk,
    train_kmeans_centroids,
    train_kmeans_centroids_minibatch,
)
from etl_poc_spark.operators.upsert import read_versioned, upsert_versioned

_MODEL_PART = "centroids"

# (cluster, id, vector, model_seq, slot) postings: a set, one row per vector
ANN_POSTINGS = DeltaStoreSpec()


def build_ann_index(
    spark: SparkSession,
    base: DataFrame,
    index_dir: str,
    *,
    n_centroids: int = 16,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trainer: str = "full",
    sample_rows: int = 32768,
    max_train_rows: int | None = None,
) -> dict:
    """Train the coarse quantizer over `base` and persist it as a
    versioned table at `index_dir` — one row per (cluster, centroid),
    with a monotonically increasing `model_seq` so a RETRAIN supersedes
    the previous model atomically (latest_by_key on the same cluster
    keys) while time travel keeps every older model readable.

    trainer='full' is the exact Lloyd trainer; 'minibatch' the
    bounded-cost Sculley form for corpus-scale retrains. Returns
    {"model_seq", "n_centroids", "dim"}."""
    if trainer == "full":
        cents = train_kmeans_centroids(
            base, n_centroids, n_iters, id_col, vec_col,
            max_train_rows=max_train_rows,
        )
    elif trainer == "minibatch":
        cents = train_kmeans_centroids_minibatch(
            base, n_centroids, n_iters, sample_rows, id_col, vec_col
        )
    else:
        raise ValueError(f"trainer must be 'full' or 'minibatch', got {trainer!r}")
    try:
        prev = read_ann_index_meta(spark, index_dir)["model_seq"]
    except ValueError:
        prev = 0
    seq = prev + 1
    rows = [
        (_MODEL_PART, int(c), [float(x) for x in vec], seq)
        for c, vec in enumerate(cents)
    ]
    df = spark.createDataFrame(
        rows, "part string, cluster int, centroid array<double>, model_seq int"
    )
    upsert_versioned(
        spark, df, index_dir,
        key_cols=["cluster"], seq_col="model_seq", partition_col="part",
    )
    return {"model_seq": seq, "n_centroids": len(cents), "dim": len(cents[0])}


def _current_model(
    spark: SparkSession, index_dir: str, as_of: int | None = None
) -> tuple[list[list[float]], int]:
    """One consistent snapshot of the CURRENT model: (centroid matrix
    cluster-ordered, model_seq). The model is the max-model_seq row set —
    latest_by_key alone is not enough, because a retrain with FEWER
    centroids never touches the higher cluster keys, so their old-model
    rows stay 'latest' for their key; serving them would mix two models'
    centroids into one matrix. Single collect, so a concurrent retrain
    can never straddle the centroids/seq pair."""
    rows = (
        read_versioned(spark, index_dir, as_of=as_of)
        .select("cluster", "centroid", "model_seq")
        .collect()
    )
    if not rows:
        raise ValueError(f"no ANN index at {index_dir!r}")
    seq = max(r["model_seq"] for r in rows)
    current = sorted(
        (r for r in rows if r["model_seq"] == seq), key=lambda r: r["cluster"]
    )
    return [list(map(float, r["centroid"])) for r in current], int(seq)


def read_ann_index(
    spark: SparkSession, index_dir: str, as_of: int | None = None
) -> list[list[float]]:
    """The persisted centroid matrix, cluster-ordered — the exact object
    kmeans_ivf_topk(centroids=...) consumes. `as_of` time-travels to an
    older model (upsert.read_versioned semantics). Only the max-model_seq
    rows ARE the model (a shrinking retrain leaves stale higher-cluster
    rows latest-by-key; they are not part of the current model)."""
    return _current_model(spark, index_dir, as_of)[0]


def read_ann_index_meta(spark: SparkSession, index_dir: str) -> dict:
    """{"model_seq", "n_centroids"} of the CURRENT model (max-model_seq
    row set — see read_ann_index on shrinking retrains)."""
    cents, seq = _current_model(spark, index_dir)
    return {"model_seq": seq, "n_centroids": len(cents)}


def incremental_ann_ingest(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    store_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_tag: str | None = None,
) -> DataFrame:
    """Assign `batch`'s vectors to the PERSISTED index (nprobe=1 — the
    same base-side assignment kmeans_ivf_topk applies inline) and append
    the postings slot (cluster, id, vector, model_seq) to the tag-slotted
    store. A stable `batch_tag` makes an at-least-once replay overwrite
    its own slot (the incremental_exact_dedup_ingest contract; single
    writer per tag, concurrent distinct tags safe).

    `model_seq` is stamped per row so a later retrain can re-assign ONLY
    the postings of older models (reindex_ann_store) instead of the whole
    corpus; `slot` records the row's own slot directory name so the
    reindex can rewrite exactly the slots that hold stale rows (NULL for
    loose appends, which reindex refuses — it cannot rewrite rows it
    cannot address). Returns the written postings frame."""
    cents, seq = _current_model(spark, index_dir)
    assigned = _assign_centroid(batch, cents, id_col, vec_col, nprobe=1)
    slot = tag_slot(batch_tag)
    postings = (
        batch.select(id_col, vec_col)
        .join(assigned, id_col)
        .select(
            "cluster", id_col, vec_col, F.lit(seq).alias("model_seq"),
            F.lit(slot).cast("string").alias("slot"),
        )
    )
    ANN_POSTINGS.append(postings, store_dir, slot)
    return postings


def reindex_ann_store(
    spark: SparkSession,
    index_dir: str,
    store_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """The maintenance job the per-row `model_seq` stamps exist for:
    after a retrain, re-assign ONLY the postings of older models with
    the CURRENT persisted centroids, slot by slot — each affected slot
    is rewritten in place under the store's own overwrite-by-tag
    discipline (single maintainer, same atomicity class as a replay
    overwrite), slots that are already current are never touched, and
    the re-written rows keep their slot name so a later replay or
    reindex still addresses them.

    Refuses (loudly, never silently partial): a store with loose
    appended rows (slot IS NULL — unaddressable for rewrite), and stale
    rows whose slot was already FOLDED by compaction (the consolidated
    dir is not a slot; reindex before compacting, or rebuild). After a
    full reindex, ann_store_topk serves exactly the current model's
    assignment for every vector ever ingested (pytest-pinned against
    the one-shot IVF). Returns {"model_seq", "slots_reindexed",
    "rows_reindexed"}."""
    cents, seq = _current_model(spark, index_dir)
    store = read_ann_store(spark, store_dir)
    if "slot" not in store.columns:
        raise ValueError(
            f"store {store_dir!r} predates slot-stamped postings; "
            "rebuild it by re-ingesting before using reindex_ann_store"
        )
    # materialize EVERY stale row before any slot overwrite: each write
    # invalidates the store read's file listing for later iterations
    stale = (
        store.where(F.col("model_seq") < F.lit(seq))
        .select("slot", id_col, vec_col)
        .localCheckpoint(eager=True)
    )
    stale_slots = [
        r["slot"] for r in stale.select("slot").distinct().collect()
    ]
    if None in stale_slots:
        raise ValueError(
            f"store {store_dir!r} holds stale LOOSE-appended postings "
            "(slot IS NULL) that in-place reindex cannot rewrite; "
            "re-ingest them under a batch_tag instead"
        )
    man = load_compaction_manifest(spark, store_dir)
    folded = set(man["folded"]) if man else set()
    folded_stale = sorted(set(stale_slots) & folded)
    if folded_stale:
        raise ValueError(
            f"stale slots {folded_stale[:3]} of store {store_dir!r} were "
            "folded by compaction and cannot be rewritten in place; "
            "reindex before compacting, or rebuild the store"
        )
    n_rows = 0
    for slot in sorted(stale_slots):
        rows = stale.where(F.col("slot") == slot).select(id_col, vec_col)
        assigned = _assign_centroid(rows, cents, id_col, vec_col, nprobe=1)
        out = (
            rows.join(assigned, id_col)
            .select(
                "cluster", id_col, vec_col,
                F.lit(seq).alias("model_seq"),
                F.lit(slot).alias("slot"),
            )
        )
        ANN_POSTINGS.append(out, store_dir, slot)
        n_rows += rows.count()
    return {
        "model_seq": seq,
        "slots_reindexed": len(stale_slots),
        "rows_reindexed": n_rows,
    }


def ann_handle_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    index_dir: str,
    store_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """One micro-batch of streaming_ann_ingest, module-level so the
    replay contract is directly testable: calling this twice with the
    same batch_id overwrites the same postings slot (exactly-once store
    state under foreachBatch's at-least-once delivery)."""
    incremental_ann_ingest(
        batch_df.sparkSession, batch_df, index_dir, store_dir,
        id_col=id_col, vec_col=vec_col, batch_tag=f"batch-{batch_id}",
    )


def streaming_ann_ingest(
    stream: DataFrame,
    index_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Continuous vector ingest against the persisted index: each
    micro-batch assigns its vectors with the current persisted centroids
    and writes its own postings slot (batch id = tag — replay overwrites,
    never duplicates; the streaming_exact_dedup_ingest contract). Returns
    a configured DataStreamWriter — call .trigger(...).start(); serve
    probes any time with ann_store_topk, which reads index + postings
    live."""
    return foreach_batch_writer(
        stream, checkpoint_dir, ann_handle_batch, index_dir=index_dir,
        store_dir=store_dir, id_col=id_col, vec_col=vec_col,
    )


def read_ann_store(
    spark: SparkSession, store_dir: str, *, exclude_tag: str | None = None
) -> DataFrame:
    """The accumulated postings (cluster, id, vector, model_seq) — a SET,
    so no fold: each vector appears once under the single-writer-per-tag
    contract. Compaction-manifest aware via read_delta_store."""
    return read_delta_store(spark, store_dir, exclude_slot=tag_slot(exclude_tag))


def ann_store_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    store_dir: str,
    *,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k served from the PERSISTED index + postings store —
    bit-equal to kmeans_ivf_topk(queries, <all ingested vectors>,
    centroids=read_ann_index(...)) because ingest already assigned every
    posting with the same kernel and frozen centroids (equivalence is
    pytest-pinned). Queries probe their nprobe nearest centroids; only
    the probed clusters' postings join."""
    cents = read_ann_index(spark, index_dir)
    store = read_ann_store(spark, store_dir)
    base = store.select(id_col, vec_col)
    b_tag = store.select(F.col(id_col).alias("neighbor_id"), "cluster")
    q_tag = _assign_centroid(
        queries, cents, id_col, vec_col, nprobe=nprobe
    ).withColumnRenamed(id_col, "query_id")
    small_q = _provably_small(queries)
    hint_q = F.broadcast if small_q else (lambda df: df)
    pairs = hint_q(q_tag).join(b_tag, "cluster").select("query_id", "neighbor_id")
    return _rank_topk(
        _pair_cosine(queries, base, pairs, id_col, vec_col, small_q=small_q), k
    )
