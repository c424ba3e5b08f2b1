"""Incremental near-dup ingestion: dedup a NEW batch against a persisted
LSH band store, then fold the survivors into the store.

The production shape for continuous corpus growth (the reference ingests
arXiv batches daily — zara_hybrid_etl.py's idempotent download loop — but
dedups only within a run; this closes that gap Spark-first):

- the store holds only (band, band_val, id) rows — a few hundred bytes per
  document regardless of body size; band/band_val are DATA columns (r16:
  previously band was a write partition dir, which the compaction-aware
  recursive read cannot preserve — the probe is an equi-join on the full
  (band, band_val) key, so directory pruning never fired anyway);
- an incoming batch NEVER joins against historical bodies: batch bands
  semi/anti-join the store on (band, band_val), so history participates
  as an equi-join build side of signature rows only;
- batch-internal near-dups collapse via the existing pair search +
  connected components (representative = min id);
- surviving documents append their bands to the store — the loop is
  idempotent at the band level: re-ingesting an already-stored batch drops
  every row as a store hit.

LSH decision rule: sharing >= 1 full band is the near-dup verdict (the
standard banding guarantee — for docs above the jaccard threshold the
miss probability is (1 - s^r)^b). Body-level jaccard verification against
HISTORY is intentionally not offered: it would require retaining shingle
sets for the whole corpus, which is exactly what the band store avoids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.operators.dedup import (
    connected_components,
    lsh_band_signatures,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_docs,
)
from etl_poc_spark.operators.deltastore import (
    DeltaStoreSpec,
    batch_slot,
    foreach_batch_writer,
    ingest_to_sink,
    read_delta_store,
    tag_slot,
    write_batch_slot,
)

# (band, band_val, id) postings are facts without counts: the SET fold,
# DISTINCT over the whole row (every reader is a semi-join, for which
# duplicates were already invisible)
NEAR_DUP_STORE = DeltaStoreSpec()
# (fp, min_id, n_copies) deltas: MIN and SUM are associative
EXACT_DEDUP_STORE = DeltaStoreSpec(("fp",), (("min_id", "min"), ("n_copies", "sum")))


def batch_band_signatures(
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    rows_per_band: int = 2,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(id, band, band_val) LSH band signatures for a document batch."""
    sh = shingle_docs(batch, id_col, text_col)
    sigs = minhash_signatures(sh, id_col, n_hashes=n_hashes, hash_mode=hash_mode)
    return lsh_band_signatures(sigs, id_col, rows_per_band).select(
        F.col(id_col), "band", F.col("band_val").cast("string").alias("band_val")
    )


def incremental_near_dup_ingest(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = 8,
    rows_per_band: int = 2,
    hash_mode: str = "xxhash64",
    max_bucket_size: int | None = 200,
    batch_id: int | None = None,
) -> DataFrame:
    """Ingest `batch` against the band store at `store_dir`; returns the
    kept (novel, batch-deduped) rows of `batch` and appends their bands to
    the store. See module docstring for the decision rule and scale shape.

    `batch_id` (the streaming seam) slots the bands as `batch_id=<n>` and
    excludes that slot from the history read — the replay contract of
    operators/deltastore.py."""
    bands = batch_band_signatures(
        batch, id_col, text_col, n_hashes, rows_per_band, hash_mode
    )
    slot = batch_slot(batch_id)
    store = NEAR_DUP_STORE.read(spark, store_dir, exclude_slot=slot)
    if store is not None:
        # ids sharing >= 1 full band with history are near-dups of history
        hit_ids = (
            bands.join(store, ["band", "band_val"], "left_semi")
            .select(id_col)
            .distinct()
        )
        batch = batch.join(hit_ids, id_col, "left_anti")
        bands = bands.join(hit_ids, id_col, "left_anti")
    # collapse near-dup groups WITHIN the surviving batch: keep min id
    sh = shingle_docs(batch, id_col, text_col)
    sigs = minhash_signatures(sh, id_col, n_hashes=n_hashes, hash_mode=hash_mode)
    pairs = lsh_candidate_pairs(
        sigs, id_col, rows_per_band, max_bucket_size=max_bucket_size
    )
    comps = connected_components(pairs)
    drop_ids = (
        comps.filter(F.col("id") != F.col("component"))
        .select(F.col("id").alias(id_col))
    )
    # MATERIALIZE before appending to the store: the kept/kept_bands plans
    # reference the store parquet through hit_ids, and Spark lists parquet
    # files at ACTION time — without this, an action on the returned frame
    # after the append would see the batch's own bands in the store and
    # drop every row as a self-hit
    kept = batch.join(drop_ids, id_col, "left_anti").localCheckpoint(eager=True)
    kept_bands = bands.join(drop_ids, id_col, "left_anti").localCheckpoint(eager=True)
    # documents too short to shingle produce no bands: they can never be
    # caught by the store filter, so they pass through (documented; exact
    # dedup upstream is the right guard for tiny docs)
    NEAR_DUP_STORE.append(kept_bands, store_dir, slot)
    return kept


compact_near_dup_store = NEAR_DUP_STORE.compact


def streaming_near_dup_ingest(
    stream: DataFrame,
    store_dir: str,
    kept_dir: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    **ingest_kwargs,
):
    """Continuous ingestion: each micro-batch runs the same
    incremental_near_dup_ingest against the shared band store and writes
    its survivors as the batch's `batch_id=<n>` partition of `kept_dir`.
    Returns a configured DataStreamWriter — call .trigger(...).start() to
    run. Store and sink are both keyed by the batch id, so an
    at-least-once replay is effectively-once (operators/deltastore.py)."""
    return foreach_batch_writer(
        stream, checkpoint_dir, ingest_to_sink,
        ingest=incremental_near_dup_ingest, store_dir=store_dir,
        kept_dir=kept_dir, id_col=id_col, text_col=text_col, **ingest_kwargs,
    )


# --- EXACT dedup: the incremental + streaming twins (near-dup has all
# three above; this completes the triple for the exact-fingerprint path) ---


def exact_fingerprints(
    batch: DataFrame,
    key_cols: list[str],
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """(fp, id) content fingerprints: one hash over the concatenated key
    columns (NULL-safe via a reserved separator). md5 mode is the
    oracle-portable string path; xxhash64 the production 64-bit path."""
    sep = F.lit("\x1f")
    parts: list[F.Column] = []
    for c in key_cols:
        parts += [F.coalesce(F.col(c).cast("string"), F.lit("\x00")), sep]
    salted = F.concat(*parts[:-1]) if len(parts) > 1 else parts[0]
    if hash_mode == "md5":
        fp = F.md5(salted)
    elif hash_mode == "xxhash64":
        fp = F.xxhash64(salted).cast("string")
    else:
        raise ValueError(f"unknown hash_mode {hash_mode!r}")
    return batch.select(fp.alias("fp"), F.col(id_col).alias("id"))


def incremental_exact_dedup_ingest(
    spark: SparkSession,
    batch: DataFrame,
    store_dir: str,
    key_cols: list[str],
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
    batch_tag: str | None = None,
) -> DataFrame:
    """Dedup `batch` against the exact-fingerprint store, append the
    batch's per-fingerprint delta, and return the kept rows (one
    representative per NOVEL fingerprint, min `id_col`).

    Store layout is an append-only log of (fp, min_id, n_copies) deltas —
    the same log-structured discipline as the line-dedup segment store:
    no rewrite, reads aggregate (read_exact_dedup_store), so the ingest
    shuffles only fingerprint-sized rows, never bodies. Duplicate copies
    of already-stored content still COUNT (n_copies accumulates — the
    store total equals a from-scratch exact_dedup over everything ever
    ingested) but are not returned as kept rows.

    Idempotency: a stable `batch_tag` slots the delta as tag=<batch_tag>,
    so re-ingesting the same batch replaces its own delta instead of
    double-counting, and the history read excludes that slot (a replay
    must not see its own prior delta as history — every fp would read as
    a store hit and the replay would lose the representatives the crashed
    attempt never flushed). The streaming twin passes the batch id as
    the tag. Slot, replay and concurrency contract: operators/
    deltastore.py."""
    fps = exact_fingerprints(batch, key_cols, id_col, hash_mode)
    delta = fps.groupBy("fp").agg(
        F.min("id").alias("min_id"), F.count(F.lit(1)).alias("n_copies")
    )
    slot = tag_slot(batch_tag)
    store = EXACT_DEDUP_STORE.read(spark, store_dir, exclude_slot=slot)
    novel = (
        delta if store is None
        else delta.join(store.select("fp").distinct(), "fp", "left_anti")
    )
    # representatives materialize BEFORE the store append (the plan reads
    # the store through the anti-join; parquet listing happens at action
    # time — same seam as incremental_near_dup_ingest)
    reps = novel.select("fp", F.col("min_id").alias("id"))
    kept_ids = fps.join(reps, ["fp", "id"], "left_semi").select(
        F.col("id").alias(id_col)
    )
    kept = batch.join(kept_ids, id_col, "left_semi").localCheckpoint(eager=True)
    EXACT_DEDUP_STORE.append(delta, store_dir, slot)
    return kept


def read_exact_dedup_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """Fold the delta log to the current (fp, min_id, n_copies) state —
    equal to operators.dedup.exact_dedup over the union of every batch
    ever ingested (mergeable: MIN and SUM are associative). Compaction-
    aware: after compact_exact_dedup_store the fold is bit-equal while
    the listing cost drops to O(tail)."""
    return EXACT_DEDUP_STORE.fold(read_delta_store(spark, store_dir))


compact_exact_dedup_store = EXACT_DEDUP_STORE.compact


def streaming_exact_dedup_ingest(
    stream: DataFrame,
    store_dir: str,
    kept_dir: str,
    checkpoint_dir: str,
    key_cols: list[str],
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
):
    """Continuous exact dedup: each micro-batch runs
    exact_dedup_handle_batch against the shared fingerprint store.
    Returns a configured DataStreamWriter — call .trigger(...).start().
    Read kept via spark.read.parquet(kept_dir); batch_id is an inferred
    partition column."""
    return foreach_batch_writer(
        stream, checkpoint_dir, exact_dedup_handle_batch,
        store_dir=store_dir, kept_dir=kept_dir, key_cols=key_cols,
        id_col=id_col, hash_mode=hash_mode,
    )


def exact_dedup_handle_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    store_dir: str,
    kept_dir: str,
    key_cols: list[str],
    id_col: str = "doc_id",
    hash_mode: str = "xxhash64",
) -> None:
    """One micro-batch of streaming_exact_dedup_ingest: the batch id is
    the store tag (b<id>) and the kept sink's batch_id partition, so
    calling this twice with the same batch_id (at-least-once delivery)
    leaves store AND kept sink as one call does."""
    kept = incremental_exact_dedup_ingest(
        batch_df.sparkSession, batch_df, store_dir,
        key_cols=key_cols, id_col=id_col, hash_mode=hash_mode,
        batch_tag=f"b{batch_id}",
    )
    write_batch_slot(kept, kept_dir, batch_id)


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
