"""Incremental exact dedup: dedup a NEW batch against a persisted
fingerprint store, then fold the batch's per-fingerprint delta into it.

The production shape for continuous corpus growth (the reference ingests
arXiv batches daily — zara_hybrid_etl.py's idempotent download loop — but
dedups only within a run; this closes that gap Spark-first):

- the store holds only (fp, min_id, n_copies) delta rows — a few dozen
  bytes per distinct content, regardless of body size;
- an incoming batch NEVER joins against historical bodies: batch
  fingerprints anti-join the store on fp, so history participates as an
  equi-join build side of fingerprint rows only;
- copies inside the batch collapse to one representative (min id);
- every ingest writes ONE `tag=<batch_tag>` slot, so re-ingesting a
  batch under its own tag replaces its delta instead of double-counting.

The store is a DeltaStoreSpec family: slot, replay, concurrency and
compaction contract in operators/deltastore.py. exact_dedup_handle_batch
is the foreachBatch body the `exact_dedup` streaming op runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_poc_spark.operators.deltastore import (
    DeltaStoreSpec,
    read_delta_store,
    tag_slot,
    write_batch_slot,
)

# (fp, min_id, n_copies) deltas: MIN and SUM are associative
EXACT_DEDUP_STORE = DeltaStoreSpec(("fp",), (("min_id", "min"), ("n_copies", "sum")))


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
    *,
    batch_tag: str,
) -> DataFrame:
    """Dedup `batch` against the exact-fingerprint store, append the
    batch's per-fingerprint delta, and return the kept rows (one
    representative per NOVEL fingerprint, min `id_col`).

    Store layout is an append-only log of (fp, min_id, n_copies) deltas:
    no rewrite, reads aggregate (read_exact_dedup_store), so the ingest
    shuffles only fingerprint-sized rows, never bodies. Duplicate copies
    of already-stored content still COUNT (n_copies accumulates — the
    store total equals a from-scratch exact_dedup over everything ever
    ingested) but are not returned as kept rows.

    Idempotency: `batch_tag` slots the delta as tag=<batch_tag>, so
    re-ingesting the same batch replaces its own delta instead of
    double-counting, and the history read excludes that slot (a replay
    must not see its own prior delta as history — every fp would read as
    a store hit and the replay would lose the representatives the crashed
    attempt never flushed). exact_dedup_handle_batch passes the batch id
    as the tag. Slot, replay and concurrency contract: operators/
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
    # time, so a later action would count the batch's own slot as history)
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
    """foreachBatch body of continuous exact dedup (run it with
    deltastore.foreach_batch_writer): the batch id is the store tag
    (b<id>) and the kept sink's batch_id partition, so calling this
    twice with the same batch_id (at-least-once delivery) leaves store
    AND kept sink as one call does. Read kept via
    spark.read.parquet(kept_dir); batch_id is an inferred partition
    column."""
    kept = incremental_exact_dedup_ingest(
        batch_df.sparkSession, batch_df, store_dir,
        key_cols=key_cols, id_col=id_col, hash_mode=hash_mode,
        batch_tag=f"b{batch_id}",
    )
    write_batch_slot(kept, kept_dir, batch_id)


from etl_poc_spark._serde import register_by_value as _rbv  # noqa: E402

_rbv(__name__)
